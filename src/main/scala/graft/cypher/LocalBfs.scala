package graft.cypher

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import CypherEngine.{CypherException, UniqueWalkMaxPathsKey}

/** Single-task local BFS / walk-enumeration kernels: the small-graph
  * regime of the shortestPath family and of open-bound var-length walks.
  * Each question has two regimes, chosen from the measured edge count:
  * one kernel here, run inside ONE task, and one distributed loop
  * ([[graft.graph.GraphAnalytics.bfsFrames]], and the per-level loop of
  * [[InterpPatterns]] `uniqueWalkClosure`). The distributed loops are the
  * reference the kernels must match row for row (LocalBfsFastSpec). The
  * kernels live on this OBJECT, not the Interp traits: their
  * mapPartitions closures must stay free of any reference to the
  * non-serializable interpreter instance (an anonymous class nested in
  * a trait method captures the trait as its outer pointer). Gate policy
  * (edge caps, work budgets, conf keys) stays on [[CypherEngine]] and
  * [[InterpPaths]]; this file is only the kernels and their orderings.
  */
private[cypher] object LocalBfs {

  /** Materialized-row budget inside [[localDist]]'s keepAll branch: the
    * edge cap and the seeds×edges work budget bound the TRAVERSAL, but
    * allShortestPaths multiplicity — the number of distinct
    * minimum-length (path, type-sequence) pairs — is unbounded by either
    * (parallel edge types compound per hop), and those rows accumulate
    * in ONE task's heap. Over budget the kernel throws
    * [[LocalPathsOverBudget]]; the caller catches it (cause-chain scan —
    * Spark wraps task failures) and re-runs the SAME BFS on the
    * distributed, spillable [[graft.graph.GraphAnalytics.bfsFrames]] loop.
    */
  private[cypher] val LocalKeepAllRowBudget: Long = 2L * 1000 * 1000
  final class LocalPathsOverBudget(msg: String) extends RuntimeException(msg)
  @annotation.tailrec
  private[cypher] def isLocalPathsOverBudget(t: Throwable): Boolean = t match {
    case null => false
    case _: LocalPathsOverBudget => true
    case _ =>
      // Spark may surface a remote task failure as a flattened message
      // instead of a typed cause (e.g. after executor-side serialization)
      if (t.getMessage != null && t.getMessage.contains("LocalPathsOverBudget"))
        true
      else isLocalPathsOverBudget(t.getCause)
  }

  // ------------------------------------------------------------------
  // Ingest. The kernels' measured cost at sf0.1 was not the BFS: ~0.9 s
  // of external Row conversion plus ~1.1 s of Row-keyed HashMap probes
  // per call on the q105 edge union (~1.5 M rows through
  // `coalesce(1).rdd`), vs ~0.2 s for the raw columnar scan. So the
  // kernels read InternalRows straight off the physical plan
  // (`queryExecution.toRdd`: no per-row external conversion, no nested Row
  // allocation for struct keys) and intern every node key into a dense
  // Int id ([[KeyIntern]]); the BFS then runs on Int ids, and
  // lexicographic min-path pruning compares an order-preserving RANK
  // array (ids sorted once under Spark's ordering for the key type).

  /** Growable primitive int buffer (adjacency lists). */
  private[cypher] final class IntVec {
    private var a = new Array[Int](8)
    private var n0 = 0
    def +=(v: Int): Unit = {
      if (n0 == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n0) = v
      n0 += 1
    }
    def apply(i: Int): Int = a(i)
    def length: Int = n0
  }

  /** Open-addressed Long → Int map (linear probing, power-of-two
    * capacity). `getOrElseInsert` returns the existing id, or -1 after
    * inserting the proposed one — the caller's signal to append the
    * matching external value.
    */
  private[cypher] final class LongIntMap(initialCap: Int = 1 << 12) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16))
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var ids = {
      val a = new Array[Int](cap)
      java.util.Arrays.fill(a, -1)
      a
    }
    private var n = 0
    private def hash(k: Long): Int = {
      val h = k * -7046029254386353131L
      ((h ^ (h >>> 32)) & 0x7fffffff).toInt
    }
    private def grow(): Unit = {
      val ok = keys
      val oi = ids
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap)
      ids = new Array[Int](cap)
      java.util.Arrays.fill(ids, -1)
      var i = 0
      while (i < ok.length) {
        if (oi(i) != -1) {
          var j = hash(ok(i)) & mask
          while (ids(j) != -1) j = (j + 1) & mask
          keys(j) = ok(i)
          ids(j) = oi(i)
        }
        i += 1
      }
    }
    def getOrElseInsert(k: Long, id: Int): Int = {
      var i = hash(k) & mask
      while (true) {
        val cur = ids(i)
        if (cur == -1) {
          keys(i) = k
          ids(i) = id
          n += 1
          if (n.toLong * 10 > cap.toLong * 7) grow()
          return -1
        }
        if (keys(i) == k) return cur
        i = (i + 1) & mask
      }
      0 // unreachable
    }
  }

  /** Interns non-null values read straight off InternalRows into dense
    * Int ids. `key(id)` recovers the EXTERNAL value (what `Row.get`
    * returns for the key type), built lazily, only for ids that reach the
    * output. `ranks` orders the interned ids the way Spark orders their
    * values inside `min(__path)` (integrals numerically, strings as
    * unsigned UTF-8 bytes via `UTF8String.compareTo`, structs field-wise
    * nulls-first), so the BFS min-path prune is a pair of int reads.
    */
  private[cypher] sealed trait KeyIntern {
    def intern(r: SpecializedGetters, ordinal: Int): Int
    def key(id: Int): Any
    def size: Int
    def ranks: Array[Int]
    protected final def rankOf(n: Int, cmp: (Int, Int) => Int): Array[Int] = {
      val order = Array.tabulate[Integer](n)(Integer.valueOf)
      java.util.Arrays.sort(order,
        (x: Integer, y: Integer) => cmp(x.intValue, y.intValue))
      val rk = new Array[Int](n)
      var i = 0
      while (i < n) { rk(order(i)) = i; i += 1 }
      rk
    }
  }

  private final class PrimIntern(get: (SpecializedGetters, Int) => Long,
      box: Long => Any) extends KeyIntern {
    private val map = new LongIntMap
    private var raw = new Array[Long](1 << 10)
    private var n = 0
    def intern(r: SpecializedGetters, ordinal: Int): Int = {
      val k = get(r, ordinal)
      val ex = map.getOrElseInsert(k, n)
      if (ex == -1) {
        if (n == raw.length) raw = java.util.Arrays.copyOf(raw, n << 1)
        raw(n) = k
        n += 1
        n - 1
      } else ex
    }
    def key(id: Int): Any = box(raw(id))
    def size: Int = n
    def ranks: Array[Int] =
      rankOf(n, (x, y) => java.lang.Long.compare(raw(x), raw(y)))
  }

  private final class StringIntern extends KeyIntern {
    private val map = new java.util.HashMap[UTF8String, Integer]
    private val raw = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    private val ext = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(r: SpecializedGetters, ordinal: Int): Int = {
      val u = r.getUTF8String(ordinal)
      val ex = map.get(u)
      if (ex != null) ex.intValue
      else {
        // clone before storing: `u` may view a buffer the scan reuses
        val id = raw.length
        val c = u.clone()
        map.put(c, Integer.valueOf(id))
        raw += c
        ext += null
        id
      }
    }
    def key(id: Int): Any = {
      var s = ext(id)
      if (s == null) { s = raw(id).toString; ext(id) = s }
      s
    }
    def size: Int = raw.length
    // UTF8String.compareTo IS Spark's binary string order (unsigned
    // UTF-8 bytes, which differs from java.lang.String's UTF-16 order
    // beyond the BMP)
    def ranks: Array[Int] =
      rankOf(raw.length, (x, y) => raw(x).compareTo(raw(y)))
  }

  /** Two-field struct keys — the hetero walks' `(__l, __k)` shape: both
    * field ids (+1, so null packs as 0) packed into one Long and
    * interned again. External value is a plain external Row, as
    * `Row.get` returns it; ordering is field-wise with nulls first, via
    * the field interners' ranks.
    */
  private final class Struct2Intern(f0: KeyIntern, f1: KeyIntern)
      extends KeyIntern {
    private val map = new LongIntMap
    private val f0ids = new IntVec
    private val f1ids = new IntVec
    private val ext = scala.collection.mutable.ArrayBuffer.empty[Row]
    def intern(r: SpecializedGetters, ordinal: Int): Int = {
      val s = r.getStruct(ordinal, 2)
      val a = if (s.isNullAt(0)) -1 else f0.intern(s, 0)
      val b = if (s.isNullAt(1)) -1 else f1.intern(s, 1)
      val packed = ((a + 1).toLong << 32) | ((b + 1).toLong & 0xffffffffL)
      val ex = map.getOrElseInsert(packed, f0ids.length)
      if (ex == -1) {
        f0ids += a
        f1ids += b
        ext += null
        f0ids.length - 1
      } else ex
    }
    def key(id: Int): Any = {
      var row = ext(id)
      if (row == null) {
        val a = f0ids(id)
        val b = f1ids(id)
        row = Row(if (a == -1) null else f0.key(a),
          if (b == -1) null else f1.key(b))
        ext(id) = row
      }
      row
    }
    def size: Int = f0ids.length
    def ranks: Array[Int] = {
      val r0 = f0.ranks
      val r1 = f1.ranks
      rankOf(f0ids.length, (x, y) => {
        val a0 = f0ids(x)
        val b0 = f0ids(y)
        // nulls (-1) first: rank -1 sorts below every real rank >= 0
        val c = java.lang.Integer.compare(
          if (a0 == -1) -1 else r0(a0), if (b0 == -1) -1 else r0(b0))
        if (c != 0) c
        else {
          val a1 = f1ids(x)
          val b1 = f1ids(y)
          java.lang.Integer.compare(
            if (a1 == -1) -1 else r1(a1), if (b1 == -1) -1 else r1(b1))
        }
      })
    }
  }

  /** Every other key type: the Catalyst value itself, copied (it may
    * view a buffer the scan reuses) and interned in a hash map. A float
    * or double zero interns as +0.0, because Spark's join and grouping
    * keys equate -0.0 with 0.0 (boxed `equals` already equates every
    * NaN, as those keys do). Ranks use Spark's own ordering for `dt`.
    */
  private final class AnyIntern(dt: DataType) extends KeyIntern {
    private val map = new java.util.HashMap[Any, Integer]
    private val raw = scala.collection.mutable.ArrayBuffer.empty[Any]
    private lazy val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def intern(r: SpecializedGetters, ordinal: Int): Int = {
      val v = InternalRow.copyValue(r.get(ordinal, dt)) match {
        case d: java.lang.Double if d.doubleValue == 0.0 => 0.0d
        case f: java.lang.Float if f.floatValue == 0.0f => 0.0f
        case x => x
      }
      val ex = map.get(v)
      if (ex != null) ex.intValue
      else {
        val id = raw.length
        map.put(v, Integer.valueOf(id))
        raw += v
        id
      }
    }
    def key(id: Int): Any = toScala(raw(id))
    def size: Int = raw.length
    def ranks: Array[Int] = {
      val ord = TypeUtils.getInterpretedOrdering(dt)
      rankOf(raw.length, (x, y) => ord.compare(raw(x), raw(y)))
    }
  }

  private[cypher] def mkIntern(dt: DataType): KeyIntern = dt match {
    case ByteType =>
      new PrimIntern((r, i) => r.getByte(i).toLong,
        k => java.lang.Byte.valueOf(k.toByte))
    case ShortType =>
      new PrimIntern((r, i) => r.getShort(i).toLong,
        k => java.lang.Short.valueOf(k.toShort))
    case IntegerType =>
      new PrimIntern((r, i) => r.getInt(i).toLong,
        k => java.lang.Integer.valueOf(k.toInt))
    case LongType =>
      new PrimIntern((r, i) => r.getLong(i), java.lang.Long.valueOf)
    case StringType => new StringIntern
    case st: StructType if st.fields.length == 2 =>
      new Struct2Intern(mkIntern(st.fields(0).dataType),
        mkIntern(st.fields(1).dataType))
    case other => new AnyIntern(other)
  }

  /** Key types [[localDist]] may serve: exactly the shapes the
    * shortestPath planner builds whose grouping and ordering the kernel
    * reproduces bit for bit — integral types, strings, and the
    * hetero tag struct `(__l: string, __k: integral|string)`. Floating,
    * date and decimal keys stay on `GraphAnalytics.bfsFrames`: NaN and -0.0 grouping
    * there is Spark's, and the kernel has not been held to it.
    */
  private[cypher] def localDistKey(dt: DataType): Boolean = {
    def scalar(d: DataType) = d match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    dt match {
      case StructType(Array(l, k)) => l.dataType == StringType && scalar(k.dataType)
      case d => scalar(d)
    }
  }

  /** Single-task relationship-unique path enumeration — the local
    * strategy behind [[uniqueWalkClosure]]'s adaptive switch, mirroring
    * [[localDist]]: edges and seeds arrive in one task via a tagged
    * union (never through the driver), and node keys of any type intern
    * into Int ids (the walk needs no key ordering, only equality). Per-path
    * visited-edge sets are immutable cons lists over edge INDICES —
    * structural sharing makes the per-path memory one cell, and the
    * linear `contains` scan is bounded by path length. The budget throw
    * inside the task surfaces through the caller's unwrap as the standard
    * loud budget error. `e` columns: (__cs, __cd, __eid); a `None` seed
    * set means every edge source starts a path (unanchored pattern).
    */
  def localUniqueWalk(e: DataFrame, seeds: Option[DataFrame],
      lo: Int, maxPaths: Long): DataFrame = {
    val spark = e.sparkSession
    val seedAll = seeds.isEmpty
    val kt = e.schema("__cs").dataType
    val base = e.select(lit(0).as("__t"), col("__cs"), col("__cd"))
    val tagged = seeds match {
      case Some(s) => base.unionByName(
        s.select(lit(1).as("__t"), col("__seed").as("__cs"), col("__seed").as("__cd")))
      case None => base
    }
    val loV = lo
    val budget = maxPaths
    val ktL = kt
    val rows = tagged.queryExecution.toRdd.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val nodes = mkIntern(ktL)
      val dsts = new IntVec // dst node id per edge index
      val adj = mutable.ArrayBuffer.empty[IntVec] // src id -> edge indices
      val seedOrder = new IntVec
      val seedSeen = new java.util.BitSet
      def at(b: mutable.ArrayBuffer[IntVec], i: Int): IntVec = {
        while (b.length <= i) b += null
        var v = b(i)
        if (v == null) { v = new IntVec; b(i) = v }
        v
      }
      it.foreach { r =>
        if (r.getInt(0) == 0) {
          if (!r.isNullAt(1) && !r.isNullAt(2)) {
            val s = nodes.intern(r, 1)
            val d = nodes.intern(r, 2)
            val ei = dsts.length
            dsts += d
            at(adj, s) += ei
            if (seedAll && !seedSeen.get(s)) { seedSeen.set(s); seedOrder += s }
          }
        } else if (!r.isNullAt(1)) {
          val s = nodes.intern(r, 1)
          if (!seedSeen.get(s)) { seedSeen.set(s); seedOrder += s }
        }
      }
      def keyArr(id: Int): Any = nodes.key(id)
      def adjAt(i: Int): IntVec = if (i < adj.length) adj(i) else null
      def overBudget(paths: Long, len: Int): Nothing = throw CypherException(
        s"open-bound var-length enumerated more than $budget " +
          s"relationship-unique paths by length $len — bound the " +
          s"pattern (*1..n) or raise $UniqueWalkMaxPathsKey")
      val out = mutable.ArrayBuffer.empty[Row]
      var frontier = mutable.ArrayBuffer.empty[(Int, Int, List[Int])]
      var si = 0
      while (si < seedOrder.length) {
        val s = seedOrder(si)
        val es = adjAt(s)
        if (es != null) {
          var i = 0
          while (i < es.length) {
            val ei = es(i)
            frontier += ((s, dsts(ei), ei :: Nil))
            i += 1
          }
        }
        si += 1
      }
      var paths = frontier.length.toLong
      var len = 1
      if (paths > budget) overBudget(paths, len)
      if (loV <= 1) frontier.foreach { case (s, d, _) =>
        out += Row(keyArr(s), keyArr(d))
      }
      while (frontier.nonEmpty) {
        val next = mutable.ArrayBuffer.empty[(Int, Int, List[Int])]
        frontier.foreach { case (s, cur, seen) =>
          val es = adjAt(cur)
          if (es != null) {
            var i = 0
            while (i < es.length) {
              val ei = es(i)
              if (!seen.contains(ei)) next += ((s, dsts(ei), ei :: seen))
              i += 1
            }
          }
        }
        len += 1
        paths += next.length
        if (paths > budget) overBudget(paths, len)
        if (len >= loV) next.foreach { case (s, d, _) =>
          out += Row(keyArr(s), keyArr(d))
        }
        frontier = next
      }
      out.iterator
    }
    spark.createDataFrame(rows,
      StructType(Seq(e.schema("__cs"), e.schema("__cd"))))
  }

  /** Interned single-task image of one edge-union frame: node interner,
    * int adjacency (+ per-edge rel-type ids), and rank memos. Built once
    * per union by [[localDist]] and, in local mode, cached in
    * [[CsrCache]] keyed by the canonicalized edge plan: the union frame
    * itself is a per-JVM cached, immutable frame (`edgeUnionCache` in
    * [[CypherEngine]]; store mutation produces new frames and therefore
    * new plans), so its interned image is equally immutable, and every
    * later BFS-family query over the same union skips the serial scan and
    * intern (measured ~1.1 s per call at sf0.1 on the q105 union). Seed
    * interning extends `nodes`, so every use is synchronized on the
    * instance.
    */
  private[cypher] final class Csr(val nodes: KeyIntern) {
    val adj = scala.collection.mutable.ArrayBuffer.empty[IntVec]
    val adjR = scala.collection.mutable.ArrayBuffer.empty[IntVec]
    val relStrs = scala.collection.mutable.ArrayBuffer.empty[String]
    private var rankCache: Array[Int] = null
    private var rankCacheN = -1
    /** node ranks, recomputed only when seed interning grew the id set */
    def ranks: Array[Int] = {
      if (rankCacheN != nodes.size) {
        rankCache = nodes.ranks
        rankCacheN = nodes.size
      }
      rankCache
    }
    private var relRankCache: Array[Int] = null
    /** rel-type ranks under Spark's string order (unsigned UTF-8 bytes),
      * the order `min(struct(__path, __rels))` compares types in
      */
    def relRanks: Array[Int] = {
      if (relRankCache == null) {
        val utf8 = relStrs.map(UTF8String.fromString)
        val order = Array.tabulate[Integer](relStrs.length)(Integer.valueOf)
        java.util.Arrays.sort(order,
          (x: Integer, y: Integer) => utf8(x).compareTo(utf8(y)))
        val rk = new Array[Int](relStrs.length)
        var i = 0
        while (i < relStrs.length) { rk(order(i)) = i; i += 1 }
        relRankCache = rk
      }
      relRankCache
    }
  }

  /** Local-mode CSR cache. The driver assigns each canonicalized edge plan
    * a token (assigned, never hashed, so tokens cannot collide), and the
    * task resolves its token through the JVM-global [[csrs]] map: under
    * local[*] the driver is the executor JVM, while the task closure is
    * serialized, so a token is what crosses. On a cluster master the cache
    * is bypassed (token = None) and the kernel rebuilds the CSR per call.
    *
    * The plan-token map is an [[graft.util.EngineCache]] of [[MaxEntries]]
    * plans whose release drops the token's CSR. Recency is query traffic
    * ([[tokenFor]] runs once per kernel call), so the one-shot tokens of
    * per-query property-filtered unions age out first, and the big shared
    * unions' CSRs survive them.
    */
  private[cypher] object CsrCache {
    private val MaxEntries = 16
    private val csrs =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Csr]
    private val nextToken = new java.util.concurrent.atomic.AtomicLong
    private val planTokens =
      new graft.util.EngineCache[Any, java.lang.Long](MaxEntries, csrs.remove(_))
    def tokenFor(df: DataFrame): java.lang.Long =
      planTokens.getOrBuild(df.queryExecution.analyzed.canonicalized)(
        java.lang.Long.valueOf(nextToken.incrementAndGet()))
    def get(t: java.lang.Long): Option[Csr] = Option(csrs.get(t))
    def put(t: java.lang.Long, c: Csr): Unit = csrs.put(t, c)
  }

  /** Ingest one edge-union partition (columns __ds, __dd, __rt) into a
    * fresh [[Csr]]. Runs inside the single task.
    */
  private def buildCsr(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      kt: DataType, withRels: Boolean): Csr = {
    val csr = new Csr(mkIntern(kt))
    val relIdx = new java.util.HashMap[UTF8String, Integer]
    def at(b: scala.collection.mutable.ArrayBuffer[IntVec], i: Int): IntVec = {
      while (b.length <= i) b += null
      var v = b(i)
      if (v == null) { v = new IntVec; b(i) = v }
      v
    }
    it.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val s = csr.nodes.intern(r, 0)
        val d = csr.nodes.intern(r, 1)
        at(csr.adj, s) += d
        if (withRels) {
          val u = r.getUTF8String(2)
          var ri = relIdx.get(u)
          if (ri == null) {
            ri = Integer.valueOf(csr.relStrs.length)
            relIdx.put(u.clone(), ri)
            csr.relStrs += u.toString
          }
          at(csr.adjR, s) += ri.intValue
        }
      }
    }
    csr
  }

  /** Single-task multi-source BFS with path tracking — the local strategy
    * behind [[InterpPaths]]' local/distributed gate, for the key types
    * [[localDistKey]] admits. Edges and seeds arrive in one task (never
    * through the driver); the BFS is level-synchronous with
    * per-destination lexicographic-min path pruning, row for row the
    * distributed `GraphAnalytics.bfsFrames` loop's `groupBy(min(__path))` + anti-join
    * discipline (LocalBfsFastSpec pins it across every shape).
    */
  def localDist(e0: DataFrame, seeds: DataFrame, hi: Int,
      kt: DataType, keepAll: Boolean, withPath: Boolean,
      withRels: Boolean = false): DataFrame = {
    require(!withRels || withPath, "withRels requires withPath")
    val spark = e0.sparkSession
    val rtCol = if (withRels) col("__rt") else lit(null).cast(StringType).as("__rt")
    val edgesDf = e0.select(col("__ds"), col("__dd"), rtCol)
    val seedsDf = seeds.select(col("__seed"))
    val token =
      if (spark.sparkContext.isLocal) Some(CsrCache.tokenFor(edgesDf)) else None
    def onePart(r: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) =
      r.getNumPartitions match {
        case 1 => r
        case 0 => spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
        case _ => r.coalesce(1)
      }
    val eRdd = onePart(edgesDf.queryExecution.toRdd)
    val sRdd = onePart(seedsDf.queryExecution.toRdd)
    val keepAllBudget = LocalKeepAllRowBudget
    val ktL = kt
    val withRelsL = withRels
    val keepAllL = keepAll
    val withPathL = withPath
    val hiL = hi
    // seeds ride a SEPARATE 1-partition RDD zipped into the same task —
    // still never through the driver, and on a CSR cache hit the edge
    // iterator is never consumed, so the (lazy) union scan never runs
    val rows = eRdd.zipPartitions(sRdd) { (eit, sit) =>
      val csr = token.flatMap(CsrCache.get).getOrElse {
        val c = buildCsr(eit, ktL, withRelsL)
        token.foreach(CsrCache.put(_, c))
        c
      }
      runDistBfs(csr, sit, hiL, keepAllL, withPathL, withRelsL,
        keepAllBudget).iterator
    }
    spark.createDataFrame(rows, distSchema(kt, keepAll, withPath, withRels))
  }

  /** Seed interning + level-synchronous BFS over an interned [[Csr]].
    * Min-path pruning compares order-preserving RANKS (ids sorted once
    * under Spark's ordering for the key type). Three shapes: length-only
    * (no path bookkeeping), one lexicographic-min path per destination,
    * and every minimum-length path (keepAll). The path shapes carry the
    * per-hop type sequence beside the node path; without withRels it
    * stays empty, so it neither prunes nor dedups and the row drops it.
    * Synchronized on the CSR because seed interning can extend the node
    * id space; the output is materialized inside the lock.
    */
  private def runDistBfs(csr: Csr,
      sit: Iterator[org.apache.spark.sql.catalyst.InternalRow], hi: Int,
      keepAll: Boolean, withPath: Boolean, withRels: Boolean,
      keepAllBudget: Long): Array[Row] = csr.synchronized {
    import scala.collection.mutable
    type PathRels = (Vector[Int], Vector[Int])
    val maxLevel = hi.toLong
    var mat = 0L
    def countMat(added: Boolean): Unit = if (added) {
      mat += 1
      if (mat > keepAllBudget) throw new LocalPathsOverBudget(
        s"single-task allShortestPaths materialized more than " +
          s"$keepAllBudget (path, rels) rows")
    }
    val nodes = csr.nodes
    val adj = csr.adj
    val adjR = csr.adjR
    val relStrs = csr.relStrs
    val seedOrder = new IntVec
    val seedSeen = new java.util.BitSet
    sit.foreach { r =>
      if (!r.isNullAt(0)) {
        val s = nodes.intern(r, 0)
        if (!seedSeen.get(s)) { seedSeen.set(s); seedOrder += s }
      }
    }
    def keyArr(id: Int): Any = nodes.key(id)
    val rank: Array[Int] = if (withPath || keepAll) csr.ranks else null
    val relRank: Array[Int] = if (withRels) csr.relRanks else null
    def cmpSeq(a: Vector[Int], b: Vector[Int], rk: Array[Int]): Int = {
      var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val c = java.lang.Integer.compare(rk(a(i)), rk(b(i)))
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
    // min(struct(__path, __rels)): node path first, then the type sequence
    def less(a: PathRels, b: PathRels): Boolean = {
      val c = cmpSeq(a._1, b._1, rank)
      if (c != 0) c < 0 else cmpSeq(a._2, b._2, relRank) < 0
    }
    def adjAt(i: Int): IntVec = if (i < adj.length) adj(i) else null
    def relsAt(i: Int): IntVec = if (withRels) adjR(i) else null
    def hop(pr: PathRels, d: Int, rs: IntVec, i: Int): PathRels =
      (pr._1 :+ d, if (withRels) pr._2 :+ rs(i) else pr._2)
    def row(s: Int, d: Int, len: Long, pr: PathRels): Row =
      if (withRels) Row(keyArr(s), keyArr(d), len, pr._1.map(keyArr(_)),
        pr._2.map(relStrs(_)))
      else Row(keyArr(s), keyArr(d), len, pr._1.map(keyArr(_)))
    def seedIter: Iterator[Int] =
      (0 until seedOrder.length).iterator.map(seedOrder(_))
    seedIter.flatMap { s =>
      val start: PathRels = (Vector(s), Vector.empty)
      if (keepAll) {
        // every distinct minimum-length (path, types) pair per destination
        // (LinkedHashSet dedups duplicate parallel edges); the reached
        // check still runs per level, so no path revisits a node
        val reached = mutable.HashMap.empty[Int, (Long, Vector[PathRels])]
        var frontier = mutable.HashMap.empty[Int, mutable.LinkedHashSet[PathRels]]
        frontier(s) = mutable.LinkedHashSet(start)
        var level = 0L
        while (level < maxLevel && frontier.nonEmpty) {
          val next = mutable.HashMap.empty[Int, mutable.LinkedHashSet[PathRels]]
          frontier.foreach { case (d, ps) =>
            val ds = adjAt(d)
            if (ds != null) {
              val rs = relsAt(d)
              var i = 0
              while (i < ds.length) {
                val d2 = ds(i)
                if (!reached.contains(d2)) ps.foreach { pr =>
                  countMat(next.getOrElseUpdate(d2, mutable.LinkedHashSet.empty)
                    .add(hop(pr, d2, rs, i)))
                }
                i += 1
              }
            }
          }
          level += 1
          next.foreach { case (d, ps) => reached(d) = (level, ps.toVector) }
          frontier = next
        }
        reached.iterator.flatMap { case (d, (len, ps)) =>
          ps.iterator.map(row(s, d, len, _))
        }
      } else if (withPath) {
        // ONE lexicographic-min (path, types) pair per destination
        val reached = mutable.HashMap.empty[Int, (Long, PathRels)]
        var frontier = mutable.HashMap(s -> start)
        var level = 0L
        while (level < maxLevel && frontier.nonEmpty) {
          val next = mutable.HashMap.empty[Int, PathRels]
          frontier.foreach { case (d, pr) =>
            val ds = adjAt(d)
            if (ds != null) {
              val rs = relsAt(d)
              var i = 0
              while (i < ds.length) {
                val d2 = ds(i)
                if (!reached.contains(d2)) {
                  val pr2 = hop(pr, d2, rs, i)
                  if (next.get(d2).forall(less(pr2, _))) next(d2) = pr2
                }
                i += 1
              }
            }
          }
          level += 1
          next.foreach { case (d, pr) => reached(d) = (level, pr) }
          frontier = next
        }
        reached.iterator.map { case (d, (len, pr)) => row(s, d, len, pr) }
      } else {
        // length-only: plain key-set BFS, no path bookkeeping at all
        val reached = mutable.HashMap.empty[Int, Long]
        var frontier = mutable.LinkedHashSet(s)
        var level = 0L
        while (level < maxLevel && frontier.nonEmpty) {
          val next = mutable.LinkedHashSet.empty[Int]
          frontier.foreach { d =>
            val ds = adjAt(d)
            if (ds != null) {
              var i = 0
              while (i < ds.length) {
                val d2 = ds(i)
                if (!reached.contains(d2)) next += d2
                i += 1
              }
            }
          }
          level += 1
          next.foreach(d => reached(d) = level)
          frontier = next
        }
        reached.iterator.map { case (d, len) => Row(keyArr(s), keyArr(d), len) }
      }
    }.toArray
  }

  private def distSchema(kt: DataType, keepAll: Boolean, withPath: Boolean,
      withRels: Boolean): StructType = {
    val base = Seq(
      StructField("__ds", kt), StructField("__dd", kt),
      StructField("__len", LongType, nullable = false))
    val withP =
      if (withPath || keepAll) base :+ StructField("__path", ArrayType(kt))
      else base
    StructType(
      if (withRels) withP :+ StructField("__rels", ArrayType(StringType))
      else withP)
  }
}
