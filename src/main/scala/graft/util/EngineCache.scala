package graft.util

import scala.util.Try

/** The one policy behind the engine's JVM-global caches (built stores,
  * node-key statistics, shortestPath edge unions, interned CSRs, the
  * bipartite analytics graph): the reference's upload once, inject once,
  * query many, within one JVM.
  *
  *  - '''LRU by entry count.''' Each site bounds its entries with a code
  *    constant. Inserting past the bound evicts the least recently used
  *    entry whose build has finished and releases exactly that entry
  *    (unpersist its frames, drop its CSR), never the whole cache.
  *  - '''Single-flight builds outside the map lock.''' The map holds one
  *    holder per key, and the build runs when that holder is forced, after
  *    the map's lock is released: concurrent callers of one key wait for
  *    the one build and share its value, callers of other keys never wait.
  *  - '''A failed build leaves nothing behind.''' Its entry is dropped,
  *    every waiter sees the same exception, and the next call builds again.
  *
  * `release` runs outside the map lock, on the thread that evicted or
  * removed the entry. State that stays out of this class:
  * `Compiler.lazyMutated` is a weak mark set, not a cache (evicting a mark
  * would replay the write history), and `GraphStore.edgeCounts` and the
  * interpreter's BFS memo live on one store or one compilation, not in the
  * JVM.
  */
final class EngineCache[K, V](capacity: Int, release: V => Unit = (_: V) => ()) {

  /** One key's single-flight build: the first [[get]] runs `build`, the
    * rest wait for and share its result, success or failure.
    */
  private final class Holder(private[this] var build: () => V) {
    @volatile private[this] var result: Try[V] = _
    def get: V = {
      if (result == null) synchronized {
        if (result == null) { result = Try(build()); build = null }
      }
      result.get
    }
    def built: Option[V] = Option(result).flatMap(_.toOption)
  }

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[K, Holder](16, 0.75f, true)

  /** The value under `key`, running `build` once if no entry holds it. */
  def getOrBuild(key: K)(build: => V): V = {
    val (h, evicted) = entries.synchronized {
      var h = entries.get(key)
      if (h == null) {
        h = new Holder(() => build)
        entries.put(key, h)
      }
      (h, evictOverCapacity())
    }
    evicted.foreach(release)
    try h.get
    catch { case t: Throwable =>
      entries.synchronized { if (entries.get(key) eq h) entries.remove(key) }
      throw t
    }
  }

  /** Drop the entry under `key` and release its value, waiting for its
    * build if one is running. No-op when absent.
    */
  def remove(key: K): Unit = {
    val h = entries.synchronized(entries.remove(key))
    if (h != null) Try(h.get).foreach(release)
  }

  // an entry whose build is still running is skipped: its builder is about
  // to hand the value out, and nobody else would release it
  private def evictOverCapacity(): List[V] = {
    var out = List.empty[V]
    val it = entries.values.iterator
    while (entries.size > capacity && it.hasNext)
      it.next().built.foreach { v => it.remove(); out ::= v }
    out
  }
}

/** Frame-identity cache key: reference equality on `frames`, plus a tag.
  * A write returns a new store over new frames, so a key built from a
  * mutated store's frames can never hit an entry derived from the old ones,
  * and two equal but distinct frames never share an entry. The key holds
  * its frames, so an entry keeps them from GC until it is evicted.
  */
final class FrameKey(val tag: String, val frames: Seq[AnyRef]) {
  override val hashCode: Int =
    tag.hashCode * 31 + frames.map(System.identityHashCode).hashCode
  override def equals(o: Any): Boolean = o match {
    case k: FrameKey => k.tag == tag && k.frames.sizeIs == frames.size &&
      k.frames.lazyZip(frames).forall(_ eq _)
    case _ => false
  }
}
