package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** Query surface over the LLM-data-pipeline operators (SURVEY.md §2.10;
  * BASELINE.json north_star): MinHash/SimHash near-dup, embedding ANN,
  * language-ID/quality/fingerprint text analysis, multimodal feature
  * plumbing.
  *
  * These are engine-side sketches (xxhash-based signatures, float cosines) —
  * not expressible in DuckDB SQL, so the driver records rows-only checks
  * (SURVEY.md §2.12 "bench-only" family); exact-arithmetic behavior is
  * pinned by ScalaTest specs with planted duplicates instead.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------ Q47 MinHash-LSH near-dup
  /** MinHash+LSH candidate pairs verified by exact shingle Jaccard —
    * per-band bucket stats + verified-pair accounting in one summary row.
    */
  /** Bounded sample for the LSH-family ground truth (r14 tolerance
    * oracles): exact all-pairs comparison over the first `SampleDocs`
    * doc ids — the WHOLE corpus at sf0.01, a fixed-size sample at larger
    * SFs, so both the engine side and the DuckDB oracle stay O(sample²)
    * at any scale while the candidate path itself runs the full corpus.
    */
  private val SampleDocs = 500

  /** Exact shingle-Jaccard ≥ `t` pairs among the bounded sample — the
    * engine side of the ground truth the DuckDB oracle recomputes from
    * the raw text (hash-set Jaccard == string-set Jaccard absent 64-bit
    * hash collisions).
    */
  /** All sample pairs SCORED with their exact Jaccard (`__j`), computed
    * in ONE shingle pass + ONE self-join — r18 optimization round: q47
    * needs the truth at TWO thresholds and used to run this whole
    * pipeline once per threshold; both thresholds are filters over the
    * same scored frame (identical values — the j≥t sets are literally
    * `filter(__j >= t)` of one computation, so restructuring cannot move
    * a pair across a threshold).
    */
  /** `minJ`: the LOWEST threshold any consumer filters the scores at —
    * pairs that provably cannot reach it are pruned BEFORE the exact
    * intersection (r19 optimization round, guide §1.2 "don't compute
    * things you throw away"): j = |a∩b| / |a∪b| ≤ min(|a|,|b|) /
    * max(|a|,|b|) (the intersection is at most the smaller set, the union
    * at least the larger), so a pair with min < max·minJ can never score
    * ≥ minJ — the size test is a pure column comparison inside the join
    * condition, while the intersection hashes both shingle arrays.
    * Surviving pairs' scores are computed EXACTLY as before except
    * |union| comes from the set identity |a|+|b|−|a∩b| instead of a
    * second array_union hash pass (collect_set guarantees sets), halving
    * the per-pair array work. Identical filtered sets at every
    * threshold ≥ minJ by construction.
    */
  private def jaccardScored(docs: DataFrame, minJ: Double): DataFrame = {
    val sh = Dedup.shingleHashes(docs.filter(col("doc_id") < SampleDocs),
        "doc_id", "text")
      .groupBy("id").agg(collect_set(col("h")).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType)
    sh.select(col("id").as("id_a"), col("sh").as("sa"), size(col("sh")).as("na"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb"), size(col("sh")).as("nb")),
        col("id_a") < col("id_b") &&
          least(col("na"), col("nb")).cast(DoubleType) >=
            greatest(col("na"), col("nb")).cast(DoubleType) * minJ)
      .select(col("id_a"), col("id_b"),
        (inter / (col("na") + col("nb") - inter)).as("__j"))
      // materialize HERE, before any consumer's threshold filter: pushed
      // down, that filter fuses into the join condition AHEAD of the
      // cheap predicates (measured in plans/r19/q48_*_before.txt: the
      // intersect-based score is the FIRST conjunct, evaluated for every
      // ordered pair before id_a<id_b even runs), undoing the pruning.
      // The checkpoint action evaluates the join with the written
      // cheap-first condition and scores each surviving pair once in the
      // projection (interleaved A/B: pair stage 1.14 → 0.40 s at sf0.1);
      // it is bounded at ≤ sample²/2 scalar rows, and q47 reads it at two
      // thresholds anyway.
      .localCheckpoint(true)
  }

  private def jaccardTruth(docs: DataFrame, t: Double): DataFrame =
    jaccardScored(docs, t).filter(col("__j") >= t).select("id_a", "id_b")

  /** MinHash+LSH candidates measured against the exact sample truth
    * (r14; closes the r13 verdict's directive #6 — this row moves from
    * `no_oracle` to a tolerance oracle): the DuckDB oracle recomputes
    * `truth_pairs_*` exactly from the raw text, and the recall booleans
    * assert the banded blocking surfaced at least the declared floor of
    * them (0.6 at j≥0.5; 0.9 at j≥0.8). The band plan is the
    * scale-derived [[Dedup.bandPlan]] (r17): r=4/b=16 through sf100
    * (byte-identical to the r14-era plan at every measured SF — the
    * sf100 A/B measured a wider plan strictly worse there), one
    * rows-per-band step per 8× corpus past 16.8M docs, with bands
    * doubling so detection at j=0.5 stays ≥ 1−1/e ≈ 0.632 at EVERY
    * scale — the floors hold by construction, not per-SF tuning.
    */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // materialized ONCE (bounded: the sample filter caps the frame at
    // sample² pairs) — both stats() consumers read the checkpoint blocks;
    // without it the full signature/banding/pair pipeline ran twice in a
    // benchmarked query (r14 ADVICE)
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .filter(col("id_a") < SampleDocs && col("id_b") < SampleDocs)
      .withColumn("__c", lit(1))
      .localCheckpoint(true)
    def stats(truth: DataFrame, nm: String, floor: Double): DataFrame =
      truth.join(cands, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("n"), sum(coalesce(col("__c"), lit(0))).as("f"))
        .select(col("n").as(s"truth_pairs_$nm"),
          (col("n") === 0 ||
            col("f").cast(DoubleType) / col("n") >= floor).as(s"recall_${nm}_ok"))
    // ground truth at BOTH thresholds from ONE scored pass (r18): pairs
    // at j >= 0.5 are checkpointed (bounded: sample truth pairs only,
    // with their scores) and the j >= 0.8 set is a filter of the same
    // blocks — the old shape ran the full shingle+self-join pipeline
    // once per threshold (measured: the q47 instrument phase ~2.8-3.1 s
    // at sf0.1, roughly half of it this second pass). jaccardScored is
    // itself checkpointed (r19), so both threshold filters here are
    // trivial replays over the same cached scalar rows — no second copy.
    val truth = jaccardScored(docs, 0.5).filter(col("__j") >= 0.5)
    stats(truth.select("id_a", "id_b"), "j50", 0.6)
      .crossJoin(stats(truth.filter(col("__j") >= 0.8)
        .select("id_a", "id_b"), "j80", 0.9))
  }

  // ---------------------------------------------------- Q48 SimHash near-dup
  /** SimHash banded candidates + the measurement that makes the recall
    * claim checkable (same instinct as q79): exact all-pairs Hamming over a
    * BOUNDED doc sample is the ground truth, and `sample_recall` = fraction
    * of true ≤maxHamming pairs the banded blocking surfaced. The all-pairs
    * step is sample-only by construction (the candidate path itself never
    * goes all-pairs).
    */
  /** SimHash banded candidates measured against the exact TEXT-level
    * sample truth (r14; directive #6 — previously the "truth" was
    * all-pairs Hamming over the simhash signatures themselves, which no
    * external oracle could recompute): true near-dups are pairs with
    * exact shingle Jaccard ≥ 0.8 in the bounded sample (the same
    * DuckDB-recomputable ground truth as q47), and the recall boolean
    * asserts the banded blocking surfaced at least the declared floor of
    * them (0.9 — near-identical docs land within a few Hamming bits of a
    * 64-bit simhash, and the 8×8-band pigeonhole guarantees detection
    * through Hamming ≤ 7 outright).
    */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // bands=4 → 16-bit band blocks (65k values): buckets stay bounded far
    // past sf10's 500k docs, where the default 8-bit blocks overflowed the
    // 256 cap into star-only pairs and recall on the true near-dups
    // collapsed to 0 — the r14 sf10 tolerance gate caught exactly that.
    // The pigeonhole guarantee narrows to hamming ≤ 3, which covers real
    // j≥0.8 near-dups (the ≥0.9 recall gate clears at sf0.01 AND sf10).
    // At larger corpora still, widen blocks again — block width wants to
    // grow with log(n).
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text",
      maxHamming = 16, bands = 4)
      .filter(col("id_a") < SampleDocs && col("id_b") < SampleDocs)
      .withColumn("__c", lit(1))
    jaccardTruth(docs, 0.8)
      .join(cands, Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("__c"), lit(0))).as("f"))
      .select(col("n").as("truth_pairs_j80"),
        (col("n") === 0 ||
          col("f").cast(DoubleType) / col("n") >= 0.9).as("sim_recall_ok"))
  }

  // ------------------------------------------------ Q49 brute-force ANN top-k
  /** Exact cosine top-3 neighbors for the first 5 vectors (baseline path). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------- Q50 LSH ANN top-k
  /** Multi-table sign-LSH ANN measured against the exact top-k (r14;
    * directive #6 — this row moves from `no_oracle` to a tolerance
    * oracle): the brute-force baseline is itself DuckDB-pinned (q49's
    * bit-exact oracle), so the recall boolean against it is a real gate —
    * if the LSH index silently degrades, the hash flips and CORRECTNESS
    * fails. Floor 0.3: multi-table (6 bits × 12 tables) measured 0.43 at
    * sf0.01 / 0.54 at sf0.1 over the wider q79 query set, scanning ~19%
    * of the corpus per query (the single-table form measured 0.02).
    */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val k = 3
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = k, bits = 6, tables = 12)
    // materialized ONCE (bounded: |queries| × k = 15 rows) — referenced
    // twice (semi-join probe + denominator); un-checkpointed, each
    // reference replays the full corpus×queries brute-force pass (r19,
    // the q79 cut applied to its siblings; guide §5 reuse-what-you-pay-for)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = k)
      .select(col("query_id"), col("corpus_id"))
      .localCheckpoint(true)
    val hits = approx.select(col("query_id"), col("corpus_id"))
      .join(exact, Seq("query_id", "corpus_id"), "left_semi")
      .agg(count(lit(1)).as("h"))
    exact.agg(count(lit(1)).as("exact_topk_rows")).crossJoin(hits)
      .select(col("exact_topk_rows"),
        (col("h").cast(DoubleType) / col("exact_topk_rows") >= 0.3)
          .as("recall_ok"))
  }

  // ----------------------------------------------------------- Q58 IVF ANN
  /** IVF-flat ANN (k-means coarse quantizer, nprobe cells probed) for the
    * same query set as q49/q50 — recall vs the brute-force baseline is the
    * quality metric.
    */
  /** IVF-flat ANN under the same tolerance-oracle shape as q50 (r14;
    * directive #6): recall vs the DuckDB-pinned exact top-k must clear
    * 0.5 (measured 0.728 at sf0.01 / 0.684 at sf0.1 on the wider q79
    * query set with nprobe/nlist = 4/16).
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val k = 3
    // overlap the eager k-means fit with the exact baseline's
    // materialization (same reasoning and same frames as q79 below); the
    // exact side is materialized ONCE (bounded 15 rows), referenced twice —
    // see q50
    val Seq(approx, exact) = graft.util.Jobs.all(Seq(
      () => Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = k, nlist = 16, nprobe = 4),
      () => Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = k)
        .select(col("query_id"), col("corpus_id"))
        .localCheckpoint(true)))
    val hits = approx.select(col("query_id"), col("corpus_id"))
      .join(exact, Seq("query_id", "corpus_id"), "left_semi")
      .agg(count(lit(1)).as("h"))
    exact.agg(count(lit(1)).as("exact_topk_rows")).crossJoin(hits)
      .select(col("exact_topk_rows"),
        (col("h").cast(DoubleType) / col("exact_topk_rows") >= 0.5)
          .as("recall_ok"))
  }

  // ------------------------------------------------------ Q79 ANN recall@k
  /** Recall of the approximate ANN paths against the exact baseline — the
    * completeness check a production similarity pipeline ships with: an
    * approximate index whose recall silently degrades is worse than a slow
    * exact scan. One row per method: (method, recall) where recall =
    * |approx top-k ∩ exact top-k| / (k × queries), over a wider query set
    * than q49/q50 so the measurement isn't anecdotal.
    */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
    val k = 5
    // The IVF side's k-means fit is EAGER (10 bounded MLlib jobs at
    // construction time) and independent of the exact baseline — run the
    // two concurrently so the fit's small serial jobs back-fill executor
    // slots the brute-force checkpoint's tail leaves idle (r19; guide
    // §2.6 "overlap independent jobs", the q81 bucketed-write pattern).
    // Frames are identical either way: overlap moves WHEN the fit runs,
    // not its input (same train rows, seed 42, maxIter 10).
    // The exact side is materialized ONCE (bounded: |queries| × k rows) —
    // the exact top-k subtree is referenced FOUR times in the final plan
    // (hits semi-join + denominator, for each of the two methods), and an
    // un-checkpointed plan executes the full corpus×queries brute-force
    // pass once per reference (r18 optimization round: plan 28 → 12
    // scans; wall time at sf0.1 within noise because the sf0.1 corpus is
    // small and the four passes overlapped across cores — the cut is for
    // the corpus-bound regime, where each redundant pass is a full corpus
    // scan)
    val Seq(ivf, exact) = graft.util.Jobs.all(Seq(
      () => Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = k, nlist = 16, nprobe = 4),
      () => Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = k)
        .select(col("query_id"), col("corpus_id"))
        .localCheckpoint(true)))
    def recallOf(method: String, approx: DataFrame): DataFrame = {
      val hits = approx.select(col("query_id"), col("corpus_id"))
        .join(exact, Seq("query_id", "corpus_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      val denom = exact.agg(count(lit(1)).as("total"))
      hits.crossJoin(denom).select(
        lit(method).as("method"),
        round(col("hits").cast("double") / col("total"), 4).as("recall"))
    }
    recallOf("lsh", Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = k, bits = 6, tables = 12))
      .unionByName(recallOf("ivf", ivf))
      .orderBy("method")
  }

  // -------------------------------------------- Q51 embedding cosine near-dup
  private def q51(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(T(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.3, bits = 6)
      .agg(count(lit(1)).as("near_dup_pairs"))

  // ------------------------------------------------------- Q52 language ID
  /** Heuristic language-ID vs the labeled `lang` column: confusion counts. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    docs.select(col("doc_id").as("id"), col("lang"))
      .join(TextAnalysis.languageIdDf(docs, "doc_id", "text"), Seq("id"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "pred")
  }

  // ------------------------------------------------- Q53 quality + fingerprint
  /** Quality features + the chained-MD5 document fingerprint (round 12:
    * oracle-checked against a DuckDB list-fold replica — the xxhash64
    * polynomial [[TextAnalysis.fingerprint]] stays the scale path, pinned
    * by TextAnalysisSpec, but is not reproducible outside the JVM).
    */
  private def q53(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(T(s, dir, "documents"), "text")
      .withColumn("fp", TextAnalysis.fingerprintChain(col("text")))
      .filter(col("doc_id") < 20)
      .select("doc_id", "n_tokens", "mean_tok_len", "stopword_ratio", "distinct_ratio", "fp")
      .orderBy("doc_id")

  // ------------------------------------------------- Q54 multimodal features
  /** Synthesized media table → mapPartitions feature extraction → stats.
    * Image and audio decode are REAL (javax.imageio / javax.sound over the
    * synthesized PNG/WAV payloads); only the video branch falls back to the
    * documented deterministic FakeCodec (no video codec ships in the JDK).
    *
    * Deterministic-golden oracle (r15 verdict #7, shrinking the no-oracle
    * tail): [[Multimodal.synthesize]] is a pure function of (seed, n) and
    * both JDK decoders are bit-exact, so the whole stats table is a
    * constant — pinned VERBATIM in [[q54Sql]] as a VALUES oracle the
    * driver hash-compares like any other query. The luma average is
    * integer-scaled at a 1e-4 quantum (q56's pattern) so float summation
    * order across partitions can't flip a digit of the compared value.
    */
  private def q54(s: SparkSession, dir: String): DataFrame =
    Multimodal.featureStats(Multimodal.extractFeatures(Multimodal.synthesize(s, 300)))
      .withColumn("avg_luma",
        round(col("avg_luma") * 10000).cast(LongType).as("avg_luma"))
      .withColumnRenamed("avg_luma", "avg_luma_1e4")

  // ------------------------------------------------------------------ registry

  val defs: Map[String, Q] = Map(
    "q47_minhash_neardup" -> q47 _,
    "q48_simhash_neardup" -> q48 _,
    "q49_ann_bruteforce" -> q49 _,
    "q50_ann_lsh" -> q50 _,
    "q58_ann_ivf" -> q58 _,
    "q51_cosine_neardup" -> q51 _,
    "q52_language_id" -> q52 _,
    "q53_quality_fingerprint" -> q53 _,
    "q54_multimodal_features" -> q54 _,
    "q79_ann_recall" -> q79 _
  )

  /** Per-phase probes for the tolerance-oracle family (r15 verdict
    * directive #3): since r14 the benched q47/q48/q50/q58 time the
    * OPERATOR (candidate generation / ANN top-k) together with its
    * INSTRUMENT (the DuckDB-recomputable exact ground truth + recall
    * join), so the headline per-query number can't be compared against
    * pre-r14 operator-only records. Bench times these probes separately
    * (full-suite runs only) and records them under `"phases"` — the
    * headline stays the combined query, the ≤2×-baseline accounting
    * quotes the operator phase. Probes recompute from scratch: no state
    * is shared with the timed headline run.
    */
  val phaseProbes: Map[String, Seq[(String, Q)]] = Map(
    "q47_minhash_neardup" -> Seq(
      "operator" -> ((s, dir) =>
        Dedup.minhashCandidates(T(s, dir, "documents"), "doc_id", "text")
          .filter(col("id_a") < SampleDocs && col("id_b") < SampleDocs)),
      "instrument" -> ((s, dir) => {
        // mirrors the headline's instrument shape: one scored pass
        // (checkpointed inside jaccardScored since r19), both thresholds
        // as filters over the same cached blocks (j80 ⊆ j50)
        val docs = T(s, dir, "documents")
        val truth = jaccardScored(docs, 0.5).filter(col("__j") >= 0.5)
        truth.select("id_a", "id_b").unionByName(
          truth.filter(col("__j") >= 0.8).select("id_a", "id_b"))
      })),
    "q48_simhash_neardup" -> Seq(
      "operator" -> ((s, dir) =>
        Dedup.simhashCandidates(T(s, dir, "documents"), "doc_id", "text",
            maxHamming = 16, bands = 4)
          .filter(col("id_a") < SampleDocs && col("id_b") < SampleDocs)),
      "instrument" -> ((s, dir) => jaccardTruth(T(s, dir, "documents"), 0.8))),
    "q50_ann_lsh" -> Seq(
      "operator" -> ((s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 3, bits = 6, tables = 12)
      }),
      "instrument" -> ((s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3)
      })),
    "q58_ann_ivf" -> Seq(
      "operator" -> ((s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 3, nlist = 16, nprobe = 4)
      }),
      "instrument" -> ((s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3)
      })))

  /** Engine-side sketches — no DuckDB equivalent; rows-only checks. */
  // ------------------------------------------------------------- oracles
  // Round 12 (r11 verdict directive #4): the deterministic pipeline
  // queries gain DuckDB oracles. Doubles must match BIT-EXACTLY (the
  // comparator hashes repr(double)), so every float fold is replicated
  // with the engine's exact accumulation order: elements cast to double,
  // summed left-to-right (DuckDB list_reduce folds in list order, the
  // same order as CosineSimilarity's sequential loop and Spark's
  // aggregate()); sqrt/division are single correctly-rounded IEEE ops.

  /** In-order double fold of `v[i] * w[i]` — bit-identical to the
    * [[graft.functions.CosineSimilarity]] accumulator.
    */
  private def dotSql(v: String, w: String): String =
    s"""list_reduce(list_transform(range(1, len($v)+1),
       |  i -> CAST($v[i] AS DOUBLE) * CAST($w[i] AS DOUBLE)), (a,b) -> a+b)""".stripMargin

  private val cosSql: String =
    s"""CASE WHEN len(q.embedding) <> len(c.embedding) THEN NULL
       |     WHEN sqrt(${dotSql("q.embedding", "q.embedding")})
       |        * sqrt(${dotSql("c.embedding", "c.embedding")}) = 0 THEN NULL
       |     ELSE ${dotSql("q.embedding", "c.embedding")}
       |        / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |         * sqrt(${dotSql("c.embedding", "c.embedding")})) END""".stripMargin

  private val q49Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, $cosSql AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5
       |)
       |SELECT query_id, corpus_id, cos, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT query_id, corpus_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, corpus_id) AS rnk
       |  FROM scored WHERE cos IS NOT NULL)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** The engine's tokenizer as a DuckDB list expression: split on single
    * spaces, lowercase, drop empties — [[Dedup.tokensArr]] verbatim.
    */
  private def toksSql(text: String): String =
    s"list_filter(string_split(lower($text), ' '), t -> t <> '')"

  private val q52Sql: String = {
    val langs = TextAnalysis.markers.keys.toSeq.sorted
    def inList(l: String) =
      TextAnalysis.markers(l).map(w => s"'$w'").mkString(", ")
    val hitCols = langs.map(l =>
      s"SUM(CASE WHEN t IN (${inList(l)}) THEN 1 ELSE 0 END) AS h_$l").mkString(",\n    ")
    val scoreCols = langs.map(l =>
      s"COALESCE(h.h_$l, 0) / CAST(greatest(COALESCE(h.n, 0), 1) AS DOUBLE) AS s_$l")
      .mkString(",\n    ")
    // argmax with the engine's tie rule (max score, then max lang):
    // check languages in REVERSE lexicographic order with >=
    val predCase = langs.reverse.init.zipWithIndex.map { case (l, i) =>
      val others = langs.reverse.drop(i + 1)
      s"WHEN ${others.map(o => s"s_$l >= s_$o").mkString(" AND ")} THEN '$l'"
    }.mkString("\n         ") + s"\n         ELSE '${langs.head}' END"
    s"""WITH tok AS (
       |  SELECT doc_id AS id, unnest(${toksSql("text")}) AS t FROM documents
       |),
       |hits AS (
       |  SELECT id,
       |    $hitCols,
       |    COUNT(*) AS n
       |  FROM tok GROUP BY id
       |),
       |pred AS (
       |  SELECT d.lang,
       |    $scoreCols
       |  FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
       |)
       |SELECT lang,
       |  CASE $predCase AS pred,
       |  count(*) AS cnt
       |FROM pred GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin
  }

  private val q53Sql: String = {
    val en = TextAnalysis.markers("en").map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, ${toksSql("text")} AS toks
       |  FROM documents WHERE doc_id < 20
       |)
       |SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_tokens,
       |  CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
       |    / greatest(len(toks), 1) AS mean_tok_len,
       |  CAST(len(list_filter(toks, t -> list_contains([$en], t))) AS DOUBLE)
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  CAST(len(list_distinct(toks)) AS DOUBLE)
       |    / greatest(len(toks), 1) AS distinct_ratio,
       |  list_reduce(list_prepend('', list_transform(toks, t -> md5(t))),
       |    (a, x) -> md5(concat(a, x))) AS fp
       |FROM base ORDER BY doc_id""".stripMargin
  }

  /** [[Similarity]]'s deterministic hyperplane weight — xxhash64(h, d)
    * replayed through catalyst's XXH64 (seed 42, args folded left), scaled
    * like `hashWeight`. Only 6 x 64 weights exist for q51's parameters, so
    * the oracle EMBEDS them as literals — DuckDB has no seeded xxhash64.
    */
  private def lshWeight(h: Int, d: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashInt(d, XXH64.hashInt(h, 42L)).toDouble / Long.MaxValue.toDouble
  }

  /** r16 (verdict #2 — the last unverified sf10 cell, closed): the q33
    * playbook applied to q51. The old replay died at sf10 twice over:
    * (a) the per-row signatures/norms were 560k list-LAMBDA folds — 416 s
    * of DuckDB closure dispatch before any pair existed — and (b) the
    * bucket join produced its raw a.sig=b.sig cross BEFORE the star cap
    * filtered it (clustered embeddings put 8.8k rows in one 6-bit bucket
    * → 150M intermediate pairs, each dragging two 64-double arrays).
    * The r16 shape vectorizes and caps STRUCTURALLY:
    * - dimensions explode once (`e`: one (id, i, val) row per dim) and
    *   every dot product — projections, norms, pair cosines — becomes a
    *   native hash-aggregate over a position join; no lambdas anywhere;
    * - the pair CTE replays the engine's cap as a UNION of a
    *   small-buckets self-join (output-bounded by cnt² ≤ cap² per
    *   bucket) and the big buckets' (min-id anchor × member) stars, so
    *   the quadratic cross is never materialized — the same pair SET as
    *   the engine's `bucketPairs`, by construction.
    * Aggregate fold order is no longer the engine's strict left fold, but
    * the decisions the sums feed are sign tests and a 0.3 threshold with
    * measured margins ~1e-2 (double noise on 64-term sums is ~1e-14
    * relative) — and the count is pinned EQUAL to the old left-fold
    * oracle at sf0.001/0.01/0.1/1 (59/57/879/164454) and to the engine
    * at sf10 (148302). Wall time sf10: 416+ s (timeout) → 8.9 s.
    */
  private val q51Sql: String = {
    val bits = 6
    val dims = 64
    val wValues = (0 until bits).flatMap { h =>
      (1 to dims).map(i => s"($h,$i,${lshWeight(h, i - 1)})")
    }.mkString(",")
    s"""WITH w(h, i, wt) AS (VALUES $wValues),
       |raw AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |  FROM embeddings
       |),
       |e AS MATERIALIZED (
       |  SELECT raw.id, r.i, raw.vd[r.i] AS val
       |  FROM raw, range(1, ${dims + 1}) AS r(i)
       |),
       |sig0 AS (
       |  SELECT e.id, w.h, sum(e.val * w.wt) AS proj
       |  FROM e JOIN w ON w.i = e.i GROUP BY e.id, w.h
       |),
       |sigs AS (
       |  SELECT id, sum(CASE WHEN proj >= 0 THEN 1 << h ELSE 0 END) AS sig
       |  FROM sig0 GROUP BY id
       |),
       |nrm AS MATERIALIZED (
       |  SELECT id, sqrt(sum(val * val)) AS nrm, count(val) AS dims
       |  FROM e GROUP BY id
       |),
       |sigt AS MATERIALIZED (
       |  SELECT raw.id, sigs.sig FROM raw JOIN sigs ON sigs.id = raw.id
       |),
       |bs AS MATERIALIZED (SELECT sig, count(*) AS cnt, min(id) AS mn FROM sigt GROUP BY sig),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS ida, b.id AS idb
       |  FROM sigt a JOIN bs ba ON ba.sig = a.sig AND ba.cnt <= ${Dedup.DefaultBucketCap}
       |  JOIN sigt b ON a.sig = b.sig AND a.id < b.id
       |  UNION ALL
       |  SELECT bs.mn, s.id FROM sigt s JOIN bs ON bs.sig = s.sig
       |  WHERE bs.cnt > ${Dedup.DefaultBucketCap} AND s.id <> bs.mn
       |),
       |dots AS (
       |  SELECT p.ida, p.idb, sum(ea.val * eb.val) AS dp
       |  FROM pairs p JOIN e ea ON ea.id = p.ida JOIN e eb ON eb.id = p.idb AND eb.i = ea.i
       |  GROUP BY p.ida, p.idb
       |),
       |cosed AS (
       |  SELECT CASE WHEN na.dims <> nb.dims THEN NULL
       |              WHEN na.nrm * nb.nrm = 0 THEN NULL
       |              ELSE d.dp / (na.nrm * nb.nrm) END AS cos
       |  FROM dots d JOIN nrm na ON na.id = d.ida JOIN nrm nb ON nb.id = d.idb
       |)
       |SELECT count(*) AS near_dup_pairs FROM cosed WHERE cos >= 0.3""".stripMargin
  }

  /** Exact 3-gram shingle sets of the bounded sample as a DuckDB CTE —
    * [[Dedup.shingles]] verbatim: lower-cased space tokens, empties
    * dropped, windows of 3 joined by , distinct. Feeds the r14
    * tolerance oracles (q47/q48): the ground-truth pair counts are
    * recomputed from the raw text, and the engine's recall booleans
    * against that truth hash-compare as plain columns. Token-less docs
    * (empty/whitespace-only text) are filtered here because the engine
    * side emits no shingle rows for them ([[Dedup.tokenRows]] drops empty
    * tokens, so such a doc never reaches [[jaccardTruth]]) — without the
    * filter the range() window would give them a singleton [''] shingle
    * set and two such docs would count as a j=1.0 truth pair the engine
    * can never see (r14 ADVICE).
    */
  private val shingleCte: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(arr)-2, 1)+1),
       |           i -> array_to_string(arr[i:i+2], chr(1)))) AS s
       |  FROM (SELECT doc_id, ${toksSql("text")} AS arr
       |        FROM documents WHERE doc_id < $SampleDocs)
       |  WHERE len(arr) > 0
       |), jac AS (
       |  SELECT len(list_intersect(a.s, b.s)) * 1.0
       |           / len(list_distinct(a.s || b.s)) AS j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)""".stripMargin

  private val q47Sql: String =
    s"""$shingleCte
       |SELECT CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS truth_pairs_j50,
       |       TRUE AS recall_j50_ok,
       |       CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS truth_pairs_j80,
       |       TRUE AS recall_j80_ok
       |FROM jac""".stripMargin

  private val q48Sql: String =
    s"""$shingleCte
       |SELECT CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS truth_pairs_j80,
       |       TRUE AS sim_recall_ok
       |FROM jac""".stripMargin

  private val q50Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, $cosSql AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5
       |)
       |SELECT CAST(count(*) AS BIGINT) AS exact_topk_rows, TRUE AS recall_ok
       |FROM (
       |  SELECT row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, corpus_id) AS rnk
       |  FROM scored WHERE cos IS NOT NULL)
       |WHERE rnk <= 3""".stripMargin

  /** q54's deterministic-golden oracle (r15 verdict #7): the engine
    * output is a pure function of (seed=default, n=300) — synthesized
    * payloads, bit-exact JDK decoders, integer-scaled luma — so the
    * expected table is pinned VERBATIM and the driver's hash compare
    * gates it like any SQL-recomputed oracle. If a legitimate change to
    * the synthesis/extraction pipeline shifts these numbers, re-pin them
    * CONSCIOUSLY (the diff is the review artifact) — that's the point:
    * the values can no longer drift silently. Captured 2026-08-15,
    * identical across cpu counts (16/32) and repeated runs.
    */
  private val q54Sql =
    """SELECT * FROM (VALUES
      |  ('audio', CAST(100 AS BIGINT), CAST(500400 AS BIGINT), CAST(24800 AS BIGINT), CAST(100 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('image', CAST(100 AS BIGINT), CAST(355952 AS BIGINT), CAST(190 AS BIGINT), CAST(100 AS BIGINT), CAST(1272415 AS BIGINT)),
      |  ('video', CAST(100 AS BIGINT), CAST(6400 AS BIGINT), CAST(210 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT))
      |) t(kind, cnt, total_bytes, total_sampled, decoded_cnt, avg_luma_1e4)
      |ORDER BY kind""".stripMargin

  val oracle: Map[String, String] = Map(
    "q47_minhash_neardup" -> q47Sql,
    "q48_simhash_neardup" -> q48Sql,
    "q49_ann_bruteforce" -> q49Sql,
    "q50_ann_lsh" -> q50Sql,
    "q58_ann_ivf" -> q50Sql, // same exact-top-k denominator + recall flag shape
    "q51_cosine_neardup" -> q51Sql,
    "q52_language_id" -> q52Sql,
    "q53_quality_fingerprint" -> q53Sql,
    "q54_multimodal_features" -> q54Sql)
}
