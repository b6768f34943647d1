package graft.queries

import graft.Checkpoints
import graft.Checkpoints.EagerOps
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (driver north-star):
 * brute-force cosine top-k as the exactness baseline, and a random-hyperplane
 * LSH-bucketed variant as the scale path (candidates restricted to one
 * hash bucket — the join fans out by bucket key, not O(n²)).
 *
 * Determinism: dot products are sequential left-folds in double (identical
 * op order to the DuckDB oracle → bit-identical cosines); ties broken by
 * vec_id so rankings are total.
 *
 * 100 TB notes: brute-force top-k shuffles queries×corpus — fine for a
 * bounded query set against a broadcast/bucketed corpus, not for all-pairs.
 * The LSH variant shuffles O(n) rows keyed by an 8-bit bucket; at real scale
 * one uses more planes (wider buckets), multi-probe, or an IVF coarse
 * quantizer — same plan shape, different bucket fn.
 */
object SimilarityQueries {

  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  val Dim = 64
  val NumPlanes = 8
  val TopK = 5
  val NumCentroids = 16
  val NumProbes = 4
  /** Lloyd rounds for the s3 IVF coarse quantizer (spherical k-means). */
  val KMeansIters = 2

  /** Sequential left-fold dot product (double), bit-identical to the oracle —
    * the codegen'd [[graft.functions.DotProduct]] expression (same fold
    * order as the previous aggregate/zip_with formulation, ~20x faster). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  /** Signed-projection LSH bucket: bit j = sign(v · plane_j) — the compact
    * codegen'd [[graft.functions.LshBucket]] (an 8-plane literal-array
    * expression tree costs ~6 s of analysis+compile per plan). */
  private def bucket(v: Column): Column =
    graft.functions.VectorFunctions.lshBucket(v, NumPlanes, Dim)

  private def bucketSql(v: String): String =
    graft.functions.LshBucket.sql(v, NumPlanes, Dim)

  private def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k for a bounded query set (vec_id < 10) against
    // the full corpus; ranking window per query.
    "s1_knn_brute" -> ((s, d) => {
      val e = withNorm(embs(s, d))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
      val scored = q.join(e, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
    }),

    // LSH-bucketed ANN: candidates share the query's 8-bit hyperplane-sign
    // bucket; top-k within bucket. Approximate by construction, but
    // deterministic — the oracle replicates the bucketing exactly.
    // DELIBERATE ranking-Window baseline: s1/s2 keep the didactic
    // row_number() form so the gate covers both top-k shapes on one
    // oracle; the production scale path is the s4 bounded-state aggregate
    // (O(queries × k) shuffle, map-side combine, no sort), which m7 and
    // the s5 retrieval join already use.
    "s2_knn_lsh" -> ((s, d) => {
      val e = withNorm(embs(s, d)).withColumn("bkt", bucket(col("embedding")))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("bkt").as("qbkt"))
      val scored = q.join(e, col("qbkt") === col("bkt") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
    }),

    // IVF coarse-quantizer ANN — the inverted-file scale path beyond LSH:
    // TRAIN a coarse quantizer with KMeansIters rounds of spherical k-means
    // (assign by cosine, update to the cell mean — direction-equivalent to
    // the normalized-mean update, so the sum-of-cosines objective is
    // monotone), partition the corpus into NumCentroids cells, probe the
    // NumProbes cells nearest each query, exact top-k within the probed
    // cells only. Training is deterministic end-to-end: seeds are the first
    // NumCentroids vectors, every centroid mean is a SortedTermSum fold
    // (bit-identical across engines), so the DuckDB oracle replays the whole
    // Lloyd trajectory bit-for-bit via unrolled CTEs (like g2's oracle).
    //
    // 100 TB shape: centroids broadcast (k rows); assignment is a broadcast
    // join + map-side-combinable argmax (max over a (cos, -cid) struct — NO
    // window shuffle of the n x k scored rows, just n groups); the training
    // mean is a (cid, pos)-keyed aggregation, k*Dim groups; at real scale
    // you train on a deterministic hash-sample (c1-style) rather than the
    // full corpus — identical plan, sampled input. The candidate join
    // shuffles by cell id (hot cells are AQE-skew-split / salt-able);
    // scoring joins fetch only probed-cell vectors. Recall/cost dials:
    // NumCentroids ~ sqrt(n), NumProbes, KMeansIters — the same knobs as
    // any IVF index build.
    "s3_knn_ivf" -> ((s, d) => {
      val en = enStaged(s, d) // r18: staged once — was 5 scan subtrees
      val cents = trainCentroids(s, d, KMeansIters)
      val cw = withCn(cents)
      val asgn = assignCells(en, cents)
      // per-query probe list: the NumProbes nearest cells (k x queries rows — tiny)
      val q = en.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val pw = Window.partitionBy("query_id").orderBy(col("pcos").desc, col("cid").asc)
      val probes = q.join(broadcast(cw))
        .select(col("query_id"), col("cid"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("pcos"))
        .withColumn("pr", row_number().over(pw))
        .where(col("pr") <= NumProbes)
        .select(col("query_id"), col("cid"))
      // candidates: vectors assigned to a probed cell (each pair appears in
      // exactly one cell — no dedup needed); then exact cosine + top-k
      val cand = probes.join(asgn, "cid")
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
      val scored = cand
        .join(en, "vec_id")
        .join(q.select(col("query_id"), col("qv"), col("qn")), "query_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
    }),

    // Same search as s1 via the bounded-state top-k AGGREGATE
    // ([[graft.functions.TopKByScore]]) instead of a ranking window: partial
    // top-k states combine map-side, so the shuffle carries k entries per
    // query instead of the full scored candidate set, and no partition-wide
    // sort runs — the 100 TB shape for "top-k per key" (PlanSpec asserts the
    // plan has an ObjectHashAggregate and no Window/Sort). Output rows are
    // identical to s1 (same total order, same oracle SQL).
    "s4_knn_topk_agg" -> ((s, d) => topKAggOf(s, d)),

    // RETRIEVAL (s5, r08): the end-to-end "semantic search" join — ANN
    // top-k (the s4 bounded-state aggregate) joined back to `documents`
    // for each hit's content. The top-k frame is O(queries x k) rows —
    // broadcast it and STREAM the documents scan through a map-side join
    // (PlanSpec pins BroadcastHashJoin + a pruned doc read): at 100 TB the
    // doc store is never shuffled to serve a query batch; cost is one
    // pruned column scan. Snippet via substring keeps the result compact
    // and deterministic in both engines.
    "s5_retrieval" -> ((s, d) => {
      val hits = topKAggOf(s, d)
      val dcs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), substring(col("text"), 1, 24).as("snippet"))
      dcs.join(broadcast(hits), col("doc_id") === col("neighbor_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
          col("source"), col("snippet"))
    }),

    // K-MEANS CLUSTERING (s6, r09): the trained coarse quantizer as a
    // first-class operator — every embedding assigned to its (trained) cell,
    // rolled up per cluster. This is the topic-bucketing / diversity-
    // sampling primitive a training-data pipeline runs over embeddings at
    // corpus scale: train on a hash-sample, broadcast k centroids, one
    // map-side-combinable argmax pass, one k-group aggregate — no shuffle of
    // the corpus beyond the n-row argmax exchange.
    "s6_kmeans_clusters" -> ((s, d) => {
      val en = enStaged(s, d)
      val cents = trainCentroids(s, d, KMeansIters)
      assignCells(en, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("rep_vec"))
        .select(col("cid").as("cluster_id"), col("n_members"), col("rep_vec"))
    }),

    // PERSISTED-INDEX SEARCH (s7, r10): the same multi-probe IVF search as
    // s3, but over the ON-DISK index ([[IvfIndex]]: centroids.parquet + the
    // hive-partitioned cid= posting lists) instead of an inline cell
    // assignment — the full production lifecycle (build once, search many,
    // append without re-reading the corpus) under the oracle gate. Search
    // reads ONLY probed cell partitions (IvfIndexSpec asserts partition
    // pruning from the executed plan); results are identical to s3 because
    // the persisted quantizer is the same deterministic trained one, so the
    // s3 oracle transfers verbatim.
    "s7_ivf_index_search" -> ((s, d) => {
      val idx = indexDir(s, d)
      val q = enStaged(s, d).where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      IvfIndex.search(s, idx, q)
    })
  )

  /** Per-(session, dir) persisted-index directory for s7 — built once into a
    * temp dir via [[IvfIndex.build]] (attributed as the "ivf_index_persist"
    * shared build), reused until [[clearCaches]]. The map holds only paths
    * (no plans), keyed by the same minted session UUID as [[SessionCache]]. */
  private val idxDirs = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def indexDir(s: SparkSession, d: String): String = {
    // hoist prerequisite builds so a cold cache bills them separately
    val _ = trainCentroids(s, d, KMeansIters)
    idxDirs.getOrElseUpdate((SessionCache.idOf(s), d),
      SharedBuilds.timed("ivf_index_persist") {
        val dir = java.nio.file.Files.createTempDirectory("graft-ivf-").toString
        IvfIndex.build(s, d, dir)
        dir
      })
  }

  /** d13's fixture index: the shared trained quantizer with posting lists
    * holding ONLY the even-vec_id half of the corpus — "yesterday's
    * admitted corpus" for the gated incremental-semantic-dedup replay
    * (odd vec_ids are the batch). Same memoization discipline as s7's
    * [[indexDir]], attributed as the "ivf_inc_index" shared build. */
  private val incIdxDirs = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private[queries] def incrementalIndexDir(s: SparkSession, d: String): String = {
    val cents = trainCentroids(s, d, KMeansIters)
    incIdxDirs.getOrElseUpdate((SessionCache.idOf(s), d),
      SharedBuilds.timed("ivf_inc_index") {
        val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc-").toString
        cents.coalesce(1).write.parquet(s"$dir/centroids.parquet")
        IvfIndex.append(s, dir, edOf(s, d).where(col("vec_id") % 2 === 0))
        dir
      })
  }

  // ---- s3 IVF training (spherical k-means), shared with the specs ----

  /** Double-cast embeddings once: training means live in double, and
    * float->double casts are exact, so cosines match the all-double oracle
    * bit-for-bit. */
  private[queries] def edOf(s: SparkSession, d: String): DataFrame =
    embs(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private[queries] def enOf(ed: DataFrame): DataFrame =
    ed.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Memoized STAGED normalized double-cast embeddings (r18, guide §7.2 —
    * the shingle_sets move for the vector family): (vec_id, v, nrm)
    * checkpointed once per (session, dir). Before this, every
    * double-family consumer re-ran the parquet array decode + cast + norm
    * per plan BRANCH — s3 alone embedded the subtree five times (its
    * before-plan), kmeans training once per Lloyd round, d10/d11's
    * centroidCosinesOf twice more. ONLY for the enOf/edOf (double-cast)
    * family: s1/s2/s4/s5/d5/d7 compute over the RAW float column and must
    * keep their own scans — float vs double dot products differ in bits,
    * and each key's oracle pins its own convention. */
  private val enCache = new SessionCache[String]

  private[queries] def enStaged(s: SparkSession, d: String): DataFrame =
    enCache.getOrElseUpdate(s, d)(SharedBuilds.timed("embeddings_norm")(
      enOf(edOf(s, d)).eagerCheckpoint()))

  private[queries] def withCn(c: DataFrame): DataFrame =
    c.select(col("cid"), col("cv"), sqrt(dot(col("cv"), col("cv"))).as("cn"))

  /** Cell assignment: argmax cosine, ties to the smaller centroid id —
    * a broadcast join + map-side-combinable max over a (cos, -cid) struct. */
  private[graft] def assignCells(en: DataFrame, cents: DataFrame): DataFrame =
    en.join(broadcast(withCn(cents)))
      .select(col("vec_id"),
        struct((dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cos"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.ncid")).as("cid"))

  /** Memoized trained quantizer, shared by s3 and s6 (and [[IvfIndex]]) —
    * the Lloyd rounds are the dominant shared cost, so the bench attributes
    * them once ([[SharedBuilds]]), like CCF assignments / jaccard pairs. */
  private val centsCache = new SessionCache[(String, Int)]

  /** `iters` rounds of deterministic spherical k-means from the first-
    * NumCentroids seed: assign by cosine, update each cell to its mean
    * (order-deterministic SortedTermSum folds so the whole trajectory is
    * bit-identical to the oracle's unrolled CTEs); an empty cell keeps its
    * previous centroid (standard Lloyd fallback). Returns (cid, cv). */
  def trainCentroids(s: SparkSession, d: String, iters: Int): DataFrame =
    centsCache.getOrElseUpdate(s, (d, iters))(SharedBuilds.timed("kmeans_centroids")(
      trainCentroidsUncached(s, d, iters)))

  private def trainCentroidsUncached(s: SparkSession, d: String, iters: Int): DataFrame = {
    // r18: train over the staged normalized table — the Lloyd loop embeds
    // its input once per round per branch, so an unstaged frame re-decoded
    // the embedding parquet every round
    val en = enStaged(s, d)
    lloydTrainEn(en,
      en.where(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cid"), col("v").as("cv")),
      iters)
  }

  /** Bounded seed-candidate pool for [[retrainCentroids]] — collected to the
    * driver (≤ this many rows regardless of corpus size). */
  private val SeedPoolSize = 1000

  /** REBUILD-TIME training ([[IvfIndex.rebuild]]): Lloyd over a
    * deterministic hash-sample of the corpus, seeded by a greedy
    * farthest-point (k-center) pass instead of [[build]]'s fixed lowest-id
    * seeds. Lowest-id seeding is the right replayable contract for the
    * gated first build, but it cannot ADAPT: data that drifted into a
    * direction the original centroids never covered all piles into one hot
    * cell, and Lloyd alone never splits a cell it has no seed inside.
    * Farthest-point seeding places the next seed at the pool vector with
    * maximal cosine distance to its nearest chosen seed — a drifted blob IS
    * that vector, so the hot region attracts seeds and the rebuild actually
    * clears the [[IvfIndex.needsRebuild]] skew that triggered it
    * (IvfIndexSpec pins this end to end). Fully deterministic: the pool is
    * the [[SeedPoolSize]] lowest-`xxhash64(vec_id)` corpus rows, seed 1 is
    * the smallest vec_id in the pool, ties break to the smaller vec_id. */
  private[queries] def retrainCentroids(ed: DataFrame, k: Int, iters: Int,
                                        permille: Int): DataFrame = {
    // bounded driver action: ≤ SeedPoolSize rows (TakeOrdered by hash —
    // map-side top-k, no full sort)
    val pool = ed
      .withColumn("h", xxhash64(col("vec_id"), lit("ivf-reseed")))
      .orderBy(col("h"), col("vec_id")).limit(SeedPoolSize)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val seeds = farthestPointSeeds(pool, k)
    val sample = if (permille >= 1000) ed
      else ed.where(pmod(xxhash64(col("vec_id"), lit("ivf-train")), lit(1000)) < permille)
    val s = ed.sparkSession
    import s.implicits._
    lloydTrain(sample,
      seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("cid", "cv"),
      iters)
  }

  /** Greedy k-center over an id-sorted pool: start at the smallest vec_id,
    * repeatedly add the vector minimizing max-cosine-to-chosen (ties to the
    * smaller id — the pool is id-sorted, so "first index at the minimum").
    * O(k·|pool|·Dim) on the driver, bounded by [[SeedPoolSize]]. */
  private[queries] def farthestPointSeeds(pool: Array[(Long, Array[Double])],
                                          k: Int): Array[Array[Double]] = {
    if (pool.isEmpty) return Array.empty
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(pool(0)._2)
    val nearest = pool.map(p => cos(p._2, chosen(0)))
    var exhausted = false
    while (!exhausted && chosen.size < math.min(k, pool.length)) {
      var best = 0; var i = 1
      while (i < pool.length) { if (nearest(i) < nearest(best)) best = i; i += 1 }
      // a dedup-heavy pool can hold fewer than k DISTINCT directions: once
      // every remaining candidate sits at cosine ~1.0 to a chosen seed there
      // is no strictly-farther vector left, and continuing would emit the
      // same centroid repeatedly (duplicate centroids = permanently empty
      // cells). Stop and let Lloyd run with the smaller effective k.
      if (nearest(best) >= 1.0 - 1e-12) exhausted = true
      else {
        chosen += pool(best)._2
        i = 0
        while (i < pool.length) {
          val c = cos(pool(i)._2, chosen.last)
          if (c > nearest(i)) nearest(i) = c
          i += 1
        }
      }
    }
    chosen.toArray
  }

  private def lloydTrain(ed: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    lloydTrainEn(enOf(ed), seeds, iters)

  /** `iters` Lloyd rounds from `seeds`, in [[graft.Checkpoints.fixpoint]]:
    * each round's centroid table is checkpointed and freed by the loop's one
    * rule; `seeds` and `en` are the caller's and never freed. */
  private[graft] def lloydTrainEn(en: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val cents = Checkpoints.fixpoint(seeds, iters) { (prev, i) =>
      val a = assignCells(en, prev)
      // per-(cell, dim) mean: sorted-by-vec_id sequential fold over exact
      // count — the oracle twin is list(x ORDER BY vec_id) + list_reduce
      val sums = en.join(a, "vec_id")
        .select(col("cid"), col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((graft.functions.VectorFunctions.sortedTermSum(
          collect_list(struct(col("vec_id").as("g"), col("x").as("t"))))
          / count(lit(1))).as("m"))
      val fresh = sums.groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), col("pm.m").as("cv"))
      // checkpoint each round's k-row centroid table: the final plan
      // references cents from the cell assignment, the probe ranking AND
      // the next round — without truncation every reference re-executes
      // the whole training lineage (k rows to materialize, at any scale)
      Checkpoints.materialize(prev.as("c").join(fresh.as("f"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("f.cv"), col("c.cv")).as("cv")), s"lloyd round $i")()
    }.result
    // iters=0 (the untrained seed, used by the objective spec) must still be
    // materialized: the SessionCache entry holds a checkpoint handle
    if (iters == 0) cents.eagerCheckpoint() else cents
  }

  /** Evict this session's memoized centroid checkpoints and forget its
    * persisted-index dirs (the next s7 access rebuilds — bench passes each
    * re-pay the build; the orphaned temp files are the OS tmp reaper's). */
  def clearCaches(s: SparkSession): Unit = {
    centsCache.clear(s)
    enCache.clear(s)
    idxDirs.keys.filter(_._1 == SessionCache.idOf(s)).foreach(idxDirs.remove)
    incIdxDirs.keys.filter(_._1 == SessionCache.idOf(s)).foreach(incIdxDirs.remove)
  }

  /** Mean best-cell cosine over the corpus — the spherical k-means objective
    * (monotone non-decreasing over Lloyd rounds; spec-pinned). */
  def quantizerObjective(s: SparkSession, d: String, iters: Int): Double =
    objectiveOf(s, d, trainCentroids(s, d, iters))

  /** The same objective for an arbitrary centroid table (sampled-training
    * quality checks run this over the FULL corpus). */
  def objectiveOf(s: SparkSession, d: String, cents: DataFrame): Double = {
    val en = enStaged(s, d)
    en.join(broadcast(withCn(cents)))
      .select(col("vec_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cos"))
      .groupBy("vec_id").agg(max(col("cos")).as("best"))
      .agg(avg(col("best")))
      .head().getDouble(0)
  }

  /** The s4 pipeline (scored candidates -> bounded-state top-k aggregate),
    * shared by s4 and the s5 retrieval join. */
  private def topKAggOf(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embs(s, d))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopK.topK(col("cos"), col("neighbor_id"), TopK).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos"))
  }

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(0, $Dim), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  /** s1 and s4 compute the same result by construction (window rank vs
    * bounded-heap aggregate over one total order) — same oracle. */
  private def knnBruteOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
       |  FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id <> q.vec_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  val oracles: Map[String, String] = Map(
    "s4_knn_topk_agg" -> knnBruteOracle,

    // the s4 oracle joined to documents — same neighbor set, plus content
    "s5_retrieval" ->
      s"""WITH base AS ($knnBruteOracle)
         |SELECT query_id, rank, neighbor_id, cos,
         |       d.source AS source, substr(d.text, 1, 24) AS snippet
         |FROM base JOIN documents d ON base.neighbor_id = d.doc_id""".stripMargin,
    "s1_knn_brute" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
         |  FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id <> q.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored) WHERE rank <= $TopK""".stripMargin,

    "s2_knn_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm,
         |         ${bucketSql("embedding")} AS bkt
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
         |  FROM e q JOIN e ON q.vec_id < 10 AND e.bkt = q.bkt AND e.vec_id <> q.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored) WHERE rank <= $TopK""".stripMargin,

    "s3_knn_ivf" -> ivfSearchOracle,

    // s7 searches the persisted index with the SAME trained quantizer and
    // probe/top-k rule as s3 (search ≡ s3 is also spec-asserted), so the
    // oracle transfers verbatim.
    "s7_ivf_index_search" -> ivfSearchOracle,

    // s6: the trained quantizer's cell assignment itself, rolled up — same
    // kmeans CTE prefix, then a plain per-cluster aggregate.
    "s6_kmeans_clusters" ->
      s"""WITH $kmeansOracleCtes
         |SELECT cid AS cluster_id, COUNT(*) AS n_members, MIN(vec_id) AS rep_vec
         |FROM asgn GROUP BY cid""".stripMargin
  )

  /** The s3/s7 oracle: mirrors the IVF search exactly — same seeded
    * centroids, the same KMeansIters Lloyd rounds unrolled as CTE triplets
    * (a_i assignment / s_i+n_i mean / c_i next centroids — the g2-oracle
    * technique), same (cos, -cid) composite argmax (struct comparison is
    * lexicographic in both engines; cosines and centroid means are
    * bit-identical sequential folds), same probe ranking. */
  private def ivfSearchOracle: String =
    s"""WITH $kmeansOracleCtes,
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "c.cv")} / (q.nrm * c.cn) DESC, c.cid ASC) AS pr
       |    FROM en q CROSS JOIN cw c WHERE q.vec_id < 10)
       |  WHERE pr <= $NumProbes),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p JOIN asgn a USING (cid)
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, e.vec_id AS neighbor_id,
       |         ${dotSql("q.v", "e.v")} / (q.nrm * e.nrm) AS cos
       |  FROM cand JOIN en e ON e.vec_id = cand.vec_id
       |            JOIN en q ON q.vec_id = cand.query_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  /** Shared oracle prefix: double-cast embeddings, norms, seed centroids,
    * KMeansIters unrolled Lloyd rounds, trained-centroid norms (cw) and the
    * final cell assignment (asgn). One Lloyd round = assignment a_i /
    * per-dim deterministic mean s_i+n_i / next centroids c_i. */
  private[queries] def kmeansOracleCtes: String = {
    def lloyd(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT e.vec_id,
         |         -struct_extract(max(row(${dotSql("e.v", "c.cv")} / (e.nrm * c.cn), -c.cid)), 2) AS cid
         |  FROM en e CROSS JOIN (
         |    SELECT cid, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM $prev) c
         |  GROUP BY e.vec_id),
         |s$i AS (
         |  SELECT a.cid, t.pos,
         |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list(e.v[t.pos + 1] ORDER BY e.vec_id)), (acc, x) -> acc + x)
         |           / count(*) AS m
         |  FROM ed e JOIN a$i a USING (vec_id) CROSS JOIN range(0, $Dim) t(pos)
         |  GROUP BY a.cid, t.pos),
         |n$i AS (SELECT cid, list(m ORDER BY pos) AS cv FROM s$i GROUP BY cid),
         |c$i AS (
         |  SELECT c.cid, coalesce(n.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN n$i n USING (cid))""".stripMargin
    }
    val iters = (1 to KMeansIters).map(lloyd).mkString(",\n")
    s"""ed AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM ed),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM ed WHERE vec_id < $NumCentroids),
       |$iters,
       |cw AS (SELECT cid, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM c$KMeansIters),
       |asgn AS (
       |  SELECT e.vec_id,
       |         -struct_extract(max(row(${dotSql("e.v", "c.cv")} / (e.nrm * c.cn), -c.cid)), 2) AS cid
       |  FROM en e CROSS JOIN cw c GROUP BY e.vec_id)""".stripMargin
  }
}
