package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.{PlanCache, SessionMemo, Tables}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, one pass over
  * candidates, per-query TakeOrdered via window rank). Scale path: LSH
  * random-hyperplane bucketing — candidates only join within a bucket.
  *
  * Numeric determinism: embeddings are quantized to bigint (floor(x·1000))
  * so dot products and norms are exact integer sums — identical in Spark and
  * DuckDB regardless of summation order; the final cosine is one double
  * division + sqrt of exact integers (IEEE-deterministic). */
object Similarity {

  /** vec → bigint-quantized vector + exact squared norm. */
  def quantize(emb: DataFrame): DataFrame =
    emb
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("norm2", expr(
        "aggregate(qv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))

  /** Cached quantized embeddings table (shared by all similarity ops). */
  def quantized(spark: SparkSession, dir: String): DataFrame =
    PlanCache.cached(spark, s"quant|$dir")(
      quantize(Tables.embeddings(spark, dir)))

  /** Exact integer dot product of two quantized vectors — the codegen'd
    * native kernel (graft.functions.DotI64); requires the session to have
    * graft's functions registered (GraftExtensions / ensureRegistered). */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotI64(a, b)

  /** Brute-force cosine top-k: query ids < nQueries vs the rest.
    * Plan shape: broadcast(queries) ⋈ candidates (BroadcastNestedLoopJoin —
    * no shuffle of the big side), partial per-partition rank via window on
    * query_id. At 1000 executors the candidate scan stays fully parallel. */
  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val q = quantized(spark, dir)
    val queries = q.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na2"))
    val cands = q.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("norm2").as("nb2"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands
      .join(broadcast(queries))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** IVF-style approximate NN (the other classic ANN scale path next to
    * [[lshTopK]]): a small deterministic centroid set partitions the corpus
    * into inverted lists; queries probe only the `nProbe` nearest lists.
    *
    * Plan shape at scale: centroids are O(k) and broadcast twice (assignment
    * + probe); candidate assignment is one narrow pass (broadcast join +
    * `max_by` aggregation — no shuffle of embeddings beyond the grouping);
    * the probe join is an equi-join on cluster id, so a 100 TB corpus only
    * ever scores `nProbe/k` of its vectors per query. Centroid choice is a
    * deterministic stride sample (vec_id spread) — a k-means refinement
    * would only change centroid quality, not the plan. */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, nLists: Int = 16, nProbe: Int = 3): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val q = quantized(spark, dir)
    val cands = q.where(col("vec_id") >= nQueries)
    // deterministic centroid sample with dense list ids (TakeOrdered of a
    // tiny prefix; embeddings are i.i.d. so any fixed sample works — swap
    // for k-means output to improve list balance without changing the plan)
    // list_id over a single constant bucket: input is limit(nLists) — O(k)
    // rows by construction, not a data-dependent global window (pmod(id, 1)
    // is a non-foldable zero, so the partition spec survives optimization)
    val centroids = broadcast(
      cands.orderBy("vec_id").limit(nLists)
        .select(col("vec_id").as("centroid_vec"), col("qv").as("cv"))
        .withColumn("list_id",
          row_number().over(Window.partitionBy(pmod(col("centroid_vec"), lit(1)))
            .orderBy("centroid_vec")).cast("long")))
    val scored = (vecs: DataFrame) => vecs.join(centroids)
      .withColumn("score", dot(col("qv"), col("cv")))
    // corpus-side assignment: max_by aggregation, NOT a window — the
    // broadcast join expands each vector x nLists within its partition, but
    // partial aggregation collapses back to one row per vector map-side, so
    // the exchange never carries the expansion (a window would shuffle+sort
    // all |corpus| x nLists rows). Tiebreak: highest score, lowest list_id.
    val lists = scored(cands)
      .groupBy(col("vec_id").as("neighbor_id"))
      .agg(max_by(
        struct(col("list_id"), col("qv"), col("norm2")),
        struct(col("score"), (-col("list_id")).as("nl"))).as("w"))
      .select(col("neighbor_id"), col("w.qv").as("qb"),
        col("w.norm2").as("nb2"), col("w.list_id").as("list_id"))
    // query-side probing keeps the rank window: nQueries x nLists rows total
    val probes = scored(q.where(col("vec_id") < nQueries))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("score"), asc("list_id"))))
      .where(col("rk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na2"), col("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    lists
      .join(broadcast(probes), Seq("list_id"))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), floor(col("cos") * 1000).as("cos_x1000"))
      .orderBy("query_id", "rank")
  }

  /** Plane p's coefficient for dim j: (h60("p:j") mod 2001) − 1000. A hash,
    * not an LCG over p·dims+j: an arithmetic progression mod 2001 makes the
    * planes correlated and the buckets useless. Public so the oracle SQL
    * embeds the *same* literals. */
  def planeCoeffs(planes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until planes).map(p => (0 until dims).map(j =>
      graft.functions.PortableHash.h60(s"$p:$j") % 2001L - 1000L))

  /** LSH-bucketed approximate NN: deterministic pseudo-random hyperplanes,
    * sign bits → bucket id; query joins only its bucket. Recall < 1 by
    * design; the scale path when brute force's candidate scan is too wide.
    * Multi-probe: queries also probe buckets at Hamming distance 1.
    *
    * The plane coefficients are data-independent constants, so they are
    * computed ONCE driver-side and embedded as literal arrays — the per-row
    * work is a pure integer dot product (no per-row-per-dim hashing, which
    * is what the previous in-plan `xxhash64(p:j)` form paid), and the whole
    * query is integer/IEEE-exact ⇒ oracle-checkable. */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, planes: Int = 8, dims: Int = 64): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val q = quantized(spark, dir)
    val coeffs = planeCoeffs(planes, dims)
    val sigCol = (0 until planes).map { p =>
      val planeArr = array(coeffs(p).map(lit): _*)
      val proj = aggregate(
        zip_with(col("qv"), planeArr, (x, c) => x * c),
        lit(0L), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1), p)).otherwise(0)
    }.reduce((a, b) => a.bitwiseOR(b))
    val hashed = q.withColumn("bucket", sigCol.cast("int"))
    val queries = hashed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na2"), col("bucket"))
    // multi-probe: original bucket + flip each bit once
    val probes = queries.select(col("query_id"), col("qa"), col("na2"),
      explode(array(col("bucket") +: (0 until planes).map(p =>
        col("bucket").bitwiseXOR(lit(1 << p))): _*)).as("bucket"))
    val cands = hashed.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("norm2").as("nb2"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands
      .join(broadcast(probes), Seq("bucket"))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), floor(col("cos") * 1000).as("cos_x1000"))
      .orderBy("query_id", "rank")
  }

  /** Distributed Lloyd's k-means over the quantized embeddings (q88) — the
    * iterative clustering primitive under IVF/semantic-dedup pipelines,
    * integer-exact end to end so the full iteration TRACE is
    * oracle-checkable: squared-euclidean assignment (`norm2 + cn2 − 2·dot`,
    * all bigint — no sqrt, no float comparisons), min-(d2, cid) tie rule,
    * centroid update by component-wise floor(mean) (floor of an
    * exactly-representable double ratio — cross-engine deterministic), and
    * the next iteration re-reads the FLOORED integer centroids, so engines
    * can never drift between iterations. Init = the k smallest vec_ids'
    * vectors; a centroid left with no members drops out (both engines
    * derive that identically).
    *
    * Scale shape (the reason this looks nothing like textbook Spark
    * k-means): per iteration, assignment is a completely NARROW pass — the
    * k centroids are collected to the driver (k·dim longs, KBs) and
    * embedded as a literal struct array in the plan, so each row evaluates
    * `array_min(transform(centroids, ...))` inside whole-stage codegen with
    * ZERO shuffle and no n×k row blow-up; the only exchange is the centroid
    * update's hash aggregate on (cid, pos) — k·dim tiny keys with map-side
    * combine (the `treeAggregate` shape MLlib uses, expressed
    * relationally). Driver-coordinated iteration like [[Dedup
    * .dupClustersDistributed]]: T actions for T iterations, never a
    * corpus-sized collect. */
  /** Literal struct-array of centroids — the vehicle that keeps k-means
    * assignment narrow (the plan carries the centroids; rows never join). */
  private def centArray(centroids: Seq[(Long, Seq[Long])]): Column =
    array(centroids.map { case (cid, cv) =>
      struct(
        lit(cid).as("cid"),
        typedLit(cv).as("cv"),
        lit(cv.map(v => v * v).sum).as("cn2"))
    }: _*)

  /** Narrow argmin assignment: best = array_min over struct(d2, cid) —
    * lexicographic struct ordering IS the (min distance, min centroid id)
    * tie rule; zero shuffle, no n×k row blow-up. */
  private def assignTo(vecs: DataFrame,
      centroids: Seq[(Long, Seq[Long])]): DataFrame = vecs
    .withColumn("best", array_min(transform(centArray(centroids), c =>
      struct(
        (col("norm2") + c.getField("cn2") -
          lit(2L) * GraftFunctions.dotI64(col("qv"), c.getField("cv")))
          .as("d2"),
        c.getField("cid").as("cid")))))
    .select(col("vec_id"), col("qv"), col("norm2"),
      col("best.cid").as("cid"), col("best.d2").as("d2"))

  /** Session-memoized driver values (k·dim longs per entry — tiny). */
  private val centroidMemo = new SessionMemo[Seq[(Long, Seq[Long])]]

  /** The converged (floored-integer) centroids after `iters` Lloyd's
    * rounds; init = the k smallest vec_ids' vectors. Driver-coordinated:
    * one tiny-key aggregate action per round (see [[kmeans]]). */
  private[graft] def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 2): Seq[(Long, Seq[Long])] =
    centroidMemo(spark, s"$dir|$k|$iters") {
      GraftFunctions.ensureRegistered(spark)
      val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
      var centroids: Seq[(Long, Seq[Long])] = vecs.where(col("vec_id") < k)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSeq
      for (_ <- 1 to iters) {
        centroids = assignTo(vecs, centroids)
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .withColumn("cv", floor(col("s") / col("n")))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), " +
            "s -> s.cv)").as("cv"))
          .orderBy("cid")
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSeq
      }
      centroids
    }

  def kmeans(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2)
      : DataFrame = {
    import spark.implicits._
    val centroids = kmeansCentroids(spark, dir, k, iters)
    val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")

    // final assignment under the converged centroids: cluster sizes +
    // modular checksums pinning membership, distance mass and the
    // centroids themselves
    val p = 1000003L
    assignTo(vecs, centroids)
      .groupBy(col("cid").as("cluster"))
      .agg(
        count(lit(1)).as("size"),
        sum(col("vec_id") % p).as("members_sum"),
        sum(col("d2") % p).as("d2_sum"))
      .join(
        broadcast(centroids.map { case (cid, cv) =>
          (cid, cv.map(_ % p).sum)
        }.toDF("cluster", "centroid_sum")),
        Seq("cluster"))
      .select(col("cluster"), col("size"), col("members_sum"),
        col("d2_sum"), col("centroid_sum"))
      .orderBy("cluster")
  }

  /** q117: CLUSTER-BALANCED subsampling — the post-clustering curation
    * step that keeps a uniform, reproducible slice of EVERY semantic
    * cluster (so a size-skewed corpus can't drown the small clusters in a
    * budget-bound subsample). Rank within each cluster by a deterministic
    * multiplicative hash of vec_id (modular-safe in 64 bits, so the
    * DuckDB replay is exact at any id scale), keep the first
    * `perCluster`. Assignment is the same literal-centroid narrow codegen
    * fold as q88/q89; the only exchange is the cluster-keyed window,
    * whose per-partition state is bounded by cluster size. */
  def clusterSample(spark: SparkSession, dir: String,
      perCluster: Int = 10): DataFrame = {
    val centroids = kmeansCentroids(spark, dir)
    val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
    val h = pmod((col("vec_id") % lit(1000003L)) * lit(2654435761L),
      lit(1000003L))
    assignTo(vecs, centroids)
      .withColumn("h", h)
      .withColumn("rank", row_number().over(
        Window.partitionBy("cid").orderBy(col("h"), col("vec_id")))
        .cast("long"))
      .where(col("rank") <= perCluster)
      .select(col("cid").as("cluster"), col("vec_id"), col("rank"))
      .orderBy("cluster", "rank")
  }

  /** q153: EMBEDDING-SPACE DRIFT — the vector-side companion of q96's
    * token drift: base vs incoming embeddings (vec_id % 10 split, q85's
    * convention) assigned to the SAME trained k-means clusters, then the
    * per-cluster population shift — counts, per-side shares ×10⁶, and
    * the cross-multiplied TV contribution (exact integer fractions, no
    * float accumulation). This is how an embedding-ingest pipeline
    * notices its distribution moving (new topic, degraded encoder)
    * without storing any history: the trained centroids are the frozen
    * reference frame.
    *
    * Scale shape: assignment is the narrow literal-centroid argmin (no
    * join, no n×k blow-up); the only exchange is the k-key aggregate;
    * side totals ride back as a broadcast 1-row frame. */
  def embeddingDrift(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val cents = kmeansCentroids(spark, dir, k)
    val asg = assignTo(
      quantized(spark, dir).select("vec_id", "qv", "norm2"), cents)
      .withColumn("inc", col("vec_id") % 10 >= 7)
    val per = asg.groupBy("cid")
      .agg(sum(when(!col("inc"), 1L).otherwise(0L)).as("base_n"),
        sum(when(col("inc"), 1L).otherwise(0L)).as("inc_n"))
    val tot = per.agg(sum("base_n").as("nb"), sum("inc_n").as("ni"))
    per.crossJoin(broadcast(tot))
      .select(col("cid").as("cluster"), col("base_n"), col("inc_n"),
        floor(col("base_n") * 1000000L / col("nb")).as("base_share_x1e6"),
        floor(col("inc_n") * 1000000L / col("ni")).as("inc_share_x1e6"),
        floor(abs(col("base_n") * col("ni") - col("inc_n") * col("nb"))
          * 1000000L / (col("nb") * col("ni"))).as("shift_x1e6"))
      .orderBy("cluster")
  }

  /** IVF ANN over the [[kmeans]] index (q89) — the build-then-query shape
    * of a real vector store: the corpus is bucketed by its nearest trained
    * centroid (the inverted file), each query probes only its `nprobe`
    * nearest centroids' buckets, and exact cosine runs inside the probed
    * buckets. Integer-exact bucketing + the same cosine expression as
    * [[bruteForceTopK]] make two properties hold exactly: the oracle
    * replays index build AND query relationally, and probing ALL buckets
    * reproduces brute force verbatim (spec-pinned — the recall/cost dial
    * provably converges to exhaustive search).
    *
    * Scale shape: centroids ride the plan as literals on BOTH sides (no
    * centroid join anywhere); the candidate side shuffles once on bucket
    * id, queries broadcast. At 100 TB the inverted file would persist
    * bucket-partitioned (the [[graft.ops.CorpusSink]] layout) and a query
    * touches nprobe/k of the data. */
  def ivfSearch(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, nprobe: Int = 2, kCentroids: Int = 8): DataFrame = {
    val centroids = kmeansCentroids(spark, dir, kCentroids)
    val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
    // inverted file: every candidate in its nearest centroid's bucket
    val cands = assignTo(vecs.where(col("vec_id") >= nQueries), centroids)
      .select(col("cid").as("bucket"), col("vec_id").as("neighbor_id"),
        col("qv").as("qb"), col("norm2").as("nb2"))
    ivfQuery(cands, ivfProbes(spark, dir, nQueries, nprobe, kCentroids), k)
  }

  /** Each query probes its nprobe nearest buckets: sort the literal
    * centroid array by (d2, cid) in-plan, slice, explode — still narrow. */
  private def ivfProbes(spark: SparkSession, dir: String, nQueries: Int,
      nprobe: Int, kCentroids: Int): DataFrame = {
    val centroids = kmeansCentroids(spark, dir, kCentroids)
    quantized(spark, dir).select("vec_id", "qv", "norm2")
      .where(col("vec_id") < nQueries)
      .withColumn("probed", slice(array_sort(
        transform(centArray(centroids), c =>
          struct(
            (col("norm2") + c.getField("cn2") -
              lit(2L) * GraftFunctions.dotI64(col("qv"), c.getField("cv")))
              .as("d2"),
            c.getField("cid").as("cid")))), 1, nprobe))
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na2"),
        explode(col("probed.cid")).as("bucket"))
  }

  private def ivfQuery(cands: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands
      .join(broadcast(probes), Seq("bucket"))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), floor(col("cos") * 1000).as("cos_x1000"))
      .orderBy("query_id", "rank")
  }

  /** Session-memoized PERSISTED inverted file: the q89 candidate relation
    * written as bucket-partitioned parquet — the layout a production
    * vector store keeps between queries. */
  private val ivfIndexMemo = new SessionMemo[String]

  def ensureIvfIndex(spark: SparkSession, dir: String, nQueries: Int = 8,
      kCentroids: Int = 8): String =
    ivfIndexMemo(spark, s"$dir|$nQueries|$kCentroids") {
      val centroids = kmeansCentroids(spark, dir, kCentroids)
      val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-ivf-index")).toString
      assignTo(vecs.where(col("vec_id") >= nQueries), centroids)
        .select(col("cid").as("bucket"), col("vec_id").as("neighbor_id"),
          col("qv").as("qb"), col("norm2").as("nb2"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      out
    }

  /** q118: IVF over the PERSISTED index — build once (bucket-partitioned
    * parquet on disk), query many: the probe relation joins the index on
    * its PARTITION column with the probe side broadcast, so dynamic
    * partition pruning serves each query batch from only the probed
    * buckets' files (nprobe/k of the index is read, now at the FILE level
    * — the claim q89's Scaladoc makes, realized on disk). Results must be
    * identical to the in-memory q89 (same oracle; spec additionally pins
    * the pruned scan). */
  def ivfSearchPersisted(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, nprobe: Int = 2, kCentroids: Int = 8): DataFrame = {
    val path = ensureIvfIndex(spark, dir, nQueries, kCentroids)
    val cands = spark.read.parquet(path)
      .select(col("bucket").cast("long").as("bucket"),
        col("neighbor_id"), col("qb"), col("nb2"))
    ivfQuery(cands, ivfProbes(spark, dir, nQueries, nprobe, kCentroids), k)
  }

  // ------------------------------------------------- product quantization

  /** PRODUCT QUANTIZATION (Jégou, Douze, Schmid — "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the storage-side
    * compression every 100 TB embedding corpus needs. The vector is split
    * into `m` subvectors; each subspace trains its own tiny k-means
    * codebook; a vector's code is its `m` nearest-subcentroid ids (64
    * float32 dims → m=4 single-byte ids, a 64× compression), and queries
    * score candidates WITHOUT decompression via ASYMMETRIC DISTANCE
    * (ADC): per query, an exact m×k table of subspace distances to every
    * codebook centroid; a candidate's approximate d2 is the sum of its m
    * table entries.
    *
    * Integer-exact end to end on the same quantized grid as q88 — the
    * per-subspace Lloyd's trace, the encoding argmin and every ADC score
    * are bigint, so the DuckDB oracle replays training, encoding AND
    * scoring bit-for-bit.
    *
    * Scale shape: training reuses the narrow literal-centroid fold per
    * subspace (the only exchange is the m·k·subdim-key update aggregate);
    * ENCODING is one fully narrow pass (m argmin folds per row, codegen);
    * SCORING rides the plan as per-query m×k literal lookup maps — zero
    * joins, zero shuffle until the per-query top-k window. A 100 TB
    * corpus keeps only the n×m byte codes hot (the inverted-file layout
    * of [[ensureIvfIndex]] composes: IVF-PQ), and a query touches no
    * float data at all. */

  /** Per-subspace slice of the quantized table:
    * (vec_id, s, sv, sn2) for s in 0 until m. */
  private def subVectors(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    vecs
      .select(col("vec_id"), col("qv"),
        explode(typedLit((0 until m).toList)).as("s"))
      .withColumn("sv", slice(col("qv"), col("s") * subDim + 1, lit(subDim)))
      .withColumn("sn2", GraftFunctions.dotI64(col("sv"), col("sv")))
      .select("vec_id", "s", "sv", "sn2")

  /** Narrow per-subspace argmin: the row's subspace picks its own literal
    * centroid array via element_at over an array-of-arrays — same
    * (d2, cid) struct-min tie rule as [[assignTo]], zero shuffle. */
  private def pqAssign(sub: DataFrame,
      books: Seq[(Int, Long, Seq[Long])], m: Int): DataFrame = {
    val perS = (0 until m).map { s =>
      centArray(books.filter(_._1 == s).map(b => (b._2, b._3)))
    }
    sub
      .withColumn("best", array_min(transform(
        element_at(array(perS: _*), col("s") + 1), c =>
          struct(
            (col("sn2") + c.getField("cn2") -
              lit(2L) * GraftFunctions.dotI64(col("sv"), c.getField("cv")))
              .as("d2"),
            c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("s"), col("sv"), col("sn2"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))
  }

  /** Session-memoized codebooks ((s, cid, centroid) — m·k·subdim longs,
    * KBs). Per-subspace Lloyd's with the exact q88 rules: init = the k
    * smallest vec_ids' subvectors, floored-integer centroid updates, so
    * m=1 degenerates to [[kmeansCentroids]] verbatim (spec-pinned). */
  private val pqMemo = new SessionMemo[(Int, Seq[(Int, Long, Seq[Long])])]

  /** The shared per-subspace Lloyd's loop: `sub` must carry
    * (vec_id, s, sv, sn2); q88's exact rules per subspace. */
  private def pqTrain(sub: DataFrame, m: Int, k: Int, iters: Int)
      : Seq[(Int, Long, Seq[Long])] = {
    var books: Seq[(Int, Long, Seq[Long])] = sub.where(col("vec_id") < k)
      .orderBy("s", "vec_id").collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Long](2).toVector))
      .toSeq
    for (_ <- 1 to iters) {
      books = pqAssign(sub, books, m)
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("s", "cid", "pos")
        .agg(sum("v").as("vs"), count(lit(1)).as("n"))
        .withColumn("cvp", floor(col("vs") / col("n")))
        .groupBy("s", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cvp))), " +
          "x -> x.cvp)").as("cv"))
        .orderBy("s", "cid")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toVector))
        .toSeq
    }
    books
  }

  private[graft] def pqCodebooks(spark: SparkSession, dir: String,
      m: Int = 4, k: Int = 8, iters: Int = 2)
      : (Int, Seq[(Int, Long, Seq[Long])]) =
    pqMemo(spark, s"$dir|pq|$m|$k|$iters") {
      GraftFunctions.ensureRegistered(spark)
      val vecs = quantized(spark, dir).select("vec_id", "qv")
      val dim = vecs.select(size(col("qv"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val subDim = dim / m
      (subDim, pqTrain(subVectors(vecs, m, subDim), m, k, iters))
    }

  /** q130: PQ-ADC top-k. Candidates encode narrowly (m argmin folds, all
    * literal centroids); each query's m×k exact distance table is
    * computed on the driver from the collected query subvectors (nQueries
    * × m rows — tiny) and rides the plan as literal lookup maps; the
    * approximate distance is a pure column sum of m map lookups. The ONLY
    * exchange in the whole query is the final per-query top-k window.
    * Output: (query_id, rank, neighbor_id, adc_d2), integer-exact. */
  def pqSearch(spark: SparkSession, dir: String, m: Int = 4, k: Int = 8,
      nQueries: Int = 8, topK: Int = 10): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("neighbor_id"))
    pqAdcScores(spark, dir, m, k, nQueries)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_d2"))
      .orderBy("query_id", "rank")
  }

  /** The shared ADC scorer: every (query, candidate) pair's approximate
    * distance — the m literal map lookups of [[pqSearch]], before any
    * ranking. */
  private def pqAdcScores(spark: SparkSession, dir: String, m: Int,
      k: Int, nQueries: Int): DataFrame = {
    val (subDim, books) = pqCodebooks(spark, dir, m, k)
    val vecs = quantized(spark, dir).select("vec_id", "qv")
    // query subvectors: nQueries × m rows — driver-sized by construction
    val qsubs = subVectors(vecs.where(col("vec_id") < nQueries), m, subDim)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Long](2).toVector, r.getLong(3)))
    // exact per-query subspace distance tables: (q, s) -> Map(cid -> d2)
    val dtab: Map[(Long, Int), Map[Long, Long]] = qsubs.map {
      case (qid, s, sv, sn2) =>
        (qid, s) -> books.filter(_._1 == s).map { case (_, cid, cv) =>
          val cn2 = cv.map(v => v * v).sum
          val dot = sv.lazyZip(cv).map(_ * _).sum
          cid -> (sn2 + cn2 - 2L * dot)
        }.toMap
    }.toMap
    val qids = qsubs.map(_._1).distinct.sorted
    // narrow candidate encoding: one argmin fold per subspace, no explode
    val codeCols = (0 until m).map { s =>
      val sv = slice(col("qv"), s * subDim + 1, subDim)
      val sn2 = GraftFunctions.dotI64(sv, sv)
      array_min(transform(
        centArray(books.filter(_._1 == s).map(b => (b._2, b._3))), c =>
          struct(
            (sn2 + c.getField("cn2") -
              lit(2L) * GraftFunctions.dotI64(sv, c.getField("cv"))).as("d2"),
            c.getField("cid").as("cid")))).getField("cid").as(s"code_$s")
    }
    val coded = vecs.where(col("vec_id") >= nQueries)
      .select(col("vec_id") +: codeCols: _*)
    // ADC per query: sum of m literal map lookups on the code columns
    val adcStructs = qids.map { qid =>
      val adc = (0 until m).map { s =>
        element_at(typedLit(dtab((qid, s))), col(s"code_$s"))
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), adc.as("adc_d2"))
    }
    coded
      .select(col("vec_id").as("neighbor_id"),
        explode(array(adcStructs: _*)).as("qa"))
      .select(col("qa.query_id").as("query_id"), col("neighbor_id"),
        col("qa.adc_d2").as("adc_d2"))
  }

  /** q240: PQ-ADC with an EXACT RE-RANK refine stage (round 17, VERDICT
    * r16 ask #8) — the production IVFADC+refine shape (Jégou et al.
    * §V.C): the compressed codes SHORTLIST `shortlist` candidates per
    * query by ADC, then the exact distance is computed for the
    * shortlist ONLY and the final top-k is exact-ordered. Raw ADC at
    * m=4 subspaces × 8 centroids is a 64× compression whose recall
    * floor (0.875 at the 10× probe) is the documented
    * quality/compression trade; the refine stage buys the recall back
    * for an O(shortlist) per-query exact pass — at 100 TB the full
    * float data is touched for `shortlist` rows per query, never the
    * corpus.
    *
    * Integer-exact end to end: the ADC shortlist is q130's bit-exact
    * derivation, the refine distances are the q24 grid's exact d2, so
    * the oracle replays both stages. */
  def pqSearchRerank(spark: SparkSession, dir: String, m: Int = 4,
      k: Int = 8, nQueries: Int = 8, topK: Int = 10,
      shortlist: Int = 40): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("neighbor_id"))
    val short = pqAdcScores(spark, dir, m, k, nQueries)
      .withColumn("srank", row_number().over(wAdc))
      .where(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
    val vecs = quantized(spark, dir).select(
      col("vec_id"), col("qv"), col("norm2"))
    // query vectors as plan literals (nQueries rows — driver-tiny), so
    // the exact pass is one narrow projection over the joined shortlist
    val qrows = vecs.where(col("vec_id") < nQueries)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector, r.getLong(2)))
    val qvArr = array(qrows.map(q => typedLit(q._2)): _*)
    val qn2Arr = array(qrows.map(q => lit(q._3)): _*)
    val qi = col("query_id").cast("int") + 1
    val w = Window.partitionBy("query_id")
      .orderBy(asc("d2"), asc("neighbor_id"))
    short
      .join(vecs.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .withColumn("d2",
        col("norm2") + element_at(qn2Arr, qi) -
          lit(2L) * GraftFunctions.dotI64(col("qv"),
            element_at(qvArr, qi)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("d2"))
      .orderBy("query_id", "rank")
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Residual of each vector against its assigned coarse centroid —
    * the quantity IVFADC's codebooks are trained on and its codes
    * encode (Jégou et al. 2011 §IV: quantize r = x − c(x), not x; the
    * residual distribution is much tighter than the raw one, so the
    * same codebook budget buys far less distortion). Integer-exact:
    * differences of bigints. Narrow: the coarse centroids ride the
    * plan both as the argmin array and as a cid→vector literal map. */
  private def residuals(vecs: DataFrame,
      coarse: Seq[(Long, Seq[Long])]): DataFrame = {
    val centMap = typedLit(coarse.map { case (cid, cv) => cid -> cv }.toMap)
    assignTo(vecs, coarse)
      .withColumn("rv", zip_with(col("qv"),
        element_at(centMap, col("cid")), (a, b) => a - b))
      .withColumn("rn2", GraftFunctions.dotI64(col("rv"), col("rv")))
      .select(col("vec_id"), col("cid").as("bucket"),
        col("rv"), col("rn2"))
  }

  /** Session-memoized RESIDUAL codebooks: the coarse quantizer is q88's
    * k-means; the per-subspace Lloyd's then runs over the residuals of
    * the whole corpus (training set = corpus — deterministic, no
    * sampling), with the exact q88 rules. */
  private val ivfPqMemo = new SessionMemo[(Int, Seq[(Int, Long, Seq[Long])])]

  private[graft] def ivfPqCodebooks(spark: SparkSession, dir: String,
      m: Int = 4, k: Int = 8, kCentroids: Int = 8, iters: Int = 2)
      : (Int, Seq[(Int, Long, Seq[Long])]) =
    ivfPqMemo(spark, s"$dir|ivfpq|$m|$k|$kCentroids|$iters") {
      GraftFunctions.ensureRegistered(spark)
      val coarse = kmeansCentroids(spark, dir, kCentroids)
      val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
      val dim = vecs.select(size(col("qv"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val subDim = dim / m
      val res = residuals(vecs, coarse)
        .select(col("vec_id"), col("rv").as("qv"))
      (subDim, pqTrain(subVectors(res, m, subDim), m, k, iters))
    }

  /** q131: IVF-PQ — the IVFADC composition a production vector store
    * runs at 100 TB (coarse quantizer prunes to nprobe/kCentroids of
    * the corpus; residual PQ codes are all a candidate stores — 8 B id
    * + m code bytes; ADC scores candidates without touching any float
    * data). Encoding is one narrow pass (coarse argmin → literal-map
    * residual → m residual argmins); each query's per-probed-bucket
    * m×k residual distance tables are exact driver-side integers riding
    * the plan as one literal map per query, so scoring is join-free and
    * the only exchange is the final per-query top-k window. A candidate
    * in an unprobed bucket never scores (its map lookup is null).
    * Integer-exact end to end: coarse training, residual codebooks,
    * codes AND every ADC score replay in the DuckDB oracle. */
  /** The narrow candidate-encoding columns: per-subspace residual
    * argmin under the literal codebooks. */
  private def ivfPqCodeCols(subDim: Int, m: Int,
      books: Seq[(Int, Long, Seq[Long])]): Seq[Column] =
    (0 until m).map { s =>
      val rsv = slice(col("rv"), s * subDim + 1, subDim)
      val rsn2 = GraftFunctions.dotI64(rsv, rsv)
      array_min(transform(
        centArray(books.filter(_._1 == s).map(b => (b._2, b._3))), c =>
          struct(
            (rsn2 + c.getField("cn2") -
              lit(2L) * GraftFunctions.dotI64(rsv, c.getField("cv")))
              .as("d2"),
            c.getField("cid").as("cid")))).getField("cid").as(s"code_$s")
    }

  /** Driver-side query prep: per query, the nprobe nearest coarse
    * buckets and the packed per-bucket m×k residual ADC table
    * (nQueries × nprobe × m × k exact integers — KBs). */
  private def ivfPqQueryTables(spark: SparkSession, dir: String,
      subDim: Int, m: Int, coarse: Seq[(Long, Seq[Long])],
      books: Seq[(Int, Long, Seq[Long])], nQueries: Int, nprobe: Int)
      : (Seq[Long], Map[Long, Map[Long, Long]], Seq[Long]) = {
    val queries = quantized(spark, dir).select("vec_id", "qv", "norm2")
      .where(col("vec_id") < nQueries)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector, r.getLong(2)))
    def d2To(qv: Seq[Long], n2: Long, cv: Seq[Long]): Long = {
      val cn2 = cv.map(v => v * v).sum
      val dot = qv.lazyZip(cv).map(_ * _).sum
      n2 + cn2 - 2L * dot
    }
    val adcTabs: Map[Long, Map[Long, Long]] = queries.map {
      case (qid, qv, n2) =>
        val probed = coarse.map { case (cid, cv) => (d2To(qv, n2, cv), cid) }
          .sorted.take(nprobe).map(_._2)
        qid -> probed.flatMap { b =>
          val bcv = coarse.find(_._1 == b).get._2
          val rq = qv.lazyZip(bcv).map(_ - _)
          (0 until m).flatMap { s =>
            val rqs = rq.slice(s * subDim, (s + 1) * subDim)
            val rqn2 = rqs.map(v => v * v).sum
            books.filter(_._1 == s).map { case (_, cid, cv) =>
              ((b * 16 + s) * 64 + cid) -> d2To(rqs, rqn2, cv)
            }
          }
        }.toMap
    }.toMap
    val probedUnion = adcTabs.values
      .flatMap(_.keys.map(key => key / (16L * 64L))).toSeq.distinct.sorted
    (queries.map(_._1), adcTabs, probedUnion)
  }

  /** The join-free ADC scoring + per-query top-k over an encoded
    * candidate relation carrying (bucket, neighbor_id, code_0..m-1). */
  private def ivfPqScore(coded: DataFrame, qids: Seq[Long],
      adcTabs: Map[Long, Map[Long, Long]], m: Int, topK: Int): DataFrame = {
    val adcStructs = qids.map { qid =>
      val adc = (0 until m).map { s =>
        element_at(typedLit(adcTabs(qid)),
          (col("bucket") * 16 + s) * 64 + col(s"code_$s"))
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), adc.as("adc_d2"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("neighbor_id"))
    coded
      .select(col("neighbor_id"), explode(array(adcStructs: _*)).as("qa"))
      .select(col("qa.query_id").as("query_id"), col("neighbor_id"),
        col("qa.adc_d2").as("adc_d2"))
      .where(col("adc_d2").isNotNull) // unprobed bucket → no score
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_d2"))
      .orderBy("query_id", "rank")
  }

  /** Encode a quantized vector relation (vec_id, qv, norm2) into IVF-PQ
    * index rows (bucket, neighbor_id, code_0..m-1) under the TRAINED
    * coarse + residual codebooks. Completely stateless and narrow (all
    * codebooks are plan literals — no join, no aggregation), so the same
    * encoder serves batch index builds AND streaming ingest of newly
    * arriving vectors ([[graft.streaming.StreamingStats.pqEncodedVectors]]). */
  private[graft] def ivfPqEncodeQuantized(spark: SparkSession, dir: String,
      vecs: DataFrame, m: Int = 4, k: Int = 8, kCentroids: Int = 8)
      : DataFrame = {
    val coarse = kmeansCentroids(spark, dir, kCentroids)
    val (subDim, books) = ivfPqCodebooks(spark, dir, m, k, kCentroids)
    residuals(vecs, coarse)
      .select(col("bucket") +: col("vec_id").as("neighbor_id") +:
        ivfPqCodeCols(subDim, m, books): _*)
  }

  def ivfPqSearch(spark: SparkSession, dir: String, m: Int = 4,
      k: Int = 8, nQueries: Int = 8, kCentroids: Int = 8, nprobe: Int = 2,
      topK: Int = 10): DataFrame = {
    require(m <= 16 && k <= 64, "ADC table key packing needs m<=16, k<=64")
    val coarse = kmeansCentroids(spark, dir, kCentroids)
    val (subDim, books) = ivfPqCodebooks(spark, dir, m, k, kCentroids)
    val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
    val coded = ivfPqEncodeQuantized(spark, dir,
      vecs.where(col("vec_id") >= nQueries), m, k, kCentroids)
    val (qids, adcTabs, _) = ivfPqQueryTables(spark, dir, subDim, m,
      coarse, books, nQueries, nprobe)
    ivfPqScore(coded, qids, adcTabs, m, topK)
  }

  /** Session-memoized PERSISTED IVF-PQ index: all a 100 TB corpus keeps
    * hot — (neighbor_id, m code ids) bucket-partitioned by coarse
    * centroid. No floats, no raw vectors: 8 B id + m codes per row. */
  private val ivfPqIndexMemo = new SessionMemo[String]

  def ensureIvfPqIndex(spark: SparkSession, dir: String, m: Int = 4,
      k: Int = 8, nQueries: Int = 8, kCentroids: Int = 8): String =
    ivfPqIndexMemo(spark, s"$dir|ivfpqidx|$m|$k|$nQueries|$kCentroids") {
      val vecs = quantized(spark, dir).select("vec_id", "qv", "norm2")
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-ivfpq-index")).toString
      ivfPqEncodeQuantized(spark, dir,
        vecs.where(col("vec_id") >= nQueries), m, k, kCentroids)
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      out
    }

  /** q132: IVF-PQ over the PERSISTED code index — build once on disk,
    * query many. The probed buckets are driver-known before the scan, so
    * the query pushes a STATIC partition filter: only the probed
    * buckets' files are ever read (file-level pruning, spec-pinned), and
    * what is read is just ids + code bytes. Results are identical to the
    * in-memory q131 (same oracle). */
  def ivfPqSearchPersisted(spark: SparkSession, dir: String, m: Int = 4,
      k: Int = 8, nQueries: Int = 8, kCentroids: Int = 8, nprobe: Int = 2,
      topK: Int = 10): DataFrame = {
    require(m <= 16 && k <= 64, "ADC table key packing needs m<=16, k<=64")
    val coarse = kmeansCentroids(spark, dir, kCentroids)
    val (subDim, books) = ivfPqCodebooks(spark, dir, m, k, kCentroids)
    val (qids, adcTabs, probedUnion) = ivfPqQueryTables(spark, dir, subDim,
      m, coarse, books, nQueries, nprobe)
    val path = ensureIvfPqIndex(spark, dir, m, k, nQueries, kCentroids)
    val coded = spark.read.parquet(path)
      .withColumn("bucket", col("bucket").cast("long"))
      .where(col("bucket").isin(probedUnion: _*))
    ivfPqScore(coded, qids, adcTabs, m, topK)
  }

  /** Session-memoized per-dimension (min, span) of the candidate vectors —
    * 2·dims longs, the entire SQ8 "model". */
  private val sq8Memo = new SessionMemo[Seq[(Long, Long)]]

  /** Per-dim min and span (max−min, floored at 1) over the CANDIDATE
    * vectors, the scalar-quantizer training pass: one narrow posexplode →
    * dims-key aggregate (map-side combined: the exchange carries
    * dims·partitions rows), then an O(dims) collect. */
  private[graft] def sq8MinSpan(spark: SparkSession, dir: String,
      nQueries: Int = 8): Seq[(Long, Long)] =
    sq8Memo(spark, s"$dir|sq8|$nQueries") {
      quantized(spark, dir).where(col("vec_id") >= nQueries)
        .select(posexplode(col("qv")).as(Seq("j", "v")))
        .groupBy("j").agg(min("v").as("mn"), max("v").as("mx"))
        .orderBy("j").collect()
        .map(r => (r.getLong(1), math.max(1L, r.getLong(2) - r.getLong(1))))
        .toSeq
    }

  /** q135: SCALAR QUANTIZATION (SQ8) top-k — the third classic
    * vector-compression family next to PQ (q130) and IVF-PQ (q131): each
    * dimension is independently quantized to an 8-bit code on its own
    * [min, max] grid (code = ⌊(v−mn)·255/span⌋), 8× smaller than the int64
    * vectors and 4× smaller than float32. Search is scan-decode-score: the
    * approximate pass ranks candidates by cosine against the DEQUANTIZED
    * grid point (all-integer decode: deq = mn + (code·span) div 255), a
    * `shortlist`-sized head per query is then re-ranked by the EXACT
    * integer dot — the standard refine step that restores exactness at the
    * top. All arithmetic before the final cosine is int64-exact, so the
    * DuckDB oracle replays the whole pipeline including the re-rank.
    *
    * Scale shape: the model is 2·dims driver longs embedded as plan
    * literals (one tiny training aggregate, memoized); encode+decode+score
    * is one narrow whole-stage-codegen pass over the candidates (no join —
    * queries ride broadcast); the only exchange is the per-query top-N
    * window on ≤ shortlist·queries rows. At 100 TB the store would hold
    * the 1-byte codes and fetch exact vectors only for shortlist rows —
    * here both live in one relation for oracle visibility. */
  def sq8TopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, shortlist: Int = 32): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val mm = sq8MinSpan(spark, dir, nQueries)
    val mnS = mm.map(_._1).mkString("array(", ",", ")")
    val spanS = mm.map(_._2).mkString("array(", ",", ")")
    val q = quantized(spark, dir)
    val queries = q.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na2"))
    val cands = q.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("norm2").as("nb2"))
      // fused encode→decode: deq = mn + (⌊(v−mn)·255/span⌋·span) div 255.
      // v−mn ≥ 0 and span ≥ 1, so both `div`s are floor — engine-exact.
      .withColumn("deq", expr(
        s"transform(qb, (v, j) -> element_at($mnS, j+1) + " +
          s"((((v - element_at($mnS, j+1)) * 255) div element_at($spanS, j+1))" +
          s" * element_at($spanS, j+1)) div 255)"))
      .withColumn("nb2q", expr(
        "aggregate(deq, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
    val wq = Window.partitionBy("query_id")
      .orderBy(desc("cos_q"), asc("neighbor_id"))
    val wx = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands
      .join(broadcast(queries))
      .withColumn("cos_q", dot(col("qa"), col("deq")).cast("double") /
        sqrt((col("na2") * col("nb2q")).cast("double")))
      .withColumn("apx_rank", row_number().over(wq))
      .where(col("apx_rank") <= shortlist)
      .withColumn("cos", dot(col("qa"), col("qb")).cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("rank", row_number().over(wx))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }
}
