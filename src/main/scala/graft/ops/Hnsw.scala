package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.{SessionMemo, Tables}

/** Graph-based ANN: partition-local HNSW graphs (Malkov & Yashunin,
  * "Efficient and robust approximate nearest neighbor search using
  * Hierarchical Navigable Small World graphs", 2016) searched in parallel,
  * merged by a per-query top-k — the standard *sharded* deployment of
  * HNSW, where each shard owns an independent graph over its slice and
  * queries fan out to every shard.
  *
  * Spark mapping: candidates hash-partition deterministically on vec_id;
  * each partition builds its graph in one `mapPartitions` pass (the
  * correct tool here — graph construction is genuinely imperative,
  * SURVEY's custom-operator preference (d)) and beam-searches every
  * query; the only exchange is the per-query merge of P·k candidate
  * rows. Nothing about the build is ever collected to the driver, and a
  * 1000-shard build is embarrassingly parallel.
  *
  * Determinism (what makes q137 oracle-checkable): insertion order is the
  * within-partition vec_id sort, node levels come from the portable h60
  * hash, and every comparison in build and search orders by the exact
  * integer pair (d2, id) — no floats anywhere until the final cosine
  * re-rank, which the oracle replays. Beam width is sized so the local
  * cosine top-k survives the integer-d2 beam (the metric-mismatch slack
  * between unnormalized d2 and cosine); recall vs brute force is pinned
  * by the oracle at sf0.01 and spec-checked at sf0.001.
  */
object Hnsw {

  /** Node level: trailing-zero count of the portable hash — geometric
    * with p=1/2 like the paper's floor(−ln(u)·mL), capped. */
  private[graft] def levelOf(id: Long, maxLevel: Int): Int =
    math.min(maxLevel,
      java.lang.Long.numberOfTrailingZeros(
        graft.functions.PortableHash.h60(s"hnsw:$id")))

  private final case class Node(id: Long, v: Array[Long], norm2: Long,
      level: Int) {
    // adjacency per layer 0..level; edges kept sorted by (d2, id)
    val edges: Array[mutable.ArrayBuffer[Int]] =
      Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
  }

  /** One shard's graph: imperative build + beam search, all integer. */
  private final class Graph(m: Int, efC: Int) {
    private val nodes = mutable.ArrayBuffer.empty[Node]
    private var entry = -1 // index of current max-level entry point

    private def d2(a: Node, b: Node): Long = {
      var s = 0L; var i = 0
      val va = a.v; val vb = b.v
      while (i < va.length) { val d = va(i) - vb(i); s += d * d; i += 1 }
      s
    }

    private def d2To(q: Array[Long], n: Node): Long = {
      var s = 0L; var i = 0
      val vn = n.v
      while (i < q.length) { val d = q(i) - vn(i); s += d * d; i += 1 }
      s
    }

    /** Greedy beam search at one layer from `ep`, width `ef`; returns
      * candidates sorted by (d2, id). */
    private def searchLayer(q: Array[Long], ep: Seq[Int], layer: Int,
        ef: Int): Vector[(Long, Int)] = {
      // (d2, idx) ordering everywhere: deterministic ties
      implicit val ord: Ordering[(Long, Int)] = Ordering.Tuple2
      val visited = mutable.HashSet.empty[Int]
      val cand = mutable.PriorityQueue.empty[(Long, Int)](ord.reverse) // min
      val best = mutable.PriorityQueue.empty[(Long, Int)](ord)         // max
      ep.foreach { i =>
        if (visited.add(i)) {
          val e = (d2To(q, nodes(i)), i); cand.enqueue(e); best.enqueue(e)
        }
      }
      while (best.size > ef) best.dequeue()
      while (cand.nonEmpty) {
        val (cd, ci) = cand.dequeue()
        if (best.size >= ef && cd > best.head._1) cand.clear()
        else nodes(ci).edges(layer).foreach { ni =>
          if (visited.add(ni)) {
            val e = (d2To(q, nodes(ni)), ni)
            if (best.size < ef || ord.lt(e, best.head)) {
              cand.enqueue(e); best.enqueue(e)
              if (best.size > ef) best.dequeue()
            }
          }
        }
      }
      best.toVector.sorted
    }

    /** Greedy descent (ef=1) through layers above `to`. */
    private def descend(q: Array[Long], from: Int, to: Int): Int = {
      var ep = entry
      var layer = from
      while (layer > to) {
        var improved = true
        var cur = (d2To(q, nodes(ep)), ep)
        while (improved) {
          improved = false
          nodes(cur._2).edges(layer).foreach { ni =>
            val e = (d2To(q, nodes(ni)), ni)
            if (Ordering.Tuple2[Long, Int].lt(e, cur)) {
              cur = e; improved = true
            }
          }
        }
        ep = cur._2
        layer -= 1
      }
      ep
    }

    def insert(n: Node): Unit = {
      val idx = nodes.length
      nodes += n
      if (idx == 0) { entry = 0; return }
      val maxL = nodes(entry).level
      // greedy through layers maxL..L+1, then beam from L downward
      var ep = Seq(descend(n.v, maxL, math.min(n.level, maxL)))
      var layer = math.min(n.level, maxL)
      while (layer >= 0) {
        val found = searchLayer(n.v, ep, layer, efC)
        val cap = if (layer == 0) 2 * m else m
        val chosen = found.take(m)
        chosen.foreach { case (_, ci) =>
          n.edges(layer) += ci
          val back = nodes(ci).edges(layer)
          back += idx
          if (back.length > cap) {
            // prune to the cap nearest by (d2, id) — deterministic
            val ranked = back.map(bi => (d2(nodes(ci), nodes(bi)), bi))
              .sorted.take(cap).map(_._2)
            back.clear(); back ++= ranked
          }
        }
        ep = found.map(_._2)
        layer -= 1
      }
      if (n.level > maxL) entry = idx
    }

    /** Full search: descend to layer 0, beam `ef` wide, return node ids
      * of the ef best by (d2, id). */
    def search(q: Array[Long], ef: Int): Vector[Node] = {
      if (nodes.isEmpty) return Vector.empty
      val ep = descend(q, nodes(entry).level, 0)
      searchLayer(q, Seq(ep), 0, ef).map(c => nodes(c._2))
    }

    def size: Int = nodes.length

    /** The built nodes in insertion order (adjacency by node INDEX) —
      * what the persisted index serializes. */
    def nodesView: Seq[Node] = nodes.toSeq

    /** Adopt pre-built nodes (vec_id-sorted, edges already wired by
      * index) — the reload path. Entry = first index at the max level,
      * which is exactly where the insertion loop leaves it (entry only
      * moves on a STRICT level increase, so it ends at the first
      * occurrence of the maximum in insertion order). */
    def loadAll(ns: Seq[Node]): Unit = {
      require(nodes.isEmpty, "loadAll on a non-empty graph")
      nodes ++= ns
      if (ns.nonEmpty) {
        val maxL = ns.iterator.map(_.level).max
        entry = ns.indexWhere(_.level == maxL)
      }
    }
  }

  private[ops] case class Cand(vec_id: Long, qv: Seq[Long], norm2: Long)

  /** q137: sharded-HNSW cosine top-k, exact-cosine re-rank of each
    * shard's beam. Same output contract (and oracle) as q24: the beam is
    * sized so every shard's true cosine top-k survives it at the gated
    * scales. */
  private val MaxLevel = 4

  /** Size-gated driver collect: the nQueries query vectors that ride the
    * search closures, (id, vector, norm²) sorted by id. */
  private def collectQueries(spark: SparkSession, dir: String,
      nQueries: Int): Array[(Long, Array[Long], Long)] =
    Similarity.quantized(spark, dir)
      .where(col("vec_id") < nQueries)
      .select(col("vec_id"), col("qv"), col("norm2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)

  /** Beam-search every query against one shard graph, emitting exact
    * cosines for the beam survivors. */
  private def searchShard(g: Graph,
      queries: Array[(Long, Array[Long], Long)],
      efSearch: Int): Iterator[(Long, Long, Double)] =
    queries.iterator.flatMap { case (qid, qv, na2) =>
      g.search(qv, efSearch).map { n =>
        var dot = 0L; var i = 0
        while (i < qv.length) { dot += qv(i) * n.v(i); i += 1 }
        (qid, n.id, dot.toDouble / math.sqrt((na2 * n.norm2).toDouble))
      }
    }

  /** Per-query global top-k over the union of shard beams. */
  private def mergeTopK(local: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    local
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  def hnswTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, shards: Int = 4, m: Int = 8, efC: Int = 64,
      efSearch: Int = 128): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val queries = collectQueries(spark, dir, nQueries)
    val local = Similarity.quantized(spark, dir)
      .where(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("qv"), col("norm2"))
      .as[Cand]
      .repartition(shards, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .mapPartitions { it =>
        val g = new Graph(m, efC)
        it.foreach(c => g.insert(Node(c.vec_id, c.qv.toArray, c.norm2,
          levelOf(c.vec_id, MaxLevel))))
        searchShard(g, queries, efSearch)
      }
      .toDF("query_id", "neighbor_id", "cos")
    mergeTopK(local, k)
  }

  /** One persisted row per (node, layer): adjacency travels as stable
    * vec_ids; the vector and norm ride on every row (nodes are level 0
    * with p=1/2³ exceptions, so the duplication is ≤ 1/8 overhead). */
  private[ops] case class IdxRow(shard: Int, vec_id: Long, level: Int,
      layer: Int, neighbors: Seq[Long], qv: Seq[Long], norm2: Long)

  private val indexMemo = new SessionMemo[String]

  /** Serialize one built shard graph as (node, layer) adjacency rows. */
  private def idxRowsOf(shard: Int, g: Graph): Iterator[IdxRow] = {
    val ns = g.nodesView
    ns.iterator.flatMap { n =>
      (0 to n.level).iterator.map { layer =>
        IdxRow(shard, n.id, n.level, layer,
          n.edges(layer).map(i => ns(i).id).toSeq,
          n.v.toSeq, n.norm2)
      }
    }
  }

  /** Rebuild one shard graph from its persisted adjacency rows (the q139
    * reload — exact: the edges are the build's edges and the entry point
    * recomputation lands where the insertion loop left it). */
  private def loadShard(rows: Iterator[IdxRow], m: Int, efC: Int): Graph = {
    val byNode = rows.toVector.groupBy(_.vec_id).toVector.sortBy(_._1)
    val idToIdx = byNode.iterator.map(_._1).zipWithIndex.toMap
    val ns = byNode.map { case (id, rs) =>
      Node(id, rs.head.qv.toArray, rs.head.norm2, rs.head.level)
    }
    byNode.iterator.zipWithIndex.foreach { case ((_, rs), i) =>
      rs.foreach(r => ns(i).edges(r.layer) ++= r.neighbors.map(idToIdx))
    }
    val g = new Graph(m, efC)
    g.loadAll(ns)
    g
  }

  /** Non-memoized index build over vec_id ∈ [nQueries, upTo): the
    * incremental-ingest spec builds a PREFIX index here and streams the
    * rest in. */
  def buildHnswIndex(spark: SparkSession, dir: String, nQueries: Int = 8,
      shards: Int = 4, m: Int = 8, efC: Int = 64,
      upTo: Option[Long] = None): String = {
    import spark.implicits._
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-hnsw-index")).toString
    Similarity.quantized(spark, dir)
      .where(col("vec_id") >= nQueries &&
        upTo.map(col("vec_id") < _).getOrElse(lit(true)))
      .select(col("vec_id"), col("qv"), col("norm2"))
      .as[Cand]
      .repartition(shards, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .mapPartitions { it =>
        val shard = org.apache.spark.TaskContext.getPartitionId()
        val g = new Graph(m, efC)
        it.foreach(c => g.insert(Node(c.vec_id, c.qv.toArray, c.norm2,
          levelOf(c.vec_id, MaxLevel))))
        idxRowsOf(shard, g)
      }
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    out
  }

  /** Session-memoized PERSISTED HNSW index: each shard's graph built once
    * in its partition and serialized as shard-partitioned parquet — the
    * build-once/query-many deployment (same contract as the persisted
    * IVF-PQ index). Nothing passes through the driver; each task writes
    * its own shard's adjacency. */
  def ensureHnswIndex(spark: SparkSession, dir: String, nQueries: Int = 8,
      shards: Int = 4, m: Int = 8, efC: Int = 64): String =
    indexMemo(spark, s"$dir|hnswidx|$nQueries|$shards|$m|$efC")(
      buildHnswIndex(spark, dir, nQueries, shards, m, efC))

  /** INCREMENTAL insertion into a persisted index (VERDICT r9 ask #7):
    * each shard's graph is reloaded from its adjacency rows, the batch's
    * arrivals are routed to their shard with the SAME hash the build's
    * `repartition(shards, vec_id)` used (`pmod(hash(vec_id), shards)` —
    * HashPartitioning is exactly this expression pair, spec-pinned
    * against the persisted shard column) and inserted in vec_id order by
    * the standard HNSW insertion — the algorithm is incremental by
    * construction; a reload-then-insert is the SAME code path a fresh
    * build runs. For id-monotone arrivals (append-only ingest: every new
    * vec_id above the shard's existing ids) the overall insertion
    * sequence equals the full rebuild's sorted order, so the updated
    * index — and any search over it — is BIT-IDENTICAL to a from-scratch
    * batch build over the union (spec-proven). Non-monotone arrivals
    * still yield a valid HNSW, just not the rebuild's exact edges.
    *
    * Scale shape: one cogroup exchange of index rows + arrivals on the
    * shard key; nothing through the driver; shards without arrivals
    * round-trip unchanged (reload → re-emit is the identity on the
    * adjacency relation). Parquet being immutable, each call writes a new
    * index directory — the micro-batch commit a production store would
    * do as per-shard delta files. */
  def hnswIndexInsert(spark: SparkSession, indexPath: String,
      arrivals: DataFrame, shards: Int = 4, m: Int = 8,
      efC: Int = 64): String = {
    import spark.implicits._
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-hnsw-index")).toString
    val idx = spark.read.parquet(indexPath)
      .select(col("shard").cast("int").as("shard"), col("vec_id"),
        col("level").cast("int").as("level"),
        col("layer").cast("int").as("layer"),
        col("neighbors"), col("qv"), col("norm2"))
      .as[IdxRow]
      .groupByKey(_.shard)
    val arr = arrivals
      .select(col("vec_id"), col("qv"), col("norm2"),
        pmod(hash(col("vec_id")), lit(shards)).cast("int").as("shard"))
      .as[(Long, Seq[Long], Long, Int)]
      .groupByKey(_._4)
    idx.cogroup(arr) { (shard, idxRows, newRows) =>
        val g = loadShard(idxRows, m, efC)
        newRows.toVector.sortBy(_._1).foreach { case (id, qv, n2, _) =>
          g.insert(Node(id, qv.toArray, n2, levelOf(id, MaxLevel)))
        }
        idxRowsOf(shard, g)
      }
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    out
  }

  /** q139: search over the PERSISTED index — rebuild each shard graph
    * from its adjacency rows (one groupByKey exchange of the INDEX, never
    * the corpus) and run the identical beam search. Reload is exact: the
    * edges are the build's edges, and entry-point recomputation lands on
    * the same node the insertion loop left it at (see [[Graph.loadAll]])
    * — so the relation is bit-identical to the in-memory q137 and shares
    * its (q24) oracle. */
  def hnswSearchPersisted(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5, shards: Int = 4, m: Int = 8,
      efC: Int = 64, efSearch: Int = 128): DataFrame =
    hnswSearchIndex(spark, dir,
      ensureHnswIndex(spark, dir, nQueries, shards, m, efC),
      nQueries, k, m, efC, efSearch)

  /** q161: the INCREMENTAL-INGEST contract as an oracle-checked query —
    * build the persisted index over only the FIRST HALF of the corpus,
    * insert the second half through [[hnswIndexInsert]] (the micro-batch
    * kernel), and search the evolved index. Arrival is id-monotone, so
    * the evolved index must be bit-identical to a full build and the
    * relation must hash-match q137/q24's brute-force oracle — an ingest
    * bug (mis-routed shard, broken reload, wrong insertion order)
    * surfaces as a correctness-gate failure, not just a spec failure.
    * Index construction is session-memoized like [[ensureHnswIndex]]. */
  def hnswIngestedTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, shards: Int = 4, m: Int = 8, efC: Int = 64,
      efSearch: Int = 128): DataFrame = {
    val path = indexMemo(spark, s"$dir|hnswing|$nQueries|$shards|$m|$efC") {
      val maxId = Similarity.quantized(spark, dir)
        .agg(max(col("vec_id"))).head.getLong(0)
      val split = (nQueries.toLong + maxId) / 2
      val prefix = buildHnswIndex(spark, dir, nQueries, shards, m, efC,
        upTo = Some(split))
      val arrivals = Similarity.quantized(spark, dir)
        .where(col("vec_id") >= split)
        .select(col("vec_id"), col("qv"), col("norm2"))
      hnswIndexInsert(spark, prefix, arrivals, shards, m, efC)
    }
    hnswSearchIndex(spark, dir, path, nQueries, k, m, efC, efSearch)
  }

  /** q139's search body over an EXPLICIT index directory — the entry the
    * incremental-ingest path queries after each micro-batch insert. */
  def hnswSearchIndex(spark: SparkSession, dir: String, indexPath: String,
      nQueries: Int = 8, k: Int = 5, m: Int = 8,
      efC: Int = 64, efSearch: Int = 128): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val queries = collectQueries(spark, dir, nQueries)
    val local = spark.read.parquet(indexPath)
      .select(col("shard").cast("int").as("shard"), col("vec_id"),
        col("level").cast("int").as("level"),
        col("layer").cast("int").as("layer"),
        col("neighbors"), col("qv"), col("norm2"))
      .as[IdxRow]
      .groupByKey(_.shard)
      .flatMapGroups { (_, rows) =>
        searchShard(loadShard(rows, m, efC), queries, efSearch)
      }
      .toDF("query_id", "neighbor_id", "cos")
    mergeTopK(local, k)
  }
}
