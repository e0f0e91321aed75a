package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, Similarity}

class HnswSpec extends GraftSpecBase {
  import spark.implicits._

  /** Deterministic synthetic corpus: hash-derived unit-ish vectors,
    * larger than the sf0.001 table so the beam genuinely navigates
    * (not just exhausts the corpus).
    */
  private def synth(n: Int, dims: Int = 16) = {
    val rows = (0 until n).map { i =>
      val v = Array.tabulate(dims)(d =>
        (math.sin(i * 131 + d * 31) + math.cos(i * 17 - d * 7)).toFloat)
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("build is deterministic and invariant under input partitioning") {
    initLog()
    val e = synth(150)
    val a1 = Hnsw.buildGraph(e, dims0 = 16).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val a2 = Hnsw.buildGraph(e.repartition(7), dims0 = 16).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(a1 == a2, s"adjacency differs under repartition: " +
      s"only1=${(a1 -- a2).size} only2=${(a2 -- a1).size}")
    assert(a1.nonEmpty)
  }

  test("every layer is one connected component (the ring guarantee) " +
      "and out-degree is capped at 2M+4") {
    initLog()
    val e = synth(200)
    val adj = Hnsw.buildGraph(e, dims0 = 16).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    for (layer <- 0 to Hnsw.MaxLayer) {
      val edges = adj.filter(_._1 == layer).map(t => (t._2, t._3))
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSet
      if (nodes.size > 1) {
        // BFS from the smallest node
        val g = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val seen = collection.mutable.Set(nodes.min)
        val queue = collection.mutable.Queue(nodes.min)
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          g.getOrElse(u, Array.empty[Long]).foreach { v =>
            if (!seen(v)) { seen += v; queue += v }
          }
        }
        assert(seen.size == nodes.size,
          s"layer $layer: ${nodes.size - seen.size} nodes unreachable")
      }
      // 2M LSH edges + up to 4 cap-exempt ring edges (2 within-bucket
      // chain + 2 bucket-chain links) — the connectivity guarantee's
      // price (see buildGraph)
      val deg = edges.groupBy(_._1).values.map(_.length)
      if (deg.nonEmpty)
        assert(deg.forall(_ <= 2 * Hnsw.M + 4),
          s"layer $layer: out-degree above 2M+4 (max ${deg.max})")
    }
  }

  test("two tight clusters larger than the degree cap stay connected " +
      "(ring edges exempt from the top-2M cut) and recall holds") {
    initLog()
    // 2 clusters of 40 near-identical vectors: every node's 16
    // highest-cosine neighbors are in-cluster, so a capped ring
    // would lose all cross-cluster edges and split the layer (the
    // review-found hole; capping ring edges made half the queries
    // unreachable from the entry point)
    val rows = (0 until 80).map { i =>
      val c = i / 40
      val v = Array.tabulate(16)(d =>
        (if (d == c * 8) 1.0f else 0.0f) +
          0.001f * ((i * 31 + d * 7) % 10))
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val adj = Hnsw.buildGraph(e, dims0 = 16)
      .filter(col("layer") === 0)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).toSet
    assert(nodes.size == 80)
    val g = adj.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = collection.mutable.Set(0L)
    val queue = collection.mutable.Queue(0L)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      g.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!seen(v)) { seen += v; queue += v }
      }
    }
    assert(seen.size == 80, s"${80 - seen.size} nodes unreachable — " +
      "cross-cluster ring edges were pruned")
    // and the beam actually crosses: queries in cluster 0, brute-force
    // recall over the whole corpus
    val exact = Similarity.annBruteForce(e, nQueries = 4, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Hnsw.annHnswSearch(e, nQueries = 4, k = 10, dims0 = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"clustered recall=$recall")
  }

  test("recall@10 >= 0.8 vs brute force on the synthetic corpus and " +
      "the embeddings table") {
    initLog()
    for (e <- Seq(synth(400),
        graft.sources.Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("embedding")))) {
      val dims = e.select(size(col("embedding"))).head().getInt(0)
      val exact = Similarity.annBruteForce(e, nQueries = 5, k = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Hnsw.annHnswSearch(e, nQueries = 5, k = 10, dims0 = dims)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & got).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall=$recall dims=$dims")
    }
  }

  test("lane memo: shared across calls, releasable, and a post-release " +
      "call rebuilds to the identical result (the 100x OOM fix)") {
    initLog()
    def memoRdds() = spark.sparkContext.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.startsWith(Hnsw.LaneMemoRddName)))
    Hnsw.releaseGraphCache(spark) // clean slate from earlier suites
    val r1 = Hnsw.searchLane(spark, sf, nQueries = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(Hnsw.graphCacheSize >= 1, "searchLane did not populate the memo")
    assert(memoRdds().nonEmpty, "memoized graph RDD not pinned/named")
    // release frees the memo entry AND its block storage for the
    // session — the lane runner drops it the moment the family is done.
    // (The r17 descend keeps the beam ON THE DRIVER — no per-hop
    // checkpoint blocks exist; each hop's frontier-keys broadcast is
    // destroyed by ContextCleaner with the hop frame, so the named
    // memo is the only block storage a lane can leave behind.)
    Hnsw.releaseGraphCache(spark)
    assert(Hnsw.graphCacheSize == 0, "release left memo entries behind")
    assert(memoRdds().isEmpty,
      "release left the memoized graph's blocks pinned")
    // a later call rebuilds and returns the identical deterministic
    // result; the memo repopulates
    val r2 = Hnsw.searchLane(spark, sf, nQueries = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r1 == r2, "post-release rebuild diverged from the memoized run")
    assert(Hnsw.graphCacheSize >= 1)
    Hnsw.releaseGraphCache(spark)
  }

  test("driver beam guard: a query batch over MaxBeamQueries fails " +
      "loud instead of becoming an unbounded driver collect") {
    Hnsw.requireBeamBounded(Hnsw.MaxBeamQueries) // at the cap: fine
    val e = intercept[IllegalArgumentException] {
      Hnsw.requireBeamBounded(Hnsw.MaxBeamQueries + 1)
    }
    assert(e.getMessage.contains("MaxBeamQueries"),
      s"guard message must name the cap: ${e.getMessage}")
  }

  test("append: new vectors become findable without a rebuild, and " +
      "appended-layer connectivity holds (anchored ring)") {
    initLog()
    val e = synth(150)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hnsw-append").toString
    Hnsw.writeHnswIndex(e, tmp, dims0 = 16)
    val qv = e.filter(col("vec_id") === 2L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    // probe BEFORE the append so the driver-side hot-region cache
    // holds the pre-append graph — the post-append probe below then
    // proves the append invalidated it (a stale cache would miss the
    // appended twin entirely)
    val pre = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 3,
      excludeId = Some(2L)).collect()
    assert(pre.forall(_.getLong(0) < 1000L))
    // twins of vectors 0..4 at shifted ids — each must surface at
    // cos 1.0 for a probe with its original's embedding
    val twins = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Hnsw.appendToHnswIndex(twins, tmp, dims0 = 16)
    val got = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 3,
      excludeId = Some(2L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.head == ((1002L, 1.0)), got.toSeq)
    // layer-0 connectivity still holds over original ∪ appended
    val adj = spark.read.parquet(s"$tmp/adj")
      .filter(col("layer") === 0)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).toSet
    assert((0 until 5).forall(i => nodes(1000L + i)),
      "appended nodes missing from layer 0")
    val g = adj.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = collection.mutable.Set(nodes.min)
    val queue = collection.mutable.Queue(nodes.min)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      g.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!seen(v)) { seen += v; queue += v }
      }
    }
    assert(seen.size == nodes.size,
      s"${nodes.size - seen.size} nodes unreachable after append")
  }

  test("persisted index probe equals the in-memory search for a " +
      "corpus query (IVF parity conventions)") {
    initLog()
    val e = synth(150)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hnsw-idx").toString
    Hnsw.writeHnswIndex(e, tmp, dims0 = 16)
    val qv = e.filter(col("vec_id") === 3L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val probe = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 5,
      excludeId = Some(3L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Hnsw.annHnswSearch(e, nQueries = 5, k = 5, dims0 = 16)
      .filter(col("query_id") === 3L)
      .select(col("neighbor_id"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe == mem, s"probe=$probe\nmem  =$mem")
    // the probed twin of an indexed vector: its own exact copy plants
    // cos 1.0 at the top when not excluded
    val self = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 1).collect()
    assert(self.head.getLong(0) == 3L && self.head.getDouble(1) == 1.0)
  }

  test("driver-local probe is bit-identical to the distributed " +
      "descent (same candidates, folds, rounding, tie order)") {
    initLog()
    val e = synth(200)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hnsw-local").toString
    Hnsw.writeHnswIndex(e, tmp, dims0 = 16)
    for (qid <- Seq(1L, 7L, 42L)) {
      val qv = e.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val loc = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 5,
        excludeId = Some(qid)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val dist = Hnsw.hnswIndexProbeDistributed(spark, tmp, qv, k = 5,
        excludeId = Some(qid)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(loc == dist, s"qid=$qid\nlocal=$loc\ndist =$dist")
    }
    // no-exclude path: the self twin tops both
    val qv = e.filter(col("vec_id") === 9L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val loc = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dist = Hnsw.hnswIndexProbeDistributed(spark, tmp, qv, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(loc == dist)
    assert(loc.head._1 == 9L && loc.head._2 == 1.0)
    // PAGING path: shrink the cache budget below the graph size so
    // the probe pages per hop through the LRU (with eviction) instead
    // of the complete-load fast path — results must stay identical
    // the budget is a per-call parameter bound at cache creation (no
    // mutable global to restore) — invalidate so the small budget
    // creates a fresh paging-mode cache, and again after so later
    // probes re-bind the default
    Hnsw.invalidateProbeCache(tmp)
    try {
      val paged = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 3,
        cacheMaxEdges = 100).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(paged == dist, s"paged=$paged\ndist =$dist")
    } finally Hnsw.invalidateProbeCache(tmp)
  }

  test("append sizes planes from existing + delta: a 10x batch keeps " +
      "the candidate join linear and appended twins stay findable") {
    initLog()
    // the derivation itself: a 10x delta raises the plane count above
    // the r13 existing-only sizing
    assert(Hnsw.appendPlanesFor(1000, 10000) == Hnsw.planesFor(11000))
    assert(Hnsw.appendPlanesFor(1000, 10000) > Hnsw.planesFor(1001))
    // candidate-join row count = sum over buckets of |b|^2 per table:
    // at the delta-aware plane count it must be strictly below the
    // existing-only sizing on the REAL union membership (40 existing,
    // 400 appended — planesFor(441)=3 vs planesFor(41)=2)
    val ex = synth(40)
    val delta = synth(440).filter(col("vec_id") >= 40L)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val union = ex.unionByName(delta)
    def candRows(planes: Int): Long =
      union.select(posexplode(array((0 until Hnsw.Tables).map(t =>
          Similarity.bucketCol(16, planes, t)): _*)))
        .groupBy(col("pos"), col("col")).count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
    val withFix = candRows(Hnsw.appendPlanesFor(40, 400))
    val without = candRows(Hnsw.planesFor(41))
    assert(withFix < without,
      s"delta-aware planes did not shrink the candidate join: " +
        s"$withFix vs $without")
    // end-to-end: the 10x append still lands findable and connected
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hnsw-bigappend").toString
    Hnsw.writeHnswIndex(ex, tmp, dims0 = 16)
    Hnsw.appendToHnswIndex(delta, tmp, dims0 = 16)
    val qv = delta.filter(col("vec_id") === 5100L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val got = Hnsw.hnswIndexProbe(spark, tmp, qv, k = 1).collect()
    assert(got.head.getLong(0) == 5100L && got.head.getDouble(1) == 1.0,
      got.toSeq)
    // layer-0 connectivity over original ∪ the 10x append (both-ends
    // anchored chain)
    val adj = spark.read.parquet(s"$tmp/adj")
      .filter(col("layer") === 0)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).toSet
    assert(nodes.size == 440, s"layer 0 holds ${nodes.size} nodes")
    val g = adj.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = collection.mutable.Set(nodes.min)
    val queue = collection.mutable.Queue(nodes.min)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      g.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!seen(v)) { seen += v; queue += v }
      }
    }
    assert(seen.size == nodes.size,
      s"${nodes.size - seen.size} nodes unreachable after 10x append")
  }
}
