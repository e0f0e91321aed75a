package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Graph-based ANN: a layered navigable small-world index — the
  * fourth index family next to LSH (no train, L× storage), IVF
  * (1× storage, data-adaptive cells) and PQ (compressed codes).
  * Graph indexes buy the best recall-per-probe on high-dim data at
  * the cost of a build step; this one re-derives the HNSW layout
  * (Malkov & Yashunin 2016: geometric layer assignment, greedy
  * coarse-to-fine descent, beam search at the base layer) with the
  * BUILD re-expressed for a shared-nothing engine.
  *
  * Why not the paper's build: HNSW inserts points ONE AT A TIME,
  * each insert greedy-searching the graph built so far — inherently
  * sequential, the one thing a 1000-executor cluster cannot do. The
  * distributed analogue (the NN-descent lineage, Dong et al. 2011):
  * build each layer's M-NN graph directly with bucketed candidate
  * generation — multi-table sign-LSH equi-joins (Charikar 2002, the
  * machinery the LSH index already ships) — then keep the top-2M
  * neighbors per node. ALL layers build in ONE plan: nodes explode
  * into their layer memberships, buckets key on (layer, table,
  * bucket), the top-M window keys on (layer, src) — one job, not one
  * pipeline per layer (the per-layer form spent its wall-clock on
  * scheduling 4 × 4 tiny joins; measured 2-3× slower at sf0.1).
  *
  * Connectivity guarantee: LSH buckets alone can strand a node
  * (no collision in any table ⟹ no edges ⟹ unreachable at any
  * beam). Every layer therefore also carries a deterministic RING:
  * layer members ordered by (xxhash64(id), id) are chained pairwise,
  * making each layer one connected component BY CONSTRUCTION
  * (spec'd BFS). Ring order is established inside 256 bounded
  * hash-buckets per layer (windows over (layer, bucket)) plus ONE
  * collected endpoint table (≤ layers × 256 rows, driver-safe at any
  * corpus size) — the `mix_shard_shuffle` two-phase global-order
  * trick; no single-task global window anywhere.
  *
  * Adjacency rows carry the DESTINATION embedding (the FAISS-HNSW
  * vectors-with-graph layout): search then scores a hop's neighbors
  * map-side against the query instead of re-joining the corpus per
  * hop. Storage is ≤ 2M × dims floats per node — the graph family's
  * documented trade (vs IVF's 1×, PQ's sub-1×).
  *
  * Scale shape: layer ℓ holds ~n/M^ℓ nodes (geometric assignment),
  * planes derive from the layer's node count so bucket size pins at
  * ~[[TargetBucket]] and candidates stay ~TargetBucket·n·Tables —
  * linear in n at every scale (a FIXED plane count would make the
  * within-bucket self-join quadratic). Search state is (queries ×
  * beam) rows; each hop is one equi-join against the adjacency —
  * broadcast-sized frontier, bounded fan-out.
  *
  * Everything is hash-derived and tie-broken — build and search are
  * bit-deterministic (spec'd: identical adjacency under input
  * repartitioning).
  */
object Hnsw {

  /** Target out-degree per node per layer (the paper's M). */
  val M = 8

  /** Layer cap — ln-geometric levels rarely exceed 3 at any test
    * scale; the cap bounds the descent loop, not correctness.
    */
  val MaxLayer = 3

  /** Sign-LSH candidate generation: tables × derived planes per
    * layer (see [[planesFor]]).
    */
  val Tables = 4
  val MinPlanes = 2
  val TargetBucket = 64

  /** Ring buckets — the bounded-window global-order trick. */
  private val RingBuckets = 256

  private[graft] def planesFor(layerNodes: Long): Int =
    math.min(20, math.max(MinPlanes,
      math.ceil(math.log(math.max(2.0,
        layerNodes.toDouble / TargetBucket)) / math.log(2.0)).toInt))

  /** Plane count for an APPEND's candidate join: sized to existing +
    * delta layer members — sizing to the existing count alone lets an
    * append batch ≳ the index see oversized buckets and a
    * toward-quadratic candidate join in the batch (r13 item 3).
    */
  private[graft] def appendPlanesFor(existing: Long,
      delta: Long): Int =
    planesFor(math.max(1L, existing + delta))

  /** Geometric layer: u ∈ (0,1) hash-uniform per id, level =
    * floor(−ln(u)/ln(M)) capped — the paper's mL = 1/ln(M) draw with
    * xxhash64 in place of RNG state.
    */
  private[operators] def levelCol(id: Column): Column =
    least(lit(MaxLayer), floor(
      -log((pmod(xxhash64(id, lit(0x48435731L)), lit(65536L))
        .cast("double") + 0.5) / 65536.0) / math.log(M)).cast("int"))

  /** The per-layer connectivity ring over a membership frame (layer,
    * vec_id, …): members ordered by (xxhash64(id), id) are chained
    * pairwise inside [[RingBuckets]] bounded windows, buckets chained
    * by ONE collected endpoint table (≤ layers × 256 rows,
    * driver-safe at any corpus size), both directions. Shared by
    * [[buildGraph]] and [[compactHnswIndex]] — the one-component
    * guarantee has a single definition.
    */
  private def ringEdges(mem: DataFrame): DataFrame = {
    val spark = mem.sparkSession
    import spark.implicits._
    val keyed = mem.select(col("layer"), col("vec_id"),
      pmod(xxhash64(col("vec_id"), lit(0x52494E47L)),
        lit(RingBuckets.toLong)).as("__rb"),
      xxhash64(col("vec_id")).as("__rh"))
    val wRing = Window.partitionBy(col("layer"), col("__rb"))
      .orderBy(col("__rh"), col("vec_id"))
    val within = keyed
      .withColumn("__nxt", lead(col("vec_id"), 1).over(wRing))
      .filter(col("__nxt").isNotNull)
      .select(col("layer"), col("vec_id").as("src"), col("__nxt").as("dst"))
    val ends = keyed.groupBy(col("layer"), col("__rb"))
      .agg(min_by(col("vec_id"), struct(col("__rh"), col("vec_id"))).as("f"),
        max_by(col("vec_id"), struct(col("__rh"), col("vec_id"))).as("l"))
      .orderBy(col("layer"), col("__rb")).collect()
      .map(r => (r.getInt(0), r.getAs[Long]("f"), r.getAs[Long]("l")))
    val cross = ends.groupBy(_._1).toSeq.flatMap { case (layer, bs) =>
      bs.sliding(2).collect {
        case Array((_, _, lastA), (_, firstB, _)) => (layer, lastA, firstB)
      }
    }
    val crossDf =
      if (cross.isEmpty)
        spark.emptyDataset[(Int, Long, Long)].toDF("layer", "src", "dst")
      else cross.toDF("layer", "src", "dst")
    val ringDir = within.unionByName(crossDf)
    ringDir.unionByName(ringDir.select(col("layer"),
      col("dst").as("src"), col("src").as("dst")))
  }

  /** Build the layered adjacency in one plan:
    * (layer, src, dst, cos, de) — ≤ 2M highest-cosine neighbors per
    * (layer, src) from LSH-bucket candidates ∪ the per-layer ring,
    * dst embeddings embedded (see the object scaladoc).
    */
  def buildGraph(e: DataFrame, dims0: Int = -1): DataFrame = {
    // the returned frame reads the membership checkpoint; callers that
    // materialize the adjacency release it through a Materialize.scope
    // (r17 ADVICE: the mem blocks, ~1.13 rows/node with riding
    // embeddings, must not stay pinned once the adjacency supersedes
    // them)
    val dims = Similarity.dimsOf(e, dims0)
    adjacency(membership(e), dims)
  }

  private def membership(e: DataFrame): DataFrame = {
    val base = Par.ensure(e).select(col("vec_id"), col("embedding"))
      .withColumn("__lvl", levelCol(col("vec_id")))
    // membership: a node appears at layers 0..lvl. MATERIALIZED once
    // (r17, guide §2.4): the membership frame feeds ~8 subtrees — the
    // four per-layer bucket slices, the ring window, the ring endpoint
    // collect, and both ring-edge embedding joins — and each execution
    // otherwise re-ran the scan + level hash + explode (and the
    // Par.ensure repartition). Its blocks are strictly smaller than
    // the adjacency this function materializes anyway (≤ 2M+4 edges ×
    // riding embeddings vs ~1.13 rows per node), so the storage class
    // is already paid for. Same rows, bit-identical adjacency
    // (HnswSpec determinism pin).
    Materialize.cut(base.withColumn("layer",
      explode(sequence(lit(0), col("__lvl")))).drop("__lvl"))
  }

  private def adjacency(mem: DataFrame, dims: Int): DataFrame = {
    // layer 0 holds every node, so the plane-sizing count reads the
    // materialized membership instead of a second corpus scan
    val n = mem.filter(col("layer") === 0).count()
    def planesOf(layer: Int): Int =
      planesFor(math.max(1L, (n / math.pow(M, layer)).toLong))
    // LSH candidates, all layers and tables in one UNION plan (one
    // job): each layer's slice gets its own posexploded bucket array
    // — per-slice expressions stay small enough for whole-stage
    // codegen (a 16-branch CASE over (layer, table) would carry ~100
    // plane dots in one projection), and plane tables are salted per
    // (layer, table) so layers bucket independently
    val bucketed = (0 to MaxLayer).map { l =>
      Similarity.bucketRows(mem.filter(col("layer") === l), dims,
        planesOf(l), Tables, l * Tables)(
        col("layer"), col("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
    val left = bucketed.select(col("layer"), col("tbl"), col("bucket"),
      col("vec_id").as("src"), col("embedding").as("se"))
      .repartition(col("layer"), col("tbl"), col("bucket"))
    val right = bucketed.select(col("layer"), col("tbl"), col("bucket"),
      col("vec_id").as("dst"), col("embedding").as("de"))
    val cand = left.join(right, Seq("layer", "tbl", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("layer"), col("src"), col("se"), col("dst"), col("de"))
    val ring = ringEdges(mem)
    // ring edges join embeddings back once (ring row count is ~2 ×
    // layer memberships — bounded); LSH candidates already carry them
    val ringE = ring
      .join(mem.select(col("layer"), col("vec_id").as("src"),
        col("embedding").as("se")), Seq("layer", "src"))
      .join(mem.select(col("layer"), col("vec_id").as("dst"),
        col("embedding").as("de")), Seq("layer", "dst"))
      .select(col("layer"), col("src"), col("se"), col("dst"), col("de"))
    val wTop = Window.partitionBy(col("layer"), col("src"))
      .orderBy(col("cos").desc, col("dst"))
    // top-2M applies to the LSH candidates ONLY; ring edges are
    // UNIONED AFTERWARDS, exempt from the cap. Capping them too
    // voided the connectivity guarantee on exactly the corpora a
    // graph index exists for: two tight clusters of > 2M members
    // each fill every node's top-2M with in-cluster edges, the
    // cross-cluster ring edges lose the window at both endpoints,
    // and the layer splits into unreachable components (found by
    // review; clustered-fixture spec pins it). Degree is ≤ 2M + 4
    // (ring adds ≤ 2 within-bucket + ≤ 2 bucket-chain links).
    val lshTop = cand
      .withColumn("cos", round(Vectors.cosine(col("se"), col("de")), 6))
      // a pair can meet in several tables — keep one
      .groupBy(col("layer"), col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), first(col("de")).as("de"))
      .withColumn("__r", row_number().over(wTop))
      .filter(col("__r") <= 2 * M).drop("__r")
    val ringScored = ringE
      .withColumn("cos", round(Vectors.cosine(col("se"), col("de")), 6))
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("de"))
    lshTop.select(col("layer"), col("src"), col("dst"),
        col("cos"), col("de"))
      .unionByName(ringScored)
      // a ring edge may also be an LSH survivor — keep one
      .groupBy(col("layer"), col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), first(col("de")).as("de"))
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("de"))
  }

  /** The global entry point: the max-(level, hash, id) node — one
    * bounded aggregation, the same node every run.
    */
  private def entryPoint(e: DataFrame): Long =
    e.select(col("vec_id"), levelCol(col("vec_id")).as("__lvl"))
      .orderBy(col("__lvl").desc, xxhash64(col("vec_id")).desc,
        col("vec_id").desc)
      .limit(1).collect()(0).getAs[Long]("vec_id")

  /** Beam parameters: narrow at upper layers (pure descent — one hop
    * per layer locates the region), wide at the base (the recall
    * knob). Hop budgets are FIXED so search cost and results are
    * deterministic (no data-dependent convergence test) — hops × M
    * bounds how far the beam travels from the entry point.
    */
  val EfUpper = 4
  val EfBase = 32
  val HopsUpper = 1
  val HopsBase = 4

  /** One descent over a (possibly persisted) adjacency for a frontier
    * of (query_id, node, cos) rows scored against `queries`
    * (query_id, qe).
    *
    * The beam state lives ON THE DRIVER (r17, guide §1.2/§2.4): it is
    * bounded by construction — ≤ queries × ef rows between hops and
    * ≤ queries × ef × (2M+4) candidate rows inside a hop — the same
    * driver-state class as the persisted-index probe's frontier. The
    * previous form kept it distributed, which cost every hop a
    * union + groupBy + window (two extra shuffles of a few-hundred-row
    * frame) plus an EAGER localCheckpoint (a block-manager write):
    * 7 hops × 3 jobs per search. Now each hop is ONE distributed job
    * — broadcast the frontier keys, equi-join the layer adjacency
    * (the only corpus-scale side, scored map-side off the riding dst
    * embeddings), collect the bounded candidate rows — and the
    * dedup-by-max-cos + top-ef beam cut runs driver-side with the
    * identical (cos desc, node asc) ordering, NaN ordered first like
    * Spark's desc sort. Results are bit-identical (drop-in spec'd);
    * measured sf0.1: ann_hnsw 4.3 s → see OPTIMIZATION_r17.md.
    */
  /** Hard ceiling on the query-batch size of the driver-side beam:
    * driver state per query is ≤ ef×(2M+4) candidate tuples (~3 KB at
    * the base ef, ~120 KB at the filtered-search ef ceiling of 256),
    * so 8192 queries bound the beam under ~1 GB in the worst case. A
    * corpus-sized query frame must NOT silently become a driver
    * collect (r17 VERDICT item 2) — batch the queries or use the
    * persisted-index probe for larger sweeps.
    */
  val MaxBeamQueries = 8192

  /** The [[MaxBeamQueries]] gate [[descend]] applies to its collected
    * initial frontier (one row per query) — fails loud instead of
    * letting a corpus-sized query frame become a driver collect.
    */
  private[graft] def requireBeamBounded(nQueries: Int): Unit =
    require(nQueries <= MaxBeamQueries,
      s"descend: $nQueries queries exceed MaxBeamQueries=" +
        s"$MaxBeamQueries — the beam is driver state (~ef×(2M+4) rows " +
        "per query); batch the query frame or search the persisted " +
        "index probe instead")

  private def descend(adj: DataFrame, queries: DataFrame,
      frontier0: DataFrame, efBase: Int = EfBase): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    // beam merge: dedup (query, node) keeping max cos, then per query
    // order by (cos desc — NaN first, matching Spark — node asc) and
    // keep the top ef
    def mergeTop(rows: Array[(Long, Long, Double)],
        ef: Int): Array[(Long, Long, Double)] =
      rows.groupBy(t => (t._1, t._2)).iterator
        .map { case ((q, n), ts) => (q, n, ts.map(_._3).max) }
        .toArray.groupBy(_._1).valuesIterator
        .flatMap(_.sortWith { (a, b) =>
          val c = java.lang.Double.compare(a._3, b._3)
          if (c != 0) c > 0 else a._2 < b._2
        }.take(ef))
        .toArray
    var frontier: Array[(Long, Long, Double)] = frontier0
      .select(col("query_id"), col("node"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    requireBeamBounded(frontier.length)
    for (layer <- MaxLayer to 0 by -1) {
      val (ef, hops) =
        if (layer == 0) (efBase, HopsBase) else (EfUpper, HopsUpper)
      val layerAdj = adj.filter(col("layer") === layer)
        .select(col("src").as("node"), col("dst"), col("de"))
      for (_ <- 1 to hops) {
        // dst embeddings ride the adjacency → scoring is map-side;
        // duplicate (query, dst) rows (several in-edges) collapse in
        // the driver merge
        val hopKeys = frontier.map(t => (t._1, t._2)).toSeq
          .toDF("query_id", "node")
        val nbrs = broadcast(hopKeys)
          .join(layerAdj, Seq("node"))
          .join(queries, Seq("query_id"))
          .select(col("query_id"), col("dst").as("node"),
            round(Vectors.cosine(col("qe"), col("de")), 6).as("cos"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        frontier = mergeTop(frontier ++ nbrs, ef)
      }
    }
    frontier.toSeq.toDF("query_id", "node", "cos")
  }

  /** Batch ANN search over the layered graph. Returns the
    * annBruteForce shape: (query_id, neighbor_id, rank, cos_sim),
    * top-k of the layer-0 beam, self excluded.
    */
  def annHnswSearch(e: DataFrame, nQueries: Int = 10, k: Int = 5,
      dims0: Int = -1): DataFrame = Materialize.scope {
    // the result is an eager cut, so the scope releases the adjacency
    // cache and the membership blocks under it
    val adj = Materialize.cache(buildGraph(e, dims0))
    Materialize.cut(searchAdj(e, adj, entryPoint(e), nQueries, k))
  }

  private def searchAdj(e: DataFrame, adj: DataFrame, entry: Long,
      nQueries: Int, k: Int): DataFrame = {
    val frontier = descendFrom(e, adj, entry, nQueries, EfBase)
    topKOf(frontier, k)
  }

  private def descendFrom(e: DataFrame, adj: DataFrame, entry: Long,
      nQueries: Int, efBase: Int): DataFrame = {
    val queries = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val entryRow = broadcast(e.filter(col("vec_id") === entry)
      .select(col("vec_id").as("node"), col("embedding").as("ne")))
    val frontier0 = queries.crossJoin(entryRow)
      .select(col("query_id"), col("node"),
        round(Vectors.cosine(col("qe"), col("ne")), 6).as("cos"))
    descend(adj, queries, frontier0, efBase)
  }

  private def topKOf(frontier: DataFrame, k: Int): DataFrame = {
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    frontier.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("cos").as("cos_sim"))
  }

  /** FILTERED graph search (r13 stretch): top-k among corpus vectors
    * satisfying `pred`. Navigation must stay UNFILTERED — pruning the
    * frontier itself can strand the beam in a pred-failing region
    * with no outgoing pred-passing path (the standard filtered-HNSW
    * failure) — so the descent runs over the full graph with the base
    * beam widened by the predicate's selectivity (ef/selectivity: a
    * 50 % filter doubles the beam), and the predicate lands once on
    * the FINAL beam before top-k (a beam-sized semi-join against the
    * pred-passing ids). Recall floor under a 50 % predicate is spec'd
    * at the unfiltered bar.
    */
  def annHnswSearchFiltered(e: DataFrame, pred: Column,
      nQueries: Int = 10, k: Int = 5, dims0: Int = -1,
      selectivity: Double = 0.5): DataFrame = Materialize.scope {
    val adj = Materialize.cache(buildGraph(e, dims0))
    Materialize.cut(searchAdjFiltered(e, adj, entryPoint(e), nQueries, k,
      pred, selectivity))
  }

  private def searchAdjFiltered(e: DataFrame, adj: DataFrame,
      entry: Long, nQueries: Int, k: Int, pred: Column,
      selectivity: Double): DataFrame = {
    val efBase = math.min(256,
      math.ceil(EfBase / math.max(0.01, selectivity)).toInt)
    val frontier = descendFrom(e, adj, entry, nQueries, efBase)
    // pred-passing subset OF THE BEAM: the corpus-sized pred side is
    // scanned once and never shuffled (the beam side broadcasts in
    // both joins; frontier is an eager localCheckpoint, so the double
    // reference re-reads blocks, not lineage)
    val beamNodes = broadcast(frontier.select(col("node")).distinct())
    val passingBeam = broadcast(
      e.where(pred).select(col("vec_id").as("node"))
        .join(beamNodes, Seq("node"), "left_semi"))
    topKOf(frontier.join(passingBeam, Seq("node"), "left_semi"), k)
  }

  /** Driver-lane entry: build once per (session, dir) and memoize the
    * checkpointed adjacency + entry point — `ann_hnsw`, `ann_hnsw_recall`
    * and the filtered pair (and the bench's min-of-2 runs) share one
    * deterministic build, the [[Bpe.cachedMerges]] precedent. The
    * memo holds a localCheckpointed frame (ROW-format block storage,
    * no lineage — materialization streams each task's partition
    * straight to storage; a `persist(MEMORY_AND_DISK)` + count was
    * tried here and OOMed the 100× BUILD inside the columnar
    * InMemoryRelation batch builder where the checkpoint path had
    * succeeded twice) keyed by the owning session, so a restarted
    * session rebuilds. At the 100× corpus the adjacency (dst
    * embeddings ride the edges) is GB-scale: r14's scale runs OOMed
    * at a MOVING lane because the memo stayed pinned for the ~170
    * suite lanes AFTER the ann block — a lane-scoped cache must be
    * releasable, so [[releaseGraphCache]] unpersists the checkpointed
    * RDD under the frame's LogicalRDD and the lane runner drops the memo
    * the moment the lane family is done.
    */
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (DataFrame, Long)]()

  private def cachedGraphFor(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long) = {
    // evict entries owned by STOPPED sessions: unlike Bpe's
    // string-tuple memo, these hold block-manager-backed frames —
    // without eviction a long-lived JVM cycling sessions (test
    // suites, repeated tool runs) pins dead sessions and their
    // checkpointed adjacency blocks forever (found by review)
    graphCache.entrySet().removeIf(ent =>
      ent.getKey._1.sparkContext.isStopped)
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val (adj, entry) = graphCache.computeIfAbsent((spark, dir), _ => {
      // the adjacency is materialized as its own blocks: the scope
      // releases the membership blocks under it (r17 ADVICE: ck's plan
      // holds only the outer LogicalRDD, so releaseGraphCache could
      // never reach them); the memo owns ck
      val ck = Materialize.owned(Materialize.cut(buildGraph(e, dims0 = 64)))
      // name the checkpointed RDD so block ownership is readable in
      // the UI/getPersistentRDDs and spec-assertable after release
      ck.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.setName(s"$LaneMemoRddName:$dir")
        case _ => ()
      }
      (ck, entryPoint(e))
    })
    (e, adj, entry)
  }

  private[graft] val LaneMemoRddName = "hnsw-lane-memo"

  /** Drop every memoized lane graph this session holds and free its
    * block storage (the checkpointed RDD under the frame's
    * LogicalRDD). The memo exists to share one build across the
    * consecutive `ann_hnsw*` lanes; after them it is dead weight —
    * GB-scale at a 100× corpus — pinned against every later lane's
    * execution memory. `graft.LaneRunner` calls this as soon as the
    * lane family is done; the next `searchLane` call simply rebuilds.
    */
  def releaseGraphCache(spark: SparkSession): Unit =
    graphCache.entrySet().removeIf { ent =>
      (ent.getKey._1 eq spark) && { Materialize.release(ent.getValue._1); true }
    }

  /** Memo size, for specs. */
  private[graft] def graphCacheSize: Int = graphCache.size()

  /** Force the shared lane-graph memo for `dir` (no-op when already
    * built). `graft.LaneRunner` calls this once when it reaches the
    * `ann_hnsw*` family; the bench times it as `hnsw_build_sec` — charging
    * the build to its own artifact field instead of whichever family
    * lane happens to run first, so per-lane family numbers compare
    * across rounds (r15 showed the memo landing on different lanes
    * at 100× and reading as phantom 3× regressions).
    */
  private[graft] def prebuildLaneGraph(spark: SparkSession,
      dir: String): Unit = {
    cachedGraphFor(spark, dir); ()
  }

  def searchLane(spark: SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val (e, adj, entry) = cachedGraphFor(spark, dir)
    searchAdj(e, adj, entry, nQueries, k)
  }

  /** Driver-lane entry for the FILTERED search — shares the memoized
    * build with `ann_hnsw`/`ann_hnsw_recall`.
    */
  def searchLaneFiltered(spark: SparkSession, dir: String, pred: Column,
      nQueries: Int = 10, k: Int = 5,
      selectivity: Double = 0.5): DataFrame = {
    val (e, adj, entry) = cachedGraphFor(spark, dir)
    searchAdjFiltered(e, adj, entry, nQueries, k, pred, selectivity)
  }

  /** Persist the index: adjacency PARTITIONED BY layer (a probe
    * reads its layer directories only — the writeIvfIndex layout
    * discipline, incl. the repartition-before-partitioned-write
    * one-file-per-layer rule), a NODES catalog (layer, vec_id,
    * embedding — the authoritative layer membership: an append must
    * see every member, and "recover members from adjacency dst rows"
    * misses edge-less nodes such as a single-member top layer), plus
    * a 1-row meta table (entry point + its embedding, M, layer
    * count). Embeddings ride the adjacency, so a probe needs NO
    * separate corpus frame.
    */
  def writeHnswIndex(e: DataFrame, path: String, dims0: Int = -1): Unit =
      Materialize.scope {
    invalidateProbeCache(path)
    val dims = Similarity.dimsOf(e, dims0)
    val mem = membership(e)
    adjacency(mem, dims)
      .repartition(col("layer"))
      // src-sorted within each layer file: the probe's per-hop
      // src.isin(frontier) pushes to parquet, and sorted src gives the
      // reader page/row-group min-max stats that actually skip — the
      // layer-0 scan is each probe hop's whole cost (measured 2.9× →
      // see HnswProbeBench)
      .sortWithinPartitions(col("layer"), col("src"))
      .write.mode("overwrite").partitionBy("layer").parquet(s"$path/adj")
    // the NODES catalog IS the layer membership the build already
    // materialized — read its blocks instead of a second corpus
    // scan + explode; the scope releases them once both writes are done
    mem.select(col("layer"), col("vec_id"), col("embedding"))
      .repartition(col("layer"))
      .write.mode("overwrite").partitionBy("layer").parquet(s"$path/nodes")
    val entry = entryPoint(e)
    Similarity.writeSmall(e.filter(col("vec_id") === entry)
      .select(col("vec_id").as("entry"),
        col("embedding").cast("array<double>").as("entry_emb"),
        lit(M).as("m"), lit(MaxLayer).as("max_layer")), s"$path/meta")
  }

  /** Append new vectors into a persisted index WITHOUT a rebuild —
    * the LSH/IVF/PQ append convention, graph-flavored. New nodes get
    * geometric levels from the same hash draw, then per layer:
    * (a) sign-LSH bucket candidates against (existing ∪ new) layer
    * members — existing members come from the index's NODES catalog
    * (authoritative membership incl. edge-less nodes; deriving
    * members from adjacency dst rows missed single-member layers —
    * found by review); only pairs touching a new node survive
    * (existing↔existing edges already exist); top-M per NEW src,
    * plus the REVERSE rows so new nodes are reachable (existing
    * nodes' in-degree may exceed the degree cap after appends — the
    * documented drift; rebuild to re-tighten); (b) a ring chain over
    * the new nodes anchored to the layer's minimum existing node at
    * BOTH ends of the chain — connectivity of every appended node
    * holds by construction even with zero bucket collisions. The
    * entry point is NOT moved (a new top-level node is still
    * reachable through its own appended edges); neighbor quality
    * drifts vs a fresh build — the standard graph-index append
    * trade, spec'd findable-after-append.
    */
  def appendToHnswIndex(newE: DataFrame, path: String,
      dims0: Int = -1): Unit = {
    val spark = newE.sparkSession
    import spark.implicits._
    invalidateProbeCache(path)
    val dims = Similarity.dimsOf(newE, dims0)
    val existing = spark.read.parquet(s"$path/nodes")
      .select(col("layer"), col("vec_id"), col("embedding"))
    // appended rows must carry the SAME embedding element type the
    // index was written with — one partitioned dataset cannot mix
    // float and double files (readers fail on the schema mismatch;
    // found by review)
    val elemType = existing.schema("embedding").dataType
    val newMem = Par.ensure(newE)
      .select(col("vec_id"), col("embedding").cast(elemType)
        .as("embedding"))
      .withColumn("__lvl", levelCol(col("vec_id")))
      .withColumn("layer", explode(sequence(lit(0), col("__lvl"))))
      .select(col("layer"), col("vec_id"), col("embedding"))
    val exN = existing.groupBy(col("layer")).agg(
      count(lit(1)).as("n"), min(col("vec_id")).as("anchor"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // plane counts derive from existing + DELTA members per layer: an
    // append batch comparable to (or larger than) the index would
    // otherwise get planes sized to the existing count alone →
    // oversized buckets → the candidate self-join degrades toward
    // quadratic in the batch (r13 VERDICT item 3). One delta-sized
    // count job.
    val newN = newMem.groupBy(col("layer")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val union = existing.withColumn("__new", lit(false))
      .unionByName(newMem.withColumn("__new", lit(true)))
    val bucketed = (0 to MaxLayer).map { l =>
      val planes = appendPlanesFor(exN.get(l).map(_._1).getOrElse(0L),
        newN.getOrElse(l, 0L))
      Similarity.bucketRows(union.filter(col("layer") === l), dims,
        planes, Tables, l * Tables)(
        col("layer"), col("vec_id"), col("embedding"), col("__new"))
    }.reduce(_ unionByName _)
    val left = bucketed.select(col("layer"), col("tbl"), col("bucket"),
      col("vec_id").as("src"), col("embedding").as("se"),
      col("__new").as("srcNew"))
      .repartition(col("layer"), col("tbl"), col("bucket"))
    val right = bucketed.select(col("layer"), col("tbl"), col("bucket"),
      col("vec_id").as("dst"), col("embedding").as("de"),
      col("__new").as("dstNew"))
    val cand = left.join(right, Seq("layer", "tbl", "bucket"))
      .filter(col("src") =!= col("dst"))
      .filter(col("srcNew") || col("dstNew"))
      .select(col("layer"), col("src"), col("se"), col("dst"), col("de"),
        col("srcNew"))
    // top-M per NEW src; existing→new edges ride as the reverse rows
    val wTop = Window.partitionBy(col("layer"), col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val newSrc = cand.filter(col("srcNew"))
      .withColumn("cos", round(Vectors.cosine(col("se"), col("de")), 6))
      .groupBy(col("layer"), col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), first(col("de")).as("de"),
        first(col("se")).as("se"))
      .withColumn("__r", row_number().over(wTop))
      .filter(col("__r") <= M).drop("__r")
    val fwd = newSrc.select(col("layer"), col("src"), col("dst"),
      col("cos"), col("de"))
    val rev = newSrc.select(col("layer"), col("dst").as("src"),
      col("src").as("dst"), col("cos"), col("se").as("de"))
    // ring over the new nodes, anchored per layer to the minimum
    // existing node (both directions at both splice points)
    val ordered = newMem
      .withColumn("__rh", xxhash64(col("vec_id")))
      .select(col("layer"), col("vec_id"), col("embedding"), col("__rh"))
    val wRing = Window.partitionBy(col("layer"))
      .orderBy(col("__rh"), col("vec_id"))
    // new-node count per layer is the APPEND batch (bounded by the
    // caller's delta, not the corpus) — a single window per layer
    // over the delta is fine at any corpus size
    val chain = ordered
      .withColumn("__nxt", lead(col("vec_id"), 1).over(wRing))
      .filter(col("__nxt").isNotNull)
      .select(col("layer"), col("vec_id").as("src"), col("__nxt").as("dst"))
    // chain endpoints per layer (bounded: one row per layer) — the
    // anchor splices to BOTH ends so the chain's far node is one hop
    // from the existing graph, not |chain| ring-hops away (r13 ADVICE:
    // the doc promised both ends, the code spliced one)
    val endpoints = ordered
      .groupBy(col("layer"))
      .agg(min_by(col("vec_id"), struct(col("__rh"), col("vec_id")))
          .as("f"),
        max_by(col("vec_id"), struct(col("__rh"), col("vec_id")))
          .as("l"))
      .collect()
      .map(r => (r.getInt(0), r.getAs[Long]("f"), r.getAs[Long]("l")))
    val anchors = endpoints.flatMap { case (l, first, last) =>
      exN.get(l).toSeq.flatMap { case (_, anchor) =>
        Seq((l, anchor, first), (l, last, anchor))
      }
    }.toSeq
    val anchorDf =
      if (anchors.isEmpty)
        spark.emptyDataset[(Int, Long, Long)].toDF("layer", "src", "dst")
      else anchors.toDF("layer", "src", "dst")
    val ringDir = chain.unionByName(anchorDf)
    val ring = ringDir.unionByName(ringDir.select(col("layer"),
      col("dst").as("src"), col("src").as("dst")))
    val allNodes = union.select(col("layer"), col("vec_id"),
      col("embedding"))
    val ringE = ring
      .join(allNodes.select(col("layer"), col("vec_id").as("src"),
        col("embedding").as("se")), Seq("layer", "src"))
      .join(allNodes.select(col("layer"), col("vec_id").as("dst"),
        col("embedding").as("de")), Seq("layer", "dst"))
      .withColumn("cos", round(Vectors.cosine(col("se"), col("de")), 6))
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("de"))
    fwd.unionByName(rev).unionByName(ringE)
      .dropDuplicates("layer", "src", "dst")
      .repartition(col("layer"))
      .write.mode("append").partitionBy("layer").parquet(s"$path/adj")
    // the nodes catalog is the membership ground truth the NEXT
    // append reads — record the delta
    newMem.repartition(col("layer"))
      .write.mode("append").partitionBy("layer").parquet(s"$path/nodes")
  }

  /** Bounded driver-side hot-region cache for persisted-index probes:
    * (layer, src) → out-edges, LRU-capped at the caller-supplied
    * edge budget (default [[DefaultProbeCacheMaxEdges]])
    * total edges (≈ a few MB with embeddings — contract-bounded
    * driver state, the FAISS keep-the-graph-hot serving pattern
    * scaled down to a budget). Every probe descends from the SAME
    * entry point, so the upper layers and the entry region of layer 0
    * repeat across probes — steady-state probes then pay Spark jobs
    * only for frontier nodes never seen before. Invalidated by every
    * index write ([[writeHnswIndex]]/[[appendToHnswIndex]]) — a probe
    * after an append must see the appended edges (spec'd).
    */
  private[graft] val DefaultProbeCacheMaxEdges = 200000
  // budget is a PARAMETER captured by the cache instance at creation
  // (was a mutable JVM-global var — two concurrent probe sessions in
  // one JVM could observe each other's budget, the QuadraticCapProp
  // hazard class; r14 VERDICT item 9)
  private final class ProbeCache(val adj: DataFrame, val entry: Long,
      val entryEmb: Seq[Double], val complete: Boolean,
      val maxEdges: Int) {
    val map = new java.util.LinkedHashMap[(Int, Long),
      Array[(Long, Array[Double])]](64, 0.75f, true) // access-order LRU
    var edges = 0
  }
  private def probeCacheFor(spark: SparkSession, path: String,
      maxEdges: Int): ProbeCache = {
    probeCaches.keySet.removeIf(_._1.sparkContext.isStopped)
    // a later probe requesting a LARGER budget than the instance bound
    // at creation rebuilds the cache under the new budget (it would
    // otherwise silently page under the first caller's smaller one);
    // a smaller request reuses the existing, more generous instance.
    // ATOMIC via compute(): the budget comparison runs inside the
    // remapping function, so a concurrent smaller-budget probe can't
    // recreate the cache between a remove and a computeIfAbsent
    // (r16 ADVICE — the remove+computeIfAbsent form raced).
    probeCaches.compute((spark, path), (_, existing) => {
      if (existing != null && existing.maxEdges >= maxEdges) existing
      else {
      val meta = Similarity.readMeta(spark, path)
      val adj = spark.read.parquet(s"$path/adj")
      // an index whose WHOLE adjacency fits the edge budget loads
      // entirely at first touch (one job): every later probe is then
      // zero-job — FAISS's keep-the-graph-in-RAM serving mode. Larger
      // indexes page per-hop through the LRU below (bounded driver
      // state at any corpus size). The budget binds at cache CREATION;
      // a later probe asking for MORE rebuilds (see above), one asking
      // for less reuses the existing instance.
      val complete = adj.count() <= maxEdges
      val cache = new ProbeCache(adj, meta.getAs[Long]("entry"),
        meta.getSeq[Double](meta.fieldIndex("entry_emb")), complete,
        maxEdges)
      if (complete) {
        adj.select(col("layer"), col("src"), col("dst"),
            col("de").cast("array<double>"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getLong(1)))
          .foreach { case (k, rs) =>
            val es = rs.map(r => (r.getLong(2), r.getSeq[Double](3).toArray))
            cache.map.put(k, es)
            cache.edges += es.length
          }
      }
      cache
      }
    })
  }
  private val probeCaches =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      ProbeCache]()

  private[graft] def invalidateProbeCache(path: String): Unit =
    probeCaches.keySet.removeIf(_._2 == path)

  /** Out-edges for `ids` at `layer`: cache hits served driver-side,
    * misses fetched in ONE layer-pruned scan and inserted LRU. The
    * result is assembled from the hit reads and the fetch DIRECTLY —
    * never through the map after eviction, which could drop a
    * just-fetched entry before use.
    */
  private def fetchAdj(adj: DataFrame, cache: ProbeCache, layer: Int,
      ids: Seq[Long]): Seq[(Long, Array[Double])] = cache.synchronized {
    val out = Seq.newBuilder[(Long, Array[Double])]
    val miss = Seq.newBuilder[Long]
    ids.foreach { id =>
      val es = cache.map.get((layer, id)) // get() refreshes LRU order
      if (es != null) out ++= es else miss += id
    }
    val missing = miss.result()
    // a COMPLETE cache holds the whole graph: a miss is a genuinely
    // edgeless (layer, src) — no job can add anything
    if (missing.nonEmpty && !cache.complete) {
      val rows = adj
        .filter(col("layer") === layer && col("src").isin(missing: _*))
        .select(col("src"), col("dst"), col("de").cast("array<double>"))
        .collect()
        .groupBy(_.getLong(0))
      // fetched-but-edgeless srcs are recorded as empty so they never
      // refetch (cannot occur for ring members, but harmless)
      val fetched = missing.map(id => id -> rows.getOrElse(id, Array.empty)
        .map(r => (r.getLong(1), r.getSeq[Double](2).toArray)))
      fetched.foreach { case (id, es) =>
        out ++= es
        cache.map.put((layer, id), es)
        cache.edges += math.max(1, es.length)
      }
      while (cache.edges > cache.maxEdges && !cache.map.isEmpty) {
        val it = cache.map.entrySet().iterator()
        val eldest = it.next()
        cache.edges -= math.max(1, eldest.getValue.length)
        it.remove()
      }
    }
    out.result()
  }

  /** Entry-point cosine for a probe: the same left-to-right double
    * fold and HALF_UP 6-digit round as `round(Vectors.cosine(…), 6)`
    * so driver-side and distributed scores are bit-identical.
    */
  private def cosDriver(q: Seq[Double], qn: Double,
      de: Seq[Double]): Double = {
    var dot = 0.0
    var nd = 0.0
    var i = 0
    val n = math.min(q.length, de.length)
    while (i < n) { dot += q(i) * de(i); i += 1 }
    i = 0
    while (i < de.length) { nd += de(i) * de(i); i += 1 }
    BigDecimal(dot / (qn * math.sqrt(nd)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Top-k probe against a persisted index for one query vector — the
    * same fixed-budget, fixed-rounding descent as [[annHnswSearch]],
    * run ON THE DRIVER: the frontier is ≤ ef ≤ 32 rows, so each hop
    * is one layer-pruned, src-filtered parquet scan (collect ≤ beam ×
    * (2M+4) adjacency rows — embeddings ride the edges) and the beam
    * bookkeeping is driver arithmetic. The distributed descent's 7
    * eager localCheckpoints put a 7-blocking-job floor under every
    * probe (r13 VERDICT item 4); here each hop is one shuffle-free
    * job. Bit-parity with [[hnswIndexProbeDistributed]] is spec'd —
    * same candidate sets, same left-to-right double folds, same
    * HALF_UP rounding, same (cos desc, node) tie order.
    */
  def hnswIndexProbe(spark: SparkSession, path: String,
      query: Seq[Double], k: Int = 5,
      excludeId: Option[Long] = None,
      cacheMaxEdges: Int = DefaultProbeCacheMaxEdges): DataFrame = {
    import spark.implicits._
    val cache = probeCacheFor(spark, path, cacheMaxEdges)
    val qn = math.sqrt(query.map(x => x * x).sum)
    var frontier: Seq[(Long, Double)] =
      Seq((cache.entry, cosDriver(query, qn, cache.entryEmb)))
    for (layer <- MaxLayer to 0 by -1) {
      val (ef, hops) =
        if (layer == 0) (EfBase, HopsBase) else (EfUpper, HopsUpper)
      for (_ <- 1 to hops) {
        val nbrs = fetchAdj(cache.adj, cache, layer, frontier.map(_._1))
          .map { case (dst, de) => (dst, cosDriver(query, qn, de)) }
        frontier = (frontier ++ nbrs)
          .groupBy(_._1).map { case (id, vs) => (id, vs.map(_._2).max) }
          .toSeq
          .sortBy { case (id, c) => (-c, id) }
          .take(ef)
      }
    }
    val top = excludeId.fold(frontier)(id => frontier.filter(_._1 != id))
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
    top.toDF("neighbor_id", "cos_sim")
  }

  /** Re-tighten a persisted index after appends — the maintenance op
    * the append path's documented drift points at. Appends grow
    * existing nodes' out-degree without bound (one reverse edge per
    * adopted new neighbor per batch) and fragment the adjacency into
    * one file set per append; compaction, in one pass over the index
    * (NO LSH re-bucketing — cheaper than a rebuild by the whole
    * candidate-generation stage):
    *   1. re-caps out-degree to 2M per (layer, src) by cosine over
    *      every edge the graph currently holds;
    *   2. lays a FRESH uniform ring over the full nodes catalog
    *      (cap-exempt, both directions) — the append-era anchored
    *      chains are superseded and the one-component guarantee is
    *      restored BY CONSTRUCTION no matter what the cap cut;
    *   3. rewrites adjacency and nodes one src-sorted file per layer
    *      (merging append fragments) and recomputes the meta entry
    *      point from the full membership (an appended node can now
    *      out-level the original entry).
    * Neighbor QUALITY beyond the edges the graph already knows is not
    * improved — missing old↔new cross-links need [[writeHnswIndex]]'s
    * full rebuild; recall floors post-compact are spec'd at the
    * fresh-build bar.
    */
  def compactHnswIndex(spark: SparkSession, path: String): Unit = {
    invalidateProbeCache(path)
    val adjPath = s"$path/adj"
    val nodesPath = s"$path/nodes"
    val adj = spark.read.parquet(adjPath)
    val nodes = spark.read.parquet(nodesPath)
      .select(col("layer"), col("vec_id"), col("embedding"))
    val wTop = Window.partitionBy(col("layer"), col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val capped = adj
      .groupBy(col("layer"), col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), first(col("de")).as("de"))
      .withColumn("__r", row_number().over(wTop))
      .filter(col("__r") <= 2 * M).drop("__r")
    val ringE = ringEdges(nodes)
      .join(nodes.select(col("layer"), col("vec_id").as("src"),
        col("embedding").as("se")), Seq("layer", "src"))
      .join(nodes.select(col("layer"), col("vec_id").as("dst"),
        col("embedding").as("de")), Seq("layer", "dst"))
      .withColumn("cos", round(Vectors.cosine(col("se"), col("de")), 6))
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("de"))
    // entry point from the full membership — bounded (1-row) collect
    val entryRow = nodes
      .groupBy(col("vec_id"))
      .agg(max(col("layer")).as("__lvl"), first(col("embedding")).as("emb"))
      .orderBy(col("__lvl").desc, xxhash64(col("vec_id")).desc,
        col("vec_id").desc)
      .limit(1)
      .select(col("vec_id").as("entry"),
        col("emb").cast("array<double>").as("entry_emb"),
        lit(M).as("m"), lit(MaxLayer).as("max_layer"))
    IndexIo.rewrite(spark, "compact",
      adjPath -> (side => capped.unionByName(ringE)
        .groupBy(col("layer"), col("src"), col("dst"))
        .agg(max(col("cos")).as("cos"), first(col("de")).as("de"))
        .repartition(col("layer"))
        .sortWithinPartitions(col("layer"), col("src"))
        .write.mode("overwrite").partitionBy("layer").parquet(side)),
      nodesPath -> (side => nodes.repartition(col("layer"))
        .sortWithinPartitions(col("layer"), col("vec_id"))
        .write.mode("overwrite").partitionBy("layer").parquet(side)),
      s"$path/meta" -> (side => Similarity.writeSmall(entryRow, side)))
  }

  /** The distributed twin of [[hnswIndexProbe]] — the same descent
    * through [[descend]]'s cluster path. A single-query probe is
    * driver-sized, but this is the shape a BATCH of persisted-index
    * queries runs (and the parity anchor for the driver-local path).
    */
  def hnswIndexProbeDistributed(spark: SparkSession, path: String,
      query: Seq[Double], k: Int = 5,
      excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = Similarity.readMeta(spark, path)
    val entry = meta.getAs[Long]("entry")
    val entryEmb = meta.getSeq[Double](meta.fieldIndex("entry_emb"))
    val adj = spark.read.parquet(s"$path/adj")
    val queries = broadcast(Seq((0L, query)).toDF("query_id", "qe"))
    val qn = math.sqrt(query.map(x => x * x).sum)
    val cos0 = cosDriver(query, qn, entryEmb)
    val frontier0 = Seq((0L, entry, cos0)).toDF("query_id", "node", "cos")
    Similarity.probeTail(descend(adj, queries, frontier0)
      .select(col("node").as("neighbor_id"), col("cos").as("cos_sim")),
      k, excludeId)
  }
}
