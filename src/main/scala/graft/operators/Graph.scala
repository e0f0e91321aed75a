package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Link-analysis over entity graphs — the authority/importance layer
  * of corpus curation (rank sources by citation structure, weight
  * crawl frontiers, score entities by transaction graphs). Companion
  * to [[Dedup.canonicalIds]] (the connectivity side of the same
  * iterative-graph family).
  */
object Graph {

  /** Power-iteration PageRank: rank' = (1−d)/N + d·Σ rank(u)/outdeg(u)
    * over in-edges, `iters` rounds. Pass symmetric edges for an
    * undirected graph (then no node dangles; isolated nodes never
    * enter — the caller decides the universe via the edge list).
    *
    * Scale shape: the edge list is deduped, pre-partitioned by `src`
    * and truncated ONCE (localCheckpoint — `reliable=true` swaps in a
    * durable checkpoint, the [[Dedup.canonicalIds]] convention); every
    * iteration's join then streams ranks (node-sized) onto the fixed
    * edge layout and the contribution agg map-combines edge-fan-in
    * before its node-keyed shuffle. Per-iteration lineage is
    * truncated, so plan depth stays O(1), not O(iters). The only
    * driver scalar is N (one count — a long, never the data).
    *
    * Determinism across engines: contribution sums are FP adds in
    * partition order, so both engines ROUND each iteration's rank to
    * 9 dp — drift (~1e-15) is crushed every round instead of
    * compounding — and the final rank to 6 dp (the oracle runs the
    * identical unrolled recurrence).
    */
  /** @param reliable durable `checkpoint()` instead of
    *   `localCheckpoint()` for lineage truncation — REQUIRES
    *   `spark.sparkContext.setCheckpointDir(...)` to have been called
    *   (the [[Dedup.canonicalIds]] convention).
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
      reliable: Boolean = false): DataFrame = Materialize.scope {
    // The edge list is CACHED (columnar, compressed, spills to disk,
    // recoverable from lineage), NOT localCheckpoint'ed: checkpoint
    // blocks store raw rows and are UNRECOVERABLE once evicted — at
    // the fourth scale decade the ~120 M-row edge set blew past the
    // storage pool and the run died on lost blocks. Lineage
    // truncation is only needed where lineage GROWS (ranks, below);
    // the edge lineage is a fixed shallow scan+join.
    val e = Materialize.cache(Par.ensure(
        edges.select(col("src"), col("dst")).distinct())
      .repartition(col("src")))
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = Materialize.cut(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct(), reliable)
    val n = nodes.count()
    // fail loudly, not with (1-d)/0 = Infinity ranks downstream
    require(n > 0, "pageRank: empty edge list (no nodes)")
    val base = (1.0 - damping) / n
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(out, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      ranks = Materialize.replace(ranks, Materialize.cut(
        nodes.join(contrib, Seq("node"), "left").select(col("node"),
          round(lit(base) + lit(damping) * coalesce(col("contrib"), lit(0.0)),
            9).as("rank")), reliable))
    }
    // the final ranks frame is already materialized (eager cut): the
    // scope releases the edge cache and the node set on return
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** The customer–supplier co-transaction graph on a NUMERIC surrogate
    * key (r18, guide §2.3 "narrower types"): customer c ↦ 2c, supplier
    * s ↦ 2s+1 — a bijection into disjoint long ranges (keys sit well
    * under 2⁶², so 2k never overflows). Every distinct/join/aggregate
    * of the pagerank/degree lanes then hashes and ships an 8-byte long
    * instead of a `c#…`/`s#…` string (~10-20 bytes plus per-row string
    * hashing); the prefixed string form is rendered ONCE at the lane
    * boundary ([[nodeString]]).
    */
  private def transactionEdgesNumeric(spark: SparkSession,
      dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** Decode the numeric surrogate back to the contract's prefixed
    * string id: even ⇒ customer `c#k`, odd ⇒ supplier `s#k`.
    */
  private def nodeString(id: org.apache.spark.sql.Column) =
    when(pmod(id, lit(2L)) === 0L,
      concat(lit("c#"), (id.cast("long") / 2L).cast("long")))
      .otherwise(concat(lit("s#"),
        ((id.cast("long") - 1L) / 2L).cast("long")))

  /** The string-id view of the transaction graph (`c#`/`s#` prefixed —
    * the two key spaces overlap numerically). The iterative lanes run
    * on [[transactionEdgesNumeric]] and decode at the boundary; this
    * form exists for callers that want the contract ids as edges.
    */
  def transactionEdges(spark: SparkSession, dir: String): DataFrame =
    transactionEdgesNumeric(spark, dir)
      .select(nodeString(col("src")).as("src"),
        nodeString(col("dst")).as("dst"))

  /** Driver contract: 3-round PageRank over the transaction graph.
    * Iterates on the numeric surrogate (8-byte keys through every
    * per-round join/aggregate) and decodes ids once at the end — rank
    * values are unchanged: the graph is isomorphic and each
    * iteration's rank is rounded to 9 dp (the operator's own
    * cross-engine determinism contract, which already makes the sums
    * order-robust at the reported precision).
    */
  def transactionPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(transactionEdgesNumeric(spark, dir))
      .select(nodeString(col("node")).as("node"), col("rank"))

  /** Degree histogram of the same graph: how many nodes have k
    * neighbors — the one-shuffle profile that sizes frontier fan-out
    * (two nested map-combined aggs).
    */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    // the numeric surrogate is a bijection, so every node's degree is
    // unchanged — and no node id reaches this output at all (r18)
    transactionEdgesNumeric(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    // no trailing sort (r17): its sampling pass re-ran both aggs
    // (and the edge join beneath) a second time per run

  /** Supplier co-service graph: an undirected edge (u < v) wherever
    * two suppliers BOTH serve at least `minShared` of the sampled
    * orders (every `sampleMod`-th order key — deterministic, so the
    * oracle samples identically). Pair fan-out is bounded by ORDER
    * size (TPC-H ≲ 7 lines), never corpus size, and the minShared
    * floor drops the single-co-occurrence noise that would otherwise
    * densify the graph toward a clique as orders accumulate —
    * recurring partnerships are the signal.
    */
  def supplierCoEdges(spark: SparkSession, dir: String,
      sampleMod: Int = 5, minShared: Int = 2): DataFrame = {
    val sl = Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(sampleMod)) === 0)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    sl.as("a").join(sl.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("u"), col("v"))
  }

  /** Exact triangle count + global clustering coefficient via
    * DEGREE-ORDERED ORIENTATION (the classic O(m^1.5) bound): each
    * undirected edge is directed from its (degree, id)-smaller
    * endpoint to the larger, making every triangle an acyclic
    * tournament counted exactly ONCE at its minimum vertex. The wedge
    * join's fan-out is Σ outdeg² where orientation caps outdeg at
    * ~√m even on hub-heavy graphs — THE trick that makes triangle
    * counting survive skew at scale (a raw adjacency self-join is
    * Σ deg², quadratic in the hottest hub). Wedges and closures are
    * plain equi-joins; nothing node- or edge-sized reaches the
    * driver; output is ONE summary row.
    *
    * Clustering = 3·triangles / wedges with both operands exact
    * integers < 2^53, so the double division (and its 6 dp rounding)
    * is bit-identical on any engine.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val keyed = edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"),
        struct(col("du").as("d"), col("u").as("n")).as("ku"),
        struct(col("dv").as("d"), col("v").as("n")).as("kv"))
    val oriented = keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
      greatest(col("ku"), col("kv")).as("kdst"))
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .join(oriented.as("e3"),
        col("a") === col("e3.src") && col("b") === col("e3.dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val counts = edges.agg(count(lit(1)).as("n_edges"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(col("d") * (col("d") - 1) / 2), lit(0.0))
        .cast("long").as("n_wedges")) // empty graph: 0, not null
    wedges.crossJoin(counts).crossJoin(tri) // three one-row frames
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        // wedge-free graph (isolated edges only): coefficient is 0 by
        // convention, not a division by zero (ANSI mode throws —
        // found by the random-graph property spec on a 1-edge graph)
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Driver contract: triangle census of the supplier co-service
    * graph.
    */
  def supplierTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleStats(supplierCoEdges(spark, dir))

  /** Common-neighbor (Jaccard) link prediction: the top-k UNCONNECTED
    * node pairs ranked by |N(a)∩N(b)| / |N(a)∪N(b)| — "these two
    * entities share most of their context but have never co-occurred",
    * the candidate-generation step of entity resolution and
    * recommend-a-connection features.
    *
    * Shape: common-neighbor counts are wedge counts — the adjacency
    * self-joined on the CENTER node and re-grouped by the endpoint
    * pair, a map-combined count over Σ deg(center)² fan-out. `maxDeg`
    * (opt-in) drops hub centers above the cap before the wedge join —
    * a hub's wedge fan-out is quadratic in its degree while its
    * common-neighbor EVIDENCE value is lowest (everything touches the
    * hub), the same hot-key contract as dedup_incremental's `maxDf`.
    * The existing-edge filter is a left anti join on the canonical
    * pair; ranking is TakeOrderedAndProject (never a global sort).
    * Jaccard is a rational of exact integers → round(6) is
    * deterministic cross-engine.
    */
  def neighborJaccard(edges0: DataFrame, k: Int = 20,
      maxDeg: Int = Int.MaxValue): DataFrame = {
    // MATERIALIZE the edge list once (r18, guide §2.4/§3.3): it is
    // referenced by both union branches of the adjacency, the degree
    // aggregate, both wedge-join sides and the existing-edge anti
    // join — and an edge generator that ends in a filter (the
    // supplierCoEdges lineitem self-join) re-ran its post-shuffle
    // aggregation for EVERY reference. Narrow (u, v) blocks that the
    // result reads.
    val edges = Materialize.cut(edges0.select(col("u"), col("v")))
    val adj = edges.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val centers =
      if (maxDeg == Int.MaxValue) adj
      else adj.join(deg.filter(col("d") <= maxDeg).select(col("node")),
        Seq("node"), "left_semi")
    // Endpoint degrees RIDE the wedge rows (r18, guide §2.4/§3.3):
    // the old form joined deg onto the aggregated common-neighbor
    // frame twice — at Σdeg(center)² wedge fan-out that frame is the
    // job's largest intermediate and each join re-shuffled it by one
    // endpoint (measured 100×: the lane spent ~56 s of 64 s after the
    // wedge agg). Attaching deg to the EDGE-sized adjacency first
    // costs one small join; da/db then ride the wedge shuffle (16
    // extra bytes) into the same (a, b) aggregation (constant per
    // group, so max() = the value), the anti join consumes the agg's
    // own hash(a, b) layout, and the big frame never moves again.
    val cent2 = centers.join(
      deg.select(col("node").as("nbr"), col("d").as("dn")), Seq("nbr"))
    val common = cent2.as("x").join(cent2.as("y"),
        col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("a"), col("y.nbr").as("b"),
        col("x.dn").as("da"), col("y.dn").as("db"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        max(col("da")).as("da"), max(col("db")).as("db"))
    common
      .join(edges.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti") // unconnected pairs only
      .select(col("a"), col("b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("da") + col("db") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b")).limit(k)
  }

  /** Driver contract: top-20 predicted supplier partnerships. */
  def supplierLinkPrediction(spark: SparkSession, dir: String): DataFrame =
    neighborJaccard(supplierCoEdges(spark, dir))

  /** k-core of an undirected graph by iterative peeling: repeatedly
    * drop nodes with fewer than `k` surviving neighbors until
    * fixpoint (or `maxRounds`). Returns each core member with its
    * degree INSIDE the core subgraph. The dedup-graph hygiene
    * operator: components over a near-dup pair graph happily merge
    * whole clusters through one weak false-positive link, while the
    * 2-core keeps only mutually-corroborated structure (a clique of
    * real duplicates survives; leaf links, isolated pairs and chains
    * peel away).
    *
    * Scale shape: each round is one map-combined degree aggregate
    * plus two left-semi joins of the edge set against the surviving
    * node set (endpoint-keyed shuffles; AQE broadcasts the keep set
    * once it shrinks). The edge set only ever SHRINKS, so per-round
    * cost is bounded by the first round's O(m). Lineage is truncated
    * every round (plan depth stays O(1), the [[Dedup.canonicalIds]]
    * convention; `reliable = true` swaps durable checkpoints for
    * executor-loss resilience at 1000-executor scale — requires
    * `setCheckpointDir`). The only driver scalar per round is one
    * COUNT used for the fixpoint early-exit; peeling is deterministic
    * (no tie-breaking — all sub-k nodes drop together), so a fixed
    * `maxRounds` unrolling of the same recurrence is an exact oracle
    * whenever it reaches the fixpoint, which the early-exit makes
    * true for any sufficiently large bound.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12,
      reliable: Boolean = false): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kCore: maxRounds must be >= 1, got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
    var e = Materialize.cut(edges.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct(), reliable)
    var m = e.count()
    var round = 0
    var converged = m == 0L
    while (!converged && round < maxRounds) {
      val keep = degrees(e).filter(col("core_deg") >= k).select(col("node"))
      e = Materialize.replace(e, Materialize.cut(
        e.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"),
        reliable))
      val m2 = e.count()
      converged = m2 == m || m2 == 0L
      m = m2; round += 1
    }
    degrees(e).filter(col("core_deg") >= k)
  }

  /** Driver contract: 2-core of the exact near-duplicate graph on
    * documents (n-gram Jaccard >= 0.5 pairs, [[Dedup.ngramJaccardPairs]]) —
    * which duplicate clusters are corroborated by more than a lone
    * pairwise link. The oracle peels the identical recurrence,
    * unrolled.
    */
  def nearDupCore(spark: SparkSession, dir: String): DataFrame =
    kCore(Dedup.ngramJaccardPairs(spark, dir)
        .select(col("id_a").as("u"), col("id_b").as("v")),
        k = 2, maxRounds = 6)
      .select(col("node").as("doc_id"), col("core_deg"))

  /** SYNCHRONOUS label propagation communities (Raghavan et al. 2007,
    * made deterministic): labels start as node ids; each round every
    * node adopts the MOST FREQUENT label among its neighbors, ties
    * broken toward the SMALLEST label, all nodes updating from the
    * same previous-round snapshot (the asynchronous original is
    * order-dependent — useless under an exactness contract). A node
    * with no neighbors keeps its label. Fixed `rounds`, not
    * convergence: synchronous LPA can 2-cycle on bipartite-ish
    * structure, and a fixed unrolling is what an oracle can replay.
    *
    * Communities differ from [[Dedup.canonicalIds]]' components:
    * min-label flood-fill gives CONNECTIVITY classes; frequency
    * propagation cuts weakly-bridged dense regions apart even when
    * connected — the "near-dup neighborhoods inside one giant
    * component" view curation wants when a hub string chains
    * everything together.
    *
    * Scale shape: per round, ONE shuffle for the neighbor-label join
    * (edges ⋈ labels on dst, pre-partitioned by dst so the edge side
    * exchanges once across all rounds) + one (node, label) count agg
    * (map-combined) + one argmax agg — all node/edge-linear; the
    * frequency argmax rides `max(struct(cnt, −label))`, no window
    * sort. Rounds are few and fixed; labels (node-sized) get the
    * same lineage discipline as [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame =
      Materialize.scope {
    // partitioned by NBR — the per-round join key — so the cached
    // edge layout is exchange-free in every round's labels join; only
    // node-sized label/count frames move after round 0
    val sym = Materialize.cache(
      edges.select(col("u").as("node"), col("v").as("nbr"))
        .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
        .distinct()
        .repartition(col("nbr")))
    var labels = sym.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds)
      labels = Materialize.replace(labels, Materialize.cut(lpaRound(sym, labels)))
    labels
  }

  /** One synchronous LPA round: every node adopts the most frequent
    * neighbor label, ties toward the smallest (argmax via
    * `max(struct(cnt, −label))` — no window sort). Exposed for the
    * plan-shape spec: `sym` must arrive partitioned by `nbr` so the
    * join consumes the cached layout with no exchange.
    */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
      .groupBy(col("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("node"))
      .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
      .select(col("node"), (-col("best.neg")).as("label"))

  /** Union-kNN co-service graph: each supplier keeps its k heaviest
    * co-partners (shared-order count, ties → smaller id), an
    * undirected edge exists where EITHER endpoint kept the other —
    * the standard community-detection prep (kNN graphs), chosen over
    * a fixed `minShared` floor because the density is
    * SCALE-INDEPENDENT by construction: a count threshold that cuts
    * 100 suppliers into neighborhoods leaves 1000 suppliers with an
    * empty (or complete) graph, while top-k stays ≤ k·|nodes| edges
    * at every corpus size. Fully deterministic (integer counts,
    * id tie-breaks) — exact cross-engine oracle.
    */
  def supplierKnnEdges(spark: SparkSession, dir: String,
      sampleMod: Int = 5, k: Int = 8): DataFrame = {
    val sl = Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(sampleMod)) === 0)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val p = sl.as("a").join(sl.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("n"))
    val directed = p.unionByName(
      p.select(col("v").as("u"), col("u").as("v"), col("n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("n").desc, col("v"))
    directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
  }

  /** Newman modularity of a community assignment over an undirected
    * unit-weight graph, in EXACT rational arithmetic: with m = |E|,
    * e_c = edges inside community c, d_c = Σ degrees in c,
    *
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ] = (4m·Σe_c − Σd_c²) / (4m²)
    *
    * — an integer numerator and denominator, so the reported double
    * is ONE correctly-rounded IEEE division (rung 1 of the oracle
    * doctrine: bit-identical cross-engine), rounded to 6. This is the
    * QUALITY scalar the communities-count lane can't see: a
    * regression that preserves the number of communities but degrades
    * their structure (labels bleeding across bridges) moves Q.
    *
    * Scale shape: two node-sized hash joins (labels onto edge
    * endpoints, labels onto degrees) + map-combined aggregates; the
    * three 1-row summaries meet in broadcast crossJoins. Long
    * arithmetic is exact while 4m² < 2⁶³ — m up to ~1.5·10⁹ edges,
    * beyond any graph this engine materializes as pairs.
    */
  def modularitySummary(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val within = e
      .join(labels.select(col("node").as("u"), col("label").as("lu")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("label").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .agg(count(lit(1)).as("within_edges"))
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val dstat = deg.join(labels, Seq("node"))
      .groupBy(col("label")).agg(sum(col("d")).as("dcm"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("dcm") * col("dcm")).as("deg_sq_sum"))
    e.agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(within))
      .crossJoin(broadcast(dstat))
      .select(col("m"), col("n_communities"), col("within_edges"),
        col("deg_sq_sum"),
        // m = 0 would be 0/0 → a silent NULL; define the empty graph
        // as Q = 0 (no edges to place within or across communities)
        when(col("m") > 0L,
          round((lit(4L) * col("m") * col("within_edges") -
            col("deg_sq_sum")).cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"), 6))
          .otherwise(lit(0.0)).as("modularity"))
  }

  /** Driver contract `graph_lpa_modularity`: ONE row — the modularity
    * of the 3-round LPA assignment on the union-kNN(8) supplier graph
    * (the `graph_lpa` lane's quality twin). The kNN edges are cached:
    * the lineitem self-join behind them feeds the LPA rounds AND both
    * modularity joins.
    */
  def lpaModularity(spark: SparkSession, dir: String): DataFrame =
    // the summary is ONE row: computed eagerly, so the scope releases
    // the edge cache and the LPA labels before the call returns
    Materialize.scope {
      val edges = Materialize.cache(supplierKnnEdges(spark, dir))
      val res = modularitySummary(edges, labelPropagation(edges, rounds = 3))
      val rows = res.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
    }

  /** Driver contract `graph_lpa`: communities of the union-kNN(8)
    * supplier co-service graph after 3 synchronous rounds, reported
    * as (community, n_members) — the oracle replays the unrolled
    * recurrence (row_number argmax = the same (cnt DESC, label ASC)
    * tie-break). The kNN graph keeps the lane non-degenerate at
    * EVERY scale (7 communities at sf0.01, 58 at sf0.1 — a fixed
    * count floor was either complete or empty depending on SF).
    */
  def supplierCommunities(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(supplierKnnEdges(spark, dir), rounds = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
    // no trailing sort (r17): presentation-only (row-sorted compare)
}
