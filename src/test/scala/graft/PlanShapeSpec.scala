package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import graft.operators._

/** Physical-plan shape assertions — the properties that make these
  * operators survive a 100× scale-up. A regression here (a lost
  * broadcast, an extra shuffle, a full sort where a group-limit
  * belongs) is a performance bug even while results stay correct.
  */
class PlanShapeSpec extends GraftSpecBase {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Flatten the plan tree, descending through AQE wrappers (their
    * inner plan is a field, not a child) and query stages.
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other.children.flatMap(allNodes)
    })
  }

  private def countNodes(p: SparkPlan, pred: SparkPlan => Boolean): Int =
    allNodes(p).count(pred)

  private def shuffles(df: DataFrame): Int =
    countNodes(plan(df), _.isInstanceOf[ShuffleExchangeExec])

  private def names(df: DataFrame): Seq[String] =
    allNodes(plan(df)).map(_.nodeName)

  /** Nodes on the root-to-node path ABOVE the first node matching
    * `pred` (pre-order) — for asserting an aggregate/join reuses its
    * child's partitioning (no Exchange may sit between them).
    */
  private def nodesAbove(p: SparkPlan, pred: SparkPlan => Boolean): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(n: SparkPlan, acc: Seq[SparkPlan]): Option[Seq[SparkPlan]] =
      if (pred(n)) Some(acc)
      else {
        val kids = n match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        kids.view.flatMap(k => walk(k, acc :+ n)).headOption
      }
    walk(p, Nil).getOrElse(Nil)
  }

  test("multijoin broadcasts every dimension (4 broadcast joins)") {
    initLog()
    val p = plan(BatchQueries.regionalVolume(spark, sf))
    assert(countNodes(p, _.isInstanceOf[BroadcastExchangeExec]) >= 3,
      names(BatchQueries.regionalVolume(spark, sf)).mkString(","))
  }

  test("as-of join costs exactly one shuffle") {
    initLog()
    assert(shuffles(AsOf.eventsAsOfOrders(spark, sf)) == 1)
  }

  test("forward as-of join costs exactly one shuffle too") {
    initLog()
    assert(shuffles(AsOf.eventsAsOfNextOrders(spark, sf)) == 1)
  }

  test("windowed agg is two-phase (map-side partial before the shuffle)") {
    initLog()
    val df = BatchQueries.pricingSummary(spark, sf)
    assert(names(df).count(_ == "HashAggregate") >= 2, names(df).mkString(","))
    assert(shuffles(df) == 1)
  }

  test("top-k window rank prunes with WindowGroupLimit before the shuffle") {
    initLog()
    val df = BatchQueries.topOrdersPerPriority(spark, sf)
    assert(names(df).contains("WindowGroupLimit"), names(df).mkString(","))
  }

  test("top-N join ends in TakeOrderedAndProject, not a global sort") {
    initLog()
    val df = BatchQueries.topRevenueOrders(spark, sf)
    assert(names(df).contains("TakeOrderedAndProject"), names(df).mkString(","))
  }

  test("ANN brute force broadcasts the query side") {
    initLog()
    val ns = names(Similarity.annBruteForce(spark, sf))
    assert(ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
      n.startsWith("BroadcastHashJoin")), ns.mkString(","))
    assert(ns.contains("WindowGroupLimit"), "per-partition top-k pruning expected")
  }

  test("blocked near-dup joins on the cell key — no nested-loop/cartesian") {
    initLog()
    val df = Similarity.embeddingNearDupPairs(spark, sf)
    val ns = names(df)
    assert(!ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
      n.startsWith("CartesianProduct")), ns.mkString(","))
    assert(ns.exists(n => n.startsWith("SortMergeJoin") ||
      n.startsWith("ShuffledHashJoin") || n.startsWith("BroadcastHashJoin")),
      ns.mkString(","))
  }

  test("persisted LSH index probe scans only its (tbl,bucket) partitions") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeLshIndex(emb, dir, planes = 5, tables = 3)
    val query = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val probe = Similarity.lshIndexProbe(spark, dir, query,
      k = 5, planes = 5, tables = 3, excludeId = Some(0L))

    val scans = allNodes(plan(probe)).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, names(probe).mkString(","))
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "probe must push partition filters")
    val totalParts = spark.read.parquet(dir)
      .select("tbl", "bucket").distinct().count()
    val scannedParts = scan.selectedPartitions.partitionCount.toLong
    // 3 tables x 6 probes (bucket + 5 hamming-1) = <= 18 of 3*32 cells
    assert(scannedParts < totalParts,
      s"scanned $scannedParts of $totalParts partitions - nothing pruned")
    assert(scannedParts <= 18, s"scanned $scannedParts partitions")

    // and the probe is still correct: equals brute force restricted to
    // the probed cells' members
    val got = probe.collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && !got.contains(0L))
  }

  test("persisted IVF index probe scans only its nprobe list partitions") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeIvfIndex(emb, dir, nlist = 8)
    val query = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val probe = Similarity.ivfIndexProbe(spark, dir, query,
      k = 5, nprobe = 3, excludeId = Some(1L))
    val scans = allNodes(plan(probe)).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, names(probe).mkString(","))
    assert(scans.head.partitionFilters.nonEmpty, "list filter must prune")
    assert(scans.head.selectedPartitions.partitionCount <= 3,
      s"scanned ${scans.head.selectedPartitions.partitionCount} of 8 lists")
    val got = probe.collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) != 1L))
  }

  test("semanticProbeDelta: corpus scan prunes to the delta's probed lists") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_semdp").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeIvfIndex(emb, dir, nlist = 8)
    // a 2-vector delta probes at most 2 of the 8 list partitions —
    // the corpus side must scan ONLY those (the O(Δ×cluster) claim)
    val delta = emb.filter(
      org.apache.spark.sql.functions.col("vec_id").isin(0L, 1L))
      .select("vec_id", "embedding")
    val tagged = Similarity.semanticProbeDelta(delta, dir, tau = 0.99)
    val scans = allNodes(plan(tagged)).collect { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(scans.nonEmpty, names(tagged).mkString(","))
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "list filter must prune")
    assert(scan.selectedPartitions.partitionCount <= 2,
      s"scanned ${scan.selectedPartitions.partitionCount} of 8 lists")
    // and each delta vector finds ITSELF in the corpus (cos = 1)
    val got = tagged.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(0L -> "semantic_dup", 1L -> "semantic_dup"), got)
  }

  test("bm25IndexProbe scans only the query terms' bucket partitions " +
      "of the postings index — the corpus is never re-scanned") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.Relevance
    val dir = java.nio.file.Files
      .createTempDirectory("graft_postidx").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    Relevance.writePostingsIndex(docs, dir, nBuckets = 16)
    val probe = Relevance.bm25IndexProbe(spark, dir,
      Seq("spark", "window"), k = 10)
    val scans = allNodes(plan(probe)).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, names(probe).mkString(","))
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "bucket filter must prune")
    // 2 terms -> <= 2 of 16 bucket partitions
    assert(scan.selectedPartitions.partitionCount <= 2,
      s"scanned ${scan.selectedPartitions.partitionCount} of 16 buckets")
    // every scanned file is the postings index — no documents scan
    assert(scans.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("postings"))),
      scans.map(_.relation.location.rootPaths.mkString(",")).mkString(";"))
    assert(probe.collect().nonEmpty)
  }

  test("persisted IVF-PQ probe scans only its nprobe list partitions " +
      "of the codes table — both parents' plan theses composed") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeIvfPqIndex(emb, dir, nlist = 8, m = 8, ksub = 16,
      dims0 = 64)
    val query = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val probe = Similarity.ivfPqIndexProbe(spark, dir, query,
      k = 5, nprobe = 3, excludeId = Some(1L))
    val scans = allNodes(plan(probe)).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, names(probe).mkString(","))
    // IVF thesis: static pruning to the probed lists
    assert(scans.head.partitionFilters.nonEmpty, "list filter must prune")
    assert(scans.head.selectedPartitions.partitionCount <= 3,
      s"scanned ${scans.head.selectedPartitions.partitionCount} of 8 lists")
    // PQ thesis: every scanned file is codes — no raw-embedding or
    // codebook file in the distributed plan
    assert(scans.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("codes"))),
      scans.map(_.relation.location.rootPaths.mkString(",")).mkString(";"))
    val got = probe.collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) != 1L))
  }

  test("persisted PQ index probe reads ONLY the compressed codes table") {
    initLog()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidxp").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writePqIndex(emb, dir, m = 8, ksub = 16)
    val query = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val probe = Similarity.pqIndexProbe(spark, dir, query,
      k = 5, excludeId = Some(0L))
    // the probe's ONLY file scan is the codes table — neither the
    // codebooks (driver-loaded, bounded) nor any raw-embedding file
    // appears in the distributed plan; every scanned byte is
    // compressed codes. This is the PQ index's storage thesis as a
    // plan property.
    val scans = allNodes(plan(probe)).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, names(probe).mkString(","))
    val paths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(paths.forall(_.contains("/codes")), paths.mkString(","))
    // and no embedding column survives into any scan's schema
    assert(scans.forall(!_.schema.fieldNames.contains("embedding")))
    val got = probe.collect()
    assert(got.length == 5 && got.forall(_.getLong(0) != 0L))
  }

  test("semantic dedup: survivor branch reuses the pair join's " +
      "repartitioned assignment exchange") {
    initLog()
    val df = Similarity.semanticDedup(
      graft.sources.Tables.embeddings(spark, sf), tau = 0.45, dims0 = 64)
    df.collect()
    // the anti-join's survivor side and the pair join's left side are
    // the SAME repartition(list) subtree — one exchange, reused; if
    // this breaks, the assignment lineage (scan + argmin + norm) runs
    // a third time
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    assert(countNodes(plan(df), n => n.isInstanceOf[ReusedExchangeExec] ||
      n.nodeName.contains("ReusedExchange")) >= 1,
      names(df).mkString(","))
  }

  test("lateral top-2 decorrelates to a window rank, not a per-row probe") {
    initLog()
    val ns = names(BatchQueries.topOrdersLateral(spark, sf))
    assert(!ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
      n.startsWith("CartesianProduct")), ns.mkString(","))
    assert(ns.exists(n => n.contains("Window")),
      s"expected the LIMIT 2 inner query to become a window rank: ${ns.mkString(",")}")
  }

  test("gap-fill calendar join is equi, not nested-loop") {
    initLog()
    val ns = names(BatchQueries.denseDailySeries(spark, sf))
    assert(!ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
      n.startsWith("CartesianProduct")), ns.mkString(","))
  }

  test("co-bucketed join: zero exchanges, results equal the plain join") {
    initLog()
    val orders = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(orders, "bk_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(lineitem, "bk_lineitem", "o_orderkey", 8)
    try {
      val joined = Bucketing.cobucketedJoin(spark, "bk_orders", "bk_lineitem",
        "o_orderkey")
      assert(shuffles(joined) == 0,
        s"bucketed join must not exchange: ${names(joined).mkString(",")}")
      assert(joined.count() == orders.join(lineitem, "o_orderkey").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_orders")
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    }
  }

  test("flagship window agg: single shuffle, pruned scan") {
    initLog()
    val df = EditAnalytics.editSizeByWindow(spark, sf)
    assert(shuffles(df) == 1, names(df).mkString(","))
    val scans = allNodes(plan(df)).filter(_.nodeName.contains("Scan"))
    assert(scans.forall(!_.toString.contains("props")),
      "untouched JSON column must be pruned")
  }

  test("top-ngrams: native hash counting, no interpreted gram transform, reused count exchange") {
    initLog()
    val df = TextAnalysis.topNgrams(graft.sources.Tables.documents(spark, sf))
    df.collect()
    val s = plan(df).toString
    assert(s.contains("shingle_windows"), "counting must run on native hash keys")
    assert(!s.contains("transform("),
      "no interpreted HOF may materialize gram strings corpus-wide")
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    assert(countNodes(plan(df), n => n.isInstanceOf[ReusedExchangeExec] ||
      n.nodeName.contains("ReusedExchange")) >= 1,
      "threshold and candidate branches must reuse one count exchange:\n" + s)
  }

  test("incremental diff: bucketed state side joins with no exchange") {
    initLog()
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_diff_state_plan")
    Bucketing.writeBucketed(
      (1L to 100L).map(i => (i, i * 1.5)).toDF("k", "v"),
      "graft_diff_state_plan", "k", 4)
    val cur = (3L to 103L).map(i => (i, i * 1.5 + (i % 7))).toDF("k", "v")
    val d = BatchQueries.diffSnapshots(
      spark.table("graft_diff_state_plan"), cur, "k")
    d.collect()
    // exactly ONE exchange: the incoming epoch shuffles to the state's
    // bucketing; the (big) state side is read in place
    assert(shuffles(d) == 1, names(d).mkString(","))
  }

  /** Run `body` with auto-broadcast off — simulating both join sides
    * being cluster-scale, which is what the sf0.001 fixture can't show
    * (AQE correctly broadcasts a side it SEES is tiny; the spec-able
    * claim is the shape when nothing is).
    */
  private def withNoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("segment dedup resolves first-win as a map-side-combined argmin, not a window sort") {
    initLog()
    withNoBroadcast {
      val df = Segments.segmentDedup(graft.sources.Tables.documents(spark, sf))
      df.collect()
      val ns = names(df)
      // the viral-segment hazard: a Window over partitionBy(seg_md5) ships
      // every copy of the hottest segment into one task's sort. The argmin
      // form must plan as partial+final aggregate (duplicates collapse
      // BEFORE the exchange) + an equi-join back — NO Window resolve.
      assert(!ns.exists(_.startsWith("Window")),
        s"first-win resolve must not be a window: ${ns.mkString(",")}")
      // 2 winner nodes (SortAggregate: struct min buffer isn't
      // hash-aggregable) + 2 reassemble nodes (ObjectHashAggregate)
      assert(ns.count(_.endsWith("Aggregate")) >= 4,
        s"argmin resolve must combine map-side: ${ns.mkString(",")}")
      assert(ns.exists(n => n.startsWith("SortMergeJoin") ||
        n.startsWith("ShuffledHashJoin")), ns.mkString(","))
      // winners carry the kept text through the argmin, so the final
      // totals-vs-kept join is a doc_id equi-join of two aggregate
      // branches that already share that partitioning — no exchange may
      // sit between the join and either aggregate below it, and none
      // above it (the join output IS the result layout).
      val above = nodesAbove(plan(df),
        n => n.nodeName.startsWith("SortMergeJoin") ||
          n.nodeName.startsWith("ShuffledHashJoin"))
      assert(above.nonEmpty && !above.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"no exchange above the totals-kept join: ${above.map(_.nodeName).mkString(",")}")
      val join = allNodes(plan(df)).find(n =>
        n.nodeName.startsWith("SortMergeJoin") ||
          n.nodeName.startsWith("ShuffledHashJoin")).get
      join.children.foreach { side =>
        val below = nodesAbove(side, _.nodeName.endsWith("Aggregate")) :+ side
        assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"join must reuse the aggregates' doc_id partitioning, not re-exchange: " +
            below.map(_.nodeName).mkString(","))
      }
    }
  }

  test("boilerplate scrub joins df counts back as a shuffle equi-join at scale") {
    initLog()
    withNoBroadcast {
      val df = Segments.boilerplateScrub(graft.sources.Tables.documents(spark, sf))
      df.collect()
      val ns = names(df)
      // the df side is corpus-scale (one row per distinct segment): with
      // no runtime-proven-tiny side it must be a shuffled equi-join — a
      // plan that still executes when both sides are 100 TB. (With AQE
      // defaults the sf0.001 counts side IS tiny and gets broadcast —
      // that's the adaptive fast path, not the shape under test.)
      assert(!ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
        n.startsWith("CartesianProduct")), ns.mkString(","))
      assert(countNodes(plan(df), _.isInstanceOf[BroadcastExchangeExec]) == 0,
        ns.mkString(","))
      assert(ns.exists(n => n.startsWith("SortMergeJoin") ||
        n.startsWith("ShuffledHashJoin")), ns.mkString(","))
      // the keeper tag joins against the FILTERED boiler-key set — the
      // df aggregate's threshold filter must sit below the join, so
      // the build input is the boilerplate subset, not every distinct
      // segment (checked on the final plan string: the filter on the
      // df count survives into the join's build side)
      assert(plan(df).toString.contains("seg_df"),
        "boiler-key filter must survive into the physical plan")
    }
  }

  test("sequence packing costs exactly one shuffle (the per-shard window)") {
    initLog()
    // a Range input reads as already-wide, so Par.ensure stays the no-op
    // it is on a real multi-split table and the window is the only exchange
    val docs = spark.range(0, 1000).selectExpr("id AS doc_id",
      "repeat('w ', CAST(id % 17 AS INT) + 1) AS text")
    val df = Packing.packDocs(docs)
    df.collect()
    assert(shuffles(df) == 1, names(df).mkString(","))
  }

  test("table profile is one scan; approx mode drops the exact-ndv Expand") {
    initLog()
    val orders = graft.sources.Tables.orders(spark, sf)
    val exactDf = Profile.profile(orders, exact = true)
    val approxDf = Profile.profile(orders) // approx is the r8 DEFAULT
    exactDf.collect(); approxDf.collect()
    // ONE pass over the data in both modes, however many columns profiled
    Seq(exactDf, approxDf).foreach { d =>
      assert(allNodes(plan(d)).count(_.nodeName.contains("Scan")) == 1,
        names(d).mkString(","))
    }
    // exact k-column ndv = Expand + the distinct-aggregate's inherent two
    // exchanges (dedup the expanded keys, then merge to the global row),
    // +1 for Par.ensure's scan-parallelize RoundRobin (it fires here
    // because the tiny local input yields one split)
    assert(names(exactDf).exists(_.contains("Expand")),
      "exact k-column ndv plans an Expand: " + names(exactDf).mkString(","))
    assert(shuffles(exactDf) == 3, names(exactDf).mkString(","))
    // HLL++ mode: no Expand, no Par.ensure (cheap partials — the
    // scan-copy would cost more), one partial -> final exchange
    assert(!names(approxDf).exists(_.contains("Expand")),
      "HLL++ mode must not Expand: " + names(approxDf).mkString(","))
    assert(shuffles(approxDf) == 1, names(approxDf).mkString(","))
  }

  test("repetition: hash-keyed tf counting — no gram strings anywhere in the plan") {
    initLog()
    val df = TextAnalysis.repetitionScores(graft.sources.Tables.documents(spark, sf))
    df.collect()
    val s = plan(df).toString
    assert(s.contains("shingle_hashes"))
    assert(!s.contains("transform(") && !s.contains("array_join"),
      "the output has no gram text, so none may be built")
  }

  test("scd2: both windows and the run grouping share ONE user_id exchange") {
    initLog()
    assert(shuffles(Temporal.scd2Intervals(spark, sf)) == 1,
      names(Temporal.scd2Intervals(spark, sf)).mkString(","))
  }

  test("merge upsert: snapshot join reuses the aggregates' partitioning") {
    initLog()
    val df = Temporal.mergeUpsert(spark, sf)
    // one exchange per snapshot branch; the full-outer join adds NONE
    assert(shuffles(df) == 2, names(df).mkString(","))
  }

  test("cohort retention: corpus rides exactly one user-keyed shuffle") {
    initLog()
    val df = Temporal.cohortRetention(spark, sf)
    // shuffle 1: groupBy(user) (cohort + week set); shuffle 2 carries
    // only the exploded (cohort, offset) cells — calendar-sized rows
    assert(shuffles(df) == 2, names(df).mkString(","))
  }

  test("applyMixture: the corpus never shuffles — rate join is broadcast") {
    initLog()
    val docs = graft.sources.Tables.documents(spark, sf)
    val rates = Mixture.mixtureRates(docs, "lang",
      Map("en" -> 0.5, "de" -> 0.5), budgetShare = 0.5)
    val df = Mixture.applyMixture(docs, rates, "doc_id", "lang")
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 1, names(df).mkString(","))
    assert(!names(df).exists(_.contains("SortMergeJoin")),
      names(df).mkString(","))
    // the only shuffles sit under the |domains|-row rate aggregate,
    // never on the corpus probe side (its path to the join is scan+filter)
    val probeSide = nodesAbove(plan(df),
      _.isInstanceOf[BroadcastExchangeExec])
    assert(!probeSide.exists(_.isInstanceOf[ShuffleExchangeExec]))
  }

  test("z-order layout: cell stats are one corpus agg; zmax rides a broadcast") {
    initLog()
    val df = Layout.zorderCells(spark, sf)
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 1, names(df).mkString(","))
    assert(!names(df).exists(_.contains("SortMergeJoin")),
      names(df).mkString(","))
  }

  test("postings head: hot terms are group-limited BEFORE the window shuffle") {
    initLog()
    val df = Relevance.postings(spark, sf)
    // the rk<=sampleK filter must compile to WindowGroupLimit (the
    // per-map-partition prune that bounds a stopword's postings), and
    // the vocabulary-sized stats/head branches meet in a broadcast
    assert(names(df).contains("WindowGroupLimit"), names(df).mkString(","))
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 1, names(df).mkString(","))
  }

  test("bm25: stats + probe lanes share the corpus work (≤2 explodes, reused tf exchange)") {
    initLog()
    val df = Relevance.bm25Search(
      graft.sources.Tables.documents(spark, sf), Seq("spark", "window"))
    df.collect() // AQE materializes stage reuse at execution
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // exactly two corpus explodes survive: the full tf lane feeding the
    // grouping-sets df/dl aggregate, and the probe lane whose tok-IN
    // filter prunes to query terms right after its Generate (pushing
    // that filter below the agg is WORTH the second explode — it's the
    // df/dl lanes collapsing into one grouping-sets pass + AQE exchange
    // reuse that removed the other two corpus passes)
    assert(countNodes(plan(df), _.nodeName.contains("Generate")) <= 2,
      names(df).mkString(","))
    assert(countNodes(plan(df), n => n.isInstanceOf[ReusedExchangeExec] ||
      n.nodeName.contains("ReusedExchange")) >= 2,
      names(df).mkString(","))
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 2, names(df).mkString(","))
  }

  test("outlier detection: per-type stats broadcast back, corpus never shuffles") {
    initLog()
    val df = BatchQueries.valueOutliers(spark, sf)
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 1, names(df).mkString(","))
    assert(!names(df).exists(_.contains("SortMergeJoin")),
      names(df).mkString(","))
    val probeSide = nodesAbove(plan(df),
      _.isInstanceOf[BroadcastExchangeExec])
    assert(!probeSide.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "outlier tagging must be map-side over the scan")
  }

  test("keepBestPerCluster resolves with an algebraic argmax, no Sort+Window") {
    initLog()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = spark.range(50).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("t u v").as("text"))
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val df = Governance.keepBestPerCluster(docs, pairs)
    val ns = names(df)
    assert(!ns.contains("Window"), ns.mkString(","))
    // partial+final SortAggregate (struct max buffer isn't
    // hash-aggregable) — the partial collapses a mega-cluster map-side
    assert(ns.count(_.endsWith("Aggregate")) >= 2,
      "argmax must partial-agg map-side: " + ns.mkString(","))
  }

  test("basketPairs: top-k via TakeOrderedAndProject, pair join stays equi") {
    initLog()
    val df = Affinity.partPairs(spark, sf)
    val ns = names(df)
    assert(ns.contains("TakeOrderedAndProject"), ns.mkString(","))
    // the single-row basket total legitimately rides one broadcast
    // nested loop; the PAIR self-join and the count join-backs must all
    // be equi-joins — a second nested loop would be quadratic in items
    assert(ns.count(n => n.startsWith("BroadcastNestedLoopJoin") ||
      n.startsWith("CartesianProduct")) <= 1, ns.mkString(","))
    assert(ns.exists(n => n.startsWith("SortMergeJoin") ||
      n.startsWith("ShuffledHashJoin") || n.startsWith("BroadcastHashJoin")),
      ns.mkString(","))
  }

  test("basketPairs: count join-backs broadcast the k-row cut; basket layout is reused") {
    initLog()
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    withNoBroadcast {
      val df = Affinity.partPairs(spark, sf)
      df.collect()
      val p = plan(df)
      // the per-item-count joins must NOT sort-merge the pair table —
      // the 10× A/B (SURVEY.md r7 scale curve, commit 9d46d64) measured
      // that shape 2.4× slower; both ride the k-row broadcast build
      // (explicit hints, so they survive autoBroadcast=-1, i.e.
      // cluster-scale inputs)
      assert(!allNodes(p).exists { case j: SortMergeJoinExec =>
        j.leftKeys.map(_.sql).mkString.contains("item_a") ||
          j.leftKeys.map(_.sql).mkString.contains("item_b")
        case _ => false }, "count join-back went sort-merge on the pair table")
      // both sides of the basket self-join share ONE repartition(basket)
      // exchange (subset-clustering satisfies the distinct too)
      assert(countNodes(p, n => n.isInstanceOf[ReusedExchangeExec] ||
        n.nodeName.contains("ReusedExchange")) >= 1,
        "basket self-join no longer reuses the repartition(basket) exchange")
    }
  }

  test("purge anti-join broadcasts the tombstone side") {
    initLog()
    val df = Governance.purgeAudit(spark, sf)
    val ns = names(df)
    // three semi/anti legs; at spec scale every tombstone side fits a
    // broadcast, and nothing may force the fact side to broadcast
    assert(countNodes(plan(df),
      _.isInstanceOf[BroadcastExchangeExec]) >= 2, ns.mkString(","))
  }

  test("skyline prefilter: corpus rows never enter an exchange") {
    initLog()
    val surv = Skyline.skylineSurvivors(
      graft.sources.Tables.part(spark, sf), "p_retailprice", "p_size", 256)
    val ns = names(surv)
    // bounds (1 row) and bin cummax (nBins rows) ride broadcasts; the
    // corpus is only ever the probe side
    assert(countNodes(plan(surv),
      _.isInstanceOf[BroadcastExchangeExec]) >= 2, ns.mkString(","))
    // every shuffle in the prefilter carries aggregate output (per-bin
    // maxima / their single-partition window), never corpus rows
    allNodes(plan(surv)).filter(_.isInstanceOf[ShuffleExchangeExec])
      .foreach { ex =>
        assert(ex.children.head.nodeName.endsWith("Aggregate"),
          s"corpus-scale exchange in prefilter: ${ns.mkString(",")}")
      }
  }

  test("skyline pairwise pass runs on the checkpointed frontier only") {
    initLog()
    val df = Skyline.partFrontier(spark, sf)
    val ns = names(df)
    // the survivor checkpoint cuts the plan: the final query must be
    // the anti-join over the materialized survivor RDD (scans of
    // ExistingRDD, no parquet re-scan) with the q side broadcast
    assert(ns.exists(_.startsWith("BroadcastNestedLoopJoin")), ns.mkString(","))
    assert(!ns.exists(_.contains("parquet")), ns.mkString(","))
    assert(shuffles(df) == 0, ns.mkString(","))
  }

  test("pathTopK: ordered head inside ONE user shuffle, top-k without global sort") {
    initLog()
    val df = Temporal.pathTopK(spark, sf)
    val ns = names(df)
    assert(ns.contains("TakeOrderedAndProject"), ns.mkString(","))
    assert(!ns.exists(_.startsWith("Window")),
      "the per-user head must be the ordered collect, not a row_number pass: " +
        ns.mkString(","))
    // user groupBy + path groupBy: exactly two exchanges
    assert(shuffles(df) == 2, ns.mkString(","))
  }

  test("incrementalDedup: corpus-scale index is never broadcast") {
    initLog()
    withNoBroadcast {
      val df = Governance.incrementalDedupDocs(spark, sf)
      df.collect() // let AQE finalize join strategies before reading shapes
      val ns = names(df)
      // the (h1,h2) probe join must be a shuffled join on the hash key —
      // broadcasting the exploded corpus index would ship
      // |corpus|×shingles to every probe task
      assert(ns.exists(n => n.startsWith("SortMergeJoin") ||
        n.startsWith("ShuffledHashJoin")), ns.mkString(","))
      assert(!ns.exists(n => n.startsWith("BroadcastNestedLoopJoin") ||
        n.startsWith("CartesianProduct")), ns.mkString(","))
    }
  }

  test("triangle census: corpus joins are equi; nested-loop only for one-row stats") {
    initLog()
    val df = Graph.supplierTriangles(spark, sf)
    val ns = names(df)
    assert(!ns.exists(_.contains("CartesianProduct")), ns.mkString(","))
    // exactly the TWO nested-loop joins that combine the three ONE-ROW
    // stat frames (wedges × counts × triangles) — both inputs
    // aggregate-sized by construction; anything more means a corpus
    // join degenerated
    assert(ns.count(_.contains("BroadcastNestedLoop")) == 2,
      ns.mkString(","))
    // the corpus-side wedge/closure joins are hash/sort-merge equi
    assert(ns.exists(n => n.contains("ShuffledHashJoin") ||
      n.contains("SortMergeJoin") || n.contains("BroadcastHashJoin")),
      ns.mkString(","))
  }

  test("link prediction tops out in TakeOrderedAndProject, not a sort") {
    initLog()
    val df = Graph.supplierLinkPrediction(spark, sf)
    val ns = names(df)
    assert(ns.contains("TakeOrderedAndProject"), ns.mkString(","))
    assert(!ns.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoop")), ns.mkString(","))
  }

  test("fixed-k sample plans as TakeOrderedAndProject (no corpus sort)") {
    initLog()
    val df = Sampling.fixedSample(
      graft.sources.Tables.documents(spark, sf), "doc_id", 25)
    val ns = names(df)
    assert(ns.contains("TakeOrderedAndProject"), ns.mkString(","))
    assert(shuffles(df) == 0, ns.mkString(","))
  }

  test("decayed activity: one corpus shuffle, anchor rides a broadcast") {
    initLog()
    val df = Temporal.decayedActivity(spark, sf)
    df.collect()
    val ns = names(df)
    // the corpus-side work: scan -> broadcast anchor join -> one
    // map-combined groupBy shuffle (the anchor agg is its own tiny
    // exchange under AQE; corpus rows cross exactly one)
    assert(ns.count(_ == "HashAggregate") >= 2, ns.mkString(","))
    assert(countNodes(plan(df), _.isInstanceOf[BroadcastExchangeExec]) >= 1,
      ns.mkString(","))
  }

  test("DSIR: weight table broadcasts, top-k is a TakeOrdered") {
    initLog()
    val df = Importance.dsirSelect(spark, sf)
    df.collect()
    val ns = names(df)
    // vocab-sized weights and the 100-row winner set broadcast; the
    // corpus-wide ranking is TakeOrderedAndProject, never a global
    // sort of the scored corpus; no nested-loop beyond the ONE-row
    // totals cross join
    assert(countNodes(plan(df), _.isInstanceOf[BroadcastExchangeExec]) >= 2,
      ns.mkString(","))
    assert(ns.exists(_.startsWith("TakeOrdered")), ns.mkString(","))
    assert(ns.count(_.startsWith("BroadcastNestedLoopJoin")) <= 1,
      ns.mkString(","))
  }

  test("substring dedup: no shuffle carries a string column") {
    initLog()
    val df = Dedup.substringDupSpans(
      graft.sources.Tables.documents(spark, sf), n = 8)
    df.collect()
    // gram text exists only inside map stages (scan -> hash); every
    // KEYED exchange ships (doc_id, pos, h1, h2)-shaped rows — the
    // de-stringified-shuffle doctrine (r9 text_collocations lesson).
    // Par.ensure's RoundRobin spreaders legitimately carry text (they
    // move the pre-explode corpus to idle cores) and are excluded.
    val stringShuffles = allNodes(plan(df))
      .collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
      .filter(_.output.exists(_.dataType ==
        org.apache.spark.sql.types.StringType))
    assert(stringShuffles.isEmpty,
      stringShuffles.map(_.output.map(_.name).mkString("[", ",", "]"))
        .mkString(";"))
  }

  test("LPA: the cached edge layout feeds every round's join with no " +
      "exchange") {
    initLog()
    import org.apache.spark.sql.functions.col
    val edges = graft.operators.Graph.supplierCoEdges(spark, sf,
      minShared = 2)
    // the operator's own layout: symmetric, distinct, partitioned by
    // the round-join key, cached (labelPropagation's loop body is
    // lpaRound over exactly this frame — the checkpoint in the public
    // API truncates the visible plan, so the spec drives the round)
    val sym = edges.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
      .distinct().repartition(col("nbr")).cache()
    try {
      sym.count()
      val labels = sym.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val df = Graph.lpaRound(sym, labels)
      df.collect()
      // path from the nearest join DOWN to the in-memory edge scan
      // must be exchange-free: the cache is partitioned by nbr, the
      // round join's key — if an Exchange re-appears here, every
      // round reshuffles the edge list (the cost the partitioning
      // exists to kill). Labels/count frames still shuffle
      // (node-sized, expected).
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanLike
      val above = nodesAbove(plan(df),
        _.isInstanceOf[InMemoryTableScanLike])
      assert(above.nonEmpty, names(df).mkString(","))
      val lastJoinIdx = above.lastIndexWhere(n =>
        n.nodeName.contains("Join"))
      assert(lastJoinIdx >= 0, above.map(_.nodeName).mkString(","))
      val between = above.drop(lastJoinIdx + 1)
      assert(!between.exists(_.isInstanceOf[ShuffleExchangeExec]),
        above.map(_.nodeName).mkString(","))
    } finally sym.unpersist()
  }

  test("shard shuffle: bucket-parallel rank, broadcast offsets, " +
      "no global corpus sort") {
    initLog()
    val ns = names(graft.operators.Mixture.shardShuffleAssign(spark, sf))
    assert(ns.exists(_.startsWith("BroadcastHashJoin")), ns.mkString(","))
    assert(!ns.exists(n => n.contains("CartesianProduct") ||
      n.startsWith("BroadcastNestedLoopJoin")), ns.mkString(","))
    // the only Sorts are window-local (bucket-partitioned or the
    // bounded offsets cumsum) — a global corpus ordering would show
    // as a range-partitioned Exchange in the plan string
    val ps = plan(graft.operators.Mixture.shardShuffleAssign(spark, sf))
      .toString
    assert(!ps.contains("rangepartitioning"), ps.take(2000))
  }

  test("embedding audit: the returned plan holds NO corpus scan — " +
      "the one TakeOrdered scan ran at sample-collect time") {
    initLog()
    val ns = names(Similarity.embeddingAuditRate(spark, sf))
    assert(!ns.exists(_.startsWith("Scan parquet")), ns.mkString(","))
    assert(ns.exists(n => n.contains("LocalTableScan") ||
      n.contains("Scan ExistingRDD")), ns.mkString(","))
    assert(!ns.exists(_.contains("CartesianProduct")), ns.mkString(","))
  }

  test("quality buckets: offsets join back as a broadcast — the " +
      "window exchange is the only corpus shuffle path") {
    initLog()
    val df = graft.operators.Curation.pplBuckets(spark, sf)
    val ns = names(df)
    assert(ns.exists(_.startsWith("BroadcastHashJoin")), ns.mkString(","))
    assert(!ns.exists(n => n.contains("CartesianProduct") ||
      n.startsWith("BroadcastNestedLoopJoin")), ns.mkString(","))
  }

  test("edit decode: the reference job's plan parses each JSON value once") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import graft.sources.EditEvents
    import graft.streaming.WikiEditPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_decode_plan")
    java.nio.file.Files.write(dir.resolve("edits.json"),
      ("""{"id":"1","domain":"d","namespace":"main namespace",""" +
        """"user_type":"human","timestamp":"2024-01-01T00:00:00Z",""" +
        """"old_length":1,"new_length":3}""").getBytes("UTF-8"))
    val deltas = WikiEditPipeline.editDeltas(
      EditEvents.fromJson(spark.read.text(dir.toString)))
    val decodes = deltas.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    // a filter pushed below a projection split re-parses once per field
    assert(decodes.size == 1, deltas.queryExecution.optimizedPlan.toString)
    assert(deltas.collect().map(r => r.getLong(2)).toSeq == Seq(2L))
  }

  test("edit decode: rows equal the projection-split form's for valid, " +
      "malformed, null, empty, non-object and partial values") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.sources.EditEvents
    import spark.implicits._
    val frames = Seq[String](
      """{"id":"1","domain":"d","namespace":"main namespace",""" +
        """"user_type":"human","timestamp":"2024-01-01T00:00:05Z",""" +
        """"old_length":1,"new_length":3}""",
      "{bad", null, "", "[]",
      """{"id":"2","domain":"e","timestamp":"2024-01-01T00:01:00Z",""" +
        """"old_length":"x","new_length":7}""").toDF("value")
    // the decode before the single-parse change, kept as the reference
    val reference = frames
      .select(EditEvents.decode(col("value")).as("e"))
      .select(col("e.*"))
      .withColumn("ts", to_timestamp(col("timestamp")))
    val got = EditEvents.fromJson(frames)
    assert(got.columns.toSeq == reference.columns.toSeq)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.toString).sorted.toSeq
    assert(rows(got).size == 6)
    assert(rows(got) == rows(reference))
  }
}
