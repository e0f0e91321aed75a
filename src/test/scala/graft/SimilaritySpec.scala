package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.Vectors

class SimilaritySpec extends GraftSpecBase {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private def emb = Seq(
    (0L, vec(1, 0, 0, 0), 0),
    (1L, vec(0.99, 0.14, 0, 0), 0),   // near dup of 0
    (2L, vec(0, 1, 0, 0), 1),
    (3L, vec(0, 0, 1, 0), 2))
    .toDF("vec_id", "embedding", "label")

  test("cosine column: identical vectors ~1, orthogonal 0") {
    initLog()
    val r = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id").isin(0, 2))
      .select(col("b.vec_id").as("id"),
        Vectors.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("c")).toMap
    assert(math.abs(r(0L) - 1.0) < 1e-12)
    assert(math.abs(r(2L)) < 1e-12)
  }

  test("brute-force ANN ranks the planted near-dup first") {
    initLog()
    val out = Similarity.annBruteForce(emb, nQueries = 1, k = 2).collect()
    assert(out.head.getAs[Long]("neighbor_id") == 1L)
    assert(out.head.getAs[Long]("rank") == 1L)
  }

  test("near-dup pairs finds exactly the planted pair at tau=0.9") {
    initLog()
    val pairs = Similarity.embeddingNearDupPairs(emb, tau = 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 0L &&
      pairs.head.getAs[Long]("id_b") == 1L)
  }

  test("blocked near-dup equals the direct all-pairs form on the corpus") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm2(col("embedding")).as("nrm"))
    // reference formulation: the plain non-equi all-pairs join
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val direct = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.45)
      .select("id_a", "id_b", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (blocks <- Seq(1, 3, 8)) {
      val blocked = Similarity.embeddingNearDupPairs(
          graft.sources.Tables.embeddings(spark, sf), tau = 0.45, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(blocked.length == blocked.toSet.size, s"dup pairs at B=$blocks")
      assert(blocked.toSet == direct, s"mismatch at B=$blocks")
    }
  }

  test("LSH near-dup variant equals exact at high tau on planted clusters") {
    initLog()
    // 3 clusters of 4 near-identical vectors (cos >= ~0.99 within,
    // ~orthogonal across) in 16 dims, plus noise directions
    val rows = for {
      c <- 0 until 3; m <- 0 until 4
    } yield {
      val base = Array.fill(16)(0.0f)
      base(c * 5) = 1.0f
      base((c * 5 + m + 1) % 16) = 0.05f * (m + 1) // small perturbation
      ((c * 4 + m).toLong, base, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.embeddingNearDupPairs(df, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.embeddingNearDupPairsLsh(df, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain high-cos pairs")
    assert(lsh == exact,
      s"missed=${(exact -- lsh).size} extra=${(lsh -- exact).size}")
  }

  test("exact high-tau pairs (triangle-inequality cluster prune) equal " +
      "the brute force on planted clusters, at every nlist") {
    initLog()
    // 5 clusters of 6 jittered members (high cos within, ~orthogonal
    // across) in 16 dims — enough structure that the cell prune
    // actually drops cross-cluster cells, plus a singleton outlier
    val rows = (for {
      c <- 0 until 5; m <- 0 until 6
    } yield {
      val base = Array.fill(16)(0.0f)
      base(c * 3) = 1.0f
      base((c * 3 + m + 1) % 16) = 0.04f * (m + 1)
      ((c * 6 + m).toLong, base, c)
    }) :+ ((99L, Array.tabulate(16)(i => if (i % 2 == 0) 0.25f else -0.25f), 9))
    val df = rows.toDF("vec_id", "embedding", "label")
    for (tau <- Seq(0.85, 0.95); nlist <- Seq(1, 4, 8)) {
      val exact = Similarity.embeddingNearDupPairs(df, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = Similarity.embeddingPairsExactHighTau(df, tau = tau,
        nlist = nlist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pruned.length == pruned.toSet.size,
        s"duplicate pairs at tau=$tau nlist=$nlist")
      assert(exact.nonEmpty || tau > 0.9, "fixture should have pairs")
      assert(pruned.toSet == exact,
        s"tau=$tau nlist=$nlist missed=${(exact -- pruned.toSet).size} " +
          s"extra=${(pruned.toSet -- exact).size}")
    }
  }

  test("exact high-tau pairs: threshold-boundary pair is kept (rounding " +
      "band rides the angular slack)") {
    initLog()
    // two unit vectors engineered to cos ≈ 0.85 + 4e-7 → round(.,6)
    // lands EXACTLY on 0.8500: the pair must be found even though its
    // true angle exceeds acos(0.85)
    val c = 0.8499996
    val s = math.sqrt(1 - c * c)
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(c.toFloat, s.toFloat, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val brute = Similarity.embeddingNearDupPairs(df, tau = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.embeddingPairsExactHighTau(df, tau = 0.85,
      nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("qualifyingCells: distributed self-join equals the driver loop " +
      "(same predicate, same normalized doubles)") {
    initLog()
    // deterministic centroid fixture: 12 hash-jittered unit vectors in
    // 8 dims with a spread of radii — wide enough that the angular
    // bound keeps SOME cells and drops others at θ_τ = acos(0.85)
    val cn: Map[Int, Array[Double]] = (0 until 12).map { i =>
      val raw = Array.tabulate(8)(d =>
        math.sin(i * 37 + d * 13) + (if (d == i % 8) 2.0 else 0.0))
      val n = math.sqrt(raw.map(x => x * x).sum)
      i -> raw.map(_ / n)
    }.toMap
    val radii: Map[Int, Double] =
      (0 until 12).map(i => i -> (0.05 + 0.04 * (i % 5))).toMap
    val lists = (0 until 12).toSeq
    val theta = math.acos(0.85)
    def cells(distribute: Boolean): Set[(Int, Int, Double, Double)] =
      Similarity.qualifyingCells(spark, lists, cn, radii, theta, 1e-5,
          distribute)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        .toSet
    val driver = cells(distribute = false)
    val dist = cells(distribute = true)
    assert(driver.nonEmpty && driver.size < 12 * 13 / 2,
      s"fixture should neither keep nothing nor everything: ${driver.size}")
    assert(dist == driver,
      s"missed=${(driver -- dist).size} extra=${(dist -- driver).size}")
  }

  test("capQuadraticLane: identity on the correctness path, capped " +
      "deterministic subset only when the bench property is set") {
    initLog()
    val n = (Similarity.QuadraticLaneCapRows * 2).toInt
    val df = spark.range(n.toLong).select(col("id").as("vec_id"))
    // correctness path (no property): ALWAYS the full input — the
    // driver's oracles enumerate the full table (r12 ADVICE, medium)
    assert(Similarity.capQuadraticLane(df).count() == n.toLong)
    System.setProperty(Similarity.QuadraticCapProp, "true")
    try {
      val capped = Similarity.capQuadraticLane(df)
      val c1 = capped.count()
      assert(c1 < n.toLong && c1 > 0,
        s"bench path should cap $n rows toward ${Similarity.QuadraticLaneCapRows}")
      // deterministic: same predicate, same subset, run to run
      assert(Similarity.capQuadraticLane(df).count() == c1)
      // under the cap: untouched even on the bench path
      val small = spark.range(100L).select(col("id").as("vec_id"))
      assert(Similarity.capQuadraticLane(small).count() == 100L)
    } finally System.clearProperty(Similarity.QuadraticCapProp)
  }

  test("LSH index append: new vectors become findable without a rebuild") {
    initLog()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lshapp").toString
    val base = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeLshIndex(base, dir, planes = 5, tables = 3)
    // a brand-new vector: near-identical to vec 0 (guaranteed close)
    val v0 = base.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val nv = v0.clone(); nv(0) = nv(0) + 0.01f
    val newDf = Seq((999999L, nv.toSeq)).toDF("vec_id", "embedding")
    Similarity.appendToLshIndex(newDf, dir, planes = 5, tables = 3)
    // probing with vec 0's embedding must now surface the appended id
    val got = Similarity.lshIndexProbe(spark, dir,
        v0.map(_.toDouble).toSeq, k = 3, planes = 5, tables = 3,
        excludeId = Some(0L))
      .collect().map(_.getLong(0))
    assert(got.contains(999999L), got.mkString(","))
  }

  test("LSH buckets: near-identical vectors collide, orthogonal don't all") {
    initLog()
    val buckets = Similarity.annLshBuckets(emb, planes = 8).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    // cos 0.99 => ~8° => each plane flips w.p. ~4.5%; near-dups land
    // within multiprobe range, not necessarily in the same bucket
    assert(java.lang.Long.bitCount(buckets(0L) ^ buckets(1L)) <= 1,
      s"near-dups beyond multiprobe-1: ${buckets(0L)} vs ${buckets(1L)}")
    assert(buckets.values.toSet.size > 1, "distinct directions should spread")
  }

  test("IVF search recall vs brute force on the test corpus") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.annBruteForce(e, nQueries = 5, k = 3))
    val approx = asSet(Similarity.annIvfSearch(e, nQueries = 5, k = 3,
      nlist = 8, nprobe = 4))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@3 = $recall")
  }

  test("IVF recall floor: shipped defaults stay >= 0.8 recall@10") {
    initLog()
    // the r10 operating point (nlist=16, nprobe=10 — tools/AnnSweep,
    // measured 0.88: the floor clears by 0.08, not r9's flake-prone
    // 0.03): regression in seeding, assignment, or probe selection
    // that drops driver-scale recall below the documented floor fails
    val e = graft.sources.Tables.embeddings(spark, sf)
    val r = Similarity.annRecallSummary(
        Similarity.annIvfSearch(e, nQueries = 10, k = 10, dims0 = 64),
        Similarity.annBruteForce(e, nQueries = 10, k = 10), k = 10)
      .collect()(0).getAs[Double]("recall")
    assert(r >= 0.8, s"IVF recall@10 = $r below the 0.8 floor")
  }

  test("PQ search recall floor: ADC+refine defaults stay >= 0.9 recall@10") {
    initLog()
    // m=16/ksub=64/rerank=50 measured 1.00 at sf0.01 (tools/AnnSweep
    // r10; the r9 ksub=32 default measured 0.92); the floor guards
    // the ADC table math and the refine join alike
    val e = graft.sources.Tables.embeddings(spark, sf)
    val r = Similarity.annRecallSummary(
        Similarity.annPqSearch(e, nQueries = 10, k = 10, dims0 = 64),
        Similarity.annBruteForce(e, nQueries = 10, k = 10), k = 10)
      .collect()(0).getAs[Double]("recall")
    assert(r >= 0.9, s"PQ recall@10 = $r below the 0.9 floor")
  }

  test("PQ index: codes-only probe matches the in-memory ADC lane, " +
      "refine re-ranks exactly") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    Similarity.writePqIndex(e, dir, m = 16, ksub = 32)
    val v0 = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    // the probe itself is deterministic: two probes of the SAME
    // persisted index are bit-equal (ranking and scores)
    val probe = Similarity.pqIndexProbe(spark, dir, v0, k = 10,
      excludeId = Some(0L)).collect()
    val probe2 = Similarity.pqIndexProbe(spark, dir, v0, k = 10,
      excludeId = Some(0L)).collect()
    assert(probe.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      probe2.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // cross-check vs the in-memory ADC lane: seeding is deterministic
    // but Lloyd's centroid means carry partition-order FP (the
    // documented no_oracle basis), so a fresh training may flip
    // near-boundary code assignments — compare by OVERLAP, not bits
    val mem = Similarity.annPqSearch(e, nQueries = 1, k = 10, m = 16,
        ksub = 32, rerank = 0, dims0 = 64)
      .filter(col("query_id") === 0L).orderBy(col("rank")).collect()
    val overlap = probe.map(_.getLong(0)).toSet
      .intersect(mem.map(_.getAs[Long]("neighbor_id")).toSet).size
    assert(overlap >= 8, s"probe/in-memory ADC overlap $overlap of 10")
    // refine against the raw corpus: exact cosines, descending, and
    // the top-1 of a 50-wide shortlist must tie-or-beat pure ADC's
    // top pick under the TRUE metric
    val refined = Similarity.pqIndexProbe(spark, dir, v0, k = 5,
      rerank = 50, refineFrom = Some(e), excludeId = Some(0L)).collect()
    assert(refined.length == 5)
    val cos = refined.map(_.getDouble(1)).toSeq
    assert(cos == cos.sorted.reverse)
    def trueCos(id: Long): Double = {
      val v = e.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val d = v.indices.map(i => v(i) * v0(i)).sum
      d / (math.sqrt(v.map(x => x * x).sum) *
        math.sqrt(v0.map(x => x * x).sum))
    }
    assert(cos.head >= trueCos(probe.head.getLong(0)) - 1e-6)
  }

  test("semanticDedup: planted near-identicals pruned keep-first, " +
      "distinct directions survive") {
    initLog()
    import spark.implicits._
    // three tight groups along distinct axes + one lone vector; tau
    // high enough that only within-group cosines qualify
    def jig(base: Array[Float], i: Int): Seq[Float] = {
      val v = base.clone(); v(3) = v(3) + 0.001f * i; v.toSeq
    }
    val ex = Array(1f, 0f, 0f, 0f)
    val ey = Array(0f, 1f, 0f, 0f)
    val ez = Array(0f, 0f, 1f, 0f)
    val d = (Seq.tabulate(3)(i => (10L + i, jig(ex, i))) ++
      Seq.tabulate(3)(i => (20L + i, jig(ey, i))) ++
      Seq((30L, ez.toSeq))).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semanticDedup(d, tau = 0.99, nlist = 3, dims0 = 4)
      .collect().map(_.getLong(0)).toSet
    // keep-first: the smallest id of each group survives; the lone
    // direction is untouched
    assert(out == Set(10L, 20L, 30L), out.mkString(","))
  }

  test("hierarchical assignment (nlist >= 256): separated centroids " +
      "recover exactly, deterministic under repartition") {
    initLog()
    import spark.implicits._
    // 300 one-hot centroids in 300 dims: every centroid is orthogonal
    // to every other, so a vector AT centroid i has cosine 1 to its
    // own super's mean (which contains e_i) and 0 to every other
    // super — the two-level argmin MUST recover list i exactly, even
    // though the path is the approximate one (engaged: 300 >= 256).
    val dims = 300
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    val vecs = (0 until dims).map(i => (i.toLong, oneHot(i)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hier").toString
    // persist via the public surface: centroids = the one-hots
    // themselves (ivfTrain would blur them; write the table directly)
    vecs.select(col("vec_id").cast("int").as("list"),
        col("embedding").cast("array<double>").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val assigned = Similarity.assignFromIndex(vecs.repartition(7), dir)
      .select(col("vec_id"), col("list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == dims)
    assert(assigned.forall { case (v, l) => l.toLong == v },
      assigned.toSeq.sortBy(_._1).take(10).mkString(","))
    // determinism: a second pass over a different layout agrees
    val again = Similarity.assignFromIndex(vecs.repartition(3), dir)
      .select(col("vec_id"), col("list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == assigned)
  }

  test("ivfIndexProbe (two-level regime): the query's own STORED " +
      "list is probed even when the exact ranking contributes none") {
    initLog()
    import spark.implicits._
    val dims = 300
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    val vecs = (0 until dims).map(i => (i.toLong, oneHot(i)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hierprobe").toString
    vecs.select(col("vec_id").cast("int").as("list"),
        col("embedding").cast("array<double>").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // corpus: one vector per direction, stored wherever the (two-
    // level, 300 >= 256) assignment puts it — the write-side truth
    Similarity.assignFromIndex(vecs, dir)
      .write.mode("overwrite").partitionBy("list").parquet(s"$dir/corpus")
    // nprobe = 0 leaves the exact-ranked probe set EMPTY: only the
    // own-stored-list union can reach the query's twin. Above the
    // threshold storage is two-level, so exact ranking alone cannot
    // guarantee the self-neighborhood is scanned — this pins the
    // union that restores the invariant.
    val hit = Similarity.ivfIndexProbe(spark, dir,
      oneHot(42).map(_.toDouble), k = 1, nprobe = 0).collect()
    assert(hit.length == 1, hit.mkString(","))
    assert(hit.head.getAs[Long]("neighbor_id") == 42L)
    assert(hit.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("annIvfSearch / annIvfPqSearch (two-level regime): each " +
      "query's own stored list is scanned even when the exact ranking " +
      "probes none") {
    initLog()
    import spark.implicits._
    // 300 orthogonal one-hot directions (each keeps its own cluster
    // through training, so nlist = 300 >= 256 stays two-level) plus an
    // exact twin of each query at id 1000 + q. A twin is assigned with
    // its query, so with nprobe = 0 only the own-stored-list probe can
    // reach it.
    val dims = 300
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    val nQueries = 10
    val e = ((0 until dims).map(i => (i.toLong, oneHot(i))) ++
        (0 until nQueries).map(q => (1000L + q, oneHot(q))))
      .toDF("vec_id", "embedding")
    assert(Similarity.ivfTrain(e, dims, dims0 = dims).count() >= 256)
    val want = (0 until nQueries).map(q => (q.toLong, 1000L + q, 1.0)).toSet
    def top1(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"))).toSet
    assert(top1(Similarity.annIvfSearch(e, nQueries, k = 1, nlist = dims,
      nprobe = 0, dims0 = dims)) == want)
    assert(top1(Similarity.annIvfPqSearch(e, nQueries, k = 1, nlist = dims,
      nprobe = 0, m = 4, ksub = 16, rerank = 10, dims0 = dims)) == want)
  }

  test("ivfTrain sampled-training branch: bounded train set, " +
      "deterministic, full-train twin when under the cap") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // trainPerList=1 forces the sampling branch on even this corpus
    // (cap = nlist rows < n): training must still produce nlist
    // centroids and stay deterministic across invocations
    val a = Similarity.ivfTrain(e, nlist = 4, dims0 = 64, trainPerList = 1)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val b = Similarity.ivfTrain(e, nlist = 4, dims0 = 64, trainPerList = 1)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(a.length == 4 && a.toSeq == b.toSeq)
    // under the cap (the oracle/spec scales), the sampled default is
    // BIT-IDENTICAL to forced full-corpus training — the rate filter
    // never engages
    val full = Similarity.ivfTrain(e, nlist = 4, dims0 = 64,
        trainPerList = 0)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val deflt = Similarity.ivfTrain(e, nlist = 4, dims0 = 64)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(full.toSeq == deflt.toSeq)
    // and the sampled centroids still support a sane end-to-end probe
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfsampled").toString
    Similarity.writeIvfIndex(e, dir, nlist = 4)
    val q = e.filter(col("vec_id") === 2L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val got = Similarity.ivfIndexProbe(spark, dir, q, k = 3)
      .collect().map(_.getLong(0))
    assert(got.contains(2L), got.mkString(","))
  }

  test("semanticProbeDelta: planted copy tags semantic_dup, orthogonal " +
      "arrival tags novel; probe-then-append round-trip") {
    initLog()
    import spark.implicits._
    // corpus: two tight groups on distinct axes (enough vectors for a
    // 2-list quantizer); delta: one exact copy of a corpus vector
    // (MUST dup) and one vector on a third axis (MUST be novel)
    def jig(base: Array[Float], i: Int): Seq[Float] = {
      val v = base.clone(); v(3) = v(3) + 0.001f * i; v.toSeq
    }
    val ex = Array(1f, 0f, 0f, 0f)
    val ey = Array(0f, 1f, 0f, 0f)
    val corpus = (Seq.tabulate(4)(i => (10L + i, jig(ex, i))) ++
      Seq.tabulate(4)(i => (20L + i, jig(ey, i))))
      .toDF("vec_id", "embedding")
    val delta = Seq(
      (100L, jig(ex, 1)),                      // exact copy of 11L
      (101L, Seq(0f, 0f, 1f, 0f)))             // new direction
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semdelta").toString
    Similarity.writeIvfIndex(corpus, dir, nlist = 2)
    val tagged = Similarity.semanticProbeDelta(delta, dir, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tagged == Map(100L -> "semantic_dup", 101L -> "novel"), tagged)
    // the ingest round-trip: append the novel survivor, and the NEXT
    // batch's re-delivery of it is now a dup (the steady-state shape)
    Similarity.appendToIvfIndex(
      delta.filter(col("vec_id") === 101L), dir)
    val again = Similarity.semanticProbeDelta(
        Seq((200L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        dir, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == Map(200L -> "semantic_dup"), again)
  }

  test("dedup_semantic_inc driver lane: planted catch rate is 1.0") {
    initLog()
    val row = Similarity.semanticDeltaEffect(spark, sf).head()
    assert(row.getAs[Long]("n_delta") == 40L)
    assert(row.getAs[Long]("n_planted") == 20L)
    assert(row.getAs[Double]("dup_catch_rate") == 1.0,
      s"catch rate ${row.getAs[Double]("dup_catch_rate")}")
    assert(row.getAs[Long]("n_dup") + row.getAs[Long]("n_novel") == 40L)
  }

  test("decontaminate_semantic driver lane: planted benchmark copies " +
      "are all caught") {
    initLog()
    val row = Similarity.semanticDecontaminateEffect(spark, sf).head()
    assert(row.getAs[Long]("n_planted") > 0L)
    assert(row.getAs[Double]("catch_rate") == 1.0,
      s"catch_rate ${row.getAs[Double]("catch_rate")}")
    // contamination includes every planted copy plus any organic
    // benchmark near-dups; never fewer than the planted set
    assert(row.getAs[Long]("n_contaminated") >=
      row.getAs[Long]("planted_caught"))
    assert(row.getAs[Long]("n_corpus") > row.getAs[Long]("n_planted"))
  }

  test("IVF/PQ index append: new vectors become findable without retrain") {
    initLog()
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf)
    val v0 = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val nv = v0.clone(); nv(0) = nv(0) + 0.01f
    // the IVF append aligns to the persisted corpus schema (all of
    // embeddings' columns), so the new frame must carry label too
    val newDf = Seq((999999L, nv.toSeq, 0))
      .toDF("vec_id", "embedding", "label")
    // IVF: the near-dup of vec 0 assigns to vec 0's list, so probing
    // with vec 0's embedding must surface it after the append
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivfapp").toString
    Similarity.writeIvfIndex(e, ivfDir)
    Similarity.appendToIvfIndex(newDf, ivfDir)
    val ivfGot = Similarity.ivfIndexProbe(spark, ivfDir,
        v0.map(_.toDouble).toSeq, k = 3, excludeId = Some(0L))
      .collect().map(_.getLong(0))
    assert(ivfGot.contains(999999L), ivfGot.mkString(","))
    // PQ: near-identical vectors share codes (same nearest centroid
    // per subspace), so ADC ranks the appended near-dup at the top
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pqapp").toString
    Similarity.writePqIndex(e, pqDir, m = 16, ksub = 32)
    Similarity.appendToPqIndex(newDf, pqDir)
    val pqGot = Similarity.pqIndexProbe(spark, pqDir,
        v0.map(_.toDouble).toSeq, k = 3, excludeId = Some(0L))
      .collect().map(_.getLong(0))
    assert(pqGot.contains(999999L), pqGot.mkString(","))
  }

  test("IVF append aligns TYPES to the persisted corpus schema") {
    initLog()
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcast").toString
    Similarity.writeIvfIndex(e, dir)
    val before = spark.read.parquet(s"$dir/corpus").schema
    // an UN-cast append of this frame would write array<double>
    // embeddings and an int label into the float/int corpus partitions
    // — later reads become footer-order dependent (the r9 ADVICE); the
    // append must cast to the persisted types, not just select names
    val v0 = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val doubled = Seq((888888L, v0.toSeq, 3L))
      .toDF("vec_id", "embedding", "label")   // array<double>, bigint label
    Similarity.appendToIvfIndex(doubled, dir)
    val after = spark.read.parquet(s"$dir/corpus")
    assert(after.schema == before,
      s"append changed the corpus schema:\n$before\nvs\n$after")
    // and the appended row is readable alongside the original files
    assert(after.filter(col("vec_id") === 888888L).count() == 1)
  }

  test("PqArgmin: NaN distances order largest, like least() over structs") {
    initLog()
    import graft.functions.PqAlgs
    val inf = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(Double.PositiveInfinity))
    // code 0's dot is Inf·0.0 = NaN ⇒ dist NaN; code 1's dist is
    // finite (−Inf): the finite code must win even though NaN seeded
    // the running best (strict < alone kept code 0 forever — r9
    // ADVICE)
    val cents = Array(Array(Array(0.0), Array(1.0)))
    assert(PqAlgs.argmin(0, inf, cents).getInt(1) == 1)
    // all-NaN keeps the first (lowest) code — least() does the same
    val allNaN = Array(Array(Array(0.0), Array(0.0)))
    assert(PqAlgs.argmin(0, inf, allNaN).getInt(1) == 0)
  }

  test("pqIndexProbe rejects a query sized unlike the trained dims") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqdims").toString
    Similarity.writePqIndex(e, dir, m = 16, ksub = 32)
    val err = intercept[IllegalArgumentException] {
      Similarity.pqIndexProbe(spark, dir, Seq.fill(48)(0.1), k = 3)
    }
    assert(err.getMessage.contains("48") && err.getMessage.contains("64"),
      err.getMessage)
  }

  test("rotateEmbeddings preserves norms and pairwise cosines") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 6)
    val rot = Similarity.rotateEmbeddings(e, dims0 = 64)
    def vecs(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Double]] =
      df.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val a = vecs(e); val b = vecs(rot)
    def dot(x: Array[Double], y: Array[Double]): Double =
      x.indices.map(i => x(i) * y(i)).sum
    for (i <- a.keys; j <- a.keys if i <= j) {
      assert(math.abs(dot(a(i), a(j)) - dot(b(i), b(j))) < 1e-9,
        s"dot($i,$j) moved under rotation")
    }
  }

  test("semanticDedupEffect: planted exact copies always caught") {
    initLog()
    val row = Similarity.semanticDedupEffect(spark, sf).collect()(0)
    assert(row.getAs[Double]("catch_rate") == 1.0,
      s"catch_rate = ${row.getAs[Double]("catch_rate")}")
    assert(row.getAs[Long]("n_survivors") + row.getAs[Long]("n_dropped") ==
      row.getAs[Long]("n_input"))
    assert(row.getAs[Long]("n_planted") == 20L)
  }

  test("semanticDedup default nlist scales with the corpus") {
    initLog()
    // the fixed-16 default was the measured 24.6×/decade scale trap
    // (SURVEY §4.5): the default must derive ≈ n/targetClusterSize
    assert(Similarity.derivedNlist(500000) == 250)
    assert(Similarity.derivedNlist(500) == 16)   // floor
    assert(Similarity.derivedNlist(1000000000L) == 500000)
    // and the default CALL actually routes through the derivation:
    // training is deterministic given (corpus, nlist), so the default
    // must reproduce the explicit-derived call bit-for-bit
    val e = graft.sources.Tables.embeddings(spark, sf)
    val n = e.count()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(Similarity.semanticDedup(e, tau = 0.45, dims0 = 64)) ==
      ids(Similarity.semanticDedup(e, tau = 0.45,
        nlist = Similarity.derivedNlist(n), dims0 = 64)))
  }

  test("PQ pure-ADC ranking beats chance and refine only improves it") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    def recall(rr: Int): Double = Similarity.annRecallSummary(
        Similarity.annPqSearch(e, nQueries = 10, k = 10, rerank = rr,
          dims0 = 64),
        Similarity.annBruteForce(e, nQueries = 10, k = 10), k = 10)
      .collect()(0).getAs[Double]("recall")
    val adc = recall(0)
    // chance recall@10 over 499 candidates is ~0.02; pure ADC must
    // carry real signal for the refine stage to have anything to find
    assert(adc >= 0.3, s"pure-ADC recall@10 = $adc — ranking is noise")
    assert(recall(50) >= adc, "exact refine must not lose recall")
  }

  test("LSH search recall vs brute force on the test corpus") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val approx = asSet(Similarity.annLshSearch(e, nQueries = 10, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall@5 = $recall")  // 8 planes + multiprobe-1
  }

  test("embedding norms: known vector, negative-dominant max_abs") {
    initLog()
    val d = Seq((0L, vec(3, 4), 0), (1L, vec(-7, 2), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingNorms(d).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(math.abs(r(0L).getAs[Double]("l2_norm") - 5.0) < 1e-9)
    assert(math.abs(r(0L).getAs[Double]("max_abs") - 4.0) < 1e-9)
    assert(r(0L).getAs[Long]("dims") == 2L)
    assert(math.abs(r(1L).getAs[Double]("max_abs") - 7.0) < 1e-9)
  }

  test("int8 quantization: exact-representable vector has zero error") {
    initLog()
    // components are exact multiples of scale = 127/127 = 1.0
    val d = Seq((0L, vec(127, -64, 1, 0), 0), (1L, vec(0, 0), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizationError(d).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(math.abs(r(0L).getAs[Double]("q_scale") - 1.0) < 1e-9)
    assert(r(0L).getAs[Double]("mean_abs_err") == 0.0)
    // zero vector: scale 0 guard, no NaN
    assert(r(1L).getAs[Double]("mean_abs_err") == 0.0)
  }

  test("native QuantAbsError equals the interpreted HOF twin on the corpus") {
    initLog()
    // The native kernel replicates Spark round() (decimal HALF_UP) —
    // any drift from Math.rint-style half-even would show here on the
    // real float corpus, plus planted half-way and negative cases.
    val planted = Seq(
      (10000L, vec(2.5, -2.5, 1.5, -0.5), 9),   // ties: away from zero
      (10001L, vec(0.1, 0.2, 0.3), 9),           // binary-inexact values
      (10002L, vec(0, 0, 0), 9))                 // zero-scale guard
      .toDF("vec_id", "embedding", "label")
    val corpus = graft.sources.Tables.embeddings(spark, sf)
      .unionByName(planted)
    val native = Similarity.quantizationError(corpus).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val hof = Similarity.quantizationErrorHof(corpus).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(native == hof)
  }

  test("dims0 threading: LSH plan construction fires zero driver jobs") {
    initLog()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Building the query (no action) must not run dimsOf's head():
      // the driver contract passes the schema-constant dims0.
      val df = Similarity.annLshSearch(emb, nQueries = 2, k = 2, dims0 = 4)
      df.queryExecution.executedPlan // force full planning too
      Thread.sleep(300) // listener bus is async; drain
      assert(jobs.get() == 0,
        s"plan construction launched ${jobs.get()} job(s)")
      // and dims0 must agree with the inferred path on results
      val inferred = Similarity.annLshSearch(emb, nQueries = 2, k = 2)
        .collect().map(_.toSeq).toSet
      val threaded = df.collect().map(_.toSeq).toSet
      assert(inferred == threaded)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ivfTrain honors dims0: same centroids as the inferred path") {
    initLog()
    val e = graft.sources.Tables.embeddings(spark, sf)
    val a = Similarity.ivfTrain(e, nlist = 4, iters = 1)
      .collect().map(_.toSeq).toSet
    val b = Similarity.ivfTrain(e, nlist = 4, iters = 1, dims0 = 64)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("PQ: planted subspace clusters encode together, distortion sane") {
    initLog()
    // 8 dims, m=2 subspaces of 4: vectors whose FIRST half matches
    // must share code_0 regardless of their second half (and vice
    // versa) once training has a centroid near each planted cluster
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val rows = (0 until 16).map { i =>
      val h1 = if (i % 2 == 0) a else b
      val h2 = if (i / 8 == 0) a else b
      (i.toLong, h1 ++ h2, 0)
    }
    val e = rows.toDF("vec_id", "embedding", "label")
    val books = Similarity.pqTrain(e, m = 2, ksub = 2, iters = 4, dims0 = 8)
    assert(books.length == 4) // 2 subspaces x 2 codes
    val enc = Similarity.pqEncode(e, books, dims0 = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getDouble(2))).toMap
    // same first half -> same code_0; different -> different
    assert(enc(0L)._1(0) == enc(2L)._1(0))
    assert(enc(0L)._1(0) != enc(1L)._1(0))
    // same second half -> same code_1
    assert(enc(0L)._1(1) == enc(1L)._1(1))
    assert(enc(0L)._1(1) != enc(8L)._1(1))
    // two perfect clusters per subspace -> near-zero reconstruction
    assert(enc.values.forall(_._2 < 1e-6))
    // and the codebook really is the m-bytes-per-vector contract
    assert(enc.values.forall(_._1.size == 2))
  }

  test("PQ calibration summary has the documented shape at sf") {
    initLog()
    val r = Similarity.pqCalibration(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("m") == 8L && row.getAs[Long]("ksub") == 16L)
    assert(row.getAs[Long]("n_vectors") > 0)
    // distortion is a mean of squared L2 residuals: nonnegative, and
    // bounded by the corpus's own max norm squared (codebooks at
    // least beat the zero vector for SOME assignment)
    assert(row.getAs[Double]("mean_distortion") >= 0.0)
    assert(row.getAs[Double]("max_distortion") >=
      row.getAs[Double]("mean_distortion"))
  }

  test("pc1 recovers a planted dominant direction (cos >= 0.99)") {
    initLog()
    import spark.implicits._
    // x_i = t_i * u + small isotropic noise, t_i in [-5, 5]: the
    // covariance's top eigenvector IS u (up to sign)
    val dims = 16
    val rnd = new java.util.Random(11L)
    val u0 = Array.fill(dims)(rnd.nextGaussian())
    val un = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / un)
    val rows = (0 until 400).map { i =>
      val t = (i % 101 - 50) / 10.0
      val x = Array.tabulate(dims)(d =>
        (t * u(d) + 0.05 * rnd.nextGaussian()).toFloat)
      (i.toLong, x.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val r = Similarity.pc1(df, dims0 = dims, iters = 6)
    val cos = math.abs(r.v.zip(u).map { case (a, b) => a * b }.sum)
    assert(cos >= 0.99, s"cosine with planted direction = $cos")
    // eigenvalue ~ Var(t) >> noise variance; evr near 1
    assert(r.eigenvalue / r.totalVariance > 0.9,
      s"evr = ${r.eigenvalue / r.totalVariance}")
    assert(r.n == 400L)
  }

  test("pc1 centering: a constant offset does not change the direction") {
    initLog()
    import spark.implicits._
    val dims = 8
    val rows = (0 until 200).map { i =>
      val t = (i - 100) / 20.0
      // direction e0, offset +100 on every dim: uncentered moment
      // would point at the all-ones diagonal; centered PCA must not
      (i.toLong, Array.tabulate(dims)(d =>
        (100.0 + (if (d == 0) t else 0.0)).toFloat).toSeq)
    }
    val r = Similarity.pc1(rows.toDF("vec_id", "embedding"),
      dims0 = dims, iters = 5)
    assert(math.abs(r.v(0)) > 0.999, s"v = ${r.v.mkString(",")}")
  }

  test("pc1 rejects ragged embedding lengths") {
    initLog()
    import spark.implicits._
    // a mixed-dims corpus silently skews the per-dim-sum mean
    // correction (each dim group no longer holds every row) — must be
    // an error, not a skew (r10 ADVICE)
    val rows = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Seq(1.0f, 2.0f)))
    val e = intercept[IllegalArgumentException](
      Similarity.pc1(rows.toDF("vec_id", "embedding"), dims0 = 4))
    assert(e.getMessage.contains("ragged"), e.getMessage)
  }

  test("embed_pca driver lane: one sane summary row") {
    initLog()
    val row = Similarity.pcaSummary(spark, sf).head()
    assert(row.getAs[Long]("n") > 0)
    val ev = row.getAs[Double]("eigenvalue")
    val tv = row.getAs[Double]("total_variance")
    val evr = row.getAs[Double]("evr")
    assert(ev > 0 && tv >= ev && evr > 0 && evr <= 1.0)
  }

  test("embeddingAuditRate: fixed-k sample bounds the audit; ppm is " +
      "the integer pair rate; k >= n degenerates to the full audit") {
    initLog()
    import spark.implicits._
    def md5Hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // two orthogonal directions: within-direction cosine 1 (>= tau),
    // across 0 — the qualifying pair count is a closed form of the
    // sampled ids' parity split
    val df = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val Array(row) = Similarity.embeddingAuditRate(df, sampleK = 10).collect()
    assert(row.getAs[Long]("n_sampled") == 10L)
    val sampled = (0L until 40L).sortBy(id => (md5Hex(id), id)).take(10)
    val even = sampled.count(_ % 2 == 0)
    val expectPairs = even.toLong * (even - 1) / 2 +
      (10L - even) * (10L - even - 1) / 2
    assert(row.getAs[Long]("n_pairs") == expectPairs)
    assert(row.getAs[Long]("dup_ppm") == expectPairs * 2000000L / (10L * 9L))
    // sampleK >= corpus: the audit IS the full enumeration's count
    val Array(full) = Similarity.embeddingAuditRate(df, sampleK = 100).collect()
    assert(full.getAs[Long]("n_sampled") == 40L)
    assert(full.getAs[Long]("n_pairs") ==
      Similarity.embeddingNearDupPairs(df).count())
  }

  test("mrlRecall: full-dim row is exactly 1.0; a prefix that carries " +
      "all the energy recalls 1.0 at its truncation") {
    initLog()
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf)
    val rows = Similarity.mrlRecall(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set(8L, 16L, 32L, 64L))
    assert(rows(64L) == ((100L, 1.0)), s"full-dim row ${rows(64L)}")
    rows.values.foreach { case (h, rc) =>
      assert(h >= 0L && h <= 100L && rc >= 0.0 && rc <= 1.0)
    }
    // energy-front-loaded fixture: dims 5..8 are all zero, so the
    // 4-prefix search IS the full search — both rows recall 1.0
    val fixed = (0 until 30).map { i =>
      val v = Array.tabulate(8)(d =>
        if (d < 4) (math.sin(i * 37 + d * 11)).toFloat else 0.0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val fr = Similarity.mrlRecall(fixed, dimsList = Seq(4, 8),
        nQueries = 5, k = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(fr == Map(4L -> 1.0, 8L -> 1.0), s"front-loaded $fr")
  }
}
