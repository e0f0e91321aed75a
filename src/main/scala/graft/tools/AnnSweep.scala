package graft.tools

import graft.operators.{Materialize, Similarity}
import graft.sources.Tables

/** Dev-loop recall sweep for the approximate ANN lanes (IVF, PQ):
  * prints recall@10 vs the exact brute-force lane across a parameter
  * grid, at the driver's sf. How the shipped defaults were picked —
  * see the ann_ivf/ann_pq Scaladoc for the chosen operating points.
  *
  * Usage: runMain graft.tools.AnnSweep [sfDir]
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      dir, "graft-ann-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    // semdedup mode: time semanticDedup at a given nlist (the knob
    // that must scale ≈ n/target_cluster_size — this measures it)
    if (args.lift(1).contains("semdedup")) {
      val nlist = args.lift(2).map(_.toInt).getOrElse(16)
      val n = args.lift(3).map(_.toInt).getOrElse(2)
      val e = Tables.embeddings(spark, dir)
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        Similarity.semanticDedup(e, tau = 0.45, nlist = nlist, dims0 = 64)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SD nlist=$nlist%5d " +
        times.map(t => f"$t%.3f").mkString(" ") + f"  min=${times.min}%.3f")
      spark.stop(); return
    }
    // filtered mode: recall of the filtered LSH/PQ lanes (r14) vs the
    // filtered brute force under the 50 %-selectivity hash predicate,
    // at probe radius 1 vs 2 for LSH — how the shipped radius and the
    // spec floors were picked
    if (args.lift(1).contains("filtered")) {
      import org.apache.spark.sql.functions._
      val e = Materialize.cache(Tables.embeddings(spark, dir))
      val pred = pmod(xxhash64(col("vec_id")), lit(2L)) === 0
      val exactF = Materialize.cache(Similarity.annBruteForceFiltered(e, pred,
          nQueries = 10, k = 10))
      exactF.count()
      def recallF(df: org.apache.spark.sql.DataFrame): Double =
        Similarity.annRecallSummary(df, exactF, k = 10)
          .collect()(0).getAs[Double]("recall")
      for (radius <- Seq(1, 2)) {
        val r = recallF(Similarity.annLshSearchFiltered(e, pred,
          nQueries = 10, k = 10, dims0 = 64, probeRadius = radius))
        println(f"LSHf radius=$radius  recall@10=$r%.3f")
      }
      val rPq = recallF(Similarity.annPqSearchFiltered(e, pred,
        nQueries = 10, k = 10, dims0 = 64))
      println(f"PQf  m=16 ksub=64 rerank=50  recall@10=$rPq%.3f")
      spark.stop(); return
    }
    // ivfpq mode: recall of the composite lane (r14) across
    // nprobe × rerank, unfiltered and under the 50 % hash predicate —
    // how the shipped composite operating point was picked
    if (args.lift(1).contains("ivfpq")) {
      import org.apache.spark.sql.functions._
      val e = Materialize.cache(Tables.embeddings(spark, dir))
      val pred = pmod(xxhash64(col("vec_id")), lit(2L)) === 0
      val exact = Materialize.cache(Similarity.annBruteForce(e, nQueries = 10, k = 10))
      val exactF = Materialize.cache(Similarity.annBruteForceFiltered(e, pred,
          nQueries = 10, k = 10))
      exact.count(); exactF.count()
      def recall(df: org.apache.spark.sql.DataFrame,
          ex: org.apache.spark.sql.DataFrame): Double =
        Similarity.annRecallSummary(df, ex, k = 10)
          .collect()(0).getAs[Double]("recall")
      for (nprobe <- Seq(4, 8, 10); rr <- Seq(0, 50)) {
        val r = recall(Similarity.annIvfPqSearch(e, nQueries = 10,
          k = 10, nprobe = nprobe, rerank = rr, dims0 = 64), exact)
        println(f"IVFPQ nprobe=$nprobe%2d rerank=$rr%3d  recall@10=$r%.3f")
      }
      val rf = recall(Similarity.annIvfPqSearchFiltered(e, pred,
        nQueries = 10, k = 10, dims0 = 64), exactF)
      println(f"IVFPQf nprobe=10 rerank=50  recall@10=$rf%.3f")
      spark.stop(); return
    }
    val e = Materialize.cache(Tables.embeddings(spark, dir))
    val exact = Materialize.cache(Similarity.annBruteForce(e, nQueries = 10, k = 10))
    exact.count()

    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.annRecallSummary(df, exact, k = 10)
        .collect()(0).getAs[Double]("recall")

    for (nlist <- Seq(8, 16, 32); nprobe <- Seq(2, 4, 8, 10, 12)
         if nprobe < nlist) {
      val r = recall(Similarity.annIvfSearch(e, nQueries = 10, k = 10,
        nlist = nlist, nprobe = nprobe, dims0 = 64))
      println(f"IVF nlist=$nlist%3d nprobe=$nprobe%2d  recall@10=$r%.3f  scanned~${nprobe.toDouble / nlist}%.2f")
    }
    for (m <- Seq(8, 16); ksub <- Seq(16, 32, 64); rr <- Seq(0, 50)) {
      val r = recall(Similarity.annPqSearch(e, nQueries = 10, k = 10,
        m = m, ksub = ksub, rerank = rr, dims0 = 64))
      println(f"PQ  m=$m%2d ksub=$ksub%3d rerank=$rr%3d  recall@10=$r%.3f  bits=${m * (32 - Integer.numberOfLeadingZeros(ksub - 1))}%d")
    }
    // pure-ADC levers (r9 VERDICT item 6): OPQ-lite rotation before
    // the subspace split, vs finer codebooks (larger m / ksub) at
    // rerank=0 — what lifts ADC-only recall, and at what bit cost
    val rot = Materialize.cache(Similarity.rotateEmbeddings(e, dims0 = 64))
    for ((m, ksub) <- Seq((16, 32), (16, 64), (32, 32), (32, 64), (32, 128));
         src <- Seq("raw" -> e, "rot" -> rot)) {
      val r = recall(Similarity.annPqSearch(src._2, nQueries = 10, k = 10,
        m = m, ksub = ksub, rerank = 0, dims0 = 64))
      println(f"ADC m=$m%2d ksub=$ksub%3d ${src._1}%s  recall@10=$r%.3f  bits=${m * (32 - Integer.numberOfLeadingZeros(ksub - 1))}%d")
    }
    spark.stop()
  }
}
