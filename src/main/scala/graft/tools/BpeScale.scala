package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Wall-clock for deep BPE training — the measurement behind the
  * [[Bpe.trainMergesBatched]] claim that realistic merge counts
  * (GPT-2 ran 40k rounds of the same greedy loop) are driver-loop
  * feasible: batching applies the provably-safe ranked prefix per
  * round, so rounds ≪ R. Prints one JSON line with the merge count
  * and seconds, for sequential-vs-batched at the same R.
  *
  * The driver-generated test corpora have tiny template vocabularies
  * that fully merge before deep R (sf0.1 exhausts at 88 merges —
  * SURVEY §4.5 r13), so deep-R measurement needs `heaps`: a
  * Heap's-law-realistic synthetic corpus — per-slot word ranks drawn
  * LOG-UNIFORMLY over a large rank space (the inverse-CDF of Zipf
  * s≈1, the empirical word-frequency law) and spelled positionally in
  * a 100-syllable consonant-vowel alphabet, so frequent words are
  * short, rare words long, and words share prefixes/suffixes the way
  * merges need (hash-deterministic end to end — re-runs agree).
  *
  * Modes (arg 3):
  *  - (none)        batched + sequential at the same R, equality check
  *  - batchedonly   batched only (deep R where sequential is hours)
  *  - inconly       incremental ([[Bpe.trainMergesIncremental]]) only —
  *                  the production-depth measurement (R ≥ 10k)
  *  - incvs         incremental + batched at the same R, equality
  *                  check (the sampled-R cross-validation)
  *
  * Usage: runMain graft.tools.BpeScale [R] [sfDir|heaps] [mode]
  */
object BpeScale {

  def heapsDocs(spark: SparkSession, nDocs: Int = 20000,
      wordsPerDoc: Int = 200, vocabRanks: Int = 50000): DataFrame = {
    val syl = for {
      c <- "bcdfghjklmnpqrstvwxz"
      v <- "aeiou"
    } yield s"$c$v"
    val sylLit = typedLit(syl.toSeq)
    def sylAt(digit: org.apache.spark.sql.Column) =
      element_at(sylLit, (digit + 1).cast("int"))
    val u = (pmod(xxhash64(col("doc_id"), col("pos"), lit(0x485053L)),
      lit(1000000L)).cast("double") + 0.5) / 1000000.0
    spark.range(nDocs).select(col("id").as("doc_id"),
        explode(sequence(lit(0), lit(wordsPerDoc - 1))).as("pos"))
      .withColumn("rank",
        floor(exp(u * math.log(vocabRanks.toDouble))).cast("long"))
      .withColumn("word", concat(
        when(col("rank") >= 10000L,
          sylAt(col("rank") / 10000L % 100L)).otherwise(""),
        when(col("rank") >= 100L,
          sylAt(col("rank") / 100L % 100L)).otherwise(""),
        sylAt(col("rank") % 100L)))
      // word ORDER inside a doc is irrelevant to training (wordCounts
      // is a bag); concat order may vary, counts cannot
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val r = args.lift(0).map(_.toInt).getOrElse(256)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val batchedOnly = args.lift(2).contains("batchedonly")
    val spark = graft.GraftSession.localFor(graft.GraftSession.cpus,
      if (dir == "heaps") "/root/testdata/sf0.1" else dir,
      "graft-bpe-scale")
    spark.sparkContext.setLogLevel("ERROR")
    val docs =
      if (dir == "heaps") {
        val d = graft.operators.Materialize.cache(heapsDocs(spark))
        d.count()
        d
      } else graft.sources.Tables.documents(spark, dir)
    // the synthetic corpora have small vocabularies that can fully
    // merge before deep R (sf0.1 exhausts at 88) — auto-cap at the
    // exhaustion point the trainer reports rather than failing the
    // measurement. The first timed attempt doubles as discovery: only
    // an exhausted run re-times at the capped R (deep-R trainings run
    // tens of minutes; an unconditional untimed discovery pass would
    // double that).
    def timedBatched(rr: Int): (Int, Double, Seq[(String, String)]) =
      try {
        val t0 = System.nanoTime()
        val m = Bpe.trainMergesBatched(docs, rounds = rr, batch = 64)
        (rr, (System.nanoTime() - t0) / 1e9, m)
      } catch {
        case e: IllegalArgumentException if e.getMessage.contains("exhausted") =>
          timedBatched("after (\\d+) merges".r
            .findFirstMatchIn(e.getMessage)
            .map(_.group(1).toInt).getOrElse(throw e))
      }
    def timedIncremental(rr: Int): (Int, Double, Seq[(String, String)]) =
      try {
        val t0 = System.nanoTime()
        val m = Bpe.trainMergesIncremental(docs, rounds = rr)
        (rr, (System.nanoTime() - t0) / 1e9, m)
      } catch {
        case e: IllegalArgumentException if e.getMessage.contains("exhausted") =>
          timedIncremental("after (\\d+) merges".r
            .findFirstMatchIn(e.getMessage)
            .map(_.group(1).toInt).getOrElse(throw e))
      }
    val mode = args.lift(2).getOrElse("")
    if (mode == "inconly") {
      val (r2, tInc, _) = timedIncremental(r)
      println(f"""{"r_requested":$r,"r_effective":$r2,"sf":"$dir",""" +
        f""""incremental_sec":$tInc%.2f}""")
      spark.stop()
      return
    }
    if (mode == "incvs") {
      val (r2, tInc, inc) = timedIncremental(r)
      val (_, tBatched, batched) = timedBatched(r2)
      val equal = inc == batched
      println(f"""{"r_requested":$r,"r_effective":$r2,"sf":"$dir",""" +
        f""""incremental_sec":$tInc%.2f,"batched_sec":$tBatched%.2f,""" +
        f""""equal":$equal}""")
      spark.stop()
      return
    }
    val (r2, tBatched, batched) = timedBatched(r)
    if (batchedOnly) {
      println(f"""{"r_requested":$r,"r_effective":$r2,"sf":"$dir",""" +
        f""""batched_sec":$tBatched%.2f}""")
    } else {
      val t1 = System.nanoTime()
      val seq = Bpe.trainMerges(docs, rounds = r2)
      val tSeq = (System.nanoTime() - t1) / 1e9
      val equal = batched == seq
      println(f"""{"r_requested":$r,"r_effective":$r2,"sf":"$dir",""" +
        f""""batched_sec":$tBatched%.2f,"sequential_sec":$tSeq%.2f,""" +
        f""""equal":$equal}""")
    }
    spark.stop()
  }
}
