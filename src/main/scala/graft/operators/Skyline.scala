package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Pareto-frontier (skyline) extraction: the rows not dominated by
  * any other row — q dominates p when q is no worse on BOTH
  * dimensions and strictly better on at least one (Börzsönyi,
  * Kossmann & Stocker, "The Skyline Operator", ICDE 2001). The
  * cost/quality trade-off query of corpus curation: cheapest docs per
  * quality level, best model per latency budget.
  */
object Skyline {

  /** 2-D skyline: minimize `costCol`, maximize `gainCol`.
    *
    * The naive formulation is an O(n²) NOT-EXISTS self-join; the
    * skyline itself is tiny (O(log n) expected on independent dims).
    * Scale shape, in three bounded steps:
    *  1. one scalar agg for the cost bounds (broadcast back);
    *  2. map-side cost binning, per-bin max gain (|bins| rows), and a
    *     cumulative max over strictly-cheaper bins re-broadcast: a row
    *     survives only if its gain beats every strictly-cheaper bin's
    *     best. This prefilter is EXACT regardless of FP bin placement:
    *     bin(q) < bin(p) implies q.cost < p.cost (floor of a monotone
    *     map; equal costs share a bin), so every drop is a genuine
    *     domination. Dominated points can only slip THROUGH (bin
    *     granularity), never out.
    *  3. the exact pairwise test runs on survivors only. Survivors ≈
    *     skyline + bin-boundary slack, so the broadcast is
    *     frontier-sized, not corpus-sized. Exactness: any dominated
    *     point is dominated by some MAXIMAL (skyline) point
    *     (domination is a strict partial order), and skyline points
    *     always survive step 2 — so survivors-vs-survivors decides
    *     every survivor correctly.
    *
    * Worst case (perfectly anti-correlated dims) the frontier IS the
    * corpus and no algorithm beats Ω(n²) pair work; `nBins` only
    * bounds the prefilter's metadata, not correctness.
    *
    * NULL contract: rows with a NULL cost or gain are EXCLUDED up
    * front (explicitly, below — not as a silent join/filter artifact).
    * Domination is undefined against NULL; callers who want NULL rows
    * ranked must impute first. The exclusion is a visible `filter` at
    * the operator entry so `.explain` shows it.
    */
  def skyline(df: DataFrame, costCol: String, gainCol: String,
      nBins: Int = 256): DataFrame = {
    val clean = df.filter(col(costCol).isNotNull && col(gainCol).isNotNull)
    // Truncate lineage at the survivor set (lazy local checkpoint,
    // same discipline as Dedup.canonicalIds): the anti-join references
    // survivors on BOTH sides, and without the cut each side re-plans
    // the whole prefilter — the corpus would scan twice per side. With
    // it, the frontier-sized survivor set materializes once and the
    // pairwise pass reads only it.
    val survivors = Materialize.cut(
      skylineSurvivors(clean, costCol, gainCol, nBins), eager = false)
    val q = survivors.select(col(costCol).as("__qc"), col(gainCol).as("__qg"))
    survivors.join(broadcast(q),
      col("__qc") <= col(costCol) && col("__qg") >= col(gainCol) &&
        (col("__qc") < col(costCol) || col("__qg") > col(gainCol)),
      "left_anti")
  }

  /** The prefilter stage alone (lazy survivor set). Package-visible so
    * the plan-shape spec can audit its plan — the public operator
    * checkpoints it, which hides the prefilter from the final query's
    * explain.
    */
  private[graft] def skylineSurvivors(df: DataFrame, costCol: String,
      gainCol: String, nBins: Int): DataFrame = {
    require(nBins > 0)
    val bounds = df.agg(min(col(costCol)).as("__lo"), max(col(costCol)).as("__hi"))
    val binWidth = (col("__hi") - col("__lo")) / nBins
    val binned = df.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        when(col("__hi") === col("__lo"), lit(0)) // degenerate: one bin
          .otherwise(least(
            floor((col(costCol) - col("__lo")) / binWidth).cast("int"),
            lit(nBins - 1))))
      .drop("__lo", "__hi")
    val perBin = binned.groupBy(col("__bin")).agg(max(col(gainCol)).as("__mx"))
    // |bins| rows: the unpartitioned window is bounded by nBins, not data
    val cheaper = Window.orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perBin.select(col("__bin"),
      max(col("__mx")).over(cheaper).as("__cum"))
    binned
      .join(broadcast(cum), Seq("__bin"))
      .filter(col("__cum").isNull || col(gainCol) > col("__cum"))
      .drop("__bin", "__cum")
  }

  /** Driver contract: the price/size frontier of the parts catalog —
    * for each size, is there a strictly cheaper part at least as big?
    */
  def partFrontier(spark: SparkSession, dir: String): DataFrame =
    skyline(Tables.part(spark, dir), "p_retailprice", "p_size")
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
}
