package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Co-occurrence / association analytics (market-basket family):
  * which items appear together, how often, and how much more often
  * than independence predicts (lift). The shape generalizes to any
  * (container, member) pair — parts per order here; tokens per doc,
  * domains per crawl session, tools per trace at 100 TB.
  */
object Affinity {

  /** Top-k co-occurring item pairs with support and lift.
    *
    * Scale shape: the pair fan-out of the self-join is bounded by
    * basket SIZE (an order holds ~7 items; a session, dozens), never
    * by corpus size — O(rows × basket) pairs, so the join is linear
    * in the data. Pair counting is an algebraic agg (map-side
    * combined) on diverse (item_a, item_b) keys; the global top-k cut
    * (TakeOrderedAndProject — per-partition heaps, no full sort) runs
    * BEFORE the per-item-count joins, which then stream the item-count
    * aggregate against a k-row broadcast build. Lift
    * divides doubles in a fixed left-to-right order so the oracle can
    * reproduce it bit-for-bit, and never forms the long×long count
    * product (which overflows at billion-basket scale).
    *
    * A basket with a pathological item count (a crawler dumping 10⁶
    * items into one container) would fan out quadratically —
    * `maxBasket` drops such containers before the join; the default
    * keeps the operator exact.
    */
  def basketPairs(items: DataFrame, basketCol: String, itemCol: String,
      k: Int = 50, maxBasket: Int = Int.MaxValue): DataFrame = {
    // Partition by basket FIRST: hashpartitioning(basket) satisfies the
    // distinct's (basket, item) clustering (subset rule), the basket
    // self-join runs exchange-free on the SAME layout (one ReusedExchange
    // instead of two more shuffles), and the n_total distinct reuses it
    // too. Also decouples map parallelism from the parquet split count
    // (one 10× file = 3 splits was serializing the distinct's map side).
    val itAll = items
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .repartition(col("basket"))
      .distinct()
    val it = if (maxBasket == Int.MaxValue) itAll else {
      val big = itAll.groupBy(col("basket"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBasket)
        .select(col("basket"))
      itAll.join(broadcast(big), Seq("basket"), "left_anti")
    }
    val nBaskets = it.select(col("basket")).distinct()
      .agg(count(lit(1)).as("n_total"))
    val itemCounts = it.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = it.as("a").join(it.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
    // The result ordering (n_baskets desc, item_a, item_b) is a total
    // order that does NOT involve lift, so the top-k cut commutes with
    // the per-item-count joins: cut FIRST (TakeOrderedAndProject), then
    // join counts onto k rows with the k-row side as the broadcast
    // build. The 10× A/B that forced this (SURVEY.md r7 scale curve,
    // commit 9d46d64): joining counts onto the FULL pair table went
    // sort-merge at 10× — two extra shuffle+sorts of the largest
    // intermediate (22.7 s vs 9.6 s broadcast-counts vs 2.8 s this
    // shape). Broadcasting itemCounts
    // instead would bound the operator by item-vocabulary size; the
    // k-row build keeps both joins shuffle-free at ANY vocabulary.
    val topk = pairs
      .orderBy(col("n_baskets").desc, col("item_a"), col("item_b"))
      .limit(k)
    val withA = itemCounts
      .select(col("item").as("item_a"), col("cnt").as("cnt_a"))
      .join(broadcast(topk), "item_a")
    itemCounts.select(col("item").as("item_b"), col("cnt").as("cnt_b"))
      .join(broadcast(withA), "item_b")
      .crossJoin(broadcast(nBaskets))
      .withColumn("lift",
        round(col("n_baskets").cast("double") / col("cnt_a") *
          col("n_total") / col("cnt_b"), 6))
      .select(col("item_a"), col("item_b"), col("n_baskets"), col("lift"))
      .orderBy(col("n_baskets").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Driver contract: parts co-ordered within the same order. */
  def partPairs(spark: SparkSession, dir: String): DataFrame =
    basketPairs(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
}
