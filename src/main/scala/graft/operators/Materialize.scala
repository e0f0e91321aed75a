package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Every checkpoint, cache and release in graft goes through here
  * (`MaterializeSpec` fails on any other site in `src/main`). One
  * policy:
  *  - a frame consumed inside its call is released before the call
  *    returns: iterative loops [[release]] each superseded round once
  *    its eager successor exists, and a [[scope]] releases the rest;
  *  - a checkpoint the call's result reads stays pinned until that
  *    result is consumed; `graft.LaneRunner` releases it then and
  *    reports every other RDD a lane left persisted as leaked. A cache
  *    never outlives its call: it can recompute, so a lazy reader
  *    loses only time;
  *  - a memo owns its frames ([[owned]]) and releases them itself.
  *
  * `Dataset.unpersist` does not free a checkpoint: the blocks belong
  * to the RDD under the frame's `LogicalRDD`, which [[release]] frees.
  */
private[graft] object Materialize {

  /** Truncate `df`'s lineage: executor-local blocks, or with
    * `reliable` a durable checkpoint in the session's checkpoint dir
    * (requires `setCheckpointDir`; survives executor loss at
    * 1000-executor scale). `eager` materializes now; a lazy cut on the
    * frame's first action. A local cut cannot recompute lost blocks.
    */
  def cut(df: DataFrame, reliable: Boolean = false,
      eager: Boolean = true): DataFrame =
    track(if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager))

  /** Cache `df` lazily, columnar, spilling to disk and recomputable
    * from lineage: graft's one storage level.
    */
  def cache(df: DataFrame): DataFrame =
    track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Free the blocks `df` itself pins: the RDD of a checkpointed frame
    * or the cache entry of a cached one. Frames upstream of `df` are
    * untouched. Once released, a checkpoint can no longer be read.
    */
  def release(df: DataFrame): Unit = cutOf(df) match {
    case Some(rdd) => rdd.unpersist(blocking = false)
    case None => df.unpersist(blocking = false)
  }

  private def cutOf(df: DataFrame) =
    Some(df.queryExecution.analyzed).collect { case l: LogicalRDD => l.rdd }

  /** Release `old` and return `next`, its eager successor: one round
    * of an iterative loop superseding the last.
    */
  def replace(old: DataFrame, next: DataFrame): DataFrame = {
    release(old); next
  }

  private val open = ThreadLocal.withInitial[List[mutable.Buffer[DataFrame]]](() => Nil)

  private def track(df: DataFrame): DataFrame = { open.get.headOption.foreach(_ += df); df }

  /** Run `body`; every frame cut or cached inside it, nested calls
    * included, is released when it returns or throws, except the
    * checkpoints a DataFrame result reads: those pass to the enclosing
    * scope, or to the caller outside any. A lazy cut that its result
    * reads must not itself read a checkpoint made in the same scope.
    */
  def scope[T](body: => T): T = {
    val held = mutable.Buffer[DataFrame]()
    open.set(held :: open.get)
    var reads = Set.empty[Int]
    try {
      val r = body
      reads = Some(r).collect { case d: Dataset[_] => pinnedBy(d.toDF()) }.getOrElse(reads)
      r
    } finally {
      open.set(open.get.tail)
      val (kept, done) = held.partition(f => cutOf(f).exists(c => reads(c.id)))
      done.foreach(release)
      open.get.headOption.foreach(_ ++= kept)
    }
  }

  /** [[scope]] whose kept frames no enclosing scope sees: the caller
    * (a memo) owns them and releases them itself.
    */
  def owned(body: => DataFrame): DataFrame = {
    val outer = open.get
    open.set(Nil)
    try scope(body) finally open.set(outer)
  }

  /** A lane's result was consumed: release every checkpoint made since
    * `before` that it reads, and return every other RDD persisted since
    * then (`id name`) as leaked, left persisted. The HNSW lane memo's
    * named RDD is neither: the memo owns it.
    */
  def settle(spark: SparkSession, before: Set[Int],
      result: Option[DataFrame]): Seq[String] = {
    val reads = result.map(pinnedBy).getOrElse(Set.empty)
    val (read, leaked) = spark.sparkContext.getPersistentRDDs.toSeq.filter {
      case (id, r) => !before(id) &&
        !Option(r.name).exists(_.startsWith(Hnsw.LaneMemoRddName))
    }.partition(r => reads(r._1))
    read.foreach(_._2.unpersist(blocking = false))
    leaked.sortBy(_._1).map { case (id, r) => s"$id ${r.name}" }
  }

  /** Ids of the checkpoints `df`'s plan reads, subqueries included. */
  def pinnedBy(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet
}
