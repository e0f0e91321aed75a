package graft.operators

import org.apache.spark.sql.SparkSession

/** Directory-swap plumbing for index MAINTENANCE ops (retrain,
  * compact): a maintenance pass computes its output FROM the live
  * index directories, so an in-place `mode("overwrite")` would delete
  * the very files the plan is still reading. The pattern: write the
  * new generation to a side directory, then two renames + a delete —
  * the same swap discipline a production table format performs on
  * commit, done here with the Hadoop FileSystem the path resolves to
  * (local fs in tests, HDFS/object-store adapters on a cluster).
  */
private[graft] object IndexIo {

  /** Rewrite index tables: each `(live, write)` writes its next
    * generation into the side directory `live__tag` it is handed, then
    * every table swaps in, in the given order, once all are written.
    */
  def rewrite(spark: SparkSession, tag: String,
      tables: (String, String => Unit)*): Unit = {
    tables.foreach { case (live, write) => write(s"${live}__$tag") }
    tables.foreach { case (live, _) =>
      swapInto(spark, s"${live}__$tag", live) }
  }

  /** Replace `live` with `next`. Not atomic across the two renames —
    * a reader racing the swap can see the old or the new generation,
    * never a half-written one (the side dir was fully written before
    * the first rename).
    */
  private def swapInto(spark: SparkSession, next: String, live: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val livePath = new org.apache.hadoop.fs.Path(live)
    val fs = livePath.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(live + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(livePath) && !fs.rename(livePath, old))
      throw new java.io.IOException(s"swapInto: cannot move $live aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(next), livePath))
      throw new java.io.IOException(s"swapInto: cannot move $next into place")
    fs.delete(old, true): Unit
  }
}
