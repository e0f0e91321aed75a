package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, explode, split}

/** Input-parallelism guard for map-heavy operators.
  *
  * Operators whose expensive work happens BEFORE any shuffle (shingle
  * explosion, minhash signatures, per-doc scoring) inherit the scan's
  * split count as their parallelism. On a real 100 TB table that is
  * thousands of splits and this helper is a no-op; on a small/test
  * corpus (one parquet file = 1-2 splits) the whole map stage would
  * otherwise run on one or two cores while the cluster idles — the
  * measured difference on the 10× bench corpus was 3-10× wall-clock
  * for the affected operators.
  *
  * `ensure` round-robins the input up to the session's shuffle
  * parallelism only when the estimated input width is lower — the
  * added shuffle ships raw rows once and is strictly cheaper than
  * serializing the downstream compute.
  *
  * The width estimate reads the ANALYZED logical plan's leaves (file
  * bytes ÷ maxPartitionBytes for file scans, driver-local for
  * LocalRelation) instead of probing `df.rdd.getNumPartitions`: the
  * rdd probe forces a full second physical planning of the input per
  * invocation — pure overhead that grows with plan width and defeats
  * lazy composition when operators chain. Leaves of unknown kinds
  * (Range, external RDDs, views over them) are assumed wide enough,
  * so the guard stays a no-op unless it can SEE a narrow input.
  */
private[graft] object Par {

  def ensure(df: DataFrame): DataFrame = {
    // Streaming plans can't be asked for an RDD (and micro-batch
    // sources size their own partitions) — pass them through.
    if (df.isStreaming) return df
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
    val estimated = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          // ceil(bytes / maxPartitionBytes): how many splits the scan
          // yields at most (actual can be fewer after coalescing).
          // The byte estimate is optimistic for parquet, which splits
          // at ROW-GROUP boundaries: a writer configured for row
          // groups larger than maxPartitionBytes yields fewer real
          // splits than the bytes suggest (a byte range with no
          // row-group midpoint reads nothing). So when bytes say
          // "ample" we confirm against the FOOTER truth — but only
          // when the file count is below target: with ≥ target files
          // every file contributes ≥ 1 split, parallelism is proven
          // without touching a footer, and the driver-side metadata
          // read stays bounded by `target` files at any corpus size
          // (a 100 TB table has thousands of files and never probes).
          val est = ((fs.location.sizeInBytes + maxSplit - 1) / maxSplit).toInt
          if (est < target) est
          else {
            val files = fs.location.inputFiles
              .filter(_.endsWith(".parquet"))
            if (files.length >= target) est
            else math.min(est, rowGroupCount(df, files))
          }
        case _ => target // non-file relation: assume ample
      }
      case _: LocalRelation => 1 // driver-local test data
      case _ => target // unknown leaf: assume ample, stay lazy
    }.sum
    if (estimated < target) df.repartition(target) else df
  }

  /** Total parquet row groups across `files` — the scan's TRUE upper
    * bound on split parallelism (a row group cannot split). Footer
    * reads are driver-side bounded metadata (a few KB per file) and
    * only ever run on < target files (see the call site). A file
    * whose footer cannot be read (non-parquet suffix lies, corrupt)
    * counts as ample — the guard must never turn a readable plan
    * into a planning-time failure.
    */
  private def rowGroupCount(df: DataFrame, files: Array[String]): Int = {
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    // accumulate as Long: the per-unreadable-file "ample" sentinel is
    // large, and a few hundred failed footers would wrap an Int sum
    // NEGATIVE — inverting "count as ample, never fail planning" into
    // an unconditional forced repartition (r12 ADVICE)
    val total = files.map { f =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), hconf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size.toLong finally r.close()
      } catch { case _: Exception => (Int.MaxValue >> 8).toLong }
    }.sum
    math.min(total, Int.MaxValue.toLong).toInt
  }

  /** The shared whitespace token stream: (doc_id[, extra...], tok)
    * via `explode(split(text, ' '))`, empties dropped — THE
    * tokenization convention every text lane's DuckDB oracle twins
    * with `string_split(text, ' ')`. One definition so the contract
    * cannot desynchronize across operators. ([[Relevance]] keeps its
    * own variant deliberately: its extra `doc_id IS NOT NULL` guard
    * must sit between ensure and explode for AQE exchange reuse —
    * see Relevance.docTokens.)
    */
  def tokens(docs: DataFrame, extra: Column*): DataFrame =
    ensure(docs)
      .select(col("doc_id") +: extra :+
        explode(split(col("text"), " ")).as("tok"): _*)
      .filter(col("tok") =!= "")
}
