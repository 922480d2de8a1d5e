package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output sinks beyond the harness's plain parquet dump: the
  * reference CSV, a z-ordered layout and compaction.
  */
object Sinks {

  /** Space-delimited CSV (reference-parity sink, see
    * [[graft.sources.KMeansCsv.writeCsv]]) re-exported here for
    * discoverability. */
  def writeCsv(df: DataFrame, path: String): Unit =
    graft.sources.KMeansCsv.writeCsv(df, path)

  /** Z-ORDERED parquet layout: range-partition and sort by the Morton
    * interleave of two filter columns, so each output file (= row
    * group at these sizes) covers a compact rectangle-ish region of
    * the (x, y) key space and its parquet min/max stats prune 2-D
    * range predicates at the scan — the write-side half of the
    * engine's pruning story (partition dirs handle categorical
    * filters; z-order handles multi-dimensional numeric ranges over
    * columns too fine-grained to partition by). The helper column is
    * dropped from the written schema; `nFiles` sets the region count
    * (at 100 TB: pick ~data / row-group-size). Readers need no new
    * API — plain `spark.read.parquet(path).filter(...)` benefits
    * (SinksSpec measures records actually read, ordered vs not). */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    nFiles: Int, bits: Int = 31): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.plans.expressions.zorder2(col(xCol), col(yCol), bits)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** COMPACTION — the small-files cure: rewrite a fragmented dataset
    * into ~`targetRecordsPerFile`-row parquet files. At 100 TB a
    * streaming ingest or over-parallel job leaves thousands of KB-
    * sized files whose per-file open/footer cost dominates the next
    * scan; compaction trades one rewrite for every future read.
    * `repartition(n)` (round-robin) sizes the files; `maxRecordsPerFile`
    * enforces the ceiling even when row-size skew concentrates rows. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetRecordsPerFile: Long): Unit = {
    val df = spark.read.parquet(inPath)
    val n = math.max(1, math.ceil(df.count().toDouble / targetRecordsPerFile).toInt)
    df.repartition(n)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(outPath)
  }
}
