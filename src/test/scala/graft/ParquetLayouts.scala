package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet layouts the sink specs write and read back: hive-style
  * partitioned directories (partition pruning for downstream readers)
  * and schema-evolved appends. */
object ParquetLayouts {

  /** Partitioned parquet: one directory per distinct partition-column
    * tuple; downstream `spark.read.parquet(path).filter(pcol === v)`
    * prunes to matching directories without listing the rest. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read back with partition pruning (schema merges partition dirs). */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-evolved read: union a directory tree whose files were
    * written under successive schema versions (columns added over
    * time) — `mergeSchema` reconciles footers, absent columns read as
    * null. The write side needs no coordination: each era appends
    * its own files (SaveMode.Append). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
