package graft

import org.apache.spark.sql.functions._

import graft.io.{Sinks, Tables}

/** Write-side layout sinks — the z-order test MEASURES the pruning
  * claim: records actually read from parquet under a 2-D range
  * predicate, z-ordered layout vs the natural (orderkey-clustered)
  * layout of the same rows. */
class SinksSpec extends SparkSpec {

  private def recordsRead(work: => Unit): Long =
    withTaskMetrics(work)._2.map(_.inputMetrics.recordsRead).sum

  test("z-ordered layout preserves rows exactly and prunes a 2-D range scan") {
    val li = Tables.lineitem(spark, sf01)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val natural = s"$tmp/natural"
    val zordered = s"$tmp/zordered"
    // same file count both sides — only the CLUSTERING differs
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(natural)
    Sinks.writeZOrdered(li, zordered, "l_partkey", "l_suppkey", nFiles = 16)

    // layout must be result-invisible: same multiset of rows
    val a = spark.read.parquet(natural)
    val b = spark.read.parquet(zordered)
    assert(a.count() === li.count())
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)

    // a selective 2-D range: both keys constrained to ~1/8 of their
    // domain → ~1/64 of rows qualify
    def q(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("l_partkey").between(100, 350) &&
          col("l_suppkey").between(10, 22))
      df.count()
    }
    assert(q(natural) === q(zordered))
    val readNatural = recordsRead(q(natural))
    val readZ = recordsRead(q(zordered))
    // natural layout: partkey/suppkey are uniform within every file →
    // no row group's min/max excludes the predicate → full scan.
    // z-order: the qualifying rectangle intersects few z-runs.
    assert(readZ * 2 < readNatural,
      s"z-ordered read $readZ records vs $readNatural natural — no pruning win")
  }

  test("compaction rewrites a fragmented dataset into target-sized files") {
    val li = Tables.lineitem(spark, sf001).select("l_orderkey", "l_linenumber", "l_quantity")
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // simulate streaming-ingest fragmentation: 64 tiny files
    li.repartition(64).write.mode("overwrite").parquet(s"$tmp/frag")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/frag") === 64)
    Sinks.compact(spark, s"$tmp/frag", s"$tmp/compacted", targetRecordsPerFile = 2000)
    val n = li.count()
    val expected = math.ceil(n.toDouble / 2000).toInt
    val got = parquetFiles(s"$tmp/compacted")
    assert(got >= expected && got <= expected + 1, s"$got files for $n rows")
    // compaction must be row-invisible
    val back = spark.read.parquet(s"$tmp/compacted")
    assert(back.exceptAll(li).count() === 0 && li.exceptAll(back).count() === 0)
  }

  test("schema-evolved directory reads as the merged schema with nulls for old files") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(tmp)
    Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "name", "quality")
      .write.mode("append").parquet(tmp)
    val df = ParquetLayouts.readEvolved(spark, tmp)
    assert(df.columns.toSet === Set("id", "name", "quality"))
    val rows = df.select("id", "name", "quality").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows === Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.5)), (4L, "d", Some(0.9))))
  }
}
