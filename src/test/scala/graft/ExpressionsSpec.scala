package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.io.Tables
import graft.plans.expressions

class ExpressionsSpec extends SparkSpec {

  /** The pure-HOF shingle formulation — semantically identical to
    * `TextOps.shingles`; kept as the built-ins-only reference for tests. */
  private def shinglesHof(text: Column, n: Int): Column = {
    val w = TextOps.words(text)
    val grams = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array()))
  }

  import spark.implicits._

  test("WordShingles matches the HOF formulation on the fixture corpus") {
    val docs = Tables.documents(spark, sf001)
    val diff = docs.select(
        TextOps.shingles(col("text"), 3).as("fast"),
        shinglesHof(col("text"), 3).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("word_shingles_all keeps multiplicity and matches the HOF twin") {
    // non-distinct law: the all-occurrences kernel equals the plain
    // transform/sequence formulation (no array_distinct) on the corpus
    val w = TextOps.words(col("text"))
    val hofAll = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array())
    val diff = Tables.documents(spark, sf001).select(
        TextOps.shinglesAll(col("text"), 2).as("fast"), hofAll.as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
    // hand case: repeated bigram kept twice, distinct variant collapses
    val one = Seq(("a b a b")).toDF("text")
    assert(one.select(TextOps.shinglesAll(col("text"), 2)).first.getSeq[String](0)
      === Seq("a b", "b a", "a b"))
    assert(one.select(TextOps.shingles(col("text"), 2)).first.getSeq[String](0)
      === Seq("a b", "b a"))
    // SQL registration of the new name
    graft.plans.expressions.register(spark)
    assert(spark.sql("SELECT word_shingles_all('x y x y', 2) AS s")
      .first.getSeq[String](0) === Seq("x y", "y x", "x y"))
  }

  test("RepetitionStats kernel equals the HOF twin on the fixture corpus + edges") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf001)
      .union(Seq((900001L, "a a a b", "en", "x", 7L),
        (900002L, "w", "en", "x", 1L),
        (900003L, "", "en", "x", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val fast = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val ref = TextAnalysis.repetitionStatsHof(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fast === ref)
  }

  test("winnowing: exact-length text selects its own fingerprint; short text selects none") {
    val df = Seq((1L, "abcdefgh"), (2L, "abc"), (3L, "")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        expressions.winnow_fingerprints(col("text"), 8, 16).as("s"),
        TextOps.rollingFingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    assert(r(0).getSeq[Long](1) === Seq(r(0).getLong(2)))  // one gram == whole text
    assert(r(1).getSeq[Long](1).isEmpty)
    assert(r(2).getSeq[Long](1).isEmpty)
  }

  test("winnowing guarantee: docs sharing a >= k+w-1 substring share a fingerprint") {
    val shared = "the quick brown fox jumps over it"   // 33 chars >= 8+16-1
    val a = "AAAA " + shared + " tail one"
    val b = "completely different prefix text " + shared
    val r = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .select(col("doc_id"), expressions.winnow_fingerprints(col("text"), 8, 16).as("s"))
      .orderBy("doc_id").collect()
    val sa = r(0).getSeq[Long](1).toSet
    val sb = r(1).getSeq[Long](1).toSet
    assert((sa & sb).nonEmpty, "winnowing guarantee violated")
    // density: at most all grams, at least ~1/w of them are selected
    assert(sa.size <= a.length && sa.size >= (a.length - 7) / 16)
  }

  test("WordShingles edge cases") {
    val got = Seq("a b c d", "a a a a", "x y", "", "solo")
      .toDF("text")
      .select(expressions.word_shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq("a a a"))
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq.empty)
    assert(got(4) === Seq.empty)
  }

  test("WordShingles whitespace handling matches the HOF split semantics") {
    val weird = Seq("a  b c", " a b c", "a b c ", "", " ")
    val df = weird.toDF("text").select(
      TextOps.shingles(col("text"), 2).as("fast"),
      shinglesHof(col("text"), 2).as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("WordShingles: two instances share one codegen scope cleanly") {
    // the doGenCode path emits static ShingleKernel calls; two
    // instances (different n) in ONE projection must not collide in
    // the generated class (the janino-failure mode that silently
    // disables whole-stage codegen)
    val got = Seq(("a b c d", "x y z w")).toDF("t1", "t2")
      .select(expressions.word_shingles(col("t1"), 2).as("s1"),
        expressions.word_shingles(col("t2"), 3).as("s2"))
      .collect()(0)
    assert(got.getSeq[String](0) === Seq("a b", "b c", "c d"))
    assert(got.getSeq[String](1) === Seq("x y z", "y z w"))
  }

  test("WordShingles null propagates") {
    val got = Seq[Option[String]](None).toDF("text")
      .select(expressions.word_shingles(col("text"), 2).as("s"))
      .collect()
    assert(got(0).isNullAt(0))
  }

  test("compiled SqDist/DotProduct are bit-identical to the HOF kernels") {
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val other = TextOps // keep imports used
    val paired = emb.as("a").join(emb.as("b"),
        col("a.vec_id") === col("b.vec_id") - 1)
      .select(col("a.v").as("x"), col("b.v").as("y"))
    val bad = paired.filter(
      expressions.vec_sqdist(col("x"), col("y")) =!=
        graft.functions.VectorOps.sqdist(col("x"), col("y")) ||
      expressions.vec_dot(col("x"), col("y")) =!=
        graft.functions.VectorOps.dot(col("x"), col("y")))
    assert(bad.count() === 0)
  }

  test("CollapseShingleDistinct removes redundant array_distinct") {
    val df = Seq("a b c d").toDF("text")
      .select(array_distinct(expressions.word_shingles(col("text"), 2)).as("s"))
    val before = df.queryExecution.analyzed
    val after = graft.plans.rules.CollapseShingleDistinct(before)
    assert(before.toString.contains("array_distinct"))
    assert(!after.toString.contains("array_distinct"))
    // semantics preserved
    val direct = Seq("a b c d").toDF("text")
      .select(expressions.word_shingles(col("text"), 2).as("s"))
    assert(df.collect()(0).getSeq[String](0) === direct.collect()(0).getSeq[String](0))
  }

  test("vec_sqdist / vec_dot are SQL-callable after registration") {
    expressions.register(spark)
    val r = spark.sql(
      "SELECT vec_sqdist(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS d, " +
      "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS p").collect()(0)
    assert(r.getDouble(0) === 25.0)
    assert(r.getDouble(1) === 11.0)
  }

  test("word_shingles is SQL-callable after registration") {
    expressions.register(spark)
    val got = spark.sql("SELECT word_shingles('a b c', 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(got === Seq("a b", "b c"))
  }

  test("HashedBow equals the split+fingerprint+pmod reference, edge cases included") {
    // the built-ins-only reference: split(" ") token semantics
    // (empties preserved), rolling fingerprint, pmod bucket, counts
    val cases = Seq("a b c d", "a  b", " leading", "trailing ", "",
      " ", "solo", "ünïcode ünïcode x", "a a a a")
    val df = cases.toDF("text").select(col("text"),
      expressions.hashed_bow(col("text"), 8).as("fast"))
    val ref = cases.toDF("text")
      .select(col("text"), explode(TextOps.words(col("text"))).as("t"))
      .select(col("text"),
        pmod(TextOps.rollingFingerprint(col("t")), lit(8L)).as("b"))
      .groupBy("text", "b").count()
      .collect().groupBy(_.getString(0))
      .map { case (t, rows) =>
        val v = new Array[Double](8)
        rows.foreach(r => v(r.getLong(1).toInt) = r.getLong(2).toDouble)
        t -> v.toSeq
      }
    df.collect().foreach { r =>
      assert(r.getSeq[Double](1) === ref(r.getString(0)),
        s"mismatch for '${r.getString(0)}'")
    }
    // totals law: Σ counts == token count (split-with-empties length)
    val sums = cases.toDF("text").select(
      aggregate(expressions.hashed_bow(col("text"), 8), lit(0.0), _ + _).as("s"),
      size(TextOps.words(col("text"))).cast("double").as("n"))
    assert(sums.filter(col("s") =!= col("n")).count() === 0)
  }
}
