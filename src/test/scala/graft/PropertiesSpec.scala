package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{TextOps, VectorOps}

/** ScalaCheck-generated algebraic laws, evaluated in single batched
  * Spark jobs (one DataFrame of generated cases per law). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val vecPair: Gen[(Seq[Double], Seq[Double])] = for {
    d <- Gen.choose(1, 16)
    a <- Gen.listOfN(d, Gen.choose(-100.0, 100.0))
    b <- Gen.listOfN(d, Gen.choose(-100.0, 100.0))
  } yield (a, b)

  test("law: sqdist(a,b) == dot(a,a) + dot(b,b) - 2*dot(a,b)") {
    val df = sample(vecPair, 100).toDF("a", "b")
    val bad = df.select(
        VectorOps.sqdist(col("a"), col("b")).as("lhs"),
        (VectorOps.dot(col("a"), col("a")) + VectorOps.dot(col("b"), col("b"))
          - lit(2.0) * VectorOps.dot(col("a"), col("b"))).as("rhs"))
      .filter(abs(col("lhs") - col("rhs")) > lit(1e-6))
    assert(bad.count() === 0)
  }

  test("law: vecAdd is commutative; vecDiv inverts vecScale") {
    val df = sample(vecPair, 100).toDF("a", "b")
    val bad = df.filter(
      PointOps.vecAdd(col("a"), col("b")) =!= PointOps.vecAdd(col("b"), col("a")))
    assert(bad.count() === 0)
    val bad2 = df.select(col("a"),
        PointOps.vecDiv(PointOps.vecScale(col("a"), lit(3.0)), lit(3.0)).as("r"))
      .select(explode(zip_with(col("a"), col("r"), (x, y) => abs(x - y))).as("d"))
      .filter(col("d") > 1e-9)
    assert(bad2.count() === 0)
  }

  private val words: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield ws.mkString(" ")

  test("law: distinct-word texts yield exactly max(0, n-k+1) k-shingles") {
    val texts = sample(Gen.choose(0, 20), 60).map { n =>
      (0 until n).map(i => s"w$i").mkString(" ")
    }
    val got = texts.toDF("text")
      .select(length(col("text")).as("len"),
        size(split(col("text"), " ")).as("nw"),
        size(TextOps.shingles(col("text"), 3)).as("ns"))
      .collect()
    got.foreach { r =>
      val nw = if (r.getInt(0) == 0) 0 else r.getInt(1)
      assert(r.getInt(2) === math.max(0, nw - 2))
    }
  }

  test("law: shingle counts bounded and fingerprints in range on random word soup") {
    val df = sample(words, 100).toDF("text")
    val r = df.select(
        size(TextOps.shingles(col("text"), 3)).as("ns"),
        size(split(col("text"), " ")).as("nw"),
        TextOps.rollingFingerprint(col("text")).as("fp"))
      .collect()
    r.foreach { row =>
      assert(row.getInt(0) <= math.max(0, row.getInt(1) - 2))
      assert(row.getLong(2) >= 0L && row.getLong(2) < TextOps.FingerprintMod)
    }
  }

  test("law: digest-keyed exact dedup == raw-text grouping on unicode-heavy corpora") {
    // sha2 runs over UTF-8 bytes; the law must hold across multi-byte
    // code points, surrogate pairs, NULs, and combining marks
    val pool = Seq("δοκιμαστικό κείμενο", "中文 文本 样例", "🙂🚀 emoji text",
      "plain ascii", "משפט בעברית", "ё õ ü ß", "a\u0000b nul", "é combining")
    val texts = sample(Gen.oneOf(pool), 200)
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val byDigest = graft.operators.Dedup.exact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val byRaw = graft.operators.Dedup.exact(corpus, "doc_id", "text", keyExpr = c => c)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(byDigest === byRaw)
    assert(byDigest.map(_._2).sum === 200L)
  }

  test("law: simhash band layout is a disjoint cover of all 64 bits for any band count") {
    (1 to 64).foreach { nb =>
      val layout = graft.operators.Dedup.bandLayout(nb)
      assert(layout.length === nb)
      assert(layout.forall { case (_, w) => w >= 1 })
      val bits = layout.flatMap { case (off, w) => off until (off + w) }
      assert(bits.sorted === (0 until 64).toList, s"nBands=$nb")
      // pigeonhole follows: h flipped bits cannot touch all h+1 bands
    }
  }

  test("law: salted aggregation equals the plain group-by for any bucket count") {
    val rows = sample(Gen.zip(Gen.choose(0, 4), Gen.choose(-100, 100)), 300)
    val df = rows.toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq(1, 3, 16, 64).foreach { buckets =>
      val salted = graft.operators.Skew.saltedSumCount(
          df, Seq("k"), col("v"), buckets)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(salted === plain, s"buckets=$buckets")
    }
  }

  test("law: hashModSample retains ~1/k of every stratum, any sign of id") {
    // random bigint ids of both signs, strata interleaved by position:
    // the multiplicative hash must admit ~1/k of EACH stratum without
    // ever grouping by stratum (proportional allocation)
    val ids = sample(Gen.choose(Long.MinValue / 4, Long.MaxValue / 4), 10000).distinct
    val df = ids.zipWithIndex
      .map { case (id, i) => (id, i % 5) }
      .toDF("doc_id", "stratum")
    Seq(2, 5, 10).foreach { k =>
      val counts = graft.operators.TextAnalysis.hashModSample(df, "doc_id", k)
        .groupBy("stratum").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exp = ids.length / 5.0 / k
      (0 until 5).foreach { s =>
        val c = counts.getOrElse(s, 0L).toDouble
        assert(c > exp * 0.6 && c < exp * 1.4,
          s"k=$k stratum=$s kept=$c expected~$exp")
      }
    }
  }

  test("law: two-level quantiles equal built-in percentile on random grouped data") {
    val rows = sample(Gen.zip(Gen.choose(0, 3), Gen.choose(-1e6, 1e6)), 2000) ++
      Seq((4, 7.5), (5, 1.0), (5, 2.0)) // singleton + pair groups
    val df = rows.toDF("g", "x")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val builtin = df.groupBy("g")
      .agg(qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).head,
        qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).tail: _*)
      .collect().map(r => r.getInt(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    Seq(3, 64, 4096).foreach { buckets =>
      val mine = graft.operators.Quantiles.exactQuantiles(df, "g", "x", qs, buckets)
        .collect().map(r => (r.getInt(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      builtin.foreach { case (g, vals) =>
        qs.zip(vals).foreach { case (q, v) =>
          assert(mine((g, q)) === v, s"g=$g q=$q buckets=$buckets")
        }
      }
    }
  }

  test("law: double_sort_bits is strictly monotone and normalizes -0.0") {
    val edge = Seq(Double.NegativeInfinity, -1.7e308, -1.0, -4.9e-324, -0.0,
      0.0, 4.9e-324, 1.0, 1.7e308, Double.PositiveInfinity)
    val doubles = (sample(Gen.choose(-1e12, 1e12), 500) ++
      sample(Gen.choose(-1.0, 1.0), 500) ++ edge).distinct.sorted
    val df = doubles.toDF("x")
      .select(col("x"), graft.plans.expressions.double_sort_bits(col("x")).as("m"))
    val got = df.collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    doubles.sliding(2).foreach {
      case Seq(a, b) =>
        if (a == b) assert(got(a) === got(b), s"$a vs $b")        // -0.0 / +0.0
        else assert(got(a) < got(b), s"order broken at $a < $b")
      case _ =>
    }
  }

  test("law: quantiles equal built-in percentile under adversarial tie distributions") {
    // every shape that historically funneled the refinement: whole-group
    // constants, zero-inflated counts, tiny discrete domains (ratings),
    // a dominant value + an outlier stretching the range, and near-ties
    // separated by less than a bucket width
    val tieValue: Gen[Double] = Gen.frequency(
      6 -> Gen.const(0.0),                               // zero-inflated
      3 -> Gen.oneOf(1.0, 2.0, 3.0, 4.0, 5.0),           // discrete ratings
      1 -> Gen.oneOf(1e9, 5.0 + 1e-9, 5.0 - 1e-9))       // outlier + near-ties
    val rows = sample(Gen.zip(Gen.choose(0, 4), tieValue), 3000) ++
      Seq((5, 7.0), (5, 7.0), (5, 7.0), (6, 0.0))        // all-constant + singleton groups
    val df = rows.toDF("g", "x")
    val qs = Seq(0.0, 0.1, 0.5, 0.75, 0.9, 1.0)
    val builtin = df.groupBy("g")
      .agg(qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).head,
        qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).tail: _*)
      .collect().map(r => r.getInt(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    Seq(3, 64, 4096).foreach { buckets =>
      val mine = graft.operators.Quantiles.exactQuantiles(df, "g", "x", qs, buckets)
        .collect().map(r => (r.getInt(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      builtin.foreach { case (g, vals) =>
        qs.zip(vals).foreach { case (q, v) =>
          assert(mine((g, q)) === v, s"g=$g q=$q buckets=$buckets")
        }
      }
    }
  }

  test("law: argmin kernel == literal array_min formulation on random centers") {
    // random dim (1-8), k (1-6), coordinates including exact ties
    // (integer-valued doubles make equal distances reachable), so the
    // lowest-cid tie-break is actually exercised
    val gen = for {
      dim <- Gen.choose(1, 8)
      k <- Gen.choose(1, 6)
      v <- Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toDouble))
      cs <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toDouble)))
    } yield (v, cs)
    sample(gen, 60).zipWithIndex.foreach { case ((v, cs), i) =>
      val centers = cs.map(_.toArray).toArray
      val df = Seq(Tuple1(v)).toDF("v")
      val (ck, dk) = graft.cluster.KMeansNative.argminColumns(col("v"), centers)
      val (cl, dl) = graft.cluster.KMeansNative.argminColumnsLiteral(col("v"), centers)
      val r = df.select(ck.as("ck"), dk.as("dk"), cl.as("cl"), dl.as("dl")).collect()(0)
      assert(r.getInt(0) === r.getInt(2), s"case $i cid: v=$v cs=$cs")
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(3)) === 0,
        s"case $i dist: v=$v cs=$cs")
    }
  }

  test("law: two-level KMV bucketing is estimate-invariant for any bucket count") {
    // The invariant behind Sketches.kmvDistinct's skew-free shape: a
    // group's k smallest hashes each rank <= k within their own
    // (h mod buckets) bucket, so the per-bucket pre-filter can never
    // evict a global top-k survivor — any bucket count yields the
    // bucketless estimate. Random groups, duplicate-heavy values,
    // negative ids included; k spans under- and over-cardinality.
    val gen = for {
      g <- Gen.choose(0, 2)
      v <- Gen.choose(-50L, 50L)
    } yield (s"g$g", v)
    val df = sample(gen, 400).toDF("grp", "v")
    val k = 7
    val expected = graft.operators.Sketches
      .kmvDistinct(df, Seq("grp"), col("v"), k, seed = 77L, buckets = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (buckets <- Seq(2, 16, 64)) {
      val got = graft.operators.Sketches
        .kmvDistinct(df, Seq("grp"), col("v"), k, seed = 77L, buckets = buckets)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got === expected, s"buckets=$buckets")
    }
    // under-cardinality groups report their exact distinct count
    val truth = df.groupBy("grp").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.filter(_._2 < k).foreach { case (g, n) =>
      assert(expected(g) === n.toDouble, s"group $g under k")
    }
  }

  test("law: chunking accounts for every word exactly once, fingerprints consistent") {
    val texts = sample(words, 80).filter(_.nonEmpty)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Seq(1, 3, 7).foreach { c =>
      val chunks = graft.operators.TextAnalysis.chunkStats(df, "doc_id", "text", c)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val byDoc = chunks.groupBy(_._1)
      texts.zipWithIndex.foreach { case (t, i) =>
        val nWords = t.split(" ", -1).length
        val cs = byDoc(i.toLong).sortBy(_._2)
        assert(cs.map(_._3).sum === nWords, s"c=$c doc=$i")      // every word once
        assert(cs.length === (nWords + c - 1) / c)               // ceil(n/c) chunks
        assert(cs.map(_._2) === (0 until cs.length))             // contiguous ids
        cs.dropRight(1).foreach(ch => assert(ch._3 === c))       // full chunks
      }
    }
  }

  test("law: decontam of a corpus against itself reports each doc's own shingles") {
    val texts = sample(words, 60).filter(_.split(" ", -1).length >= 5)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.operators.Dedup.decontamOverlap(df, df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val shingleCount = df.select(col("doc_id"),
        size(graft.functions.TextOps.shingles(col("text"), 5)).as("ns"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    shingleCount.filter(_._2 > 0).foreach { case (id, ns) =>
      val (shared, evalDocs) = got(id)
      assert(shared >= ns, s"doc $id must at least self-hit all $ns shingles")
      assert(evalDocs >= 1)
    }
  }

  test("law: simhash of permuted token order is identical (bag-of-words property)") {
    val perms = sample(Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd", "ee")), 40)
      .map(_.mkString(" "))
    val df = perms.toDF("text")
      .withColumn("sorted_text", concat_ws(" ", sort_array(split(col("text"), " "))))
    val bad = df.select(
        TextOps.simhash64(col("text")).as("f1"),
        TextOps.simhash64(col("sorted_text")).as("f2"))
      .filter(col("f1") =!= col("f2"))
    assert(bad.count() === 0)
  }

  test("law: bloom bitmap has no false negatives for any (size, hashes, seed)") {
    // membership of every inserted key must hold across configs —
    // including a 1-word bitmap (saturation is allowed, misses are not)
    val gen = for {
      mWords <- Gen.oneOf(1, 4, 64, 512)
      nHashes <- Gen.choose(1, 6)
      seed <- Gen.choose(1L, 1000000L)
      keys <- Gen.listOfN(200, Gen.choose(-1000000L, 1000000L))
    } yield (mWords, nHashes, seed, keys.distinct)
    sample(gen, 8).foreach { case (mWords, nHashes, seed, keys) =>
      val df = keys.toDF("k")
      val words = graft.operators.Bloom.buildBitmap(df, "k", mWords, nHashes, seed)
      val misses = df.filter(
        !graft.operators.Bloom.mightContain(col("k"), words, nHashes, seed)).count()
      assert(misses === 0L, s"mWords=$mWords nHashes=$nHashes seed=$seed")
    }
  }

  test("law: salted join equals the plain join under duplicate build keys") {
    // the build side is REPLICATED per salt — row multiplicity from
    // duplicate build keys must survive exactly (each duplicate
    // matches a probe row exactly once, through its one salt)
    val gen = for {
      probe <- Gen.listOfN(60, Gen.zip(Gen.choose(1, 4), Gen.choose(0, 1000)))
      build <- Gen.listOfN(10, Gen.zip(Gen.choose(1, 4), Gen.choose(0, 1000)))
    } yield (probe, build)
    sample(gen, 6).foreach { case (probe, build) =>
      val p = probe.toDF("k", "pv")
      val b = build.toDF("k", "bv")
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "pv", "bv").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted.toSeq
      val plain = multiset(p.join(b.withColumnRenamed("k", "_k"),
        p("k") === col("_k"), "inner").drop("_k"))
      val salted = multiset(graft.operators.Skew.saltedJoin(p, b, "k", buckets = 5))
      assert(salted === plain)
    }
  }

  test("law: magic-mask z-order interleave equals the literal per-bit loop") {
    // the oracle runs the per-bit loop in SQL; the engine runs the
    // 5-shift spread — this law is the bridge between the two
    def literal(x: Long, y: Long): Long =
      (0 until 31).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val gen = for {
      x <- Gen.choose(0L, (1L << 31) - 1)
      y <- Gen.choose(0L, (1L << 31) - 1)
    } yield (x, y)
    sample(gen, 500).foreach { case (x, y) =>
      assert(graft.plans.ZOrderKernel.interleave(x, y) === literal(x, y), s"x=$x y=$y")
    }
    // axis placement: x occupies even bits, y odd bits
    assert(graft.plans.ZOrderKernel.interleave(1L, 0L) === 1L)
    assert(graft.plans.ZOrderKernel.interleave(0L, 1L) === 2L)
    assert(graft.plans.ZOrderKernel.interleave(3L, 3L) === 15L)
  }

  test("law: int8 quantization is invariant under power-of-two rescaling") {
    // ⌊(c·x)·127/(c·amax)⌋ = ⌊x·127/amax⌋ exactly when c is a power of
    // two: the rescale is a pure exponent shift, so both the product
    // and the quotient keep identical mantissas
    val gen = for {
      d <- Gen.choose(1, 32)
      v <- Gen.listOfN(d, Gen.choose(-50.0, 50.0))
      c <- Gen.oneOf(0.25, 0.5, 2.0, 1024.0, 0.0078125)
    } yield (v.toArray, c)
    sample(gen, 200).foreach { case (v, c) =>
      val q1 = graft.operators.Similarity.quantizeInt8(v).toSeq
      val q2 = graft.operators.Similarity.quantizeInt8(v.map(_ * c)).toSeq
      assert(q1 === q2, s"c=$c v=${v.toSeq}")
    }
  }

  test("law: Misra-Gries retains every item with count > n/(k+1) — per stream and unioned") {
    // pure-function law over the exact code path heavyHitters ships to
    // executors: candidates from arbitrarily partitioned streams must
    // cover all globally heavy items (the exactness precondition)
    val gen = for {
      k <- Gen.choose(2, 20)
      nTok <- Gen.choose(1, 40)
      // quadratic map skews the draw so heavy and light tokens coexist
      toks <- Gen.listOfN(500, Gen.choose(1, nTok).map(i => s"t${i * i % nTok}"))
      parts <- Gen.choose(1, 6)
    } yield (k, toks, parts)
    sample(gen, 80).foreach { case (k, toks, parts) =>
      val n = toks.size
      val heavy = toks.groupBy(identity)
        .collect { case (t, xs) if xs.size.toLong * (k + 1) > n => t }.toSet
      val cands = toks.grouped(math.max(1, n / parts))
        .flatMap { g =>
          val mg = new graft.operators.Sketches.MisraGries(k)
          g.foreach(mg.offer)
          mg.candidates
        }.toSet
      assert(heavy.subsetOf(cands), s"k=$k parts=$parts missing=${heavy -- cands}")
    }
  }
}
