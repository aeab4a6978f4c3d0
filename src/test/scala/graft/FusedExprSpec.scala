package graft

import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => ScTest}
import org.apache.spark.sql.functions._

/** Property pins for the r12 fused expressions against their builtin
  * formulations: [[graft.plans.IntersectCount]] (`graft_isect`) vs
  * `array_intersect`-of-distincts, and [[graft.plans.LongArrayDot]]
  * (`graft_doti`) vs the literal-folded getItem·lit sum — in-range
  * values match exactly, and BOTH forms reject long overflow (the
  * folded twin errors under Spark's default ANSI mode; a silently
  * wrapping fused form would diverge from it on out-of-contract
  * inputs).
  */
class FusedExprSpec extends SparkSpec {
  import spark.implicits._

  graft.plans.Functions.register(spark)

  test("property: graft_isect equals distinct array_intersect size") {
    val word = Gen.oneOf("a", "b", "cc", "ddd", "e f", "", "yy", "zzz", "qq x")
    val arr = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val cases = Gen.listOfN(60, Gen.zip(arr, arr)).sample.get
    val df = cases.toDF("xs", "ys")
      .withColumn("fused", call_function("graft_isect", col("xs"), col("ys")))
      .withColumn("builtin",
        size(array_intersect(array_distinct(col("xs")), array_distinct(col("ys")))))
    val bad = df.filter(col("fused") =!= col("builtin")).collect()
    assert(bad.isEmpty, s"graft_isect drifted from array_intersect on:\n${bad.mkString("\n")}")
  }

  test("property: graft_doti equals the literal-folded dot in range") {
    val dims = 8
    // |cv·w| ≤ 2^20·2^20 = 2^40 per term, ×8 terms < 2^43 — far from
    // overflow, so both forms are defined and must agree exactly
    val inRange = Gen.chooseNum(-(1L << 20), 1L << 20)
    val gen = for {
      cv <- Gen.listOfN(dims, inRange)
      w <- Gen.listOfN(dims, inRange)
    } yield (cv, w)
    val prop = forAll(gen) { case (cv, w) =>
      val df = Seq(Tuple1(cv)).toDF("cv")
      val fused = df.select(
        call_function("graft_doti", col("cv"), array(w.map(lit(_)): _*)).as("d"))
        .head.getLong(0)
      val folded = df.select(
        (0 until dims).map(i => col("cv").getItem(i) * lit(w(i))).reduce(_ + _).as("d"))
        .head.getLong(0)
      fused == folded
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("graft_doti rejects long overflow like the ANSI folded form") {
    val df = Seq(Tuple1(Seq(Long.MaxValue / 2, Long.MaxValue / 2))).toDF("cv")
    val ex = intercept[Exception] {
      df.select(call_function("graft_doti", col("cv"),
        array(lit(4L), lit(4L))).as("d")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException cause, got $ex")
  }

  test("property: graft_spanhash equals the HOF slice+md5 form") {
    val word = Gen.oneOf("a", "bb", "ccc", "", "dd d")
    val text = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val cases = Gen.listOfN(50, text).sample.get
    val n = 3
    val toks = split(col("t"), " ")
    val df = cases.toDF("t")
      .withColumn("fused", call_function("graft_spanhash", col("t"), lit(n)))
      .withColumn("builtin", when(size(toks) >= n, transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array()))
    val bad = df.filter(not(col("fused") <=> col("builtin"))).collect()
    assert(bad.isEmpty, s"graft_spanhash drifted from the HOF form on:\n${bad.mkString("\n")}")
  }

  test("graft_doti: array shorter than the weights is NULL, never a partial sum") {
    val df = Seq(Tuple1(Seq(3L, 4L))).toDF("cv")
    val row = df.select(call_function("graft_doti", col("cv"),
      array(lit(10L), lit(100L), lit(1000L))).as("d")).head
    assert(row.isNullAt(0), s"short-array dot must be the NULL sentinel, got ${row.get(0)}")
    // extra array elements beyond the weights are ignored (not an error)
    val long = df.select(call_function("graft_doti", col("cv"),
      array(lit(10L)).cast("array<bigint>")).as("d")).head.getLong(0)
    assert(long == 30L)
  }

  test("property: graft_min2 equals brute-force second-smallest across partition merges") {
    // r17.4 ([[graft.plans.MinTwo]]): one-pass second-smallest. The
    // brute force sorts the group's non-null values and takes index 1
    // (multiset semantics — duplicates of the minimum count). The
    // repartition(7) forces partial buffers to MERGE across tasks, so
    // both update and merge trees are exercised; null inputs must be
    // ignored, <2-value groups must yield NULL.
    val entry = for {
      k <- Gen.chooseNum(0, 9)
      v <- Gen.option(Gen.chooseNum(-50L, 50L))
    } yield (k, v)
    val cases = Gen.listOfN(400, entry).sample.get
    val df = cases.toDF("k", "v").repartition(7)
      .groupBy(col("k"))
      .agg(call_function("graft_min2", col("v")).as("m2"))
    val got = df.collect()
      .map(r => r.getAs[Int]("k") -> Option(r.getAs[java.lang.Long]("m2")).map(_.toLong)).toMap
    val want = cases.groupBy(_._1).map { case (k, vs) =>
      val sorted = vs.flatMap(_._2).sorted
      k -> (if (sorted.size >= 2) Some(sorted(1)) else None)
    }
    assert(got == want, s"graft_min2 drifted:\n$got\nvs brute\n$want")
  }

  test("property: graft_topksum equals brute-force top-k sum across partition merges") {
    // [[graft.plans.TopKPosSum]]: one-pass sum of the k largest
    // POSITIVE longs per group — the window-free k-NN cosine rollup of
    // the margin miners. Brute force sorts descending and sums the
    // first k; repartition(7) exercises buffer MERGES; null inputs are
    // ignored; groups with < k values sum what they have; an absent
    // group never appears (same as the window form).
    for (k <- Seq(1, 2, 4, 8)) {
      val entry = for {
        g <- Gen.chooseNum(0, 9)
        v <- Gen.option(Gen.chooseNum(1L, 1000000L))
      } yield (g, v)
      val cases = Gen.listOfN(400, entry).sample.get
      val df = cases.toDF("g", "v").repartition(7)
        .groupBy(col("g"))
        .agg(call_function("graft_topksum", col("v"), lit(k)).as("s"))
      val got = df.collect().map(r => r.getAs[Int]("g") -> r.getAs[Long]("s")).toMap
      val want = cases.groupBy(_._1).collect {
        case (g, vs) if vs.exists(_._2.nonEmpty) =>
          g -> vs.flatMap(_._2).sorted(Ordering[Long].reverse).take(k).sum
      }
      // groups whose values are ALL null aggregate to the zero buffer
      val wantWithEmpty = cases.map(_._1).distinct
        .map(g => g -> want.getOrElse(g, 0L)).toMap
      assert(got == wantWithEmpty, s"graft_topksum k=$k drifted:\n$got\nvs brute\n$wantWithEmpty")
    }
  }

  test("graft_topksum fails on a 0 or negative input, codegen'd and interpreted") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    graft.plans.Functions.register(interpreted)
    def topk(s: org.apache.spark.sql.SparkSession, vs: Seq[Long]) =
      s.createDataFrame(vs.map(v => (1, v))).toDF("g", "v").repartition(2)
        .groupBy(col("g")).agg(call_function("graft_topksum", col("v"), lit(2)).as("s"))
    // the positive path aggregates inside whole-stage codegen: `*(n)`
    val ok = topk(spark, Seq(3L, 5L, 4L))
    assert(ok.collect().map(_.getLong(1)).toSeq == Seq(9L))
    val plan = ok.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate\(.*partial_graft_topksum""".r.findFirstIn(plan).isDefined, plan)
    for (s <- Seq(spark, interpreted); bad <- Seq(0L, -7L)) {
      val e = intercept[Exception](topk(s, Seq(3L, bad, 5L)).collect())
      assert(e.getMessage.contains(s"graft_topksum requires inputs > 0, got $bad"), e.getMessage)
    }
  }

  test("graft_bigrams equals the builtin transform/element_at chain") {
    // [[graft.plans.BigramPairs]]: position-ordered bigram structs with
    // duplicates — must match the interpreted HOF formulation it
    // replaced in bigramNll, including empty tokens from repeated
    // spaces and the <2-token empty-array edge.
    val texts = Seq("a b c a b", "one", "", "x  y", "a a a a", "t1 t2")
    val df = texts.toDF("text")
    val fused = df.selectExpr("graft_bigrams(text) as bg").collect().map(_.get(0))
    val builtin = df.select(
      org.apache.spark.sql.functions.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
          "(t, i) -> struct(t as t1, element_at(split(text, ' '), i + 2) as term))").as("bg"))
      .collect().map(_.get(0))
    assert(fused.map(_.toString).toSeq == builtin.map(_.toString).toSeq)
  }

  test("graft_min2 orders strings and handles the single-row merge edge") {
    val df = Seq(("g", "bb"), ("g", "aa"), ("g", "cc"), ("h", "zz"))
      .toDF("k", "v").repartition(3)
      .groupBy(col("k")).agg(call_function("graft_min2", col("v")).as("m2"))
    val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("g" -> Some("bb"), "h" -> None))
  }

  test("graft_doti / graft_bpe_apply: same parameters compare semantically equal") {
    // Array-typed expression fields default to identity equality, which
    // silently defeats semanticEquals-driven reuse (CSE, exchange/cache
    // reuse) — pinned here via the overridden content equality.
    import graft.plans.{BpeApply, LongArrayDot}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    val child = BoundReference(0, ArrayType(LongType), nullable = true)
    val d1 = LongArrayDot(child, Array(1L, 2L, 3L))
    val d2 = LongArrayDot(child, Array(1L, 2L, 3L))
    assert(d1 == d2 && d1.hashCode == d2.hashCode && d1.semanticEquals(d2))
    assert(d1 != LongArrayDot(child, Array(1L, 2L, 4L)))
    val s = Literal.create("ab", StringType)
    val b1 = BpeApply(s, Array("a b"), Array("ab"))
    val b2 = BpeApply(s, Array("a b"), Array("ab"))
    assert(b1 == b2 && b1.hashCode == b2.hashCode && b1.semanticEquals(b2))
    assert(b1 != BpeApply(s, Array("a b"), Array("a_b")))
  }
}
