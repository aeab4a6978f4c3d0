package graft

import graft.operators.{Dedup, QualityRules}

class QualityRulesSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, text: String, src: String = "s") =
    (id, src, text)

  test("gopher flags evaluate each rule independently and exactly") {
    val good = (Seq("the", "of", "and") ++ (1 to 37).map(i => s"word$i")).mkString(" ")
    val docs = Seq(
      doc(1L, good),                                  // all rules pass
      doc(2L, "the of short doc"),                    // fails word count (4 < 30)
      doc(3L, (Seq("the", "of") ++ Seq.fill(38)("same")).mkString(" ")), // dup frac 37/40 > 0.6
      doc(4L, (1 to 40).map(i => s"w$i").mkString(" "))  // no stopwords
    ).toDF("doc_id", "source", "text")
    val out = QualityRules.gopherFlags(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("rule_word_count"), r.getAs[Boolean]("rule_dup_frac"),
          r.getAs[Boolean]("rule_stopwords"), r.getAs[Boolean]("passes"))).toMap
    assert(out(1L) == ((true, true, true, true)))
    assert(out(2L)._1 == false && out(2L)._4 == false)
    assert(out(3L)._2 == false && out(3L)._4 == false)
    assert(out(4L)._3 == false && out(4L)._4 == false)
  }

  test("gopher word-length rule uses the separator-free character sum") {
    // 30 tokens of mean length 2 → fails the ≥4 bound; length ~5 passes
    val docs = Seq(
      doc(1L, (Seq.fill(28)("ab") :+ "the" :+ "of").mkString(" ")),
      doc(2L, (Seq.fill(28)("abcde") :+ "the" :+ "of").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = QualityRules.gopherFlags(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("rule_word_len")).toMap
    assert(out(1L) == false)
    assert(out(2L) == true)
  }

  test("winnowing guarantees a shared fingerprint for a long shared run") {
    // two docs share a 7-token run (≥ w+k-1 = 6) inside different noise
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      doc(1L, s"one two three $shared x y z"),
      doc(2L, s"p q r s t $shared u v")
    ).toDF("doc_id", "source", "text")
    val fps = QualityRules.winnowFingerprints(docs, w = 4).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, v) => k -> v.map(_.getAs[String]("fp")).toSet }
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }

  test("winnowing selects at most one fingerprint per window and dedups") {
    val docs = Seq(doc(1L, (1 to 20).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val n = QualityRules.winnowFingerprints(docs, w = 4).count()
    // 18 shingles, 15 windows → ≤ 15 selected, ≥ ceil(15 / w) distinct
    assert(n <= 15 && n >= 4)
  }

  test("winnowing drops docs below w + 2 tokens") {
    val docs = Seq(doc(1L, "a b c d e"), doc(2L, "a b c d e f"))
      .toDF("doc_id", "source", "text")
    val ids = QualityRules.winnowFingerprints(docs, w = 4).select("doc_id")
      .distinct().as[Long].collect().toSet
    assert(ids == Set(2L))
  }

  test("KMV estimate is exact below k and within sketch error above") {
    // source A: 5 distinct shingles < k=8 → exact; source B: 200 distinct
    val fixed = Seq((1L, "A", "a b c d e f g")).toDF("doc_id", "source", "text")
      .union((0 until 100).map(i =>
        (10L + i, "B", s"w${2 * i} w${2 * i + 1} w${2 * i + 2} w${2 * i + 3}"))
        .toDF("doc_id", "source", "text"))
    val out = QualityRules.kmvDistinct(fixed, k = 8).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct"))).toMap
    assert(out("A")._1 == 5L && out("A")._2 == 5.0)
    val (nB, estB) = out("B")
    assert(nB == 200L)
    // k=8 KMV has relative error ~1/sqrt(k-2) ≈ 40%; allow 3σ
    assert(estB > 40.0 && estB < 600.0, s"estimate $estB implausible for 200")
  }

  test("count-min estimates are one-sided and exact without collisions") {
    // 3-term vocabulary into a 1024-wide sketch: collisions are
    // md5-determined and absent here, so every estimate is exact;
    // the one-sided invariant (est >= exact) must hold regardless
    val docs = Seq(
      doc(1L, "aa aa aa bb"),
      doc(2L, "aa bb cc")
    ).toDF("doc_id", "source", "text")
    val out = QualityRules.cmsHeavyHitters(docs, width = 1024, depth = 4, k = 10)
      .collect()
      .map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("tf"), r.getAs[Long]("tf_est"), r.getAs[Long]("overcount")))
    assert(out.map(_._1).toSeq == Seq("aa", "bb", "cc")) // tf desc, term asc
    out.foreach { case (t, (tf, est, over)) =>
      assert(est >= tf, s"$t estimate $est below exact $tf")
      assert(over == est - tf)
    }
    assert(out.toMap.apply("aa")._1 == 4L)
    // narrow sketch: force collisions, the invariant must still hold
    val tight = QualityRules.cmsHeavyHitters(docs, width = 2, depth = 2, k = 10)
      .collect()
    tight.foreach(r =>
      assert(r.getAs[Long]("tf_est") >= r.getAs[Long]("tf")))
  }

  test("KMV set ops are EXACT below k and consistent with the sketches") {
    // two sources sharing exactly one distinct 3-gram vocabulary doc:
    // below k=64 the merged sketch is the full union, so est_union and
    // est_inter must be the exact distinct-shingle counts
    val shared = "alpha beta gamma delta epsilon"           // 3 shingles
    val onlyA = "one two three four"                        // 2 shingles
    val onlyB = "five six seven eight nine"                 // 3 shingles
    val docs = Seq(
      (1L, "A", shared), (2L, "A", onlyA),
      (3L, "B", shared), (4L, "B", onlyB)
    ).toDF("doc_id", "source", "text")
    val out = QualityRules.kmvSetOps(docs, k = 64).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[String]("src_a"), r.getAs[String]("src_b")) == (("A", "B")))
    assert(r.getAs[Long]("k_eff") == 8L)       // |A∪B| = 3+2+3
    assert(r.getAs[Long]("n_both") == 3L)      // the shared doc's shingles
    assert(r.getAs[Double]("est_union") == 8.0)
    assert(r.getAs[Double]("est_inter") == 3.0)
  }

  test("simhash near stats finds planted one-bit neighbors symmetrically") {
    // identical docs have hamming 0; also distinct docs count each other
    val docs = Seq(
      doc(1L, "alpha beta gamma delta"),
      doc(2L, "alpha beta gamma delta"),
      doc(3L, "completely different words here entirely")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.simhashNearStats(docs, maxHam = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_near"), r.getAs[Long]("min_near_id"))).toMap
    assert(out.get(1L).exists { case (n, m) => n >= 1 && m == 2L })
    assert(out.get(2L).exists { case (n, m) => n >= 1 && m == 1L })
  }

  test("simhash near stats candidate set is lossless for hamming <= 3") {
    // brute-force cross-check on a small corpus: every pair within
    // hamming 2 found by banding must equal the exhaustive answer
    val docs = (1 to 40).map(i =>
      doc(i.toLong, (1 to 10).map(j => s"tok${(i * 7 + j) % 13}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    import org.apache.spark.sql.functions._
    val sigs = docs.select(col("doc_id"),
      conv(Dedup.simhash16(split(col("text"), " ")), 2, 10).cast("long").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia != ib && java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (ia, ib)).groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val banded = Dedup.simhashNearStats(docs, maxHam = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_near")).toMap
    assert(banded == brute)
  }

  test("wide simhash banding stays lossless at any width/band split") {
    // the same brute-force cross-check at 48 bits / 4 bands — the
    // scale parameterization must not change which pairs are found
    import org.apache.spark.sql.functions._
    val docs = (1 to 40).map(i =>
      doc(i.toLong, (1 to 10).map(j => s"tok${(i * 7 + j) % 13}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val sigs = docs.select(col("doc_id"),
      conv(Dedup.simhashBitsStr(split(col("text"), " "), 48), 2, 10).cast("long").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sigs.forall(_._2 >= 0L), "48-bit signature must stay a positive long")
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia != ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val banded = Dedup.simhashNearStats(docs, maxHam = 3, sigBits = 48, bands = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_near")).toMap
    assert(banded == brute)
  }

  test("wide simhash widens bands, not semantics: 16-bit prefix agrees") {
    // bits 1..16 of the 48-bit signature come from the same md5 stream
    // as simhash16 — the wide signature's top 16 bits must equal it
    import org.apache.spark.sql.functions._
    val docs = (1 to 10).map(i =>
      doc(i.toLong, (1 to 8).map(j => s"w${(i + j) % 5}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val both = docs.select(
      conv(Dedup.simhash16(split(col("text"), " ")), 2, 10).cast("long").as("s16"),
      conv(Dedup.simhashBitsStr(split(col("text"), " "), 48), 2, 10).cast("long").as("s48"))
      .collect()
    both.foreach { r =>
      assert((r.getLong(1) >> 32) == r.getLong(0))
    }
  }

  test("native graft_simhash equals the builtin bit-string path exactly") {
    import org.apache.spark.sql.functions._
    graft.plans.Functions.register(spark)
    val docs = (Seq("", "one", "a b", "alpha beta gamma  double space") ++
      (1 to 30).map(i => (1 to 12).map(j => s"w${(i * 3 + j) % 9}").mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (bits <- Seq(16, 48)) {
      val mismatches = docs.select(
        call_function("graft_simhash", col("text"), lit(bits)).as("fast"),
        conv(Dedup.simhashBitsStr(split(col("text"), " "), bits), 2, 10)
          .cast("long").as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(mismatches == 0L, s"native/builtin simhash diverged at $bits bits")
    }
  }

  test("simhash near stats on dup families: exact n_near AND min_near_id vs brute force") {
    // r17 distinct-sig collapse: the band join runs on |distinct sigs|,
    // with per-family (count, min, second-min) reconstructing each
    // doc's neighborhood. Families of size 3, 2, 1 (+ filler) pin both
    // outputs — especially min_near_id for the family MINIMUM, whose
    // smallest same-sig neighbor is the family's second-min (the m2
    // path), and for non-minimum members (the m1 path).
    import org.apache.spark.sql.functions._
    val famA = Seq(5L, 2L, 9L).map(i => doc(i, "alpha beta gamma delta"))
    val famB = Seq(7L, 4L).map(i => doc(i, "totally different words over here"))
    val filler = (20 to 40).map(i =>
      doc(i.toLong, (1 to 10).map(j => s"tok${(i * 7 + j) % 13}").mkString(" ")))
    val docs = (famA ++ famB ++ filler).toDF("doc_id", "source", "text")
    val sigs = docs.select(col("doc_id"),
      conv(Dedup.simhash16(split(col("text"), " ")), 2, 10).cast("long").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia != ib && java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (ia, ib)).groupBy(_._1)
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._2).min) }
    val banded = Dedup.simhashNearStats(docs, maxHam = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_near"), r.getAs[Long]("min_near_id"))).toMap
    assert(banded == brute)
    // the families themselves must be present with their same-sig terms
    assert(banded(2L)._1 >= 2 && banded(2L)._2 == 5L, "family-min m2 path drifted")
    assert(banded(5L)._2 == 2L && banded(9L)._2 == 2L, "non-min m1 path drifted")
  }

  test("simhashNearStats rejects band splits pigeonhole cannot cover") {
    val docs = Seq(doc(1L, "a b c")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearStats(docs, maxHam = 4, sigBits = 16, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearStats(docs, maxHam = 2, sigBits = 20, bands = 3)
    }
  }
}
