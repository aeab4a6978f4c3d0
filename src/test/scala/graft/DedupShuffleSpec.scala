package graft

import graft.queries.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Shuffle-volume pins for the two heaviest shuffles without a volume
  * spec (r9 verdict #8), in the PyramidSkewSpec style: execute, then
  * assert on the exchanges' `shuffleRecordsWritten` metrics at N and
  * 10×N.
  *
  *  - dedup gate build ([[graft.sources.DedupIndex]]'s live-sigkey
  *    projection): the distinct must be map-side combined, so its
  *    exchange carries ≤ distinct-keys × partitions rows — duplicating
  *    every doc 10× must NOT inflate it;
  *  - basket pair join ([[Relational.basketPairCounts]]): the self-join
  *    shuffles each basket row once per side (linear in |baskets|,
  *    never the quadratic pair count), and the pair-count aggregation
  *    above it is partial-aggregated to ≤ brand-pairs × partitions.
  */
class DedupShuffleSpec extends SparkSpec {

  // AQE off so the raw exchanges and their metrics are visible
  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // function registrations are per-session; the dedup path needs the
    // native shingle/bloom expressions
    graft.plans.Functions.register(s)
    s
  }

  private def exchangesOf(df: DataFrame): Seq[ShuffleExchangeLike] = {
    df.collect()
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }
  }

  private def written(e: ShuffleExchangeLike): Long =
    e.metrics("shuffleRecordsWritten").value

  test("gate-build distinct shuffles distinct keys, not stored sigkey rows") {
    import noAqe.implicits._
    val parts = 8
    val distinctDocs = 400

    def buildIndex(copies: Int): String = {
      // `copies` docs per distinct text — distinct key set constant
      val docs = (0 until distinctDocs * copies)
        .map(i => (i.toLong, s"alpha beta gamma delta text${i % distinctDocs} epsilon zeta eta"))
        .toDF("doc_id", "text")
        .repartition(parts)
      val path = java.nio.file.Files.createTempDirectory("gatevol").toString + s"/idx$copies"
      graft.sources.DedupIndex.save(docs, path)
      path
    }

    def gateVolume(path: String): Long = {
      val proj = graft.sources.DedupIndex.gateProjection(noAqe, path)
      val exchanges = exchangesOf(proj)
      assert(exchanges.nonEmpty, "no exchange in the gate projection plan")
      // map-side partial aggregate BELOW the distinct's exchange
      val belowExchange = exchanges.flatMap(_.collect { case a: BaseAggregateExec => a })
      assert(belowExchange.nonEmpty,
        s"no partial aggregate below the distinct exchange:\n${proj.queryExecution.executedPlan}")
      exchanges.map(written).sum
    }

    val vol1 = gateVolume(buildIndex(1))
    val vol10 = gateVolume(buildIndex(10))
    // each partition emits each distinct key at most once
    assert(vol1 <= distinctDocs.toLong * parts,
      s"gate build shuffled $vol1 rows > $distinctDocs keys x $parts partitions")
    assert(vol10 <= distinctDocs.toLong * parts,
      s"10x duplicated corpus inflated the gate shuffle to $vol10")
    info(s"gate-build shuffle: @1x=$vol1 @10x=$vol10 (keys=$distinctDocs, parts=$parts)")
  }

  test("connected-components rounds grow logarithmically with diameter (r11 #7)") {
    import noAqe.implicits._
    // worst case for label propagation: a single path graph, whose
    // diameter IS the node count. Pointer jumping must keep the round
    // count ~log2(diameter): a 10× longer chain may cost only additive
    // extra rounds (log2(10) ≈ 3.3, allow 4 + slack 1), never 10× the
    // rounds. q_dhash_groups' real components are far shallower; this
    // pins the mechanism that keeps them cheap at 10×/100× data.
    // force the distributed loop: these chains are far below the
    // driver-local union-find threshold (r15), and this test pins the
    // LOOP's round growth, not the fast path
    noAqe.conf.set(graft.operators.Dedup.LocalCcEdgesConf, "0")
    def rounds(n: Int): Int = {
      val pairs = (0L until n.toLong - 1)
        .map(i => (i, i + 1)).toDF("id_a", "id_b")
      val labels = graft.operators.Dedup.nearDupGroups(pairs, maxIter = 30)
      // fixpoint reached and correct: every node labeled with the chain min
      assert(labels.agg(max("group_id")).head.getLong(0) == 0L)
      graft.operators.Dedup.lastRounds.get()
    }
    try {
      val r1 = rounds(100)
      val r10 = rounds(1000)
      assert(r10 <= r1 + 5, s"rounds grew super-logarithmically: $r1 -> $r10 at 10x diameter")
      assert(r10 <= 12, s"1000-node chain took $r10 rounds — pointer jumping regressed")
      info(s"CC rounds: diameter 100 -> $r1, diameter 1000 -> $r10")
    } finally noAqe.conf.unset(graft.operators.Dedup.LocalCcEdgesConf)
  }

  test("CC round-plan stats estimates stay bounded across rounds (r15)") {
    import noAqe.implicits._
    // Spark 4's localCheckpoint propagates the pre-checkpoint plan's
    // ESTIMATED stats into the LogicalRDD; before the r15 strip each
    // round's estimate was a product over the previous round's, so the
    // BigInt digit count grew ~5x/round until stats-reading optimizer
    // rules hung the driver multiplying astronomic integers (found at
    // sf2). A 3000-node chain runs enough rounds to expose compounding:
    // post-fix the worst propagated estimate stays ~100 digits.
    noAqe.conf.set(graft.operators.Dedup.LocalCcEdgesConf, "0")
    try {
      val chain = (0L until 3000L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("id_a", "id_b")
      val labels = graft.operators.Dedup.nearDupGroups(chain, maxIter = 30)
      assert(labels.agg(max("group_id")).head.getLong(0) == 0L)
      val rounds = graft.operators.Dedup.lastRounds.get()
      val digits = graft.operators.Dedup.ccStatsDigits.get()
      assert(rounds >= 5, s"chain too shallow to exercise compounding ($rounds rounds)")
      assert(digits <= 200,
        s"round-plan stats estimate grew to $digits digits over $rounds rounds — " +
          "the localCheckpoint stats strip regressed")
      info(s"CC stats digits after $rounds rounds: $digits")
    } finally noAqe.conf.unset(graft.operators.Dedup.LocalCcEdgesConf)
  }

  test("driver-local CC fast path matches the distributed loop exactly") {
    import noAqe.implicits._
    // chains + a clique + self-loops + isolated pair: same labels both ways
    val pairs = ((0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((900L, 901L), (900L, 902L), (901L, 902L), (950L, 950L), (980L, 981L)))
      .toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      graft.operators.Dedup.nearDupGroups(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    assert(graft.operators.Dedup.lastRounds.get() == 0, "expected the local path")
    noAqe.conf.set(graft.operators.Dedup.LocalCcEdgesConf, "0")
    try {
      val dist = run()
      assert(graft.operators.Dedup.lastRounds.get() > 0, "expected the loop")
      assert(local == dist, s"local union-find drifted from the loop: " +
        (local.toSet diff dist.toSet).take(5).toString)
    } finally noAqe.conf.unset(graft.operators.Dedup.LocalCcEdgesConf)
  }

  // r15 verdict item 4 + advice: the local path's collect must be
  // primitive (long pairs, not boxed GenericRows), accept non-long id
  // types, and hand back the INPUT id type so local ≡ distributed
  // schema-exactly.
  test("local CC fast path collects primitives and preserves the id type") {
    import noAqe.implicits._
    val intPairs = Seq((1, 2), (2, 3), (10, 11)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.nearDupGroups(intPairs)
    assert(graft.operators.Dedup.lastRounds.get() == 0, "expected the local path")
    assert(out.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.schema("group_id").dataType == org.apache.spark.sql.types.IntegerType)
    val labels = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(labels == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10), labels.toString)
    // the collected representation itself: two primitive long arrays
    val edges = Seq((7, 9), (9, 7)).toDF("id_a", "id_b")
      .selectExpr("id_a as u", "id_b as v")
    val (us, vs) = graft.operators.Dedup.collectEdgesPrimitive(edges)
    assert(us.getClass == classOf[Array[Long]] && vs.getClass == classOf[Array[Long]])
    assert(us.sorted.toSeq == Seq(7L, 9L) && vs.sorted.toSeq == Seq(7L, 9L))
  }

  test("ngram verify: shingle arrays never shuffle, volume linear in corpus (r12)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types.ArrayType
    // the pair-carried-array verify claims: the corpus-sized shingle
    // table streams map-side (broadcast) — ARRAYS never cross an
    // exchange — and every shuffle carries scalar rows proportional to
    // corpus (freq/prefix stages) or candidates (pair distinct), never
    // a per-pair-per-shingle fanout. Construction: all-unique filler
    // docs (every shingle df=1 → singleton-pruned, zero candidates)
    // plus a CONSTANT planted near-dup set across both scales.
    def shuffles(nFiller: Int): (Long, Boolean) = {
      val filler = (0 until nFiller).map(i =>
        (i.toLong + 1000L, s"u$i v$i w$i x$i y$i z$i q$i"))
      val dups = (0 until 30).flatMap(i => Seq(
        (2L * i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"),
        (2L * i + 1, s"alpha$i beta$i gamma$i delta$i epsilon$i eta$i")))
      val docs = (filler ++ dups).toDF("doc_id", "text").repartition(8)
      val out = graft.operators.Dedup.ngramJaccard(docs, threshold = 0.5)
      assert(out.count() == 30, "planted near-dup pairs drifted")
      def strip(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeLike] =
        p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }.flatMap(strip) ++
          p.collect { case e: ShuffleExchangeLike => e }
      val ex = strip(out.queryExecution.executedPlan)
      assert(ex.nonEmpty, "no exchanges found in the ngram plan")
      val arrayShuffled = ex.exists(_.child.output.exists(_.dataType.isInstanceOf[ArrayType]))
      (ex.map(written).sum, arrayShuffled)
    }
    val (vol1, arr1) = shuffles(2000)
    val (vol10, arr10) = shuffles(20000)
    assert(!arr1 && !arr10, "a shuffle exchange carried shingle arrays — corpus payload crossed the wire")
    // linear + fixed candidate term; 12x allows partial-agg jitter
    assert(vol10 <= vol1 * 12, s"ngram shuffle volume superlinear: $vol1 -> $vol10 at 10x corpus")
    info(s"ngram shuffles: @1x=$vol1 rows @10x=$vol10 rows, arrays never shuffled")
  }

  test("basket pair join shuffles baskets linearly, pair counts partial-aggregated") {
    import noAqe.implicits._
    val brands = 12

    def pairVolumes(nOrders: Int): (Long, Long) = {
      // w = 6 brands per basket → 15 pairs per basket; pair rows = 15·B
      val baskets = (0 until nOrders).flatMap(o =>
        (0 until 6).map(b => (o.toLong, s"B${(o + b) % brands}")))
        .toDF("l_orderkey", "p_brand")
        .repartition(8)
      val pc = Relational.basketPairCounts(baskets)
      val exchanges = exchangesOf(pc)
      assert(exchanges.nonEmpty)
      // split: exchanges feeding the join (below any aggregate) vs the
      // aggregation exchange (has a partial aggregate below it)
      val (aggEx, joinEx) = exchanges.partition(
        _.collect { case a: BaseAggregateExec => a }.nonEmpty)
      assert(aggEx.nonEmpty, "pair-count aggregation exchange not found")
      assert(joinEx.nonEmpty, "join input exchanges not found")
      (joinEx.map(written).sum, aggEx.map(written).sum)
    }

    val base = 2000
    val (join1, agg1) = pairVolumes(base)
    val (join10, agg10) = pairVolumes(base * 10)

    // join inputs: one row per basket row per side — LINEAR in baskets,
    // never the 15·B pair explosion
    assert(join1 <= 2L * base * 6,
      s"join exchanges carried $join1 rows > 2x basket rows (${2 * base * 6})")
    assert(join10 <= 2L * base * 10 * 6,
      s"join exchanges carried $join10 rows at 10x > linear bound")
    assert(join10 <= join1 * 12, s"join shuffle superlinear: $join1 -> $join10")

    // pair-count agg: ≤ distinct brand pairs × partitions, NOT 15·B
    val pairBound = brands.toLong * brands * 8
    assert(agg1 <= pairBound, s"agg exchange carried $agg1 > $pairBound")
    assert(agg10 <= pairBound,
      s"10x baskets inflated the pair-count agg shuffle to $agg10 (> $pairBound)")
    info(s"basket shuffles: join@1x=$join1 join@10x=$join10 agg@1x=$agg1 agg@10x=$agg10")
  }
}
