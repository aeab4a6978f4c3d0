package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive-Bayes text classifier — train + inference in one
  * composed plan. This is the deterministic stand-in for the
  * fastText-style linear quality/domain classifier every large corpus
  * pipeline runs (CCNet, LLaMA data prep): label = `source`, features =
  * whitespace tokens, Laplace(+1) smoothing.
  *
  * Cross-engine exactness (the repo's ln-lattice playbook): every
  * probability is a double division of exact BIGINT counts, snapped to
  * the 1e-5 ln lattice as an integer; per-(doc, class) totals are exact
  * BIGINT sums of lattice units; argmax is a deterministic
  * (total asc, class asc) window rank — hash-exact vs the same CTEs in
  * any engine.
  *
  * Scale shape (r14, class-vectorized likelihood): the per-doc class
  * enumeration is algebraically split as
  *   like_nll(doc, cls) = totn(doc)·base(cls)
  *                      + Σ_{term ∈ doc ∩ vocab(cls)} n·(tokNll − base)
  * where base(cls) is the absent-term (tf = 0) lattice NLL — exact on
  * the integer lattice, since totn = Σ n and absent terms contribute
  * n·base each. The corrections pivot to ONE k-vector per term, so
  * inference is a single term-keyed join (the vector table broadcasts
  * while it fits; AQE shuffles on term past that) feeding ONE wide
  * per-doc aggregation — |docs| shuffled rows of k+1 longs after
  * map-side combine. The previous dense form materialized |doc-vocab|·k
  * rows through a (doc, cls) aggregation and then paid a row_number
  * window (a second shuffle + sort) for the argmax; here the argmin is
  * an array projection (first-occurrence min ⇒ the same
  * (total asc, cls asc) tie-break). Measured at sf1, bit-identical
  * outputs: closed-fixture corpus 4.4 → 1.7 s steady, open-vocab
  * 50k-type corpus 9.4 → 3.4 s. Train = two token-keyed aggregations
  * off ONE cached token table (per-class term counts shuffle ≤
  * |vocab|·k rows after map-side combine); class totals and vocab size
  * derive from the cached term-count table, never a corpus re-scan.
  * Driver state is k rows of class stats (base, prior) riding the plan
  * as literals — bounded by the 1..1000-class guard.
  */
object Classifier {

  /** Train on (textCol, classCol) and score every row; output
    * (ORDERED by idCol): doc_id, actual, predicted, nll_units
    * (winner's total lattice NLL incl. prior), correct (0/1).
    *
    * Contract (r15, from the r14 ADVICE): `classCol` is CAST TO STRING
    * — `actual`/`predicted` are string columns and the argmin tie-break
    * is lexicographic on the cast value (a numeric label column orders
    * "10" < "2"); callers with non-string labels that need native
    * ordering must pre-format the column. Construction is EAGER: the
    * k-row class-stats collect runs Spark jobs when this method is
    * CALLED, not at the first action on the result. An empty corpus
    * returns an empty frame with the output schema.
    */
  def nbTrainScore(docs: DataFrame, textCol: String = "text",
                   classCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    // one explode, cached: dt / tfc / per-doc totals all read it
    val tok = CachePool.track(docs.select(col(idCol).as("doc"),
      col(classCol).cast("string").as("cls"),
      explode(split(col(textCol), " ")).as("term")))

    // per-doc distinct-term counts: inference joins |doc-vocab| rows, not occurrences
    val dt = tok.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("n"))
    // class-conditional term counts, cached: class totals, vocab size
    // and the correction deltas all derive from it (never a re-scan)
    val tfc = CachePool.track(
      tok.groupBy(col("cls"), col("term")).agg(count(lit(1)).as("tf")))
    val cstat = tfc.groupBy(col("cls")).agg(sum(col("tf")).as("t_c"))
    val vocabn = tfc.select(col("term")).distinct().agg(count(lit(1)).as("v"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val prior = docs.groupBy(col(classCol).cast("string").as("cls"))
      .agg(count(lit(1)).as("n_c"))
      .crossJoin(broadcast(nDocs))
      .select(col("cls"),
        round(-log(col("n_c").cast("double") / col("n_docs").cast("double")) * lit(100000.0))
          .cast("long").as("prior_nll"))

    // base(cls) = the absent-term (tf = 0) lattice NLL — the identical
    // double expression shape the dense form evaluated through its
    // left join's coalesce(tf,0)+1 = 1.0 numerator, so every lattice
    // unit matches the previous (and the oracle's) values bit for bit
    val baseCls = cstat.crossJoin(vocabn)
      .select(col("cls"), col("t_c"), col("v"),
        round(-log(lit(1L).cast("double") / (col("t_c") + col("v")).cast("double")) *
          lit(100000.0)).cast("long").as("base_nll"))

    // driver-bounded class stats (k rows, cls-ascending — the argmin
    // tie-break order): base and prior ride the plan as literals
    val stats = baseCls.join(prior, Seq("cls")).orderBy(col("cls"))
      .select(col("cls"), col("base_nll"), col("prior_nll")).collect()
    val classes = stats.map(_.getString(0))
    val k = classes.length
    // zero classes ⇒ the empty output frame (the lazy pre-r14
    // behavior) instead of tripping the class-count guard. This fires
    // for an empty corpus AND for a corpus whose textCol yields no
    // tokens anywhere (all NULL/empty): docs contributing no tokens
    // are excluded from the output corpus-wide — they have no dt rows,
    // so the perDoc inner join drops them on the normal path too; this
    // branch is just that contract's total case (r15 advice).
    if (k == 0)
      return docs.select(col(idCol),
        col(classCol).cast("string").as("actual"),
        col(classCol).cast("string").as("predicted"),
        lit(0L).as("nll_units"), lit(0L).as("correct")).limit(0)
    require(k <= 1000, s"class-vectorized NB supports 1..1000 classes, got $k")
    val baseArr = stats.map(_.getLong(1))
    val priorArr = stats.map(_.getLong(2))

    // per-(cls, term) correction vs base — only pairs that EXIST in the
    // class vocabulary carry a row — pivoted to ONE k-vector per term
    // (absent classes contribute 0 = n·base, folded into totn·base)
    val delta = tfc.join(broadcast(baseCls), Seq("cls"))
      .select(col("cls"), col("term"),
        (round(-log((col("tf") + lit(1L)).cast("double") /
            (col("t_c") + col("v")).cast("double")) * lit(100000.0)).cast("long")
          - col("base_nll")).as("delta_nll"))
    val clsLits = array(classes.map(lit(_)): _*)
    val dvec = delta.groupBy(col("term"))
      .agg(map_from_entries(collect_list(struct(col("cls"), col("delta_nll")))).as("dm"))
      .select(col("term"),
        transform(clsLits, c => coalesce(element_at(col("dm"), c), lit(0L))).as("dvec"))

    // ONE wide per-doc aggregation: totn plus k correction sums —
    // shuffles |docs| rows of k+1 longs (map-side combined), instead of
    // the dense form's |doc-vocab|·k-row (doc, cls) aggregation PLUS a
    // row_number window (a second shuffle + sort). Every dt term exists
    // in tfc (it came from the same corpus), so the inner join drops
    // nothing.
    val aggCols = (sum(col("n")).as("totn") +:
      (0 until k).map(i => sum(col("n") * element_at(col("dvec"), i + 1)).as(s"c$i")))
    val perDoc = dt.join(dvec, Seq("term"))
      .groupBy(col("doc"))
      .agg(aggCols.head, aggCols.tail: _*)

    // totals per class as an array projection; argmin = array_position
    // of the min (first occurrence ⇒ the cls-ascending tie-break)
    val totArr = array((0 until k).map(i =>
      col("totn") * lit(baseArr(i)) + col(s"c$i") + lit(priorArr(i))): _*)
    val best = perDoc
      .select(col("doc").as(idCol), totArr.as("tots"))
      .select(col(idCol),
        element_at(clsLits,
          array_position(col("tots"), array_min(col("tots"))).cast("int")).as("predicted"),
        array_min(col("tots")).as("nll_units"))

    docs.select(col(idCol), col(classCol).cast("string").as("actual"))
      .join(best, Seq(idCol))
      .select(col(idCol), col("actual"), col("predicted"), col("nll_units"),
        when(col("actual") === col("predicted"), lit(1L)).otherwise(lit(0L)).as("correct"))
      .orderBy(idCol)
  }

  /** Gate-distillation feature row per document — the five integer
    * statistics the [[QualityRules.gopherFlags]] gate thresholds, as
    * BIGINT features (permille/deci ratios via integer division, so
    * every value is engine-exact), plus the ±1 training label `y` =
    * the gate's own verdict. This is the standard corpus-pipeline move
    * of distilling a hand-written quality gate into a linear model
    * that generalizes past the hard thresholds (fastText-style quality
    * classifiers in CCNet/LLaMA data prep are trained exactly this
    * way, from rule- or source-labeled seeds).
    *
    * Output: doc_id, x1 (token count), x2 (distinct-token permille),
    * x3 (distinct stopwords), x4 (mean word length ×10), x5 (1-char
    * token permille), y (±1).
    */
  def gateFeatures(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val t = split(col(textCol), " ")
    docs.select(col(idCol),
        size(t).cast("long").as("n"),
        (length(col(textCol)) - (size(t) - 1)).cast("long").as("sumw"),
        size(array_distinct(t)).cast("long").as("uniq"),
        size(filter(t, x => length(x) <= 1)).cast("long").as("nshort"),
        size(array_intersect(array_distinct(t),
          typedLit(graft.functions.TextAnalysis.stopwords("en")))).cast("long").as("nstop"))
      .select(col(idCol),
        col("n").as("x1"),
        expr("(uniq * 1000) div n").as("x2"),
        col("nstop").as("x3"),
        expr("(sumw * 10) div n").as("x4"),
        expr("(nshort * 1000) div n").as("x5"),
        when(expr(
          """n >= 30 AND n <= 1000 AND sumw >= n * 4 AND sumw <= n * 10
            |AND (n - uniq) * 10 <= n * 6 AND nstop >= 2
            |AND nshort * 20 <= n * 3""".stripMargin),
          lit(1L)).otherwise(lit(-1L)).as("y"))
  }

  /** Full-batch perceptron distillation of the quality gate: `iters`
    * rounds of w ← w + Σ_misclassified y·x over [[gateFeatures]].
    * Weights and updates are exact BIGINT sums (order-independent, so
    * hash-exact across engines and partitionings — no learning-rate
    * float anywhere), and each round is ONE map-side-combined
    * aggregation over the persisted feature table with the current
    * weights folded in as literals: the classic distributed full-batch
    * linear-model shape (k·iters driver round-trips, never a
    * per-example loop). At 100 TB each round is a single scan +
    * 7-column partial agg.
    *
    * Output: one row per iteration — it, n_err (misclassified count
    * under the PRE-update weights; iteration 1 counts everything since
    * w=0 gives margin 0), then the post-update w1..w5, b — ordered by
    * it.
    */
  def perceptronDistill(docs: DataFrame, iters: Int = 5, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = CachePool.track(gateFeatures(docs, textCol, idCol))
    val (_, _, hist) = trainLoop(feats, iters)
    hist.toDF("it", "n_err", "w1", "w2", "w3", "w4", "w5", "b").orderBy("it")
  }

  private val xs = Array("x1", "x2", "x3", "x4", "x5")

  private def marginCol(w: Array[Long], b: Long): org.apache.spark.sql.Column =
    col("y") * (xs.zip(w).map { case (x, wi) => col(x) * lit(wi) }.reduce(_ + _) + lit(b))

  /** The iteration loop shared by training and scoring: one 7-column
    * exact-integer aggregation per round over the persisted features.
    */
  private def trainLoop(feats: DataFrame, iters: Int)
      : (Array[Long], Long, Seq[(Long, Long, Long, Long, Long, Long, Long, Long)]) = {
    val w = Array.fill(5)(0L)
    var b = 0L
    val hist = Seq.newBuilder[(Long, Long, Long, Long, Long, Long, Long, Long)]
    for (it <- 1 to iters) {
      val errCond = marginCol(w, b) <= 0
      val aggs =
        coalesce(sum(when(errCond, lit(1L)).otherwise(lit(0L))), lit(0L)).as("n_err") +:
          xs.map(x => coalesce(sum(when(errCond, col("y") * col(x))), lit(0L)).as(s"d_$x")) :+
          coalesce(sum(when(errCond, col("y"))), lit(0L)).as("d_b")
      val row = feats.agg(aggs.head, aggs.tail: _*).head()
      val nErr = row.getLong(0)
      for (i <- 0 until 5) w(i) += row.getLong(i + 1)
      b += row.getLong(6)
      hist += ((it.toLong, nErr, w(0), w(1), w(2), w(3), w(4), b))
    }
    (w, b, hist.result())
  }

  /** Inference with the trained weights: every document scored against
    * the final iteration's hyperplane — pred = +1 iff w·x + b > 0 on
    * the TRUE margin (y cancels out of [[marginCol]] by multiplying
    * back). One stateless per-row pass; at 100 TB this is the deployed
    * quality-filter shape (weights broadcast as plan literals).
    * Output: doc_id, y, pred, correct — ordered by doc_id.
    */
  def perceptronScore(docs: DataFrame, iters: Int = 5, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val feats = CachePool.track(gateFeatures(docs, textCol, idCol))
    val (w, b, _) = trainLoop(feats, iters)
    // y ∈ {−1, +1}, so y·margin(y=…) = raw score w·x + b
    val raw = col("y") * marginCol(w, b)
    feats.select(col(idCol), col("y"),
        when(raw > 0, lit(1L)).otherwise(lit(-1L)).as("pred"))
      .withColumn("correct",
        when(col("y") === col("pred"), lit(1L)).otherwise(lit(0L)))
      .orderBy(idCol)
  }

  /** Raw decision-function values for ranking-quality evaluation
    * (AUC / PR curves): (id, y, score = w·x + b) with the final
    * iteration's weights folded in as plan literals — the same
    * stateless per-row pass as [[perceptronScore]] but keeping the
    * exact BIGINT margin instead of its sign.
    */
  def perceptronRaw(docs: DataFrame, iters: Int = 5, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val feats = CachePool.track(gateFeatures(docs, textCol, idCol))
    val (w, b, _) = trainLoop(feats, iters)
    feats.select(col(idCol), col("y"), (col("y") * marginCol(w, b)).as("score"))
  }
}
