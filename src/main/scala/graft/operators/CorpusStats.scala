package graft.operators

import graft.plans.Functions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level analysis operators (north-star extension scope): the
  * reporting layer a training-data pipeline runs over a cleaned corpus
  * — cross-source leakage and per-source vocabulary profiles.
  */
object CorpusStats {

  /** Cross-source contamination matrix: for every pair of sources, how
    * many DISTINCT word-3-gram shingles they share — the "is my
    * validation split leaking into train" report generalized to all
    * split pairs at once.
    *
    * Scale shape: the join operand is the deduplicated (source,
    * shingle) set — bounded by sources × vocabulary, NOT corpus size —
    * and the self-join key is the shingle, so each shingle's source
    * list meets only itself (srcs² pairs per shingle, srcs is small).
    * The per-doc explode never shuffles: it collapses map-side into
    * the distinct aggregation.
    *
    * Output: source_a, source_b (a < b), n_shared.
    */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String = "text",
                          sourceCol: String = "source"): DataFrame = {
    // both sides of the self-join read this — pool-persisted, or the
    // explode + distinct aggregation runs twice
    val sh = CachePool.track(docs
      .select(col(sourceCol).as("src"), explode(Dedup.shingles3(col(textCol))).as("shingle"))
      .distinct())
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Exact per-source token-count percentiles — the length-distribution
    * report a data-quality dashboard tracks per split. Percentile p is
    * the DISCRETE order statistic at rank ⌈p·n/100⌉, computed with pure
    * integer arithmetic ((n·p + 99) div 100 — no float ranks), so the
    * result is engine-identical; ties in the sort are harmless because
    * any row at the selected rank carries the same value.
    *
    * Scale shape: one per-source sort (the rank window) and one
    * aggregation — each source's partition sorts independently, no
    * global ordering. Output: source, p25, p50, p90, p99.
    */
  def lengthPercentiles(docs: DataFrame, ps: Seq[Int] = Seq(25, 50, 90, 99),
                        textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val ranked = docs
      .select(col(sourceCol).as("source"),
        size(split(col(textCol), " ")).cast("long").as("nt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("nt"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
    val aggs = ps.map(p =>
      max(when(col("rn") === expr(s"(n * $p + 99) div 100"), col("nt"))).as(s"p$p"))
    ranked.groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  /** Top-`k` terms per source by tf-idf — the per-split vocabulary
    * fingerprint. tf is the term's occurrence count within the source,
    * idf = ln(N / df) over the whole corpus (df = docs containing the
    * term).
    *
    * Cross-engine exactness: tf, df, N are integers; N/df is one
    * correctly-rounded division; ln is the only transcendental and is
    * rounded to the 1e-5 lattice (both engines' libm agree to ≤ 1 ulp,
    * far inside the rounding); the score is then a product of
    * bit-identical doubles. Ties break on the term string.
    *
    * Scale shape: both aggregations key on terms, so shuffle volume is
    * bounded by vocabulary (not corpus) after map-side partial
    * aggregation; the df side deduplicates (doc, term) pairs map-side
    * the same way. The final top-k window partitions by source.
    *
    * Output: source, term, tf, idf, tfidf — k rows per source.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int, textCol: String = "text",
                    sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(sourceCol).as("source"), col(idCol).as("doc"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf = round(log(col("n").cast("double") / col("df")) * lit(100000.0)) / lit(100000.0)
    val w = Window.partitionBy(col("source")).orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("source"), col("term"), col("tf"), idf.as("idf"))
      .withColumn("tfidf", col("tf") * col("idf"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("term"), col("tf"), col("idf"), col("tfidf"))
      .orderBy(col("source"), col("term"))
  }

  /** Corpus-wide vocabulary heavy hitters — the term-frequency head a
    * tokenizer-training run is built from: the top `k` terms by corpus
    * count, with document frequency alongside. All-integer, so
    * engine-exact trivially.
    *
    * Scale shape: both aggregations are term-keyed with map-side
    * partial aggregation, so shuffle volume is bounded by vocabulary
    * (not corpus); the final top-k is a TakeOrderedAndProject over the
    * vocabulary table. Output: term, tf, df — k rows, ordered by
    * (tf desc, term).
    */
  /** Per-source KL divergence from the corpus unigram distribution —
    * dataset cartography for mixture design (which slices are
    * "typical", which are domain outliers; the same D(p_s ‖ p_corpus)
    * lens DoReMi-style mixture tuning and CCNet-style filtering reason
    * with — public knowledge: Xie et al., "DoReMi", 2023; Wenzek et
    * al., "CCNet", 2020). KL(s) = Σ_t p_s(t) · ln(p_s(t)/p_g(t)),
    * summed over the source's own terms (p_s(t) > 0, and every source
    * term exists globally, so the sum is always defined).
    *
    * Cross-engine exactness: both probabilities are correctly-rounded
    * double divisions of exact integer counts; the ln of their ratio is
    * snapped per TERM to the 1e-5 lattice and weighted by the exact
    * integer tf_s, so per-source totals are exact BIGINT sums; the
    * final normalization is one double division snapped to 1e-6.
    *
    * Scale shape: one (source, term)-keyed count (map-side combined,
    * bounded by sources × vocabulary), a term-keyed rollup of that SAME
    * aggregate for the global counts (never a corpus re-scan), one
    * term-keyed equi-join between the two vocab-bounded tables, and a
    * source-keyed final sum. The corpus streams exactly once.
    *
    * Output: source, n_tokens, n_terms, kl_unit_total (Σ tf_s·lattice
    * units), kl_nats (1e-6) — ordered by source.
    */
  def sourceKl(docs: DataFrame, textCol: String = "text",
               sourceCol: String = "source"): DataFrame = {
    // the one corpus-scale aggregate; global counts derive from it
    val st = CachePool.track(docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf_s")))
    val totS = st.groupBy(col("source")).agg(sum(col("tf_s")).as("t_s"))
    val g = st.groupBy(col("term")).agg(sum(col("tf_s")).as("tf_g"))
    val totG = g.agg(sum(col("tf_g")).as("t_g"))
    val ratio = (col("tf_s").cast("double") / col("t_s")) /
      (col("tf_g").cast("double") / col("t_g"))
    val klUnit = round(log(ratio) * lit(100000.0)).cast("long")
    st.join(g, "term")
      .join(totS, "source")
      .crossJoin(broadcast(totG))
      .groupBy(col("source"))
      .agg(sum(col("tf_s")).as("n_tokens"), count(lit(1)).as("n_terms"),
        sum(col("tf_s") * klUnit).as("kl_unit_total"))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("kl_unit_total"),
        (round(col("kl_unit_total").cast("double") / col("n_tokens")
          / lit(100000.0) * lit(1000000.0)) / lit(1000000.0)).as("kl_nats"))
      .orderBy("source")
  }

  /** Per-source vocabulary profile — the lexical-richness signal next
    * to [[sourceKl]]'s distributional one: token/type counts, hapax
    * legomena (terms occurring ONCE within the source — the Heaps'-law
    * tail that dominates tokenizer OOV behavior), type-token ratio and
    * hapax share, plus each source's share of corpus-wide hapaxes.
    *
    * All-integer except the two ppm ratios (single divisions of exact
    * counts, snapped to the integer ppm lattice) — engine-exact.
    *
    * Scale shape: the same ONE (source, term) corpus pass as
    * [[sourceKl]]; everything else is rollups of it. Corpus-wide term
    * totals come from a term-keyed rollup joined back term-keyed
    * (broadcast while the vocabulary fits).
    *
    * Output: source, n_tokens, n_terms, n_hapax (within-source),
    * n_global_hapax (source's terms that are corpus-wide hapaxes),
    * ttr_ppm, hapax_ppm — ordered by source.
    */
  def vocabProfile(docs: DataFrame, textCol: String = "text",
                   sourceCol: String = "source"): DataFrame = {
    val st = CachePool.track(docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf_s")))
    val g = st.groupBy(col("term")).agg(sum(col("tf_s")).as("tf_g"))
    st.join(g, "term")
      .groupBy(col("source"))
      .agg(sum(col("tf_s")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        count(when(col("tf_s") === 1, 1)).as("n_hapax"),
        count(when(col("tf_g") === 1, 1)).as("n_global_hapax"))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("n_hapax"),
        col("n_global_hapax"),
        round(col("n_terms").cast("double") / col("n_tokens") * lit(1000000.0))
          .cast("long").as("ttr_ppm"),
        round(col("n_hapax").cast("double") / col("n_terms") * lit(1000000.0))
          .cast("long").as("hapax_ppm"))
      .orderBy("source")
  }

  /** Distinct-n diversity profile per source (public knowledge: the
    * distinct-1/distinct-2 diversity metric of Li et al., "A
    * Diversity-Promoting Objective Function for Neural Conversation
    * Models", NAACL 2016, applied corpus-side): for n = 1..maxN, the
    * number of DISTINCT word n-grams over the total n-gram count — low
    * ratios flag template/boilerplate-heavy sources before they are
    * oversampled into a training mix.
    *
    * Scale shape: totals are per-row length arithmetic collapsing into
    * one tiny per-source aggregate (map-side combine, no explode); the
    * distinct counts explode each doc's per-doc-distinct shingle set
    * (the fused [[graft.plans.WordShingles]] pass) and aggregate by
    * (source, n, gram) — the shuffle is bounded by source × n-gram
    * vocabulary, not corpus size. One join of two source×n-sized sides.
    *
    * Output: source, n, total_grams, distinct_grams, distinct_ppm.
    */
  def distinctNgrams(docs: DataFrame, maxN: Int = 3, textCol: String = "text",
                     sourceCol: String = "source"): DataFrame = {
    val len = size(split(col(textCol), " ")).cast("long")
    // totals: Σ max(len − n + 1, 0) per source, one wide agg then melted
    // to (source, n) rows — zero explode on the corpus-sized side
    val totalCols = (1 to maxN).map(n =>
      sum(greatest(len - lit(n - 1), lit(0L))).as(s"t$n"))
    val totals = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(totalCols.head, totalCols.tail: _*)
      .select(col("source"), explode(array((1 to maxN).map(n =>
        struct(lit(n).cast("long").as("n"), col(s"t$n").as("total_grams"))): _*)).as("x"))
      .select(col("source"), col("x.n"), col("x.total_grams"))
    // distincts: per-doc-distinct shingles for each n, tagged and
    // exploded once, then a global distinct count per (source, n)
    val grams = docs.select(col(sourceCol).as("source"),
        explode(concat((1 to maxN).map(n =>
          transform(Functions.call("graft_shingles", col(textCol), lit(n)),
            g => struct(lit(n).cast("long").as("n"), g.as("g")))): _*)).as("x"))
      .groupBy(col("source"), col("x.n").as("n"))
      .agg(countDistinct(col("x.g")).as("distinct_grams"))
    totals.join(grams, Seq("source", "n"), "left")
      .select(col("source"), col("n"), col("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        when(col("total_grams") === 0L, lit(0L))
          .otherwise(round(coalesce(col("distinct_grams"), lit(0L)).cast("double")
            / col("total_grams") * lit(1000000.0)).cast("long")).as("distinct_ppm"))
      .orderBy("source", "n")
  }

  def vocabTop(docs: DataFrame, k: Int, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
      explode(split(col(textCol), " ")).as("term"))
    // one term-keyed aggregation carries both stats: countDistinct(doc)
    // absorbs the (doc, term) multiplicity without a separate distinct
    tok.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)
  }

  /** Collocation mining: adjacent-token pairs ranked by the Dice
    * association score, dice = 2·c(ab)/(c(a)+c(b)) — the classic
    * lexicographic collocation measure (Smadja 1993), chosen over
    * PMI/lift because it is computable on an exact integer-ppm lattice
    * at ANY corpus size (PMI's c(ab)·N² numerator overflows 64 bits
    * around 10⁹ tokens; Dice's 2·10⁶·c(ab) cannot). Raw counts ride
    * along so a log-space PMI can be derived downstream if wanted.
    *
    * Scale shape: bigrams come from a per-document transform (no
    * window, no shuffle); both count tables are map-side-combined
    * aggregations; the unigram join back is vocabulary-sized (AQE
    * broadcasts it when Zipf makes it small enough); minCount prunes
    * the long tail BEFORE the join; top-k is TakeOrderedAndProject.
    */
  def collocations(docs: DataFrame, minCount: Int = 5, k: Int = 50,
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(split(col(textCol), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bg = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS a, t[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    bg.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("2 * c_ab * 1000000 div (c_a + c_b)").as("dice_ppm"))
      .orderBy(col("dice_ppm").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Unigram language-model quality score per document — the CCNet-style
    * perplexity proxy (public knowledge: Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * 2020): score each doc by the mean negative log-probability of its
    * tokens under the corpus's own unigram distribution. High avg-NLL =
    * rare-token soup (noise); low = repetitive boilerplate.
    *
    * Cross-engine exactness: p(t) = tf_t / T is one correctly-rounded
    * double division of exact integers; ln is the only transcendental
    * and is snapped to the 1e-5 lattice as an integer
    * (round(−ln(p)·1e5), engines agree to ≤ 1 ulp, far inside the
    * rounding); per-doc totals are then exact BIGINT sums — order-free —
    * and the mean is one exact division.
    *
    * Scale shape: the vocabulary aggregation shuffles ≤ |vocab| rows
    * after map-side combine; the token→vocab equi-join is term-keyed
    * (AQE broadcasts the vocab side while it fits); the per-doc sum
    * collapses map-side. No driver-side state.
    *
    * Output: doc_id, n_tokens, nll_total (Σ lattice units), avg_nll.
    */
  def unigramNll(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
      explode(split(col(textCol), " ")).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("t"))
    val nllUnit = round(-log(col("tf").cast("double") / col("t")) * lit(100000.0))
      .cast("long")
    tok.join(vocab, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(nllUnit).as("nll_total"))
      .withColumn("avg_nll", col("nll_total").cast("double") / col("n_tokens"))
      .orderBy(idCol)
  }

  /** Zipf-law fit of the corpus term-frequency distribution — the
    * corpus-health diagnostic (a healthy natural-language crawl has
    * log-rank/log-frequency slope ≈ −1; spam farms and template soup
    * bend it): ordinary least squares of y = ln(tf) on x = ln(rank),
    * rank = 1-based position by (tf desc, term).
    *
    * Cross-engine exactness: x and y live on the 1e-5 integer ln
    * lattice; all five OLS sums (Σx, Σy, Σxy, Σx², n) accumulate as
    * DECIMAL(38,0) — exact at any corpus size (Σxy terms are ~2e12
    * each; doubles would lose exactness past ~4k terms, BIGINT past
    * ~4M) — and the slope/intercept are fixed-shape double expressions
    * of those exact sums, snapped to ppm.
    *
    * Scale shape: one vocabulary aggregation, one global-rank sort of
    * the VOCABULARY table (not the corpus), one single-partition sum —
    * the same cost class as [[vocabTop]]. Output: one row — n_terms,
    * slope_ppm, intercept_ppm.
    */
  def zipfFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("term"))
    val dec = "decimal(38,0)"
    val lattice = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        round(log(col("rank").cast("double")) * lit(100000.0)).cast("long").as("x"),
        round(log(col("tf").cast("double")) * lit(100000.0)).cast("long").as("y"))
    val sums = lattice.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"))
    // lattice units cancel in the slope; intercept comes back to ln units
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val intercept = (col("sy").cast("double") - col("slope_raw") * col("sx").cast("double")) /
      col("n").cast("double") / lit(100000.0)
    sums
      .withColumn("slope_raw", slope)
      .withColumn("intercept_raw", intercept)
      .select(col("n").cast("long").as("n_terms"),
        round(col("slope_raw") * lit(1000000.0)).cast("long").as("slope_ppm"),
        round(col("intercept_raw") * lit(1000000.0)).cast("long").as("intercept_ppm"))
  }

  /** Interpolated bigram-LM fluency score per document — the next step
    * up from [[unigramNll]]: score each token position (from the second
    * token on) by −ln(λ·p(t₂|t₁) + (1−λ)·p(t₂)) under the corpus's own
    * counts. Word-salad documents score high even when their unigram
    * profile looks normal — the bigram term catches broken word ORDER.
    *
    * Cross-engine exactness: p(t₂|t₁) = c(t₁,t₂)/c₁(t₁) and
    * p(t₂) = tf/T are single divisions of exact integers; the λ-mix is
    * one fixed-shape fma-free chain; ln is snapped to the 1e-5 integer
    * lattice, so per-doc totals are exact BIGINT sums.
    *
    * Scale shape: bigrams are built PER ROW (array transform — no
    * window, no doc-keyed sort shuffle) and immediately aggregated to
    * (doc, t1, t2, multiplicity) with map-side combine — the smallest
    * corpus-wide stream this computation admits. Every count table
    * derives from that one cached aggregate (bigram counts and context
    * counts are second-level rollups of it, NOT corpus re-scans), the
    * per-distinct-bigram probability is scored once in a
    * vocabulary-bounded table, and the final join is key-equi against
    * it (AQE broadcasts while it fits) followed by the doc-keyed sum
    * weighted by multiplicity. Output: doc_id, n_bigrams, nll_total,
    * avg_nll — docs with <2 tokens are excluded.
    */
  def bigramNll(docs: DataFrame, lambda: Double = 0.7, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"bad interpolation lambda $lambda")
    val toks = split(col(textCol), " ")
    val tok = docs.select(col(idCol).as("doc"), explode(toks).as("term"))
    val uni = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = uni.agg(sum(col("tf")).as("t"))
    // (doc, bigram, multiplicity): the one corpus-wide aggregate —
    // cached because the count rollups AND the final score join read it
    // graft_bigrams ([[graft.plans.BigramPairs]]) replaces the
    // interpreted transform/element_at lambda chain — same pairs,
    // same order, one compiled call per row, and the emission stage
    // stays in whole-stage codegen (measured as the query's dominant
    // single job at sf0.1: 0.70 s of the 1.9 s steady run)
    val docBi = CachePool.track({
      docs
        .filter(size(toks) >= 2)
        .select(col(idCol).as("doc"),
          explode(Functions.call("graft_bigrams", col(textCol))).as("bg"))
        .groupBy(col("doc"), col("bg.t1").as("t1"), col("bg.term").as("term"))
        .agg(count(lit(1)).as("m"))
    })
    val biCounts = docBi.groupBy(col("t1"), col("term")).agg(sum(col("m")).as("c2"))
    // context counts (bigrams starting with t1), so p(·|t1) sums to 1
    val c1 = biCounts.groupBy(col("t1")).agg(sum(col("c2")).as("c1"))
    val pMix = lit(lambda) * (col("c2").cast("double") / col("c1")) +
      lit(1.0 - lambda) * (col("tf").cast("double") / col("t"))
    val nllUnit = round(-log(pMix) * lit(100000.0)).cast("long")
    // vocabulary-bounded: one nll per DISTINCT bigram, scored once
    val scored = biCounts
      .join(c1, "t1")
      .join(uni, "term")
      .crossJoin(broadcast(total))
      .select(col("t1"), col("term"), nllUnit.as("nll"))
    docBi.join(scored, Seq("t1", "term"))
      .groupBy(col("doc").as(idCol))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("nll")).as("nll_total"))
      .withColumn("avg_nll", col("nll_total").cast("double") / col("n_bigrams"))
      .orderBy(idCol)
  }

  /** Exact phrase search over a positional inverted index: posting
    * lists (doc, position) per phrase slot, aligned to a common start
    * position by integer offset, intersected with (doc, start)
    * equi-joins — the standard positional-index phrase plan.
    *
    * Scale shape: the token stream is filtered to the phrase's terms
    * BEFORE anything shuffles (the same prefilter as [[bm25TopDocs]]) —
    * and the filtered postings are pool-persisted so the corpus scan
    * runs ONCE, not once per phrase slot; each join is then key-equi on
    * (doc, start) over the small cached postings (AQE broadcasts while
    * they fit). All-integer → engine-exact.
    *
    * Output: doc_id, n_matches, first_pos (1-based) — docs containing
    * the phrase at least once, ordered by doc_id.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    // every phrase slot branches off this subtree — cache it or the
    // explode+filter scan executes once per slot (the round-2 lesson)
    val tok = CachePool.track(docs.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(phrase.distinct)))
    val starts = phrase.zipWithIndex.map { case (w, i) =>
      tok.filter(col("term") === w)
        .select(col("doc"), (col("pos") + 1 - i).cast("long").as("start"))
    }
    starts.reduce((a, b) => a.join(b, Seq("doc", "start")))
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
      .orderBy(idCol)
  }

  /** Per-source curriculum phases: docs bucketed into `phases` equal
    * groups by ascending unigram-LM difficulty ([[unigramNll]] — easy,
    * fluent text first), the data-ordering step of curriculum-learning
    * pipelines (public knowledge: Bengio et al., "Curriculum
    * Learning", ICML 2009).
    *
    * Cross-engine exactness: the ordering key is (avg_nll, doc_id) —
    * one exact-integer division per doc and a unique tie-break — and
    * ntile's fill rule (first n mod k buckets take one extra row) is
    * shared by Spark and DuckDB.
    *
    * Scale shape: the ntile window partitions by SOURCE, so each
    * partition sorts independently — no single-partition global window
    * (a global curriculum would range-partition the sort the way
    * `orderBy` does, then take phase boundaries per range).
    *
    * Output: doc_id, source, n_tokens, nll_total, phase — ordered by
    * doc_id.
    */
  def curriculumPhases(docs: DataFrame, phases: Int = 4, textCol: String = "text",
                       idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    require(phases >= 2, s"bad phase count $phases")
    val nll = unigramNll(docs, textCol, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("avg_nll"), col(idCol))
    docs.select(col(idCol), col(sourceCol))
      .join(nll, idCol)
      .withColumn("phase", ntile(phases).over(w).cast("long"))
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("nll_total"), col("phase"))
      .orderBy(idCol)
  }

  /** BM25 document ranking for a bag of query terms (public knowledge:
    * Robertson & Zaragoza, "The Probabilistic Relevance Framework: BM25
    * and Beyond", 2009) — the retrieval scorer a data pipeline uses for
    * targeted corpus search and hard-negative mining.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Cross-engine exactness: tf, df, dl, N are integers; avgdl and every
    * ratio is a correctly-rounded double op applied in an identical
    * association both sides; ln is lattice-rounded (1e-5); each term's
    * score is snapped to integer 1e-6 units so the per-doc Σ is an exact
    * BIGINT sum (double summation order would otherwise differ).
    *
    * Scale shape: the corpus is filtered to query terms BEFORE any
    * shuffle (the per-(doc,term) tf aggregation only sees matching
    * tokens); df/avgdl/N are tiny aggregates broadcast back; the final
    * top-k is a TakeOrderedAndProject. Output: doc_id, score_micro,
    * score — topK rows by (score desc, doc_id).
    */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], topK: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "empty BM25 query")
    val tok = docs.select(col(idCol).as("doc"),
      explode(split(col(textCol), " ")).as("term"))
    // corpus-wide stats: doc length + total/count → avgdl (exact ints)
    val dl = docs.select(col(idCol).as("doc"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("dl_sum"))
    val hit = tok.filter(col("term").isInCollection(queryTerms))
    val tf = hit.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val df = hit.select(col("doc"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // idf on the 1e-5 lattice; the rest is a fixed-shape double chain
    val idf = round(log(lit(1.0) + (col("n").cast("double") - col("df") + lit(0.5))
      / (col("df") + lit(0.5))) * lit(100000.0)) / lit(100000.0)
    val avgdl = col("dl_sum").cast("double") / col("n")
    val tfd = col("tf").cast("double")
    val score = col("idf") * (tfd * lit(k1 + 1.0)
      / (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))))
    tf.join(broadcast(df), "term")
      .join(dl, "doc")
      .crossJoin(broadcast(stats))
      .select(col("doc"), col("term"), col("tf"), col("dl"),
        col("n"), col("dl_sum"), idf.as("idf"))
      .select(col("doc"), round(score * lit(1000000.0)).cast("long").as("sc"))
      .groupBy(col("doc").as(idCol))
      .agg(sum(col("sc")).as("score_micro"))
      .withColumn("score", col("score_micro").cast("double") / lit(1000000.0))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(topK)
  }

  /** Greedy context packing — the RAG assembly step after retrieval:
    * take a ranked candidate list (highest relevance first), admit
    * documents in rank order while the running token total stays within
    * `budget`. The classic prefix-sum formulation: one window
    * running-sum over the ALREADY top-k-bounded ranked list, so the
    * packing cost is O(k) per query regardless of corpus size.
    *
    * `queryCols` partitions the window for the batch multi-query shape
    * (one context per query id, partition-parallel); empty = a single
    * query's context. Ranking order inside a window is
    * (scoreCol desc, idCol) — deterministic under score ties.
    *
    * Output: queryCols…, idCol, rnk (1-based), n_tokens, cum_tokens —
    * only rows that fit the budget, in rank order.
    */
  def packContext(ranked: DataFrame, tokens: DataFrame, budget: Long,
                  queryCols: Seq[String] = Seq.empty,
                  scoreCol: String = "score_micro", idCol: String = "doc_id"): DataFrame = {
    val w0 =
      if (queryCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(queryCols.map(col): _*)
    val ord = w0.orderBy(col(scoreCol).desc, col(idCol))
    ranked.join(tokens, idCol)
      .select((queryCols.map(col) ++ Seq(col(idCol),
        row_number().over(ord).cast("long").as("rnk"),
        col("n_tokens"),
        sum(col("n_tokens"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_tokens"))): _*)
      .filter(col("cum_tokens") <= budget)
      .orderBy(queryCols.map(col) :+ col("rnk"): _*)
  }

  /** Mergeable quantile summary per group + its fidelity eval: the
    * bottom-k-by-hash sample (the KMV device applied to sampling — the
    * k rows with the smallest md5 rank ARE a uniform random sample,
    * deterministic, and the union of two groups' bottom-k sets is the
    * bottom-k of the union, so per-partition summaries merge exactly
    * like every other sketch here) with nearest-rank quantile
    * estimates read off the sorted sample, next to the EXACT
    * nearest-rank quantiles for the error column a pipeline checks
    * before trusting the sketch.
    *
    * Scale shape: the sketch side is one windowed bottom-k (map-side
    * rank pushdown via WindowGroupLimit) + a k-row-per-group
    * aggregation; the exact side is one window pass flagging the two
    * target ranks — no collect of group-sized lists anywhere. At
    * 100 TB only the sketch side would run (the exact side IS the
    * thing being avoided); it rides along here as the eval.
    *
    * Output (ORDERED): group, n_docs, sample_n, p50_est, p90_est,
    * p50_exact, p90_exact.
    */
  def quantileSketch(docs: DataFrame, k: Int = 32, valCol: String = "n_chars",
                     groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(groupCol).as("group"), col(idCol).as("id"),
      col(valCol).cast("long").as("v"), md5(col(idCol).cast("string")).as("h"))
    val bottomK = Window.partitionBy(col("group")).orderBy(col("h"), col("id"))
    val est = base.withColumn("srn", row_number().over(bottomK))
      .filter(col("srn") <= k)
      .groupBy(col("group"))
      .agg(sort_array(collect_list(col("v"))).as("vals"), count(lit(1)).as("m"))
      .select(col("group"), col("m").as("sample_n"),
        element_at(col("vals"), ceil(col("m") * lit(0.5)).cast("int")).as("p50_est"),
        element_at(col("vals"), ceil(col("m") * lit(0.9)).cast("int")).as("p90_est"))
    val byV = Window.partitionBy(col("group")).orderBy(col("v"), col("id"))
    val exact = base
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("group"))))
      .groupBy(col("group"))
      .agg(max(col("n")).as("n_docs"),
        max(when(col("rn") === ceil(col("n") * lit(0.5)).cast("int"), col("v"))).as("p50_exact"),
        max(when(col("rn") === ceil(col("n") * lit(0.9)).cast("int"), col("v"))).as("p90_exact"))
    exact.join(est, "group")
      .select(col("group"), col("n_docs"), col("sample_n"),
        col("p50_est"), col("p90_est"), col("p50_exact"), col("p90_exact"))
      .orderBy("group")
  }

  /** Dunning log-likelihood (G²) of the 2×2 (term-in-source vs rest)
    * table — ONE string, evaluated by Spark and embedded in the DuckDB
    * oracle, over columns n (term count in source), ns (source token
    * total), nt (corpus term total), nn (corpus token total). Every
    * input is an exact BIGINT, the whole G² is one scalar double
    * expression per row (no cross-row float accumulation), rounded to
    * 6 dp; empty observed cells contribute 0 by the standard 0·ln 0
    * convention.
    */
  val g2ExprSql: String = {
    def t(o: String, e: String) =
      s"(CASE WHEN $o <= 0 THEN 0.0 ELSE ($o) * ln(($o) / ($e)) END)"
    val o11 = "CAST(n AS DOUBLE)"
    val o12 = "(CAST(nt AS DOUBLE) - n)"
    val o21 = "(CAST(ns AS DOUBLE) - n)"
    val o22 = "(CAST(nn AS DOUBLE) - ns - nt + n)"
    val e11 = "(CAST(ns AS DOUBLE) * nt / nn)"
    val e12 = "((CAST(nn AS DOUBLE) - ns) * nt / nn)"
    val e21 = "(CAST(ns AS DOUBLE) * (CAST(nn AS DOUBLE) - nt) / nn)"
    val e22 = "((CAST(nn AS DOUBLE) - ns) * (CAST(nn AS DOUBLE) - nt) / nn)"
    s"round(2.0 * (${t(o11, e11)} + ${t(o12, e12)} + ${t(o21, e21)} + ${t(o22, e22)}), 6)"
  }

  /** Per-source distinctive vocabulary by Dunning G² keyness — the
    * corpus-comparison view ("what makes this source read differently")
    * beside tf-idf's per-document weighting: for each (source, term)
    * with ≥ minCount occurrences, G² of the 2×2 independence table,
    * signed by whether the term is over- (+1) or under-represented
    * (−1, 0 at exact independence; cross-multiplied in doubles from
    * exact counts), top-k per source by (G² desc, term).
    *
    * Scale shape: one map-side-combined (source, term) count feeds the
    * source marginals (broadcast), the term marginals (vocab-keyed
    * join, AQE-broadcast while it fits) and the scored rows; minCount
    * prunes the Zipf tail BEFORE the join; the per-source top-k
    * compiles to WindowGroupLimit. Output (ORDERED): source, rank,
    * term, n, nt, g2, direction.
    */
  def keyness(docs: DataFrame, minCount: Int = 5, k: Int = 10,
              textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val tf = CachePool.track(
      docs.select(col(srcCol).as("src"), explode(split(col(textCol), " ")).as("term"))
        .groupBy(col("src"), col("term")).agg(count(lit(1)).as("n")))
    val bySrc = tf.groupBy(col("src")).agg(sum(col("n")).cast("long").as("ns"))
    val byTerm = tf.groupBy(col("term")).agg(sum(col("n")).cast("long").as("nt"))
    val tot = tf.agg(sum(col("n")).cast("long").as("nn"))
    val scored = tf.filter(col("n") >= minCount)
      .join(broadcast(bySrc), "src")
      .join(byTerm, "term")
      .crossJoin(broadcast(tot))
      .withColumn("g2", expr(g2ExprSql))
      .withColumn("direction", expr(
        "CASE WHEN CAST(n AS DOUBLE) * nn > CAST(ns AS DOUBLE) * nt THEN CAST(1 AS BIGINT) " +
          "WHEN CAST(n AS DOUBLE) * nn < CAST(ns AS DOUBLE) * nt THEN CAST(-1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END"))
    val w = Window.partitionBy(col("src")).orderBy(col("g2").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as("source"), col("rank"), col("term"), col("n"),
        col("nt"), col("g2"), col("direction"))
      .orderBy("source", "rank")
  }
}
