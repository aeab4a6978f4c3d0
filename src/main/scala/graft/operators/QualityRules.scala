package graft.operators

import graft.functions.TextAnalysis
import graft.plans.Functions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-quality rule filters and corpus sketches (north-star
  * extension scope): the rule-based quality gate every pretraining
  * pipeline runs before tokenization (public knowledge: Rae et al.,
  * "Scaling Language Models: ... Gopher", 2021, §A.1.1 quality
  * heuristics; Raffel et al., C4 filters), winnowing fingerprint
  * selection (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms
  * for Document Fingerprinting", SIGMOD 2003), and a KMV distinct-count
  * sketch (Bar-Yossef et al., "Counting Distinct Elements in a Data
  * Stream", 2002).
  */
object QualityRules {

  /** Gopher-style per-document rule flags, each a pure integer
    * comparison (no float ratios — `a/n ≤ p` is evaluated as
    * `q·a ≤ p·q·n` on BIGINTs, so the flags are engine-exact by
    * construction):
    *
    *  - `rule_word_count`: 30 ≤ n ≤ 1000
    *  - `rule_word_len`:   4 ≤ mean word length ≤ 10
    *    (character sum excludes separators: len(text) − (n−1))
    *  - `rule_dup_frac`:   duplicate-token share (n − uniq)/n ≤ 0.6
    *  - `rule_stopwords`:  ≥ 2 DISTINCT English stopwords present
    *  - `rule_short_toks`: share of 1-char tokens ≤ 0.15
    *
    * `passes` is the conjunction. Scale shape: per-row map over the
    * token array, shuffle-free — the gate composes into any downstream
    * plan as a pushed filter. Output: doc_id, n_tokens, five flags,
    * passes — ordered by doc_id.
    */
  def gopherFlags(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    val n = size(t).cast("long")
    val sumW = (length(col(textCol)) - (size(t) - 1)).cast("long")
    val uniq = size(array_distinct(t)).cast("long")
    val nShort = size(filter(t, x => length(x) <= 1)).cast("long")
    val nStop = size(array_intersect(array_distinct(t),
      typedLit(TextAnalysis.stopwords("en")))).cast("long")
    val rules = Seq(
      "rule_word_count" -> (n >= 30 && n <= 1000),
      "rule_word_len" -> (sumW >= n * 4 && sumW <= n * 10),
      "rule_dup_frac" -> ((n - uniq) * 10 <= n * 6),
      "rule_stopwords" -> (nStop >= 2),
      "rule_short_toks" -> (nShort * 20 <= n * 3))
    docs.select(col(idCol) +: n.as("n_tokens") +:
        rules.map { case (name, c) => c.as(name) } :+
        rules.map(_._2).reduce(_ && _).as("passes"): _*)
      .orderBy(idCol)
  }

  /** Winnowing fingerprint selection: hash every 3-token shingle
    * positionally, slide a window of `w` consecutive shingle hashes,
    * and keep the minimum of each window — the guarantee is that any
    * shared run of ≥ w+k−1 tokens between two documents yields at least
    * one shared selected fingerprint, at an expected density of 2/(w+1)
    * instead of every position. This is the robust substring-attribution
    * signal (MOSS) a corpus pipeline uses where exact-span dedup is too
    * brittle.
    *
    * Cross-engine exactness: md5 hex strings compared lexicographically
    * — no numeric conversion anywhere.
    *
    * Scale shape: hashing + window-min + distinct all happen per-row
    * inside array expressions (zero shuffle); the exploded (doc, fp)
    * output collapses map-side into whatever aggregation consumes it.
    * Docs need ≥ w+2 tokens (w windows over n−2 shingles).
    *
    * Output: doc_id, fp — one row per distinct selected fingerprint,
    * ordered by (doc_id, fp).
    */
  def winnowFingerprints(docs: DataFrame, w: Int = 4, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(w >= 1, s"bad winnow window $w")
    val t = TextAnalysis.tokens(col(textCol))
    // fused native pass ([[graft.plans.WinnowFps]]): the builtin
    // transform/array_min/slice chain is interpreted and re-evaluates
    // the md5 array once per window (184 s at sf0.1; the native
    // single-pass is ~90×)
    docs.filter(size(t) >= w + 2)
      .select(col(idCol),
        explode(Functions.call("graft_winnow", col(textCol), lit(w))).as("fp"))
      .orderBy(idCol, "fp")
  }

  /** KMV (k-minimum-values) distinct-count sketch per source over
    * 3-token shingles: keep the k smallest md5-derived 60-bit hash
    * values of the distinct shingle set; estimate
    * D ≈ (k−1) · 2⁶⁰ / h₍ₖ₎. The point at 100 TB is mergeability —
    * per-partition k-min buffers union into a global k-min with no
    * second corpus pass, the property HyperLogLog-class cardinality
    * sketches are built on; KMV is chosen here because md5 makes it
    * bit-identical across engines where HLL register layouts are not.
    *
    * Cross-engine exactness: the hash is the first 15 md5 hex chars
    * parsed as a 60-bit BIGINT; the k-th minimum is an order statistic
    * on exact integers; the estimate divides doubles that are
    * correctly-rounded casts of those integers (both engines round to
    * nearest), snapped to 1e-3.
    *
    * Scale shape: the distinct collapses map-side; one per-source
    * window sort ranks the hashes and ONE aggregation reads off both
    * the k-th minimum and (for accuracy reporting here) the exact
    * count — a single pass, no self-join. A production deployment that
    * drops `n_exact` filters `rn ≤ k` instead, which Spark's
    * WindowGroupLimit pushes map-side so shuffle volume is k·sources,
    * independent of corpus size. Sketch path engages when a source has
    * ≥ k distinct shingles; below k the estimate is the exact count
    * (standard KMV).
    *
    * Output: source, n_exact, kth_hash, est_distinct — one row per
    * source, ordered by source.
    */
  def kmvDistinct(docs: DataFrame, k: Int = 64, textCol: String = "text",
                  sourceCol: String = "source"): DataFrame = {
    require(k >= 2, s"bad KMV k $k")
    val hashed = shingleHashes(docs, textCol, sourceCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    val est = when(col("kth_hash").isNull, col("n_exact").cast("double"))
      .otherwise(lit((k - 1).toDouble * 1152921504606846976.0) /
        col("kth_hash").cast("double"))
    hashed
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"), max(when(col("rn") === k, col("h"))).as("kth_hash"))
      .select(col("source"), col("n_exact"), col("kth_hash"),
        (round(est * lit(1000.0)) / lit(1000.0)).as("est_distinct"))
      .orderBy("source")
  }

  /** Pattern redaction — the PII-scrubbing step of a training-data
    * pipeline (emails, phone numbers, keys), shaped as count + mask +
    * full-fidelity hash so the scrub is auditable: for every row, how
    * many spans matched, the masked text's md5, and its head.
    *
    * Pure per-row work (regexp_count + regexp_replace, both codegen'd
    * builtins) — zero shuffle at any scale; the pattern must stay in
    * the RE2 ∩ java.util.regex common subset (character classes,
    * quantifiers, alternation — no backrefs/lookarounds) to be
    * cross-engine exact.
    *
    * Output: idCol, n_hits, clean_hash, clean_head — ordered by idCol.
    */
  def redact(df: DataFrame, pattern: String, repl: String,
             textCol: String, idCol: String): DataFrame = {
    val cleaned = regexp_replace(col(textCol), pattern, repl)
    df.select(col(idCol),
        regexp_count(col(textCol), lit(pattern)).cast("long").as("n_hits"),
        md5(cleaned).as("clean_hash"),
        substring(cleaned, 1, 40).as("clean_head"))
      .orderBy(idCol)
  }

  /** Count-Min sketch heavy-hitter check (public knowledge: Cormode &
    * Muthukrishnan, "An Improved Data Stream Summary: The Count-Min
    * Sketch and its Applications", 2005): build a `depth`×`width`
    * counter sketch of the corpus term frequencies, then read the
    * top-`k` exact heavy hitters back THROUGH the sketch — reporting
    * the exact count, the sketch estimate (min over rows), and the
    * overcount. The estimate is always ≥ exact (one-sided error ≤
    * εN with ε = e/width at probability 1−e^−depth) — the sketch a
    * 100 TB pipeline keeps when the vocabulary itself is too big to
    * hold, and ONE (depth·width)-cell table merges across shards by
    * cell-wise addition.
    *
    * Cross-engine exactness: bucket = hex6(md5("<j>|" + term)) %
    * width — the same 24-bit md5 lattice as the sampling keys; all
    * counts are exact integer sums, the estimate an integer min.
    *
    * Scale shape: cells build from the VOCABULARY aggregate (term →
    * tf, map-side combined), not the token stream: depth·|vocab| rows
    * collapse into the bounded depth·width cell table. The readback
    * joins k terms against d·k cells. Nothing quadratic anywhere.
    *
    * Output: term, tf, tf_est, overcount — top-k by (tf desc, term),
    * ordered the same.
    */
  def cmsHeavyHitters(docs: DataFrame, width: Int = 1024, depth: Int = 4,
                      k: Int = 20, textCol: String = "text"): DataFrame = {
    require(width >= 2 && depth >= 1 && k >= 1, s"bad CMS shape $width×$depth/top-$k")
    val vocab = CachePool.track(docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf")))
    def bucket(term: Column, j: Column): Column =
      pmod(graft.operators.TrainingPrep.hex6Int(concat(j.cast("string"), lit("|"), term)),
        lit(width.toLong))
    val depths = explode(sequence(lit(0), lit(depth - 1))).as("j")
    val cells = vocab.select(col("term"), col("tf"), depths)
      .select(col("j"), bucket(col("term"), col("j")).as("b"), col("tf"))
      .groupBy(col("j"), col("b")).agg(sum(col("tf")).as("cell"))
    val top = vocab.orderBy(col("tf").desc, col("term")).limit(k)
    top.select(col("term"), col("tf"), depths)
      .select(col("term"), col("tf"), col("j"), bucket(col("term"), col("j")).as("b"))
      .join(cells, Seq("j", "b"))
      .groupBy(col("term"), col("tf"))
      .agg(min(col("cell")).as("tf_est"))
      .select(col("term"), col("tf"), col("tf_est"),
        (col("tf_est") - col("tf")).as("overcount"))
      .orderBy(col("tf").desc, col("term"))
  }

  /** Per-source distinct 60-bit shingle hashes — the KMV hash space
    * shared by [[kmvDistinct]] and [[kmvSetOps]].
    */
  private def shingleHashes(docs: DataFrame, textCol: String, sourceCol: String): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        explode(Dedup.shingles3(col(textCol))).as("sh"))
      .distinct()
      .select(col("source"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()

  /** KMV sketch SET ALGEBRA (public knowledge: Beyer et al., "On
    * Synopses for Distinct-Value Estimation Under Multiset Operations",
    * SIGMOD 2007 — the K-Minimum-Values union/intersection estimators
    * DataSketches' theta sketch productionizes): per source pair,
    * estimate |A∪B| and |A∩B| of the 3-gram shingle vocabularies from
    * the two k-min sketches ALONE.
    *
    * Union: the k smallest of S_A ∪ S_B is itself a valid KMV sketch of
    * A∪B → est_union = (k−1)·2⁶⁰/τ with τ its k-th minimum (exact
    * count when the merged sketch has < k hashes — the sketches are
    * complete below k). Intersection: ρ = |merged-k ∩ S_A ∩ S_B| /
    * k_eff is an unbiased Jaccard-style estimator → est_inter =
    * ρ·est_union (reduces to the exact intersection below k).
    *
    * The 100 TB point is MERGEABILITY: each source's k-min sketch is
    * built once (k·sources rows shuffle — WindowGroupLimit pushes the
    * rank cutoff map-side), and every pairwise estimate is computed on
    * sketches of size k, never rescanning the corpus — the same
    * union-without-a-second-pass property HLL/theta sketches are
    * deployed for.
    *
    * Cross-engine exactness: order statistics on exact 60-bit integers;
    * the estimates divide correctly-rounded double casts of those
    * integers in a fixed shape, snapped to 1e-3.
    *
    * Output: src_a, src_b (src_a < src_b), k_eff, n_both, est_union,
    * est_inter — one row per source pair, ordered by (src_a, src_b).
    */
  def kmvSetOps(docs: DataFrame, k: Int = 64, textCol: String = "text",
                sourceCol: String = "source"): DataFrame = {
    require(k >= 2, s"bad KMV k $k")
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    // the per-source sketch: k smallest hashes (k·sources rows total).
    // Pool-persisted: the source list, the pair expansion, and the
    // merged join all read it — uncached, the corpus-scale shingle
    // hashing would run once per consumer.
    val sk = CachePool.track(shingleHashes(docs, textCol, sourceCol)
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= k)
      .select(col("source"), col("h")))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(broadcast(srcs.select(col("source").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    // merged hash space per pair, tagged with which side(s) carry it
    val merged = pairs
      .join(broadcast(sk), col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(when(col("source") === col("src_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("source") === col("src_b"), 1).otherwise(0)).as("in_b"))
    val byPair = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    val agg = merged
      .withColumn("rn", row_number().over(byPair))
      .filter(col("rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_eff"),
        max(when(col("rn") === k, col("h"))).as("tau"),
        sum(col("in_a") * col("in_b")).as("n_both"))
    val estUnion = when(col("tau").isNull, col("k_eff").cast("double"))
      .otherwise(lit((k - 1).toDouble * 1152921504606846976.0) / col("tau").cast("double"))
    agg
      .withColumn("est_union", round(estUnion * lit(1000.0)) / lit(1000.0))
      .select(col("src_a"), col("src_b"), col("k_eff"), col("n_both"),
        col("est_union"),
        (round(col("n_both").cast("double") / col("k_eff") * col("est_union")
          * lit(1000.0)) / lit(1000.0)).as("est_inter"))
      .orderBy("src_a", "src_b")
  }
}
