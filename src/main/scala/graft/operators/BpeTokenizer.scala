package graft.operators

import graft.plans.Functions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding in-engine
  * (public knowledge: Sennrich, Haddow & Birch, "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016; the
  * histogram-then-merge training structure is how production trainers
  * — HuggingFace tokenizers, SentencePiece — are built).
  *
  * Training is two-phase, and only phase 1 touches the corpus:
  *
  *  1. ONE corpus-scale aggregation builds the word histogram
  *     (map-side combined, shuffle bounded by |vocabulary|).
  *  2. The merge loop runs driver-side over that histogram — the same
  *     boundedness argument as collecting k-means centroids: the
  *     histogram is vocabulary-sized regardless of corpus bytes, and
  *     every iteration reads only it. At 100 TB the histogram is still
  *     a broadcast-scale table.
  *
  * Cross-engine determinism (the part that lets DuckDB re-derive the
  * identical merge table): words are represented as space-delimited
  * symbol strings padded with one leading/trailing space
  * (`" s p a r k "`), and a pair (x, y) is counted AND merged with the
  * literal-`replace` scan — left-to-right, non-overlapping — that the
  * JVM, Spark SQL and DuckDB all share. Occurrence count is
  * `(len(s) − len(replace(s, " x y ", ""))) / len(" x y ")`, so
  * counting and merging see exactly the same occurrences (for a run
  * like `" a a a "` both count ONE `(a,a)` — the delimiter-consuming
  * scan semantics, documented in the oracle the same way). Ties break
  * by (count desc, left asc, right asc).
  */
object BpeTokenizer {

  final case class Merge(rank: Long, lft: String, rgt: String,
                         merged: String, pair_count: Long)

  /** The one corpus-scale pass: word → total occurrences. */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  private def spacedWord(w: String): String =
    w.toCharArray.mkString(" ", " ", " ")

  /** Non-overlapping left-to-right occurrence count — consistent with
    * `String.replace` / SQL `replace` by construction.
    */
  private def occ(s: String, pat: String): Long =
    ((s.length - s.replace(pat, "").length) / pat.length).toLong

  /** Learn `n` merges from the corpus. Returns the ranked merge table. */
  def trainMerges(docs: DataFrame, n: Int, textCol: String = "text"): Seq[Merge] = {
    require(n >= 1, s"bad merge count $n")
    // vocabulary-bounded collect (see scaladoc): the corpus never leaves
    // the cluster, only its word histogram does
    var words: Array[(String, Long)] = wordHistogram(docs, textCol)
      .collect().map(r => (spacedWord(r.getString(0)), r.getLong(1)))
    val out = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= n && !exhausted) {
      val totals = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      for ((s, c) <- words) {
        val syms = s.trim.split(" ")
        val pairs = syms.indices.dropRight(1).map(i => (syms(i), syms(i + 1))).distinct
        for ((x, y) <- pairs)
          totals((x, y)) = totals.getOrElse((x, y), 0L) + occ(s, s" $x $y ") * c
      }
      if (totals.isEmpty) exhausted = true
      else {
        val ((x, y), cnt) = totals.minBy { case ((a, b), m) => (-m, a, b) }
        out += Merge(r.toLong, x, y, x + y, cnt)
        words = words.map { case (s, c) => (s.replace(s" $x $y ", s" $x$y "), c) }
        r += 1
      }
    }
    out.result()
  }

  /** Merge table as a DataFrame: rank, lft, rgt, merged, pair_count. */
  def train(spark: SparkSession, docs: DataFrame, n: Int,
            textCol: String = "text"): DataFrame = {
    import spark.implicits._
    trainMerges(docs, n, textCol).toDS().toDF()
      .select(col("rank"), col("lft"), col("rgt"), col("merged"), col("pair_count"))
      .orderBy("rank")
  }

  /** Per-document symbol string: every char spaced, words separated by
    * `" | "`, one leading/trailing space — `" s p a r k | k e y "`.
    * Merge patterns `" x y "` can never span the `|` boundary (symbols
    * are letters), so one whole-document replace chain equals the
    * per-word scans.
    */
  private def docSymbols(textCol: String) =
    concat(lit(" "),
      regexp_replace(regexp_replace(col(textCol), "(.)", "$1 "), "   ", " | "))

  /** Encode every document with a learned merge list: apply the merges
    * in rank order as literal replaces — a per-row map chain, zero
    * shuffle, with the merge table carried as two array literals into
    * ONE native expression ([[graft.plans.BpeApply]] — the
    * broadcast-a-tokenizer deployment shape). The expression iterates
    * the merges in a JVM loop, so plan/codegen depth is constant in the
    * merge count: a realistic 10k–32k-entry vocabulary encodes exactly
    * like the 8-merge test table (the earlier nested-replace chain grew
    * the expression tree linearly and would hit analysis/Janino stack
    * limits around a few thousand merges).
    *
    * Output: doc_id, n_tokens, n_bpe (symbols after merging), bpe_hash
    * (md5 of the full symbol string — full-fidelity check), bpe_head
    * (first 60 chars) — ordered by doc_id.
    */
  def encode(docs: DataFrame, merges: Seq[Merge], textCol: String = "text",
             idCol: String = "doc_id"): DataFrame = {
    val enc = Functions.call("graft_bpe_apply", docSymbols(textCol),
      lit(merges.map(m => s" ${m.lft} ${m.rgt} ").toArray),
      lit(merges.map(m => s" ${m.merged} ").toArray))
    val nTok = size(split(col(textCol), " ")).cast("long")
    docs.select(col(idCol), nTok.as("n_tokens"), enc.as("s"))
      .select(col(idCol), col("n_tokens"),
        (size(split(trim(col("s")), " ")).cast("long") - (col("n_tokens") - 1)).as("n_bpe"),
        md5(col("s")).as("bpe_hash"),
        substring(col("s"), 1, 60).as("bpe_head"))
      .orderBy(idCol)
  }

  /** Tokenizer-efficiency table per group (source/language): fertility
    * (BPE symbols per whitespace word) and compression (chars per BPE
    * symbol) — the numbers a pipeline reads before committing to a
    * vocabulary, since a tokenizer that fragments one source 2× worse
    * than another silently halves that source's effective context and
    * doubles its training cost.
    *
    * Shape: the same ONE-expression merge applier as [[encode]]
    * (`graft_bpe_apply` — constant plan depth in the merge count), then
    * one group-key aggregation — per-row map + one bounded-key shuffle
    * at any corpus size. Ratios are exact-integer sums in double (far
    * below 2^53) with one correctly-rounded division each, so the ppm
    * columns are engine-identical.
    *
    * Output (ORDERED): group, n_docs, sum_tokens, sum_bpe, sum_chars,
    * fertility_ppm, chars_per_bpe_ppm.
    */
  def fertility(docs: DataFrame, merges: Seq[Merge], groupCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val enc = Functions.call("graft_bpe_apply", docSymbols(textCol),
      lit(merges.map(m => s" ${m.lft} ${m.rgt} ").toArray),
      lit(merges.map(m => s" ${m.merged} ").toArray))
    val nTok = size(split(col(textCol), " ")).cast("long")
    docs.select(col(groupCol).as("group"), nTok.as("nt"),
        (size(split(trim(enc), " ")).cast("long") - (nTok - lit(1L))).as("nb"),
        length(col(textCol)).cast("long").as("nc"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        sum(col("nb")).as("sum_bpe"), sum(col("nc")).as("sum_chars"))
      .select(col("group"), col("n_docs"), col("sum_tokens"), col("sum_bpe"),
        col("sum_chars"),
        round(col("sum_bpe") * lit(1000000.0) / col("sum_tokens")).cast("long")
          .as("fertility_ppm"),
        round(col("sum_chars") * lit(1000000.0) / col("sum_bpe")).cast("long")
          .as("chars_per_bpe_ppm"))
      .orderBy("group")
  }
}
