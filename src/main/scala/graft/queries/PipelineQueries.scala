package graft.queries

import graft.functions.TextAnalysis
import graft.operators.{CachePool, Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL literal helpers shared by oracle builders. */
object Sql {
  /** Scala double → SQL literal with round-trip precision. */
  def d(x: Double): String = {
    val r = java.lang.Double.toString(x)
    if (r.contains("E")) f"CAST($x%.17e AS DOUBLE)" else r
  }
}

/** Query entries + DuckDB oracles for text analysis, similarity search,
  * and the multimodal decode plumbing. Dot products are unrolled
  * left-associated chains on both sides (see
  * [[graft.operators.Similarity]]); text heuristics are exact integer
  * arithmetic plus same-shaped double divisions.
  */
object PipelineQueries {
  private val Dims = 64

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, s"$dir/embeddings.parquet")

  // ----------------------------------------------------------------- CDC

  /** Deterministic CDC batch derived from the documents table itself:
    * deletes (doc_id%10=0), a superseded early delete then an update
    * (%10=1 — exercises latest-op-wins), plain updates (%10=2), inserts
    * of NEW keys (+100000, %10=3), and upsert-replacing inserts on
    * EXISTING keys (%10=4). Text updates are concat-marked (no case
    * transforms — unicode case rules differ between engines).
    */
  private def cdcChanges(base: DataFrame): DataFrame = {
    val d0 = base.filter(col("doc_id") % 10 === 0)
      .select(lit("D").as("op"), lit(2L).as("seq"), col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val d1 = base.filter(col("doc_id") % 10 === 1)
      .select(lit("D").as("op"), lit(1L).as("seq"), col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val u12 = base.filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 2)
      .select(lit("U").as("op"), lit(2L).as("seq"), col("doc_id"),
        concat(lit("u:"), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val i3 = base.filter(col("doc_id") % 10 === 3)
      .select(lit("I").as("op"), lit(2L).as("seq"),
        (col("doc_id") + 100000L).as("doc_id"),
        concat(lit("copy:"), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val i4 = base.filter(col("doc_id") % 10 === 4)
      .select(lit("I").as("op"), lit(2L).as("seq"), col("doc_id"),
        concat(lit("replaced:"), col("doc_id").cast("string")).as("text"),
        col("lang"), col("source"), lit(9L).as("n_chars"))
    d0.unionByName(d1).unionByName(u12).unionByName(i3).unionByName(i4)
  }

  private val cdcChangesSql: String =
    """SELECT 'D' AS op, CAST(2 AS BIGINT) AS seq, doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT 'D', 1, doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 10 = 1
      |UNION ALL SELECT 'U', 2, doc_id, 'u:' || text, lang, source, n_chars FROM documents WHERE doc_id % 10 IN (1, 2)
      |UNION ALL SELECT 'I', 2, doc_id + 100000, 'copy:' || text, lang, source, n_chars FROM documents WHERE doc_id % 10 = 3
      |UNION ALL SELECT 'I', 2, doc_id, 'replaced:' || CAST(doc_id AS VARCHAR), lang, source, CAST(9 AS BIGINT) FROM documents WHERE doc_id % 10 = 4""".stripMargin

  /** MERGE-INTO semantics as a relational operator
    * ([[graft.operators.Cdc.applyChanges]]): the post-merge documents
    * table after the deterministic change batch — deletes gone, updates
    * and upserting inserts replacing, new keys appended, and the
    * superseded delete on %10=1 correctly overridden by its later
    * update (latest-op-wins by seq).
    */
  def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Tables.parquet(s, s"$dir/documents.parquet")
    graft.operators.Cdc.applyChanges(base, cdcChanges(base), "doc_id")
      .orderBy("doc_id")
  }

  val qCdcApplySql: String =
    s"""WITH changes AS (
       |$cdcChangesSql),
       |latest AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC, op) AS rn
       |    FROM changes) WHERE rn = 1)
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM latest)
       |UNION ALL
       |SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op <> 'D'
       |ORDER BY doc_id""".stripMargin

  /** SCD-2 version history of the change batch
    * ([[graft.operators.Cdc.history]]): [valid_from, valid_to) ranges
    * per key, open-ended current versions, deletes closing their key.
    */
  def qCdcHistory(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Tables.parquet(s, s"$dir/documents.parquet")
    graft.operators.Cdc.history(cdcChanges(base), "doc_id")
      .select(col("doc_id"), col("op"), col("seq"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .orderBy("doc_id", "seq", "op")
  }

  val qCdcHistorySql: String =
    s"""WITH changes AS (
       |$cdcChangesSql)
       |SELECT doc_id, op, seq, seq AS valid_from,
       |       lead(seq, 1) OVER (PARTITION BY doc_id ORDER BY seq, op) AS valid_to,
       |       lead(seq, 1) OVER (PARTITION BY doc_id ORDER BY seq, op) IS NULL AS is_current
       |FROM changes
       |QUALIFY op <> 'D'
       |ORDER BY doc_id, seq, op""".stripMargin

  // ------------------------------------------------------------ text stats

  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_unique"),
      length(col("text")).cast("long").as("n_chars_m"),
      ((length(col("text")) - (size(t) - 1)) * lit(1.0) / size(t)).as("avg_token_len"),
      (TextAnalysis.stopwordCount(t, "en") * lit(1.0) / size(t)).as("stop_ratio"),
      TextAnalysis.qualityScore(t, col("text")).as("quality")
    ).orderBy("doc_id")
  }

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  val qTextStatsSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""SELECT doc_id, lang,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  (length(text) - (len(t) - 1)) * 1.0 / len(t) AS avg_token_len,
       |  len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t) AS stop_ratio,
       |  0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |    + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |    + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)) AS quality
       |FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- lang id

  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      TextAnalysis.langGuess(t).as("guess"))
      .withColumn("correct", col("guess") === col("lang"))
      .orderBy("doc_id")
  }

  val qLangIdSql: String = {
    def c(lang: String) =
      s"len(list_filter(t, x -> x IN (${inList(TextAnalysis.stopwords(lang))})))"
    s"""SELECT doc_id, lang, guess, guess = lang AS correct FROM (
       |  SELECT doc_id, lang,
       |    CASE WHEN ${c("en")} + ${c("de")} + ${c("fr")} + ${c("es")} = 0 THEN 'und'
       |         WHEN ${c("en")} >= ${c("de")} AND ${c("en")} >= ${c("fr")} AND ${c("en")} >= ${c("es")} THEN 'en'
       |         WHEN ${c("de")} >= ${c("fr")} AND ${c("de")} >= ${c("es")} THEN 'de'
       |         WHEN ${c("fr")} >= ${c("es")} THEN 'fr'
       |         ELSE 'es' END AS guess
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |) ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- fingerprints

  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    docs(s, dir)
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        TextAnalysis.fpFull(col("text")).as("fp_full"),
        TextAnalysis.fpMinShingle(t).as("fp_min_shingle"),
        TextAnalysis.fpPrefix(t).as("fp_prefix"))
      .orderBy("doc_id")
  }

  val qFingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp_full,
      |  list_min(list_transform(generate_series(1, len(t) - 2),
      |           i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS fp_min_shingle,
      |  md5(array_to_string(t[1:5], ' ')) AS fp_prefix
      |FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 3
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- similarity

  private def dotSqlN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  private def cosSqlN(a: String, b: String, n: Int): String =
    s"(${dotSqlN(a, b, n)}) / (sqrt(${dotSqlN(a, a, n)}) * sqrt(${dotSqlN(b, b, n)}))"

  private def cosSql(a: String, b: String): String = cosSqlN(a, b, Dims)

  def qSimTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(embs(s, dir), queryVecId = 0L, k = 10, dims = Dims)

  val qSimTopKSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |FROM embeddings, q
       |WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  // ------------------------------------------------- filtered vector search

  private val FilterLabel = 3

  /** Filtered exact top-10 (metadata predicate + vector ranking —
    * [[graft.operators.Similarity.bruteForceTopKFiltered]]): only
    * label-3 vectors compete. The label predicate reaches the parquet
    * scan (PushedFilters), so cost is proportional to the ~10%
    * selected subset.
    */
  def qAnnFiltered(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopKFiltered(embs(s, dir), col("label") === FilterLabel,
      queryVecId = 0L, k = 10, dims = Dims)

  val qAnnFilteredSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |FROM embeddings, q
       |WHERE vec_id <> 0 AND label = $FilterLabel
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  /** Filtered IVF search with oversearch
    * ([[graft.operators.Similarity.ivfSearchFiltered]]): the ~10%
    * label selectivity thins each probed cell ~10×, so probes doubles
    * (2 → 4) to keep the candidate pool competitive — the standard
    * filter-during-search trade. `q_filtered_recall` quantifies what
    * that buys against the filtered exact baseline.
    */
  def qIvfFiltered(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearchFiltered(embs(s, dir), col("label") === FilterLabel,
      queryVecId = 0L, k = 8, probes = 4, topK = 10, dims = Dims)

  val qIvfFilteredSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |               FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cent_id AS cell
       |  FROM cents, q
       |  ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC, cent_id
       |  LIMIT 4
       |)
       |SELECT e.vec_id, a.cell, round(${cosSql("e.embedding", "qe")}, 6) AS cos_sim
       |FROM assign a
       |JOIN probed p ON a.cell = p.cell
       |JOIN embeddings e ON a.vec_id = e.vec_id, q
       |WHERE e.vec_id <> 0 AND e.label = $FilterLabel
       |ORDER BY cos_sim DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Per-label exact top-3 for query 0 — every tenant's neighborhood in
    * ONE corpus pass ([[graft.operators.Similarity.perGroupTopK]]);
    * the rank cutoff is pushed below the label shuffle
    * (`WindowGroupLimit`), so the shuffle carries ≤ 3 rows per label
    * per map partition.
    */
  def qAnnPerLabel(s: SparkSession, dir: String): DataFrame =
    Similarity.perGroupTopK(embs(s, dir), groupCol = "label",
      queryVecId = 0L, kPerGroup = 3, dims = Dims)

  val qAnnPerLabelSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT label, vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |  FROM embeddings, q
       |  WHERE vec_id <> 0
       |)
       |SELECT label, vec_id, cos_sim, rnk FROM (
       |  SELECT label, vec_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY label
       |                                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
       |  FROM scored
       |) WHERE rnk <= 3
       |ORDER BY label, rnk""".stripMargin

  /** recall@10 of the filtered IVF (probes 4) vs the filtered exact
    * baseline — the eval that says whether the oversearch compensated
    * for the filter.
    */
  def qFilteredRecall(s: SparkSession, dir: String): DataFrame =
    qIvfFiltered(s, dir).select(col("vec_id"))
      .join(qAnnFiltered(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  def qFilteredRecallSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qIvfFilteredSql) a JOIN ($qAnnFilteredSql) b USING (vec_id)""".stripMargin

  private val AutoK = 16       // coarse cells for the auto-oversearch demo
  private val AutoProbes0 = 2  // the UNfiltered tuning the caller supplies

  /** Filtered IVF with selectivity-DERIVED oversearch
    * ([[graft.operators.Similarity.ivfSearchFilteredAuto]], r7 advice
    * #4): the caller supplies only the unfiltered tuning (probes0=2);
    * the label-3 frequency stat turns it into
    * probes = clamp(ceil(probes0/sel), probes0, k/2) — all-integer
    * arithmetic the oracle recomputes in its `params` CTE, so the SQL
    * twin derives the SAME probe count from the data rather than
    * hard-coding one.
    */
  def qIvfFilteredAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearchFilteredAuto(embs(s, dir), col("label") === FilterLabel,
      queryVecId = 0L, k = AutoK, probes0 = AutoProbes0, topK = 10, dims = Dims)

  val qIvfFilteredAutoSql: String =
    s"""WITH params AS (
       |  SELECT GREATEST($AutoProbes0, LEAST(
       |           ($AutoProbes0 * count(*) + count(*) FILTER (WHERE label = $FilterLabel) - 1)
       |             // count(*) FILTER (WHERE label = $FilterLabel),
       |           GREATEST($AutoProbes0, ${AutoK / 2}))) AS probes
       |  FROM embeddings
       |),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |          FROM embeddings WHERE vec_id < $AutoK),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cell FROM (
       |    SELECT cent_id AS cell,
       |           row_number() OVER (ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC,
       |                              cent_id) AS rn
       |    FROM cents, q
       |  ), params WHERE rn <= params.probes
       |)
       |SELECT e.vec_id, a.cell, round(${cosSql("e.embedding", "qe")}, 6) AS cos_sim
       |FROM assign a
       |JOIN probed p ON a.cell = p.cell
       |JOIN embeddings e ON a.vec_id = e.vec_id, q
       |WHERE e.vec_id <> 0 AND e.label = $FilterLabel
       |ORDER BY cos_sim DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** recall@10 of the AUTO-oversearched filtered IVF vs the filtered
    * exact baseline — must clear 0.9 where the hand-tuned probes=4
    * variant sat at 0.8 (r7 advice #4's acceptance bar; also pinned in
    * SimilaritySpec).
    */
  def qFilteredRecallAuto(s: SparkSession, dir: String): DataFrame =
    qIvfFilteredAuto(s, dir).select(col("vec_id"))
      .join(qAnnFiltered(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  def qFilteredRecallAutoSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qIvfFilteredAutoSql) a JOIN ($qAnnFilteredSql) b USING (vec_id)""".stripMargin

  private val MmrPoolN = 40
  private val MmrK = 10
  private val MmrLambdaPpm = 700000L

  /** MMR-diversified top-10 from the exact cosine top-40 pool
    * ([[graft.operators.Similarity.mmrTopK]]); λ = 0.7. The oracle
    * unrolls the greedy selection as k CTE steps over the same
    * micro-integer score lattice.
    */
  def qMmr(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(embs(s, dir), queryVecId = 0L, poolN = MmrPoolN,
      k = MmrK, lambdaPpm = MmrLambdaPpm, dims = Dims)

  val qMmrSql: String = {
    val lam = MmrLambdaPpm
    val pen = 1000000L - MmrLambdaPpm
    // every k_i is referenced three times by step i+1 — MATERIALIZED
    // stops DuckDB's default CTE inlining from re-expanding the whole
    // chain (exponential otherwise)
    val steps = (2 to MmrK).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT d.vec_id, d.rel,
         |         CAST($lam AS BIGINT) * d.rel - CAST($pen AS BIGINT) *
         |           (SELECT max(s) FROM psym
         |            WHERE ia = d.vec_id AND ib IN (SELECT vec_id FROM k${i - 1})) AS score
         |  FROM cand d WHERE d.vec_id NOT IN (SELECT vec_id FROM k${i - 1})
         |  ORDER BY score DESC, d.vec_id LIMIT 1
         |),
         |k$i AS MATERIALIZED (SELECT * FROM k${i - 1}
         |        UNION ALL SELECT CAST($i AS BIGINT), vec_id, rel, score FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, CAST(round((${cosSql("embedding", "qe")}) * 1000000) AS BIGINT) AS rel,
       |         embedding AS e
       |  FROM embeddings, q
       |  WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id
       |  LIMIT $MmrPoolN
       |),
       |p AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         CAST(round((${cosSql("a.e", "b.e")}) * 1000000) AS BIGINT) AS s
       |  FROM cand a JOIN cand b ON a.vec_id < b.vec_id
       |),
       |psym AS MATERIALIZED (SELECT ia, ib, s FROM p UNION ALL SELECT ib, ia, s FROM p),
       |s1 AS (SELECT vec_id, rel, CAST($lam AS BIGINT) * rel AS score
       |       FROM cand ORDER BY score DESC, vec_id LIMIT 1),
       |k1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, score FROM s1),
       |$steps
       |SELECT rank, vec_id, rel AS rel_micro, score AS mmr_raw
       |FROM k$MmrK ORDER BY rank""".stripMargin
  }

  private val AnnBits = 8

  private def sigSqlBits(e: String, bits: Int): String =
    (0 until bits).map { b =>
      val proj = (1 to Dims).map(i =>
        s"${Sql.d(Similarity.planeCoef(b, i, Dims))} * CAST($e[$i] AS DOUBLE)").mkString(" + ")
      s"CASE WHEN $proj > 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  private def sigSql(e: String): String = sigSqlBits(e, AnnBits)

  /** [[sigSqlBits]] at widths past ~32 bits: the chained-`||` form
    * stacks a depth-`bits` concat tree on the depth-`Dims` projection
    * sums and trips DuckDB's 128-deep binder recursion limit (measured
    * at the scaled twin's 64-bit width); variadic `concat(...)` is ONE
    * node with `bits` children, so total depth stays ~the sum chain's.
    * Bit values are identical — same per-bit [[Similarity.planeCoef]]
    * projections, same '0'/'1' chars.
    */
  private def sigSqlBitsWide(e: String, bits: Int): String =
    (0 until bits).map { b =>
      val proj = (1 to Dims).map(i =>
        s"${Sql.d(Similarity.planeCoef(b, i, Dims))} * CAST($e[$i] AS DOUBLE)").mkString(" + ")
      s"CASE WHEN $proj > 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")

  def qAnnBuckets(s: SparkSession, dir: String): DataFrame =
    Similarity.lshBuckets(embs(s, dir), bits = AnnBits, dims = Dims)

  val qAnnBucketsSql: String =
    s"""SELECT vec_id, sig, CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS bucket_n
       |FROM (SELECT vec_id, ${sigSql("embedding")} AS sig FROM embeddings)
       |ORDER BY vec_id""".stripMargin

  def qAnnNearest(s: SparkSession, dir: String): DataFrame =
    Similarity.lshNearestInBucket(embs(s, dir), bits = AnnBits, dims = Dims)

  val qAnnNearestSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id AS id, embedding AS e, ${sigSql("embedding")} AS sig
       |  FROM embeddings
       |),
       |pairs AS (
       |  SELECT a.id AS vec_id, b.id AS nn_id,
       |         round(${cosSql("a.e", "b.e")}, 6) AS cos_sim
       |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id <> b.id
       |)
       |SELECT vec_id, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY cos_sim DESC, nn_id) AS rn
       |  FROM pairs
       |) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** Hard-negative mining for retrieval training: the query document's
    * top-k EMBEDDING-cosine neighbors minus its verified NEAR-DUP set
    * (docs with text Jaccard ≥ threshold against the query — those are
    * false negatives a contrastive batch must not contain; ids align
    * vec_id = doc_id). Semantically close + lexically distinct = the
    * hard negatives. One broadcast anti-join over the top-k candidate
    * pool; both inputs are already-oracled machinery.
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val topPool = Similarity.bruteForceTopK(embs(s, dir), queryVecId = 0L,
      k = 20, dims = Dims)
    val dupsOfQuery = DedupQueries.minhashPairsShared(s, dir)
      .filter(col("id_a") === 0L || col("id_b") === 0L)
      .select((col("id_a") + col("id_b")).as("vec_id")) // the non-zero end
    topPool.join(broadcast(dupsOfQuery), Seq("vec_id"), "left_anti")
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  def qHardNegativesSql: String =
    s"""WITH ${graft.queries.DedupQueries.minhashVerifiedCte},
       |dups AS (
       |  SELECT id_a + id_b AS vec_id FROM verified
       |  WHERE (id_a = 0 OR id_b = 0) AND inter * 1.0 / union_n >= 0.5
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |pool AS (
       |  SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |  FROM embeddings, q
       |  WHERE vec_id <> 0
       |  ORDER BY cos_sim DESC, vec_id
       |  LIMIT 20
       |)
       |SELECT vec_id, cos_sim FROM pool
       |WHERE vec_id NOT IN (SELECT vec_id FROM dups)
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  /** Multi-probe LSH top-10 for the stored query vector (see
    * [[graft.operators.Similarity.multiProbeSearch]]): the query's
    * bucket + its 8 one-bit-flip neighbor buckets, exact-cosine
    * re-ranked.
    */
  def qMultiProbe(s: SparkSession, dir: String): DataFrame =
    Similarity.multiProbeSearch(embs(s, dir), queryVecId = 0L,
      bits = AnnBits, topK = 10, dims = Dims)

  val qMultiProbeSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id AS id, embedding AS e, ${sigSql("embedding")} AS sig
       |  FROM embeddings
       |),
       |q AS (SELECT e AS qe, sig AS qsig FROM sigs WHERE id = 0),
       |probes AS (
       |  SELECT qsig AS sig FROM q
       |  UNION ALL
       |  SELECT substring(qsig, 1, i) ||
       |         CASE WHEN substring(qsig, i + 1, 1) = '1' THEN '0' ELSE '1' END ||
       |         substring(qsig, i + 2) AS sig
       |  FROM q, (SELECT unnest(generate_series(0, ${AnnBits - 1})) AS i)
       |)
       |SELECT s.id AS vec_id, round(${cosSql("s.e", "qe")}, 6) AS cos_sim
       |FROM sigs s JOIN probes p ON s.sig = p.sig, q
       |WHERE s.id <> 0
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(embs(s, dir), bits = AnnBits, dims = Dims, threshold = 0.2)

  val qEmbedNearDupSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id AS id, embedding AS e, ${sigSql("embedding")} AS sig
       |  FROM embeddings
       |)
       |SELECT a.id AS id_a, b.id AS id_b,
       |       round(${cosSql("a.e", "b.e")}, 6) AS cos_sim
       |FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id < b.id
       |WHERE round(${cosSql("a.e", "b.e")}, 6) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  /** Token counting: whitespace tokens + greedy-regex "BPE-ish" subword
    * chunks (≤4-char alpha pieces; identical greedy leftmost matching in
    * Java regex and RE2).
    */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  val qTokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ IVF

  def qIvfAssign(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssign(embs(s, dir), k = 8, dims = Dims)

  val qIvfAssignSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |               FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT vec_id, cent_id,
       |         round(${cosSql("embedding", "cent_emb")}, 6) AS cos_sim
       |  FROM embeddings CROSS JOIN cents
       |)
       |SELECT vec_id, cell, cos_sim FROM (
       |  SELECT vec_id, cent_id AS cell, cos_sim,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos_sim DESC, cent_id) AS rn
       |  FROM scored
       |) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Per-cell IVF index-health stats (cohesion + centroid separation —
    * see [[graft.operators.Similarity.ivfCellStats]]); exact decimal
    * cohesion sums make the table hash-comparable.
    */
  def qIvfCellStats(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfCellStats(embs(s, dir), k = 8, dims = Dims)

  val qIvfCellStatsSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |               FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT vec_id, cent_id,
       |         round(${cosSql("embedding", "cent_emb")}, 6) AS cos_sim
       |  FROM embeddings CROSS JOIN cents
       |),
       |assign AS (
       |  SELECT vec_id, cell, cos_sim FROM (
       |    SELECT vec_id, cent_id AS cell, cos_sim,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos_sim DESC, cent_id) AS rn
       |    FROM scored
       |  ) WHERE rn = 1
       |),
       |percell AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE) AS cohesion_sum,
       |         min(cos_sim) AS cohesion_min
       |  FROM assign GROUP BY cell
       |),
       |sep AS (
       |  SELECT a.cent_id AS cell,
       |         max(round(${cosSql("a.cent_emb", "b.cent_emb")}, 6)) AS nn_sim
       |  FROM cents a JOIN cents b ON a.cent_id <> b.cent_id
       |  GROUP BY a.cent_id
       |)
       |SELECT cell, n_members, cohesion_sum, cohesion_min, nn_sim
       |FROM percell JOIN sep USING (cell) ORDER BY cell""".stripMargin

  /** Trained IVF quantizer: 2 deterministic Lloyd iterations on the
    * 1e-6 decimal lattice. The oracle re-runs the SAME iterations as
    * unrolled SQL CTEs — every distance/mean is exact decimal
    * arithmetic, so the iterative Spark loop and the set-based SQL reach
    * the identical fixpoint state.
    */
  /** Memoized trained quantizer per sf dir: training is deterministic,
    * so its four consumers (this training query, trained search, and
    * both IVF+PQ pipelines) share ONE persisted copy per session
    * instead of re-running the Lloyd iterations — the in-session
    * analogue of the persisted `coarse` table `VectorIndex.savePq`
    * writes for serving. Results are identical by construction.
    */
  private val trainedQuantizers = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def trainedKmeans(s: SparkSession, dir: String): DataFrame =
    trainedQuantizers.getOrElseUpdate(dir, {
      val t = Similarity.kmeansTrain(embs(s, dir), k = 8, iters = 2, dims = Dims).persist()
      t.count()
      t
    })

  private val kmeansCte: String = kmeansCteWhere("TRUE")

  def qIvfTrain(s: SparkSession, dir: String): DataFrame =
    trainedKmeans(s, dir)

  /** k-means CTE chain ending in `c2` = centroids after 2 Lloyd
    * iterations (shared by the training oracle and the trained-search
    * oracle).
    */
  private def kmeansCteWhere(where: String): String = kmeansCteWhere(where, "8")

  /** `kSql` variant: the Lloyd lattice is row-based over (cent_id, pos),
    * so k enters ONLY as the seed predicate `vec_id < k` — a SQL scalar
    * works as well as a literal, which is what lets the scaled-k
    * production path (q_semantic_dedup_scaled) replay k = scaledK(n)
    * from count(*) inside the oracle itself.
    */
  private def kmeansCteWhere(where: String, kSql: String): String = {
    // one Lloyd iteration as CTEs: cIn -> dN (distances) -> aN (argmin)
    // -> uN (rounded means) -> cOut (carry empty clusters)
    def iteration(n: Int, cIn: String, cOut: String): String =
      s"""d$n AS (
         |  SELECT pe.vec_id, c.cent_id,
         |         SUM((pe.v - c.c) * (pe.v - c.c)) AS d2
         |  FROM pe JOIN $cIn c ON pe.pos = c.pos
         |  GROUP BY pe.vec_id, c.cent_id
         |),
         |a$n AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
         |    FROM d$n
         |  ) WHERE rn = 1
         |),
         |u$n AS (
         |  SELECT a.cent_id, pe.pos,
         |         CAST(round(CAST(SUM(pe.v) AS DOUBLE) / count(*)) AS BIGINT) AS c_new
         |  FROM pe JOIN a$n a ON pe.vec_id = a.vec_id
         |  GROUP BY a.cent_id, pe.pos
         |),
         |$cOut AS (
         |  SELECT c.cent_id, c.pos, COALESCE(u.c_new, c.c) AS c
         |  FROM $cIn c LEFT JOIN u$n u ON c.cent_id = u.cent_id AND c.pos = u.pos
         |)""".stripMargin
    s"""pe AS (
       |  SELECT vec_id, CAST(i AS BIGINT) AS pos,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS v
       |  FROM embeddings, (SELECT unnest(generate_series(1, $Dims)) AS i)
       |  WHERE $where
       |),
       |c0 AS (SELECT vec_id AS cent_id, pos, v AS c FROM pe WHERE vec_id < ($kSql)),
       |${iteration(1, "c0", "c1")},
       |${iteration(2, "c1", "c2")}""".stripMargin
  }

  val qIvfTrainSql: String =
    s"""WITH $kmeansCte
       |SELECT cent_id, pos, CAST(c AS DOUBLE) / 1000000.0 AS cval
       |FROM c2 ORDER BY cent_id, pos""".stripMargin

  /** Full trained-IVF pipeline: train (2 Lloyd iterations) → assign all
    * vectors to trained cells → probe the 2 closest cells → exact
    * cosine top-10 within them.
    */
  def qIvfSearchTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cents = Similarity.centroidsAsVectors(trainedKmeans(s, dir))
    Similarity.ivfSearchWith(e, cents, queryVecId = 0L, probes = 2, topK = 10, dims = Dims)
  }

  val qIvfSearchTrainedSql: String =
    s"""WITH $kmeansCte,
       |cents AS (
       |  SELECT cent_id, list(CAST(c AS DOUBLE) / 1000000.0 ORDER BY pos) AS cent_emb
       |  FROM c2 GROUP BY cent_id
       |),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cent_id AS cell
       |  FROM cents, q
       |  ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC, cent_id
       |  LIMIT 2
       |)
       |SELECT e.vec_id, a.cell, round(${cosSql("e.embedding", "qe")}, 6) AS cos_sim
       |FROM assign a
       |JOIN probed p ON a.cell = p.cell
       |JOIN embeddings e ON a.vec_id = e.vec_id, q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, e.vec_id
       |LIMIT 10""".stripMargin

  // ------------------------------------------------------------------- PQ

  private val PqM = 8        // subspaces
  private val PqK = 16       // codes per subspace
  private val PqIters = 2    // Lloyd rounds per subspace quantizer
  private val PqSub = Dims / PqM

  /** The PQ training chain as DuckDB CTEs: `spe` = micro-unit
    * subvector elements (vec_id, sub, pos, v), `pc0` = init codebook
    * (subvectors of the first k stored vectors), then the SAME Lloyd
    * iterations the Spark loop runs, ending in `pc2`. Everything is
    * BIGINT lattice arithmetic — bit-identical to the Spark
    * micro-unit doubles.
    */
  private val pqCte: String = {
    def iteration(n: Int, cIn: String, cOut: String): String =
      s"""pd$n AS (
         |  SELECT pe.vec_id, pe.sub, c.cent_id,
         |         SUM((pe.v - c.c) * (pe.v - c.c)) AS d2
         |  FROM spe pe JOIN $cIn c ON pe.sub = c.sub AND pe.pos = c.pos
         |  GROUP BY pe.vec_id, pe.sub, c.cent_id
         |),
         |pa$n AS (
         |  SELECT vec_id, sub, cent_id FROM (
         |    SELECT vec_id, sub, cent_id,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY d2, cent_id) AS rn
         |    FROM pd$n
         |  ) WHERE rn = 1
         |),
         |pu$n AS (
         |  SELECT a.sub, a.cent_id, pe.pos,
         |         CAST(round(CAST(SUM(pe.v) AS DOUBLE) / count(*)) AS BIGINT) AS c_new
         |  FROM spe pe JOIN pa$n a ON pe.vec_id = a.vec_id AND pe.sub = a.sub
         |  GROUP BY a.sub, a.cent_id, pe.pos
         |),
         |$cOut AS (
         |  SELECT c.sub, c.cent_id, c.pos, COALESCE(u.c_new, c.c) AS c
         |  FROM $cIn c LEFT JOIN pu$n u
         |    ON c.sub = u.sub AND c.cent_id = u.cent_id AND c.pos = u.pos
         |)""".stripMargin
    s"""spe AS (
       |  SELECT vec_id, (i - 1) // $PqSub AS sub, (i - 1) % $PqSub + 1 AS pos,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS v
       |  FROM embeddings, (SELECT unnest(generate_series(1, $Dims)) AS i)
       |),
       |pc0 AS (SELECT sub, vec_id AS cent_id, pos, v AS c FROM spe WHERE vec_id < $PqK),
       |${iteration(1, "pc0", "pc1")},
       |${iteration(2, "pc1", "pc2")}""".stripMargin
  }

  /** Encoding CTE on top of [[pqCte]]: `penc` = each vector's
    * per-subspace nearest trained code.
    */
  private val pqEncCte: String =
    s"""pdE AS (
       |  SELECT pe.vec_id, pe.sub, c.cent_id,
       |         SUM((pe.v - c.c) * (pe.v - c.c)) AS d2
       |  FROM spe pe JOIN pc2 c ON pe.sub = c.sub AND pe.pos = c.pos
       |  GROUP BY pe.vec_id, pe.sub, c.cent_id
       |),
       |penc AS (
       |  SELECT vec_id, sub, cent_id AS code FROM (
       |    SELECT vec_id, sub, cent_id,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d2, cent_id) AS rn
       |    FROM pdE
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** Product-quantization codebook training (see
    * [[graft.operators.Similarity.pqTrain]]): m per-subspace k-means
    * codebooks in one Lloyd loop, exact micro-unit lattice.
    */
  /** Memoized PQ fit (sub-vector table + subspace codebooks) per sf
    * dir: the m-subspace Lloyd training is deterministic, so the six
    * PQ consumers (train / encode / distortion / ADC search / both
    * IVF+PQ pipelines) share ONE persisted copy per session — the
    * in-session analogue of the persisted `codebook` table
    * `VectorIndex.savePq` writes for serving. Results are identical by
    * construction.
    */
  private val pqFits =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]
  private def pqFitShared(s: SparkSession, dir: String): Option[(DataFrame, DataFrame)] = {
    val (sve, cents) = pqFits.getOrElseUpdate(dir,
      Similarity.pqFit(embs(s, dir), PqM, PqK, PqIters, Dims, "vec_id", "embedding"))
    // The fit frames are pool-tracked, so the bench's between-query
    // Residue sweep drops their cache blocks; without a re-arm every
    // later PQ query re-executes the full Lloyd training chain once per
    // PLAN REFERENCE (sve appears up to 3×, cents up to 2× in one
    // ivfpq plan — measured as repeated broadcast-build job chains,
    // ~0.6–0.9 s each at sf0.1). Re-track + materialize inside the
    // calling query's own timed region: one chain execution per query,
    // every other reference reads cache, and the sweep still drops the
    // blocks afterwards — no state crosses a query boundary.
    // cents is lineage-truncated inside pqFit (localCheckpoint), so its
    // re-reads are free; sve is a cheap scan+transform whose pool-
    // tracked cache the between-query teardown drops — re-marking it
    // here (no eager action) lets a multi-reference plan (ivfpq touches
    // it three times) materialize it once under BlockManager locking.
    if (sve.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      CachePool.track(sve)
    Some((sve, cents))
  }

  def qPqTrain(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTrain(embs(s, dir), m = PqM, k = PqK, iters = PqIters, dims = Dims,
      fit = pqFitShared(s, dir))

  val qPqTrainSql: String =
    s"""WITH $pqCte
       |SELECT sub, cent_id, pos, CAST(c AS DOUBLE) / 1000000.0 AS cval
       |FROM pc2 ORDER BY sub, cent_id, pos""".stripMargin

  /** Every vector compressed to m codebook codes — the n·m·log₂(k)-bit
    * representation a 100 TB ANN index actually stores.
    */
  def qPqEncode(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(embs(s, dir), m = PqM, k = PqK, iters = PqIters, dims = Dims,
      fit = pqFitShared(s, dir))

  val qPqEncodeSql: String =
    s"""WITH $pqCte,
       |$pqEncCte
       |SELECT vec_id, sub, code FROM penc ORDER BY vec_id, sub""".stripMargin

  /** Per-subspace PQ reconstruction SSE
    * ([[graft.operators.Similarity.pqDistortion]]): the quantization-
    * quality eval for the (m, k) choice, integer-exact on the micro²
    * lattice. Oracle chains the SAME unrolled training + encoding CTEs
    * the other PQ oracles use.
    */
  def qPqDistortion(s: SparkSession, dir: String): DataFrame =
    Similarity.pqDistortion(embs(s, dir), m = PqM, k = PqK, iters = PqIters, dims = Dims,
      fit = pqFitShared(s, dir))

  val qPqDistortionSql: String =
    s"""WITH $pqCte,
       |$pqEncCte
       |SELECT e.sub, CAST(count(DISTINCT e.vec_id) AS BIGINT) AS n_vectors,
       |       CAST(SUM((pe.v - c.c) * (pe.v - c.c)) AS BIGINT) AS sse
       |FROM penc e
       |JOIN spe pe ON pe.vec_id = e.vec_id AND pe.sub = e.sub
       |JOIN pc2 c ON c.sub = e.sub AND c.cent_id = e.code AND c.pos = pe.pos
       |GROUP BY e.sub
       |ORDER BY e.sub""".stripMargin

  /** ADC search: approximate top-10 for query vector 0 from codes +
    * a broadcast m·k lookup table — exact integer scores.
    */
  def qPqSearch(s: SparkSession, dir: String): DataFrame =
    Similarity.pqSearch(embs(s, dir), queryVecId = 0L, m = PqM, k = PqK,
      iters = PqIters, topK = 10, dims = Dims, fit = pqFitShared(s, dir))

  val qPqSearchSql: String =
    s"""WITH $pqCte,
       |$pqEncCte,
       |lut AS (
       |  SELECT c.sub, c.cent_id AS code,
       |         SUM((q.v - c.c) * (q.v - c.c)) AS d2q
       |  FROM spe q JOIN pc2 c ON q.sub = c.sub AND q.pos = c.pos
       |  WHERE q.vec_id = 0
       |  GROUP BY c.sub, c.cent_id
       |)
       |SELECT e.vec_id, CAST(SUM(l.d2q) AS BIGINT) AS adc_d2
       |FROM penc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
       |WHERE e.vec_id <> 0
       |GROUP BY e.vec_id
       |ORDER BY adc_d2, e.vec_id
       |LIMIT 10""".stripMargin

  /** The full IVF+PQ read path (FAISS IVFADC shape): trained coarse
    * quantizer prunes to 2 of 8 cells → PQ ADC shortlist of 50 → exact
    * integer-L2 re-rank → top-10. Composes the `q_ivf_train` and
    * `q_pq_*` machinery end-to-end; the oracle chains BOTH unrolled
    * CTE pipelines and stays hash-exact.
    */
  def qIvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val coarse = Similarity.centroidsAsVectors(trainedKmeans(s, dir))
    Similarity.ivfpqSearch(e, coarse, queryVecId = 0L, probes = 2,
      m = PqM, k = PqK, iters = PqIters, shortlist = 50, topK = 10, dims = Dims,
      fit = pqFitShared(s, dir))
  }

  val qIvfPqSearchSql: String =
    s"""WITH $kmeansCte,
       |cents AS (
       |  SELECT cent_id, list(CAST(c AS DOUBLE) / 1000000.0 ORDER BY pos) AS cent_emb
       |  FROM c2 GROUP BY cent_id
       |),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cent_id AS cell
       |  FROM cents, q
       |  ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC, cent_id
       |  LIMIT 2
       |),
       |cand AS (
       |  SELECT a.vec_id FROM assign a JOIN probed p ON a.cell = p.cell
       |  WHERE a.vec_id <> 0
       |),
       |$pqCte,
       |$pqEncCte,
       |lut AS (
       |  SELECT c.sub, c.cent_id AS code,
       |         SUM((qq.v - c.c) * (qq.v - c.c)) AS d2q
       |  FROM spe qq JOIN pc2 c ON qq.sub = c.sub AND qq.pos = c.pos
       |  WHERE qq.vec_id = 0
       |  GROUP BY c.sub, c.cent_id
       |),
       |adc AS (
       |  SELECT e.vec_id, SUM(l.d2q) AS adc_d2
       |  FROM penc e
       |  JOIN cand cd ON e.vec_id = cd.vec_id
       |  JOIN lut l ON e.sub = l.sub AND e.code = l.code
       |  GROUP BY e.vec_id
       |  ORDER BY adc_d2, e.vec_id
       |  LIMIT 50
       |)
       |SELECT s.vec_id, CAST(SUM((s.v - qv.v) * (s.v - qv.v)) AS BIGINT) AS d2
       |FROM spe s
       |JOIN adc ON s.vec_id = adc.vec_id
       |JOIN spe qv ON qv.vec_id = 0 AND qv.sub = s.sub AND qv.pos = s.pos
       |GROUP BY s.vec_id
       |ORDER BY d2, s.vec_id
       |LIMIT 10""".stripMargin

  /** Filtered IVF+PQ search: identical machinery to `q_ivfpq_search`
    * with the label predicate dropped on the candidate set BEFORE the
    * ADC shortlist (so all 50 shortlist slots go to matching vectors)
    * and probes doubled 2 → 4 for the filter's recall cost — the
    * filtered-search contract on the codes-not-floats 100 TB layout.
    */
  def qIvfPqFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val coarse = Similarity.centroidsAsVectors(trainedKmeans(s, dir))
    Similarity.ivfpqSearchFiltered(e, coarse, col("label") === FilterLabel,
      queryVecId = 0L, probes = 4,
      m = PqM, k = PqK, iters = PqIters, shortlist = 50, topK = 10, dims = Dims,
      fit = pqFitShared(s, dir))
  }

  /** Derived from `qIvfPqSearchSql` by two structural rewrites (probes
    * 2 → 4; the label join in `cand`) — deriving rather than duplicating
    * keeps the 50-line PQ pipeline in ONE place, and the require guards
    * the rewrite anchors against drift.
    */
  val qIvfPqFilteredSql: String = {
    val base = qIvfPqSearchSql
    require(base.contains("LIMIT 2") && !base.replaceFirst("LIMIT 2", "").contains("LIMIT 2"),
      "probed LIMIT anchor changed/ambiguous — update qIvfPqFilteredSql")
    val candBlock =
      """cand AS (
        |  SELECT a.vec_id FROM assign a JOIN probed p ON a.cell = p.cell
        |  WHERE a.vec_id <> 0
        |)""".stripMargin
    // guard the second rewrite anchor too (r7 advice #3): an unanchored
    // String.replace silently no-ops when the cand CTE text drifts, and
    // the derived oracle would lose its label filter
    require(base.contains(candBlock),
      "cand CTE anchor changed — update qIvfPqFilteredSql")
    base
      .replace("LIMIT 2", "LIMIT 4")
      .replace(candBlock,
        s"""cand AS (
           |  SELECT a.vec_id FROM assign a JOIN probed p ON a.cell = p.cell
           |  JOIN embeddings em ON a.vec_id = em.vec_id
           |  WHERE a.vec_id <> 0 AND em.label = $FilterLabel
           |)""".stripMargin)
  }

  /** Filtered warm PQ serving from the SAME persisted IVF+PQ index
    * (codes saved with the `label` column): parameters identical to
    * `q_ivfpq_filtered`, so it shares that oracle — the predicate
    * prunes the codes scan before ADC, raw vectors touched only for
    * the re-rank.
    */
  def qIvfPqServedFiltered(s: SparkSession, dir: String): DataFrame =
    graft.sources.VectorIndex.pqServeFiltered(
      s, pqIndexPath(s, dir), col("label") === FilterLabel,
      queryVecId = 0L, probes = 4, m = PqM, shortlist = 50, topK = 10, dims = Dims)

  // ------------------------------------------------------- corpus stats

  /** Cross-source shared-shingle contamination matrix (see
    * [[graft.operators.CorpusStats.sourceOverlapMatrix]]).
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.sourceOverlapMatrix(docs(s, dir))

  val qSourceOverlapSql: String =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT source AS src, shingle FROM (
      |    SELECT source, unnest(list_transform(generate_series(1, len(t) - 2),
      |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |    FROM toks WHERE len(t) >= 3
      |  )
      |)
      |SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
      |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.src < b.src
      |GROUP BY a.src, b.src
      |ORDER BY source_a, source_b""".stripMargin

  /** Deterministic epoch-seeded corpus shuffle into shards (see
    * [[graft.operators.TrainingPrep.shuffleShards]]).
    */
  def qShuffleShard(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.shuffleShards(docs(s, dir), seed = "epoch1", nShards = 8)
      .orderBy("doc_id")

  val qShuffleShardSql: String =
    """WITH k AS (
      |  SELECT doc_id, md5('epoch1' || '|' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents
      |),
      |h AS (
      |  SELECT doc_id, skey,
      |         (strpos('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substr(skey, 2, 1)) - 1) AS h2
      |  FROM k
      |)
      |SELECT doc_id, CAST(h2 % 8 AS BIGINT) AS shard,
      |       CAST(row_number() OVER (PARTITION BY h2 % 8 ORDER BY skey, doc_id) - 1
      |            AS BIGINT) AS ord
      |FROM h ORDER BY doc_id""".stripMargin

  /** Sliding-window chunking for embedding/retrieval prep (see
    * [[graft.operators.TrainingPrep.chunkDocuments]]): 64-token
    * windows, stride 48.
    */
  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.chunkDocuments(docs(s, dir), size = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  val qChunkDocsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |         len(string_split(text, ' ')) AS len
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, t, len,
      |         unnest(generate_series(0, (len - 1) // 48)) AS chunk_id
      |  FROM t
      |)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |       CAST(chunk_id * 48 + 1 AS BIGINT) AS chunk_start,
      |       CAST(least(64, len - chunk_id * 48) AS BIGINT) AS chunk_len,
      |       array_to_string(t[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Exact per-source token-count percentiles (see
    * [[graft.operators.CorpusStats.lengthPercentiles]]).
    */
  def qLengthPctl(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.lengthPercentiles(docs(s, dir))

  val qLengthPctlSql: String =
    """WITH t AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents
      |),
      |r AS (
      |  SELECT source, nt,
      |         row_number() OVER (PARTITION BY source ORDER BY nt) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM t
      |)
      |SELECT source,
      |  max(CASE WHEN rn = (n * 25 + 99) // 100 THEN nt END) AS p25,
      |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN nt END) AS p50,
      |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN nt END) AS p90,
      |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN nt END) AS p99
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Per-source top-5 tf-idf terms (see
    * [[graft.operators.CorpusStats.tfidfTopTerms]]).
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.tfidfTopTerms(docs(s, dir), k = 5)

  val qTfidfSql: String =
    """WITH tok AS (
      |  SELECT source, doc_id AS doc, unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |),
      |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
      |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc, term FROM tok)
      |       GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |sc AS (
      |  SELECT tf.source, tf.term, tf.tf,
      |         round(ln(CAST(n.n AS DOUBLE) / df.df) * 100000.0) / 100000.0 AS idf
      |  FROM tf JOIN df ON tf.term = df.term, n
      |)
      |SELECT source, term, tf, idf, tfidf FROM (
      |  SELECT source, term, tf, idf, tf * idf AS tfidf,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY tf * idf DESC, term) AS rn
      |  FROM sc
      |) WHERE rn <= 5
      |ORDER BY source, term""".stripMargin

  def qIvfSearch(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearch(embs(s, dir), queryVecId = 0L, k = 8, probes = 2, topK = 10, dims = Dims)

  /** Persisted-IVF handle + warm ANN serving plan (the vector member
    * of the serving triad; Bench times it as `ann_warm_sec`). The
    * served ranking shares `q_ivf_search`'s oracle — the cell-clustered
    * index round trip is lossless.
    */
  private val vecIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def vectorIndexPath(s: SparkSession, dir: String): String =
    vecIndexPaths.getOrElseUpdate(dir,
      graft.sources.VectorIndex.save(embs(s, dir),
        "target/graft-wh/" + dir.replaceAll("[^A-Za-z0-9]", "_") + "/_vecindex",
        k = 8, dims = Dims, metaCols = Seq("label")))

  private val annPlans = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def annServe(s: SparkSession, dir: String): DataFrame =
    annPlans.getOrElseUpdate(dir, graft.sources.VectorIndex.annServe(
      s, vectorIndexPath(s, dir), queryVecId = 0L, probes = 2, topK = 10, dims = Dims))

  def qIvfServed(s: SparkSession, dir: String): DataFrame = annServe(s, dir)

  /** Persisted binary-quantized layout + warm serving plan (the 1-bit
    * member of the served ladder; Bench times it as `bq_warm_sec`).
    * Parameters identical to `q_bq_search` (query 0, shortlist 50,
    * top-10), so it shares that oracle — the packed words and the
    * float re-rank rows round-trip parquet losslessly.
    */
  private val bqIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def bqIndexPath(s: SparkSession, dir: String): String =
    bqIndexPaths.getOrElseUpdate(dir,
      graft.sources.VectorIndex.saveBq(embs(s, dir),
        "target/graft-wh/" + dir.replaceAll("[^A-Za-z0-9]", "_") + "/_bqindex",
        dims = Dims))

  private val bqPlans = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def bqServe(s: SparkSession, dir: String): DataFrame =
    bqPlans.getOrElseUpdate(dir, graft.sources.VectorIndex.bqServe(
      s, bqIndexPath(s, dir), queryVecId = 0L, shortlist = BqShortlist,
      topK = 10, dims = Dims))

  def qBqServed(s: SparkSession, dir: String): DataFrame = bqServe(s, dir)

  /** Filtered warm serving from the SAME persisted index (saved with
    * the `label` metadata column): parameters identical to
    * `q_ivf_filtered` (query 0, k 8, probes 4, topK 10, label 3), so
    * it shares that oracle — the metadata predicate round-trips the
    * cell-clustered index losslessly and lands in the same pruned
    * parquet scan as the `cell IN` predicate.
    */
  def qIvfServedFiltered(s: SparkSession, dir: String): DataFrame =
    graft.sources.VectorIndex.annServeFiltered(
      s, vectorIndexPath(s, dir), col("label") === FilterLabel,
      queryVecId = 0L, probes = 4, topK = 10, dims = Dims)

  /** Persisted IVF+PQ index + warm ADC serving plan (the
    * codes-not-floats 100 TB layout; Bench times it as `pq_warm_sec`).
    * Shares `q_ivfpq_search`'s oracle — training, codes and every
    * distance ride the exact micro lattice through parquet, so the
    * served top-k is row-identical to the batch pipeline.
    */
  private val pqIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def pqIndexPath(s: SparkSession, dir: String): String =
    pqIndexPaths.getOrElseUpdate(dir,
      graft.sources.VectorIndex.savePq(embs(s, dir),
        "target/graft-wh/" + dir.replaceAll("[^A-Za-z0-9]", "_") + "/_pqindex",
        kCoarse = 8, coarseIters = 2, m = PqM, k = PqK, iters = PqIters, dims = Dims,
        metaCols = Seq("label")))

  // serve parameters are DEFINED identical to qIvfPqSearch's (query 0,
  // probes 2, shortlist 50, topK 10, m/k/iters = Pq*) — q_ivfpq_served
  // shares its oracle SQL, so a drift here breaks the hash compare
  private val pqPlans = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def pqServe(s: SparkSession, dir: String): DataFrame =
    pqPlans.getOrElseUpdate(dir, graft.sources.VectorIndex.pqServe(
      s, pqIndexPath(s, dir), queryVecId = 0L, probes = 2, m = PqM,
      shortlist = 50, topK = 10, dims = Dims))

  def qIvfPqServed(s: SparkSession, dir: String): DataFrame = pqServe(s, dir)

  /** ANN quality evaluation — recall@10 of the IVF index (k=8,
    * probes=2) against the exact brute-force top-10: the accept/reject
    * metric a pipeline computes before trusting an approximate index.
    * Pure composition of two oracled queries; all-integer output.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    qIvfSearch(s, dir).select(col("vec_id"))
      .join(qSimTopK(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  // def, not val: composes SQL vals declared later in this object
  def qAnnRecallSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qIvfSearchSql) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin

  /** recall@10-vs-probes curve for the IVF search (probes 1/2/4/8 of 8
    * cells): the whole oversearch knob in one result — recall rises
    * toward 1.0 as probes approach k while scan fraction rises
    * probes/k. Four searches over the same assignment; at 100 TB this
    * is the offline tuning artifact that picks the serving probes.
    */
  def qIvfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val exact = qSimTopK(s, dir).select(col("vec_id"))
    Seq(1, 2, 4, 8).map { p =>
      Similarity.ivfSearch(embs(s, dir), queryVecId = 0L, k = 8,
        probes = p, topK = 10, dims = Dims)
        .select(col("vec_id"))
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(p).as("probes"), col("n_overlap"),
          (col("n_overlap") * lit(100000L)).as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy("probes")
  }

  /** Derived from `qIvfSearchSql` per probes value (the probed-cells
    * LIMIT is its only `LIMIT 2`; guarded). */
  def qIvfRecallCurveSql: String = {
    require(qIvfSearchSql.contains("LIMIT 2")
        && !qIvfSearchSql.replaceFirst("LIMIT 2", "").contains("LIMIT 2"),
      "probed LIMIT anchor changed/ambiguous — update qIvfRecallCurveSql")
    Seq(1, 2, 4, 8).map { p =>
      val ivf = qIvfSearchSql.replace("LIMIT 2", s"LIMIT $p")
      s"""SELECT $p AS probes, CAST(count(*) AS BIGINT) AS n_overlap,
         |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
         |FROM ($ivf) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY probes")
  }

  /** recall@10 of the multi-probe LSH search vs the exact top-10 —
    * the companion eval quantifying what the 8 extra bucket probes buy
    * over `q_ann_recall`'s IVF probe-2 figure.
    */
  def qMultiProbeRecall(s: SparkSession, dir: String): DataFrame =
    qMultiProbe(s, dir).select(col("vec_id"))
      .join(qSimTopK(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  def qMultiProbeRecallSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qMultiProbeSql) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin

  val qIvfSearchSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |               FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cent_id AS cell
       |  FROM cents, q
       |  ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC, cent_id
       |  LIMIT 2
       |)
       |SELECT e.vec_id, a.cell, round(${cosSql("e.embedding", "qe")}, 6) AS cos_sim
       |FROM assign a
       |JOIN probed p ON a.cell = p.cell
       |JOIN embeddings e ON a.vec_id = e.vec_id, q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, e.vec_id
       |LIMIT 10""".stripMargin

  // ------------------------------------------------------ cleaning capstone

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline runs before tokenization: language gate + quality gate +
    * exact-duplicate canonical + near-dup group representative. Every
    * stage is individually oracled; this query hash-checks their
    * COMPOSITION (filters, semi/anti joins, the iterative grouping, and
    * the scoring all interacting in one plan).
    */
  def qCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = TextAnalysis.tokens(col("text"))
    val scored = d.select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(t, col("text")).as("quality"))
    // survivors of exact dedup: docs that ARE their group's canonical id
    val exactCanon = Dedup.exactDedup(d).select(col("canonical_id").as("doc_id"))
    // demoted by near-dup grouping: members that are NOT the representative
    // the UNORDERED pair set: the grouping consumes a set, and the
    // user-facing orderBy would cost a sample pass + sort shuffle here
    val demoted = Dedup.nearDupGroups(Dedup.minhashPairs(d, k = 8, bands = 4, threshold = 0.5))
      .filter(col("doc_id") =!= col("group_id")).select("doc_id")
    scored
      .filter(col("lang") === "en" && col("quality") >= 0.5)
      .join(exactCanon, Seq("doc_id"), "left_semi")
      .join(demoted, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  val qCleanCorpusSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""WITH RECURSIVE ${DedupQueries.groupsCte},
       |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |scored AS (
       |  SELECT doc_id, lang,
       |    0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |      + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |      + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)) AS quality
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |)
       |SELECT s.doc_id, s.lang, s.quality
       |FROM scored s
       |JOIN canon c ON s.doc_id = c.doc_id
       |LEFT JOIN grp g ON s.doc_id = g.doc_id AND g.doc_id <> g.group_id
       |WHERE s.lang = 'en' AND s.quality >= 0.5 AND g.doc_id IS NULL
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Attrition funnel of the cleaning capstone (see
    * [[graft.operators.Funnel.funnel]]): per-gate rows_in/rows_out/
    * dropped for lang → quality → exact-canonical → near-dedup, in ONE
    * aggregation pass over the flagged corpus. The final rows_out is
    * by construction `q_clean_corpus`'s row count — the funnel is the
    * pipeline's published accounting of the same composition.
    */
  def qCleanFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = TextAnalysis.tokens(col("text"))
    val scored = d.select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(t, col("text")).as("quality"))
    val exactCanon = Dedup.exactDedup(d)
      .select(col("canonical_id").as("doc_id"), lit(true).as("is_canon"))
    val demoted = Dedup.nearDupGroups(Dedup.minhashPairs(d, k = 8, bands = 4, threshold = 0.5))
      .filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"), lit(true).as("is_demoted"))
    val flagged = scored
      .join(exactCanon, Seq("doc_id"), "left")
      .join(demoted, Seq("doc_id"), "left")
    graft.operators.Funnel.funnel(flagged, Seq(
      "lang" -> (col("lang") === "en"),
      "quality" -> (col("quality") >= 0.5),
      "exact_canonical" -> col("is_canon").isNotNull,
      "near_dedup" -> col("is_demoted").isNull))
  }

  val qCleanFunnelSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""WITH RECURSIVE ${DedupQueries.groupsCte},
       |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |scored AS (
       |  SELECT doc_id, lang,
       |    0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |      + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |      + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)) AS quality
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |),
       |flags AS (
       |  SELECT (s.lang = 'en') AS f1,
       |         (s.quality >= 0.5) AS f2,
       |         (c.doc_id IS NOT NULL) AS f3,
       |         (g.doc_id IS NULL) AS f4
       |  FROM scored s
       |  LEFT JOIN canon c ON s.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM grp WHERE doc_id <> group_id) g
       |         ON s.doc_id = g.doc_id
       |),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS c0,
       |         CAST(count(CASE WHEN f1 THEN 1 END) AS BIGINT) AS c1,
       |         CAST(count(CASE WHEN f1 AND f2 THEN 1 END) AS BIGINT) AS c2,
       |         CAST(count(CASE WHEN f1 AND f2 AND f3 THEN 1 END) AS BIGINT) AS c3,
       |         CAST(count(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 END) AS BIGINT) AS c4
       |  FROM flags
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'lang' AS stage,
       |         c0 AS rows_in, c1 AS rows_out, c0 - c1 AS dropped FROM agg
       |  UNION ALL SELECT 2, 'quality', c1, c2, c1 - c2 FROM agg
       |  UNION ALL SELECT 3, 'exact_canonical', c2, c3, c2 - c3 FROM agg
       |  UNION ALL SELECT 4, 'near_dedup', c3, c4, c3 - c4 FROM agg
       |)
       |ORDER BY stage_idx""".stripMargin
  }

  /** Quality-gate CALIBRATION: per source, the quality threshold that
    * keeps the top 60% / 30% of documents (nearest-rank inverse
    * quantile on the quality-descending order) plus how many a
    * `quality ≥ 0.5` gate actually keeps — the table an operator reads
    * to set per-source thresholds instead of one global constant.
    * Quality micro-snaps to the integer lattice first so every
    * comparison and count is engine-exact. One window pass per source.
    */
  def qGateCalibration(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
      round(TextAnalysis.qualityScore(t, col("text")) * lit(1000000.0))
        .cast("long").as("q_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q_micro").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        max(when(col("rn") === ceil(col("n") * lit(0.6)).cast("int"), col("q_micro")))
          .as("keep60_threshold_micro"),
        max(when(col("rn") === ceil(col("n") * lit(0.3)).cast("int"), col("q_micro")))
          .as("keep30_threshold_micro"),
        sum(when(col("q_micro") >= 500000L, 1L).otherwise(0L)).as("kept_at_half"))
      .orderBy("source")
  }

  val qGateCalibrationSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(round((0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |      + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |      + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)))
       |      * 1000000.0) AS BIGINT) AS q_micro
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |),
       |ranked AS (
       |  SELECT source, q_micro,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY q_micro DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY source) AS n
       |  FROM scored
       |)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |       max(CASE WHEN rn = CAST(ceil(n * 0.6) AS INT) THEN q_micro END)
       |         AS keep60_threshold_micro,
       |       max(CASE WHEN rn = CAST(ceil(n * 0.3) AS INT) THEN q_micro END)
       |         AS keep30_threshold_micro,
       |       CAST(SUM(CASE WHEN q_micro >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS kept_at_half
       |FROM ranked GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Per-SOURCE attrition funnel of the same gate chain (see
    * [[graft.operators.Funnel.funnelBy]]) — which cohort dies at which
    * gate; one bounded-key aggregation.
    */
  def qSourceFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = TextAnalysis.tokens(col("text"))
    val scored = d.select(col("doc_id"), col("source"), col("lang"),
      TextAnalysis.qualityScore(t, col("text")).as("quality"))
    val exactCanon = Dedup.exactDedup(d)
      .select(col("canonical_id").as("doc_id"), lit(true).as("is_canon"))
    val demoted = Dedup.nearDupGroups(Dedup.minhashPairs(d, k = 8, bands = 4, threshold = 0.5))
      .filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"), lit(true).as("is_demoted"))
    val flagged = scored
      .join(exactCanon, Seq("doc_id"), "left")
      .join(demoted, Seq("doc_id"), "left")
    graft.operators.Funnel.funnelBy(flagged, "source", Seq(
      "lang" -> (col("lang") === "en"),
      "quality" -> (col("quality") >= 0.5),
      "exact_canonical" -> col("is_canon").isNotNull,
      "near_dedup" -> col("is_demoted").isNull))
  }

  val qSourceFunnelSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""WITH RECURSIVE ${DedupQueries.groupsCte},
       |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |scored AS (
       |  SELECT doc_id, source, lang,
       |    0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |      + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |      + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)) AS quality
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |),
       |flags AS (
       |  SELECT s.source AS "group",
       |         (s.lang = 'en') AS f1,
       |         (s.quality >= 0.5) AS f2,
       |         (c.doc_id IS NOT NULL) AS f3,
       |         (g.doc_id IS NULL) AS f4
       |  FROM scored s
       |  LEFT JOIN canon c ON s.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM grp WHERE doc_id <> group_id) g
       |         ON s.doc_id = g.doc_id
       |),
       |agg AS (
       |  SELECT "group",
       |         CAST(count(*) AS BIGINT) AS c0,
       |         CAST(count(CASE WHEN f1 THEN 1 END) AS BIGINT) AS c1,
       |         CAST(count(CASE WHEN f1 AND f2 THEN 1 END) AS BIGINT) AS c2,
       |         CAST(count(CASE WHEN f1 AND f2 AND f3 THEN 1 END) AS BIGINT) AS c3,
       |         CAST(count(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 END) AS BIGINT) AS c4
       |  FROM flags GROUP BY "group"
       |)
       |SELECT * FROM (
       |  SELECT "group", CAST(1 AS BIGINT) AS stage_idx, 'lang' AS stage,
       |         c0 AS rows_in, c1 AS rows_out, c0 - c1 AS dropped FROM agg
       |  UNION ALL SELECT "group", 2, 'quality', c1, c2, c1 - c2 FROM agg
       |  UNION ALL SELECT "group", 3, 'exact_canonical', c2, c3, c2 - c3 FROM agg
       |  UNION ALL SELECT "group", 4, 'near_dedup', c3, c4, c3 - c4 FROM agg
       |)
       |ORDER BY "group", stage_idx""".stripMargin
  }

  // ------------------------------------------------- training-batch prep

  /** Contiguous-fill sequence packing (see
    * [[graft.operators.TrainingPrep.packSequences]]): shard the doc
    * stream, cut each shard's concatenated token stream into
    * 2048-token bins. Pure integer window arithmetic — hash-exact.
    */
  def qPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.packSequences(docs(s, dir), budget = 2048, shards = 8,
      tokenCountCol = size(split(col("text"), " ")))
      .orderBy("doc_id")

  val qPackSequencesSql: String =
    """SELECT doc_id, doc_id % 8 AS shard, nt AS n_tokens,
      |       CAST(cb // 2048 AS BIGINT) AS bin,
      |       CAST(cb % 2048 AS BIGINT) AS bin_offset
      |FROM (
      |  SELECT doc_id, nt,
      |         COALESCE(SUM(nt) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
      |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |                  0) AS cb
      |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |        FROM documents)
      |)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling — a training-mixture recipe
    * (50% en, 20% everything else) decided by an md5 hex-prefix
    * threshold ([[graft.operators.TrainingPrep.hexThreshold]]): md5 is
    * bit-identical across engines and the prefix comparison is plain
    * string order, so the keep set is hash-exact.
    */
  def qSampleMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.sampleStrata(docs(s, dir), "lang",
      rates = Map("en" -> 0.5), defaultRate = 0.2)
      .select(col("doc_id"), col("lang"), col("sample_rate"))
      .orderBy("doc_id")

  val qSampleMixSql: String = {
    val en = graft.operators.TrainingPrep.hexThreshold(0.5)
    val rest = graft.operators.TrainingPrep.hexThreshold(0.2)
    s"""SELECT doc_id, lang,
       |       CASE WHEN lang = 'en' THEN CAST(0.5 AS DOUBLE)
       |            ELSE CAST(0.2 AS DOUBLE) END AS sample_rate
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
       |      CASE WHEN lang = 'en' THEN '$en' ELSE '$rest' END
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: eval set = every 97th doc (a stand-in
    * benchmark); report corpus docs sharing any 3-gram shingle with it.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.TrainingPrep.contaminationReport(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0))
      .orderBy("doc_id")
  }

  val qDecontaminateSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3
      |),
      |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0),
      |corp AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 97 <> 0)
      |SELECT c.doc_id, CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared
      |FROM corp c JOIN ev ON c.shingle = ev.shingle
      |GROUP BY c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** Gopher-style repetition stats: most-repeated-2-gram share and
    * duplicated-token share, exact integer ppm.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.repetitionStats(docs(s, dir))
      .orderBy("doc_id")

  val qRepetitionSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |b AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
      |         CAST(len(list_distinct(t)) AS BIGINT) AS nu
      |  FROM toks WHERE len(t) >= 2
      |),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |                        i -> t[i] || ' ' || t[i+1])) AS gr
      |  FROM toks WHERE len(t) >= 2
      |),
      |gc AS (SELECT doc_id, gr, count(*) AS c FROM g GROUP BY doc_id, gr),
      |p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |             CAST(max(c) AS BIGINT) AS top_n
      |      FROM gc GROUP BY doc_id)
      |SELECT b.doc_id, n_grams, top_n,
      |       CAST(round(top_n * 1000000.0 / n_grams) AS BIGINT) AS top_gram_ppm,
      |       CAST(round((nt - nu) * 1000000.0 / nt) AS BIGINT) AS dup_token_ppm
      |FROM b JOIN p ON b.doc_id = p.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ----------------------------------------------------------- multimodal

  def qMultimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(Multimodal.fakeMediaTable(s, dir))
      .toDF().orderBy("doc_id")

  val qMultimodalSql: String =
    """SELECT doc_id,
      |  CAST(64 + strlen(text) % 577 AS BIGINT) AS width,
      |  CAST(64 + (strlen(text) * 31) % 417 AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  CAST(1 + strlen(text) % 7 AS BIGINT) AS n_frames,
      |  CAST(strlen(text) AS BIGINT) AS payload_len,
      |  md5(text) AS content_hash,
      |  'raw' AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL image decode end-to-end: deterministic PNG/BMP/GIF payloads
    * generated from doc_id arithmetic, decoded back through the JDK's
    * ImageIO. The oracle recomputes the generation parameters in SQL, so
    * the query only matches if encode→ImageIO-decode round-trips
    * width/height/channels/frame-count exactly and the magic-byte sniff
    * identifies every container.
    */
  def qMediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(Multimodal.synthMediaTable(s, dir))
      .toDF()
      .select("doc_id", "width", "height", "channels", "n_frames", "format")
      .orderBy("doc_id")

  val qMediaDecodeSql: String =
    """SELECT doc_id,
      |  CAST(8 + doc_id % 25 AS BIGINT) AS width,
      |  CAST(8 + (doc_id * 3) % 17 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 4 ELSE 1 END AS BIGINT) AS n_frames,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'gif' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Perceptual dHash over the REAL decoded BMP payloads (see
    * [[graft.operators.Multimodal.dHash]]): the oracle recomputes every
    * 64-bit gradient hash analytically from the synthetic pixel
    * formula, so a single wrong decoded pixel, block boundary or
    * luminance coefficient breaks the hash compare. Restricted to the
    * BMP third of the media table (lossless 3BYTE_BGR round trip;
    * PNG-gray ids go through a colorspace conversion the oracle can't
    * replicate) and to widths ≥ 9 (the 9×8 grid needs nonempty
    * blocks — w = 8 iff doc_id % 25 = 0).
    */
  def qDhash(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.dHash(
      graft.operators.Multimodal.synthMediaTable(s, dir,
        where = col("doc_id") % 3 === 1 && col("doc_id") % 25 =!= 0))
      .toDF()
      .orderBy("doc_id")

  /** Shared dHash CTE chain, ending in `dh` = (doc_id, width, height,
    * hash_hi, hash_lo) — the analytic recomputation of every hash from
    * the synthetic pixel formula.
    */
  private val dhashCtes: String = dhashCtesFrom(None)

  /** Groups-eval universe cap (r15): the GROUPS oracle re-derives
    * components with a recursive-CTE transitive closure, which
    * materializes Σ|component|² reach rows — checker-infeasible on the
    * closed fixture's sf2 giant component (the engine path is LS/SS
    * and uncapped). Same sampled-universe contract as the other
    * pinned-replay caps: a no-op through sf1 (doc ids < 50000), a
    * bound past it.
    */
  private val DhashGroupsCap = 50000L

  private def dhashCtesFrom(cap: Option[Long]): String =
    s"""ids AS (
      |  SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 3) % 17 AS h
      |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 25 <> 0${cap.map(c => s" AND doc_id < $c").getOrElse("")}),
      |px AS (
      |  SELECT doc_id, w, h, s % w AS x, s // w AS y
      |  FROM (SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS s FROM ids)),
      |lum AS (
      |  SELECT doc_id, w, h,
      |         ((9 * x + 8) // w) AS bi, ((8 * y + 7) // h) AS bj,
      |         ((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587 + (v & 255) * 114) // 1000)
      |           AS l
      |  FROM (SELECT *, (doc_id * 31 + y * w + x) & 16777215 AS v FROM px)),
      |blocks AS (
      |  SELECT doc_id, w, h, bj, bi,
      |         CAST(sum(l) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS m
      |  FROM lum GROUP BY 1, 2, 3, 4, 5),
      |bits AS (
      |  SELECT a.doc_id, a.w, a.h, a.bj * 8 + a.bi AS k,
      |         CASE WHEN b.m > a.m THEN 1 ELSE 0 END AS bit
      |  FROM blocks a JOIN blocks b
      |    ON a.doc_id = b.doc_id AND a.bj = b.bj AND b.bi = a.bi + 1
      |  WHERE a.bi < 8),
      |dh AS (
      |  SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |         CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |                       THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
      |           AS hash_hi,
      |         CAST(sum(CASE WHEN bit = 1 AND k < 32
      |                       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
      |           AS hash_lo
      |  FROM bits GROUP BY 1, 2, 3)""".stripMargin

  val qDhashSql: String =
    s"WITH $dhashCtes\nSELECT * FROM dh ORDER BY doc_id"

  /** Image near-dup pairs via byte-band blocking over the dHashes (see
    * [[graft.operators.Multimodal.dHashNearDup]]): candidates share at
    * least one of the 8 byte bands (pigeonhole-lossless for hamming ≤
    * 7), verified by exact popcount.
    */
  def qDhashNear(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.dHashNearDup(
      graft.operators.Multimodal.dHash(
        graft.operators.Multimodal.synthMediaTable(s, dir,
          where = col("doc_id") % 3 === 1 && col("doc_id") % 25 =!= 0)).toDF())

  val qDhashNearSql: String =
    s"""WITH $dhashCtes,
       |bands AS (
       |  SELECT doc_id, hash_hi, hash_lo, k,
       |         CASE WHEN k < 4 THEN (hash_lo >> (8 * k)) & 255
       |              ELSE (hash_hi >> (8 * (k - 4))) & 255 END AS b
       |  FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |         x.hash_hi AS ha, x.hash_lo AS la, y.hash_hi AS hb, y.hash_lo AS lb
       |  FROM bands x JOIN bands y
       |    ON x.k = y.k AND x.b = y.b AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b,
       |       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 7
       |ORDER BY id_a, id_b""".stripMargin

  /** Image near-dup GROUPS: min-label connected components over the
    * dHash hamming pairs; since r15 through
    * [[graft.operators.Multimodal.dHashGroups]], which runs the CC
    * loop on the distinct-HASH graph and never materializes the
    * doc-level pair expansion (identical output — the min-label of a
    * component is the min per-hash representative). The oracle
    * re-derives components with the recursive-CTE closure (the
    * `q_dedup_groups` check pattern on image edges).
    */
  def qDhashGroups(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.dHashGroups(
      graft.operators.Multimodal.dHash(
        graft.operators.Multimodal.synthMediaTable(s, dir,
          where = col("doc_id") % 3 === 1 && col("doc_id") % 25 =!= 0 &&
            col("doc_id") < DhashGroupsCap)).toDF())
      .orderBy("doc_id")

  val qDhashGroupsSql: String =
    s"""WITH RECURSIVE ${dhashCtesFrom(Some(DhashGroupsCap))},
       |bands AS (
       |  SELECT doc_id, hash_hi, hash_lo, k,
       |         CASE WHEN k < 4 THEN (hash_lo >> (8 * k)) & 255
       |              ELSE (hash_hi >> (8 * (k - 4))) & 255 END AS b
       |  FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k)),
       |npairs AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.k = y.k AND x.b = y.b AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.hash_hi, y.hash_hi))
       |      + bit_count(xor(x.hash_lo, y.hash_lo)) <= 7),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM npairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM npairs
       |),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |)
       |SELECT u AS doc_id, least(u, min(v)) AS group_id
       |FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin

  /** Real thumbnail resize over the synthetic media table (see
    * [[graft.operators.Multimodal.resizeThumbs]]): decode →
    * bilinear-scale into a 16-box → PNG re-encode → RE-DECODE. The
    * oracle recomputes source dims from the generation arithmetic and
    * target dims from the integer fit-to-box rule — the row only
    * matches if the whole image pipeline round-trips.
    */
  def qMediaResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeThumbs(Multimodal.synthMediaTable(s, dir), maxDim = 16)
      .toDF()
      .select("doc_id", "width", "height", "thumb_w", "thumb_h")
      .orderBy("doc_id")

  val qMediaResizeSql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 25 AS BIGINT) AS width,
      |         CAST(8 + (doc_id * 3) % 17 AS BIGINT) AS height
      |  FROM documents)
      |SELECT doc_id, width, height,
      |       greatest(1, width * 16 // greatest(width, height)) AS thumb_w,
      |       greatest(1, height * 16 // greatest(width, height)) AS thumb_h
      |FROM dims ORDER BY doc_id""".stripMargin

  /** Frame sampling over REAL GIF frame counts (n_frames from the
    * ImageIO reader's image-index scan, not arithmetic).
    */
  def qMediaFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeMeta(Multimodal.synthMediaTable(s, dir)).toDF())
      .select("doc_id", "frame_idx")
      .orderBy("doc_id", "frame_idx")

  val qMediaFramesSql: String =
    """SELECT doc_id,
      |       unnest(generate_series(0, CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 ELSE 0 END)) AS frame_idx
      |FROM documents ORDER BY doc_id, frame_idx""".stripMargin

  /** REAL audio decode end-to-end: deterministic PCM-16 WAV payloads
    * generated from doc_id arithmetic (javax.sound.sampled — JDK
    * built-in), decoded back through the same subsystem. The oracle
    * recomputes sample rate / channels / frame count / integer-exact
    * duration from doc_id, so the query only matches if encode→decode
    * round-trips the WAV header exactly.
    */
  def qAudioDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioMeta(Multimodal.synthAudioTable(s, dir))
      .toDF()
      .select("doc_id", "sample_rate", "channels", "n_frames", "duration_ms", "format")
      .orderBy("doc_id")

  val qAudioDecodeSql: String =
    """SELECT doc_id,
      |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
      |  CAST(500 + (doc_id * 7) % 1000 AS BIGINT) AS n_frames,
      |  CAST((500 + (doc_id * 7) % 1000) * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT) AS duration_ms,
      |  'wav' AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  def qFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeMeta(Multimodal.fakeMediaTable(s, dir)).toDF())
      .orderBy("doc_id", "frame_idx")

  val qFramesSql: String =
    """SELECT doc_id, frame_idx, frame_idx * (payload_len // n_frames) AS frame_offset
      |FROM (
      |  SELECT doc_id,
      |         CAST(strlen(text) AS BIGINT) AS payload_len,
      |         CAST(1 + strlen(text) % 7 AS BIGINT) AS n_frames,
      |         unnest(generate_series(0, strlen(text) % 7)) AS frame_idx
      |  FROM documents
      |)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------- corpus LM / retrieval

  /** Corpus vocabulary heavy hitters (top 100 by corpus count). */
  def qVocabTop(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.vocabTop(docs(s, dir), k = 100)

  val qVocabTopSql: String =
    """SELECT term, CAST(count(*) AS BIGINT) AS tf,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |GROUP BY term
      |ORDER BY tf DESC, term
      |LIMIT 100""".stripMargin

  /** Top collocations by Dice score (see
    * [[graft.operators.CorpusStats.collocations]]): adjacent-pair
    * association mining on the exact integer-ppm lattice.
    */
  def qCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.collocations(docs(s, dir), minCount = 5, k = 50)

  val qCollocationsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |bgl AS (
      |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |           i -> {'a': t[i], 'b': t[i + 1]})) AS p
      |  FROM toks WHERE len(t) >= 2),
      |bg AS (
      |  SELECT p['a'] AS a, p['b'] AS b, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM bgl GROUP BY 1, 2)
      |SELECT bg.a, bg.b, bg.c_ab, ua.c AS c_a, ub.c AS c_b,
      |       2 * bg.c_ab * 1000000 // (ua.c + ub.c) AS dice_ppm
      |FROM bg JOIN uni ua ON bg.a = ua.w JOIN uni ub ON bg.b = ub.w
      |WHERE bg.c_ab >= 5
      |ORDER BY dice_ppm DESC, a, b
      |LIMIT 50""".stripMargin

  /** Per-source vocabulary profile (see
    * [[graft.operators.CorpusStats.vocabProfile]]).
    */
  def qVocabProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.vocabProfile(docs(s, dir))

  val qVocabProfileSql: String =
    """WITH st AS (
      |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf_s
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY source, term
      |),
      |g AS (SELECT term, CAST(SUM(tf_s) AS BIGINT) AS tf_g FROM st GROUP BY term),
      |agg AS (
      |  SELECT source, CAST(SUM(tf_s) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(count(CASE WHEN tf_s = 1 THEN 1 END) AS BIGINT) AS n_hapax,
      |         CAST(count(CASE WHEN tf_g = 1 THEN 1 END) AS BIGINT) AS n_global_hapax
      |  FROM st JOIN g USING (term)
      |  GROUP BY source
      |)
      |SELECT source, n_tokens, n_terms, n_hapax, n_global_hapax,
      |       CAST(round(CAST(n_terms AS DOUBLE) / n_tokens * 1000000.0) AS BIGINT) AS ttr_ppm,
      |       CAST(round(CAST(n_hapax AS DOUBLE) / n_terms * 1000000.0) AS BIGINT) AS hapax_ppm
      |FROM agg
      |ORDER BY source""".stripMargin

  /** Distinct-n diversity profile, n = 1..3 (see
    * [[graft.operators.CorpusStats.distinctNgrams]]).
    */
  def qDistinctNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.distinctNgrams(docs(s, dir), maxN = 3)

  val qDistinctNgramsSql: String = {
    val byN = (1 to 3).map { n =>
      s"""SELECT source, CAST($n AS BIGINT) AS n,
         |       unnest(list_distinct(list_transform(
         |         generate_series(1, len(t) - ${n - 1}),
         |         i -> array_to_string(t[i:i+${n - 1}], ' ')))) AS g
         |FROM tok WHERE len(t) >= $n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
       |totals AS (
       |  SELECT source, n.n,
       |         CAST(SUM(greatest(len(t) - n.n + 1, 0)) AS BIGINT) AS total_grams
       |  FROM tok CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
       |  GROUP BY source, n.n
       |),
       |grams AS ($byN),
       |d AS (SELECT source, n, CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams
       |      FROM grams GROUP BY source, n)
       |SELECT t.source, CAST(t.n AS BIGINT) AS n, t.total_grams,
       |       COALESCE(d.distinct_grams, 0) AS distinct_grams,
       |       CASE WHEN t.total_grams = 0 THEN 0
       |            ELSE CAST(round(CAST(COALESCE(d.distinct_grams, 0) AS DOUBLE)
       |                       / t.total_grams * 1000000.0) AS BIGINT) END AS distinct_ppm
       |FROM totals t LEFT JOIN d ON t.source = d.source AND t.n = d.n
       |ORDER BY t.source, t.n""".stripMargin
  }

  /** Per-source KL divergence from the corpus unigram distribution
    * (see [[graft.operators.CorpusStats.sourceKl]]).
    */
  def qSourceKl(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.sourceKl(docs(s, dir))

  val qSourceKlSql: String =
    """WITH st AS (
      |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf_s
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY source, term
      |),
      |tots AS (SELECT source, CAST(SUM(tf_s) AS BIGINT) AS t_s FROM st GROUP BY source),
      |g AS (SELECT term, CAST(SUM(tf_s) AS BIGINT) AS tf_g FROM st GROUP BY term),
      |totg AS (SELECT CAST(SUM(tf_g) AS BIGINT) AS t_g FROM g),
      |agg AS (
      |  SELECT st.source, CAST(SUM(tf_s) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(SUM(tf_s * CAST(round(ln((CAST(tf_s AS DOUBLE) / t_s)
      |                                       / (CAST(tf_g AS DOUBLE) / t_g))
      |                              * 100000.0) AS BIGINT)) AS BIGINT) AS kl_unit_total
      |  FROM st JOIN g USING (term) JOIN tots USING (source) CROSS JOIN totg
      |  GROUP BY st.source
      |)
      |SELECT source, n_tokens, n_terms, kl_unit_total,
      |       round(CAST(kl_unit_total AS DOUBLE) / n_tokens / 100000.0 * 1000000.0)
      |         / 1000000.0 AS kl_nats
      |FROM agg
      |ORDER BY source""".stripMargin

  /** Unigram-LM quality score per doc (see
    * [[graft.operators.CorpusStats.unigramNll]]): mean token NLL under
    * the corpus's own unigram distribution, on the 1e-5 ln lattice.
    */
  def qUnigramNll(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.unigramNll(docs(s, dir))

  val qUnigramNllSql: String =
    """WITH tok AS (
      |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
      |),
      |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
      |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS t FROM vocab)
      |SELECT doc AS doc_id, n_tokens, nll_total,
      |       CAST(nll_total AS DOUBLE) / n_tokens AS avg_nll
      |FROM (
      |  SELECT doc, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(SUM(CAST(round(-ln(CAST(tf AS DOUBLE) / t) * 100000.0) AS BIGINT))
      |              AS BIGINT) AS nll_total
      |  FROM tok JOIN vocab USING (term) CROSS JOIN tot
      |  GROUP BY doc
      |)
      |ORDER BY doc_id""".stripMargin

  /** Entity resolution: match a deterministically-dirtied copy of the
    * part-name table back to the canonical table within 1 edit
    * ([[graft.operators.FuzzyJoin.editJoin]] — PassJoin segment
    * candidates + levenshtein verify; oracle = the naive cross join).
    */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // entity string = name + '#' + key: the synthetic part table has only
    // 64 distinct names, so joining raw names is inherently all-pairs; the
    // composed record-linkage key keeps match groups bounded (~digit
    // neighborhoods), which is the realistic ER shape
    val part = graft.sources.Tables.parquet(s, s"$dir/part.parquet")
      .select(col("p_partkey"),
        concat(col("p_name"), lit("#"), col("p_partkey").cast("string")).as("ent"))
    val canon = part.select(col("p_partkey").as("r_id"), col("ent").as("name"))
    val dirty = part.select(col("p_partkey").as("l_id"),
      when(col("p_partkey") % 3 === 0,
        expr("substring(ent, 1, length(ent) - 1)"))       // 1 deletion (tail)
        .when(col("p_partkey") % 3 === 1,
          concat(col("ent"), lit("q")))                   // 1 insertion (tail)
        .otherwise(concat(lit("q"), expr("substring(ent, 2)"))) // 1 substitution (head)
        .as("name"))
    graft.operators.FuzzyJoin.editJoin(dirty, canon, maxDist = 1)
  }

  // Oracle note (r13): the naive `dirty CROSS JOIN canon` spec is
  // 4·10¹⁰ levenshtein calls at sf1 — DuckDB would run for hours. The
  // oracle now pre-blocks with the distance-1 PIGEONHOLE: split each
  // canon string into h1 = all-but-last-4 chars and h2 = last 4; a
  // single edit falls in exactly one piece, so any string within
  // distance 1 still carries h1 as its PREFIX or h2 as its SUFFIX
  // (the other piece's position shifts by at most the edit, never its
  // prefix/suffix role). Candidates = the union of both equi-joins,
  // verified by the same exact levenshtein predicate — the RESULT SET
  // is provably identical to the cross join for any input, only the
  // enumeration is blocked (mirroring, with a different scheme, what
  // the Spark side's PassJoin does). The split point is tuned to the
  // entity shape `name#id`: a 6-char tail chopped exactly the 6-digit
  // ids, collapsing h1 to the 64 part names (1.5·10⁸ candidate rows —
  // OOM'd DuckDB); the 4-char tail keeps ≥2 id digits in h1, so both
  // block families stay small at every id length.
  val qFuzzyJoinSql: String =
    """WITH base AS (
      |  SELECT p_partkey, p_name || '#' || CAST(p_partkey AS VARCHAR) AS ent FROM part
      |),
      |dirty AS (
      |  SELECT p_partkey AS l_id,
      |         CASE WHEN p_partkey % 3 = 0 THEN substring(ent, 1, length(ent) - 1)
      |              WHEN p_partkey % 3 = 1 THEN ent || 'q'
      |              ELSE 'q' || substring(ent, 2) END AS l_str
      |  FROM base
      |),
      |canon AS (
      |  SELECT p_partkey AS r_id, ent AS r_str,
      |         greatest(length(ent) - 4, 1) AS k1,
      |         substring(ent, 1, greatest(length(ent) - 4, 1)) AS h1,
      |         length(ent) - greatest(length(ent) - 4, 1) AS k2,
      |         substring(ent, greatest(length(ent) - 4, 1) + 1) AS h2
      |  FROM base
      |),
      |dpre AS (
      |  SELECT l_id, l_str, gs.k, substring(l_str, 1, gs.k) AS pre
      |  FROM dirty, (SELECT unnest(generate_series(1, 32)) AS k) gs
      |  WHERE gs.k <= length(l_str)
      |),
      |dsuf AS (
      |  SELECT l_id, l_str, gs.k,
      |         substring(l_str, length(l_str) - gs.k + 1) AS suf
      |  FROM dirty, (SELECT unnest(generate_series(0, 4)) AS k) gs
      |  WHERE gs.k <= length(l_str)
      |),
      |cand AS (
      |  SELECT DISTINCT l_id, l_str, r_id, r_str FROM (
      |    SELECT d.l_id, d.l_str, c.r_id, c.r_str
      |    FROM dpre d JOIN canon c ON d.k = c.k1 AND d.pre = c.h1
      |    UNION ALL
      |    SELECT d.l_id, d.l_str, c.r_id, c.r_str
      |    FROM dsuf d JOIN canon c ON d.k = c.k2 AND d.suf = c.h2
      |  )
      |)
      |SELECT l_id, r_id, CAST(levenshtein(l_str, r_str) AS BIGINT) AS dist
      |FROM cand
      |WHERE levenshtein(l_str, r_str) <= 1
      |ORDER BY l_id, r_id""".stripMargin

  /** Naive-Bayes source classifier, trained and scored on the corpus
    * itself (see [[graft.operators.Classifier.nbTrainScore]]) — the
    * deterministic quality/domain-classifier shape.
    */
  def qNbClassify(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classifier.nbTrainScore(docs(s, dir))

  val qNbClassifySql: String =
    """WITH tok AS (
      |  SELECT doc_id AS doc, source AS cls,
      |         unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |),
      |dt AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc, term),
      |tfc AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY cls, term),
      |cstat AS (SELECT cls, CAST(count(*) AS BIGINT) AS t_c FROM tok GROUP BY cls),
      |vocabn AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tok),
      |ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |prior AS (
      |  SELECT source AS cls,
      |         CAST(round(-ln(CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE))
      |              * 100000.0) AS BIGINT) AS prior_nll
      |  FROM documents CROSS JOIN ndocs GROUP BY source, n_docs
      |),
      |scored AS (
      |  SELECT dt.doc, cs.cls,
      |         CAST(SUM(dt.n * CAST(round(-ln(CAST(COALESCE(tfc.tf, 0) + 1 AS DOUBLE)
      |              / CAST(cs.t_c + v.v AS DOUBLE)) * 100000.0) AS BIGINT)) AS BIGINT)
      |           AS like_nll
      |  FROM dt CROSS JOIN cstat cs
      |  LEFT JOIN tfc ON tfc.cls = cs.cls AND tfc.term = dt.term
      |  CROSS JOIN vocabn v
      |  GROUP BY dt.doc, cs.cls
      |),
      |best AS (
      |  SELECT doc, cls AS predicted, prior_nll + like_nll AS nll_units,
      |         row_number() OVER (PARTITION BY doc
      |                            ORDER BY prior_nll + like_nll ASC, cls) AS rn
      |  FROM scored JOIN prior USING (cls)
      |)
      |SELECT d.doc_id, d.source AS actual, b.predicted, b.nll_units,
      |       CAST(CASE WHEN d.source = b.predicted THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM documents d JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc
      |ORDER BY d.doc_id""".stripMargin

  /** Zipf-law OLS fit of the corpus rank/frequency curve (see
    * [[graft.operators.CorpusStats.zipfFit]]) — corpus-health
    * diagnostic; slope ≈ −1 for natural crawl, bent for template soup.
    */
  def qZipfFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.zipfFit(docs(s, dir))

  val qZipfFitSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
      |),
      |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
      |lattice AS (
      |  SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY tf DESC, term) AS DOUBLE))
      |              * 100000.0) AS BIGINT) AS x,
      |         CAST(round(ln(CAST(tf AS DOUBLE)) * 100000.0) AS BIGINT) AS y
      |  FROM vocab
      |),
      |sums AS (
      |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
      |         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
      |  FROM lattice
      |),
      |fit AS (
      |  SELECT n, sx, sy,
      |         CAST(n * sxy - sx * sy AS DOUBLE)
      |           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_raw
      |  FROM sums
      |)
      |SELECT CAST(n AS BIGINT) AS n_terms,
      |       CAST(round(slope_raw * 1000000.0) AS BIGINT) AS slope_ppm,
      |       CAST(round((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE))
      |                  / CAST(n AS DOUBLE) / 100000.0 * 1000000.0) AS BIGINT)
      |         AS intercept_ppm
      |FROM fit""".stripMargin

  private val Bm25Terms = Seq("spark", "vector", "join")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 top-20 docs for a fixed query-term bag (see
    * [[graft.operators.CorpusStats.bm25TopDocs]]). Constants are
    * embedded through [[Sql.d]] so both engines parse the identical
    * doubles.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bm25TopDocs(docs(s, dir), Bm25Terms, topK = 20,
      k1 = Bm25K1, b = Bm25B)

  /** Persisted-index handle: build + save the inverted index once per
    * sf dir (the one-time cost a serving deployment pays at ingest).
    */
  private val indexPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def textIndexPath(s: SparkSession, dir: String): String =
    indexPaths.getOrElseUpdate(dir,
      graft.sources.TextIndex.save(docs(s, dir),
        "target/graft-wh/" + dir.replaceAll("[^A-Za-z0-9]", "_") + "/_textindex"))

  /** Warm BM25 serving plan over the persisted index — prepared once,
    * collected per request ([[graft.Bench]] times it as
    * `bm25_warm_sec`).
    */
  private val bm25Plans = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def bm25Serve(s: SparkSession, dir: String): DataFrame =
    bm25Plans.getOrElseUpdate(dir, graft.sources.TextIndex.bm25Serve(
      s, textIndexPath(s, dir), Bm25Terms, topK = 20, k1 = Bm25K1, b = Bm25B))

  /** The SERVED ranking must equal the batch-scored corpus ranking row
    * for row — same oracle as `q_bm25`: the index round trip (exact
    * integers through parquet, identical scoring shape) changes
    * nothing.
    */
  def qBm25Served(s: SparkSession, dir: String): DataFrame = bm25Serve(s, dir)

  val qBm25Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = Sql.d(Bm25K1 + 1.0)
    val k1 = Sql.d(Bm25K1)
    val oneMinusB = Sql.d(1.0 - Bm25B)
    val b = Sql.d(Bm25B)
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
       |),
       |dl AS (SELECT doc_id AS doc, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS dl_sum
       |          FROM dl),
       |hit AS (SELECT doc, term FROM tok WHERE term IN ($terms)),
       |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY doc, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |       FROM (SELECT DISTINCT doc, term FROM hit) GROUP BY term),
       |sc AS (
       |  SELECT doc,
       |         CAST(round(idf * (CAST(tf AS DOUBLE) * $k1p1
       |           / (CAST(tf AS DOUBLE) + $k1 * ($oneMinusB + $b
       |              * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / n)))))
       |           * 1000000.0) AS BIGINT) AS sc
       |  FROM (
       |    SELECT tf.doc, tf.tf, dl.dl, n, dl_sum,
       |           round(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
       |                 * 100000.0) / 100000.0 AS idf
       |    FROM tf JOIN df USING (term) JOIN dl ON tf.doc = dl.doc CROSS JOIN stats
       |  )
       |)
       |SELECT doc AS doc_id, CAST(SUM(sc) AS BIGINT) AS score_micro,
       |       CAST(CAST(SUM(sc) AS BIGINT) AS DOUBLE) / 1000000.0 AS score
       |FROM sc GROUP BY doc
       |ORDER BY score_micro DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  private val RagBudget = 800L

  /** RAG context assembly: the BM25 top-20 of `q_bm25` greedily packed
    * into an 800-token context in score order
    * ([[graft.operators.CorpusStats.packContext]]) — the step between
    * retrieval and the prompt. Token counts are the exact whitespace
    * token counts; the running sum is a bounded window over the 20
    * already-ranked rows (per-query partition in the batch shape).
    * Oracle: the full `q_bm25` SQL as a derived subquery + the same
    * prefix-sum cut.
    */
  def qRagPack(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.operators.CorpusStats.packContext(qBm25(s, dir), toks, RagBudget)
      .select(col("doc_id"), col("rnk"), col("n_tokens"), col("cum_tokens"))
  }

  // def, not val: embeds qBm25Sql as a derived subquery
  def qRagPackSql: String =
    s"""WITH ranked AS (SELECT * FROM ($qBm25Sql)),
       |toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |         FROM documents),
       |packed AS (
       |  SELECT r.doc_id,
       |         CAST(row_number() OVER w AS BIGINT) AS rnk,
       |         n_tokens,
       |         CAST(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              AS BIGINT) AS cum_tokens
       |  FROM ranked r JOIN toks USING (doc_id)
       |  WINDOW w AS (ORDER BY score_micro DESC, doc_id)
       |)
       |SELECT doc_id, rnk, n_tokens, cum_tokens
       |FROM packed WHERE cum_tokens <= $RagBudget
       |ORDER BY rnk""".stripMargin

  /** Hybrid retrieval: reciprocal-rank fusion (public knowledge:
    * Cormack, Clarke & Buettcher, "Reciprocal Rank Fusion Outperforms
    * Condorcet and Individual Rank Learning Methods", SIGIR 2009) of a
    * BM25 lexical rank list and an embedding-cosine rank list for the
    * same information need — the standard two-tower corpus-search
    * composition. score = Σ 1/(60 + rank) over the lists that ranked
    * the doc.
    *
    * Cross-engine exactness: ranks are integers with id tie-breaks;
    * each reciprocal is one correctly-rounded double division; the
    * two-term sum has a fixed association; the result is snapped to
    * integer micro-units for ordering and output.
    *
    * Scale shape: both rank lists end in TakeOrderedAndProject(50); the
    * fusion is a full-outer join of two 50-row lists — driver-free and
    * broadcast-trivial. The corpus-scale work is exactly the BM25 scan
    * (term-filtered before its first shuffle) and one embedding pass.
    */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    // rank within each ≤50-row top-k list WITHOUT a single-partition
    // window (the suite-wide EntrySpec plan assertion bans them even on
    // bounded inputs): rank = 1 + |rows strictly ahead in the total
    // order| via a broadcast self-join — ids are unique so the count
    // rank equals row_number exactly. The lists are cached so the
    // self-join's two sides don't re-run the corpus scan.
    def countRank(top: DataFrame, score: String, id: String,
                  out: String): DataFrame = {
      val t = CachePool.track(top)
      t.join(broadcast(t.select(col(score).as("_s2"), col(id).as("_i2"))),
          col("_s2") > col(score) ||
            (col("_s2") === col(score) && col("_i2") < col(id)), "left")
        .groupBy(col(id))
        .agg((count(col("_i2")) + lit(1L)).as(out))
        .select(col(id).as("doc_id"), col(out))
    }
    val bm = countRank(graft.operators.CorpusStats
        .bm25TopDocs(docs(s, dir), Bm25Terms, topK = 50, k1 = Bm25K1, b = Bm25B),
      "score_micro", "doc_id", "r_text")
    val cr = countRank(
      Similarity.bruteForceTopK(embs(s, dir), queryVecId = 0L, k = 50, dims = Dims),
      "cos_sim", "vec_id", "r_vec")
    bm.join(cr, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        round((coalesce(lit(1.0) / (lit(60) + col("r_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0))) * lit(1000000.0))
          .cast("long").as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(20)
  }

  val qHybridRrfSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = Sql.d(Bm25K1 + 1.0)
    val k1 = Sql.d(Bm25K1)
    val oneMinusB = Sql.d(1.0 - Bm25B)
    val b = Sql.d(Bm25B)
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
       |),
       |dl AS (SELECT doc_id AS doc, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS dl_sum
       |          FROM dl),
       |hit AS (SELECT doc, term FROM tok WHERE term IN ($terms)),
       |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY doc, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |       FROM (SELECT DISTINCT doc, term FROM hit) GROUP BY term),
       |sc AS (
       |  SELECT doc,
       |         CAST(round(idf * (CAST(tf AS DOUBLE) * $k1p1
       |           / (CAST(tf AS DOUBLE) + $k1 * ($oneMinusB + $b
       |              * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / n)))))
       |           * 1000000.0) AS BIGINT) AS sc
       |  FROM (
       |    SELECT tf.doc, tf.tf, dl.dl, n, dl_sum,
       |           round(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
       |                 * 100000.0) / 100000.0 AS idf
       |    FROM tf JOIN df USING (term) JOIN dl ON tf.doc = dl.doc CROSS JOIN stats
       |  )
       |),
       |bmtop AS (
       |  SELECT doc AS doc_id, CAST(SUM(sc) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY doc ORDER BY score_micro DESC, doc_id LIMIT 50
       |),
       |bmr AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r_text
       |  FROM bmtop
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ctop AS (
       |  SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |  FROM embeddings, q WHERE vec_id <> 0
       |  ORDER BY cos_sim DESC, vec_id LIMIT 50
       |),
       |cr AS (
       |  SELECT vec_id AS doc_id,
       |         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_vec
       |  FROM ctop
       |)
       |SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id, r_text, r_vec,
       |       CAST(round((COALESCE(1.0 / (60 + r_text), 0.0)
       |                   + COALESCE(1.0 / (60 + r_vec), 0.0)) * 1000000.0) AS BIGINT)
       |         AS rrf_micro
       |FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id
       |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Temperature-based source mixing at α=0.5, τ=0.5 (see
    * [[graft.operators.TrainingPrep.temperatureMix]]).
    */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.temperatureMix(docs(s, dir), alpha = 0.5, targetFrac = 0.5)

  val qMixTemperatureSql: String = {
    val tau = Sql.d(0.5)
    val h6 = graft.operators.TrainingPrep.hex6IntSql("doc_id")
    s"""WITH bysrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
       |         CAST(round(pow(CAST(CAST(count(*) AS BIGINT) AS DOUBLE), 0.5)
       |              * 1000000.0) AS BIGINT) AS w
       |  FROM documents GROUP BY source
       |),
       |tot AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_total,
       |               CAST(SUM(w) AS BIGINT) AS sw FROM bysrc),
       |r AS (
       |  SELECT d.doc_id, d.source, b.n_src,
       |         LEAST(1.0, $tau * CAST(n_total AS DOUBLE) * CAST(w AS DOUBLE)
       |               / CAST(sw AS DOUBLE) / CAST(n_src AS DOUBLE)) AS rate
       |  FROM documents d JOIN bysrc b USING (source) CROSS JOIN tot
       |)
       |SELECT doc_id, source, n_src,
       |       CAST(round(rate * 1000000.0) AS BIGINT) AS rate_ppm
       |FROM r
       |WHERE $h6 < CAST(round(rate * 16777216.0) AS BIGINT)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-dimension embedding distribution stats (see
    * [[graft.operators.Similarity.dimStats]]) — the feature-scaling
    * fit table.
    */
  def qEmbedDimStats(s: SparkSession, dir: String): DataFrame =
    Similarity.dimStats(embs(s, dir), dims = Dims)

  val qEmbedDimStatsSql: String =
    """WITH m AS (
      |  SELECT dim, CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS v FROM (
      |    SELECT unnest(embedding) AS e,
      |           unnest(generate_series(0, len(embedding) - 1)) AS dim
      |    FROM embeddings
      |  )
      |),
      |agg AS (
      |  SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |         CAST(SUM(v) AS BIGINT) AS sum_micro,
      |         CAST(SUM(v * v) AS BIGINT) AS sumsq_micro,
      |         MIN(v) AS min_micro, MAX(v) AS max_micro
      |  FROM m GROUP BY dim
      |)
      |SELECT dim, n_vecs, sum_micro, sumsq_micro, min_micro, max_micro,
      |       round(CAST(sum_micro AS DOUBLE) / n_vecs) / 1000000.0 AS mean,
      |       round(CAST(CAST(sumsq_micro AS HUGEINT) * n_vecs
      |                  - CAST(sum_micro AS HUGEINT) * sum_micro AS DOUBLE)
      |             / n_vecs / n_vecs / 1000000000000.0 * 1000000.0) / 1000000.0 AS variance
      |FROM agg
      |ORDER BY dim""".stripMargin

  /** Z-score standardization of the embedding table (see
    * [[graft.operators.Similarity.standardize]]) — FIT (dimStats) +
    * APPLY in one plan, ppm-exact.
    */
  def qEmbedWhiten(s: SparkSession, dir: String): DataFrame =
    Similarity.standardize(embs(s, dir), dims = Dims)

  val qEmbedWhitenSql: String =
    """WITH f AS (
      |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
      |         CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS v
      |  FROM (
      |    SELECT vec_id, unnest(embedding) AS e,
      |           unnest(generate_series(0, len(embedding) - 1)) AS dim
      |    FROM embeddings
      |  )
      |),
      |agg AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |         CAST(SUM(v) AS BIGINT) AS sum_micro,
      |         CAST(SUM(v * v) AS BIGINT) AS sumsq_micro
      |  FROM f GROUP BY dim
      |),
      |stats AS (
      |  SELECT dim,
      |         CAST(round(CAST(sum_micro AS DOUBLE) / n_vecs) AS BIGINT) AS m_micro,
      |         sqrt(round(CAST(CAST(sumsq_micro AS HUGEINT) * n_vecs
      |                         - CAST(sum_micro AS HUGEINT) * sum_micro AS DOUBLE)
      |                    / n_vecs / n_vecs / 1000000000000.0 * 1000000.0) / 1000000.0
      |              + 0.000001) AS sd
      |  FROM agg
      |)
      |SELECT f.vec_id, f.dim,
      |       CAST(round(CAST(f.v - s.m_micro AS DOUBLE) / s.sd) AS BIGINT) AS z_ppm
      |FROM f JOIN stats s ON f.dim = s.dim
      |ORDER BY f.vec_id, f.dim""".stripMargin

  /** Per-source distinctive vocabulary by Dunning G² keyness (see
    * [[graft.operators.CorpusStats.keyness]]): top-10 terms whose
    * frequency in a source deviates most from corpus expectation —
    * the "what makes this source read differently" audit.
    */
  def qKeyness(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.keyness(docs(s, dir), minCount = 5, k = 10)

  val qKeynessSql: String =
    s"""WITH tok AS (
       |  SELECT source AS src, unnest(string_split(text, ' ')) AS term FROM documents
       |),
       |tf AS (SELECT src, term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY src, term),
       |bysrc AS (SELECT src, CAST(sum(n) AS BIGINT) AS ns FROM tf GROUP BY src),
       |byterm AS (SELECT term, CAST(sum(n) AS BIGINT) AS nt FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM tf),
       |scored AS (
       |  SELECT src, term, n, ns, nt, nn,
       |         ${graft.operators.CorpusStats.g2ExprSql} AS g2,
       |         CASE WHEN CAST(n AS DOUBLE) * nn > CAST(ns AS DOUBLE) * nt
       |                THEN CAST(1 AS BIGINT)
       |              WHEN CAST(n AS DOUBLE) * nn < CAST(ns AS DOUBLE) * nt
       |                THEN CAST(-1 AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS direction
       |  FROM tf JOIN bysrc USING (src) JOIN byterm USING (term) CROSS JOIN tot
       |  WHERE n >= 5
       |)
       |SELECT src AS source, CAST(rank AS BIGINT) AS rank, term, n, nt, g2, direction
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY g2 DESC, term) AS rank
       |  FROM scored
       |)
       |WHERE rank <= 10
       |ORDER BY source, rank""".stripMargin

  /** Exact-25-per-source deterministic sample (see
    * [[graft.operators.TrainingPrep.topKSample]]): the fixed-budget
    * review/eval draw — reproducible under reruns and appends of
    * UNSAMPLED ids, engine-identical via the shared md5 priority.
    */
  def qReservoir(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.topKSample(docs(s, dir), "source", k = 25)
      .orderBy("source", "pick_rank")

  val qReservoirSql: String =
    """SELECT source, pick_rank, doc_id
      |FROM (
      |  SELECT source, doc_id,
      |         CAST(row_number() OVER (
      |           PARTITION BY source
      |           ORDER BY md5('smp:' || CAST(doc_id AS VARCHAR)), doc_id)
      |           AS BIGINT) AS pick_rank
      |  FROM documents
      |)
      |WHERE pick_rank <= 25
      |ORDER BY source, pick_rank""".stripMargin

  /** Top principal component of the embedding table (see
    * [[graft.operators.Similarity.pcaTopComponent]]): 4 power-iteration
    * rounds on the centered micro lattice, loadings on the 10⁶ lattice
    * plus the explained-variance share — the whitening/compression
    * planning artifact next to q_embed_dimstats' per-dim variances.
    */
  def qEmbedPca(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaTopComponent(embs(s, dir), dims = Dims, iters = 4)

  val qEmbedPcaSql: String = {
    def iter(k: Int): String =
      s"""s$k AS (
         |  SELECT vec_id, CAST(sum(cv * w) AS BIGINT) AS s
         |  FROM c JOIN w${k - 1} USING (dim) GROUP BY vec_id
         |),
         |u$k AS (
         |  SELECT dim, sum(CAST(cv AS HUGEINT) * (s // 134217728)) // 1048576 AS un
         |  FROM c JOIN s$k USING (vec_id) GROUP BY dim
         |),
         |n$k AS (
         |  SELECT sqrt(CAST(sum(CAST(un AS HUGEINT) * un) AS DOUBLE)) AS nrm FROM u$k
         |),
         |w$k AS (
         |  SELECT dim, CASE WHEN nrm = 0.0 THEN CAST(0 AS BIGINT)
         |                   ELSE CAST(round(CAST(un AS DOUBLE) / nrm * 1000000.0)
         |                             AS BIGINT) END AS w
         |  FROM u$k CROSS JOIN n$k
         |)""".stripMargin
    s"""WITH f AS (
       |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       |         CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS v
       |  FROM (
       |    SELECT vec_id, unnest(embedding) AS e,
       |           unnest(generate_series(0, len(embedding) - 1)) AS dim
       |    FROM embeddings
       |  )
       |),
       |m AS (
       |  SELECT dim, CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m_micro
       |  FROM f GROUP BY dim
       |),
       |c AS (
       |  SELECT vec_id, f.dim AS dim, v - m_micro AS cv
       |  FROM f JOIN m ON f.dim = m.dim
       |),
       |w0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS w FROM m),
       |${(1 to 4).map(iter).mkString(",\n")},
       |p AS (
       |  SELECT vec_id, CAST(sum(cv * w) AS BIGINT) AS s
       |  FROM c JOIN w4 USING (dim) GROUP BY vec_id
       |),
       |ev AS (
       |  SELECT CASE WHEN cv2 * w2 = 0.0 THEN NULL
       |              ELSE CAST(round(ss2 / (cv2 * w2) * 1000000.0) AS BIGINT)
       |         END AS ev_ppm
       |  FROM (SELECT CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE) AS ss2 FROM p)
       |  CROSS JOIN (SELECT CAST(sum(CAST(cv AS HUGEINT) * cv) AS DOUBLE) AS cv2 FROM c)
       |  CROSS JOIN (SELECT CAST(sum(w * w) AS DOUBLE) AS w2 FROM w4)
       |)
       |SELECT dim, w AS loading_ppm, ev_ppm
       |FROM w4 CROSS JOIN ev
       |ORDER BY dim""".stripMargin
  }

  /** Oracle for the shuffle-skew advisor over the events table's user
    * key (see [[graft.operators.SkewJoin.skewReport]]; the query fn is
    * wired in SparkEntry where the events reader lives).
    */
  val qSkewReportSql: String =
    """WITH counts AS (
      |  SELECT CAST(user_id AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY user_id
      |),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
      |  FROM counts
      |)
      |SELECT CAST(rank AS BIGINT) AS rank, key, cnt,
      |       CAST(round(cnt * 1000000.0 / n_rows) AS BIGINT) AS share_ppm,
      |       CAST(round(CAST(cnt AS DOUBLE) * n_keys / n_rows * 1000000.0) AS BIGINT)
      |         AS skew_x_ppm,
      |       n_keys, n_rows
      |FROM (
      |  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank
      |  FROM counts
      |) CROSS JOIN stats
      |WHERE rank <= 10
      |ORDER BY rank""".stripMargin

  /** Token-budget curation cut (see
    * [[graft.operators.TrainingPrep.budgetCut]]): 20k tokens allocated
    * √n-proportionally across sources, spent quality-first.
    */
  def qBudgetCut(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    graft.operators.TrainingPrep.budgetCut(docs(s, dir),
      budgetTokens = 20000L, alpha = 0.5,
      quality = TextAnalysis.qualityScore(t, col("text")),
      nTokens = size(split(col("text"), " ")))
  }

  val qBudgetCutSql: String = {
    val en = inList(TextAnalysis.stopwords("en"))
    s"""WITH bysrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
       |         CAST(round(pow(CAST(CAST(count(*) AS BIGINT) AS DOUBLE), 0.5)
       |              * 1000000.0) AS BIGINT) AS w
       |  FROM documents GROUP BY source
       |),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM bysrc),
       |budgets AS (
       |  SELECT source, CAST((20000 * w) // sw AS BIGINT) AS budget_tokens
       |  FROM bysrc, tot
       |),
       |scored AS (
       |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
       |    0.4 * least(1.0, len(t) * 1.0 / 50.0)
       |      + 0.3 * (len(list_distinct(t)) * 1.0 / len(t))
       |      + 0.3 * (1.0 - len(list_filter(t, x -> x IN ($en))) * 1.0 / len(t)) AS quality
       |  FROM (SELECT *, string_split(text, ' ') AS t FROM documents)
       |),
       |cum AS (
       |  SELECT doc_id, source, n_tokens, quality,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source
       |                ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
       |  FROM scored
       |)
       |SELECT c.doc_id, c.source, c.n_tokens, c.quality, c.cum_tokens, b.budget_tokens
       |FROM cum c JOIN budgets b USING (source)
       |WHERE c.cum_tokens <= b.budget_tokens
       |ORDER BY c.doc_id""".stripMargin
  }

  /** Size-balanced snake sharding over doc length (see
    * [[graft.operators.TrainingPrep.balancedShards]]).
    */
  def qBalancedShards(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.balancedShards(docs(s, dir), nShards = 8,
      sizeCol = col("n_chars"))

  val qBalancedShardsSql: String =
    """SELECT doc_id, size, rank,
      |       CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
      |            ELSE 7 - rank % 8 END AS shard
      |FROM (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS size,
      |         CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) - 1
      |           AS rank
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  /** Mergeable bottom-k-by-hash quantile sketch per source over doc
    * length + exact-quantile fidelity eval (see
    * [[graft.operators.CorpusStats.quantileSketch]]).
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.quantileSketch(docs(s, dir), k = 32)

  val qQuantileSketchSql: String =
    """WITH base AS (
      |  SELECT source AS "group", doc_id AS id, CAST(n_chars AS BIGINT) AS v,
      |         md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents
      |),
      |est AS (
      |  SELECT "group", CAST(count(*) AS BIGINT) AS sample_n,
      |         (list_sort(list(v)))[CAST(ceil(count(*) * 0.5) AS INT)] AS p50_est,
      |         (list_sort(list(v)))[CAST(ceil(count(*) * 0.9) AS INT)] AS p90_est
      |  FROM (
      |    SELECT "group", v,
      |           row_number() OVER (PARTITION BY "group" ORDER BY h, id) AS srn
      |    FROM base
      |  ) WHERE srn <= 32
      |  GROUP BY "group"
      |),
      |ex AS (
      |  SELECT "group", CAST(max(n) AS BIGINT) AS n_docs,
      |         max(CASE WHEN rn = CAST(ceil(n * 0.5) AS INT) THEN v END) AS p50_exact,
      |         max(CASE WHEN rn = CAST(ceil(n * 0.9) AS INT) THEN v END) AS p90_exact
      |  FROM (
      |    SELECT "group", v,
      |           row_number() OVER (PARTITION BY "group" ORDER BY v, id) AS rn,
      |           count(*) OVER (PARTITION BY "group") AS n
      |    FROM base
      |  )
      |  GROUP BY "group"
      |)
      |SELECT ex."group", n_docs, sample_n, p50_est, p90_est, p50_exact, p90_exact
      |FROM ex JOIN est USING ("group")
      |ORDER BY ex."group"""".stripMargin

  /** Embedding hygiene: exact norm² + z-score + zero flag per vector
    * (see [[graft.operators.Similarity.normStats]]).
    */
  def qEmbedHygiene(s: SparkSession, dir: String): DataFrame =
    Similarity.normStats(embs(s, dir), dims = Dims)

  val qEmbedHygieneSql: String = {
    val n2 = (1 to Dims).map(i =>
      s"CAST(round(CAST(embedding[$i] AS DOUBLE) * 1000000.0) AS BIGINT)"
    ).map(v => s"$v * $v").mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST($n2 AS BIGINT) AS nrm2 FROM embeddings
       |),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         round(CAST(SUM(CAST(nrm2 AS HUGEINT)) AS DOUBLE) / count(*)) AS mean2,
       |         sqrt(round(CAST(SUM(CAST(nrm2 AS HUGEINT) * nrm2) * count(*)
       |                         - SUM(CAST(nrm2 AS HUGEINT)) * SUM(CAST(nrm2 AS HUGEINT))
       |                         AS DOUBLE) / count(*) / count(*))
       |              + 1.0) AS sd
       |  FROM base
       |)
       |SELECT vec_id, nrm2 AS nrm2_micro2,
       |       CAST(round((nrm2 - mean2) / sd * 1000000.0) AS BIGINT) AS z_ppm,
       |       (nrm2 = 0) AS is_zero
       |FROM base, stats
       |ORDER BY vec_id""".stripMargin
  }

  /** Johnson–Lindenstrauss ±1 random projection 64 → 16 dims (see
    * [[graft.operators.Similarity.randomProject]]) — exact integer
    * outputs, the matrix derived arithmetically on both sides.
    */
  def qRandomProj(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(embs(s, dir), dProj = 16, dims = Dims)

  val qRandomProjSql: String =
    s"""WITH f AS (
       |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       |         CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS v
       |  FROM (
       |    SELECT vec_id, unnest(embedding) AS e,
       |           unnest(generate_series(0, len(embedding) - 1)) AS dim
       |    FROM embeddings
       |  )
       |),
       |s AS (
       |  SELECT j, d,
       |         CASE WHEN (j * $Dims + d) * 2654435761 % 1000003 % 2 = 0
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(generate_series(0, 15)) AS j),
       |       (SELECT unnest(generate_series(0, ${Dims - 1})) AS d)
       |)
       |SELECT f.vec_id, CAST(s.j AS BIGINT) AS j,
       |       CAST(SUM(f.v * s.sgn) AS BIGINT) AS y_micro
       |FROM f JOIN s ON s.d = f.dim
       |GROUP BY f.vec_id, s.j
       |ORDER BY f.vec_id, j""".stripMargin

  /** Int8 scalar-quantized top-10 search (see
    * [[graft.operators.Similarity.sq8Search]]): exact integer dot
    * products over the quantized codes.
    */
  def qSq8Search(s: SparkSession, dir: String): DataFrame =
    Similarity.sq8Search(embs(s, dir), queryVecId = 0L, topK = 10, dims = Dims)

  // ----------------------------------------------- binary quantization

  private val BqShortlist = 50

  /** Binary-quantized two-stage search (see
    * [[graft.operators.Similarity.bqSearch]]): sign-bit codes →
    * popcount-Hamming shortlist of 50 → exact cosine rerank → top-10.
    * The oracle replays the identical word packing (left-associated
    * CASE-sums, 32 bits per BIGINT word), the same
    * `bit_count(xor(...))` chain, and the same two deterministic
    * tie-broken cuts.
    */
  def qBqSearch(s: SparkSession, dir: String): DataFrame =
    Similarity.bqSearch(embs(s, dir), queryVecId = 0L, shortlist = BqShortlist,
      topK = 10, dims = Dims)

  /** One packed 32-bit word as oracle SQL: Σ CASE sign bit × 2^i over
    * the word's dims, left-associated — exact integer arithmetic.
    */
  private def bqWordSql(word: Int): String =
    (0 until 32).map { i =>
      val dim = word * 32 + i + 1 // 1-based SQL array index
      s"CASE WHEN CAST(embedding[$dim] AS DOUBLE) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private val BqWords = (Dims + 31) / 32

  private def bqHammingSql(a: String, b: String): String =
    (1 to BqWords).map(j =>
      s"CAST(bit_count(xor($a$j, $b$j)) AS BIGINT)").mkString(" + ")

  val qBqSearchSql: String = {
    val words = (0 until BqWords).map(j =>
      s"CAST(${bqWordSql(j)} AS BIGINT) AS w${j + 1}").mkString(",\n         ")
    s"""WITH codes AS (
       |  SELECT vec_id,
       |         $words
       |  FROM embeddings
       |),
       |q AS (SELECT ${(1 to BqWords).map(j => s"w$j AS qw$j").mkString(", ")}
       |      FROM codes WHERE vec_id = 0),
       |short AS (
       |  SELECT c.vec_id, ${bqHammingSql("c.w", "qw")} AS hamming
       |  FROM codes c CROSS JOIN q
       |  WHERE c.vec_id <> 0
       |  ORDER BY hamming, c.vec_id
       |  LIMIT $BqShortlist
       |),
       |qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT s.vec_id, s.hamming,
       |       round(${cosSql("e.embedding", "qv")}, 6) AS cos_sim
       |FROM short s JOIN embeddings e ON s.vec_id = e.vec_id CROSS JOIN qe
       |ORDER BY cos_sim DESC, s.vec_id
       |LIMIT 10""".stripMargin
  }

  /** recall@10 of the binary-quantized two-stage search against the
    * exact brute-force top-10 — the BQ twin of `q_ann_recall`: how much
    * ranking the 32× compression costs at this shortlist width.
    */
  def qBqRecall(s: SparkSession, dir: String): DataFrame =
    qBqSearch(s, dir).select(col("vec_id"))
      .join(qSimTopK(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  // def, not val: composes SQL vals declared in this object
  def qBqRecallSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qBqSearchSql) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin

  /** recall@10-vs-shortlist curve for the binary-quantized search
    * (widths 10/25/50/100): the BQ twin of `q_ivf_recall_curve` —
    * shortlist width is BQ's only recall knob, and the curve is the
    * offline artifact that prices it (rerank cost grows linearly with
    * width; the 8-byte candidate scan is width-independent).
    */
  def qBqCurve(s: SparkSession, dir: String): DataFrame = {
    val exact = qSimTopK(s, dir).select(col("vec_id"))
    Seq(10, 25, 50, 100).map { w =>
      Similarity.bqSearch(embs(s, dir), queryVecId = 0L, shortlist = w,
        topK = 10, dims = Dims)
        .select(col("vec_id"))
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(w.toLong).as("shortlist"), col("n_overlap"),
          (col("n_overlap") * lit(100000L)).as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy("shortlist")
  }

  /** Derived from `qBqSearchSql` per shortlist width (the shortlist cut
    * is its only `LIMIT 50`; guarded like qIvfRecallCurveSql's anchor).
    */
  def qBqCurveSql: String = {
    require(qBqSearchSql.contains(s"LIMIT $BqShortlist")
        && !qBqSearchSql.replaceFirst(s"LIMIT $BqShortlist", "")
          .contains(s"LIMIT $BqShortlist"),
      "shortlist LIMIT anchor changed/ambiguous — update qBqCurveSql")
    Seq(10, 25, 50, 100).map { w =>
      val bq = qBqSearchSql.replace(s"LIMIT $BqShortlist", s"LIMIT $w")
      s"""SELECT CAST($w AS BIGINT) AS shortlist, CAST(count(*) AS BIGINT) AS n_overlap,
         |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
         |FROM ($bq) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY shortlist")
  }

  private val IvfBqShortlist = 30

  /** IVF + BQ hybrid search (see
    * [[graft.operators.Similarity.ivfBqSearch]]): coarse prune to 2 of
    * 8 cells → popcount-Hamming shortlist of 30 over the probed codes →
    * exact rerank → top-10. The oracle chains the IVF assignment CTEs
    * with the packed-word CTEs — each individually proven by
    * `q_ivf_search` and `q_bq_search`; this checks their composition.
    */
  def qIvfBqSearch(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfBqSearch(embs(s, dir), queryVecId = 0L, k = 8, probes = 2,
      shortlist = IvfBqShortlist, topK = 10, dims = Dims)

  val qIvfBqSearchSql: String = {
    val words = (0 until BqWords).map(j =>
      s"CAST(${bqWordSql(j)} AS BIGINT) AS w${j + 1}").mkString(",\n         ")
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |               FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probed AS (
       |  SELECT cent_id AS cell
       |  FROM cents, q
       |  ORDER BY round(${cosSql("cent_emb", "qe")}, 6) DESC, cent_id
       |  LIMIT 2
       |),
       |codes AS (
       |  SELECT vec_id,
       |         $words
       |  FROM embeddings
       |),
       |qb AS (SELECT ${(1 to BqWords).map(j => s"w$j AS qw$j").mkString(", ")}
       |       FROM codes WHERE vec_id = 0),
       |short AS (
       |  SELECT c.vec_id, a.cell, ${bqHammingSql("c.w", "qw")} AS hamming
       |  FROM codes c JOIN assign a USING (vec_id)
       |  JOIN probed p ON a.cell = p.cell CROSS JOIN qb
       |  WHERE c.vec_id <> 0
       |  ORDER BY hamming, c.vec_id
       |  LIMIT $IvfBqShortlist
       |)
       |SELECT s.vec_id, s.cell, s.hamming,
       |       round(${cosSql("e.embedding", "qe")}, 6) AS cos_sim
       |FROM short s JOIN embeddings e ON s.vec_id = e.vec_id, q
       |ORDER BY cos_sim DESC, s.vec_id
       |LIMIT 10""".stripMargin
  }

  /** recall@10 of the IVF+BQ hybrid vs exact brute force — composing
    * the two pruning stages costs recall multiplicatively; this is the
    * eval that prices it next to `q_ann_recall` (IVF alone) and
    * `q_bq_recall` (BQ alone).
    */
  def qIvfBqRecall(s: SparkSession, dir: String): DataFrame =
    qIvfBqSearch(s, dir).select(col("vec_id"))
      .join(qSimTopK(s, dir).select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        (col("n_overlap") * lit(100000L)).as("recall_ppm"))

  // def, not val: composes SQL vals declared in this object
  def qIvfBqRecallSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(count(*) AS BIGINT) * 100000 AS recall_ppm
       |FROM ($qIvfBqSearchSql) a JOIN ($qSimTopKSql) b USING (vec_id)""".stripMargin

  val qSq8SearchSql: String = {
    val qdot = (1 to Dims).map(i => s"a.q8[$i] * qq[$i]").mkString(" + ")
    s"""WITH r AS (
       |  SELECT max(abs(CAST(e AS DOUBLE))) AS r
       |  FROM (SELECT unnest(embedding) AS e FROM embeddings)
       |),
       |q8 AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |                        x -> round(CAST(x AS DOUBLE) / r * 127.0)) AS q8
       |  FROM embeddings CROSS JOIN r
       |),
       |q AS (SELECT q8 AS qq FROM q8 WHERE vec_id = 0)
       |SELECT a.vec_id, CAST($qdot AS BIGINT) AS q_dot
       |FROM q8 a CROSS JOIN q
       |WHERE a.vec_id <> 0
       |ORDER BY q_dot DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** SemDeDup over the trained k-means cells (see
    * [[graft.operators.Similarity.semanticDedup]]): the oracle replays
    * the identical Lloyd lattice iterations ([[kmeansCte]]), the same
    * (cos desc, cent_id) assignment, and the same keep-min-id rule.
    *
    * Universe-capped at the first `SemDedupCap` vectors (no-op through
    * sf1's 20k): the oracle pins k = 8 FIXED (the Lloyd CTE is
    * unrolled per centroid), so cells — and the within-cell pair join —
    * grow linearly in corpus size (quadratic pairs; the sf2 probe
    * kneed 4.8 → 39 s). The production contract is the operator
    * docstring's scaled-k path (k grows with n, like scaledBits);
    * this fixed-k query is its pinned-scale oracle baseline, same
    * convention as q_simhash_near.
    */
  private val SemDedupCap = 20000L

  def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(embs(s, dir).filter(col("vec_id") < SemDedupCap),
      k = 8, iters = 2, threshold = 0.2, dims = Dims)

  /** Shared SemDeDup oracle body: Lloyd lattice at `kSql` clusters over
    * the `where` universe, (cos desc, cent_id) assignment, keep-min-id.
    * The fixed-k and scaled-k twins differ ONLY in (where, kSql).
    */
  private def semanticDedupSqlBody(where: String, kSql: String): String =
    s"""${kmeansCteWhere(where, kSql)},
       |cents AS (
       |  SELECT cent_id, list(CAST(c AS DOUBLE) / 1000000.0 ORDER BY pos) AS cent_emb
       |  FROM c2 GROUP BY cent_id
       |),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY round(${cosSql("e.embedding", "c.cent_emb")}, 6) DESC,
       |                                       c.cent_id) AS rn
       |    FROM (SELECT * FROM embeddings WHERE $where) e
       |    CROSS JOIN cents c
       |  ) WHERE rn = 1
       |),
       |s AS (SELECT e.vec_id AS id, e.embedding AS e, a.cell
       |      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
       |dup AS (SELECT DISTINCT b.id
       |        FROM s a JOIN s b ON a.cell = b.cell AND a.id < b.id
       |        WHERE round(${cosSql("a.e", "b.e")}, 6) >= 0.2)
       |SELECT id AS vec_id, cell FROM s
       |WHERE id NOT IN (SELECT id FROM dup)
       |ORDER BY vec_id""".stripMargin

  val qSemanticDedupSql: String =
    s"WITH ${semanticDedupSqlBody(s"vec_id < $SemDedupCap", "8")}"

  /** Replay-universe cap for the SCALED SemDeDup twin — never binds at
    * any committed fixture (sf2 = 40k vectors; the cap is 2.5× past
    * that); it exists so the row-based Lloyd replay (n·dims·k rows per
    * iteration in DuckDB) stays checker-feasible if fixtures grow.
    */
  private val SemDedupScaledCap = 100000L

  /** The production-contract scale path of q_semantic_dedup,
    * oracle-checked AT ITS SCALED SETTING (r15 verdict item 6): k is
    * not pinned but computed as [[Similarity.scaledK]](n) — expected
    * cell size (and the within-cell pair join's per-key fan-out) stays
    * constant as the corpus grows. The oracle derives the identical k
    * from count(*) with the same integer arithmetic, so the knob
    * itself is inside the hash check, not just documented.
    */
  def qSemanticDedupScaled(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).filter(col("vec_id") < SemDedupScaledCap)
    Similarity.semanticDedup(e, k = Similarity.scaledK(e.count()),
      iters = 2, threshold = 0.2, dims = Dims)
  }

  val qSemanticDedupScaledSql: String = {
    val where = s"vec_id < $SemDedupScaledCap"
    // k = ⌈n/256⌉ clamped to [2, 4096] — Similarity.scaledK verbatim
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings WHERE $where),
       |kk AS (SELECT CAST(LEAST(4096, GREATEST(2, (n + 255) // 256)) AS BIGINT) AS k
       |       FROM nn),
       |${semanticDedupSqlBody(where, "SELECT k FROM kk")}""".stripMargin
  }

  // ------------------------------------------- batch retrieval / curation

  private val AnnJoinBits = 6
  private val AnnJoinSplit = 25L // vec_id < split are queries, rest corpus

  /** Batch ANN join: top-3 same-bucket neighbors for every query vector
    * (see [[graft.operators.Similarity.annJoin]]).
    */
  def qAnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.annJoin(e.filter(col("vec_id") < AnnJoinSplit),
      e.filter(col("vec_id") >= AnnJoinSplit), bits = AnnJoinBits, k = 3, dims = Dims)
  }

  val qAnnJoinSql: String =
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe, ${sigSqlBits("embedding", AnnJoinBits)} AS sig
       |  FROM embeddings WHERE vec_id < $AnnJoinSplit
       |),
       |cs AS (
       |  SELECT vec_id AS nn_id, embedding AS ce, ${sigSqlBits("embedding", AnnJoinBits)} AS sig
       |  FROM embeddings WHERE vec_id >= $AnnJoinSplit
       |),
       |pairs AS (
       |  SELECT query_id, nn_id, round(${cosSql("qe", "ce")}, 6) AS cos_sim
       |  FROM qs JOIN cs USING (sig)
       |)
       |SELECT query_id, nn_id, cos_sim, nn_rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, nn_id) AS nn_rank
       |  FROM pairs
       |) WHERE nn_rank <= 3
       |ORDER BY query_id, nn_rank""".stripMargin

  private val KnnK = 5

  /** Eval-universe cap for the DENSE kNN twins ([[qKnnClassify]],
    * [[qKnnAnnRecall]]) — the same sampled-ground-truth contract as
    * the bitext recall eval: an exact dense baseline is O(test·train)
    * by definition, so past the oracle fixture scales it runs on the
    * first `KnnEvalCap` vectors (never binds ≤ sf0.1, where max
    * vec_id is 1999; at sf1 it bounds the cross to 10⁶·9 pairs). The
    * ANN HEADLINE path (q_knn_classify) stays uncapped — it is the
    * scale path and needs no dense baseline to run.
    */
  private val KnnEvalCap = 10000L

  /** kNN majority-vote classification (see
    * [[graft.operators.Similarity.knnClassify]]): every 10th vector is
    * held out as test, the rest train; k = 5 cosine neighbors vote.
    * Dense baseline — capped to the [[KnnEvalCap]] eval universe.
    */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).filter(col("vec_id") < KnnEvalCap)
    Similarity.knnClassify(e.filter(col("vec_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 === 0), k = KnnK, dims = Dims)
  }

  val qKnnClassifySql: String =
    s"""WITH ts AS (
       |  SELECT vec_id AS query_id, embedding AS qe, CAST(label AS BIGINT) AS true_label
       |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < $KnnEvalCap),
       |tr AS (
       |  SELECT vec_id AS nn_id, embedding AS ce, CAST(label AS BIGINT) AS nn_label
       |  FROM embeddings WHERE vec_id % 10 <> 0 AND vec_id < $KnnEvalCap),
       |nb AS (
       |  SELECT query_id, true_label, nn_id, nn_label,
       |         round(${cosSql("qe", "ce")}, 6) AS cos_sim
       |  FROM ts CROSS JOIN tr),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, nn_id) AS rn
       |    FROM nb) WHERE rn <= $KnnK),
       |votes AS (
       |  SELECT query_id, true_label, nn_label, CAST(count(*) AS BIGINT) AS n_votes
       |  FROM topk GROUP BY 1, 2, 3)
       |SELECT query_id, nn_label AS predicted_label, n_votes, true_label,
       |       CAST(CAST(nn_label = true_label AS INT) AS BIGINT) AS correct
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY n_votes DESC, nn_label) AS vr
       |      FROM votes)
       |WHERE vr = 1
       |ORDER BY query_id""".stripMargin

  /** ANN-pathed kNN classification (see
    * [[graft.operators.Similarity.knnClassifyAnn]]): the neighbor
    * stage is the hyperplane-signature bucket join — never the dense
    * cross join — with the majority-vote tail unchanged. Same
    * train/test split as `q_knn_classify`; its own oracle replays the
    * sig-bucket candidate generation, so the scale path is itself
    * hash-checked end to end.
    */
  def qKnnClassifyAnn(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.knnClassifyAnn(e.filter(col("vec_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 === 0), bits = AnnJoinBits, k = KnnK, dims = Dims)
  }

  val qKnnClassifyAnnSql: String =
    s"""WITH ts AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig,
       |         CAST(label AS BIGINT) AS true_label
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |tr AS (
       |  SELECT vec_id AS nn_id, embedding AS ce,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig,
       |         CAST(label AS BIGINT) AS nn_label
       |  FROM embeddings WHERE vec_id % 10 <> 0),
       |nb AS (
       |  SELECT query_id, true_label, nn_id, nn_label,
       |         round(${cosSql("qe", "ce")}, 6) AS cos_sim
       |  FROM ts JOIN tr USING (sig)),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, nn_id) AS rn
       |    FROM nb) WHERE rn <= $KnnK),
       |votes AS (
       |  SELECT query_id, true_label, nn_label, CAST(count(*) AS BIGINT) AS n_votes
       |  FROM topk GROUP BY 1, 2, 3)
       |SELECT query_id, nn_label AS predicted_label, n_votes, true_label,
       |       CAST(CAST(nn_label = true_label AS INT) AS BIGINT) AS correct
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY n_votes DESC, nn_label) AS vr
       |      FROM votes)
       |WHERE vr = 1
       |ORDER BY query_id""".stripMargin

  /** Neighbor recall of the ANN kNN path vs the exact dense top-k:
    * what fraction of the true (query, neighbor) pairs the
    * signature-bucket join recovers — the accept/reject metric for
    * trusting `q_knn_classify_ann` over the dense baseline. Integer
    * floor-ppm output.
    */
  def qKnnAnnRecall(s: SparkSession, dir: String): DataFrame = {
    // dense exact side => the KnnEvalCap sampled universe (no-op <= sf0.1)
    val e = embs(s, dir).filter(col("vec_id") < KnnEvalCap)
    val train = e.filter(col("vec_id") % 10 =!= 0)
    val test = e.filter(col("vec_id") % 10 === 0)
    val ann = Similarity.annJoin(test, train, bits = AnnJoinBits, k = KnnK, dims = Dims)
      .select(col("query_id"), col("nn_id"))
    val exact = Similarity.knnNeighbors(train, test, k = KnnK, dims = Dims)
      .select(col("query_id"), col("nn_id"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    ann.join(exact, Seq("query_id", "nn_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(total))
      .select(col("n_overlap"), col("n_exact"),
        expr("n_overlap * 1000000 div n_exact").as("recall_ppm"))
  }

  def qKnnAnnRecallSql: String =
    s"""WITH ts AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig
       |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < $KnnEvalCap),
       |tr AS (
       |  SELECT vec_id AS nn_id, embedding AS ce,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig
       |  FROM embeddings WHERE vec_id % 10 <> 0 AND vec_id < $KnnEvalCap),
       |ann AS (
       |  SELECT query_id, nn_id FROM (
       |    SELECT query_id, nn_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(${cosSql("qe", "ce")}, 6) DESC, nn_id) AS rn
       |    FROM ts JOIN tr USING (sig)) WHERE rn <= $KnnK),
       |ex AS (
       |  SELECT query_id, nn_id FROM (
       |    SELECT query_id, nn_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(${cosSql("qe", "ce")}, 6) DESC, nn_id) AS rn
       |    FROM ts CROSS JOIN tr) WHERE rn <= $KnnK),
       |o AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
       |      FROM ann JOIN ex USING (query_id, nn_id)),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
       |SELECT n_overlap, n_exact, n_overlap * 1000000 // n_exact AS recall_ppm
       |FROM o, t""".stripMargin

  private val RankK = 10

  /** Retrieval-quality metrics — MRR, NDCG@10 and AP@10 per query over
    * the ANN retrieval (`annJoin`, same split as `q_ann_join`), with
    * binary relevance = label match. The offline eval artifact a
    * retrieval pipeline publishes before trusting an index.
    *
    * Every metric lives on an INTEGER micro lattice: each DCG/AP term
    * is rounded to micro-units first (`round(1e6/log2(rank+1))`,
    * `cum_rel·1e6 div rank`) and the per-query totals are exact BIGINT
    * sums — so no float summation order exists anywhere and both
    * engines agree bit-for-bit. IDCG sums the ideal-ranking terms for
    * min(corpus docs with the query's label, 10).
    *
    * Scale shape: one sig-bucket candidate join (linear), two bounded
    * windows over ≤ k rows per query, one broadcast label-count join.
    */
  def qRankMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val queries = e.filter(col("vec_id") < AnnJoinSplit)
    val corpus = e.filter(col("vec_id") >= AnnJoinSplit)
    val retrieved = Similarity.annJoin(queries, corpus, AnnJoinBits, RankK, Dims)
    val ql = queries.select(col("vec_id").as("query_id"), col("label").cast("long").as("qlabel"))
    val cl = corpus.select(col("vec_id").as("nn_id"), col("label").cast("long").as("nlabel"))
    val labCounts = corpus.groupBy(col("label").cast("long").as("qlabel"))
      .agg(count(lit(1)).as("r_corpus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("nn_rank"))
    val scored = retrieved.join(ql, "query_id").join(cl, "nn_id")
      .withColumn("rel", (col("nlabel") === col("qlabel")).cast("long"))
      .withColumn("cum_rel", sum(col("rel")).over(w))
    scored.groupBy(col("query_id"), col("qlabel"))
      .agg(
        sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1, col("nn_rank"))).as("first_rel"),
        sum(when(col("rel") === 1,
            expr("CAST(round(1000000.0 / (ln(nn_rank + 1) / ln(2.0))) AS BIGINT)"))
          .otherwise(lit(0L))).as("dcg_micro"),
        sum(when(col("rel") === 1, expr("cum_rel * 1000000 DIV nn_rank"))
          .otherwise(lit(0L))).as("ap_sum"))
      .join(broadcast(labCounts), "qlabel")
      .withColumn("r_total", least(col("r_corpus"), lit(RankK.toLong)))
      .withColumn("idcg_micro", expr(
        "aggregate(sequence(1, CAST(r_total AS INT)), 0L, " +
          "(acc, i) -> acc + CAST(round(1000000.0 / (ln(i + 1) / ln(2.0))) AS BIGINT))"))
      .select(col("query_id"), col("qlabel"), col("n_rel"), col("r_total"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).as("mrr_ppm"),
        col("dcg_micro"), col("idcg_micro"),
        expr("dcg_micro * 1000000 DIV nullif(idcg_micro, 0)").as("ndcg_ppm"),
        expr("ap_sum DIV nullif(r_total, 0)").as("ap_ppm"))
      .orderBy("query_id")
  }

  def qRankMetricsSql: String =
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig,
       |         CAST(label AS BIGINT) AS qlabel
       |  FROM embeddings WHERE vec_id < $AnnJoinSplit),
       |cs AS (
       |  SELECT vec_id AS nn_id, embedding AS ce,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig,
       |         CAST(label AS BIGINT) AS nlabel
       |  FROM embeddings WHERE vec_id >= $AnnJoinSplit),
       |lc AS (SELECT nlabel AS qlabel, CAST(count(*) AS BIGINT) AS r_corpus
       |       FROM cs GROUP BY 1),
       |ret AS (
       |  SELECT query_id, qlabel, nn_id, nlabel, nn_rank,
       |         CAST(nlabel = qlabel AS BIGINT) AS rel
       |  FROM (
       |    SELECT query_id, qlabel, nn_id, nlabel,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(${cosSql("qe", "ce")}, 6) DESC, nn_id) AS nn_rank
       |    FROM qs JOIN cs USING (sig))
       |  WHERE nn_rank <= $RankK),
       |cum AS (
       |  SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY nn_rank) AS BIGINT)
       |           AS cum_rel
       |  FROM ret),
       |agg AS (
       |  SELECT query_id, qlabel,
       |         CAST(sum(rel) AS BIGINT) AS n_rel,
       |         min(CASE WHEN rel = 1 THEN nn_rank END) AS first_rel,
       |         CAST(sum(CASE WHEN rel = 1
       |               THEN CAST(round(1000000.0 / (ln(nn_rank + 1) / ln(2.0))) AS BIGINT)
       |               ELSE 0 END) AS BIGINT) AS dcg_micro,
       |         CAST(sum(CASE WHEN rel = 1 THEN cum_rel * 1000000 // nn_rank
       |               ELSE 0 END) AS BIGINT) AS ap_sum
       |  FROM cum GROUP BY 1, 2),
       |wide AS (
       |  SELECT agg.*, least(lc.r_corpus, $RankK) AS r_total
       |  FROM agg JOIN lc USING (qlabel))
       |SELECT query_id, qlabel, n_rel, r_total,
       |       COALESCE(1000000 // first_rel, 0) AS mrr_ppm,
       |       dcg_micro,
       |       CAST(list_sum(list_transform(generate_series(1, CAST(r_total AS INT)),
       |              i -> CAST(round(1000000.0 / (ln(i + 1) / ln(2.0))) AS BIGINT)))
       |            AS BIGINT) AS idcg_micro,
       |       dcg_micro * 1000000 // nullif(CAST(list_sum(list_transform(
       |              generate_series(1, CAST(r_total AS INT)),
       |              i -> CAST(round(1000000.0 / (ln(i + 1) / ln(2.0))) AS BIGINT)))
       |            AS BIGINT), 0) AS ndcg_ppm,
       |       ap_sum // nullif(r_total, 0) AS ap_ppm
       |FROM wide
       |ORDER BY query_id""".stripMargin

  /** Label-noise screening by self-kNN disagreement (see
    * [[graft.operators.Similarity.labelNoise]]): sig-bucket neighbors
    * with the self-pair excluded in the join condition, majority vote,
    * per-label flag rates. ANN scale shape end to end, own oracle.
    *
    * Universe cap (r14): this query pins the FIXED `AnnJoinBits`-bit
    * signature for oracle reproducibility, so its self-join is
    * quadratic in corpus size BY CONTRACT (the operator itself takes
    * `bits` — production callers pass [[Similarity.scaledBits]], which
    * holds the bucket join linear). Past the fixture scales it runs on
    * the first `LabelNoiseCap` vectors — no-op ≤ sf0.1 (2k vectors),
    * bounds the 64-bucket join at sf1+ (uncapped sf1: 6.3M in-bucket
    * pairs, 7.3 s — the only fixed-width ANN eval that missed the r13
    * sampled-universe treatment).
    */
  private val LabelNoiseCap = 10000L

  def qLabelNoise(s: SparkSession, dir: String): DataFrame =
    Similarity.labelNoise(embs(s, dir).filter(col("vec_id") < LabelNoiseCap),
      bits = AnnJoinBits, k = KnnK, dims = Dims)

  val qLabelNoiseSql: String =
    s"""WITH emb AS (SELECT * FROM embeddings WHERE vec_id < $LabelNoiseCap),
       |side AS (
       |  SELECT vec_id AS id, embedding AS e,
       |         ${sigSqlBits("embedding", AnnJoinBits)} AS sig,
       |         CAST(label AS BIGINT) AS lab
       |  FROM emb),
       |nb AS (
       |  SELECT query_id, true_label, nn_label FROM (
       |    SELECT a.id AS query_id, a.lab AS true_label, b.id AS nn_id, b.lab AS nn_label,
       |           row_number() OVER (PARTITION BY a.id
       |             ORDER BY round(${cosSql("a.e", "b.e")}, 6) DESC, b.id) AS rn
       |    FROM side a JOIN side b ON a.sig = b.sig AND a.id <> b.id)
       |  WHERE rn <= $KnnK),
       |votes AS (
       |  SELECT query_id, true_label, nn_label, CAST(count(*) AS BIGINT) AS n_votes
       |  FROM nb GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, true_label, nn_label AS predicted,
       |         CAST(CAST(nn_label = true_label AS INT) AS BIGINT) AS correct
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY n_votes DESC, nn_label) AS vr
       |        FROM votes)
       |  WHERE vr = 1),
       |agg AS (
       |  SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_voted,
       |         CAST(sum(1 - correct) AS BIGINT) AS n_flagged
       |  FROM pred GROUP BY 1),
       |tot AS (SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
       |        FROM emb GROUP BY 1)
       |SELECT label, n, n_voted, n_flagged,
       |       n_flagged * 1000000 // nullif(n_voted, 0) AS noise_ppm
       |FROM agg JOIN tot USING (label)
       |ORDER BY label""".stripMargin

  /** Embedding drift between the vec_id-parity halves (the
    * "yesterday vs today snapshot" monitoring shape): per-dimension
    * micro-lattice mean shift, most-drifted dimensions first. All
    * integer from the [[qEmbedDimStats]] quantization.
    */
  def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    def half(p: Int, nCol: String, mCol: String): DataFrame =
      e.filter(col("vec_id") % 2 === p)
        .select(posexplode(col("embedding")).as(Seq("dim", "ev")))
        .select(col("dim").cast("long").as("dim"),
          expr("CAST(round(CAST(ev AS DOUBLE) * 1000000.0) AS BIGINT)").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(nCol),
          expr("CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)").as(mCol))
    half(0, "n_a", "mean_a_micro").join(half(1, "n_b", "mean_b_micro"), "dim")
      .withColumn("drift_micro", abs(col("mean_a_micro") - col("mean_b_micro")))
      .orderBy(col("drift_micro").desc, col("dim"))
  }

  val qEmbedDriftSql: String =
    """WITH m AS (
      |  SELECT vec_id % 2 AS half, CAST(dim AS BIGINT) AS dim,
      |         CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS v
      |  FROM (SELECT vec_id, unnest(embedding) AS e,
      |               unnest(generate_series(0, len(embedding) - 1)) AS dim
      |        FROM embeddings)),
      |g AS (SELECT half, dim, CAST(count(*) AS BIGINT) AS n,
      |             CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mu
      |      FROM m GROUP BY 1, 2),
      |a AS (SELECT dim, n AS n_a, mu AS mean_a_micro FROM g WHERE half = 0),
      |b AS (SELECT dim, n AS n_b, mu AS mean_b_micro FROM g WHERE half = 1)
      |SELECT dim, n_a, mean_a_micro, n_b, mean_b_micro,
      |       abs(mean_a_micro - mean_b_micro) AS drift_micro
      |FROM a JOIN b USING (dim)
      |ORDER BY drift_micro DESC, dim""".stripMargin

  /** Matryoshka adaptive retrieval: 16-dim prefix shortlist of 50,
    * full-dim re-rank to top-10 (see
    * [[graft.operators.Similarity.matryoshkaSearch]]).
    */
  def qMatryoshka(s: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaSearch(embs(s, dir), queryVecId = 0L, dPrefix = 16,
      shortlist = 50, topK = 10, dims = Dims)

  val qMatryoshkaSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |short AS (
       |  SELECT vec_id, embedding, qe,
       |         round(${cosSqlN("embedding", "qe", 16)}, 6) AS cos_prefix
       |  FROM embeddings, q
       |  WHERE vec_id <> 0
       |  ORDER BY cos_prefix DESC, vec_id
       |  LIMIT 50
       |)
       |SELECT vec_id, cos_prefix, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
       |FROM short
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  private val BigramLambda = 0.7

  /** Interpolated bigram-LM fluency score (see
    * [[graft.operators.CorpusStats.bigramNll]]).
    */
  def qBigramNll(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bigramNll(docs(s, dir), lambda = BigramLambda)

  val qBigramNllSql: String = {
    val lam = Sql.d(BigramLambda)
    val oneMinus = Sql.d(1.0 - BigramLambda)
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
       |),
       |bi AS (
       |  SELECT doc_id AS doc, bg.t1 AS t1, bg.t2 AS term FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
       |      i -> struct_pack(t1 := t[i], t2 := t[i+1]))) AS bg
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= 2
       |  )
       |),
       |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS t FROM uni),
       |bic AS (SELECT t1, term, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY t1, term),
       |c1 AS (SELECT t1, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY t1)
       |SELECT doc AS doc_id, n_bigrams, nll_total,
       |       CAST(nll_total AS DOUBLE) / n_bigrams AS avg_nll
       |FROM (
       |  SELECT doc, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(CAST(round(-ln($lam * (CAST(c2 AS DOUBLE) / c1)
       |                              + $oneMinus * (CAST(tf AS DOUBLE) / t))
       |                      * 100000.0) AS BIGINT)) AS BIGINT) AS nll_total
       |  FROM bi JOIN bic USING (t1, term) JOIN c1 USING (t1) JOIN uni USING (term)
       |       CROSS JOIN tot
       |  GROUP BY doc
       |)
       |ORDER BY doc_id""".stripMargin
  }

  private val DsirBuckets = 4096
  private val DsirTarget = "src0"

  /** DSIR importance weights of the raw corpus against the `src0`
    * target slice (see
    * [[graft.operators.TrainingPrep.importanceWeights]]).
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.TrainingPrep.importanceWeights(
      d.filter(col("source") =!= DsirTarget), d.filter(col("source") === DsirTarget),
      buckets = DsirBuckets)
  }

  val qDsirWeightsSql: String = {
    val h6 = graft.operators.TrainingPrep.hex6IntSql("bg")
    def featCte(name: String, pred: String) =
      s"""$name AS (
         |  SELECT doc_id AS doc, ($h6) % $DsirBuckets AS f FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |      i -> t[i] || ' ' || t[i+1])) AS bg
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |          WHERE $pred)
         |    WHERE len(t) >= 2
         |  )
         |)""".stripMargin
    s"""WITH ${featCte("rfeat", s"source <> '$DsirTarget'")},
       |${featCte("tfeat", s"source = '$DsirTarget'")},
       |dom AS (SELECT unnest(generate_series(0, ${DsirBuckets - 1})) AS f),
       |tcnt AS (SELECT f, CAST(count(*) AS BIGINT) AS c FROM tfeat GROUP BY f),
       |ttot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM tfeat),
       |rcnt AS (SELECT f, CAST(count(*) AS BIGINT) AS c FROM rfeat GROUP BY f),
       |rtot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM rfeat),
       |lnt AS (SELECT dom.f,
       |               CAST(round(ln((COALESCE(c, 0) + 1.0) / (ct + ${DsirBuckets}.0))
       |                    * 100000.0) AS BIGINT) AS ln_t
       |        FROM dom LEFT JOIN tcnt USING (f) CROSS JOIN ttot),
       |lnr AS (SELECT dom.f,
       |               CAST(round(ln((COALESCE(c, 0) + 1.0) / (ct + ${DsirBuckets}.0))
       |                    * 100000.0) AS BIGINT) AS ln_r
       |        FROM dom LEFT JOIN rcnt USING (f) CROSS JOIN rtot),
       |tbl AS (SELECT f, ln_t - ln_r AS dln FROM lnt JOIN lnr USING (f))
       |SELECT doc AS doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |       CAST(SUM(dln) AS BIGINT) AS logw_total,
       |       CAST(CAST(SUM(dln) AS BIGINT) AS DOUBLE) / count(*) AS avg_logw
       |FROM rfeat JOIN tbl USING (f)
       |GROUP BY doc
       |ORDER BY doc_id""".stripMargin
  }

  private val KcenterK = 4

  /** Greedy k-center diversity sample, k=4 (see
    * [[graft.operators.Similarity.kcenterSample]]); the oracle replays
    * the identical farthest-point rounds on the micro² integer lattice.
    */
  def qKcenter(s: SparkSession, dir: String): DataFrame =
    Similarity.kcenterSample(embs(s, dir), k = KcenterK, dims = Dims)

  val qKcenterSql: String = {
    def dotMv(a: String, b: String) =
      (1 to Dims).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
    val rounds = (1 until KcenterK).map { r =>
      val prev = if (r == 1) "m2" else s"d${r - 1}"
      val mind2 = if (r == 1)
        s"(p.nn + c.nn - 2.0 * (${dotMv("p.mv", "c.mv")}))"
      else
        s"LEAST(p.mind2, p.nn + c.nn - 2.0 * (${dotMv("p.mv", "c.mv")}))"
      s"""d$r AS (
         |  SELECT p.id, p.mv, p.nn, $mind2 AS mind2
         |  FROM $prev p CROSS JOIN c${r - 1} c
         |),
         |c$r AS (SELECT * FROM d$r ORDER BY mind2 DESC, id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val sel = (1 until KcenterK).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), id, CAST(mind2 AS BIGINT) FROM c$r")
      .mkString("\n")
    s"""WITH mv AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS mv
       |  FROM embeddings
       |),
       |m2 AS (SELECT id, mv, ${dotMv("mv", "mv")} AS nn FROM mv),
       |c0 AS (SELECT id, mv, nn FROM m2 ORDER BY id LIMIT 1),
       |$rounds
       |SELECT CAST(0 AS BIGINT) AS sel_order, id AS vec_id, CAST(0 AS BIGINT) AS d2_sel
       |FROM c0
       |$sel
       |ORDER BY sel_order""".stripMargin
  }

  private val SplitTrain = 0.8
  private val SplitVal = 0.1

  /** Deterministic hash split 80/10/10 (see
    * [[graft.operators.TrainingPrep.assignSplit]]).
    */
  def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainingPrep.assignSplit(docs(s, dir), SplitTrain, SplitVal)

  val qSplitSql: String = {
    // the identical threshold arithmetic the operator performs
    val tTrain = math.round(SplitTrain * 16777216.0)
    val tVal = math.round((SplitTrain + SplitVal) * 16777216.0)
    val h6 = graft.operators.TrainingPrep.hex6IntSql("doc_id")
    s"""SELECT doc_id,
       |       CASE WHEN $h6 < $tTrain THEN 'train'
       |            WHEN $h6 < $tVal THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- bitext mining

  // Margin-based bitext mining across the label-split halves of the
  // embedding table (labels 0-4 = side A, 5-9 = side B — the two
  // "languages"). The headline entry is the LSH candidate path
  // (q_bitext_mine); the dense miner runs only inside qBitextRecall's
  // capped eval universe.

  /** Mining-universe cap for [[qBitextLsh]] (r15): the ORACLE pins the
    * 4×4-bit signature for replay, and at the pinned width the banded
    * candidate join densifies quadratically past the fixture scales —
    * at sf2 the DuckDB twin faces ~10⁸ candidate cosines (35+ min,
    * checker-infeasible; Spark answers the same query in seconds).
    * Same sampled-universe contract as q_label_noise / q_simhash_wide /
    * the bitext recall eval: a no-op through sf1 (20k vectors, ids <
    * 20000 — every pinned result unchanged), a bound past it;
    * production mining scales by [[Similarity.scaledBits]], not by the
    * replay width.
    */
  private val BitextMineCap = 20000L

  /** The side CTEs shared by both mining oracles. */
  private val bitextSidesSql: String =
    s"""a AS (SELECT vec_id AS a_id, embedding AS ea FROM embeddings
       |      WHERE label < 5 AND vec_id < $BitextMineCap),
       |b AS (SELECT vec_id AS b_id, embedding AS eb FROM embeddings
       |      WHERE label >= 5 AND vec_id < $BitextMineCap)""".stripMargin

  /** Eval-universe cap for [[qBitextRecall]] (r13): dense ground truth
    * is O(|a|*|b|) BY DEFINITION, so at growing corpus sizes the
    * recall eval runs on the first `BitextEvalCap` vectors - the
    * standard sampled-ground-truth contract. The cap never binds at
    * the oracle fixture scales (<= 2000 vectors through sf0.1), so
    * every pinned result is unchanged; at sf1+ it bounds the dense
    * side to <= ~2.5e7 pairs, inside the plan-time maxPairs guard.
    * The LSH side under eval is capped IDENTICALLY so precision is
    * measured against the same universe.
    */
  private val BitextEvalCap = 10000L

  private val bitextEvalSidesSql: String =
    s"""a AS (SELECT vec_id AS a_id, embedding AS ea FROM embeddings
       |      WHERE label < 5 AND vec_id < $BitextEvalCap),
       |b AS (SELECT vec_id AS b_id, embedding AS eb FROM embeddings
       |      WHERE label >= 5 AND vec_id < $BitextEvalCap)""".stripMargin

  /** The ratio-margin tail over a `pairs`(a_id, b_id, cos_u) CTE —
    * mirrors [[graft.operators.Similarity]]'s marginMine exactly
    * (k = 4, 1.01 margin threshold).
    */
  private val bitextMarginSql: String =
    """ra AS (
      |  SELECT a_id, sum(cos_u) AS ka_sum FROM (
      |    SELECT a_id, cos_u,
      |           row_number() OVER (PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS rn
      |    FROM pairs
      |  ) WHERE rn <= 4 GROUP BY a_id
      |),
      |rb AS (
      |  SELECT b_id, sum(cos_u) AS kb_sum FROM (
      |    SELECT b_id, cos_u,
      |           row_number() OVER (PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS rn
      |    FROM pairs
      |  ) WHERE rn <= 4 GROUP BY b_id
      |),
      |scored AS (
      |  SELECT p.a_id, p.b_id, p.cos_u,
      |         CAST((p.cos_u * 8000000) // (ra.ka_sum + rb.kb_sum) AS BIGINT) AS margin_ppm
      |  FROM pairs p JOIN ra USING (a_id) JOIN rb USING (b_id)
      |)
      |SELECT a_id, b_id, cos_u, margin_ppm FROM (
      |  SELECT *, row_number() OVER (PARTITION BY a_id
      |                               ORDER BY margin_ppm DESC, b_id) AS rn
      |  FROM scored
      |) WHERE rn = 1 AND margin_ppm >= 1010000
      |ORDER BY a_id""".stripMargin

  private def bitextMineSqlFrom(sides: String): String =
    s"""WITH $sides,
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT a_id, b_id,
       |           CAST(round((${cosSql("ea", "eb")}) * 1000000.0) AS BIGINT) AS cos_u
       |    FROM a CROSS JOIN b
       |  ) WHERE cos_u > 0
       |),
       |$bitextMarginSql""".stripMargin


  private val BitextBands = 4
  private val BitextBandBits = 4

  /** The 100 TB candidate path oracle-checked: banded hyperplane-LSH
    * candidates (share ≥ 1 of 4 four-bit signature bands) feeding the
    * identical margin tail.
    */
  def qBitextLsh(s: SparkSession, dir: String): DataFrame = {
    // replay-width universe cap — see BitextMineCap (no-op through sf1)
    val e = embs(s, dir).filter(col("vec_id") < BitextMineCap)
    Similarity.bitextMineLsh(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      bands = BitextBands, bitsPerBand = BitextBandBits,
      kNeigh = 4, marginPpmMin = 1010000L, dims = Dims)
  }

  private def bitextLshSqlFrom(sides: String): String = {
    val bits = BitextBands * BitextBandBits
    // one equi-join per band, UNION'd then deduped — identical candidate
    // set to the OR-of-band-equalities predicate, but hash-joinable: the
    // OR form forced DuckDB into a nested-loop cross product that ground
    // for 35+ min at sf2 (r15); this shape checks in seconds
    val bandJoins = (0 until BitextBands).map { bnd =>
      val start = bnd * BitextBandBits + 1
      s"""    SELECT sa.a_id, sb.b_id FROM sa JOIN sb
         |    ON substring(sa.sig, $start, $BitextBandBits) = substring(sb.sig, $start, $BitextBandBits)""".stripMargin
    }.mkString("\n    UNION ALL\n")
    s"""WITH $sides,
       |sa AS (SELECT a_id, ea, ${sigSqlBits("ea", bits)} AS sig FROM a),
       |sb AS (SELECT b_id, eb, ${sigSqlBits("eb", bits)} AS sig FROM b),
       |cand AS (
       |  SELECT DISTINCT a_id, b_id FROM (
       |$bandJoins
       |  )
       |),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT c.a_id, c.b_id,
       |           CAST(round((${cosSql("a.ea", "b.eb")}) * 1000000.0) AS BIGINT) AS cos_u
       |    FROM cand c JOIN a ON c.a_id = a.a_id JOIN b ON c.b_id = b.b_id
       |  ) WHERE cos_u > 0
       |),
       |$bitextMarginSql""".stripMargin
  }

  val qBitextLshSql: String = bitextLshSqlFrom(bitextSidesSql)

  /** Replay-universe cap for the SCALED bitext twin — 5× past sf2's
    * 40k vectors, so it never binds at any committed fixture; it
    * bounds the oracle's full-width signature computation (n·64 bits ×
    * 64 terms) if fixtures grow. Candidates stay LINEAR under the
    * scaled width, so no densification cap is needed — that is the
    * point of the knob.
    */
  private val BitextScaledCap = 200000L

  /** Per-band signature width ceiling shared by the scaled query and
    * its oracle: the SQL twin generates the full `bands`·this sig text
    * statically, so it must be a compile-time bound. 16 bits/band
    * covers n ≤ 8·2¹⁶ = 524k — unclamped through [[BitextScaledCap]];
    * production [[Similarity.scaledBits]] runs to 30.
    */
  private val BitextScaledBpbMax = 16

  /** The production-contract scale path of q_bitext_mine,
    * oracle-checked AT ITS SCALED SETTING (r15 verdict item 6):
    * bitsPerBand is not pinned but computed as
    * [[Similarity.scaledBitsInt]](n) — expected bucket population
    * (and with it the banded candidate join) stays linear in corpus
    * size. The oracle derives the identical width from count(*) with
    * the same integer comparison and cuts its band keys out of a
    * statically-generated full-width signature (per-bit hyperplanes
    * depend only on the bit index, so a prefix of the 64-bit sig IS
    * the narrower sig).
    */
  def qBitextScaled(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).filter(col("vec_id") < BitextScaledCap)
    val bpb = Similarity.scaledBitsInt(e.count(),
      targetBucketSize = 8, minBits = 4, maxBits = BitextScaledBpbMax)
    Similarity.bitextMineLsh(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      bands = BitextBands, bitsPerBand = bpb,
      kNeigh = 4, marginPpmMin = 1010000L, dims = Dims)
  }

  val qBitextScaledSql: String = {
    val w = BitextBands * BitextScaledBpbMax
    s"""WITH a AS (SELECT vec_id AS a_id, embedding AS ea FROM embeddings
       |           WHERE label < 5 AND vec_id < $BitextScaledCap),
       |b AS (SELECT vec_id AS b_id, embedding AS eb FROM embeddings
       |      WHERE label >= 5 AND vec_id < $BitextScaledCap),
       |nn AS (SELECT (SELECT count(*) FROM a) + (SELECT count(*) FROM b) AS n),
       |kk AS (SELECT COALESCE(MIN(CASE WHEN 8 * (CAST(1 AS BIGINT) << b) >= n THEN b END),
       |                       $BitextScaledBpbMax) AS bpb
       |       FROM (SELECT unnest(generate_series(4, $BitextScaledBpbMax)) AS b), nn),
       |sa AS (SELECT a_id, ea, ${sigSqlBitsWide("ea", w)} AS sig FROM a),
       |sb AS (SELECT b_id, eb, ${sigSqlBitsWide("eb", w)} AS sig FROM b),
       |bnds AS (SELECT unnest(generate_series(0, ${BitextBands - 1})) AS bnd),
       |ka AS (SELECT a_id, bnd,
       |              substring(sig, CAST(bnd * bpb + 1 AS INT), CAST(bpb AS INT)) AS bk
       |       FROM sa, kk, bnds),
       |kb AS (SELECT b_id, bnd,
       |              substring(sig, CAST(bnd * bpb + 1 AS INT), CAST(bpb AS INT)) AS bk
       |       FROM sb, kk, bnds),
       |cand AS (SELECT DISTINCT a_id, b_id FROM ka JOIN kb USING (bnd, bk)),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT c.a_id, c.b_id,
       |           CAST(round((${cosSql("a.ea", "b.eb")}) * 1000000.0) AS BIGINT) AS cos_u
       |    FROM cand c JOIN a ON c.a_id = a.a_id JOIN b ON c.b_id = b.b_id
       |  ) WHERE cos_u > 0
       |),
       |$bitextMarginSql""".stripMargin
  }

  /** Pair-level recall/precision of the LSH-candidate miner vs the
    * dense ground-truth miner — the accept/reject eval for serving
    * `q_bitext_mine` off the banded candidate path (since r11 the
    * dense [[graft.operators.Similarity.bitextMine]] runs ONLY here,
    * behind its maxPairs guard; the headline mining entry is the LSH
    * shape). Integer floor-ppm output.
    */
  def qBitextRecall(s: SparkSession, dir: String): DataFrame = {
    // eval universe capped at BitextEvalCap (no-op through sf0.1):
    // dense ground truth cannot leave the sampled-eval contract
    val e = embs(s, dir).filter(col("vec_id") < BitextEvalCap)
    // both miner outputs are read TWICE (their count agg + the overlap
    // join) — pool-cache them or each margin tail (two window passes +
    // two joins over the dense pair set) executes twice (r15)
    val exact = graft.operators.CachePool.track(Similarity.bitextMine(
        e.filter(col("label") < 5), e.filter(col("label") >= 5),
        kNeigh = 4, marginPpmMin = 1010000L, dims = Dims)
      .select(col("a_id"), col("b_id")))
    val lsh = graft.operators.CachePool.track(Similarity.bitextMineLsh(
        e.filter(col("label") < 5), e.filter(col("label") >= 5),
        bands = BitextBands, bitsPerBand = BitextBandBits,
        kNeigh = 4, marginPpmMin = 1010000L, dims = Dims)
      .select(col("a_id"), col("b_id")))
    val nE = exact.agg(count(lit(1)).as("n_exact"))
    val nL = lsh.agg(count(lit(1)).as("n_lsh"))
    lsh.join(exact, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(nE)).crossJoin(broadcast(nL))
      .select(col("n_overlap"), col("n_exact"), col("n_lsh"),
        expr("n_overlap * 1000000 div n_exact").as("recall_ppm"),
        expr("n_overlap * 1000000 div n_lsh").as("precision_ppm"))
  }

  val qBitextRecallSql: String =
    s"""WITH ex AS (${bitextMineSqlFrom(bitextEvalSidesSql)}),
       |ls AS (${bitextLshSqlFrom(bitextEvalSidesSql)}),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
       |       FROM ex JOIN ls USING (a_id, b_id)),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM ls)
       |SELECT n_overlap, n_exact, n_lsh,
       |       CAST(n_overlap * 1000000 // n_exact AS BIGINT) AS recall_ppm,
       |       CAST(n_overlap * 1000000 // n_lsh AS BIGINT) AS precision_ppm
       |FROM ov, ne, nl""".stripMargin

  // ------------------------------------------------- corpus interchange I/O

  private val DocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))

  private val corpusCopyPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def corpusCopy(s: SparkSession, dir: String, fmt: String): String =
    corpusCopyPaths.getOrElseUpdate(dir + "#" + fmt, {
      val base = "target/graft-wh/" + dir.replaceAll("[^A-Za-z0-9]", "_") + "/_corpus_" + fmt
      val cols = DocSchema.fieldNames.map(org.apache.spark.sql.functions.col)
      val d = docs(s, dir).select(cols.toSeq: _*)
      fmt match {
        case "jsonl" => graft.sources.CorpusIO.writeJsonl(d, base)
        case "orc" => graft.sources.CorpusIO.writeOrc(d, base)
        case _ => graft.sources.CorpusIO.writeCsv(d, base)
      }
      base
    })

  /** JSONL(.gz) ingest round trip ([[graft.sources.CorpusIO]]): the
    * documents table is written as gzip JSONL once per scale dir, read
    * back under the ENFORCED schema, and audited per source — counts,
    * exact id/char sums, the order-independent all-column md5 digest
    * SUM (mergeable, so the audit stays one bounded shuffle at any
    * corpus size), and the quarantine count. The oracle computes the
    * same aggregates from the parquet original (n_corrupt pinned 0),
    * so any row the interchange copy drops, duplicates, or garbles is
    * a hash mismatch.
    */
  def qJsonlIngest(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusIO.roundTripAudit(
      graft.sources.CorpusIO.readJsonl(s, corpusCopy(s, dir, "jsonl"), DocSchema))

  /** CSV(.gz) ingest round trip — same audit as [[qJsonlIngest]] over
    * the RFC-4180-quoted copy (embedded separators/quotes round-trip).
    */
  def qCsvIngest(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusIO.roundTripAudit(
      graft.sources.CorpusIO.readCsv(s, corpusCopy(s, dir, "csv"), DocSchema))

  /** ORC(zstd) ingest round trip — the columnar interchange sibling. */
  def qOrcIngest(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusIO.roundTripAudit(
      graft.sources.CorpusIO.readOrc(s, corpusCopy(s, dir, "orc"), DocSchema))

  val corpusIngestSql: String =
    """WITH d AS (
      |  SELECT source,
      |         md5(concat_ws('|', CAST(doc_id AS VARCHAR), text,
      |                       lang, source, CAST(n_chars AS VARCHAR))) AS h,
      |         doc_id, n_chars
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(CAST(sum(CAST(concat('0x', substr(h, 1, 15)) AS BIGINT))
      |              AS HUGEINT) % 9007199254740992 AS BIGINT) AS row_digest,
      |       CAST(CAST(sum(CAST(concat('0x', substr(h, 16, 15)) AS BIGINT))
      |              AS HUGEINT) % 9007199254740992 AS BIGINT) AS row_digest2,
      |       CAST(0 AS BIGINT) AS n_corrupt
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin
}
