package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-fixture generator for scale testing —
  * produces the same ten tables as the driver's `/root/testdata/sf*`
  * fixtures (TESTDATA.md / FIXTURES.md §B) at an arbitrary scale
  * factor, with every column distribution matched to the measured
  * driver fixtures (value ranges, categorical weights, duplicate
  * rates, lines-per-order ≈ Poisson(4), exponential event values,
  * unit-norm embeddings):
  *
  * {{{ sbt "runMain graft.GenData /root/repo/testdata/sf1 1.0" }}}
  *
  * Everything derives from `xxhash64(salt, id)` — no RNG state, no
  * wall clock — so any row of any table is reproducible in isolation
  * and generation parallelizes embarrassingly (the 100 TB version of
  * this is the same code with a bigger `spark.range`). Each table is
  * written as a `<name>.parquet/` DIRECTORY of several part files —
  * the layout any real multi-TB corpus has, and the one that matters
  * for honest scale measurement: a single file under
  * `maxPartitionBytes` (even sf1's 121 MB lineitem) yields ONE input
  * split, silently serializing every scan-heavy stage onto one core
  * (found in the first r13 sf1 drive: 12+ min single-task stages).
  * `tools/oracle_check.py` globs directory tables.
  *
  * Row counts at sf=1 (10× the sf0.1 bench fixtures): customer 150k,
  * supplier 10k, part 200k, orders 1.5M, lineitem 6M, events 1M,
  * documents 50k, embeddings 20k.
  */
object GenData {

  // ---------------------------------------------------------- helpers

  /** Deterministic uniform in [0,1) from (salt, key). 2^40 buckets —
    * far below double precision loss, far above any fixture's needed
    * resolution.
    */
  private val U = 1L << 40
  private def h(salt: String, k: Column): Column = xxhash64(lit(salt), k)
  private def u01(salt: String, k: Column): Column =
    pmod(h(salt, k), lit(U)).cast("double") / lit(U.toDouble)
  /** Deterministic uniform integer in [0, n). */
  private def uInt(salt: String, k: Column, n: Long): Column = pmod(h(salt, k), lit(n))
  private def pick(salt: String, k: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (uInt(salt, k, vals.size) + 1).cast("int"))
  private def money(salt: String, k: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u01(salt, k) * lit(hi - lo), 2)

  /** CLI table filter (`only=documents,events`): generation is
    * per-table independent, so a probe that needs one regenerated
    * table (the open-vocab documents corpus) skips the other nine.
    */
  private var onlyTables: Set[String] = Set.empty

  private def writeOne(df: DataFrame, outDir: String, name: String,
                       files: Int = 1, sortCol: Option[String] = None): Unit = {
    if (onlyTables.nonEmpty && !onlyTables.contains(name)) return
    val parts = df.repartition(files)
    val arranged = sortCol.fold(parts)(c => parts.sortWithinPartitions(c))
    arranged
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (16 * 1024 * 1024).toString)
      .parquet(s"$outDir/$name.parquet")
    println(s"[gendata] $name.parquet ($files files): ${df.columns.mkString(",")}")
  }

  // Timestamps are written as TIMESTAMP_NTZ (isAdjustedToUTC=false) —
  // the driver fixtures' physical type since the r6 regen; the shared
  // events loader probes the footer either way, but fixture fidelity
  // keeps every reader on the driver-validated branch.

  // ------------------------------------------------------------ tables

  /** `openVocab=false` (default) reproduces the driver fixtures'
    * CLOSED 31-word vocabulary — deliberately adversarial for exact
    * n-gram methods (trigram document frequency grows linearly with
    * the corpus, so prefix-join candidates grow quadratically; a
    * falsifiable mechanism SCALING.md names for q_dedup_ngram's >3×
    * decade step). `openVocab=true` swaps ONLY the documents word
    * distribution for a Zipf(s≈1) draw over 50k types (`rank =
    * ⌊V^u⌋` inverse-CDF, the standard power-law approximation:
    * P(rank=r) ≈ 1/(r·lnV)) — the shape real corpora have, where
    * rare-shingle prefixes stay near-singleton. Same hash keys, same
    * duplicate structure (exact/near kinds and copy arithmetic are
    * untouched), so the two corpora differ in vocabulary alone.
    */
  def generate(spark: SparkSession, outDir: String, sf: Double,
               openVocab: Boolean = false): Unit = {
    import spark.implicits._

    val nCustomer = (150000 * sf).toLong
    val nSupplier = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLineitem = (6000000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    // region / nation: fixed dimension tables, same at every scale
    writeOne(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), outDir, "region")

    writeOne(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), outDir, "nation")

    writeOne(spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uInt("c_nat", col("id"), 25).cast("int").as("c_nationkey"),
      money("c_bal", col("id"), -1000.0, 10000.0).as("c_acctbal"),
      pick("c_seg", col("id"),
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      outDir, "customer", files = 8)

    writeOne(spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uInt("s_nat", col("id"), 25).cast("int").as("s_nationkey"),
      money("s_bal", col("id"), -1000.0, 10000.0).as("s_acctbal")),
      outDir, "supplier", files = 2)

    writeOne(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick("p_adj", col("id"),
          Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        lit(" "),
        pick("p_noun", col("id"),
          Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), uInt("p_brand", col("id"), 25) + 1).as("p_brand"),
      pick("p_type", col("id"),
        Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (uInt("p_size", col("id"), 50) + 1).cast("int").as("p_size"),
      // the driver's exact lattice: 900.0 + (key mod 1000)/10
      ((lit(9000) + col("id") % 1000).cast("double") / 10.0).as("p_retailprice")),
      outDir, "part", files = 8)

    val epoch95 = to_date(lit("1995-01-01"))
    writeOne(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      uInt("o_cust", col("id"), nCustomer).as("o_custkey"),
      pick("o_stat", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", col("id"), 1000.0, 500000.0).as("o_totalprice"),
      date_add(epoch95, uInt("o_date", col("id"), 2404).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick("o_prio", col("id"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      outDir, "orders", files = 16)

    // lineitem: orderkey uniform over orders gives Binomial(n, 1/|orders|)
    // ≈ Poisson(4) lines per order — the driver fixture's measured shape
    // (mean 4, ~1.8% of orders uncovered)
    writeOne(spark.range(nLineitem).select(
      uInt("l_ord", col("id"), nOrders).as("l_orderkey"),
      uInt("l_part", col("id"), nPart).as("l_partkey"),
      uInt("l_supp", col("id"), nSupplier).as("l_suppkey"),
      (uInt("l_ln", col("id"), 7) + 1).cast("int").as("l_linenumber"),
      (uInt("l_qty", col("id"), 50) + 1).cast("double").as("l_quantity"),
      money("l_ext", col("id"), 900.0, 105000.0).as("l_extendedprice"),
      (uInt("l_disc", col("id"), 11).cast("double") / 100.0).as("l_discount"),
      (uInt("l_tax", col("id"), 9).cast("double") / 100.0).as("l_tax"),
      pick("l_rf", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_ls", col("id"), Seq("F", "O")).as("l_linestatus"),
      date_add(epoch95, (uInt("l_ship", col("id"), 2499) + 1).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")),
      outDir, "lineitem", files = 32, sortCol = Some("l_orderkey"))

    // events: 30 uniform days of 2024-01 at µs resolution; value is
    // Exponential(mean 50) rounded to 2 dp (measured: median 34.7 ≈
    // 50·ln2, p99 ≈ 50·ln100)
    val epoch24 = to_timestamp(lit("2024-01-01 00:00:00"))
    writeOne(spark.range(nEvents).select(
      col("id").as("event_id"),
      (epoch24 + make_dt_interval(lit(0), lit(0), lit(0),
        (u01("e_ts", col("id")) * lit(30.0 * 86400)).cast("decimal(18,6)")))
        .cast("timestamp_ntz").as("ts"),
      uInt("e_user", col("id"), nUsers).as("user_id"),
      pick("e_type", col("id"),
        Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u01("e_val", col("id"))), 2).as("value"),
      format_string("{\"k\": %d}", uInt("e_k", col("id"), 100)).as("props")),
      outDir, "events", files = 16, sortCol = Some("ts"))

    // documents: word salad over the driver's 31-word vocabulary,
    // 10..100 words/doc, with the measured duplicate structure — ~4.5%
    // of docs are near-dups of their predecessor (first 90% of the
    // token stream copied, own tail) and ~0.17% are exact dups
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window")
    val vocabArr = array(vocab.map(lit): _*)
    val docBase = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") % 601 === 600, lit("exact"))
        .when(col("id") % 22 === 11, lit("near"))
        .otherwise(lit("base")).as("kind"))
      .withColumn("src_id",
        when(col("kind") === "base", col("doc_id")).otherwise(col("doc_id") - 1))
      .withColumn("n", (uInt("d_nw", col("src_id"), 91) + 10).cast("int"))
      .withColumn("n_copy",
        when(col("kind") === "near", ceil(col("n") * 0.9).cast("int")).otherwise(col("n")))
    val words = transform(sequence(lit(0), col("n") - 1), p => {
      val streamId = when(p < col("n_copy"), col("src_id")).otherwise(col("doc_id"))
      val key = xxhash64(lit("d_w"), streamId * 128 + p)
      if (openVocab) {
        val u = pmod(key, lit(U)).cast("double") / lit(U.toDouble)
        concat(lit("w"), floor(pow(lit(50000.0), u)).cast("long"))
      } else
        element_at(vocabArr, (pmod(key, lit(31)) + 1).cast("int"))
    })
    writeOne(docBase
      .withColumn("text", array_join(words, " "))
      .withColumn("u", u01("d_lang", col("doc_id")))
      .select(
        col("doc_id"),
        col("text"),
        when(col("u") < 0.4, "en").when(col("u") < 0.55, "fr")
          .when(col("u") < 0.7, "zh").when(col("u") < 0.85, "de")
          .otherwise("es").as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")),
      outDir, "documents", files = 8)

    // embeddings: 64-dim iid standard normals (Box–Muller over two
    // deterministic uniforms), normalized to unit length, FLOAT — the
    // measured fixture shape (per-dim σ ≈ 1/√64, no label structure)
    val raw = transform(sequence(lit(0), lit(63)), d => {
      val k = col("id") * 128 + d
      val u1 = (pmod(xxhash64(lit("v_u1"), k), lit(U)) + 1).cast("double") / lit((U + 1).toDouble)
      val u2 = pmod(xxhash64(lit("v_u2"), k), lit(U)).cast("double") / lit(U.toDouble)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    })
    writeOne(spark.range(nVecs)
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        uInt("v_lab", col("id"), 10).cast("int").as("label")),
      outDir, "embeddings", files = 8)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GenData <outDir> <sf> [openvocab] [only=documents,events]")
    val opts = args.drop(2)
    val openVocab = opts.contains("openvocab")
    onlyTables = opts.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val spark = Session.start("graft-gendata")
    try generate(spark, args(0), args(1).toDouble, openVocab)
    finally spark.stop()
  }
}
