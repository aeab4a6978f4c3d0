package graft.operators

import graft.plans.Functions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines
  * (north-star extension scope — not in the reference, which has no
  * text surface at all; SURVEY §7.2 step 9).
  *
  * All hashing is md5-based specifically so that signatures are
  * bit-identical across engines (Spark's murmur `hash()` and DuckDB's
  * `hash()` are different functions; md5-of-UTF8 is the portable
  * primitive both share). Everything is per-row array math (no shuffle)
  * until the candidate join — the scale-determining steps are:
  *  - exact: one groupBy on the 128-bit text digest;
  *  - ngram: self-equi-join on exploded shingles (shuffle on shingle),
  *    then a pair aggregation — the standard scalable formulation;
  *  - minhash LSH: signatures per-row, band keys per-row, join only
  *    within (band, key) buckets — at 100 TB the bucket join touches a
  *    tiny fraction of the pair space, unlike the full ngram join;
  *  - simhash: per-row signature, grouping by signature is one shuffle
  *    of 16-char strings.
  */
object Dedup {

  /** Whitespace tokens (documents are single-space normalized). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word 3-gram shingles from raw text — the fused
    * [[graft.plans.WordShingles]] (one compiled call per row; the
    * builtin transform/array_distinct form ran per-element in the
    * expression interpreter). Empty array below 3 tokens.
    */
  def shingles3(text: Column): Column =
    Functions.call("graft_shingles", text, lit(3))

  /** MinHash signature: k permutations simulated as md5("<i>|" + shingle),
    * minimum taken lexicographically over the doc's shingle set — a
    * uniform min-hash because md5 output is uniform on hex strings.
    * Fused ([[graft.plans.MinhashSig]]): one reused MessageDigest for
    * the k·|shingles| hashes instead of an interpreted fresh-instance
    * md5 per element.
    */
  def minhashSig(shingles: Column, k: Int): Column =
    Functions.call("graft_minhash", shingles, lit(k))

  /** LSH band keys: adjacent pairs of signature slots hashed together.
    * A candidate pair must agree on the full 2-slot band — the standard
    * banding construction (P[candidate] = 1-(1-j^2)^bands).
    */
  def bandKeys(sig: Column, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("long").as("band"),
        md5(concat(element_at(sig, b * 2 + 1), element_at(sig, b * 2 + 2))).as("bk")))

  /** `bits`-bit SimHash from per-token md5 hex chars: bit j is the sign
    * of Σ_tokens (hexstream(token)[j] ≥ '8' ? +1 : −1), token
    * multiplicity acting as the weight. The hex stream is md5(token)
    * for the first 32 bits, then md5("<s>|token") for each further
    * 32-bit block — one digest per 32 signature bits, so a 64-bit
    * signature costs exactly 2 md5 per token. Computed in ONE aggregate
    * pass: the accumulator is the bits-slot bit-sum array, zip_with'd
    * against the token's hex chars — the earlier bits-independent-
    * aggregates form hashed every token `bits`× (interpreted, so no
    * subexpression sharing rescued it). The single sums subtree is
    * referenced exactly once via transform+array_join. Returns the
    * signature as a binary string ("1011…"), MSB first.
    */
  def simhashBitsStr(t: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"signature must fit a positive long, got $bits bits")
    val streams = (bits + 31) / 32
    def hexChars(tok: Column): Column = {
      val hs = (0 until streams).map { s =>
        split(if (s == 0) md5(tok) else md5(concat(lit(s + "|"), tok)), "")
      }
      slice(if (hs.size == 1) hs.head else concat(hs: _*), 1, bits)
    }
    val sums = aggregate(t, array_repeat(lit(0), bits), (acc, tok) =>
      zip_with(acc, hexChars(tok), (a, c) => a + when(c >= "8", 1).otherwise(-1)))
    array_join(transform(sums, v => when(v > 0, lit("1")).otherwise(lit("0"))), "")
  }

  /** The original 16-bit signature ([[simhashBitsStr]] at 16). */
  def simhash16(t: Column): Column = simhashBitsStr(t, 16)

  /** Scalar signature KEY for identity-level dedup: the full minhash
    * signature (identical text ⇒ identical key; all-k agreement ≈
    * fuzzy-exact) for shingleable docs, md5 fallback for short ones so
    * an all-empty shingle set doesn't collapse every short doc into one
    * key. The shared key of the streaming online dedup, the streaming
    * corpus gate, and the persisted index's `sigkeys` table.
    */
  def signatureKey(text: Column, k: Int = 8): Column = {
    val sh = shingles3(text)
    when(size(sh) > 0, concat_ws(",", minhashSig(sh, k))).otherwise(md5(text))
  }

  // ------------------------------------------------------------- operators

  /** Exact dedup: group by full-text digest.
    * Output: hash, canonical_id (min), n_dups.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy("canonical_id")

  /** Per-doc distinct 3-gram shingle sets (docs with ≥3 tokens — i.e.
    * a non-empty shingle array).
    */
  def docShingles(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), shingles3(col(textCol)).as("s"))
      .filter(size(col("s")) >= 1)

  /** Spark conf knob selecting the corpus-side strategy of
    * [[verifyJaccardImpl]] for the entry points that use the
    * string-array verify (minhashPairs / minhashLsh / containment).
    * Off by default — the single-node/broadcastable regime; set `true`
    * on deployments where the shingle table exceeds broadcast range
    * (the 1000-executor path). A session conf rather than a per-call
    * parameter so a cluster profile can flip every dedup query at once
    * without code changes. [[ngramJaccard]] no longer consults it
    * (r17): its digest-blob verify has no broadcast-or-die table — all
    * its exchanges are corpus-linear or output-sized by construction.
    */
  val SemiPruneConf = "spark.graft.dedup.semiPrune"

  /** Session conf: bidirectional-edge-row ceiling for
    * [[nearDupGroups]]' driver-local union-find fast path (default
    * 2,000,000 rows = 1M pairs, a few tens of MB collected). Set to 0
    * to force the distributed loop (tests; paranoia).
    */
  val LocalCcEdgesConf = "spark.graft.dedup.localCcEdges"

  /** [[ngramJaccard]]'s collapse engages when distinct shingle sets
    * fall below this fraction of (shingleable) docs — dup-family work
    * then outweighs the family machinery's fixed stage cost.
    * Package-visible for the spec's dup-family corpus pin.
    */
  private[graft] val CollapseGate = 0.95

  /** Session conf: shingleable-doc ceiling under which [[ngramJaccard]]
    * skips the truncated-blob candidate machinery (the dt-attach join +
    * in-stage IntersectEmit pre-verify) and sends bare candidate pairs
    * straight to the distinct + exact verify. Both paths are
    * output-identical (the pre-verify only prunes pairs the exact merge
    * kills anyway); the blob path wins once the candidate set is big
    * enough that shuffling bare pairs into the distinct dominates (the
    * sf2 closed-vocab fixture: 71.5M candidates for ~5k survivors),
    * the direct path wins while the whole candidate set is small
    * (measured at 5k docs: the dt exchange + merges cost more than the
    * pair distinct they avoid, 2.7 → 2.1 s interleaved same-session).
    * The ceiling is a SAFETY bound, not a tuning knob: in direct mode
    * the exact verify's input is candidate-sized, so its famDocs sides
    * are force-broadcast (≤ ceiling docs × ~2 KB blob ≈ tens of MB,
    * bounded by the ceiling) and the verify STREAMS — without that, a
    * dense candidate set re-creates the r16 disease of sorting
    * blob-carrying candidate rows through an SMJ (measured while
    * sizing this gate: 100k closed-vocab docs in direct mode = 71.5M
    * pairs × a ~1.7 KB side blob into the second verify join's sort,
    * a spill past 79 GB of free disk; the blob path runs the same
    * corpus in ~16 s). 20k docs keeps the forced broadcast tens-of-MB
    * and the bare-pair distinct trivial at any realistic density.
    */
  val DirectVerifyConf = "spark.graft.dedup.directVerifyDocs"
  private[graft] val DirectVerifyDocsDefault = 20000L
  private def directVerifyDocs(df: DataFrame): Long =
    df.sparkSession.conf.getOption(DirectVerifyConf).map { raw =>
      // r17 ADVICE: name the conf in the failure instead of a bare NFE
      try raw.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$DirectVerifyConf must be a long, got '$raw'")
      }
    }.getOrElse(DirectVerifyDocsDefault)

  private def semiPruneEnabled(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(SemiPruneConf).exists(_.toBoolean)

  /** Exact Jaccard verification of candidate pairs: the deduped pair
    * set picks up each side's shingle array by joining the cached
    * shingle table, and a compiled hash-set probe
    * ([[graft.plans.IntersectCount]]) computes the distinct
    * intersection per pair. Output: id_a, id_b, inter, union_n (the
    * exact all-pairs semantics — verification is lossless).
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, idCol: String,
                            threshold: Double): DataFrame =
    verifyJaccardImpl(cand, sh, idCol, threshold, semiPrune = semiPruneEnabled(cand))

  /** Pair-carried-array verification (r12). The previous verify
    * exploded the candidate docs' postings through the pair join —
    * Σ|a| shuffled rows per candidate pair plus a distinct-aggregate
    * (6.5M intermediate rows for 125k candidates at sf0.1; the whole
    * query's dominant cost). Here the pair set chain-joins the cached
    * shingle table twice to pick up each side's array — one row per
    * candidate pair at every step, never a per-shingle fanout — and
    * the intersection is one compiled hash-set probe per pair
    * ([[graft.plans.IntersectCount]]).
    *
    * `semiPrune` picks the corpus-side strategy when the shingle table
    * is too big to broadcast (threaded from the public entry points
    * via the [[SemiPruneConf]] session conf):
    *  - `false` (default, right for single-node / broadcastable `sh`):
    *    the chain joins take `sh` as-is; AQE broadcasts it while it
    *    fits and falls back to a shuffle join past that. The pair set
    *    feeds exactly one consumer (the chain), so no materialization.
    *  - `true` (the 1000-executor path): each chain join's shingle
    *    side is first LEFT SEMI pruned to the candidate ids, so the
    *    prune is map-only over `sh` and the subsequent joins move only
    *    candidate docs' arrays. The pair set here feeds THREE
    *    consumers (two semi builds + the chain probe), so the deduped
    *    pairs are `localCheckpoint`ed first — the expensive candidate
    *    subtree computes exactly ONCE and the two id-set builds read
    *    checkpointed blocks (r12 paid ~3× candidate generation here;
    *    an earlier CachePool variant raced its own two branches —
    *    PLANS_r12). No forced broadcast hint on the id set: it derives
    *    from a checkpointed frame with known-small stats, so AQE
    *    broadcasts it while it fits and can fall back if a pathological
    *    candidate set is not tiny.
    *
    *    The pair set checkpoints EAGERLY (construction is an action,
    *    not a free plan — a deliberate cost of the opt-in path;
    *    `SemiPruneConf` defaults off). The checkpoint KIND follows the
    *    session: when `SparkContext.setCheckpointDir` is configured
    *    (the cluster deployment posture — an HDFS/object-store path),
    *    the pairs take a RELIABLE `checkpoint`, so blocks survive
    *    executor loss and dynamic-allocation decommission (a transient
    *    persist spans the eager checkpoint because the checkpoint
    *    write job would otherwise recompute the candidate subtree —
    *    the exactly-once pin holds on both kinds); without a
    *    checkpoint dir they fall back to `localCheckpoint`, whose
    *    single-replica truncated-lineage blocks make executor loss
    *    fail the query irrecoverably — fine on local[*], the reason
    *    cluster deployments should set the dir. A lazy persist is NOT
    *    a safe substitute for either (the r12 race: two concurrent
    *    branches each computed the candidate subtree before either
    *    finished populating the cache).
    * Output is identical either way (EquivalenceSpec in DedupSpec).
    *
    * `cand` may arrive with duplicate pairs (one per shared prefix
    * shingle / per agreeing band); the old distinct-count absorbed the
    * multiplicity, the per-row intersect would double-emit — dedup the
    * pair set first (candidate-proportional exchange).
    */
  private[graft] def verifyJaccardImpl(cand: DataFrame, sh: DataFrame, idCol: String,
                                       threshold: Double, semiPrune: Boolean): DataFrame = {
    val pairs =
      if (semiPrune) {
        val deduped = cand.distinct()
        if (deduped.sparkSession.sparkContext.getCheckpointDir.isDefined) {
          // Reliable checkpoint: blocks survive executor loss, but the
          // checkpoint WRITE job recomputes the RDD unless it is cached —
          // persist through the eager checkpoint so the candidate subtree
          // still computes exactly once, then drop the transient cache.
          deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try deduped.checkpoint(true)
          finally deduped.unpersist(false)
        } else deduped.localCheckpoint(true)
      } else cand.distinct()
    def side(role: String): DataFrame = {
      val base = sh.select(col(idCol).as(role), col("s"))
      if (!semiPrune) base
      else base.join(pairs.select(col(role)).distinct(), Seq(role), "left_semi")
    }
    pairs
      .join(side("id_a").withColumnRenamed("s", "s_a"), "id_a")
      .join(side("id_b").withColumnRenamed("s", "s_b"), "id_b")
      .withColumn("inter", Functions.call("graft_isect", col("s_a"), col("s_b")).cast("long"))
      .withColumn("union_n",
        size(col("s_a")).cast("long") + size(col("s_b")).cast("long") - col("inter"))
      .filter(col("inter") * lit(1.0) / col("union_n") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("union_n"))
  }

  /** Thresholded n-gram Jaccard dedup with ppjoin-style prefix
    * filtering: a pair with jaccard ≥ t must share a shingle within the
    * first |s| − ⌈t·|s|⌉ + 1 shingles of each side under any common
    * total order — order rarest-first and the candidate join only ever
    * touches rare shingles, eliminating the hot-shingle quadratic
    * blowup of the naive shingle self-join. Lossless: candidates are
    * then verified exactly, so the output is identical to the naive
    * all-pairs definition (which the DuckDB oracle still uses).
    *
    * EXACT-DUP PRE-COLLAPSE (r17, the r15 dHash distinct-hash move):
    * jaccard is a function of the shingle SETS alone, so docs with
    * identical sets (≈ exact-dup families — ~half of a web-scale
    * corpus) are indistinguishable here. The prefix/candidate/verify
    * pipeline runs on ONE representative (= min id) per distinct set,
    * keyed by md5 of the doc's [[graft.plans.TextDigests]] blob; doc
    * pairs come back from an output-sized expansion — cross-family
    * pairs via two rep-keyed joins (inter/union are set functions, so
    * the rep pair's values ARE every member pair's values), same-set
    * families via one fingerprint-equi self-join at jaccard = 1, which
    * passes any threshold ≤ 1. Without the collapse, a duplicate
    * family of m docs multiplied every candidate bucket by m and the
    * verify by m² (VERDICT r16 #1).
    *
    * DIGEST-BLOB VERIFY (r17): shingles travel as 16-byte md5 digests
    * from the first projection on — fixed-width posting keys, and the
    * whole sorted set as ONE flat BINARY blob carried on the prefix
    * rows, so candidate pairs exit the candidate join already holding
    * BOTH sides' sets and verify map-side in the same stage via the
    * exploded [[graft.plans.IntersectEmit]] generator (one sorted
    * merge per candidate, evaluated exactly once, no residual filter
    * for Catalyst to substitute into a join condition). This removes
    * the r16 shape's three candidate-cardinality exchanges — the
    * 71.5M-row pair distinct and the two array-attach joins, one of
    * which shuffled candidate rows WITH a side's shingle arrays
    * (measured at sf2: 71.5M candidates for 4,687 result pairs, 48 of
    * 61 s in verify+distinct) — in favor of one distinct over the
    * RESULT pairs (each emitted once per shared prefix shingle).
    * Every exchange is now corpus-linear (postings, prefix rows ×
    * ~16 B/shingle blob) or output-sized; there is no broadcast-or-die
    * table anywhere, so the semiPrune cluster knob is moot here (it
    * still governs the string-array verify the minhash/containment
    * entry points use). Output: id_a, id_b, inter, union_n,
    * jaccard_ppm.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"bad jaccard threshold $threshold")
    // (id, d) — the doc's blob in ONE compiled eval per row
    // (TextDigests: a multi-column projection over shingles3 would
    // re-evaluate the shingling per derived column — CollapseProject
    // inlines the alias and CodegenFallback expressions get no CSE);
    // cached UNFILTERED so the <3-token filter and the set size both
    // derive from the cached attribute. Feeds families, postings, the
    // prefix blob attach and the expansion.
    val famAll = CachePool.track(docs.select(col(idCol).as("id"),
      Functions.call("graft_textdig", col(textCol), lit(3)).as("d")))
    val famDocs = famAll.filter(length(col("d")) >= 16)
      .withColumn("len", (length(col("d")) / lit(16)).cast("int"))
    // ADAPTIVE COLLAPSE GATE (one aggregate job over the cached blob
    // table — the scaled-knob "how big is the corpus" precedent): the
    // family machinery (semi join + output expansion, ~7 extra local
    // stages) only pays off when identical shingle sets are a
    // meaningful FRACTION of the corpus (the ~50%-dup web-crawl
    // regime); below [[CollapseGate]] the pipeline runs on all docs —
    // COMPLETE either way (identical-set pairs are ordinary jaccard-1
    // candidates: they share every prefix shingle), the gate only
    // decides whether family pairs come from the expansion or from
    // the candidate join. At small SF the machinery was the dominant
    // cost (sf0.1: 4.4 s with vs ~2 s without, for 8 dups in 5000).
    // r17.4: approx_count_distinct, not countDistinct — the exact
    // distinct forced a two-phase (expand) aggregate into the gate job;
    // the HLL++ sketch map-side combines in one pass, is deterministic
    // (hash-based), and counts the blob directly (no per-row md5). The
    // gate tolerates its ±2% rsd by construction: EITHER branch is
    // output-identical (identical-set pairs are ordinary jaccard-1
    // candidates), the fraction only picks which machinery runs, and
    // real corpora sit far from the 0.95 boundary (~50%-dup web crawls
    // vs ≥99% distinct synthetic fixtures).
    val gate = famAll.agg(
      count(when(length(col("d")) >= 16, 1)).as("n"),
      approx_count_distinct(when(length(col("d")) >= 16, col("d")), 0.02).as("f")).head
    val collapse = gate.getLong(1) < CollapseGate * gate.getLong(0)
    val fams =
      if (collapse) CachePool.track(famDocs.groupBy(md5(col("d")).as("fp"))
        .agg(min(col("id")).as("rep"), count(lit(1)).as("fam_n")))
      else null
    // representatives only past this point (the pre-collapse)
    val reps =
      if (collapse) CachePool.track(
        famDocs.join(fams.select(col("rep").as("id")), Seq("id"), "left_semi"))
      else famDocs
    val ds = reps.select(col("id"), col("len"),
      explode(Functions.call("graft_digsplit", col("d"))).as("g"))
    // global rarity order = (doc frequency, digest) — no global rank
    // column needed, the tuple itself is the sort key (any consistent
    // total order is a valid ppjoin global order; the oracle replays
    // all-pairs semantics, not the candidate order). Doc frequency is
    // a groupBy-count joined back co-partitioned on digest (r11): the
    // count shuffle map-side combines to |distinct shingles| rows, and —
    // the 100 TB point — a hot template shingle never serializes its
    // whole posting list through one window task (AQE skew-split can't
    // cut a window group, but it CAN cut a join side). Per-doc rarity
    // rank stays a (bounded: ≤|doc shingles|) per-id window.
    val freq = ds.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("c"), col("g"))
    // DIRECT-VERIFY GATE (r17.4): below [[DirectVerifyDocs]] shingleable
    // docs the blob machinery inverts — the dt-attach join (one
    // corpus-sized exchange of the rep table) plus the in-stage
    // IntersectEmit merges cost more than just shuffling the bare
    // candidate pairs into the distinct, because a small corpus's
    // candidate set is itself small. Both paths feed the SAME exact
    // verify below, so the output is provably identical — the blob
    // path's in-stage pre-verify only prunes candidates the exact merge
    // would kill anyway. Conf-overridable for cluster profiles (and so
    // specs/probes can force either path at any SF).
    val directVerify = gate.getLong(0) <= directVerifyDocs(docs)
    // both sides of the candidate self-join read this — persist (pool-
    // bounded lifecycle), or the rarity ranking runs twice
    val prefixBase = ds
      .join(freq, "g")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= greatest(lit(1),
        (col("len") - ceil(lit(threshold) * col("len")) + 1).cast("int")))
      // singleton prune (r12): a df=1 shingle exists in exactly one doc,
      // so it can never match the other side of the candidate self-join —
      // dropping those rows AFTER rn is assigned (positions unchanged)
      // shrinks both join inputs with zero effect on the candidate set.
      // Rarest-first ordering makes singletons the BULK of prefixes
      // (most shingles in a real corpus are unique), so this is the
      // single biggest candidate-join input cut available losslessly.
      .filter(col("c") > 1)
    val prefixes = CachePool.track(
      if (directVerify) prefixBase.select(col("id"), col("g"), col("len"), col("rn"))
      // attach the doc's TRUNCATED digest blob (4-byte blocks — ¼ the
      // exchange payload; a lossless upper-bound representation, see
      // DigestTruncate) AFTER the prefix filters, so only surviving
      // prefix rows (not every posting) carry it into the candidate
      // join
      else prefixBase
        .join(reps.select(col("id"),
          Functions.call("graft_digtrunc", col("d"), lit(4)).as("dt")), "id")
        .select(col("id"), col("g"), col("len"), col("rn"), col("dt")))
    // ppjoin's length filter rides the join: jaccard ≥ t ⟹
    // inter ≤ min(|a|,|b|) and union ≥ max(|a|,|b|), so
    // min ≥ t·max — a free necessary-condition predicate. ppjoin's
    // POSITIONAL filter rides it too: a match at rarity positions
    // (rn_a, rn_b) bounds the overlap by 1 + min(len_a−rn_a,
    // len_b−rn_b) (everything before rn on each side is disjoint —
    // both prefixes are sorted by the same global order, and the FIRST
    // common element maximizes this bound, so per-pair survival equals
    // ppjoin's). jaccard ≥ t needs overlap ≥ t/(1+t)·(len_a+len_b);
    // the 1e-9 slack keeps the float compare conservative (may admit a
    // doomed candidate, never drops a true one — verification stays
    // lossless). Survivors pre-verify IN PLACE: the exploded
    // IntersectEmit merge over the carried 4-byte blobs emits only
    // pairs whose UPPER-BOUND jaccard passes — so a pair sharing
    // several prefix shingles emits several identical rows and the
    // distinct below is survivor-sized, never candidate-sized (at sf2:
    // 71.5M candidates never leave their map stage; ~127k pre-verified
    // rows distinct to ~5k pairs).
    val candJoin = prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.len") >= lit(threshold) * col("b.len") &&
          col("b.len") >= lit(threshold) * col("a.len") &&
          (lit(1) + least(col("a.len") - col("a.rn"), col("b.len") - col("b.rn"))) *
            lit(1.0 + threshold) >=
            lit(threshold) * (col("a.len") + col("b.len")) - lit(1e-9))
    val prePairs = (
      if (directVerify)
        // small corpus: bare candidate pairs go straight to the
        // candidate-sized (but small) distinct; the exact verify below
        // is the only merge evaluated
        candJoin.select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      else candJoin
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          explode(Functions.call("graft_isect_emit",
            col("a.dt"), col("b.dt"), lit(threshold), lit(4))).as("iu"))
        .select(col("id_a"), col("id_b"))
      ).distinct()
    // exact verify on the FULL 16-byte blobs + one exact merge per
    // surviving pair; truncation false positives die here. Blob path:
    // prePairs is pre-verified (survivor-sized), AQE broadcasts it and
    // famDocs streams. Direct path: prePairs is CANDIDATE-sized, so
    // the famDocs sides (bounded by the direct-verify doc ceiling)
    // are force-broadcast instead — the verify then streams the pairs
    // through two broadcast-hash probes; letting these fall to SMJ
    // would sort candidate rows already carrying a side's blob, the
    // exact r16 candidate-exchange disease (measured: >79 GB spill at
    // 100k closed-vocab docs).
    val famSide = (role: String, out: String) => {
      val side = famDocs.select(col("id").as(role), col("d").as(out))
      if (directVerify) broadcast(side) else side
    }
    val repPairs = prePairs
      .join(famSide("id_a", "d_a"), "id_a")
      .join(famSide("id_b", "d_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        explode(Functions.call("graft_isect_emit",
          col("d_a"), col("d_b"), lit(threshold), lit(16))).as("iu"))
      .select(col("id_a"), col("id_b"),
        col("iu.inter").as("inter"), col("iu.union_n").as("union_n"))
    val docPairs =
      if (!collapse) repPairs // no identical sets ⇒ rep pairs ARE doc pairs
      else {
        // ---- output-sized expansion back to doc pairs ----
        // cross-family: every (member of A, member of B) inherits the
        // rep pair's exact inter/union; ids re-oriented because
        // families interleave (a member of B may be smaller than a
        // member of A).
        val famKeyed = famDocs.select(col("id"), col("len"), md5(col("d")).as("fp"))
        val members = famKeyed.join(fams.select(col("fp"), col("rep")), "fp")
          .select(col("id"), col("rep"))
        val cross = repPairs
          .join(members.select(col("rep").as("id_a"), col("id").as("ia")), "id_a")
          .join(members.select(col("rep").as("id_b"), col("id").as("ib")), "id_b")
          .select(least(col("ia"), col("ib")).as("id_a"),
            greatest(col("ia"), col("ib")).as("id_b"), col("inter"), col("union_n"))
        // intra-family: identical sets ⇒ jaccard = 1 ≥ threshold,
        // inter = union = the set size; one equi self-join on the
        // fingerprint emits exactly the C(m,2) result pairs per family.
        val intra = famKeyed.as("x").join(famKeyed.as("y"),
            col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
            col("x.len").cast("long").as("inter"), col("x.len").cast("long").as("union_n"))
        cross.unionByName(intra)
      }
    docPairs
      .select(col("id_a"), col("id_b"), col("inter"), col("union_n"),
        round(col("inter") * lit(1000000.0) / col("union_n")).cast("long").as("jaccard_ppm"))
      .orderBy("id_a", "id_b")
  }

  /** The exact-dup families [[ngramJaccard]] collapses on: one row per
    * distinct shingle SET — (fp, rep = min member id, fam_n). Package-
    * visible so the spec pins the collapsed cardinality (a dup family
    * must reach the candidate join as ONE doc).
    */
  private[graft] def shingleFamilies(docs: DataFrame, textCol: String = "text",
                                     idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol).as("id"),
        Functions.call("graft_textdig", col(textCol), lit(3)).as("d"))
      .filter(length(col("d")) >= 16)
      .select(col("id"), md5(col("d")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("fam_n"))
  }

  /** [[minhashPairs]] plus a total order on the pair key — the
    * user-facing result shape. Consumers that only need the pair SET
    * (e.g. [[nearDupGroups]]) should take [[minhashPairs]] directly:
    * the global sort costs a range-partition sample pass + sort shuffle
    * that a set consumer immediately throws away.
    */
  def minhashLsh(docs: DataFrame, k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashPairs(docs, k, bands, threshold, textCol, idCol)
      .orderBy("id_a", "id_b")

  /** MinHash+LSH near-dup: banded candidate generation then exact
    * Jaccard verification of only the candidates. Output (UNORDERED):
    * id_a, id_b, jaccard_ppm (verified ≥ threshold).
    */
  def minhashPairs(docs: DataFrame, k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // same rationale as ngramJaccard: shingles feed signature + both
    // verification branches
    val sh = CachePool.track(docShingles(docs, textCol, idCol))
    verifyJaccard(bandedMinhashCands(sh, k, bands, idCol), sh, idCol, threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter") * lit(1000000.0) / col("union_n")).cast("long").as("jaccard_ppm"))
  }

  /** Banded-minhash candidate pairs over a (cached) shingle table — the
    * shared sub-quadratic candidate generator of [[minhashPairs]] and
    * [[containmentPairs]]. Duplicate pairs (several agreeing bands) are
    * fine — verification counts DISTINCT shingles, so no dedup exchange
    * here. The k×|shingles| md5 signature arithmetic is the dominant
    * cost — persisted (pool-bounded) so the self-join's two sides don't
    * each recompute it.
    */
  private def bandedMinhashCands(sh: DataFrame, k: Int, bands: Int,
                                 idCol: String): DataFrame = {
    val banded = CachePool.track(sh
      .select(col(idCol).as("id"), col("s"), minhashSig(col("s"), k).as("g"))
      .select(col("id"), explode(bandKeys(col("g"), bands)).as("bandkey"))
      .select(col("id"), col("bandkey.band").as("band"), col("bandkey.bk").as("bk")))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
  }

  /** Asymmetric CONTAINMENT near-superset pairs (Broder's containment
    * c(A→B) = |A∩B| / |A|): catches quote-inclusion / boilerplate-plus-
    * payload relations that symmetric Jaccard under-scores (a small doc
    * wholly inside a big one has c = 1 but Jaccard ≈ |A|/|B|). Both
    * directions are reported as exact integer ppm (floor division);
    * a pair survives when EITHER direction reaches `minCont`.
    *
    * Candidate recall follows the banded-minhash contract (tuned for
    * symmetric similarity — an extreme-size-ratio pair can evade the
    * bands; size-stratified banding is the published fix when that tail
    * matters). Verification is exact, so precision is exact — and the
    * oracle replays the identical banding, making the recall contract
    * part of the checked semantics.
    *
    * Output: id_a, id_b, inter, sz_a, sz_b, cont_a_ppm, cont_b_ppm.
    */
  def containmentPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
                       minCont: Double = 0.8,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minCont > 0.0, s"bad containment threshold $minCont")
    // r17: two moves from the ngramJaccard/bitextMineLsh rework,
    // shaped for THIS operator's measured profile (sf4 probe: small
    // minhash buckets — max ~300 — and only ~760k raw band matches,
    // so candidates are cheap and the old cost was the posting-join
    // verify fanning every candidate out by Σ|A| shingle rows before
    // a countDistinct aggregate — the pre-r12 shape ngram abandoned).
    // (1) the band self-join runs on SCALAR rows (id + the doc's full
    // band-key array, ~200 B) and admits a match only at the pair's
    // FIRST agreeing band — pairs distinct by construction, no dedup
    // exchange, and no fat payload through the skewed join's buffered
    // group re-iteration (a blob-carrying variant measured 2× WORSE
    // than the posting shape here: sorted 1 KB rows + per-group
    // spill). (2) |A∩B| is one exact IntersectEmit merge of the two
    // sorted-digest blobs, attached to the already-distinct pairs by
    // two candidate-sized id joins (threshold 0 = emit always; the
    // inter ≥ 1 filter drops share-nothing pairs exactly like the old
    // inner posting-join did).
    // blob via the fused text→digest eval, signature as a CACHED column
    // (bandKeys over an inlined minhashSig re-evaluated the k·|shingles|
    // signature md5s per band in the interpreter — the same
    // CollapseProject/no-CSE trap as ngram's famDocs); band keys derive
    // from the cached attribute (4 md5s/row). Unfiltered cache, <3-token
    // docs dropped on the cached blob length.
    val per0 = CachePool.track(docs.select(col(idCol).as("id"),
      Functions.call("graft_textdig", col(textCol), lit(3)).as("d"),
      minhashSig(shingles3(col(textCol)), k).as("g")))
    val per = per0.filter(length(col("d")) >= 16)
      .withColumn("len", (length(col("d")) / lit(16)).cast("int"))
    val keys = per.select(col("id"),
        transform(bandKeys(col("g"), bands), x => x("bk")).as("bkarr"))
      .select(col("id"), col("bkarr"),
        posexplode(col("bkarr")).as(Seq("band", "bk")))
    val firstBand = (1 until bands).map { bIdx =>
      col("x.band") === bIdx &&
        (0 until bIdx).map(e =>
          element_at(col("x.bkarr"), e + 1) =!= element_at(col("y.bkarr"), e + 1))
          .reduce(_ && _)
    }.foldLeft(col("x.band") === 0)(_ || _)
    keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id") && firstBand)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .join(per.select(col("id").as("id_a"),
        col("len").cast("long").as("sz_a"), col("d").as("d_a")), "id_a")
      .join(per.select(col("id").as("id_b"),
        col("len").cast("long").as("sz_b"), col("d").as("d_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        explode(Functions.call("graft_isect_emit",
          col("d_a"), col("d_b"), lit(0.0), lit(16))).as("iu"))
      .select(col("id_a"), col("id_b"), col("iu.inter").as("inter"),
        col("sz_a"), col("sz_b"))
      .filter(col("inter") >= 1)
      .withColumn("cont_a_ppm", expr("inter * 1000000 div sz_a"))
      .withColumn("cont_b_ppm", expr("inter * 1000000 div sz_b"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= lit(math.round(minCont * 1000000)))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected components over near-duplicate pairs — the "keep one
    * canonical doc per near-dup cluster" step of a dedup pipeline:
    * every doc appearing in ≥1 pair gets group_id = the minimum doc id
    * reachable through the pair graph. Deterministic min-label
    * propagation to fixpoint (the standard distributed-CC shape; one
    * neighbor-propagate join+agg plus one pointer-jumping shortcut join
    * per round — the shortcut rewrites each label to its label's label,
    * so convergence is O(log diameter) rounds instead of O(diameter)).
    * The per-round driver `count` is the convergence check, not data
    * movement.
    *
    * The incoming `pairs` plan — typically the expensive minhash
    * candidate-join + verify subtree — is referenced exactly ONCE: the
    * bidirectional edge set comes from a per-row explode (each pair
    * emits both directions in one pass), not a self-union, so the
    * upstream subtree cannot execute twice no matter how the plan is
    * consumed. This also drops the pre-materialization action the
    * round-3 union formulation needed. Output (UNORDERED — downstream
    * consumers are joins; order at the query edge if you need it):
    * doc_id, group_id.
    */
  def nearDupGroups(pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // localCheckpoint (lazy), not persist: persist caches DATA but the
    // per-round plans still CHAIN the full candidate-join lineage, and
    // re-ANALYZING that tree every round is pure driver time — measured
    // 0.35-0.55 s/round on q_dhash_groups' graph (vs 0.08 s of actual
    // execution) before r15. Checkpointing truncates edges to a
    // LogicalRDD, so each round analyzes two tiny scans instead. The
    // checkpointed blocks are reclaimed by the ContextCleaner when the
    // loop's frames go unreachable (Residue sweeps / periodic GC).
    // the repartition before the checkpoint lets AQE SIZE the edge
    // partitions (a 4k-edge image graph coalesces to one partition, so
    // every round's map stages are single-task; a billion-edge graph
    // spreads) — without it the checkpoint freezes the upstream
    // candidate join's partition count into every round
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(col("u"))
      .localCheckpoint(false)

    // Small-graph fast path (r15): the distributed loop's wall time at
    // small edge counts is ~6 stages × fixed local-stage latency × ~7
    // rounds (~2 s for a 4k-edge graph doing <10 ms of real work) — so
    // once the checkpoint materializes and the EXACT edge count is
    // known, a bounded graph is solved on the driver with min-label
    // union-find: one PRIMITIVE collect (≤ threshold long pairs,
    // ~48 B/edge ⇒ ~96 MB transient at the 2M default),
    // identical output by construction (unique fixpoint = per-component
    // min). The same adaptive move Spark itself makes when it collects
    // a bounded top-k instead of sorting the cluster; the distributed
    // loop remains the path for every graph past the threshold.
    val spark = pairs.sparkSession
    val localMax = spark.conf.getOption(LocalCcEdgesConf).map(_.toLong)
      .getOrElse(2000000L)
    if (edges.count() <= localMax) {
      // primitive collect (r16, from the r15 verdict/advice): ids land
      // as SPECIALIZED long pairs + two long arrays — ~48 B/edge
      // transient, ~96 MB at the 2M default — not boxed GenericRows
      // (~150+ B/edge); the explicit long cast also keeps the path
      // type-generic (IntegerType ids work), with the output cast back
      // to the input id type so local ≡ distributed schema-exactly.
      val (us, vs) = collectEdgesPrimitive(edges)
      val idType = edges.schema("u").dataType
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      // union-to-min: the larger root always points at the smaller, so
      // the component's minimum id never acquires a parent — the final
      // root IS the min-label the distributed fixpoint computes
      var i = 0
      while (i < us.length) {
        val ru = find(us(i)); val rv = find(vs(i))
        if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
        i += 1
      }
      val nodes = new java.util.HashSet[Long]()
      us.foreach(nodes.add(_)) // bidirectional: u covers all
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      nodes.forEach { n => out += ((n, find(n))) }
      lastRounds.set(0) // telemetry: 0 = solved locally, no loop rounds
      import spark.implicits._
      return out.toSeq.toDF("doc_id", "group_id")
        .select(col("doc_id").cast(idType).as("doc_id"),
          col("group_id").cast(idType).as("group_id"))
    }

    // ---- distributed path: alternating large-star / small-star ----
    // (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    // Components in MapReduce and Beyond", SoCC 2014 — public
    // knowledge.) The r12–r15.0 label-propagation + pointer-jumping
    // loop was geometric ONLY when the label field formed deep chains;
    // on flood-limited graphs — the sf2 image-hash graph, where the
    // dense buckets' local minima are label ROOTS so shortcuts have
    // nothing to jump through (measured: 2, 4 and 8 shortcuts per
    // round all gave the identical 33 rounds) — its round count
    // equaled the minimum's ECCENTRICITY, which grows linearly with
    // corpus scale: a genuine 100 TB cliff. LS/SS instead REWIRES THE
    // EDGES toward minima every round, halving distances structurally:
    // O(log² n) proven, ~log measured on every family here, and the
    // edge set contracts as stars form, so later rounds get cheaper.
    //
    // Round hygiene, both learned this round (r15): each round's edge
    // set is localCheckpoint'ed (truncated lineage) and then REBUILT
    // from the checkpointed RDD — Spark 4's checkpoint otherwise
    // propagates the pre-checkpoint plan's ESTIMATED stats into the
    // LogicalRDD, so round-over-round the sizeInBytes estimate
    // compounds multiplicatively until stats-reading optimizer rules
    // (InjectRuntimeFilter, join selection) hang the driver
    // multiplying 10⁸-digit BigInts (jstack: ToomCook3 under
    // SizeInBytesOnlyStatsPlanVisitor). [[ccStatsDigits]] pins the
    // post-strip bound. NOTE: broadcast-hinting the per-round tables
    // was tried and measured SLOWER at small sizes (serialized
    // broadcast-exchange jobs vs tiny AQE-coalesced shuffles).
    def strip(df: DataFrame): DataFrame = {
      ccStatsDigits.set(math.max(ccStatsDigits.get(),
        df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length))
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    }
    ccStatsDigits.set(0)
    // canonical contracted edge set: (u > v), no self-loops, distinct
    var e = strip(edges.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(false))
    // exact cardinality + decimal endpoint-sum fingerprint: one agg
    // materializes the round AND screens convergence; the (costlier)
    // exact set-difference check runs only when the fingerprint
    // matches, which on monotone LS/SS rounds is the fixpoint or a
    // hair before it
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum((col("u") + col("v"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head
      (r.getLong(0), r.getDecimal(1))
    }
    var (eCount, eSum) = fingerprint(e)
    var converged = eCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val tRound = System.nanoTime()
      // LARGE-STAR: every node links its strictly-larger neighbors to
      // the minimum of its closed neighborhood. Emitted edges keep the
      // canonical orientation for free: v > u ≥ m(u) ⇒ child > parent.
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("d"))
        .select(col("d.u").as("u"), col("d.v").as("v"))
      val mLs = sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      val ls = sym.join(mLs, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: every node links its smaller-or-equal neighbors
      // (and itself) to the minimum among them. On the canonical (u >
      // v) form the grouping key IS the larger endpoint; m < u always.
      val mSs = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ls.join(mSs, "u")
      val ss = withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mSs.select(col("u"), col("m").as("v")))
        .distinct()
      val newE = strip(ss.localCheckpoint(false))
      val tMat = System.nanoTime()
      val (newCount, newSum) = fingerprint(newE)
      // exact convergence: fingerprint screen, then an empty
      // set-difference on the canonical distinct form ⇒ identical edge
      // sets (a union of stars rooted at the component minima, per the
      // LS/SS fixpoint) — never declared on the fingerprint alone
      converged = newCount == eCount && newSum.compareTo(eSum) == 0 &&
        newE.except(e).isEmpty
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round=$iter edges=$eCount->$newCount " +
          f"build=${(tMat - tRound) / 1e9}%.3f s " +
          f"check=${(System.nanoTime() - tMat) / 1e9}%.3f s")
      e = newE
      eCount = newCount
      eSum = newSum
      iter += 1
    }
    // labels: children point at their star root; roots and nodes that
    // contracted away entirely (self-loop-only ids) label themselves.
    // groupBy-min instead of trusting one-edge-per-child keeps the
    // output well-defined even on a maxIter-capped non-fixpoint.
    val origNodes = edges.select(col("u")).distinct() // bidirectional: u covers all
    val childMap = e.groupBy(col("u")).agg(min(col("v")).as("group_id"))
      .select(col("u").as("doc_id"), col("group_id"))
    val labels = origNodes.select(col("u").as("doc_id"))
      .join(childMap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .persist(lvl)
    // the FINAL labels frame backs the lazy result handed to the caller
    // — give its cache the bounded CachePool lifecycle instead of
    // leaking one persisted table per call (same class of leak as the
    // round-2 viewport-projection finding)
    CachePool.track(labels)
    lastRounds.set(iter)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"nearDupGroups(LS/SS) converged=$converged rounds=$iter (maxIter=$maxIter)")
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"nearDupGroups stopped at maxIter=$maxIter before the star fixpoint — " +
          "labels are NOT the full transitive closure")
    labels
  }

  /** The local CC fast path's edge collect as PRIMITIVES: long-cast
    * columns through a typed Dataset (specialized `(Long, Long)` pairs,
    * no boxed Rows), split into two long arrays. Package-visible so the
    * spec can pin the representation and the int-id genericity.
    */
  private[graft] def collectEdgesPrimitive(edges: DataFrame): (Array[Long], Array[Long]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect()
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Rounds taken by the most recent [[nearDupGroups]] call on this
    * JVM — telemetry/test hook (single-query granularity; concurrent
    * calls race benignly).
    */
  private[graft] val lastRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Max digit count of any round's propagated sizeInBytes estimate in
    * the most recent [[nearDupGroups]] loop — telemetry/test hook for
    * the r15 stats-compounding fix (must stay bounded ~O(100) digits;
    * pre-fix it grew ~5× per round until the driver hung multiplying
    * them).
    */
  private[graft] val ccStatsDigits = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact duplicated-span report (public knowledge: Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2021 —
    * their suffix-array substring dedup, here at a fixed span length):
    * for every doc with ≥`spanLen` tokens, how many of its `spanLen`-
    * token sliding spans occur MORE THAN ONCE corpus-wide (counting
    * every position, including within-doc repeats) — the per-document
    * memorization-risk signal substring dedup acts on.
    *
    * Spans travel as md5 hashes, never as token strings, so the
    * multiplicity shuffle is 32 bytes/position regardless of span
    * length. Scale shape: one hash-keyed count (map-side combined,
    * bounded by distinct spans), one hash-keyed join back, one doc-keyed
    * aggregation — the same partitioning trio every dedup op here uses.
    *
    * Output: idCol, n_spans, n_dup_spans, dup_ppm, max_mult.
    */
  def duplicatedSpans(docs: DataFrame, spanLen: Int = 8,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(spanLen >= 2, s"bad span length $spanLen")
    // fused positional span digests ([[graft.plans.SpanHashes]]) — the
    // transform(sequence…md5(concat_ws(slice))) form re-sliced and
    // re-hashed every window in the expression interpreter (the
    // query's dominant cost); short docs come back as empty arrays and
    // explode() drops them, so no pre-filter needed
    val sp = CachePool.track(docs
      .select(col(idCol).as("doc"),
        explode(Functions.call("graft_spanhash", col(textCol), lit(spanLen))).as("h")))
    val mult = sp.groupBy(col("h")).agg(count(lit(1)).as("mult"))
    sp.join(mult, "h")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("mult") >= 2, 1)).as("n_dup_spans"),
        max(col("mult")).as("max_mult"))
      .withColumn("dup_ppm",
        round(col("n_dup_spans").cast("double") / col("n_spans") * lit(1000000.0))
          .cast("long"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"), col("dup_ppm"),
        col("max_mult"))
      .orderBy(idCol)
  }

  /** Per-doc SimHash signature + size of its signature bucket.
    * Output: doc_id, simhash, n_same_sig.
    */
  def simhashBuckets(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sigs = docs.select(col(idCol), simhash16(tokens(col(textCol))).as("simhash"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))
    sigs.withColumn("n_same_sig", count(lit(1)).over(w))
      .orderBy(col(idCol))
  }

  /** SimHash NEAR-duplicate neighborhood stats within Hamming distance
    * `maxHam`, found by the pigeonhole banding trick (public knowledge:
    * Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    * Crawling", WWW 2007): split the `sigBits`-bit signature into
    * `bands` equal bands — any pair within Hamming ≤ bands−1 agrees
    * EXACTLY on at least one band, so an equi-join on (band index,
    * band value) is a lossless candidate filter, and `bit_count(xor)`
    * verifies the exact distance. Exact-equality bucketing
    * ([[simhashBuckets]]) misses a one-bit-flipped near-dup; this is
    * the standard scale answer.
    *
    * The output is PER-DOCUMENT (neighbor count + smallest neighbor
    * id), not per-pair: near-dup neighborhoods are quadratic in bucket
    * density, so the bounded per-doc rollup is what a pipeline persists
    * (the pair stream stays internal to the plan).
    *
    * Cross-engine exactness: the signature integer is Σ 2^(sigBits−j)
    * over positive bit positions — pure integer arithmetic from md5 hex
    * comparisons; the verify is integer xor/popcount.
    *
    * Scale shape: `bands` shuffled rows per doc (the band keys),
    * candidates only within equal band buckets, distinct-pair dedup
    * before the popcount verify, then one id-keyed count. No signature
    * cross-join anywhere. Random band agreement is 2^−(sigBits/bands),
    * so candidate density is tuned by widening the signature: the
    * 16-bit/4-band default buckets random pairs at 1/16 per band (fine
    * to ~10^5 docs); 64-bit/4-band drops that to 1/65536 — grow
    * sigBits with n the way [[graft.operators.Similarity]] scales its
    * LSH bits.
    *
    * Output: doc_id, sig, n_near, min_near_id — docs with ≥ 1 neighbor
    * within `maxHam`, ordered by doc_id.
    */
  def simhashNearStats(docs: DataFrame, maxHam: Int = 2, textCol: String = "text",
                       idCol: String = "doc_id", sigBits: Int = 16,
                       bands: Int = 4): DataFrame = {
    require(bands >= 2 && sigBits % bands == 0,
      s"signature must split into equal bands, got $sigBits bits / $bands bands")
    require(maxHam >= 1 && maxHam <= bands - 1,
      s"$bands-band pigeonhole covers Hamming 1..${bands - 1}, got $maxHam")
    val width = sigBits / bands
    val mask = (1L << width) - 1
    // native one-pass signature ([[graft.plans.SimhashLong]]): the
    // builtin zip_with-in-aggregate form was interpreted and dominated
    // this operator's cost at 48 bits
    // feeds the family rollup, the second-min join and the per-doc
    // output join — persist, or every token is md5'd three times
    // (bounded lifecycle via the pool)
    val sigs = CachePool.track(docs.select(col(idCol).as("id"),
      Functions.call("graft_simhash", col(textCol), lit(sigBits)).as("sig")))
    // DISTINCT-SIG COLLAPSE (r17, VERDICT r16 #1 — the r15 dHash
    // distinct-hash move): Hamming distance is a function of the sig
    // pair alone, so the band join runs on |distinct sigs|, not corpus
    // rows — an exact-dup family of m docs (one sig) stops multiplying
    // its band buckets by m and the verify by m². Per-family stats
    // (fam_n, min id m1, second-min m2) reconstruct each doc's
    // neighborhood exactly: same-sig docs are always neighbors (all
    // bands agree, Hamming 0), and a doc's smallest same-sig neighbor
    // is m2 when the doc IS the family minimum, m1 otherwise.
    // fam_n, m1 AND m2 in ONE map-side-combined aggregation (r17.4):
    // graft_min2 ([[graft.plans.MinTwo]], a DeclarativeAggregate) is
    // the second-smallest member — on unique doc ids exactly the old
    // m2s subtree's "smallest id ≠ m1", which cost a second pass over
    // the corpus rows (sigs ⋈ fams + filter + groupBy) and a third
    // left join in the per-doc output assembly. A window(row_number)
    // fold was measured 2.2× WORSE at sf2 (same-sig families are
    // window groups AQE cannot split); the declarative aggregate
    // partial-aggregates like min itself, so the skewed families
    // collapse map-side.
    val fams = CachePool.track(sigs.groupBy(col("sig"))
      .agg(count(lit(1)).as("fam_n"), min(col("id")).as("m1"),
        Functions.call("graft_min2", col("id")).as("m2")))
    val bandArr = array((0 until bands).map { b =>
      struct(lit(b.toLong).as("band"),
        shiftright(col("sig"), width * (bands - 1 - b)).bitwiseAND(lit(mask)).as("bv"))
    }: _*)
    // both self-join sides read this — persist (bounded via the pool)
    val banded = CachePool.track(
      fams.select(col("sig"), col("fam_n"), col("m1"), explode(bandArr).as("bk"))
        .select(col("sig"), col("fam_n"), col("m1"),
          col("bk.band").as("band"), col("bk.bv").as("bv")))
    // candidate sig pairs: Hamming-filter BEFORE the distinct (the
    // qSimhashWideSql r16 lesson — commutes because the filter reads
    // only the pair key), distinct because a pair can agree on several
    // bands; the neighbor family's stats are sig_b-functional so they
    // ride the distinct.
    val sigPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.sig") =!= col("b.sig"))
      .select(col("a.sig").as("sig"), col("b.sig").as("sig_b"),
        col("b.fam_n").as("nb_n"), col("b.m1").as("nb_m1"))
      .filter(bit_count(col("sig").bitwiseXOR(col("sig_b"))) <= maxHam)
      .distinct()
    val cross = sigPairs.groupBy(col("sig"))
      .agg(sum(col("nb_n")).as("cross_n"), min(col("nb_m1")).as("cross_min"))
    sigs.join(fams, "sig")
      .join(cross, Seq("sig"), "left")
      .withColumn("n_near", coalesce(col("cross_n"), lit(0L)) + col("fam_n") - 1)
      .filter(col("n_near") >= 1)
      // least() skips nulls: a sig with no cross neighbors has
      // cross_min null; a 1-doc family's same-sig term is null
      .select(col("id").as(idCol), col("sig"), col("n_near"),
        least(col("cross_min"),
          when(col("id") === col("m1"), col("m2")).otherwise(col("m1")))
          .as("min_near_id"))
      .orderBy(idCol)
  }

  /** Corpus-size-aware [[simhashNearStats]] — the band width grows with
    * ⌈log₂(n / targetBucketSize)⌉ exactly like
    * [[graft.operators.Similarity.scaledBits]] sizes its hyperplane
    * LSH, so random band agreement stays ≈ targetBucketSize/n and the
    * candidate join stays LINEAR in n at any corpus size. The fixed
    * 16-bit default of [[simhashNearStats]] is the dense baseline for
    * oracle reproducibility at a pinned SF — at 100 TB its random-pair
    * density is n²/2^(16/bands)·…, i.e. quadratic; THIS is the scale
    * path (VERDICT r6 item #5: the dense default must not be mistaken
    * for it).
    *
    * `n` is the (pre-counted or estimated) corpus size — callers that
    * already know it pass it to avoid the extra count job.
    */
  def simhashNearStatsScaled(docs: DataFrame, maxHam: Int = 2,
                             textCol: String = "text", idCol: String = "doc_id",
                             bands: Int = 4, targetBucketSize: Int = 8,
                             n: Long = -1L): DataFrame = {
    val count = if (n >= 0) n else docs.count()
    // width ≤ 15 keeps sigBits = bands·width ≤ 60 < SimhashLong's 62-bit cap
    val width = graft.operators.Similarity.scaledBits(
      count, targetBucketSize, minBits = 4, maxBits = 60 / bands)
    simhashNearStats(docs, maxHam, textCol, idCol, sigBits = bands * width, bands = bands)
  }

  /** Repeated-block boilerplate removal — the line-level dedup pass of
    * C4-style corpus cleaning (public knowledge: Raffel et al., "C4",
    * JMLR 2020 drop any three-sentence-repeated line; Penedo et al.,
    * "RefinedWeb", 2023 do the same over crawl boilerplate). The
    * corpus has no newlines, so the "line" unit is the non-overlapping
    * `blockLen`-token block: a block whose text occurs ≥ `minRepeat`
    * times ACROSS THE CORPUS (all occurrences counted, including
    * within-doc repeats) is boilerplate and is dropped from every
    * document; the document is reassembled from its surviving blocks
    * in order.
    *
    * Scale shape: one explode to (block text, position) rows, one
    * map-side-combined count by block text, one equi-join back on the
    * block key, one per-doc aggregation — no self-joins, nothing
    * quadratic; the block-count table is Zipf-headed and aggregates to
    * |distinct blocks| ≪ corpus tokens. At 100 TB this is exactly two
    * shuffles on bounded keys.
    *
    * Cross-engine exactness: block identity is the raw block string
    * (spark `slice`/duckdb list-slice both clip the final short
    * block); reassembly is an integer-position sort + join with single
    * spaces; the only arithmetic is BIGINT counts and one ppm
    * rounding.
    *
    * Output: doc_id, n_blocks, n_kept, kept_ppm, kept_hash (md5 of the
    * reassembled text; md5('') for a fully-boilerplate doc) — ordered
    * by doc_id.
    */
  def repeatedBlockFilter(docs: DataFrame, blockLen: Int = 4, minRepeat: Int = 3,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val blocks = blockRows(docs, blockLen, textCol, idCol)
    val mult = blocks.groupBy(col("btxt")).agg(count(lit(1)).as("mult"))
    assembleKept(blocks.join(mult, "btxt"), col("mult") < minRepeat, idCol)
  }

  /** The per-doc block table (doc, blk, btxt) behind
    * [[repeatedBlockFilter]]: text cut
    * into non-overlapping `blockLen`-token blocks (final block may be
    * short), positions kept for order-preserving reassembly.
    */
  def blockRows(docs: DataFrame, blockLen: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = tokens(col(textCol))
    val nBlocks = ceil(size(t).cast("double") / blockLen).cast("long")
    docs.select(col(idCol).as("doc"),
      explode(transform(sequence(lit(0L), nBlocks - 1), b =>
        struct(b.as("blk"),
          concat_ws(" ", slice(t, (b * blockLen + 1).cast("int"), lit(blockLen))).as("btxt"))))
        .as("s"))
      .select(col("doc"), col("s.blk").as("blk"), col("s.btxt").as("btxt"))
  }

  /** Per-doc rollup of a (doc, blk, btxt, …) table under a keep
    * predicate: totals, survivor count/ppm, and the md5 of the
    * order-preserving reassembly. Output: doc_id, n_blocks, n_kept,
    * kept_ppm, kept_hash — ordered by doc_id.
    */
  def assembleKept(blocks: DataFrame, kept: Column, idCol: String): DataFrame =
    blocks
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(kept, 1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(kept, struct(col("blk"), col("btxt"))))),
          x => x("btxt")))).as("kept_hash"))
      .withColumn("kept_ppm",
        round(col("n_kept").cast("double") / col("n_blocks") * lit(1000000.0)).cast("long"))
      .select(col(idCol), col("n_blocks"), col("n_kept"), col("kept_ppm"), col("kept_hash"))
      .orderBy(idCol)
}
