package graft.operators

import graft.plans.Functions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star extension
  * scope): brute-force cosine top-k as the exact baseline, plus a
  * random-hyperplane LSH bucketing as the 100 TB scale path (bucket
  * join touches ~n²/2^bits of the pair space instead of n²).
  *
  * Determinism across engines: dot products accumulate strictly
  * left-to-right ([[graft.plans.ArrayDotProduct]] — a fused codegen
  * loop, bit-identical to the left-associated unrolled chains the
  * DuckDB oracles use; list_dot_product-style builtins have unspecified
  * accumulation order). Hyperplane coefficients are compile-time
  * constants from an integer LCG, identical on both sides.
  */
object Similarity {

  /** Hard ceiling on |A|·|B| for the DENSE ground-truth baselines
    * ([[knnNeighbors]], [[bitextMine]]). These exist to produce exact
    * recall/precision references for their bucketed scale twins; at
    * 100× data a silent cartesian is the worst failure mode a cluster
    * job can have, so past this ceiling they fail LOUDLY at plan-build
    * time instead of launching. Raise `maxPairs` explicitly for a
    * deliberate large ground-truth run.
    */
  val DenseMaxPairs: Long = 50000000L

  private def guardDense(op: String, left: DataFrame, right: DataFrame,
                         maxPairs: Long, scalePath: String): Unit = {
    val nl = left.count()
    val nr = right.count()
    require(nl * nr <= maxPairs,
      s"$op is the dense ground-truth baseline: $nl x $nr = ${nl * nr} " +
        s"candidate pairs exceeds maxPairs=$maxPairs. Use $scalePath for " +
        "the scale path, or pass maxPairs= explicitly for a deliberate " +
        "ground-truth run.")
  }

  /** Left-to-right dot product of two array columns via the fused
    * codegen expression [[graft.plans.ArrayDotProduct]] — bit-identical
    * to the unrolled left-associated chain the DuckDB oracles use, but a
    * generated LOOP instead of a ~190-node tree (which blew Janino's
    * 64 KB method limit at dims=64 and silently fell back to interpreted
    * execution in round 1). The loop runs over min(|a|, |b|, dims) — the
    * `dims` cap is part of the contract (truncate-to-dims over longer
    * arrays), enforced inside the fused loop at zero cost.
    */
  def dot(a: Column, b: Column, dims: Int): Column =
    Functions.call("graft_dot", a, b, lit(dims))

  def norm(a: Column, dims: Int): Column = sqrt(dot(a, a, dims))

  def cosine(a: Column, b: Column, dims: Int): Column =
    dot(a, b, dims) / (norm(a, dims) * norm(b, dims))

  /** Cosine from pre-materialized per-vector norms (pair joins should
    * compute each side's norm once per VECTOR, not once per PAIR).
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column, dims: Int): Column =
    dot(a, b, dims) / (normA * normB)

  /** Deterministic pseudo-random hyperplane coefficient for (bit, dim)
    * — plain integer arithmetic, exact in Double, identical when
    * embedded as a literal in oracle SQL.
    */
  def planeCoef(bit: Int, dim: Int, dims: Int): Double =
    ((bit.toLong * dims + dim) * 2654435761L % 1000003L) / 1000003.0 - 0.5

  /** `bits`-character '0'/'1' signature: sign of the projection onto
    * each hyperplane — the fused [[graft.plans.HyperplaneSig]] loop
    * (the builtin-expression form was bits×dims literal nodes per row
    * and the other half of round 1's codegen blowout).
    */
  def hyperplaneSig(emb: Column, bits: Int, dims: Int): Column =
    Functions.call("graft_hsig", emb, lit(bits), lit(dims))

  /** Signature bits scaled to corpus size: bits = ⌈log₂(n / targetBucketSize)⌉
    * (clamped). Expected bucket population under random hyperplanes is
    * n / 2^bits, so holding the target constant keeps the in-bucket pair
    * join LINEAR in n — ~n·targetBucketSize/2 candidate pairs total —
    * where any fixed bit width degrades toward n²/2^bits (the round-1
    * compile-constant bits=8 was quadratic at 100 TB). Callers pin bits
    * explicitly only for oracle reproducibility at a fixed SF.
    */
  def scaledBits(n: Long, targetBucketSize: Int = 8, minBits: Int = 4, maxBits: Int = 30): Int = {
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, raw))
  }

  /** Integer-exact [[scaledBits]]: the smallest b in [minBits, maxBits]
    * with targetBucketSize·2^b ≥ n (maxBits if none). Same value as
    * [[scaledBits]] everywhere except exact power-of-two boundaries,
    * where log/ceil floating rounding could disagree with an oracle
    * that derives b independently — the oracle-checked scaled queries
    * (q_bitext_scaled) use THIS form so engine and DuckDB twin compute
    * b from n with the identical integer comparison.
    */
  def scaledBitsInt(n: Long, targetBucketSize: Int = 8, minBits: Int = 4, maxBits: Int = 30): Int = {
    var b = minBits
    while (b < maxBits && (targetBucketSize.toLong << b) < n) b += 1
    b
  }

  /** Cluster count scaled to corpus size for [[semanticDedup]]:
    * k = ⌈n / targetCellSize⌉ clamped to [minK, maxK] — holds expected
    * cell population (and with it the within-cell pair join's per-key
    * fan-out) constant as the corpus grows, the same contract as
    * [[scaledBits]] for bucket joins. Integer-exact so an oracle can
    * replay k from count(*) alone. maxK stays under [[kmeansTrain]]'s
    * packed-argmin k ≤ 8192 bound.
    */
  def scaledK(n: Long, targetCellSize: Int = 256, minK: Int = 2, maxK: Int = 4096): Int =
    math.min(maxK.toLong, math.max(minK.toLong, (n + targetCellSize - 1) / targetCellSize)).toInt

  /** Banded hyperplane keys: the `bands`·`bitsPerBand`-bit signature cut
    * into `bands` substrings — a candidate pair must agree on at least
    * one full band. Banding restores the recall that longer (scaled)
    * signatures cost: P[candidate] = 1 − (1 − p^bitsPerBand)^bands for
    * per-bit agreement p, versus p^bits for the single full signature.
    */
  def hyperplaneBandKeys(emb: Column, bands: Int, bitsPerBand: Int, dims: Int): Column = {
    val sig = hyperplaneSig(emb, bands * bitsPerBand, dims)
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("long").as("band"),
        sig.substr(b * lit(bitsPerBand) + lit(1), lit(bitsPerBand)).as("bk")))
  }

  /** Scale-parameterized near-duplicate pairs: bitsPerBand grows with
    * ⌈log₂ n⌉ (bounded buckets at any corpus size), banding keeps
    * recall, and every candidate is verified exactly against the
    * threshold — so precision is exact and only recall is approximate.
    * Output: id_a, id_b, cos_sim (≥ threshold).
    */
  def bandedNearDupPairs(embs: DataFrame, dims: Int, threshold: Double,
                         bands: Int = 4, targetBucketSize: Int = 8,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bitsPerBand = scaledBits(embs.count(), targetBucketSize)
    // persisted through the bounded CachePool: the signature table backs
    // a lazy result, so its cache is evicted FIFO instead of accumulating
    // across queries in a long-lived session (round-2 advice)
    val sigs = CachePool.track(embs.select(col(idCol).as("id"), col(embCol).as("e"),
      norm(col(embCol), dims).as("nrm"),
      hyperplaneBandKeys(col(embCol), bands, bitsPerBand, dims).as("bks")))
    val keys = sigs.select(col("id"), explode(col("bks")).as("k"))
      .select(col("id"), col("k.band").as("band"), col("k.bk").as("bk"))
    val cand = keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("e").as("ea"), col("nrm").as("nrm_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("e").as("eb"), col("nrm").as("nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosinePre(col("ea"), col("eb"), col("nrm_a"), col("nrm_b"), dims), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact brute-force cosine top-k against one stored query vector —
    * the correctness baseline. The query row is broadcast; one pass
    * over the corpus, TakeOrderedAndProject for the top-k.
    */
  def bruteForceTopK(embs: DataFrame, queryVecId: Long, k: Int, dims: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // query norm rides the broadcast row — computed once, not per corpus row
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    embs.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): exact cosine
    * scores the corpus, the top `poolN` survivors are packed into ONE
    * row, and [[graft.plans.MmrSelect]] runs the greedy
    * `λ·rel − (1−λ)·max-sim-to-selected` selection in a single compiled
    * call. All scores are exact micro-cosine longs (λ in ppm), ties to
    * the smaller id — hash-reproducible against an unrolled-CTE oracle.
    *
    * Scale shape: the corpus-sized work is the broadcast-query cosine
    * scan + TakeOrderedAndProject (identical to [[bruteForceTopK]]);
    * everything after operates on poolN ≤ ~100 rows (pair sims are a
    * poolN² broadcast self-join), so the diversification adds O(poolN²)
    * work regardless of corpus size. At 100 TB the pool would come from
    * the IVF/LSH index instead of the brute scan — selection is
    * unchanged.
    *
    * Output: rank (1-based selection order), vec_id, rel_micro, mmr_raw.
    */
  def mmrTopK(embs: DataFrame, queryVecId: Long, poolN: Int, k: Int,
              lambdaPpm: Long, dims: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    // micro-integer relevance BEFORE the top-N cut, so the pool boundary
    // is decided on the same integer lattice the oracle cuts on
    val scored = embs.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol).cast("long").as("id"), col(embCol).as("e"),
        norm(col(embCol), dims).as("nrm"),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims) * lit(1000000.0))
          .cast("long").as("rel_micro"))
      .orderBy(col("rel_micro").desc, col("id"))
      .limit(poolN)
    // pool-index the bounded survivors; the single-partition window runs
    // over ≤ poolN rows (post-limit), not the corpus
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rel_micro").desc, col("id"))
    val c = CachePool.track(
      scored.withColumn("rn", (row_number().over(w) - 1).cast("long")))
    val pairs = c.as("a").join(c.as("b"), col("a.rn") < col("b.rn"))
      .select(col("a.rn").as("pa"), col("b.rn").as("pb"),
        round(cosinePre(col("a.e"), col("b.e"), col("a.nrm"), col("b.nrm"), dims)
          * lit(1000000.0)).cast("long").as("ps"))
    val candArr = c.agg(sort_array(collect_list(
        struct(col("rn"), col("id"), col("rel_micro")))).as("cs"))
      .select(transform(col("cs"), x => x("id")).as("ids"),
        transform(col("cs"), x => x("rel_micro")).as("rels"))
    val pairArr = pairs.agg(sort_array(collect_list(
        struct(col("pa"), col("pb"), col("ps")))).as("pp"))
      .select(transform(col("pp"), x => x("pa")).as("pas"),
        transform(col("pp"), x => x("pb")).as("pbs"),
        transform(col("pp"), x => x("ps")).as("pss"))
    candArr.crossJoin(pairArr)
      .select(posexplode(Functions.call("graft_mmr",
        struct(col("ids"), col("rels"), col("pas"), col("pbs"), col("pss")),
        lit(k), lit(lambdaPpm))).as(Seq("pos", "r")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("r.vec_id"), col("r.rel_micro"), col("r.mmr_raw"))
      .orderBy("rank")
  }

  /** LSH bucketing: per-vector signature + bucket population (the
    * partition a scale-out ANN search would restrict candidates to).
    */
  def lshBuckets(embs: DataFrame, bits: Int, dims: Int,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val sigs = embs.select(col(idCol), hyperplaneSig(col(embCol), bits, dims).as("sig"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    sigs.withColumn("bucket_n", count(lit(1)).over(w)).orderBy(col(idCol))
  }

  /** Embedding-cosine near-duplicate pairs: all same-bucket pairs at or
    * above a cosine threshold (the dedup-flavored use of the LSH index —
    * at scale, the bucket join replaces the n² pair scan). Threshold is
    * applied to the *rounded* cosine so the cut is engine-exact.
    */
  def cosineNearDupPairs(embs: DataFrame, bits: Int, dims: Int, threshold: Double,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // signatures and norms are per-VECTOR arithmetic feeding both sides
    // of the bucket join — materialize once (norm per pair was 2/3 of
    // the cosine cost in round 1); bounded-lifecycle via CachePool
    val sigs = CachePool.track(embs.select(col(idCol).as("id"), col(embCol).as("e"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"),
      norm(col(embCol), dims).as("nrm")))
    sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosinePre(col("a.e"), col("b.e"),
          col("a.nrm"), col("b.nrm"), dims), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic k-means training for the IVF quantizer (Lloyd
    * iterations, squared-L2, driver-side loop over `iters` — the
    * standard distributed shape: broadcast k·dims centroids, one
    * assignment pass + one mean-update aggregation per round).
    *
    * Cross-engine exactness: every value lives on the 1e-6 lattice,
    * represented as integer MICRO-UNITS (long) — elements are snapped
    * once (round(e·1e6)), distances are exact 64-bit sums of squared
    * micro diffs (|dd| ≤ 2e6 ⇒ Σdd² ≤ dims·4e12, far inside long range;
    * ties broken by centroid id), and each updated centroid is the
    * rounded micro mean. No floats are ever compared, so assignments
    * and centroids are bit-identical in any engine — the DuckDB oracle
    * re-runs the same iterations as unrolled SQL on BIGINTs. Integer
    * math also makes this ~5× faster than the equivalent DECIMAL
    * formulation (Spark Decimal is boxed). Empty clusters keep their
    * previous centroid.
    *
    * Output: cent_id, pos (1-based), cval (double, micro/1e6) — k·dims
    * rows.
    */
  def kmeansTrain(embs: DataFrame, k: Int, iters: Int, dims: Int,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Micro-unit vectors as ARRAY<DOUBLE> whose elements are exact
    // integers: |micro| ≤ 2e6, so squared norms and dot products stay
    // ≤ dims·4e12 ≈ 2.6e14 ≪ 2^53 — every sum/product below is an
    // EXACTLY-represented integer in double, bit-identical to the
    // oracle's BIGINT lattice. Keeping the vector as one array (instead
    // of round 2's posexplode into n·dims rows joined against k
    // centroids per position = n·dims·k intermediate rows per round)
    // lets the fused graft_dot loop compute each distance in one call:
    // the assignment pass creates only n·k rows map-side, collapsed by
    // partial aggregation to n before the shuffle.
    val ve = CachePool.track(embs
      .select(col(idCol).as("vec_id"),
        transform(col(embCol), e => round(e.cast("double") * lit(1000000.0))).as("mv"))
      .withColumn("nn", dot(col("mv"), col("mv"), dims)))
    var cents = ve.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("mv").as("cv"), col("nn").as("cn"))
      .persist(lvl)
    for (_ <- 1 to iters) {
      // |v−c|² = |v|² + |c|² − 2·v·c, all terms exact integers in double
      val d2 = col("nn") + col("cn") - lit(2.0) * dot(col("mv"), col("cv"), dims)
      // argmin as min over ONE long key: d2·k + cent_id. Because d2 is
      // an exact integer and cent_id ∈ [0, k), the packed key's numeric
      // order IS the (distance, id-tie-break) lexicographic order — and
      // min(long) stays in whole-stage-codegen HashAggregate, where the
      // struct formulations (min(struct), min_by) plan Sort +
      // SortAggregate and sort the n·k distance rows map-side every
      // round. Bound: d2 ≤ dims·(4e6)² ≈ 1.0e15, so k·d2 fits a long
      // for k ≤ 8192 (IVF quantizers use k ≪ that).
      require(k <= 8192, s"k=$k would overflow the packed argmin key")
      val assign = ve.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          (d2.cast("long") * lit(k.toLong) + col("cent_id")).as("mk"))
        .groupBy(col("vec_id"))
        .agg(min(col("mk")).as("mk"))
        .select(col("vec_id"), (col("mk") % k).as("cent_id"))
      // mean update explodes n·dims rows ONCE (no ×k): same exact
      // round(sum/count) per position as the long-lattice form
      val upd = ve.join(assign, "vec_id")
        .select(col("cent_id"), posexplode(col("mv")).as(Seq("pos0", "v")))
        .groupBy(col("cent_id"), col("pos0"))
        .agg(round(sum(col("v")) / count(lit(1))).as("c"))
      val newCents = upd.groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos0"), col("c")))),
          e => e.getField("c")).as("cv_new"))
      // empty clusters keep their previous centroid (whole-array: a
      // non-empty cluster updates every position)
      val next = cents.select(col("cent_id"), col("cv").as("cv_old"))
        .join(newCents, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv_new"), col("cv_old")).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"), dims))
        .persist(lvl)
      next.count() // materialize before unpersisting the parent lineage
      cents.unpersist()
      cents = next
    }
    // Truncate the iteration lineage: the loop above already
    // materialized the k·dims final state, and localCheckpoint turns it
    // into a tiny LogicalRDD so consumer plans stop inlining the full
    // Lloyd chain (the inlined chain measured as multi-hundred-KB plans
    // that the optimizer re-walked and — once the between-query
    // teardown dropped the cache — re-EXECUTED once per plan reference;
    // a trained-search plan carries 2–3 such references). Same
    // truncation pattern as the CC label loop and the capstone builders.
    val snap = cents.localCheckpoint(true)
    cents.unpersist()
    snap.select(col("cent_id"), posexplode(col("cv")).as(Seq("pos0", "c")))
      .select(col("cent_id"), (col("pos0") + 1).cast("long").as("pos"),
        (col("c") / lit(1000000.0)).as("cval"))
      .orderBy("cent_id", "pos")
  }

  /** [[kmeansTrain]] output → a centroid table (cent_id, cent_emb) in
    * the shape [[ivfAssignWith]]/[[ivfSearchWith]] consume: elements
    * ordered by position.
    */
  def centroidsAsVectors(trained: DataFrame): DataFrame =
    trained.groupBy(col("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        e => e.getField("cval")).as("cent_emb"))

  /** Untrained centroids: the first `k` stored vectors (deterministic). */
  private def firstKCentroids(embs: DataFrame, k: Int,
                              idCol: String, embCol: String): DataFrame =
    embs.filter(col(idCol) < k)
      .select(col(idCol).as("cent_id"), col(embCol).as("cent_emb"))

  /** Per-cell index-health stats over the IVF assignment — the
    * structural companion to the recall@k eval: cohesion (how well
    * members fit their own centroid — sum and worst member of the
    * rounded assignment cosine, summed on the exact DECIMAL lattice)
    * and separation (each centroid's highest cosine to ANOTHER
    * centroid — high nn_sim means two cells share a neighborhood and
    * probe counts must rise). One aggregation over the assignment + a
    * k×k centroid table on the driver scale — nothing corpus-quadratic.
    * Output: cell, n_members, cohesion_sum, cohesion_min, nn_sim.
    */
  def ivfCellStats(embs: DataFrame, k: Int, dims: Int,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val perCell = ivfAssign(embs, k, dims, idCol, embCol)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("cos_sim").cast("decimal(18,6)")).cast("double").as("cohesion_sum"),
        min(col("cos_sim")).as("cohesion_min"))
    val cents = firstKCentroids(embs, k, idCol, embCol)
      .withColumn("cent_nrm", norm(col("cent_emb"), dims))
    val other = cents.select(col("cent_id").as("o_id"),
      col("cent_emb").as("o_emb"), col("cent_nrm").as("o_nrm"))
    val sep = cents.crossJoin(broadcast(other))
      .filter(col("cent_id") =!= col("o_id"))
      .groupBy(col("cent_id").as("cell"))
      .agg(max(round(cosinePre(col("cent_emb"), col("o_emb"),
        col("cent_nrm"), col("o_nrm"), dims), 6)).as("nn_sim"))
    perCell.join(broadcast(sep), Seq("cell")).orderBy("cell")
  }

  /** IVF coarse quantization: assign every vector to its
    * nearest-centroid cell; ties broken by rounded cosine then centroid
    * id. At scale this is one broadcast of k centroids + one pass.
    */
  def ivfAssign(embs: DataFrame, k: Int, dims: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfAssignWith(embs, firstKCentroids(embs, k, idCol, embCol), dims, idCol, embCol)

  /** [[ivfAssign]] against an external centroid table (cent_id,
    * cent_emb) — e.g. [[kmeansTrain]] output via [[centroidsAsVectors]].
    */
  def ivfAssignWith(embs: DataFrame, centroids: DataFrame, dims: Int,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col("cent_id"), col("cent_emb"),
      norm(col("cent_emb"), dims).as("cent_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("cos_sim").desc, col("cent_id"))
    // row norm materialized before the k-way cross join: computed once
    // per vector, the join then replicates the VALUE k times
    embs.withColumn("nrm", norm(col(embCol), dims))
      .crossJoin(broadcast(cents))
      .select(col(idCol), col("cent_id"),
        round(cosinePre(col(embCol), col("cent_emb"),
          col("nrm"), col("cent_nrm"), dims), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cent_id").as("cell"), col("cos_sim"))
      .orderBy(col(idCol))
  }

  /** IVF search: probe the `probes` cells whose centroids are closest
    * to the query, brute-force only within those cells — the standard
    * coarse-quantizer ANN scale path (scan fraction ≈ probes/k).
    */
  def ivfSearch(embs: DataFrame, queryVecId: Long, k: Int, probes: Int, topK: Int, dims: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfSearchWith(embs, firstKCentroids(embs, k, idCol, embCol),
      queryVecId, probes, topK, dims, idCol, embCol)

  /** [[ivfSearch]] against an external (e.g. trained) centroid table. */
  def ivfSearchWith(embs: DataFrame, centroids: DataFrame,
                    queryVecId: Long, probes: Int, topK: Int, dims: Int,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assign = ivfAssignWith(embs, centroids, dims, idCol, embCol)
      .select(col(idCol), col("cell"))
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    val probed = centroids
      .crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"),
        round(cosinePre(col("cent_emb"), col("q_emb"),
          norm(col("cent_emb"), dims), col("q_nrm"), dims), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("cell"))
      .limit(probes)
      .select(col("cell"))
    assign
      .join(broadcast(probed), "cell")
      .join(embs, idCol)
      .filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("cell"),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Filtered exact top-k (the "filtered vector search" baseline every
    * serving stack needs: rank only candidates passing a metadata
    * predicate). PRE-filtering: the predicate lands on the corpus scan
    * (parquet pushdown for plain column predicates), then one cosine
    * pass + TakeOrderedAndProject over the survivors — exact at any
    * selectivity, cost proportional to the filtered subset. The query
    * row is looked up UNfiltered (the query need not satisfy the
    * predicate).
    */
  def bruteForceTopKFiltered(embs: DataFrame, pred: Column, queryVecId: Long,
                             k: Int, dims: Int, idCol: String = "vec_id",
                             embCol: String = "embedding"): DataFrame = {
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    embs.filter(col(idCol) =!= queryVecId && pred)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-group exact top-k — the multi-tenant batch shape ("top-k for
    * EVERY label/tenant/source in one pass") that a filtered search
    * loop would recompute once per group: one broadcast-query cosine
    * scan, then a rank-≤-k window PARTITIONED BY the group column.
    * Spark pushes the rank cutoff below the group shuffle
    * (`WindowGroupLimit`), so each partition ships at most k rows per
    * group — output is |groups|·k regardless of corpus size, and the
    * corpus-sized work is identical to ONE unfiltered top-k.
    */
  def perGroupTopK(embs: DataFrame, groupCol: String, queryVecId: Long,
                   kPerGroup: Int, dims: Int, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    val scored = embs.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(groupCol), col(idCol),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("cos_sim").desc, col(idCol))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kPerGroup)
      .orderBy(col(groupCol), col("rnk"))
  }

  /** Filtered IVF search: the coarse probe is unchanged (cells are
    * geometric, metadata-blind), the predicate is applied inside the
    * probed-cell scan, and the caller OVERSEARCHES (raises `probes`)
    * to recover the recall the filter costs — the standard
    * filter-during-search recipe (cf. FAISS/Milvus filtered search):
    * a p-selective predicate leaves ~p·cellSize candidates per probed
    * cell, so probes ≈ unfiltered_probes / p keeps the candidate pool
    * comparable. Scan fraction stays probes/k — the filter only ever
    * SHRINKS the probed scan, never widens it.
    *
    * Cost contract: this is the BATCH path — it recomputes the coarse
    * assignment from the raw corpus every call (the shape an offline
    * pipeline stage wants). Serving-cost numbers belong to
    * [[graft.sources.VectorIndex.annServeFiltered]], which answers from
    * the persisted cell-clustered index without touching the corpus.
    */
  def ivfSearchFiltered(embs: DataFrame, pred: Column, queryVecId: Long, k: Int,
                        probes: Int, topK: Int, dims: Int,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfSearchFilteredWith(embs, firstKCentroids(embs, k, idCol, embCol), pred,
      queryVecId, probes, topK, dims, idCol, embCol)

  /** [[ivfSearchFiltered]] against an external (e.g. k-means-trained)
    * centroid table — the quality path when the corpus isn't well
    * quantized by its first k vectors (API twin of [[ivfSearchWith]]).
    */
  def ivfSearchFilteredWith(embs: DataFrame, centroids: DataFrame, pred: Column,
                            queryVecId: Long, probes: Int, topK: Int, dims: Int,
                            idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assign = ivfAssignWith(embs, centroids, dims, idCol, embCol)
      .select(col(idCol), col("cell"))
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    val probed = centroids
      .crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"),
        round(cosinePre(col("cent_emb"), col("q_emb"),
          norm(col("cent_emb"), dims), col("q_nrm"), dims), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("cell"))
      .limit(probes)
      .select(col("cell"))
    assign
      .join(broadcast(probed), "cell")
      .join(embs, idCol)
      .filter(col(idCol) =!= queryVecId && pred)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("cell"),
        round(cosinePre(col(embCol), col("q_emb"),
          norm(col(embCol), dims), col("q_nrm"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** AUTO-oversearch: derive the probe count from the predicate's
    * measured selectivity instead of making the caller hand-pick it
    * (r7 advice #4). One tiny aggregate measures selectivity
    * sel = |pred|/|corpus| (at production scale this is a cached
    * per-label frequency stat, not a rescan), then
    *
    *   probes = clamp( ceil(probes0 / sel), probes0, k/2 )
    *
    * — a p-selective filter thins every probed cell ~p×, so probes0/p
    * keeps the candidate pool the size the unfiltered search tuned
    * for; the k/2 ceiling guarantees the probe never degenerates into
    * a full scan no matter how selective the predicate. All-integer
    * arithmetic (ceil via (a+b-1)/b), so an engine-independent oracle
    * can recompute the same probe count exactly.
    */
  def autoProbes(embs: DataFrame, pred: Column, probes0: Int, k: Int): Int = {
    val row = embs.agg(
      count(lit(1)).as("total"),
      count(when(pred, lit(1))).as("kept")).head()
    val total = row.getLong(0)
    val kept = math.max(row.getLong(1), 1L)
    val raw = ((probes0.toLong * total + kept - 1L) / kept).toInt
    math.max(probes0, math.min(raw, math.max(probes0, k / 2)))
  }

  /** Filtered IVF search with selectivity-derived oversearch: the
    * caller supplies only the UNfiltered tuning (`probes0`); the
    * oversearch factor comes from [[autoProbes]].
    */
  def ivfSearchFilteredAuto(embs: DataFrame, pred: Column, queryVecId: Long, k: Int,
                            probes0: Int, topK: Int, dims: Int,
                            idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfSearchFiltered(embs, pred, queryVecId, k,
      probes = autoProbes(embs, pred, probes0, k), topK = topK, dims = dims,
      idCol = idCol, embCol = embCol)

  /** Product quantization (the FAISS-style IVFPQ compression half,
    * public knowledge — Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): split each `dims`-dim vector into
    * `m` contiguous subvectors, run an independent k-means per subspace,
    * and represent every vector as `m` small centroid codes. Memory per
    * vector drops from dims·4 bytes to m·log₂(k) bits — the difference
    * between "embeddings don't fit" and "codes fit in RAM" at 100 TB —
    * and search becomes table lookups (see [[pqSearch]]).
    *
    * All `m` subspace quantizers train in ONE Lloyd loop: centroids are
    * keyed (sub, cent_id), the assignment join is per-subspace
    * (broadcast of m·k sub-centroids), so the round count is `iters`
    * regardless of `m` and each round shuffles n·m assignment rows +
    * one m·k·subDims mean update — the same distributed shape as
    * [[kmeansTrain]]. Exactness is the same micro-unit lattice: every
    * distance is an exact integer in double, so training, codes, and
    * ADC distances are bit-identical to the unrolled-SQL oracle.
    *
    * Returns the internal state (subvector table, centroid table) the
    * public wrappers format/consume.
    */
  private[graft] def pqFit(embs: DataFrame, m: Int, k: Int, iters: Int, dims: Int,
                    idCol: String, embCol: String): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m subspaces")
    val subDims = dims / m
    // packed argmin key bound: d2 ≤ subDims·(4e6)²·... (micro diffs ≤
    // 2e6 ⇒ d2 ≤ subDims·4e12); k·d2 must fit a long
    require(k.toLong * subDims * 4_000_000_000_000L < Long.MaxValue / 2,
      s"k=$k, subDims=$subDims would overflow the packed argmin key")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (vec_id, sub, sv, nn): n·m rows, each an exact micro-unit subvector
    val sve = CachePool.track(subVectors(embs, m, dims, idCol, embCol))
    // init: subvectors of the first k stored vectors (deterministic)
    var cents = sve.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("cent_id"), col("sv").as("cv"), col("nn").as("cn"))
      .persist(lvl)
    for (_ <- 1 to iters) {
      val d2 = col("nn") + col("cn") - lit(2.0) * dot(col("sv"), col("cv"), subDims)
      // same packed-long argmin as kmeansTrain: numeric order of
      // d2·k + cent_id IS (distance, id) lexicographic order, and
      // min(long) stays in whole-stage-codegen HashAggregate
      val assign = sve.join(broadcast(cents), "sub")
        .select(col("vec_id"), col("sub"),
          (d2.cast("long") * lit(k.toLong) + col("cent_id")).as("mk"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(col("mk")).as("mk"))
        .select(col("vec_id"), col("sub"), (col("mk") % k).as("cent_id"))
      // mean update: n·m·subDims = n·dims exploded rows ONCE (no ×k)
      val upd = sve.join(assign, Seq("vec_id", "sub"))
        .select(col("sub"), col("cent_id"), posexplode(col("sv")).as(Seq("pos0", "v")))
        .groupBy(col("sub"), col("cent_id"), col("pos0"))
        .agg(round(sum(col("v")) / count(lit(1))).as("c"))
      val newCents = upd.groupBy(col("sub"), col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos0"), col("c")))),
          e => e.getField("c")).as("cv_new"))
      val next = cents.select(col("sub"), col("cent_id"), col("cv").as("cv_old"))
        .join(newCents, Seq("sub", "cent_id"), "left")
        .select(col("sub"), col("cent_id"), coalesce(col("cv_new"), col("cv_old")).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"), subDims))
        .persist(lvl)
      next.count() // materialize before unpersisting the parent lineage
      cents.unpersist()
      cents = next
    }
    // Same lineage truncation as kmeansTrain: the m·k centroid table is
    // tiny and already materialized by the loop; checkpointing it keeps
    // the per-subspace Lloyd chain out of every PQ consumer plan (the
    // ivfpq plan referenced it twice and measured 600 KB of plan text).
    val snap = cents.localCheckpoint(true)
    cents.unpersist()
    (sve, snap)
  }

  /** Per-(vec, sub) nearest-centroid codes via the packed-long argmin
    * (shared by encode/search/ivfpq): (vec_id, sub, code).
    */
  private[graft] def assignCodes(sve: DataFrame, cents: DataFrame, k: Int, subDims: Int): DataFrame = {
    val d2 = col("nn") + col("cn") - lit(2.0) * dot(col("sv"), col("cv"), subDims)
    sve.join(broadcast(cents), "sub")
      .select(col("vec_id"), col("sub"),
        (d2.cast("long") * lit(k.toLong) + col("cent_id")).as("mk"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("mk")).as("mk"))
      .select(col("vec_id"), col("sub"), (col("mk") % k).as("code"))
  }

  /** The micro-unit subvector table of a corpus (vec_id, sub, sv, nn) —
    * n·m rows, pure per-row arithmetic (no shuffle).
    */
  private[graft] def subVectors(embs: DataFrame, m: Int, dims: Int,
                         idCol: String, embCol: String): DataFrame = {
    val subDims = dims / m
    embs
      .select(col(idCol).as("vec_id"),
        transform(col(embCol), e => round(e.cast("double") * lit(1000000.0))).as("mv"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s0 => slice(col("mv"), s0 * lit(subDims) + lit(1), lit(subDims))))
        .as(Seq("sub", "sv")))
      .withColumn("nn", dot(col("sv"), col("sv"), subDims))
  }

  /** [[pqTrain]]-format codebook (sub, cent_id, pos, cval) → the
    * internal broadcastable centroid table (sub, cent_id, cv, cn) on
    * the micro lattice.
    */
  def codebookAsCents(codebook: DataFrame, m: Int, dims: Int): DataFrame = {
    val subDims = dims / m
    codebook.groupBy(col("sub"), col("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        e => round(e.getField("cval") * lit(1000000.0))).as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv"), subDims))
  }

  /** Stateless PQ encoding against a FROZEN codebook — the online
    * ingest shape: train once, then every new batch of vectors encodes
    * with one broadcast join and per-row arithmetic; no training state,
    * so batch-wise streaming encoding ≡ whole-corpus encoding row for
    * row. Output: vec_id, sub, code.
    */
  def pqEncodeWith(embs: DataFrame, codebook: DataFrame, m: Int, k: Int, dims: Int,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignCodes(subVectors(embs, m, dims, idCol, embCol),
      codebookAsCents(codebook, m, dims), k, dims / m)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))

  /** Per-subspace PQ reconstruction distortion: the SSE between each
    * vector's micro-lattice subvector and its assigned code's centroid
    * — the index-health eval that says whether (m, k) are adequate
    * BEFORE committing a 100 TB encode (high-SSE subspaces need more
    * codes or a rotation). Integer-exact on the micro² lattice, so the
    * figure is engine-identical; one join + one aggregation over the
    * n·dims exploded elements.
    */
  def pqDistortion(embs: DataFrame, m: Int, k: Int, iters: Int, dims: Int,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   fit: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val codebook = pqTrain(embs, m, k, iters, dims, idCol, embCol, fit)
    val codes = pqEncodeWith(embs, codebook, m, k, dims, idCol, embCol)
    val dsub = dims / m
    val spe = embs.select(col(idCol).as("vec_id"),
        posexplode(transform(col(embCol),
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))).as(Seq("pos0", "v")))
      .select(col("vec_id"), expr(s"pos0 div $dsub").cast("long").as("sub"),
        (expr(s"pos0 % $dsub") + 1).cast("long").as("pos"), col("v"))
    val cb = codebook.select(col("sub"), col("cent_id").as("code"), col("pos"),
      round(col("cval") * lit(1000000.0)).cast("long").as("c"))
    spe.join(codes, Seq("vec_id", "sub"))
      .join(cb, Seq("sub", "code", "pos"))
      .groupBy(col("sub"))
      .agg(countDistinct(col("vec_id")).as("n_vectors"),
        sum((col("v") - col("c")) * (col("v") - col("c"))).as("sse"))
      .orderBy("sub")
  }

  /** Trained PQ codebook: (sub, cent_id, pos, cval) — m·k·(dims/m) rows
    * of centroid coordinates on the 1e-6 lattice.
    */
  def pqTrain(embs: DataFrame, m: Int, k: Int, iters: Int, dims: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              fit: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (_, cents) = fit.getOrElse(pqFit(embs, m, k, iters, dims, idCol, embCol))
    cents.select(col("sub"), col("cent_id"), posexplode(col("cv")).as(Seq("pos0", "c")))
      .select(col("sub").cast("long").as("sub"), col("cent_id"),
        (col("pos0") + 1).cast("long").as("pos"),
        (col("c") / lit(1000000.0)).as("cval"))
      .orderBy("sub", "cent_id", "pos")
  }

  /** PQ encoding: every vector compressed to its per-subspace nearest
    * codebook entries. Output (vec_id, sub, code) — at scale this n·m
    * code table (m·log₂k bits/vector) IS the searchable index; the raw
    * embeddings are only read back for an exact re-rank of finalists.
    */
  def pqEncode(embs: DataFrame, m: Int, k: Int, iters: Int, dims: Int,
               idCol: String = "vec_id", embCol: String = "embedding",
               fit: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (sve, cents) = fit.getOrElse(pqFit(embs, m, k, iters, dims, idCol, embCol))
    assignCodes(sve, cents, k, dims / m)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
      .orderBy("vec_id", "sub")
  }

  /** PQ search via asymmetric distance computation (ADC): build the
    * m·k lookup table of exact squared distances from the query's
    * subvectors to every codebook entry, then score each encoded vector
    * as the SUM of m table lookups — no per-pair vector arithmetic at
    * all. At 100 TB the LUT is a broadcast of m·k longs and the scan
    * touches only the code table; scores are exact integers (micro²),
    * so ranking is engine-identical. Output: top `topK` (vec_id,
    * adc_d2), ascending approximate distance.
    */
  def pqSearch(embs: DataFrame, queryVecId: Long, m: Int, k: Int, iters: Int,
               topK: Int, dims: Int,
               idCol: String = "vec_id", embCol: String = "embedding",
               fit: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (sve, cents) = fit.getOrElse(pqFit(embs, m, k, iters, dims, idCol, embCol))
    val subDims = dims / m
    val codes = assignCodes(sve, cents, k, subDims)
    // LUT: exact squared distance from the query's sub-vectors to every
    // codebook centroid — m·k rows, broadcast
    val q = sve.filter(col("vec_id") === queryVecId)
      .select(col("sub"), col("sv").as("qv"), col("nn").as("qn"))
    val lut = cents.join(q, "sub")
      .select(col("sub"), col("cent_id").as("code"),
        (col("qn") + col("cn") - lit(2.0) * dot(col("qv"), col("cv"), subDims))
          .cast("long").as("d2q"))
    codes.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d2q")).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(topK)
  }

  /** End-to-end IVF+PQ search — the canonical two-stage large-scale
    * ANN read path (FAISS IVFADC shape, public knowledge): the coarse
    * quantizer prunes the corpus to `probes` cells, ADC over the PQ
    * code table builds a `shortlist` of candidates with zero per-pair
    * vector arithmetic, and only the shortlist is re-ranked by EXACT
    * squared L2 (micro² integers — engine-identical). At 100 TB the
    * scan fraction is probes/k_coarse of the code table (bits, not
    * floats); raw vectors are read back only for the |shortlist| rows
    * of the re-rank.
    *
    * Output: top `topK` (vec_id, d2) ascending exact micro² distance.
    */
  def ivfpqSearch(embs: DataFrame, coarse: DataFrame, queryVecId: Long,
                  probes: Int, m: Int, k: Int, iters: Int,
                  shortlist: Int, topK: Int, dims: Int,
                  idCol: String = "vec_id", embCol: String = "embedding",
                  fit: Option[(DataFrame, DataFrame)] = None): DataFrame =
    ivfpqSearchImpl(embs, coarse, None, queryVecId, probes, m, k, iters,
      shortlist, topK, dims, idCol, embCol, fit)

  /** [[ivfpqSearch]] with a metadata predicate: candidates failing it
    * are dropped BEFORE the ADC shortlist (a semi-join against the
    * filtered corpus ids), so the shortlist is spent entirely on
    * matching vectors — the filtered-search contract on the codes
    * layout. Oversearch (`probes`) buys recall back exactly as in
    * [[ivfSearchFiltered]].
    */
  def ivfpqSearchFiltered(embs: DataFrame, coarse: DataFrame, pred: Column,
                          queryVecId: Long, probes: Int, m: Int, k: Int, iters: Int,
                          shortlist: Int, topK: Int, dims: Int,
                          idCol: String = "vec_id", embCol: String = "embedding",
                          fit: Option[(DataFrame, DataFrame)] = None): DataFrame =
    ivfpqSearchImpl(embs, coarse, Some(pred), queryVecId, probes, m, k, iters,
      shortlist, topK, dims, idCol, embCol, fit)

  private def ivfpqSearchImpl(embs: DataFrame, coarse: DataFrame, pred: Option[Column],
                              queryVecId: Long,
                              probes: Int, m: Int, k: Int, iters: Int,
                              shortlist: Int, topK: Int, dims: Int,
                              idCol: String, embCol: String,
                              fit: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val subDims = dims / m
    // stage 1: coarse pruning — same assignment/probe machinery as
    // ivfSearchWith (rounded-cosine, centroid-id tie-break)
    val assign = ivfAssignWith(embs, coarse, dims, idCol, embCol)
      .select(col(idCol).as("vec_id"), col("cell"))
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    val probed = coarse.crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"),
        round(cosinePre(col("cent_emb"), col("q_emb"),
          norm(col("cent_emb"), dims), col("q_nrm"), dims), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("cell"))
      .limit(probes)
      .select(col("cell"))
    val candAll = assign.join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"))
    val cand = pred.fold(candAll)(p =>
      candAll.join(embs.filter(p).select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi"))
    // stage 2: ADC shortlist over the probed cells' codes. The
    // candidate set is a probes/k FRACTION of the corpus — small here,
    // billions of rows at 100 TB — so its join strategy is left to
    // Catalyst/AQE (broadcast while it fits, shuffle when it doesn't);
    // only genuinely bounded sides (probed cells, codebook, LUT,
    // shortlist ids) are broadcast by hand.
    val (sve, pcents) = fit.getOrElse(pqFit(embs, m, k, iters, dims, idCol, embCol))
    val codes = assignCodes(sve.join(cand, "vec_id"), pcents, k, subDims)
    val qs = sve.filter(col("vec_id") === queryVecId)
      .select(col("sub"), col("sv").as("qv"), col("nn").as("qn"))
    val lut = pcents.join(broadcast(qs), "sub")
      .select(col("sub"), col("cent_id").as("code"),
        (col("qn") + col("cn") - lit(2.0) * dot(col("qv"), col("cv"), subDims))
          .cast("long").as("d2q"))
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d2q")).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(shortlist)
    // stage 3: exact re-rank of the shortlist — full micro² L2 as the
    // sum of per-subspace exact distances (the same lattice, no
    // approximation), touching only |shortlist| vectors
    val exact = sve.join(broadcast(adc.select(col("vec_id"))), "vec_id")
      .join(broadcast(qs), "sub")
      .select(col("vec_id"),
        (col("nn") + col("qn") - lit(2.0) * dot(col("sv"), col("qv"), subDims)).as("pd2"))
      .groupBy(col("vec_id"))
      .agg(sum(col("pd2")).cast("long").as("d2"))
    exact.orderBy(col("d2"), col("vec_id")).limit(topK)
  }

  /** Global symmetric int8 scalar quantization of an embedding column —
    * the other standard compression next to PQ (4 bytes → 1 byte per
    * dim): q_i = round(e_i / r · 127) for the corpus-wide absolute max
    * r. Codes are exact small integers carried as doubles, so every
    * downstream dot product is an exactly-represented integer
    * (|q·q'| ≤ dims·127² ≪ 2^53) — engine-identical ranking with zero
    * float comparisons.
    *
    * Output: idCol, q8 (array of ints in [−127, 127] as double).
    */
  def sq8Encode(embs: DataFrame, dims: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // corpus-wide scale: one max aggregation (exact — comparisons only),
    // broadcast to the per-row encode pass
    val r = embs.select(
      max(array_max(transform(col(embCol), e => abs(e.cast("double"))))).as("r"))
    embs.crossJoin(broadcast(r))
      .select(col(idCol),
        transform(col(embCol), e => round(e.cast("double") / col("r") * lit(127.0)))
          .as("q8"))
  }

  /** Top-k search over int8 codes by exact integer dot product — the
    * compressed-scan read path: at 100 TB the scan touches 1 byte/dim
    * instead of 4, the query code is one broadcast row, and the top-k is
    * a TakeOrderedAndProject. Ranking is exact integer comparison
    * (ties → id), so results are engine-identical even though the
    * quantization itself is lossy. Output: idCol, q_dot.
    */
  def sq8Search(embs: DataFrame, queryVecId: Long, topK: Int, dims: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // the code table feeds both the query row and the scan — pool-cache
    // it so the scale aggregation + encode runs once, not twice
    val coded = CachePool.track(sq8Encode(embs, dims, idCol, embCol))
    val q = coded.filter(col(idCol) === queryVecId).select(col("q8").as("qq"))
    coded.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), dot(col("q8"), col("qq"), dims).cast("long").as("q_dot"))
      .orderBy(col("q_dot").desc, col(idCol))
      .limit(topK)
  }

  /** Binary (1-bit) quantization of an embedding column — the extreme
    * end of the compression ladder next to [[sq8Encode]] and
    * [[pqEncode]]: one SIGN BIT per dimension, packed ⌈dims/32⌉ long
    * words per vector by the fused [[graft.plans.BqPack]] expression
    * (32 bits/word keeps every word in [0, 2³²) so downstream
    * XOR/popcount is sign-safe in any engine). 64 dims → 8 bytes —
    * a 32× smaller scan than float32.
    *
    * Output: idCol, bq (array<long> of packed sign words).
    */
  def bqEncode(embs: DataFrame, dims: Int,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    embs.select(col(idCol),
      Functions.call("graft_bqpack", col(embCol), lit(dims)).as("bq"))
  }

  /** Hamming distance between two packed sign-bit codes: an unrolled
    * left-associated `bit_count(xor)` chain over the ⌈dims/32⌉ words —
    * all builtin codegen'd expressions (two XOR+POPCNT per row at
    * dims=64), mirrored term for term by the oracle SQL.
    */
  def bqHamming(a: Column, b: Column, dims: Int): Column = {
    val words = (dims + 31) / 32
    (1 to words).map(j =>
        bit_count(element_at(a, j).bitwiseXOR(element_at(b, j))).cast("long"))
      .reduceLeft(_ + _)
  }

  /** Two-stage binary-quantized search: Hamming shortlist over the
    * packed codes, exact cosine rerank over the shortlist only — the
    * standard BQ serving recipe (shortlist recall is bought with
    * `shortlist` ≫ `topK`; precision is exact because the final rank
    * never uses the codes).
    *
    * Scale shape: the candidate scan reads 8 bytes/vector and stays
    * inside whole-stage codegen; the shortlist is a
    * TakeOrderedAndProject (top-`shortlist` per partition, merged on
    * the driver); the rerank touches `shortlist` FULL vectors via a
    * broadcast semi-join — the float corpus is never scanned. At
    * 100 TB the codes table is ~3 TB and the rerank is constant work.
    *
    * Output: idCol, hamming, cos_sim (rounded 1e-6), topK rows by
    * (cos_sim desc, id).
    */
  def bqSearch(embs: DataFrame, queryVecId: Long, shortlist: Int, topK: Int, dims: Int,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val coded = CachePool.track(bqEncode(embs, dims, idCol, embCol))
    val q = coded.filter(col(idCol) === queryVecId).select(col("bq").as("qbq"))
    val ham = coded.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), bqHamming(col("bq"), col("qbq"), dims).as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(shortlist)
    val qv = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("qe"), norm(col(embCol), dims).as("qn"))
    broadcast(ham)
      .join(embs.select(col(idCol), col(embCol).as("e"), norm(col(embCol), dims).as("nrm")),
        Seq(idCol))
      .crossJoin(broadcast(qv))
      .select(col(idCol), col("hamming"),
        round(cosinePre(col("e"), col("qe"), col("nrm"), col("qn"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** IVF + binary-quantization hybrid — the standard billion-scale
    * composition (coarse quantizer prunes to `probes` cells, 1-bit
    * codes rank the survivors by popcount-Hamming, exact cosine reranks
    * the shortlist): three filters of strictly increasing cost, each
    * applied to strictly fewer rows. vs [[ivfSearch]] the probed-cell
    * scan reads 8-byte codes instead of float vectors; vs [[bqSearch]]
    * the Hamming pass touches ~probes/k of the corpus instead of all
    * of it.
    *
    * Output: idCol, cell, hamming, cos_sim — topK by (cos_sim desc, id).
    */
  def ivfBqSearch(embs: DataFrame, queryVecId: Long, k: Int, probes: Int,
                  shortlist: Int, topK: Int, dims: Int,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = firstKCentroids(embs, k, idCol, embCol)
    val assign = ivfAssignWith(embs, cents, dims, idCol, embCol)
      .select(col(idCol), col("cell"))
    val q = embs.filter(col(idCol) === queryVecId)
      .select(col(embCol).as("q_emb"), norm(col(embCol), dims).as("q_nrm"))
    val probed = cents
      .crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"),
        round(cosinePre(col("cent_emb"), col("q_emb"),
          norm(col("cent_emb"), dims), col("q_nrm"), dims), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("cell"))
      .limit(probes)
      .select(col("cell"))
    val coded = CachePool.track(bqEncode(embs, dims, idCol, embCol))
    val qbq = coded.filter(col(idCol) === queryVecId).select(col("bq").as("qbq"))
    val short = assign
      .join(broadcast(probed), "cell")
      .join(coded, idCol)
      .filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(qbq))
      .select(col(idCol), col("cell"),
        bqHamming(col("bq"), col("qbq"), dims).as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(shortlist)
    broadcast(short)
      .join(embs.select(col(idCol), col(embCol).as("e"), norm(col(embCol), dims).as("nrm")),
        Seq(idCol))
      .crossJoin(broadcast(q))
      .select(col(idCol), col("cell"), col("hamming"),
        round(cosinePre(col("e"), col("q_emb"), col("nrm"), col("q_nrm"), dims), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Semantic deduplication (public knowledge: Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means-cluster the embedding space, then
    * compare pairs only WITHIN a cluster and drop every vector that has
    * a near-identical neighbor (rounded cosine ≥ `threshold`) with a
    * smaller id — one deterministic representative per near-duplicate
    * star survives.
    *
    * Scale shape: this is SemDeDup's own answer to the n² pair problem —
    * the cluster assignment (broadcast k centroids, one pass) restricts
    * the pair join to same-cluster pairs, ~n²/k when balanced; k grows
    * with n (like [[scaledBits]]) to hold expected cluster size — and
    * with it per-key join fan-out — constant. The banded-LSH variant
    * ([[bandedNearDupPairs]]) remains the alternative when clustering is
    * not wanted. Output (kept rows): idCol, cell.
    */
  def semanticDedup(embs: DataFrame, k: Int, iters: Int, threshold: Double, dims: Int,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = centroidsAsVectors(kmeansTrain(embs, k, iters, dims, idCol, embCol))
    val assign = ivfAssignWith(embs, cents, dims, idCol, embCol)
      .select(col(idCol).as("id"), col("cell"))
    // per-vector norms + cluster ids feed both sides of the pair join
    val sides = CachePool.track(
      embs.select(col(idCol).as("id"), col(embCol).as("e"), norm(col(embCol), dims).as("nrm"))
        .join(assign, "id"))
    val dups = sides.as("a").join(sides.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(round(cosinePre(col("a.e"), col("b.e"),
        col("a.nrm"), col("b.nrm"), dims), 6) >= threshold)
      .select(col("b.id").as("id")).distinct()
    sides.join(dups, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
      .orderBy(idCol)
  }

  /** Batch ANN join — top-`k` approximate neighbors from `corpus` for
    * EVERY row of `queries` (the retrieval-augmentation / hard-negative
    * mining shape: a query TABLE, not a single vector). Candidates are
    * restricted to pairs sharing the `bits`-bit hyperplane signature;
    * within a query's candidate set the rank is exact rounded cosine.
    *
    * Scale shape: both sides compute signatures map-side; the candidate
    * join is a plain sig-keyed equi-join (shuffle bounded by candidate
    * pairs ~ |Q|·bucket, never |Q|·|C|); the per-query top-k is a window
    * rank that Spark 4 pushes down as WindowGroupLimit before the final
    * shuffle. Norms are materialized once per VECTOR, not per pair.
    * Queries whose bucket holds no corpus vector yield no rows (the
    * honest ANN contract; widen `bits` down or band to raise recall).
    *
    * Output: query_id, nn_id, nn_rank (1-based), cos_sim.
    */
  def annJoin(queries: DataFrame, corpus: DataFrame, bits: Int, k: Int, dims: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val qs = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"),
      norm(col(embCol), dims).as("qn"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"))
    val cs = corpus.select(col(idCol).as("nn_id"), col(embCol).as("ce"),
      norm(col(embCol), dims).as("cn"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    qs.join(cs, "sig")
      .select(col("query_id"), col("nn_id"),
        round(cosinePre(col("qe"), col("ce"), col("qn"), col("cn"), dims), 6).as("cos_sim"))
      .withColumn("nn_rank", row_number().over(w).cast("long"))
      .filter(col("nn_rank") <= k)
      .orderBy(col("query_id"), col("nn_rank"))
  }

  /** kNN majority-vote classification over exact cosine neighbors —
    * the non-parametric member of the classifier family (next to the
    * NB and perceptron gates): each test vector takes the MODAL label
    * of its k nearest train vectors, ties to the smaller label, so the
    * prediction is engine-identical. Output per test vector:
    * query_id, predicted_label, n_votes, true_label, correct.
    *
    * Scale shape: this is the dense all-pairs baseline (the oracle
    * shape, same contract as bruteForceTopK's documented dense
    * variants); at scale the neighbor set comes from [[annJoin]] or
    * the IVF index instead and the vote logic is unchanged. The vote
    * itself is bounded: k rows per query into a (query, label) count
    * + one WindowGroupLimit.
    */
  /** Exact per-query top-k neighbor pairs — the dense all-pairs
    * baseline ([[knnClassify]]'s neighbor stage, and the ground truth
    * ANN-pathed variants are measured against). Output: query_id,
    * true_label, nn_id, nn_label, cos_sim (k rows per query).
    */
  def knnNeighbors(train: DataFrame, test: DataFrame, k: Int, dims: Int,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   labelCol: String = "label",
                   maxPairs: Long = DenseMaxPairs): DataFrame = {
    guardDense("knnNeighbors", test, train, maxPairs,
      "annJoin / knnClassifyAnn (LSH buckets) or ivfSearch")
    val ts = test.select(col(idCol).as("query_id"), col(embCol).as("qe"),
      norm(col(embCol), dims).as("qn"), col(labelCol).cast("long").as("true_label"))
    val tr = train.select(col(idCol).as("nn_id"), col(embCol).as("ce"),
      norm(col(embCol), dims).as("cn"), col(labelCol).cast("long").as("nn_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    ts.crossJoin(tr)
      .select(col("query_id"), col("true_label"), col("nn_id"), col("nn_label"),
        round(cosinePre(col("qe"), col("ce"), col("qn"), col("cn"), dims), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Shared majority-vote tail: modal nn_label per query, ties to the
    * smaller label. Input needs (query_id, true_label, nn_label) rows —
    * k per query — from any neighbor generator.
    */
  private def majorityVote(nbrs: DataFrame): DataFrame = {
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("n_votes").desc, col("nn_label"))
    nbrs.groupBy(col("query_id"), col("true_label"), col("nn_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("nn_label").as("predicted_label"), col("n_votes"),
        col("true_label"),
        (col("nn_label") === col("true_label")).cast("int").cast("long").as("correct"))
      .orderBy(col("query_id"))
  }

  def knnClassify(train: DataFrame, test: DataFrame, k: Int, dims: Int,
                  idCol: String = "vec_id", embCol: String = "embedding",
                  labelCol: String = "label"): DataFrame =
    majorityVote(knnNeighbors(train, test, k, dims, idCol, embCol, labelCol))

  /** The 100 TB path of [[knnClassify]] (r9 verdict weak item): the
    * neighbor stage routes through [[annJoin]] — a `bits`-bit
    * hyperplane-signature bucket join, candidate pairs bounded by
    * |test|·bucket instead of |test|·|train| — and the vote tail is
    * unchanged. Test vectors whose bucket holds no train vector get no
    * prediction (the honest ANN contract — lower `bits` or band to
    * raise coverage); neighbor quality vs exact is quantified by the
    * companion recall query.
    */
  def knnClassifyAnn(train: DataFrame, test: DataFrame, bits: Int, k: Int, dims: Int,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val nbrs = annJoin(test, train, bits, k, dims, idCol, embCol)
      .join(train.select(col(idCol).as("nn_id"),
        col(labelCol).cast("long").as("nn_label")), "nn_id")
      .join(test.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("true_label")), "query_id")
      .select(col("query_id"), col("true_label"), col("nn_label"))
    majorityVote(nbrs)
  }

  /** Label-noise screening by self-kNN disagreement (the
    * confident-learning-style gate a labeled training set runs before
    * fine-tuning): every vector takes the majority label of its k
    * nearest OTHER vectors; a vector whose neighborhood outvotes its
    * own label is flagged. Neighbors come from the hyperplane-signature
    * bucket join with the self-pair excluded in the join condition —
    * the [[annJoin]] scale shape, never the dense self cross join.
    * Output per label: label, n, n_voted (vectors with ≥1 same-bucket
    * neighbor), n_flagged, noise_ppm (flagged per voted).
    */
  def labelNoise(embs: DataFrame, bits: Int, k: Int, dims: Int,
                 idCol: String = "vec_id", embCol: String = "embedding",
                 labelCol: String = "label"): DataFrame = {
    val side = embs.select(col(idCol).cast("long").as("id"), col(embCol).as("e"),
      norm(col(embCol), dims).as("nn"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"),
      col(labelCol).cast("long").as("lab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    val nbrs = side.as("a").join(side.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("a.lab").as("true_label"),
        col("b.id").as("nn_id"), col("b.lab").as("nn_label"),
        round(cosinePre(col("a.e"), col("b.e"), col("a.nn"), col("b.nn"), dims), 6)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("true_label"), col("nn_label"))
    majorityVote(nbrs)
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_voted"),
        sum(lit(1L) - col("correct")).as("n_flagged"))
      .join(embs.groupBy(col(labelCol).cast("long").as("label"))
        .agg(count(lit(1)).as("n")), "label")
      .select(col("label"), col("n"), col("n_voted"), col("n_flagged"),
        expr("n_flagged * 1000000 div nullif(n_voted, 0)").as("noise_ppm"))
      .orderBy("label")
  }

  /** Matryoshka-style adaptive retrieval (public knowledge: Kusupati et
    * al., "Matryoshka Representation Learning", 2022): rank the corpus
    * by cosine over only the FIRST `dPrefix` dimensions, keep a
    * `shortlist`, then re-rank the shortlist with the full `dims`-dim
    * cosine. The cheap pass does dPrefix/dims of the arithmetic; a
    * deployment stores the prefix as its own column group so the first
    * pass also reads a fraction of the bytes — here both passes share
    * one scan and the win is compute.
    *
    * Both passes are deterministic ((rounded cos desc, id) order), so
    * the result is engine-exact even though the shortlist is an
    * approximation of the full-dim top-k. Output: vec_id, cos_prefix,
    * cos_sim — topK rows by (cos_sim desc, vec_id).
    */
  def matryoshkaSearch(embs: DataFrame, queryVecId: Long, dPrefix: Int,
                       shortlist: Int, topK: Int, dims: Int,
                       idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(dPrefix > 0 && dPrefix <= dims, s"bad prefix dims $dPrefix")
    val q = embs.filter(col(idCol) === queryVecId).select(col(embCol).as("qe"))
    val short = embs.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(embCol), col("qe"),
        round(cosine(col(embCol), col("qe"), dPrefix), 6).as("cos_prefix"))
      .orderBy(col("cos_prefix").desc, col(idCol))
      .limit(shortlist)
    short
      .select(col(idCol), col("cos_prefix"),
        round(cosine(col(embCol), col("qe"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Greedy k-center sampling (farthest-point traversal — the classic
    * 2-approximation of Gonzalez, "Clustering to minimize the maximum
    * intercluster distance", 1985): pick the min-id point, then k−1
    * times the point farthest from everything chosen so far — the
    * standard diversity-maximizing coreset selector for training-data
    * subset curation.
    *
    * Exactness: vectors live on the integer micro-lattice
    * (round(x·1e6) — elements ≤ ~4e6, d² sums ≤ dims·6.4e13 ≪ 2^53), so
    * every distance is an exactly-represented integer and the
    * (d² desc, id) argmax is engine-identical.
    *
    * Scale shape: one O(n) map pass per round against the single
    * broadcast new center, a global top-1 (TakeOrdered), and a
    * persisted running min — k·O(n) total, the distributed-greedy
    * standard. The only driver traffic is one row per round.
    *
    * Output: sel_order (0-based), idCol, d2_sel (distance² to the
    * previously-chosen set at selection time; 0 for the seed).
    */
  def kcenterSample(embs: DataFrame, k: Int, dims: Int,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"bad k $k")
    val spark = embs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val mv = CachePool.track(embs.select(col(idCol).as("id"),
        transform(col(embCol), x => round(x.cast("double") * lit(1000000.0))).as("mv"))
      .withColumn("nn", dot(col("mv"), col("mv"), dims)))
    val seed = mv.orderBy(col("id")).limit(1).collect().head
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    selected += ((0L, seed.getLong(0), 0L))
    // running state: min d² to the chosen set, updated against each new center
    var state = mv.select(col("id"), col("mv"), col("nn"), lit(Double.MaxValue).as("mind2"))
    var center = seed
    for (round <- 1L until k.toLong) {
      val cMv = center.getSeq[Double](1)
      val cNn = center.getDouble(2)
      val d2 = col("nn") + lit(cNn) - lit(2.0) * dot(col("mv"), typedLit(cMv), dims)
      val next = state.select(col("id"), col("mv"), col("nn"),
        least(col("mind2"), d2).as("mind2")).persist(StorageLevel.MEMORY_AND_DISK)
      val far = next.orderBy(col("mind2").desc, col("id")).limit(1).collect().head
      state.unpersist()
      state = next
      center = far
      // mind2 is an exact micro²-lattice integer — carry it as BIGINT
      selected += ((round, far.getLong(0), far.getDouble(3).toLong))
    }
    state.unpersist()
    import spark.implicits._
    selected.toSeq.toDF("sel_order", idCol, "d2_sel").orderBy(col("sel_order"))
  }

  /** Batched farthest-point traversal (r7 advice #7): [[kcenterSample]]
    * costs k driver round-trips (one Spark job per center); this
    * variant picks the `batch` currently-farthest points per round and
    * folds them all into ONE mind2 update pass, cutting rounds to
    * ⌈(k−1)/batch⌉ — the standard batched-FPS trade (slightly weaker
    * than exact greedy because in-batch picks don't see each other;
    * identical when batch=1, which the spec pins).
    *
    * d2_sel for a batch member is its distance² to the set chosen
    * BEFORE that batch. Same integer micro-lattice exactness and
    * (d² desc, id) tie-breaks as the exact traversal.
    */
  def kcenterSampleBatched(embs: DataFrame, k: Int, batch: Int, dims: Int,
                           idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(batch >= 1, s"bad batch $batch")
    val spark = embs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val mv = CachePool.track(embs.select(col(idCol).as("id"),
        transform(col(embCol), x => round(x.cast("double") * lit(1000000.0))).as("mv"))
      .withColumn("nn", dot(col("mv"), col("mv"), dims)))
    val seed = mv.orderBy(col("id")).limit(1).collect().head
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    selected += ((0L, seed.getLong(0), 0L))
    var state = mv.select(col("id"), col("mv"), col("nn"), lit(Double.MaxValue).as("mind2"))
    var newCenters: Seq[org.apache.spark.sql.Row] = Seq(seed)
    while (selected.size < k) {
      // one pass folds ALL of last round's centers into the running min
      val d2s = newCenters.map { c =>
        col("nn") + lit(c.getDouble(2)) -
          lit(2.0) * dot(col("mv"), typedLit(c.getSeq[Double](1)), dims)
      }
      val next = state.select(col("id"), col("mv"), col("nn"),
        (d2s :+ col("mind2")).reduce(least(_, _)).as("mind2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val take = math.min(batch, k - selected.size)
      val far = next.orderBy(col("mind2").desc, col("id")).limit(take).collect()
      state.unpersist()
      state = next
      far.foreach { f =>
        selected += ((selected.size.toLong, f.getLong(0), f.getDouble(3).toLong))
      }
      newCenters = far.toSeq
    }
    state.unpersist()
    import spark.implicits._
    selected.toSeq.toDF("sel_order", idCol, "d2_sel").orderBy(col("sel_order"))
  }

  /** LSH-restricted nearest neighbor: best cosine among same-bucket
    * vectors (approximate — exactly the candidate set a distributed ANN
    * would score). Vectors alone in their bucket produce no row.
    */
  def lshNearestInBucket(embs: DataFrame, bits: Int, dims: Int,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val sigs = CachePool.track(embs.select(col(idCol).as("id"), col(embCol).as("e"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"),
      norm(col(embCol), dims).as("nrm")))
    val pairs = sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("vec_id"), col("b.id").as("nn_id"),
        round(cosinePre(col("a.e"), col("b.e"),
          col("a.nrm"), col("b.nrm"), dims), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("vec_id"))
  }

  /** Multi-probe LSH search (Lv et al., "Multi-Probe LSH", VLDB 2007 —
    * public): answer a top-k query by scanning the query's OWN bucket
    * plus the `bits` buckets whose signature differs in exactly one
    * bit — the perturbation sequence most likely to hold the missed
    * neighbors, since a near-duplicate's projection flips few signs.
    * Recall rises from p^bits (single bucket) toward banded levels
    * WITHOUT extra tables or re-hashing: the cost is bits+1 bucket
    * probes against the ONE signature index — the standard
    * memory-for-probes trade a serving deployment makes.
    *
    * Scale shape: the bits+1 probe signatures derive from the query
    * row alone and broadcast; candidates come from an equi-join on the
    * signature (bucket sizes ~n/2^bits, so work is (bits+1)·bucket);
    * exact cosine re-ranks. Output: top `topK` (vec_id, cos_sim).
    */
  def multiProbeSearch(embs: DataFrame, queryVecId: Long, bits: Int, topK: Int,
                       dims: Int, idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame = {
    val sigs = CachePool.track(embs.select(col(idCol).as("id"), col(embCol).as("e"),
      hyperplaneSig(col(embCol), bits, dims).as("sig"),
      norm(col(embCol), dims).as("nrm")))
    val q = sigs.filter(col("id") === queryVecId)
      .select(col("e").as("qe"), col("nrm").as("qn"), col("sig").as("qsig"))
    val flips = (0 until bits).map { i =>
      concat(expr(s"substring(qsig, 1, $i)"),
        when(expr(s"substring(qsig, ${i + 1}, 1)") === "1", lit("0")).otherwise(lit("1")),
        expr(s"substring(qsig, ${i + 2})"))
    }
    val probes = q.select(explode(array(col("qsig") +: flips: _*)).as("sig"))
    sigs.join(broadcast(probes), "sig")
      .filter(col("id") =!= queryVecId)
      .crossJoin(broadcast(q.select(col("qe"), col("qn"))))
      .select(col("id").as(idCol),
        round(cosinePre(col("e"), col("qe"), col("nrm"), col("qn"), dims), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Per-dimension distribution stats of an embedding column — the FIT
    * half of feature scaling (z-score/min-max normalization, PCA
    * centering) a training pipeline runs before quantizer training or
    * whitening: for every dimension, the count, exact micro-unit sum /
    * sum-of-squares / min / max, and the derived mean and (population)
    * variance.
    *
    * Cross-engine exactness: micro values are exact integers, so sum
    * (≤ n·2e6) and sumsq (≤ n·4e12) are exact BIGINT sums; the
    * variance numerator n·sumsq − sum² is computed in DECIMAL (it
    * overflows a long at n ≳ 2000) and mean/variance are single
    * fixed-shape double divisions snapped to 1e-6.
    *
    * Scale shape: one narrow per-row explode and ONE aggregation keyed
    * by dimension — key cardinality = dims (bounded), so map-side
    * partial aggregation collapses the shuffle to dims·partitions rows
    * regardless of corpus size. No join, no window.
    *
    * Output: dim (0-based), n_vecs, sum_micro, sumsq_micro, min_micro,
    * max_micro, mean (1e-6), variance (1e-6, micro² units scaled back
    * by 1e-12) — ordered by dim.
    */
  def dimStats(embs: DataFrame, dims: Int, embCol: String = "embedding"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    embs
      .select(posexplode(transform(col(embCol),
        e => round(e.cast("double") * lit(1000000.0)).cast("long"))).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("v")).as("sum_micro"),
        sum(col("v") * col("v")).as("sumsq_micro"),
        min(col("v")).as("min_micro"),
        max(col("v")).as("max_micro"))
      .select(col("dim"), col("n_vecs"), col("sum_micro"), col("sumsq_micro"),
        col("min_micro"), col("max_micro"),
        (round(col("sum_micro").cast("double") / col("n_vecs")) / lit(1000000.0)).as("mean"),
        (round((col("sumsq_micro").cast(dec) * col("n_vecs")
            - col("sum_micro").cast(dec) * col("sum_micro")).cast("double")
          / col("n_vecs") / col("n_vecs") / lit(1e12) * lit(1000000.0))
          / lit(1000000.0)).as("variance"))
      .orderBy("dim")
  }

  /** Z-score standardization APPLY — the other half of [[dimStats]]'s
    * FIT: re-express every embedding coordinate as
    * (x − mean_d) / sqrt(variance_d + ε), the normalize step a
    * training pipeline runs before PCA/whitening or quantizer
    * training so no dimension dominates the distance metric.
    *
    * Cross-engine exactness: the numerator is an exact BIGINT
    * difference of micro-lattice integers; the divisor
    * sqrt(variance + 1e-6) is one correctly-rounded IEEE sqrt of the
    * already-1e-6-snapped variance — identical doubles in any engine —
    * and the quotient snaps back to ppm. ε also floors zero-variance
    * dimensions (constant columns map to z = 0-ish instead of ∞).
    *
    * Scale shape: the dims-row stats table broadcasts; the apply is a
    * per-row map over the exploded coordinates — no shuffle beyond
    * [[dimStats]]'s bounded dims-key aggregation. Output (ORDERED):
    * vec_id, dim, z_ppm.
    */
  def standardize(embs: DataFrame, dims: Int, embCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val stats = dimStats(embs, dims, embCol).select(
      col("dim").as("sdim"),
      round(col("sum_micro").cast("double") / col("n_vecs")).cast("long").as("m_micro"),
      sqrt(col("variance") + lit(0.000001)).as("sd"))
    val flat = embs.select(col(idCol).cast("long").as("vec_id"),
      posexplode(transform(col(embCol),
        e => round(e.cast("double") * lit(1000000.0)).cast("long"))).as(Seq("dim", "v")))
    flat.join(broadcast(stats), flat("dim") === stats("sdim"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round((col("v") - col("m_micro")).cast("double") / col("sd")).cast("long").as("z_ppm"))
      .orderBy("vec_id", "dim")
  }

  /** Embedding hygiene report — the ingest check that catches the
    * classic embedding-pipeline failure modes BEFORE they poison an
    * index: zero vectors (failed encode), norm outliers (unnormalized
    * or corrupted batches — a batch encoded without L2-normalization
    * sits orders of magnitude off the corpus norm distribution).
    * Per vector: the EXACT integer micro² squared norm, its z-score
    * against the corpus norm² distribution (ppm; same ε-floored-sd
    * discipline as [[standardize]]), and the zero flag.
    *
    * Shape: one fused-dot per row, ONE global 4-number aggregation
    * broadcast back — two passes over the vectors, no join by key, no
    * window. Output (ORDERED): vec_id, nrm2_micro2, z_ppm, is_zero.
    */
  def normStats(embs: DataFrame, dims: Int, embCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val mv = transform(col(embCol), e => round(e.cast("double") * lit(1000000.0)))
    val base = embs.select(col(idCol).cast("long").as("vec_id"),
      dot(mv, mv, dims).cast("long").as("nrm2"))
    val stats = base.agg(count(lit(1)).as("n"),
        sum(col("nrm2").cast(dec)).as("s"),
        sum((col("nrm2").cast(dec)) * col("nrm2")).as("ss"))
      .select(col("n"),
        round(col("s").cast("double") / col("n")).as("mean2"),
        sqrt(round((col("ss") * col("n") - col("s") * col("s")).cast("double")
            / col("n") / col("n"))
          + lit(1.0)).as("sd"))
    base.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("nrm2").as("nrm2_micro2"),
        round((col("nrm2") - col("mean2")) / col("sd") * lit(1000000.0))
          .cast("long").as("z_ppm"),
        (col("nrm2") === 0L).as("is_zero"))
      .orderBy("vec_id")
  }

  /** Deterministic ±1 sign for output dim `j`, input dim `d` of the
    * random-projection matrix — the same LCG family as [[planeCoef]],
    * so both engines derive the matrix arithmetically (no literal
    * tables in the oracle SQL).
    */
  def projSign(j: Int, d: Int, dims: Int): Double =
    if ((j.toLong * dims + d) * 2654435761L % 1000003L % 2L == 0L) 1.0 else -1.0

  /** Johnson–Lindenstrauss random projection (Achlioptas 2001 ±1
    * variant, public): compress `dims`-dim embeddings to `dProj` dims
    * as y_j = Σ_d sign(j,d)·x_d — pairwise distances are preserved to
    * (1±ε) with dProj = O(log n / ε²), which is the cheap first-stage
    * reduction a pipeline runs before clustering / ANN when even the
    * raw vectors are too wide to shuffle.
    *
    * Exactness: inputs are micro-lattice integers and the matrix is
    * ±1, so every y_j is an exact integer with |y_j| ≤ dims·2e6 ≪ 2^53
    * — [[dot]]'s left-to-right double accumulation is exact regardless
    * of order, hence hash-identical to the oracle's BIGINT sums.
    *
    * Scale shape: the sign matrix is dProj constant-folded literal
    * rows; the projection is dProj fused [[dot]] loops in ONE
    * codegen'd Project — per-row map, zero shuffle, zero join. The
    * flattening posexplode (and the oracle's order-by) are for the
    * hash-comparable output shape only.
    *
    * Output (ORDERED): vec_id, j (0-based output dim), y_micro.
    */
  def randomProject(embs: DataFrame, dProj: Int, dims: Int,
                    embCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val mv = transform(col(embCol), e => round(e.cast("double") * lit(1000000.0)))
    val signRows = (0 until dProj).map { j =>
      array((0 until dims).map(d => lit(projSign(j, d, dims))): _*)
    }
    val y = array(signRows.map(sr => dot(col("mv"), sr, dims).cast("long")): _*)
    embs.select(col(idCol).cast("long").as("vec_id"), mv.as("mv"))
      .select(col("vec_id"), posexplode(y).as(Seq("j", "y_micro")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("y_micro"))
      .orderBy("vec_id", "j")
  }

  /** Margin-based bitext mining — the cross-lingual parallel-pair
    * criterion of LASER/CCMatrix (public knowledge: Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019, ratio margin): a raw cosine is unreliable
    * across embedding-space density differences, so each candidate
    * (x, y) is scored by cos(x,y) normalized by the mean of both
    * sides' k-NN cosines — margin = cos(x,y) / ((Σ_kNN(x) + Σ_kNN(y))
    * / 2k) — and x keeps its best-margin y above a threshold.
    *
    * Cross-engine exactness: cosines snap to micro-units (×1e6 rounded
    * BIGINT) BEFORE any aggregation, so k-NN sums are exact integer;
    * the margin is one integer division (2k·1e6-scaled ppm) on
    * positive values only (negative-cosine candidates are excluded
    * before the division — trunc-vs-floor integer division differs on
    * negatives across engines, and anti-parallel vectors are not
    * mining candidates).
    *
    * Scale shape: written as the dense A×B pair set (the oracle-exact
    * baseline); both k-NN rollups and the best-per-x rank ride Spark 4
    * WindowGroupLimit pushdown. At 100 TB the pair generator swaps for
    * the LSH-bucketed candidate join ([[nearDupPairs]]) or probed-IVF
    * candidates ([[ivfSearchWith]]) — the margin arithmetic is
    * unchanged; that swap is the same candidate-generation story every
    * other similarity operator here scales by.
    *
    * Output: a_id, b_id, cos_u, margin_ppm — x's best mate with margin
    * ≥ `marginPpmMin`, ordered by a_id.
    */
  def bitextMine(a: DataFrame, b: DataFrame, kNeigh: Int = 4,
                 marginPpmMin: Long = 1010000L, dims: Int = 64,
                 idCol: String = "vec_id", embCol: String = "embedding",
                 maxPairs: Long = DenseMaxPairs): DataFrame = {
    guardDense("bitextMine", a, b, maxPairs, "bitextMineLsh (banded candidates)")
    val an = a.select(col(idCol).as("a_id"), col(embCol).as("ea"),
      norm(col(embCol), dims).as("nrm_a"))
    val bn = b.select(col(idCol).as("b_id"), col(embCol).as("eb"),
      norm(col(embCol), dims).as("nrm_b"))
    // micro-unit pair cosines; both k-NN rollups and the margin read
    // this — persist or the A×B dot products run three times.
    // The streamed side inherits the parquet scan's partition count
    // (1–2 splits at eval scale), so the broadcast-nested-loop cross
    // join ran on a couple of tasks while the rest of the machine sat
    // idle (measured as ~1.1 s single-stage jobs at sf0.1); a keyless
    // repartition of the few-thousand-row side to the session's
    // parallelism costs microseconds and spreads the |A|·|B| cosine
    // work over every core — scale-adaptive, nothing hard-coded.
    val pairs = CachePool.track(
      an.repartition(an.sparkSession.sparkContext.defaultParallelism)
        .crossJoin(bn)
        .select(col("a_id"), col("b_id"),
          round(cosinePre(col("ea"), col("eb"), col("nrm_a"), col("nrm_b"), dims) * 1000000.0)
            .cast("long").as("cos_u"))
        .filter(col("cos_u") > 0))
    marginMine(pairs, kNeigh, marginPpmMin)
  }

  /** The ratio-margin arithmetic over an arbitrary candidate pair set
    * (a_id, b_id, cos_u > 0 micro-units) — shared by the dense
    * baseline and the LSH candidate path; the margin normalizes over
    * each side's RETRIEVED neighbors, exactly as a deployed miner's
    * does.
    */
  private def marginMine(pairs: DataFrame, kNeigh: Int, marginPpmMin: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k-NN cosine rollup as ONE map-side-combinable aggregate
    // (graft_topksum, [[graft.plans.TopKPosSum]]) instead of the
    // row_number-window + groupBy-sum shape: no sort of the candidate
    // pair set, and the exchange carries a k-slot buffer per key
    // instead of per-map-partition top-k rows. The top-k SUM is
    // tie-insensitive (the window's id tie-break only chose among
    // equal values), and cos_u > 0 by the callers' filter, so the
    // zero-padded buffer is exact — pinned against the window form in
    // SimilaritySpec.
    def knnSum(key: String, other: String, out: String) = {
      pairs.groupBy(col(key))
        .agg(Functions.call("graft_topksum", col("cos_u"), lit(kNeigh)).as(out))
    }
    val scored = pairs
      .join(knnSum("a_id", "b_id", "ka_sum"), "a_id")
      .join(knnSum("b_id", "a_id", "kb_sum"), "b_id")
      .withColumn("margin_ppm",
        expr(s"(cos_u * ${2 * kNeigh} * 1000000) div (ka_sum + kb_sum)"))
    val best = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_ppm").desc, col("b_id"))
    scored.withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
      .filter(col("margin_ppm") >= marginPpmMin)
      .select(col("a_id"), col("b_id"), col("cos_u"), col("margin_ppm"))
      .orderBy(col("a_id"))
  }

  /** [[bitextMine]]'s 100 TB shape: candidates come from the banded
    * hyperplane-LSH bucket join (a pair must share at least one of
    * `bands` signature bands) instead of the dense A×B product, then
    * the identical margin arithmetic runs on the candidate set. With
    * [[scaledBits]]-style growth of `bitsPerBand` the candidate count
    * stays linear in corpus size; precision is exact (margins are
    * computed from exact micro-cosines of real candidates), recall is
    * the banding probability — the same contract as every other LSH
    * operator here. Parameters are pinned by callers for oracle
    * reproducibility.
    */
  def bitextMineLsh(a: DataFrame, b: DataFrame, bands: Int = 4, bitsPerBand: Int = 4,
                    kNeigh: Int = 4, marginPpmMin: Long = 1010000L, dims: Int = 64,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // r17: embeddings RIDE the banded-key exchange (n·bands rows ×
    // dims floats — corpus-linear) so every candidate's exact cosine
    // computes INSIDE the band-join stage, and pairs are DISTINCT BY
    // CONSTRUCTION — a pair is emitted only at its FIRST agreeing
    // band (each banded row carries the full signature string; the
    // join predicate requires every earlier band to differ), so no
    // candidate-sized distinct exchange exists and the cosine runs
    // exactly once per candidate pair. The previous shape distinct'd
    // bare id pairs and then re-attached both 64-float embedding
    // arrays through two candidate-sized joins — on clustered
    // embeddings (where same-cluster vectors share FULL signatures
    // and bucket population tracks cluster size no matter how wide
    // scaledBits grows the bands) candidates are inherently
    // super-linear, and pair rows carrying arrays across exchanges
    // were the dominant cost (sf4 probe: 29M raw / 20M distinct
    // candidates from 80k vectors). The first-band predicate is
    // evaluated on the SortMergeJoin's joined-row VIEW, so failing
    // multiplicity rows never materialize an output row (a
    // same-cluster pair agrees on ALL bands — the naive in-stage
    // form paid its cosine + row copy per band). Same candidate
    // set, same cosines, same output bit-for-bit.
    def keys(df: DataFrame, id: String, e: String, nrm: String, sig: String) =
      df.select(col(idCol).as(id), col(embCol).as(e),
          norm(col(embCol), dims).as(nrm),
          hyperplaneSig(col(embCol), bands * bitsPerBand, dims).as(sig))
        .select(col(id), col(e), col(nrm), col(sig),
          explode(sequence(lit(0L), lit(bands - 1L))).as("band"))
        .withColumn("bk", expr(s"substring($sig, band * $bitsPerBand + 1, $bitsPerBand)"))
    def bandKeyOf(sig: String, b: Int) =
      substring(col(sig), b * bitsPerBand + 1, bitsPerBand)
    val ka = keys(a, "a_id", "ea", "nrm_a", "sa")
    val kb = keys(b, "b_id", "eb", "nrm_b", "sb")
    val firstAgreeingBand = (1 until bands).map { bIdx =>
      ka("band") === bIdx.toLong &&
        (0 until bIdx).map(e => bandKeyOf("sa", e) =!= bandKeyOf("sb", e))
          .reduce(_ && _)
    }.foldLeft(ka("band") === 0L)(_ || _)
    val pairs = CachePool.track(
      ka.join(kb, ka("band") === kb("band") && ka("bk") === kb("bk") &&
          firstAgreeingBand)
        .select(col("a_id"), col("b_id"),
          round(cosinePre(col("ea"), col("eb"), col("nrm_a"), col("nrm_b"), dims) * 1000000.0)
            .cast("long").as("cos_u"))
        .filter(col("cos_u") > 0))
    marginMine(pairs, kNeigh, marginPpmMin)
  }

  /** Top principal component of the embedding table by FIXED-ROUND
    * power iteration on the centered micro lattice — the direction a
    * whitening/compression pass would strip first, published with its
    * explained-variance share.
    *
    * Every round is exact integer arithmetic + one correctly-rounded
    * IEEE normalize, so the result is hash-identical across engines:
    * s_i = Σ_d c_{i,d}·w_d (exact BIGINT), rescaled by TRUNCATING
    * division by 2²⁷ (Spark's `div` ≡ DuckDB's `//`, both truncate
    * toward zero on integer operands), u_d = Σ_i c_{i,d}·s'_i as
    * DECIMAL(38,0), then w ← round(u·10⁶/‖u‖) back on the 10⁶ lattice
    * (‖u‖ one IEEE sqrt of exact sums, ε-free — a zero u maps to w=0
    * via the guard). Uniform w₀; `iters` is part of the operator
    * contract, not a convergence knob.
    *
    * Scale shape: the perceptron-distillation loop shape — the
    * centered ARRAY form persists once, each round is ONE
    * map-side-combined per-dim aggregation over it (the per-vector dot
    * rides as a codegen'd projection with the 64 weights folded in as
    * literals, exactly like the perceptron's weight literals), and the
    * 64-row normalize runs on the driver with arithmetic that
    * REPLICATES Spark SQL bit for bit: BigInteger division (truncating,
    * ≡ `div`/`//`), BigInteger→double (IEEE nearest, ≡ CAST), and
    * java.math.BigDecimal.valueOf(x).setScale(0, HALF_UP) (what Spark's
    * `round(double)` does internally). The first DataFrame version of
    * this operator spent 9 s at sf0.1 on broadcast/join job chains for
    * 64-row frames; this shape is 6 bounded jobs total.
    * Output (ORDERED): dim, loading_ppm, ev_ppm.
    */
  def pcaTopComponent(embs: DataFrame, dims: Int, iters: Int = 4,
                      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def sqlRound(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue

    // pass 1: per-dim exact moments → means AND the exact Σcv² via
    // Σ(v−m)² = Q − 2mS + n·m², pure BigInt algebra — no second pass.
    // r17.4: posexplode→groupBy(dim) instead of the previous 129-column
    // keyless aggregate. The wide agg's per-action cost was codegen
    // SOURCE SIZE, not task work: 64 overflow-checked DECIMAL sums
    // generate ~0.2 s of source assembly/compile per action (measured
    // against ss2's single-sum agg over the same base: 0.08 s vs
    // 0.25–0.42 s per iteration at bench SF, where the task work itself
    // is ~2 ms on 2k vectors). The explode shape pays one ≤dims-key
    // exchange instead and its summands are IDENTICAL (same longs, same
    // per-row cast(dec); integer/decimal sums are order-free), so every
    // collected value is bit-for-bit the wide agg's. The zip_with pad
    // makes every row emit every d < dims — per-dim count ≡ count(*),
    // null v where the input array is short — exactly getItem's
    // semantics on ragged input.
    val vArr = transform(col(embCol),
      e => round(e.cast("double") * lit(1000000.0)).cast("long"))
    val zeroPad = array(Array.fill(dims)(lit(0L)): _*)
    val moRows = embs
      .select(posexplode(zip_with(vArr, zeroPad, (v, _) => v)).as(Seq("dim", "v")))
      .filter(col("dim") < dims)
      .groupBy(col("dim"))
      .agg(sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast(dec)).cast(dec).as("q"),
        count(lit(1)).as("nv"))
      .collect()
    // r17 ADVICE: posexplode emits nothing for an empty table or
    // all-null embedding arrays — fail with a contract message instead
    // of a bare NoSuchElementException at moByDim(0)
    require(moRows.nonEmpty,
      s"pcaTopComponent: no rows with a non-null $embCol array — " +
        "the operator requires a non-empty embedding table")
    val moByDim = moRows.map(r => r.getAs[Int]("dim") -> r).toMap
    val nVec = moByDim(0).getAs[Long]("nv")
    val mArr = Array.tabulate(dims)(d =>
      sqlRound(moByDim(d).getAs[Long]("s").toDouble / nVec))
    val cv2 = (0 until dims).map { d =>
      BigInt(moByDim(d).getAs[java.math.BigDecimal]("q").toBigInteger) -
        2 * BigInt(mArr(d)) * BigInt(moByDim(d).getAs[Long]("s")) +
        BigInt(nVec) * BigInt(mArr(d)) * BigInt(mArr(d))
    }.sum

    val mLit = array(mArr.map(lit(_)): _*)
    val base = CachePool.track(
      embs.select(zip_with(
        transform(col(embCol), e => round(e.cast("double") * lit(1000000.0)).cast("long")),
        mLit, (v, mm) => v - mm).as("cv")))

    // weights live in the expression instance, NOT folded literals —
    // each round re-plans with new w, and a literal-folded 64-term Add
    // chain changes the codegen source every round (one recompile per
    // round) and re-runs the optimizer over a 64-node tree;
    // graft_doti's source is round-invariant so the codegen cache hits
    // from round 2 on. Measured round cost is dominated by the 64
    // exact DECIMAL sums (execution, not compile), so this is plan
    // hygiene, not a headline win — rounds are ~0.6 s either way.
    // cv is built above with exactly `dims` elements, so graft_doti's
    // short-array NULL sentinel is unreachable here.
    def sCol(w: Array[Long]): Column =
      Functions.call("graft_doti", col("cv"), array(w.map(lit(_)): _*))

    var w = Array.fill(dims)(1000000L)
    for (_ <- 1 to iters) {
      // one explode→groupBy(dim) aggregation per round (same plan
      // shape every round, only the weight array in graft_doti's
      // literal child changes) — the r17.4 moments-pass move: a single
      // decimal-sum agg over ≤dims keys instead of a 64-sum keyless
      // agg whose codegen source dominated the round. cv comes from
      // zip_with so |cv| ≥ dims and every d < dims is present; the
      // summands (c·stv per row, cast(dec)) are the wide agg's exactly.
      val dfIter = base
        .select((sCol(w) cast "long").as("s"), col("cv"))
        .select(expr("s div 134217728").as("stv"),
          posexplode(col("cv")).as(Seq("dim", "c")))
        .filter(col("dim") < dims)
        .groupBy(col("dim"))
        .agg(sum((col("c") * col("stv")).cast(dec)).cast(dec).as("u"))
      val rows = dfIter.collect()
      val uByDim = rows.map(r => r.getAs[Int]("dim") ->
        BigInt(r.getAs[java.math.BigDecimal]("u").toBigInteger)).toMap
      val u = Array.tabulate(dims)(d => uByDim.getOrElse(d,
        throw new IllegalStateException(
          s"pcaTopComponent: dim $d missing from the power-iteration " +
            "aggregate — empty cached base?")))
      val un = u.map(_ / 1048576) // BigInteger division truncates ≡ div
      val nrm = math.sqrt(un.map(x => x * x).sum.toDouble)
      w = un.map(x => if (nrm == 0.0) 0L else sqlRound(x.toDouble / nrm * 1000000.0))
    }

    val ss2 = BigInt(base.select((sCol(w) cast "long").as("s"))
      .agg(sum(col("s").cast(dec) * col("s").cast(dec)).as("ss2"))
      .collect().head.getDecimal(0).toBigInteger)
    val w2 = w.map(x => BigInt(x) * BigInt(x)).sum
    val evPpm: Option[Long] =
      if (cv2.toDouble * w2.toDouble == 0.0) None
      else Some(sqlRound(ss2.toDouble / (cv2.toDouble * w2.toDouble) * 1000000.0))
    (0 until dims).map(d => (d.toLong, w(d), evPpm))
      .toDF("dim", "loading_ppm", "ev_ppm")
      .orderBy("dim")
  }
}
