package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{InternalDf, RpLshBandsQ,
  NativeExpressions => N}
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for training-data pipelines, all expressed as
  * shuffling DataFrame jobs (no driver-side materialization → scale to any
  * corpus size; the shuffles are keyed on hashes/bands so they distribute
  * evenly).
  *
  * Families: exact (hash groupBy), MinHash+LSH near-dup, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup. The reference engine has none of
  * these (its only dedup-adjacent op is `np.unique` inside aggregation —
  * muller/core/query/aggregate_vectorized.py:53-54); they are the
  * beyond-parity LLM-pipeline layer this engine adds.
  *
  * Every near-dup path is one SIGNATURE → CANDIDATES → VERIFY skeleton
  * (the candidate-verify framework of set-similarity joins):
  *  1. signature — a per-row feature, computed once per row after a
  *     round-robin exchange over the cores ([[spread]]; the cost is
  *     CPU-per-row, and a single small input file would otherwise run
  *     the whole corpus in one task): a FENCED shingle set
  *     ([[shingles]]), a MinHash signature ([[minHashState]]), a SimHash
  *     fingerprint ([[simHashState]]) or a quantized vector;
  *  2. candidates — per-row (band, bucket) keys ([[minHashBands]],
  *     [[simHashBands]], RP-LSH bands, IVF cells) expanded into id pairs
  *     per bucket ([[expandPairs]]) — never a corpus self-join — or, for
  *     PPJoin, a prefix equi-join; the incrementals join delta buckets
  *     against state buckets ([[crossCandidates]]). Buckets larger than
  *     `maxBucket` drop out (the degenerate-flood guard);
  *  3. verify — the candidate table joined to both sides' features by id
  *     ([[verify]]) and scored exactly: Jaccard ([[jaccardAtLeast]]),
  *     Hamming ([[hamming]]) or scaled-int cosine ([[cosineAtLeast]]).
  *     The verify sides sit below an id-hash exchange (reused by both
  *     join sides, so features are computed once) or, in the
  *     incrementals, in a cached frame.
  * The incrementals ([[minHashLshIncremental]], [[simHashIncremental]])
  * share one survivor body ([[survivors]]) over their state functions.
  */
object Dedup {

  // ---- exact ------------------------------------------------------------

  /** Exact dedup on normalized text: keeps the lowest-id row per
    * fingerprint. One hash-shuffle; at 100 TB this is the cheapest possible
    * dedup (map-side partial min per fingerprint).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("_fp", T.fingerprintMd5(col(textCol)))
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** The deduplicated corpus itself: keeps the lowest-id FULL ROW per
    * normalized-content fingerprint (what a training-data pipeline
    * actually writes back out). One shuffle; the survivor choice is a
    * min-by struct aggregation, no window.
    */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns
    df.withColumn("_fp", T.fingerprintMd5(col(textCol)))
      .groupBy(col("_fp"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("_r"))
      .select(cols.map(c => col(s"_r.$c").as(c)).toIndexedSeq: _*)
  }

  /** Distinct normalized-content fingerprints — the persistable state
    * [[exactIncremental]] checks new batches against (one `_fp` column;
    * at 100 TB this is a few GB of md5s for a billion docs).
    */
  def exactState(df: DataFrame, textCol: String): DataFrame =
    df.select(T.fingerprintMd5(col(textCol)).as("_fp")).distinct()

  /** Incremental EXACT dedup: the surviving FULL ROWS of a new batch
    * against a persisted fingerprint state ([[exactState]]) — the
    * exact-family analogue of [[minHashLshIncremental]]. A delta row
    * survives iff its fingerprint is not in the state and no earlier
    * (smaller-id) delta row carries it. One anti-join plus one
    * min-by-struct aggregation, both on the fingerprint hash; carry the
    * state forward with `state.union(exactState(survivors, textCol))
    * .distinct()`.
    */
  def exactIncremental(state: DataFrame, delta: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val cols = delta.columns
    delta.withColumn("_fp", T.fingerprintMd5(col(textCol)))
      .join(state, Seq("_fp"), "left_anti")
      .groupBy(col("_fp"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("_r"))
      .select(cols.map(c => col(s"_r.$c").as(c)).toIndexedSeq: _*)
  }

  // ---- the signature → candidates → verify skeleton ----------------------

  /** Round-robin over the session's cores (signature stage input). */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Hash-partition on `idCol` (verify side): an exchange ABOVE the
    * per-row features, so both verify join sides (and the bucket
    * branch) reuse it and the features run once per row — only
    * exchanges are reused, a plain self-referenced subtree re-executes
    * per side.
    */
  private def byId(df: DataFrame, idCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col(idCol))

  /** Token `n`-gram shingle set, FENCED (guide §4.4): unfenced, a
    * `size(_sh) > 0` filter pushes the shingle definition below the
    * repartition and re-tokenizes the corpus inside the single-task scan
    * stage (measured 2.2-2.5 s per path on q66 at sf0.1), and
    * CollapseProject inlines it into every consumer. The fence blocks
    * pushdown only from above it: a caller's predicate on the input
    * still reaches the scan.
    */
  private def shingles(textCol: String, n: Int): Column =
    N.fence(T.tokenShingles(col(textCol), n))

  /** (id, band, bucket) rows: one generator over a per-row array of band
    * buckets.
    */
  private def buckets(df: DataFrame, idCol: String,
                      bandCol: Column): DataFrame =
    df.select(col(idCol), posexplode(bandCol).as(Seq("band", "bucket")))

  /** All (lo, hi) id pairs of each (band, bucket) group (lo < hi):
    * group → SORTED id list (sorted inside the aggregate, so `_ids` is an
    * Aggregate output attribute that no optimizer rule can inline into
    * the generator) → one nested-transform explode whose lambdas touch
    * only O(1) attribute lookups. Sorting inside a downstream projection
    * instead would get inlined into the lambda bodies (Catalyst has no
    * CSE in lambdas) and re-sort per inner element — O(m³ log m) per
    * bucket, which detonated on large exact buckets. A grouped id list
    * instead of a bucket self-join: a self-join re-executes the whole
    * signature subtree once per side, one groupBy runs it once.
    *
    * The result carries a MERGE (sort-merge) join hint: the planner
    * sizes a generator's output from its pre-explode child (a few
    * thousand grouped rows), so downstream verify joins would happily
    * BROADCAST a pair table that is really Σ bucket²/2 rows — measured
    * as a driver OOM at 10^6 rows / ~20M pairs in the skew soak. Pair
    * tables are O(pairs) by construction and must never be a hash-build
    * side either (shuffle-hash builds don't spill; the same soak blew
    * the per-task execution pool at ~128 MB/task) — sort-merge spills
    * gracefully on both sides, and the verify sides already sit below
    * an id-hash exchange.
    *
    * Buckets larger than `maxBucket` are DROPPED — silently, with no
    * side output: a bucket that large is a degenerate near-identical
    * flood, and the right tool for it is a content-dedup pass
    * ([[exact]] / [[dedupCorpus]]) run FIRST, which collapses the flood
    * before LSH ever sees it. Callers who need to know whether the guard
    * fired can count oversized buckets from the same banding
    * (`groupBy(band, bucket).count().filter(_ > maxBucket)`).
    */
  private def expandPairs(buckets: DataFrame, idCol: String,
                          maxBucket: Int): DataFrame = {
    val grouped = buckets.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
    val ids = col("_ids")
    val pairs = flatten(transform(sequence(lit(1), size(ids) - 1), i =>
      transform(sequence(i + 1, size(ids)), j =>
        struct(element_at(ids, i).as("_1"), element_at(ids, j).as("_2")))))
    grouped.select(explode(pairs).as("_p"))
      .select(col("_p._1").as(s"${idCol}_a"), col("_p._2").as(s"${idCol}_b"))
      .distinct()
      .hint("merge")
  }

  /** Candidate pairs (`<id>_a` from `stateBuckets`, `<id>_b` from
    * `deltaBuckets`) sharing a (band, bucket): one equi-join, the delta
    * side tiny, so state × state pairs never form. State buckets larger
    * than `maxBucket` drop out first ([[expandPairs]]'s flood guard).
    * Merge hint as in [[expandPairs]]: the pair table's size is
    * estimated from the pre-explode generator children, while its REAL
    * cardinality is the cross-bucket pair count — unhinted, the planner
    * broadcasts or hash-builds it into the verify joins.
    */
  private def crossCandidates(deltaBuckets: DataFrame,
                              stateBuckets: DataFrame, idCol: String,
                              maxBucket: Int): DataFrame = {
    val sb =
      if (maxBucket == Int.MaxValue) stateBuckets
      else stateBuckets.join(
        stateBuckets.groupBy("band", "bucket").count()
          .filter(col("count") > maxBucket).select("band", "bucket"),
        Seq("band", "bucket"), "left_anti")
    deltaBuckets.select(col(idCol).as(s"${idCol}_b"), col("band"),
        col("bucket"))
      .join(sb.select(col(idCol).as(s"${idCol}_a"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(s"${idCol}_a", s"${idCol}_b").distinct().hint("merge")
  }

  /** Joins candidate pairs (`<id>_a`, `<id>_b`) to side `a` and side `b`
    * by id — every side column renamed with an `_a` / `_b` suffix — and
    * keeps the pairs `score` passes.
    */
  private def verify(cand: DataFrame, idCol: String, a: DataFrame,
                     b: DataFrame)(score: DataFrame => DataFrame)
      : DataFrame = {
    def side(df: DataFrame, sfx: String) =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(c + sfx)): _*)
    score(cand.join(side(a, "_a"), s"${idCol}_a")
      .join(side(b, "_b"), s"${idCol}_b"))
  }

  /** Exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) ≥ `t` of the `_sh` shingle
    * sides (with their `_cnt` sizes) from ONE `array_intersect` — shingle
    * arrays are distinct by construction, so no `array_union` pass is
    * needed for |A∪B|.
    *
    * The intersection count lands in its own FENCED projection
    * (`_jint`) so it is evaluated ONCE per candidate pair: unfenced,
    * the `jaccard >= threshold` filter pushes the whole
    * `array_intersect` into its predicate and the two references in
    * the ratio inline it again — q50's verify stage measured 93 s of
    * CPU at sf0.1 (≈4 evaluations per pair); fenced it is one.
    */
  private def jaccardAtLeast(t: Double)(df: DataFrame): DataFrame =
    df.withColumn("_jint", N.fence(
        size(array_intersect(col("_sh_a"), col("_sh_b")))))
      .withColumn("jaccard", col("_jint").cast("double") /
        (col("_cnt_a") + col("_cnt_b") - col("_jint")).cast("double"))
      .filter(col("jaccard") >= t)

  private def hammingAtMost(r: Int)(df: DataFrame): DataFrame =
    df.withColumn("hamming", hamming(col("_fp_a"), col("_fp_b")))
      .filter(col("hamming") <= r)

  /** Scaled-int cosine of the `_qv` sides over their `_nrm` norms.
    * try_divide, the codebase's zero-divisor convention (KnnJoin,
    * TextFunctions): a zero-norm embedding (a failed embedding call
    * quantizes to all zeros) pairs with its LSH twins but must fail the
    * verify as null, not ride IEEE NaN through the filter.
    */
  private def cosineAtLeast(t: Double)(df: DataFrame): DataFrame =
    df.withColumn("cos_sim",
        try_divide(V.dotQ(col("_qv_a"), col("_qv_b")).cast("double"),
          col("_nrm_a") * col("_nrm_b")))
      .filter(col("cos_sim") >= t)

  /** Quantized vector `_qv` with its norm `_nrm`. */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("_nrm", sqrt(V.dotQ(col("_qv"), col("_qv")).cast("double")))

  /** Bounded ring of live incremental-dedup state caches: the
    * incremental paths consume their delta/state frames from several
    * subtrees whose column pruning de-canonicalizes the hoisted exchange
    * copies, so exchange reuse cannot be relied on to run the expensive
    * tokenize+fingerprint lineage once — a persisted InternalRow RDD can
    * (measured on q104: four ~3-8 s fingerprint stages collapse to one
    * per side). The bound keeps a long-lived session from accumulating
    * state-sized caches on local disk.
    */
  private val stateCaches = new InternalDf.CacheRing(8)

  /** The incremental drop rule: a delta row is dropped iff (a) some
    * STATE row shares a band bucket with it and passes `score`, or (b)
    * some EARLIER delta row (smaller id) does — the greedy
    * keep-lowest-id rule, applied pairwise (non-transitive: a delta row
    * dropped against the state still shadows later delta rows that
    * duplicate it, which matches "both copies of an already-seen doc
    * are dropped"). State-side buckets larger than `maxBucket` drop out
    * ([[crossCandidates]]); delta-internal pairs go through
    * [[expandPairs]] with the same cap. Returns surviving delta rows
    * with all their columns.
    *
    * Both state frames are cached once ([[stateCaches]]): the band
    * extraction, the oversized-bucket count and the verify sides each
    * consume them, and each consumer shuffles the small state rows
    * directly to the key it needs. `side` selects a state frame's verify
    * features.
    */
  private def survivors(state: DataFrame, delta: DataFrame,
                        deltaState: DataFrame, idCol: String,
                        bandCol: Column, maxBucket: Int,
                        side: DataFrame => DataFrame,
                        score: DataFrame => DataFrame): DataFrame = {
    val ds = stateCaches.cache(deltaState)
    val ss = stateCaches.cache(state)
    val db = buckets(ds, idCol, bandCol)
    def dropped(cand: DataFrame, aSide: DataFrame): DataFrame =
      verify(cand, idCol, side(aSide), side(ds))(score)
        .select(col(s"${idCol}_b").as(idCol))
    val drops = dropped(
        crossCandidates(db, buckets(ss, idCol, bandCol), idCol, maxBucket), ss)
      .unionByName(dropped(expandPairs(db, idCol, maxBucket), ds))
      .distinct()
    delta.join(drops, Seq(idCol), "left_anti")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** Seeds of the ENGINE-PORTABLE MinHash family (h_i = (a_i·H + b_i)
    * mod p over the md5-32-bit shingle hash H): p is the Mersenne prime
    * 2^31−1 and (a_i, b_i) come from a FIXED-SEED PRNG, so an external
    * SQL oracle interpolates the identical constants (q66). */
  val portableP: Long = 2147483647L
  /** Multiplier of the portable band fold `acc = (acc·131 + v) mod p`. */
  val portableBandMult: Long = 131L
  def portableSeeds(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(4242)
    val a = Array.fill(numHashes)(1L + rnd.nextInt(portableP.toInt - 1))
    val b = Array.fill(numHashes)(rnd.nextInt(portableP.toInt).toLong)
    (a, b)
  }

  /** LSH band buckets of the `_mh` signature: `bands` bands of
    * `numHashes / bands` hashes each; two docs sharing ANY band bucket
    * become a candidate pair. All buckets come out of ONE native
    * expression ([[org.apache.spark.sql.graftnative.MinHashBands]] /
    * `MinHashBandsMod`), so even when CollapseProject inlines the
    * signature into the generator it is evaluated once per row (the
    * per-band `hash(slice(_mh, ...))` formulation this replaces
    * recomputed the signature once PER BAND when inlined, higher-order
    * array functions having no CSE).
    */
  private def minHashBands(numHashes: Int, bands: Int,
                           portable: Boolean): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    if (portable)
      N.minHashBandsMod(col("_mh"), rowsPerBand, portableBandMult, portableP)
    else N.minHashBands(col("_mh"), rowsPerBand)
  }

  /** Full MinHash-LSH near-dup: candidates from [[minHashState]]'s
    * signature bands, verified by exact Jaccard over the same shingle
    * sets, keeping pairs with similarity >= threshold.
    * `portable = true` runs the md5 Carter-Wegman hash family end-to-end,
    * making the WHOLE pipeline — candidates included — reproducible in an
    * external SQL engine (q66's DuckDB oracle replays signature, banding,
    * candidate join and verification bit-for-bit).
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3,
                 threshold: Double = 0.7, portable: Boolean = false,
                 maxBucket: Int = 1000): DataFrame = {
    val bandCol = minHashBands(numHashes, bands, portable)
    val cand = expandPairs(buckets(minHashState(df, textCol, idCol,
      numHashes, shingleN, portable), idCol, bandCol), idCol, maxBucket)
    val sh = byId(spread(df)
      .select(col(idCol), shingles(textCol, shingleN).as("_sh"))
      .withColumn("_cnt", size(col("_sh"))), idCol)
    verify(cand, idCol, sh, sh)(jaccardAtLeast(threshold))
      .select(s"${idCol}_a", s"${idCol}_b", "jaccard")
  }

  /** Per-row dedup STATE — `(id, _sh shingles, _mh signature)` — the
    * persistable artifact [[minHashLshIncremental]] joins new data
    * against, and the signature stage of [[minHashLsh]]. At 100 TB the
    * state is computed once per corpus and carried forward per increment
    * (`state.unionByName(minHashState(survivors, ...))`), so an
    * increment never re-tokenizes or re-hashes the corpus.
    *
    * The default hash family is murmur3 of the (shingle, seed) pair —
    * evaluated per element with no UDF; the whole signature is a single
    * projection. `portable = true` switches to the md5 Carter-Wegman
    * family ([[portableSeeds]]) that a DuckDB/Trino oracle reproduces
    * verbatim — same plan shape, ~the md5 cost of [[simHash60Md5]] per
    * shingle. Rows too short to shingle are left out (they never pair).
    */
  def minHashState(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 32, shingleN: Int = 3,
                   portable: Boolean = false): DataFrame = {
    val sig =
      if (portable) {
        val (a, b) = portableSeeds(numHashes)
        N.minHashSigMod(col("_sh"), a, b, portableP)
      } else N.minHashSig(col("_sh"), numHashes)
    spread(df)
      .withColumn("_sh", shingles(textCol, shingleN))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol), col("_sh"), sig.as("_mh"))
  }

  /** Incremental MinHash-LSH near-dup: the surviving rows of a NEW
    * batch (`delta`) against an existing corpus (`state`, a
    * [[minHashState]] frame) — without ever pairing corpus × corpus.
    * This is the continuous-ingest shape: a daily 1 TB increment
    * against a 100 TB corpus pays O(delta) tokenization, one band
    * equi-join of delta buckets against corpus buckets, and O(delta)
    * internal pairs — never a corpus re-dedup.
    *
    * The drop rule is [[survivors]]' with Jaccard ≥ threshold. Rows too
    * short to shingle never pair and always survive (same contract as
    * [[minHashLsh]]).
    *
    * Returns surviving delta rows with ALL their columns; persist the
    * next state as `state.unionByName(minHashState(survivors, ...))`.
    */
  def minHashLshIncremental(state: DataFrame, delta: DataFrame,
                            textCol: String, idCol: String,
                            numHashes: Int = 32, bands: Int = 8,
                            shingleN: Int = 3, threshold: Double = 0.7,
                            portable: Boolean = false,
                            maxBucket: Int = 1000): DataFrame =
    survivors(state, delta,
      minHashState(delta, textCol, idCol, numHashes, shingleN, portable),
      idCol, minHashBands(numHashes, bands, portable), maxBucket,
      _.select(col(idCol), col("_sh"), size(col("_sh")).as("_cnt")),
      jaccardAtLeast(threshold))

  // ---- exact n-gram Jaccard (the oracle-checkable near-dup path) --------

  /** Exact pairwise n-gram Jaccard via AllPairs/PPJoin PREFIX FILTERING
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    *
    *   1. order every doc's shingles by a CONSISTENT total order — here
    *      `(xxhash64(shingle), shingle)`, computed PER ROW. Any total
    *      order preserves exactness; the classic global-rarity order
    *      only shrinks the candidate set, and at the thresholds this
    *      engine runs (prefix ≈ (1−t)·|A| of the shingles) that pruning
    *      is marginal while its machinery — a corpus-wide frequency
    *      aggregation, a join against it, and a row_number window sort
    *      over every exploded shingle — is three extra shuffles and the
    *      most spill-prone plan in the suite under memory pressure;
    *   2. keep only each doc's PREFIX, the first
    *      `|A| − ceil(t·|A|) + 1` shingles: if J(A,B) ≥ t, the first
    *      common shingle in the order provably sits inside BOTH
    *      prefixes, so joining prefix-to-prefix loses no qualifying
    *      pair. The hash-order prefix is one `array_sort` + `slice`
    *      projection per row — no window, no global pass;
    *   3. candidate pairs (distinct, plus the `t·|a| ≤ |b| ≤ |a|/t`
    *      length filter and optional `blockCol` equality in the join
    *      condition) are verified EXACTLY against the full shingle sets
    *      with one hash-based `array_intersect` per pair.
    *
    * vs the naive shared-shingle self-join (whose join output is
    * Σ_pairs |A∩B| rows): the prefix join emits each candidate pair at
    * most once per shared PREFIX shingle and the per-pair work moves
    * into one O(|A|+|B|) set intersection. Same answer, oracle
    * unchanged.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int, threshold: Double,
                        blockCol: Option[String] = None): DataFrame = {
    val blk = blockCol.toSeq
    // the id exchange feeds all four consumers: both prefix-join sides
    // and both verify sides
    val base = byId(spread(df)
      .select(
        (Seq(col(idCol).as("_id")) ++ blk.map(col)) :+
          shingles(textCol, shingleN).as("_sh"): _*)
      .withColumn("_cnt", size(col("_sh")))
      .filter(col("_cnt") > 0), "_id")
    // per-row prefix under the (hash, shingle) total order; `_pos` is the
    // token's 1-based position in the FULL ordered array (the prefix is
    // its head, so prefix positions ARE full-array positions), feeding
    // the positional filter below
    val ordered = array_sort(transform(col("_sh"),
      s => struct(xxhash64(s).as("h"), s.as("s"))))
    val prefLen = (col("_cnt") - ceil(col("_cnt") * lit(threshold)) +
      lit(1)).cast("int")
    val prefix = base.select(
      (Seq(col("_id"), col("_cnt")) ++ blk.map(col)) :+
        posexplode(transform(slice(ordered, lit(1), prefLen),
          p => p.getField("s"))).as(Seq("_pos0", "_s")): _*)
      .withColumn("_pos", col("_pos0") + 1).drop("_pos0")
    // Positional filter (the "PP" in PPJoin, Xiao et al. §3.2): overlap
    // needed for J ≥ t is O = t/(1+t)·(|A|+|B|); a pair's FIRST common
    // token at positions (i, j) bounds the overlap by
    // 1 + min(|A|−i, |B|−j), so rows failing that bound are pruned in
    // the join itself. Later common-token rows may be pruned spuriously,
    // but the first-common-token row always classifies correctly and any
    // qualifying pair survives through it (candidates are distinct
    // pairs). The 1e-9 slack keeps borderline J = t pairs on the
    // complete side of float rounding — verification is exact anyway.
    val overlapNeeded =
      (col("a._cnt") + col("b._cnt")) * lit(threshold / (1.0 + threshold)) -
        lit(1e-9)
    val joinCond = blk.map(bc => col(s"a.$bc") === col(s"b.$bc"))
      .foldLeft(
        col("a._s") === col("b._s") && col("a._id") < col("b._id") &&
          col("b._cnt") * lit(threshold) <= col("a._cnt") &&
          col("a._cnt") * lit(threshold) <= col("b._cnt") &&
          lit(1) + least(col("a._cnt") - col("a._pos"),
            col("b._cnt") - col("b._pos")) >= overlapNeeded)(_ && _)
    val cand = prefix.as("a").join(prefix.as("b"), joinCond)
      .select(col("a._id").as("_id_a"), col("b._id").as("_id_b"))
      .distinct()
    val side = base.select("_id", "_sh", "_cnt")
    verify(cand, "_id", side, side)(jaccardAtLeast(threshold))
      .select(col("_id_a").as(s"${idCol}_a"), col("_id_b").as(s"${idCol}_b"),
        col("jaccard"))
  }

  // ---- benchmark decontamination ----------------------------------------

  /** Flag corpus docs that share at least `minOverlap` distinct
    * `shingleN`-gram shingles with a benchmark/eval set — the test-set
    * DECONTAMINATION pass every training pipeline runs before export.
    *
    * Scale shape: the benchmark's distinct shingles are SMALL by
    * definition → broadcast; the corpus streams through one scan-side
    * hash join, and only MATCHED (id, shingle) pairs reach the
    * overlap-count shuffle. The corpus itself is never shuffled.
    * Shingle arrays are distinct per doc, so `count(*)` after the join
    * is exactly the distinct-overlap count.
    */
  def decontaminate(df: DataFrame, textCol: String, idCol: String,
                    bench: DataFrame, benchTextCol: String,
                    shingleN: Int, minOverlap: Long): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val cs = df.repartition(par).select(col(idCol),
      explode(T.tokenShingles(col(textCol), shingleN)).as("_s"))
    val bs = broadcast(bench
      .select(explode(T.tokenShingles(col(benchTextCol), shingleN)).as("_s"))
      .distinct())
    cs.join(bs, "_s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("overlap_count"))
      .filter(col("overlap_count") >= minOverlap)
  }

  // ---- SimHash ----------------------------------------------------------

  /** A SimHash fingerprint function together with its width: the
    * pigeonhole bands ([[simHashBands]]) split exactly `bits` bits, so
    * band layout and fingerprint cannot disagree (a 32-bit fingerprint
    * banded as 60 bits leaves its high bands constant 0; the flood guard
    * drops those buckets, fewer than `maxHamming + 1` bands see the
    * differing bits, and pairs are lost silently). [[simHash32]] and
    * [[simHash60Md5]] are the provided instances.
    */
  final case class Fingerprint(bits: Int, of: Column => Column)
      extends (Column => Column) {
    require(bits > 0 && bits <= 64, s"bad fingerprint width $bits")
    def apply(textCol: Column): Column = of(textCol)
  }

  /** 32-bit SimHash over tokens: per bit, sum +1/-1 weighted by token
    * presence; sign → bit. Hamming-close fingerprints = near-dups.
    * Native codegen'd expression (one murmur3 + 32 integer ops per token);
    * [[simHash32Hof]] keeps the pure-HOF twin the equivalence spec pins
    * the semantics to.
    */
  val simHash32: Fingerprint =
    Fingerprint(32, t => N.simHash32(T.tokens(t)))

  /** The original higher-order-function formulation — equivalence oracle
    * for the native expression (bit positions unrolled at plan-build
    * time; one aggregate pass; finish-lambda folds votes → bits). The
    * token hash is pluggable: murmur3 by default (matches the native
    * expression), [[graft.functions.TextFunctions.tokenHashBits]] for the
    * engine-portable variant.
    */
  def simHash32Hof(textCol: Column): Column =
    simHashHof(textCol, 32, hash(_))

  /** Width-parameterized SimHash vote fold (bit positions unrolled at
    * plan-build time; one aggregate pass; finish-lambda folds votes →
    * bits). `bits ≤ 60` keeps every intermediate in a positive long.
    */
  def simHashHof(textCol: Column, bits: Int,
                 tokenHash: Column => Column): Column = {
    require(bits > 0 && bits <= 60, s"bad bits $bits")
    val toks = T.tokens(textCol)
    aggregate(
      toks,
      array_repeat(lit(0), bits),
      (acc, t) => {
        val h = tokenHash(t)
        val bitsArr = array((0 until bits).map(i =>
          when(shiftright(h, i).bitwiseAND(lit(1)) === 1, lit(1))
            .otherwise(lit(-1))): _*)
        zip_with(acc, bitsArr, (a, b) => a + b)
      },
      votes => (0 until bits).map(i =>
        when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _))
  }

  /** Oracle-checkable 60-bit SimHash: same vote fold, md5-derived token
    * hash (reproducible in DuckDB/Trino — see q67's oracle). The wider
    * fingerprint is also the scale path: banded near-dup over b bands
    * needs bits/b-wide bands, and 10-bit bands (32-bit fp, hamming ≤ 2)
    * flood with random collisions past ~10⁶ docs; 20-bit bands do not.
    *
    * Native codegen'd expression (one binary md5 + 60 integer ops per
    * token); [[simHash60Md5Hof]] keeps the interpreted twin the
    * equivalence spec pins the semantics to. NULL text coalesces to
    * fingerprint 0 — the same value a tokenless doc gets, and what the
    * DuckDB oracle's `COALESCE(fp.simhash, 0)` yields for both cases
    * (a NULL/empty text produces no token rows oracle-side).
    */
  val simHash60Md5: Fingerprint =
    Fingerprint(60, t => coalesce(N.simHash60Md5(T.tokens(t)), lit(0L)))

  /** The original md5-HOF formulation — equivalence oracle for the native
    * [[org.apache.spark.sql.graftnative.SimHash60Md5F]] expression (NOT
    * the query path: the interpreted per-token hex-string fold measured
    * ~8× slower on q51).
    */
  def simHash60Md5Hof(textCol: Column): Column =
    simHashHof(textCol, 60, T.tokenHashBits(_, 60))

  /** Hamming distance between two int64 fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All-ones mask of the low `w` bits. `1L << 64` wraps to 1 in JVM
    * shift semantics, so a full-width band (a 64-bit fingerprint with
    * maxHamming = 0) must mask with -1 — the wrapped mask of 0 would
    * silently throw every fingerprint into one bucket, which the flood
    * guard then drops, returning ZERO pairs for an exact-duplicate query.
    */
  private def lowBits(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1

  /** Pigeonhole bit bands of the `_fp` fingerprint: `maxHamming + 1`
    * bands (band b = bits [b·width, ...); the last absorbs the
    * remainder). Two fingerprints within hamming distance r agree
    * EXACTLY on at least one of r+1 bands, so band agreement is a
    * complete candidate filter.
    */
  private def simHashBands(fp: Fingerprint, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming < fp.bits,
      s"maxHamming in [0, ${fp.bits})")
    val bands = maxHamming + 1
    val width = fp.bits / bands
    array((0 until bands).map { b =>
      val lo = b * width
      val w = if (b == bands - 1) fp.bits - lo else width
      shiftright(col("_fp"), lo).bitwiseAND(lit(lowBits(w)))
    }: _*)
  }

  /** SimHash near-dup pairs: candidates from [[simHashBands]] over
    * [[simHashState]]'s fingerprints, verified by exact hamming — with
    * an uncapped `maxBucket`, exactly the pairs within `maxHamming`.
    */
  def simHashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int, maxBucket: Int = 64,
                     fingerprint: Fingerprint = simHash32): DataFrame = {
    val bandCol = simHashBands(fingerprint, maxHamming)
    val fp = byId(simHashState(df, textCol, idCol, fingerprint), idCol)
    verify(expandPairs(buckets(fp, idCol, bandCol), idCol, maxBucket),
        idCol, fp, fp)(hammingAtMost(maxHamming))
      .select(s"${idCol}_a", s"${idCol}_b", "hamming")
  }

  /** Persistable SimHash corpus state: one int64 fingerprint per doc —
    * the SMALLEST of the incremental-dedup states (8 bytes + id; a
    * billion-doc corpus is ~16 GB of state vs the shingle arrays
    * [[minHashState]] must carry for exact-Jaccard verification), and
    * the signature stage of [[simHashNearDup]].
    */
  def simHashState(df: DataFrame, textCol: String, idCol: String,
                   fingerprint: Fingerprint = simHash32): DataFrame =
    spread(df).select(col(idCol), fingerprint(col(textCol)).as("_fp"))

  /** Incremental SimHash near-dup: the surviving rows of a NEW batch
    * against a persisted fingerprint state ([[simHashState]]) — the
    * hamming-distance analogue of [[minHashLshIncremental]], and the
    * cheapest of the incremental family (candidate verification is one
    * `bit_count(xor)` per pair; no shingle arrays move).
    *
    * The drop rule is [[survivors]]' with hamming ≤ `maxHamming`; the
    * candidates are [[simHashNearDup]]'s pigeonhole bands, so with an
    * uncapped `maxBucket` the drop rule is EXACT.
    *
    * Returns surviving delta rows with all their columns; carry the
    * state forward as
    * `state.unionByName(simHashState(survivors, textCol, idCol))`.
    *
    * EMPTY-DOC contract differs from the minHash family by
    * construction: a tokenless (empty/whitespace) doc fingerprints to 0
    * (the documented, oracle-pinned [[simHash60Md5]] coalesce), so all
    * empty docs are mutual hamming-0 duplicates and only the
    * lowest-id one survives — where [[minHashLshIncremental]] cannot
    * shingle such docs and they ALWAYS survive. A NULL text yields a
    * null fingerprint under the default [[simHash32]] (never pairs);
    * [[simHash60Md5]] coalesces NULL to 0 like an empty doc. Pick the
    * family (or pre-filter empties) with that difference in mind when
    * swapping `StreamingDedup` families.
    */
  def simHashIncremental(state: DataFrame, delta: DataFrame,
                         textCol: String, idCol: String,
                         maxHamming: Int, maxBucket: Int = 64,
                         fingerprint: Fingerprint = simHash32): DataFrame =
    survivors(state, delta, simHashState(delta, textCol, idCol, fingerprint),
      idCol, simHashBands(fingerprint, maxHamming), maxBucket,
      _.select(col(idCol), col("_fp")), hammingAtMost(maxHamming))

  // ---- embedding cosine near-dup ----------------------------------------

  /** Random-hyperplane sign bucket of an embedding: bit p = sign of the
    * projection onto a deterministic pseudo-random plane (weights derived
    * from murmur3 of (plane, dim, seed)). Vectors at angle θ disagree on
    * one plane with probability θ/π — the classic SimHash-for-vectors LSH.
    */
  def rpLshBucket(vec: Column, nPlanes: Int, seed: Int): Column = {
    require(nPlanes > 0 && nPlanes <= 63, "nPlanes in (0, 63]")
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        transform(vec, (x, i) =>
          x.cast("double") *
            (hash(lit(p), i, lit(seed)).cast("double") / lit(2.147483648e9))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Label-free embedding near-dup: candidates from `bands` independent
    * random-hyperplane bucket tables (a pair lands together if ALL
    * `planesPerBand` signs agree in at least one band), verified by exact
    * cosine. For near-identical vectors (cos ≥ ~0.95) a handful of bands
    * gives near-perfect recall; the blocked self-join never goes
    * quadratic. This is the self-contained form of [[embeddingNearDup]]
    * for corpora without a natural blocking column.
    */
  def embeddingNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double, planesPerBand: Int = 10,
                          bands: Int = 4, maxBucket: Int = 2000,
                          equalCols: Seq[String] = Nil,
                          portableDim: Int = 0): DataFrame = {
    // Column pruning splits this into two single-purpose branches: the
    // bucket branch computes ONLY `_bkts` (qint/norm pruned away) and the
    // verify branch ONLY `_qv`/`_nrm` (buckets pruned).
    // `equalCols` are extra exact-equality constraints (e.g. a label)
    // verified on the candidate pairs — they ride the verify join instead
    // of becoming a low-cardinality blocking key, so the self-join stays
    // bucketed on the high-cardinality LSH keys.
    // `portableDim > 0` switches banding to the ENGINE-PORTABLE integer
    // path ([[RpLshBandsQ]]): md5-derived plane weights dotted with the
    // qint vector in exact int64, so an external SQL oracle reproduces
    // the buckets bit-for-bit (q69). The vector dimension must be stated
    // because the weight table is built at plan time.
    val bkts =
      if (portableDim > 0)
        N.rpLshBandsQ(V.qint(col(vecCol)), planesPerBand, bands, portableDim,
          RpLshBandsQ.planeWeights(bands, planesPerBand, portableDim))
      else N.rpLshBands(col(vecCol), planesPerBand, bands)
    val prep = spread(df)
      .select((Seq(col(idCol), V.qint(col(vecCol)).as("_qv"),
        bkts.as("_bkts")) ++ equalCols.map(col)): _*)
    val cand = expandPairs(buckets(prep, idCol, col("_bkts")), idCol,
      maxBucket)
    // _nrm is computed BELOW the exchange so the shuffle files carry it and
    // both join sides read it back (a withColumn above the exchange would
    // re-evaluate the dot per side).
    val side = byId(withNorm(prep.select((Seq(col(idCol), col("_qv")) ++
      equalCols.map(c => col(c).as(s"_$c"))): _*)), idCol)
    verify(cand, idCol, side, side) { pairs =>
      cosineAtLeast(threshold)(pairs.filter(
        equalCols.map(c => col(s"_${c}_a") === col(s"_${c}_b"))
          .foldLeft(lit(true))(_ && _)))
    }.select(s"${idCol}_a", s"${idCol}_b", "cos_sim")
  }

  /** SemDeDup-style semantic dedup (Abbas et al., 2023: cluster the
    * embedding space, near-dup WITHIN clusters): IVF cells from
    * [[VectorSearch.ivfBuild]] become the blocking key — `nlist` scales
    * with the corpus, so cells ARE the high-cardinality blocks
    * [[embeddingNearDup]] needs, and the per-cell pair expansion is
    * O(n²/nlist) by construction — IF cells stay balanced. Real embedding
    * corpora have hot clusters (boilerplate, near-empty docs) that Lloyd
    * does not break up, so `maxCell` caps the expansion: cells above it
    * are dropped from pairing, the same skew guard every other dedup path
    * carries (a hot cell is a degenerate near-identical flood — run
    * [[exact]]/[[dedupCorpus]] content dedup first, which collapses it).
    * Returns (id_a, id_b, cos_sim) pairs at or above `threshold`; dedup =
    * drop one side of each pair.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    nlist: Int, threshold: Double,
                    maxCell: Int = 4096): DataFrame = {
    val (assigned, _) =
      VectorSearch.ivfBuild(df, vecCol, idCol, nlist)
    embeddingNearDup(assigned, vecCol, idCol, "cell", threshold, maxCell)
  }

  /** Near-dup pairs within equal-`blockCol` blocks, verified by exact
    * scaled-int cosine. The pair expansion routes through the same
    * bounded grouped shape as every LSH path ([[expandPairs]]): group by
    * block → sorted id list → generator — never a block self-join, and
    * blocks above `maxBlock` are dropped instead of going O(m²). ONLY
    * correct at scale with a HIGH-CARDINALITY block key (an LSH bucket,
    * an IVF cell); for a low-cardinality constraint (a label) use
    * [[embeddingNearDupLsh]] with `equalCols`.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       blockCol: String, threshold: Double,
                       maxBlock: Int = Int.MaxValue): DataFrame = {
    // NULL blocks (e.g. a null vector that got no IVF cell) must not
    // pair: groupBy would collect them into one bucket, unlike the old
    // null-rejecting equi-join.
    val prep = byId(withNorm(spread(df.filter(col(blockCol).isNotNull))
      .select(col(idCol), col(blockCol), V.qint(col(vecCol)).as("_qv"))),
      idCol)
    val cand = expandPairs(prep.select(col(idCol), lit(0).as("band"),
      col(blockCol).as("bucket")), idCol, maxBlock)
    val side = prep.select(col(idCol), col("_qv"), col("_nrm"))
    verify(cand, idCol, side, side)(cosineAtLeast(threshold))
      .select(s"${idCol}_a", s"${idCol}_b", "cos_sim")
  }
}
