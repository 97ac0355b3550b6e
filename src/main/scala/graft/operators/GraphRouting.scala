package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Query→shard routing for the graph ANN families ([[Hnsw]], [[Vamana]]).
  *
  * Both families build one subgraph per partition and historically probed
  * EVERY shard per query — parallel, but linear in shard count: at 100 TB
  * with 10^4 shards that is 10^4 beam walks for a k=10 answer. Routing
  * makes graph search sub-linear the same way IVF's nprobe does for cells
  * (reference muller/core/vector/algorithms/faiss_index.py:133-272):
  *
  *   - at BUILD time, rows are assigned to shards by nearest coarse
  *     centroid (k-means over a deterministic sample — the exact machinery
  *     [[VectorSearch.ivfBuild]] already uses) instead of round-robin, so
  *     a shard is a region of vector space, not a random sample of it;
  *     each shard's trained centroid is persisted as a sentinel row inside
  *     the shard itself (and, at the format layer, as a tiny `routing`
  *     artifact read without touching the graph);
  *   - at SEARCH time, each query walks only its `p` nearest shards by
  *     centroid distance. Probe-all (`probeParts = 0`) remains the default
  *     and the exactness fallback.
  *
  * Safety property: a shard with NO persisted centroid (an index built
  * before routing existed, or `clustered = false`) is outside
  * [[Routing.routedParts]] and is ALWAYS probed — routing can only prune
  * shards it has provably seen a centroid for, so it never silently drops
  * corpus regions.
  *
  * Why routing needs the clustered build: over round-robin shards every
  * centroid approximates the global mean and top-p selection is
  * uninformative; over k-means shards the query's true neighbors
  * concentrate in the nearest few cells — the IVF argument verbatim.
  *
  * Driver cost: the routing decision is O(|queries| x |shards| x dim)
  * driver-side flops over the collected centroids — the same shape as
  * the reference's faiss IVF coarse quantizer, and bounded because both
  * factors are: the query batch is already driver-held (it rides the
  * task closure), and |shards| tracks build parallelism (10^3-10^4 at
  * 100 TB — a few hundred MB-flops per batch, microseconds to
  * milliseconds). A batch large enough to strain this should be
  * mapPartitions-joined against the index, not routed one closure at a
  * time.
  */
object GraphRouting extends org.apache.spark.internal.Logging {

  /** Target rows per graph shard. Measured, not guessed: RecallSoak's
    * 1M-row run at a fixed 256 shards grew shards to ~4,000 near-tie
    * rows — Vamana's exact re-rank covered 10% of its shard's PQ-tie
    * pool (recall 0.70) and HNSW walks degraded to 0.95 — while
    * ~500-row shards restore probe-all to ~1.0 AND bound the build
    * task's in-heap graph at ~500 vectors regardless of corpus size.
    */
  val DefaultShardRows: Long = 500L

  /** Shard-count ceiling: above this the routing artifact and the
    * per-query top-p selection stop being "tiny" (and a persisted
    * layout outgrows [[PartitionedIndex]]'s union planning), so shards
    * grow past [[DefaultShardRows]] instead — the same capped-nlist
    * economics as faiss IVF sizing (reference faiss_index.py:133-272).
    */
  val MaxShards: Int = 4096

  /** Corpus-derived shard count: `ceil(rows / targetRows)`, clamped to
    * [1, maxShards]. THE default sizing for graph builds — deriving
    * shard count from cores (`defaultParallelism`) makes the per-task
    * in-memory graph O(rows/cores): at 100× data that is a multi-GB
    * build task and an executor OOM, where row-derived sizing keeps
    * every build task at ~targetRows vectors no matter the corpus.
    */
  def shardsFor(rows: Long, targetRows: Long = DefaultShardRows,
                maxShards: Int = MaxShards): Int = {
    val t = math.max(1L, targetRows)
    math.min(maxShards.toLong, math.max(1L, (rows + t - 1) / t)).toInt
  }

  /** A routing decision for one query batch.
    *
    * @param queryParts  per query id, the shard ids its walk may probe
    * @param routedParts every shard id that HAS a centroid; shards outside
    *                    this set are probed unconditionally (see above)
    */
  final case class Routing(queryParts: Map[Long, Set[Int]],
                           routedParts: Set[Int]) {

    /** May `qid` probe `part`? Unrouted parts: always. */
    def allowed(qid: Long, part: Int): Boolean =
      !routedParts.contains(part) ||
        queryParts.get(qid).forall(_.contains(part))

    /** Is `part` probed by ANY query in the batch? (Drives scan pruning:
      * on a `partitionBy("part")` layout this prunes whole directories.)
      */
    def partKept(part: Int): Boolean =
      !routedParts.contains(part) ||
        queryParts.valuesIterator.exists(_.contains(part))

    /** Column form of [[partKept]] — references only `part`, so Catalyst
      * partition-prunes it on a part-partitioned read.
      */
    def scanFilter: Column = {
      val selected = queryParts.valuesIterator.flatten.toSeq.distinct
      val routed = routedParts.toSeq
      val notRouted =
        if (routed.isEmpty) lit(false)
        else not(col("part").isin(routed.map(Int.box): _*))
      if (selected.isEmpty) notRouted
      else col("part").isin(selected.map(Int.box): _*) || notRouted
    }
  }

  /** Assign every row of `df` to one of `parts` coarse k-means shards.
    * Returns (df + int `cell` column — null for null/wrong-dim vectors —
    * and the trained (shardId, centroid) array, empty when `df` has no
    * vectors to sample). Deterministic: [[VectorSearch.ivfSample]] seeds +
    * fixed Lloyd refinement, no RNG.
    */
  def assignShards(df: DataFrame, vecCol: String, idCol: String,
                   parts: Int, refineIters: Int = 1)
      : (DataFrame, Array[(Int, Array[Float])]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val sampled = VectorSearch.ivfSample(df, vecCol, idCol, parts).collect()
    if (sampled.isEmpty) return (df, Array.empty)
    val seeded = sampled.toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }
      .toDF("cell", "_centroid")
    val cents = VectorSearch.ivfRefine(df, vecCol, seeded, refineIters)
    val arr = cents.collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // hand assignCells a LOCAL table rebuilt from the already-collected
    // array: its internal collect is then free, instead of re-running
    // the whole refine lineage (one df scan per iter) a second time
    val centsLocal = arr.toIndexedSeq
      .map { case (c, v) => (c, v.toSeq) }.toDF("cell", "_centroid")
    (VectorSearch.assignCells(df, vecCol, centsLocal), arr)
  }

  /** [[assignShards]] with a SKEW CAP: a k-means cell holding more than
    * ~2× the average shard's rows is split into `ceil(rows/avg)`
    * sub-shards by a secondary hash of the row id, each sub-shard
    * carrying its parent cell's centroid. Without the cap, one dominant
    * cell (duplicate-heavy corpora, a hot embedding region) concentrates
    * most of the corpus into a single build task, which must hold that
    * entire shard's graph in memory — the exact skew failure
    * [[Dedup]]'s `maxBucket` guards block, applied to graph builds.
    *
    * Routing semantics are preserved: sub-shards are distinct shard ids
    * with identical centroids, so a query near the hot region routes to
    * (several of) them at tied distance — jointly they hold exactly what
    * the unsplit cell did, and probe-all is untouched.
    *
    * The assignment is MATERIALIZED (an InternalRow RDD `persist`)
    * before the counting pass: the cap's exact per-cell sizes and the
    * downstream build both consume the corpus-wide argmin (rows × cells
    * × dim — the dominant assignment cost at scale), and without the
    * cache each would re-run it from the scan. The counts must be
    * exact, not estimated from the refine pass: one Lloyd mean-update
    * can move a duplicate-heavy cell WHOLESALE across an exact-centroid
    * tie, so pre-update statistics misplace the very cell the cap
    * exists for. The persistence level is deliberate twice over:
    *  - RDD-level, not Dataset-level — the blocks are reference-tracked,
    *    so Spark's ContextCleaner reclaims them once the caller drops
    *    the built index, with no CacheManager entry to leak or to match
    *    a later plan against; and the lineage is kept, so losing an
    *    executor mid-build recomputes its partitions instead of failing
    *    the job (`localCheckpoint` would trade that away);
    *  - INTERNAL rows ([[org.apache.spark.sql.graftnative.InternalDf]]),
    *    not `df.rdd` — the external-Row boundary boxes every vector
    *    element on write AND re-encodes it on every read (measured at
    *    sf0.1: the Row-RDD form regressed the knn-join build family
    *    ~45%, q132 5.6 → 8.1 s; the InternalRow form pays one UnsafeRow
    *    copy at fill and reads raw).
    *
    * Cache lifetime is BOUNDED, not left to GC alone: the builders
    * return lazy frames, so there is no in-function point to unpersist
    * at, and ContextCleaner only reclaims the blocks after the index
    * frame is GC'd (periodic-GC default: 30 min). One cache is
    * corpus-sized — back-to-back builds in a long-lived session would
    * otherwise accumulate unbounded local-disk blocks — so each call
    * evicts all but the newest [[MaxLiveAssignmentCaches]] caches.
    * Eviction is correctness-neutral (lineage kept: a not-yet-consumed
    * build recomputes its assignment); the bound only makes a second
    * argmin unlikely for builds racing more than
    * [[MaxLiveAssignmentCaches]] deep.
    */
  def assignShardsCapped(df: DataFrame, vecCol: String, idCol: String,
                         parts: Int, refineIters: Int = 1)
      : (DataFrame, Array[(Int, Array[Float])]) = {
    val (assigned0, cents) =
      assignShards(df, vecCol, idCol, parts, refineIters)
    if (cents.isEmpty) return (assigned0, cents)
    val assigned = assignmentCaches.cache(assigned0)
    val counts = assigned.filter(col("cell").isNotNull)
      .groupBy(col("cell").cast("int").as("cell")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val total = counts.values.sum
    val avg = math.max(1L, total / math.max(parts, 1))
    // absolute floor: a cell is only a memory hazard when it dwarfs the
    // ~500-row shard target — without the floor, the modest k-means
    // imbalance of any small corpus (two natural clusters sharing a
    // cell) would trigger splits that buy nothing
    val cap = math.max(2L * avg, 2L * DefaultShardRows)
    if (!counts.values.exists(_ > cap)) return (assigned, cents)
    // dense renumber: cell c becomes sub-shards [base, base+splits)
    var next = 0
    val plan = cents.map(_._1).sorted.map { c =>
      val n = counts.getOrElse(c, 0L)
      val splits = if (n > cap) ((n + avg - 1) / avg).toInt else 1
      val base = next; next += splits
      c -> (base, splits)
    }.toMap
    val baseM = typedlit(plan.map { case (c, (b, _)) => c -> b })
    val splitM = typedlit(plan.map { case (c, (_, s)) => c -> s })
    val cellInt = col("cell").cast("int")
    val sub = when(element_at(splitM, cellInt) > 1,
        pmod(xxhash64(col(idCol)),
          element_at(splitM, cellInt).cast("long")).cast("int"))
      .otherwise(lit(0))
    val reassigned = assigned.withColumn("cell",
      when(cellInt.isNull, lit(null).cast("int"))
        .otherwise(element_at(baseM, cellInt) + sub))
    val centMap = cents.toMap
    val outCents = plan.toSeq.sortBy(_._2._1).flatMap { case (c, (b, s)) =>
      (0 until s).map(j => (b + j, centMap(c)))
    }.toArray
    (reassigned, outCents)
  }

  /** How many capped-assignment caches may stay persisted at once. */
  private[operators] val MaxLiveAssignmentCaches = 4

  /** [[assignShardsCapped]]'s persisted assignment RDDs (see the
    * cache-lifetime note there).
    */
  private val assignmentCaches =
    new org.apache.spark.sql.graftnative.InternalDf.CacheRing(
      MaxLiveAssignmentCaches)

  /** Re-scope a routing to the part directories that actually exist:
    * a query whose ENTIRE routed set maps to missing directories (a
    * routing artifact staler than the graph — e.g. a crash between the
    * graph overwrite and the artifact rewrite) would otherwise be
    * silently gated out of every scanned shard and return zero rows —
    * even inside a batch where other queries succeed. Such queries are
    * marked probe-all over the REAL directories, with a WARN; queries
    * whose routed set still intersects reality keep their pruning.
    */
  def heal(r: Routing, existing: Set[Int], label: String): Routing = {
    val stale = r.queryParts.collect {
      case (qid, sel) if (sel intersect existing).isEmpty => qid
    }
    if (stale.isEmpty) r
    else {
      logWarning(s"graft: WARN routing for $label selected no " +
        s"existing part directory for ${stale.size} of " +
        s"${r.queryParts.size} queries (stale routing artifact?); " +
        "probing all shards for those queries")
      Routing(r.queryParts ++ stale.map(_ -> existing), r.routedParts)
    }
  }

  /** The persisted per-shard centroids of a graph index: its sentinel
    * rows (`node == sentinelNode`), collected. Bounded by the shard
    * count — the same boundedness class as the IVF centroid reads.
    */
  def centroidsOf(index: DataFrame, sentinelNode: Int)
      : Array[(Int, Array[Float])] =
    index.filter(col("node") === lit(sentinelNode))
      .select(col("part").cast("int"), col("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))

  /** Top-`p` LOGICAL CELLS for one query by squared-L2 to the shard
    * centroids, returned as the union of their shard ids. Shards with
    * an IDENTICAL centroid are one logical cell: [[assignShardsCapped]]
    * splits an oversized cell into sub-shards that share the parent's
    * exact centroid array, and the sub-shards jointly hold what the
    * cell did — `p` counts CELLS, like IVF's nprobe, so a routed query
    * probes a split cell whole (across bounded-memory tasks) instead of
    * a hash-arbitrary fraction of it, which would silently cost recall.
    * Ties/order are deterministic (distance, then lowest shard id).
    * Fails loudly on a dimension mismatch: routing a wrong-dimensional
    * query by prefix distance would confidently select arbitrary shards
    * and return plausible-looking garbage, where the exact paths would
    * surface the mismatch.
    */
  def route(cents: Array[(Int, Array[Float])], q: Array[Float],
            p: Int): Set[Int] =
    cents.map { case (part, c) =>
        require(c.length == q.length,
          s"routing dimension mismatch: query has ${q.length} dims, " +
            s"shard $part centroid has ${c.length}")
        var s = 0.0; var i = 0
        while (i < c.length) { val d = q(i) - c(i); s += d * d; i += 1 }
        (s, part, c)
      }
      .groupBy(_._3.toSeq).values.toArray
      .map(g => (g.head._1, g.map(_._2).min, g.map(_._2)))
      .sortBy(t => (t._1, t._2))
      .take(math.max(p, 1))
      .flatMap(_._3).toSet

  /** Routing for a query batch: each query gets its own top-`p` set. */
  def routesFor(cents: Array[(Int, Array[Float])],
                queries: Seq[(Long, Array[Float])], p: Int): Routing =
    Routing(
      queries.map { case (qid, q) => qid -> route(cents, q, p) }.toMap,
      cents.map(_._1).toSet)

  /** Routing for `queries` against caller-supplied `centroids` (e.g. a
    * pinned routing artifact) or, when empty, the index's own sentinel
    * rows; None when `probeParts <= 0` or neither source has centroids
    * (non-clustered build) — probe-all in both cases. ONE shared shape
    * for the HNSW and Vamana searchers (the sentinel node id is their
    * only difference); `index` is by-name so the sentinel scan is paid
    * only when the caller supplied no centroids.
    */
  def routingFor(index: => DataFrame, queries: Seq[(Long, Seq[Float])],
                 probeParts: Int, sentinelNode: Int,
                 centroids: Array[(Int, Array[Float])] = Array.empty)
      : Option[Routing] =
    if (probeParts <= 0) None
    else {
      val cents =
        if (centroids.nonEmpty) centroids
        else centroidsOf(index, sentinelNode)
      if (cents.isEmpty) None
      else Some(routesFor(cents,
        queries.map { case (qid, v) => (qid, v.toArray) }, probeParts))
    }
}
