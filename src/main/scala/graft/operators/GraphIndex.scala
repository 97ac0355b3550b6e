package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The Spark side of the graph ANN families ([[Hnsw]], [[Vamana]]) — one
  * path for both: shard, build one graph per shard where the data lives,
  * persist it as ordinary rows, route each query to its shards
  * ([[GraphRouting]]), walk locally, and merge a partial top-k. This is
  * REPOSE's shape (a local index per partition and a global top-k
  * merge). A [[GraphIndex.Family]] supplies only what differs between
  * the families: the in-memory graph, its row codec and its parameters.
  * [[KnnJoin]]'s graph entries read the same family values.
  */
private[operators] object GraphIndex {

  /** One graph family. A small SERIALIZABLE value: it rides in the build
    * and walk closures in place of methods on the family's object — a
    * closure calling a def of the (non-serializable) enclosing object
    * captures that object and poisons the task.
    *
    * @tparam G the in-memory graph of one shard
    * @tparam P the search parameters [[searcher]] takes
    */
  trait Family[G, P] extends Serializable {
    /** The persisted columns, `part` and `node` first; `node < 0` rows
      * are sentinels. */
    def schema: StructType
    /** The `node` marker of the routing-centroid sentinel. */
    def centroidNode: Int
    def newGraph(): G
    def insert(g: G, id: Long, v: Array[Float]): Unit
    def isEmpty(g: G): Boolean
    /** One built shard's rows; `centroid` (clustered builds) adds its
      * routing sentinel. */
    def shardRows(shard: Int, g: G, centroid: Option[Array[Float]])
        : Iterator[Row]
    /** Reassemble one shard from its rows (in [[prepared]]'s order) into
      * a per-query walk returning ≤ k (ext_id, l2sq) hits. */
    def searcher(rows: scala.collection.Seq[Row], k: Int, params: P)
        : Array[Float] => Seq[(Long, Double)]
  }

  /** (query_id, ext_id, l2sq): one shard walk's hits, here and in
    * [[KnnJoin]]'s walk. */
  private[operators] val HitSchema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("ext_id", LongType), StructField("l2sq", DoubleType)))

  /** Build per-shard graphs; returns index rows (persist with
    * `.write.partitionBy("part")`). One pass, no shuffle beyond the
    * initial spread; memory bounded by SHARD size, which is bounded by
    * construction: when `numPartitions <= 0` the shard count is derived
    * from the CORPUS SIZE — `ceil(rows / 500)`, capped at 4096
    * ([[GraphRouting.shardsFor]]) — so every build task holds a ~500-row
    * graph no matter the corpus, instead of the O(rows/cores) graph a
    * `defaultParallelism` default would grow into at 100× data. The row
    * count comes from `rowCountHint` when the caller already knows it
    * (the format layer reads it from manifest metadata — no scan) and
    * from one `count()` pass otherwise — noise next to the graph
    * construction it sizes. An explicit `numPartitions > 0` overrides.
    *
    * `clustered = true` assigns rows to shards by nearest coarse k-means
    * centroid instead of round-robin, with a skew cap — a dominant cell
    * splits into avg-sized sub-shards sharing its centroid
    * ([[GraphRouting.assignShardsCapped]]) — and persists each shard's
    * centroid as a sentinel row: the prerequisite for sub-linear
    * shard-routed search (`probeParts` on the searchers). Falls back to
    * the round-robin build when the corpus has no vectors to train on.
    * Null-cell rows (wrong-dim vectors) are dropped — they would break
    * the walk's distance loop anyway.
    */
  def build[G](fam: Family[G, _], df: DataFrame, vecCol: String,
               idCol: String, numPartitions: Int, clustered: Boolean,
               rowCountHint: Long): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(fam.schema)
    val base = df.select(col(idCol).cast("long").as("_gid"),
        col(vecCol).as("_gvec"))
      .filter(col("_gvec").isNotNull)
    val parts =
      if (numPartitions > 0) numPartitions
      else GraphRouting.shardsFor(
        if (rowCountHint >= 0L) rowCountHint else base.count())
    // the round-robin fallback reuses the resolved parts: no second count()
    val (assigned, cents) =
      if (clustered)
        GraphRouting.assignShardsCapped(base, "_gvec", "_gid", parts)
      else (base, Array.empty[(Int, Array[Float])])
    if (cents.isEmpty)
      base.repartition(parts)
        .mapPartitions { rows =>
          val g = fam.newGraph()
          rows.foreach(r => fam.insert(g, r.getLong(0),
            r.getSeq[Float](1).toArray))
          if (fam.isEmpty(g)) Iterator.empty
          else fam.shardRows(org.apache.spark.TaskContext.getPartitionId(),
            g, None)
        }
    else {
      val centMap = cents.toMap
      // hash-partition by shard: every shard's rows land wholly in one
      // task (the colocated invariant); a task may hold several shards,
      // so group and build one graph per shard
      assigned.filter(col("cell").isNotNull)
        .select(col("_gid"), col("_gvec"), col("cell").cast("int"))
        .repartition(parts, col("cell"))
        .mapPartitions { rows =>
          val byShard = mutable.LinkedHashMap[Int, G]()
          rows.foreach { r =>
            val g = byShard.getOrElseUpdate(r.getInt(2), fam.newGraph())
            fam.insert(g, r.getLong(0), r.getSeq[Float](1).toArray)
          }
          byShard.iterator.filterNot(e => fam.isEmpty(e._2)).flatMap {
            case (shard, g) => fam.shardRows(shard, g, Some(centMap(shard)))
          }
        }
    }
  }

  /** The index in the family's column order, `part` as int. Normalizes
    * order and types: `partitionBy` moves `part` to the end on
    * read-back, and the walks read positionally. */
  def prepared(fam: Family[_, _], index: DataFrame): DataFrame = {
    val cols = fam.schema.fieldNames.toSeq
    index.select(col(cols.head).cast("int") +: cols.tail.map(col): _*)
  }

  /** Per-part candidate hits for a broadcast query batch: each subgraph
    * is reassembled ONCE per task and walked once per query — one index
    * pass for N queries (the reference's batched `vector_search`,
    * vector_search_ops.py:84-101). `colocated = true` skips the
    * `repartition(col("part"))` shuffle — correct when each part's rows
    * already sit wholly within one task: a freshly-built index (build
    * emits one part per task) or [[PartitionedIndex.partScans]].
    */
  private def localHits[P](fam: Family[_, P], params: P, index: DataFrame,
                           queries: Seq[(Long, Seq[Float])], k: Int,
                           colocated: Boolean,
                           routing: Option[GraphRouting.Routing])
      : DataFrame = {
    implicit val enc = RowEncoder.encoderFor(HitSchema)
    // the bounded query batch rides in the task closure: the task binary
    // is itself broadcast once per stage AND reclaimed with the stage, so
    // (unlike an explicit sc.broadcast, which lingers until the async
    // ContextCleaner reaps it) repeated batch searches against a
    // long-lived session leave no accumulating driver/executor state
    val qarr = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
    val all = prepared(fam, index)
    // routing prunes shards no query probes BEFORE the scan/shuffle —
    // partition-pruned on a partitionBy("part") read
    val scoped = routing.fold(all)(r => all.filter(r.scanFilter))
    val spread = if (colocated) scoped
      else scoped.repartition(col("part"))
    spread.mapPartitions { rows =>
      // a task may hold several parts after the repartition: regroup
      val byPart = mutable.HashMap[Int, mutable.ArrayBuffer[Row]]()
      rows.foreach(r => byPart.getOrElseUpdate(r.getInt(0),
        mutable.ArrayBuffer[Row]()) += r)
      byPart.iterator.flatMap { case (pid, rs) =>
        val walk = fam.searcher(rs, k, params)
        qarr.iterator
          .filter { case (qid, _) => routing.forall(_.allowed(qid, pid)) }
          .flatMap { case (qid, q) =>
            walk(q).map { case (id, d) => Row(qid, id, d) }
          }
      }
    }
  }

  /** The hits of `queries` over a PRE-BUILT routing, merged. `batch`:
    * the per-query global top-k is the PARTIAL top-k aggregate over the
    * per-shard hit streams (r20) — the rank exchange moves |q|·k rows,
    * never the `parts × k × |queries|` candidate set a window would
    * shuffle — as (query_id, ext_id, l2sq, rank). Otherwise one query's
    * k best (ext_id, l2sq) rows, a TakeOrderedAndProject over
    * `parts × k` rows.
    */
  private def merged[P](fam: Family[_, P], params: P, index: DataFrame,
                        queries: Seq[(Long, Seq[Float])], k: Int,
                        colocated: Boolean,
                        routing: Option[GraphRouting.Routing],
                        batch: Boolean): DataFrame = {
    val hits = localHits(fam, params, index, queries, k, colocated, routing)
    if (batch)
      VectorSearch.topKPerGroup(hits, "query_id", "ext_id", "l2sq",
          asc = true, k)
        .orderBy(col("query_id"), col("rank"))
    else
      hits.select(col("ext_id"), col("l2sq"))
        .orderBy(col("l2sq").asc_nulls_last, col("ext_id").asc)
        .limit(k)
  }

  /** Search an index frame (persisted or freshly built): `probeParts > 0`
    * routes each query by `centroids`, or by the index's own sentinel
    * rows when those are empty ([[GraphRouting.routingFor]]). */
  def search[P](fam: Family[_, P], params: P, index: DataFrame,
                queries: Seq[(Long, Seq[Float])], k: Int,
                colocated: Boolean, probeParts: Int,
                centroids: Array[(Int, Array[Float])],
                batch: Boolean): DataFrame =
    merged(fam, params, index, queries, k, colocated,
      GraphRouting.routingFor(index, queries, probeParts, fam.centroidNode,
        centroids), batch)

  /** Exchange-free search over an index persisted with
    * `partitionBy("part")`: one narrow single-task scan per part
    * directory ([[PartitionedIndex.partScans]]) — the plan has NO
    * Exchange above the index scan — over the UNION of the batch's
    * routed directories, each query gated inside the walk to its own
    * shard set: N queries cost one scan of ≤ |union| shards, not N scans
    * and not the full index. Falls back to a shuffled read if `path` is
    * not a part-partitioned layout (or has more directories than
    * `partScans` plans).
    *
    * `probeParts > 0` routes before any scan is planned, so a p-of-P
    * probe READS p directories: centroids from the caller (the format
    * layer's `routing` artifact) or the index's own sentinels (one
    * pruned pass; an index with no sentinels probes all shards), routes
    * per query, then HEALED against the part directories that actually
    * exist ([[GraphRouting.heal]]) — a query whose entire routed set is
    * missing degrades to probe-all with a WARN, never to an empty
    * result, and healthy queries keep their pruning.
    */
  def searchPersisted[P](fam: Family[_, P], params: P, spark: SparkSession,
                         path: String, queries: Seq[(Long, Seq[Float])],
                         k: Int, probeParts: Int,
                         centroids: Array[(Int, Array[Float])],
                         batch: Boolean): DataFrame = {
    // one read of the whole path, shared by the sentinel routing and the
    // shuffled fallback: its schema is inferred once, and only if used
    lazy val whole = spark.read.parquet(path)
    val routing = GraphRouting // by-name index: scanned only if needed
      .routingFor(whole, queries, probeParts, fam.centroidNode, centroids)
      .map(r => PartitionedIndex.partIds(spark, path)
        .fold(r)(ids => GraphRouting.heal(r, ids, path)))
    val keep: Int => Boolean = routing.fold((_: Int) => true)(r => r.partKept)
    PartitionedIndex.partScans(spark, path, keep = keep)
      // per-query gating still applies (via the routing): the union
      // scan holds shards some queries did not route to
      .map(scan => merged(fam, params, scan, queries, k, colocated = true,
        routing, batch))
      // shuffled read. Caller centroids are not trusted against an
      // arbitrary path here, but a routing derived from THE INDEX'S OWN
      // sentinels is — reuse it instead of paying a second full sentinel
      // scan per call
      .getOrElse {
        if (centroids.isEmpty)
          merged(fam, params, whole, queries, k, colocated = false, routing,
            batch)
        else search(fam, params, whole, queries, k, colocated = false,
          probeParts, Array.empty, batch)
      }
  }
}
