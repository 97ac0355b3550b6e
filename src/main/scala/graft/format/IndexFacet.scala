package graft.format

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, InvertedIndex, KnnJoin, Vamana}
import graft.operators.{VectorSearch => V}

/** The `meta.json` beside an index's or a saved view's artifacts. Each
  * field is one key, None when the file lacks it: an inverted index
  * records `commit` and `numShards`, a view `query` and `commit`, a
  * vector index `commit`, its build params and, once maintained,
  * `rebuilds`. On disk every value is a JSON string.
  */
private[format] final case class IndexMeta(
    commit: Option[String] = None, numShards: Option[Int] = None,
    query: Option[String] = None, tpe: Option[String] = None,
    nlist: Option[Int] = None, pqM: Option[Int] = None,
    pqK: Option[Int] = None, graphDegree: Option[Int] = None,
    buildBeam: Option[Int] = None, metric: Option[String] = None,
    rebuilds: Option[Int] = None) {

  /** The recorded keys, as written: each field under its own name, but
    * `tpe` under `type`. */
  def keys: Seq[(String, String)] = productElementNames.toSeq
    .map(n => if (n == "tpe") "type" else n).zip(productIterator.toSeq)
    .collect { case (k, Some(v)) => k -> v.toString }
}

/** The one codec of index and view metas: a public index entry point
  * reads its meta once, and every write replaces the file atomically. */
private[format] object IndexMeta {
  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  /** Meta reads performed (test instrumentation, like
    * [[CommitLog.commitReads]]). */
  val reads = new java.util.concurrent.atomic.AtomicLong

  private def file(dir: Path) = new Path(dir, "meta.json")

  /** The meta in `dir`, or None when there is none. */
  def read(spark: SparkSession, dir: Path): Option[IndexMeta] = {
    reads.incrementAndGet()
    val f = CommitLog.fs(spark, dir.toString)
    Option.when(f.exists(file(dir)))(org.json4s.jackson.JsonMethods
        .parse(CommitLog.readString(f, file(dir))).extract[Map[String, String]])
      .map { kv =>
        def int(k: String) = kv.get(k).map(_.toInt)
        IndexMeta(kv.get("commit"), int("numShards"), kv.get("query"),
          kv.get("type"), int("nlist"), int("pqM"), int("pqK"),
          int("graphDegree"), int("buildBeam"), kv.get("metric"),
          int("rebuilds"))
      }
  }

  def write(spark: SparkSession, dir: Path, m: IndexMeta): Unit =
    CommitLog.atomicReplace(spark, file(dir), org.json4s.jackson
      .Serialization.write(scala.collection.immutable.ListMap(m.keys: _*)))
}

/** The index facet of [[GraftDataset]]: saved views, the inverted text
  * index and the vector indexes, from build through search to
  * maintenance (reference mixins/query.py create_index_*,
  * view_operations.py and vector_search_ops.py:18-141). Every public
  * entry point reads its index's [[IndexMeta]] at most once. Each
  * vector-index type is one [[VectorKind]] in one table; HNSW and
  * DISKANN are one graph kind that takes either family's calls.
  */
trait IndexFacet { self: GraftDataset =>
  import GraftDataset.UuidCol
  import IndexFacet._

  private def readMeta(dir: Path): Option[IndexMeta] = IndexMeta.read(spark, dir)

  private def fresh(meta: Option[IndexMeta]): Boolean =
    meta.flatMap(_.commit) == headId

  /** Write `meta` bound to the current commit. */
  private def bind(dir: Path, meta: IndexMeta): Unit =
    IndexMeta.write(spark, dir, meta.copy(commit = Some(headId.getOrElse(""))))

  // ---- views (reference save_view/load_view, view_operations.py) ----------

  private def viewsDir = new Path(root, "_graft/views")

  /** Persist the row set matching `cond` as a named view: a parquet of
    * matching uuids + the predicate text, bound to the current commit.
    */
  def saveView(name: String, cond: Column): Unit = {
    // views pin to a commit; a dirty snapshot would record uuids the
    // pinned commit doesn't contain (silently empty view after commit)
    require(!dirty, "commit before saving a view")
    val dir = new Path(viewsDir, name)
    snapshotWithUuid().filter(cond).select(UuidCol)
      .write.mode("overwrite").parquet(new Path(dir, "ids").toString)
    bind(dir, IndexMeta(query = Some(cond.toString)))
  }

  /** Materialize a saved view as a DataFrame: semi-join the saved uuid
    * set against the snapshot AT THE COMMIT the view was saved on — the
    * reference pins views to the source dataset version
    * (muller/core/view/view_operations.py:106-234), so later updates,
    * deletes, or appends never change a saved view's contents. Views
    * saved before the commit field existed fall back to the live snapshot.
    */
  def loadView(name: String): DataFrame = {
    val dir = new Path(viewsDir, name)
    val ids = spark.read.parquet(new Path(dir, "ids").toString)
    val pinned = readMeta(dir).flatMap(_.commit).filter(_.nonEmpty)
      .map(snapshotAtWithUuid)
      .getOrElse(snapshotWithUuid())
    pinned.join(ids, Seq(UuidCol), "left_semi").drop(UuidCol)
  }

  def views: Seq[String] = {
    val f = CommitLog.fs(spark, root)
    if (!f.exists(viewsDir)) Seq.empty
    else f.listStatus(viewsDir).toSeq.map(_.getPath.getName).sorted
  }

  def deleteView(name: String): Unit = {
    CommitLog.fs(spark, root).delete(new Path(viewsDir, name), true)
    ()
  }

  /** The commits saved views and persisted indexes are bound to. */
  private[format] def metaPins: Seq[String] =
    views.flatMap(v => readMeta(new Path(viewsDir, v)).flatMap(_.commit))
      .filter(_.nonEmpty) ++ indexes.flatMap { case (kind, column) =>
        readMeta(indexDir(kind, column)).flatMap(_.commit) }

  // ---- index lifecycle (reference mixins/query.py create_index_*) ---------

  private def indexDir(kind: String, column: String) =
    new Path(root, s"_graft/indexes/$kind/$column")

  /** Build + persist the inverted text index for `column`, bound to the
    * current commit (reference `create_index_vectorized`; staleness is
    * detected by comparing the recorded commit id, like
    * filter_vectorized.py:476-492).
    */
  def createIndexVectorized(column: String, numShards: Int = 16): Unit = {
    require(!dirty, "commit before indexing")
    val dir = indexDir("inverted", column)
    val idx = InvertedIndex.build(snapshotWithUuid(), column, UuidCol, numShards)
    InvertedIndex.save(idx, new Path(dir, "postings").toString)
    bind(dir, IndexMeta(numShards = Some(numShards)))
  }

  /** True if the persisted index for `column` matches HEAD. */
  def indexFresh(kind: String, column: String): Boolean =
    fresh(readMeta(indexDir(kind, column)))

  /** Per-term document counts straight from the inverted index's
    * posting table — the reference's row-aggregate "fast path"
    * (aggregate.py:33-52: grouped `count(*)` over an indexed
    * class-label answered from posting sizes, never the rows)
    * generalized into an explicit vocabulary-statistics op: the scan is
    * over the index (vocabulary-sized), not the corpus text, which at
    * 100 TB is the difference between a metadata-shaped job and a full
    * tokenization pass. Counts are distinct documents per term under
    * the index's own tokenizer contract. Requires a fresh index.
    */
  def termCounts(column: String): DataFrame = {
    require(indexFresh("inverted", column),
      s"no fresh inverted index for $column (create/update it first)")
    val postings = InvertedIndex.load(spark,
      new Path(indexDir("inverted", column), "postings").toString)
    postings.groupBy("term").agg(count_distinct(col("id")).as("n_docs"))
  }

  /** New base files since the index's commit — or None if the table saw
    * in-place changes (updates/tombstones/renames) that an append-only
    * delta cannot express, which forces a full rebuild.
    */
  private def appendOnlyDelta(indexedAt: String): Option[Vector[String]] = {
    val old = TableState.of(CommitLog.readCommit(spark, root, indexedAt))
    st.since(old).filter(d => d.replaced.isEmpty && d.mutations.isEmpty &&
      old.renames == st.renames).map(_.appended)
  }

  /** The rows of base entries `files` alone (an index delta). */
  private def rowsOf(files: Vector[String]): DataFrame =
    snapshotWithUuid(st.copy(files = files, updates = Vector.empty,
      tombstones = Vector.empty))

  /** Incremental inverted-index maintenance (reference `update_index`,
    * inverted_index_vectorized.py:397-445: tokenize ONLY the appended
    * rows and merge shards). Appends since the indexed commit are
    * tokenized and their postings appended to the same shard-partitioned
    * parquet; deletions need no posting cleanup because search semi-joins
    * back to the live snapshot. In-place updates/renames fall back to a
    * full rebuild (the reference would serve a stale index and warn).
    */
  def updateIndexVectorized(column: String, numShards: Int = 16): Unit = {
    require(!dirty, "commit before indexing")
    val dir = indexDir("inverted", column)
    val meta = readMeta(dir)
    meta.flatMap(_.commit).flatMap(appendOnlyDelta) match {
      case Some(newFiles) =>
        // the delta MUST shard with the PERSISTED count: mixing shard
        // functions in one posting table silently mis-routes query-time
        // partition pruning (`numShards` only applies on a full rebuild)
        val persistedShards = meta.flatMap(_.numShards).getOrElse(numShards)
        if (newFiles.nonEmpty) {
          val postingsPath = new Path(dir, "postings").toString
          InvertedIndex.build(rowsOf(newFiles), column, UuidCol, persistedShards)
            .write.mode("append").partitionBy("shard")
            .parquet(postingsPath)
          // refresh the stats sidecar so query-time broadcast bounds stay
          // truthful after the append (one agg at maintenance time)
          InvertedIndex.saveStats(spark, postingsPath,
            InvertedIndex.computeStats(InvertedIndex.load(spark, postingsPath)))
        }
        bind(dir, IndexMeta(numShards = Some(persistedShards)))
      case None => createIndexVectorized(column, numShards)
    }
  }

  /** Indexed CONTAINS search routed through the posting table
    * (reference indexed fuzzy/complex match). Falls back to the scan
    * predicate when the index is stale — same answer, different plan
    * (the reference WARNS and searches the stale index instead).
    */
  def textSearch(column: String, query: String): DataFrame = {
    val dir = indexDir("inverted", column)
    val meta = readMeta(dir)
    if (fresh(meta)) {
      val postingsPath = new Path(dir, "postings").toString
      val idx = InvertedIndex.load(spark, postingsPath)
      // shard routing from the persisted shard count -> partition pruning;
      // broadcast decision from the stats sidecar -> no planning-time job
      val stats = InvertedIndex.loadStats(spark, postingsPath)
      InvertedIndex.search(snapshotWithUuid(), UuidCol, idx, query,
        meta.flatMap(_.numShards), stats = stats).drop(UuidCol)
    } else
      toDF.filter(graft.operators.FilterVectorized.containsPredicate(
        col(column), query))
  }

  /** Filter by a SELF-ROUTING indexed predicate: with the
    * `IndexedContainsRewrite` optimizer rule installed (GraftExtensions
    * .install / spark.sql.extensions) the predicate is rewritten into a
    * broadcast semi-join against the shard-pruned posting table; without
    * it, the same predicate evaluates as a scan. Plan changes, answers
    * don't — the Catalyst-rule form of the reference's scan-vs-index
    * routing (filter_vectorized.py:211-279).
    */
  def filterIndexed(column: String, query: String): DataFrame = {
    val dir = indexDir("inverted", column)
    val meta = readMeta(dir)
    require(fresh(meta), s"inverted index for $column is stale or missing")
    snapshotWithUuid().filter(
      org.apache.spark.sql.graftnative.GraftIndexedContains(col(column),
        query, new Path(dir, "postings").toString,
        meta.flatMap(_.numShards).getOrElse(16)))
      .drop(UuidCol)
  }

  /** Compact the posting files of an inverted index (reference
    * `optimize_index`, inverted_index_vectorized.py:313-394: merge shard
    * fragments): incremental updates append small files per shard; this
    * rewrites each shard partition into one well-sized file. Results are
    * identical — only file layout changes.
    */
  def optimizeIndex(column: String): Unit =
    rewritePostings(column, None)

  /** Re-shard an inverted index to a new shard count (reference
    * `reshard_index`): recompute `shard = xxhash64(term) % n` and rewrite.
    */
  def reshardIndex(column: String, newNumShards: Int): Unit =
    rewritePostings(column, Some(newNumShards))

  private def rewritePostings(column: String, newShards: Option[Int]): Unit = {
    val dir = indexDir("inverted", column)
    val f = CommitLog.fs(spark, root)
    val postings = new Path(dir, "postings")
    require(f.exists(postings), s"no inverted index for $column")
    val cur = spark.read.parquet(postings.toString)
    val rewritten = newShards match {
      case Some(n) => cur.withColumn("shard",
        pmod(xxhash64(col("term")), lit(n)).cast("int"))
      case None => cur
    }
    // capture meta BEFORE rewriting: layout maintenance must preserve the
    // index's commit binding (rebinding to HEAD would fake freshness);
    // term counts are unchanged by optimize/reshard, so the stats sidecar
    // is carried over rather than recomputed
    val meta = readMeta(dir)
    val stats = InvertedIndex.loadStats(spark, postings.toString)
    val tmp = new Path(dir, "postings_tmp")
    rewritten
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp.toString)
    f.delete(postings, true)
    f.rename(tmp, postings)
    stats.foreach(st => InvertedIndex.saveStats(spark, postings.toString, st))
    IndexMeta.write(spark, dir, IndexMeta(meta.flatMap(_.commit).orElse(
      Some("")), newShards.orElse(meta.flatMap(_.numShards))))
  }

  // ---- vector indexes ------------------------------------------------------

  /** The vector-index types, by the name their meta records. */
  private lazy val kinds = Seq(Flat, Ivf, IvfPq, HnswGraph, VamanaGraph)

  /** The kind of an index type name. */
  private def kindOf(tpe: String): VectorKind = kinds.find(_.name == tpe)
    .getOrElse(throw new IllegalArgumentException(
      s"bad index type $tpe (${kinds.map(_.name).mkString(" | ")})"))

  /** The build params `meta` records; keys an older index lacks take
    * their defaults (IVF when it predates the `type` key), `nlist` the
    * caller's. */
  private def paramsOf(meta: IndexMeta, nlist: Int): VectorParams =
    VectorParams(meta.tpe.getOrElse(Ivf.name), meta.nlist.getOrElse(nlist),
      meta.pqM.getOrElse(0), meta.pqK.getOrElse(16),
      meta.graphDegree.getOrElse(16), meta.buildBeam.getOrElse(100),
      meta.metric.getOrElse("l2"))

  /** Build + persist a vector index for an embedding `column`
    * (reference `create_vector_index(tensor, index_name, index_type,
    * metric, **params)`, vector_search_ops.py:18-48; the four index
    * types utils.py:31-42; artifacts live beside the data keyed by
    * commit, vector/artifact_store.py). `indexType`:
    *   - `IVF` (default) — centroid cells, exact scoring in probed cells
    *   - `IVFPQ` — cells + product-quantization codes: search scans ADC
    *     lookups in the probed cells and exact-re-ranks
    *     `refineFactor·k` (the reference's faiss IVFPQ + refine_factor)
    *   - `HNSW` — per-partition navigable-small-world graphs
    *   - `DISKANN` — per-partition Vamana graphs, PQ walk + re-rank
    *   - `FLAT` — no artifacts; search is exact brute force
    * Build params are recorded in the index meta so incremental
    * [[updateVectorIndex]] reuses them.
    */
  def createVectorIndex(column: String, nlist: Int = 64,
                        indexType: String = Ivf.name, pqM: Int = 0,
                        pqK: Int = 16, graphDegree: Int = 32,
                        buildBeam: Int = 100,
                        metric: String = "l2"): Unit =
    // graphDegree default 32 (faiss's HNSW M default): clustered shards
    // hold a query's near-tie neighborhood whole, and RecallSoak measured
    // degree-16 graphs navigating such shards at 0.93 recall@10 vs 1.00
    // at degree 32 (m is THE knob — efConstruction/ef barely move it)
    buildVectorIndex(column, VectorParams(indexType.toUpperCase, nlist, pqM,
      pqK, graphDegree, buildBeam, metric), rebuilds = None)

  /** Build over the live snapshot and write the meta; `rebuilds` is the
    * maintenance counter (None on a user's create). */
  private def buildVectorIndex(column: String, p: VectorParams,
                               rebuilds: Option[Int]): Unit = {
    require(!dirty, "commit before indexing")
    // resolved before anything is deleted: a typo in the type must
    // refuse, not destroy the column's working index first
    val kind = kindOf(p.tpe)
    unloadVectorIndex(column) // a pinned copy would go stale on overwrite
    val dir = indexDir("vector", column)
    // a re-create with a DIFFERENT type must not leave the old type's
    // artifacts behind (search routes by meta type, but mixed leftovers
    // would be pinned by loadVectorIndex and mislead listIndexes)
    CommitLog.fs(spark, root).delete(dir, true)
    val snap = snapshotWithUuid()
    kind.build(snap, Site(column, p))
    bind(dir, p.meta(rebuilds))
  }

  /** Incremental vector-index maintenance (reference
    * vector_search_ops.py:51-82: diff the tensor between the index's
    * commit and HEAD, apply appends), dispatched by the index's
    * recorded type with its recorded build params:
    *   - IVF/IVFPQ: new rows are assigned to the EXISTING centroids
    *     (and PQ-encoded with the frozen codebooks) and appended to the
    *     cell-partitioned table;
    *   - HNSW/DISKANN: new rows get fresh graph SHARDS (part ids after
    *     the existing ones) — search already probes every shard, so
    *     adding shards is the sharded-subgraph meaning of "apply
    *     appends to the index";
    *   - FLAT: rebind the commit (search reads the live snapshot).
    * Non-append changes rebuild with the recorded params. A rebuild
    * takes `nlist` when the meta never recorded one — the CALLER's
    * value, not a hardcoded 64, or `updateVectorIndex(column, nlist =
    * 256)`'s rebuild path silently builds a 64-cell index.
    */
  def updateVectorIndex(column: String, nlist: Int = 64,
                        rebuildThreshold: Double = 0.5): Unit = {
    require(!dirty, "commit before indexing")
    unloadVectorIndex(column) // a pinned copy would go stale on append
    val dir = indexDir("vector", column)
    val meta = readMeta(dir)
    val p = paramsOf(meta.getOrElse(IndexMeta()), nlist)
    val kind = kindOf(p.tpe)
    val rebuilds = meta.flatMap(_.rebuilds).getOrElse(0)
    def keep(): Unit = bind(dir, p.meta(Some(rebuilds)))
    // writes its own meta (bumped rebuilds counter)
    def rebuild(): Unit = buildVectorIndex(column, p, Some(rebuilds + 1))
    if (kind == Flat) keep()
    else meta.flatMap(_.commit).flatMap(appendOnlyDelta) match {
      case Some(newFiles) if newFiles.isEmpty => keep() // nothing to scan
      case Some(newFiles) =>
        // Delta-fraction guard: every append FRAGMENTS the index (new
        // graph shards that each probe pays for; cells assigned to
        // centroids that drift from the data). Past the threshold the
        // compounding probe cost exceeds one rebuild's, so rebuild —
        // the same economics as the inverted index's optimize path.
        // Row counts come from parquet FOOTERS (driver-side metadata,
        // parallel, no Spark job) — a threshold check must not cost a
        // merge-on-read table scan at 100 TB. Footer counts include
        // base rows tombstoned BEFORE indexing (appendOnlyDelta rules
        // out new tombstones since), which only UNDER-estimates the
        // delta fraction — fine for a 0.5 heuristic.
        val deltaRows = footerRows(newFiles)
        val indexedRows = footerRows(st.files.filterNot(newFiles.toSet))
        if (indexedRows > 0 && deltaRows > rebuildThreshold * indexedRows)
          rebuild()
        else {
          kind.appendDelta(rowsOf(newFiles), Site(column, p), deltaRows)
          keep()
        }
      case None => rebuild()
    }
  }

  /** Compact an append-fragmented vector index: rebuild over the live
    * snapshot with the index's recorded params (the vector-family
    * analogue of [[optimizeIndex]] for the inverted index; reference
    * regenerates indexes wholesale, vector_search_ops.py:51-82).
    *
    * Why it exists: [[updateVectorIndex]]'s append path gives graph
    * indexes NEW subgraph shards per append — search probes every
    * shard, so N small appends degrade latency and recall forever —
    * and assigns IVF/IVFPQ rows to centroids the data has drifted away
    * from. One rebuild restores build-parallelism part counts and
    * data-fitted centroids; the `rebuilds` meta counter records each
    * maintenance rebuild (whether from here or the update path's
    * delta-fraction threshold). FLAT has no artifacts to compact — the
    * call just rebinds the commit.
    */
  def optimizeVectorIndex(column: String): Unit = {
    require(!dirty, "commit before indexing")
    unloadVectorIndex(column)
    val dir = indexDir("vector", column)
    val meta = readMeta(dir)
    require(meta.isDefined,
      s"no vector index for '$column' to optimize; createVectorIndex first")
    val p = paramsOf(meta.get, 64)
    val rebuilds = meta.get.rebuilds.getOrElse(0)
    if (kindOf(p.tpe) == Flat) bind(dir, p.meta(Some(rebuilds)))
    else buildVectorIndex(column, p, Some(rebuilds + 1))
  }

  /** Maintenance metadata for the persisted vector index on `column`:
    * build params, bound commit, and the rebuild counter. */
  def vectorIndexInfo(column: String): Map[String, String] = {
    val meta = readMeta(indexDir("vector", column))
    require(meta.isDefined,
      s"no vector index for '$column'; createVectorIndex first")
    paramsOf(meta.get, 64).meta(Some(meta.get.rebuilds.getOrElse(0)))
      .copy(commit = meta.get.commit).keys.toMap
  }

  /** The embedding dimensionality, from the first non-null vector. */
  private def vectorDim(df: DataFrame, column: String): Int =
    df.filter(col(column).isNotNull).select(col(column)).head(1) match {
      case Array(r) => r.getSeq[Float](0).length
      case _ => throw new IllegalArgumentException(
        s"cannot build a vector index: column '$column' has no non-null " +
          "vectors to infer the dimensionality from")
    }

  /** PQ subspaces: the recorded count, or one derived from `df`'s
    * dimensionality when the build left it at 0. */
  private def subspaces(p: VectorParams, df: DataFrame, column: String): Int =
    if (p.pqM > 0) p.pqM else V.autoSubspaces(vectorDim(df, column))

  /** Extract the graph index's per-shard routing centroids (its
    * centroid-sentinel rows) into a tiny standalone `routing` artifact,
    * so a routed search reads |shards| rows — never the graph — to pick
    * its probe set. Re-derived after every incremental append (delta
    * shards bring their own sentinels); a search on an index whose
    * routing artifact is missing probes all shards.
    */
  private def writeRoutingArtifact(s: Site, sentinelNode: Int): Unit =
    spark.read.parquet(s.path("graph"))
      .filter(col("node") === lit(sentinelNode))
      .select(col("part").cast("int").as("part"), col("vec"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s.path("routing"))

  private def writePqModel(path: String, model: V.PqModel): Unit = {
    import spark.implicits._
    Seq((model.m, model.k, model.dim, model.codebooks.toSeq))
      .toDF("m", "k", "dim", "codebooks")
      .write.mode("overwrite").parquet(path)
  }

  private def readPqModel(df: DataFrame): V.PqModel = {
    val r = df.select("m", "k", "dim", "codebooks").head()
    V.PqModel(r.getInt(0), r.getInt(1), r.getInt(2),
      r.getSeq[Float](3).toArray)
  }

  /** Write (or append) cell-partitioned IVF rows. */
  private def writeCells(rows: DataFrame, s: Site, mode: String): Unit =
    rows.write.mode(mode).partitionBy("cell").parquet(s.path("assigned"))

  // ---- vector index lifecycle (reference vector_search_ops.py:104-141:
  // load = pin in memory, unload = release, drop = delete permanently) ----

  /** Loaded-index registry: column → artifact name → DataFrame, each
    * persisted in executor memory+disk so repeated searches skip the
    * parquet scan — the Spark-native meaning of the reference's "load
    * index into memory". Which artifacts exist depends on the index
    * type (IVF: assigned+centroids; IVFPQ: +pqmodel; graphs: graph;
    * FLAT: none).
    */
  private val loadedVector =
    scala.collection.mutable.Map[String, Map[String, DataFrame]]()

  private val VectorArtifacts =
    Seq("assigned", "centroids", "graph", "pqmodel", "routing")

  def loadVectorIndex(column: String): Unit = {
    val s = site(column)
    if (!loadedVector.contains(column)) {
      val f = CommitLog.fs(spark, root)
      loadedVector(column) = VectorArtifacts
        .filter(n => f.exists(new Path(s.dir, n)))
        .map(n => n -> spark.read.parquet(s.path(n))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        .toMap
    }
  }

  def unloadVectorIndex(column: String): Unit =
    loadedVector.remove(column).foreach(_.values.foreach { df =>
      df.unpersist(); ()
    })

  /** Drop the persisted index permanently (and release any loaded copy). */
  def dropVectorIndex(column: String): Unit = {
    unloadVectorIndex(column)
    CommitLog.fs(spark, root).delete(indexDir("vector", column), true)
    ()
  }

  def isVectorIndexLoaded(column: String): Boolean =
    loadedVector.contains(column)

  /** Enumerate persisted indexes as (kind, column, fresh). */
  def listIndexes: Seq[(String, String, Boolean)] =
    indexes.map { case (kind, column) =>
      (kind, column, indexFresh(kind, column)) }

  /** Persisted indexes as (kind, column), in name order. */
  private def indexes: Seq[(String, String)] = {
    val f = CommitLog.fs(spark, root)
    val base = new Path(root, "_graft/indexes")
    if (!f.exists(base)) Seq.empty
    else for {
      kindDir <- f.listStatus(base).toSeq.sortBy(_.getPath.getName)
      colDir <- f.listStatus(kindDir.getPath).toSeq.sortBy(_.getPath.getName)
    } yield (kindDir.getPath.getName, colDir.getPath.getName)
  }

  /** The fresh vector index on `column` used with these knobs, or the
    * refusal of a stale or missing index or of a knob it cannot take. */
  private def site(column: String, metric: String = "", k: Int = 0,
                   nprobe: Int = 0, refineFactor: Int = 0,
                   exact: Boolean = false, probeShards: Int = 0): Site = {
    val meta = readMeta(indexDir("vector", column))
    require(fresh(meta),
      s"vector index for $column is stale or missing; createVectorIndex first")
    val s = Site(column, paramsOf(meta.get, 64), metric, k, nprobe,
      refineFactor, exact, probeShards)
    // graph-only knob, guarded like tieBreakCols: silently ignoring it
    // would let an IVF caller believe they tuned routing (IVF's probe
    // knob is nprobe)
    require(probeShards == 0 || s.kind.isInstanceOf[GraphKind],
      s"probeShards applies to HNSW/DISKANN indexes only (this is ${s.p.tpe}; " +
        "IVF/IVFPQ route by nprobe)")
    s
  }

  /** The vector index on `column` built with `p`, and the knobs of the
    * search or join using it. */
  private final case class Site(column: String, p: VectorParams,
      metric: String = "", k: Int = 0, nprobe: Int = 0,
      refineFactor: Int = 0, exact: Boolean = false, probeShards: Int = 0) {
    val dir: Path = indexDir("vector", column)
    def kind: VectorKind = kindOf(p.tpe)
    def built: IndexMetric = IndexMetric(p.metric)
    def path(name: String): String = new Path(dir, name).toString
    def pinned: Boolean = isVectorIndexLoaded(column)
    /** A graph walk's beam, and the exact re-rank pool. */
    def beam: Int = math.max(64, refineFactor * k)
    def rerank: Int = refineFactor * k
    def art(name: String): DataFrame =
      loadedVector.get(column).flatMap(_.get(name))
        .getOrElse(spark.read.parquet(path(name)))
    // graph families route from the tiny `routing` artifact (pinned in
    // memory after loadVectorIndex) — never from a sentinel scan of the
    // graph itself; a def so the non-graph types never read it
    def routing: Array[(Int, Array[Float])] =
      if (probeShards <= 0) Array.empty
      else loadedVector.get(column).flatMap(_.get("routing")).orElse(
          Option.when(CommitLog.fs(spark, root).exists(new Path(dir, "routing")))(
            spark.read.parquet(path("routing"))))
        .map(_.select(col("part"), col("vec")).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)))
        .getOrElse(Array.empty)
    /** Shard list for a graph join from the persisted layout's `part=N`
      * directory listing — ground truth for the same dir the join
      * reads, and zero index scans (the way the driver-batch persisted
      * reads dir-prune). None when the index is pinned in memory
      * ([[loadVectorIndex]]): the join then enumerates the CACHED frame,
      * which is cheap and can never disagree with itself.
      */
    def partsHint: Option[Set[Int]] =
      if (pinned) None
      else graft.operators.PartitionedIndex.partIds(spark, path("graph"))
    def requireBuiltFor(hint: String): Unit = require(metric == p.metric,
      s"${p.tpe} index was built for metric ${p.metric}, not $metric$hint")
  }

  /** ANN search through the persisted index, routed by its recorded
    * type (reference `vector_search(query_vector, tensor_name,
    * index_name, topk, nprobe, refine_factor)`, dataset.py:1564-1568):
    * IVF probes `nprobe` cells (partition-pruned read, or the pinned
    * in-memory copy after [[loadVectorIndex]]); IVFPQ ADC-scans the
    * probed cells and exact-re-ranks `refineFactor·k`; graph types walk
    * every shard on the metric the graph was BUILT for (l2, or cosine
    * via unit-normalized vectors — the score returned is then the
    * cosine similarity); FLAT is exact brute force over the live
    * snapshot (`exact = true` scores on the deterministic scaled-int
    * grid, the oracle-checkable path). IVFPQ serves the metric it was
    * built for the same way the graphs do (l2, or cosine via the
    * unit-norm build). Requires a fresh index.
    *
    * `probeShards` is the graph families' nprobe: > 0 routes the query
    * to its nearest `probeShards` graph shards by the index's persisted
    * routing centroids (the tiny `routing` artifact — |shards| rows, the
    * graph itself is untouched for the decision) and reads ONLY those
    * part directories; 0 (default) probes every shard — the exactness
    * fallback and the behavior for pre-routing indexes.
    */
  def vectorSearch(column: String, queryVec: Seq[Float], k: Int,
                   metric: String = "cosine", nprobe: Int = 8,
                   refineFactor: Int = 4, exact: Boolean = false,
                   tieBreakCols: Seq[String] = Nil,
                   probeShards: Int = 0): DataFrame = {
    val s = site(column, metric, k, nprobe, refineFactor, exact, probeShards)
    // score ties at the k boundary: FLAT (the exact, oracle-able path)
    // resolves them by user-visible columns on request; the index paths
    // break ties by row identity, like the reference's faiss ids
    require(tieBreakCols.isEmpty || s.kind == Flat,
      s"tieBreakCols is supported on FLAT indexes only (this is ${s.p.tpe})")
    s.kind.search(s, queryVec, tieBreakCols)
      .withColumnRenamed(UuidCol, "row_uuid")
  }

  /** Routed k-NN JOIN through the persisted index — the dataset-level
    * face of [[graft.operators.KnnJoin]] (r19): every row of a query
    * DATAFRAME finds its k nearest corpus rows, with the query table
    * never touching the driver. This is the 100 TB form of batched
    * `vector_search` (reference vector_search_ops.py:84-101 batches
    * driver-held arrays only): semantic dedup and retrieval joins pass
    * a corpus-scale query table here, [[vectorSearch]] stays the
    * single-vector/driver-batch path. Every index type is served:
    *
    *   - HNSW/DISKANN: shard-routed graph walks (`probeShards` is the
    *     pruning knob; 0 probes every shard — exact w.r.t. the walks);
    *   - IVF/IVFPQ: cell-routed exact scoring over the `nprobe`
    *     nearest cells per query (the IVFPQ join exact-scores its
    *     stored vectors — with routing pruning cells, the ADC
    *     approximation buys nothing a join-shaped scan can't);
    *   - FLAT: exact brute force — the query table is broadcast
    *     (|q|·|corpus| scored pairs: the inherent cost of exact);
    *
    * always on the metric the index was built for (cosine rides the
    * unit-norm build where applicable, scores map back to cosine
    * similarity). Output: (query_id, row_uuid, score, rank), rank 1..k
    * best-first per query.
    */
  def vectorKnnJoin(column: String, queries: DataFrame, qIdCol: String,
                    qVecCol: String, k: Int, metric: String = "cosine",
                    refineFactor: Int = 4, nprobe: Int = 8,
                    exact: Boolean = false,
                    probeShards: Int = 0): DataFrame = {
    val s = site(column, metric, k, nprobe, refineFactor, exact, probeShards)
    s.kind.join(s, queries, qIdCol, qVecCol)
  }

  /** SEMANTIC DEDUP over the persisted vector index, via the routed
    * k-NN SELF-join (r20, the 100 TB retrieval-dedup form): every live
    * row queries the index for its nearest OTHER row, and is marked a
    * duplicate iff that neighbor clears `threshold` from a LOWER
    * `_uuid` — SemDeDup's keep-first rule (Abbas 2023) with the hidden
    * uuid as the deterministic tie. The corpus is the query table of
    * [[vectorKnnJoin]]: no driver collect of either side, cell/shard
    * routing prunes the pair space (`nprobe` for IVF/IVFPQ,
    * `probeShards` for the graph families, exact for FLAT).
    *
    * k = 2 suffices for nearest-other (the self row displaces at most
    * one of the two returned hits), and an EXACT tie at the top score
    * resolves to the lowest uuid — so a clique of m identical rows
    * keeps exactly its min-uuid member: the min's nearest other is a
    * higher-uuid clique-mate (survives), every other member's is the
    * min (dropped). Near-dup CHAINS (a≈b≈c, a≉c) are judged per row
    * against the nearest neighbor only — the same non-transitive
    * contract as SemDeDup's per-cell argmax, q134's oracle pins the
    * exact form and KnnJoinSoak's dedup leg pins blocked-path parity.
    *
    * Returns one row per live corpus row that HAS another row to
    * compare against (a 1-row corpus yields nothing): `(row_uuid,
    * nn_uuid, score, is_dup)`. Survivors = `filter(!is_dup)` joined
    * back on `_uuid`; approximate index families can miss true
    * neighbors like any ANN search — probe-all / `nprobe = nlist` is
    * the exactness fallback.
    *
    * `threshold` is ALWAYS in raw metric units (cosine similarity, raw
    * squared l2 distance, raw inner product) regardless of `exact`: the
    * exact l2 AND ip paths emit 1e14-scaled integer scores (q133's
    * oracle grid; `dotScaled` = raw × 1e14), and the comparison
    * rescales the threshold to match — the `score` COLUMN keeps the
    * join's native units (the grid, for exact l2/ip), only the
    * threshold comparison adapts. FLAT is served (the only exact
    * option the reference's FLAT
    * maps to) but WARNS here: its join broadcasts the query table, and
    * the corpus IS the query table — driver-bounded corpora only;
    * corpus-scale dedup wants a clustered index family.
    */
  def semanticDedupIndexed(column: String, threshold: Double,
                           metric: String = "cosine", nprobe: Int = 8,
                           exact: Boolean = false,
                           probeShards: Int = 0): DataFrame = {
    // k = 2, refineFactor 4: nearest-other needs the two best hits
    val s = site(column, metric, 2, nprobe, 4, exact, probeShards)
    if (s.kind == Flat)
      warn("graft: WARN semanticDedupIndexed over a FLAT " +
        "index broadcasts the corpus as the query table — fine for " +
        "driver-bounded corpora, use a clustered index type at scale")
    val qdf = snapshotWithUuid()
      .select(col(UuidCol).cast("long").as("qid"), col(column).as("qv"))
    // threshold sides with the metric's rank order: l2 is a distance
    // (dup at score ≤ threshold), cosine/ip are similarities (≥).
    // BOTH grid metrics' exact scores arrive 1e14-scaled from the
    // IVF-family joins — l2 as qint squared distance, ip as the qint
    // dot (`dotScaled` = raw × 1e14) — while exact cosine divides back
    // to raw by construction and the graph walks stay raw doubles and
    // ignore `exact`; the threshold is rescaled onto whichever grid the
    // score column is on — the caller's units are ALWAYS raw metric
    // units
    val gridScaled = exact && s.kind.gridMetrics(metric)
    def clears(score: Column) = {
      val t = if (gridScaled) threshold * 1e14 else threshold
      if (metric == "l2") score <= lit(t) else score >= lit(t)
    }
    // nearest-other = min rank after the self filter — via min_by, a
    // partial-combinable aggregate (rank is unique per query, so the
    // pick is deterministic), not yet another corpus-wide rank window
    s.kind.join(s, qdf, "qid", "qv")
      .filter(col("row_uuid") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("row_uuid"), col("score")), col("rank"))
        .as("_nn"))
      .select(col("query_id").as("row_uuid"),
        col("_nn.row_uuid").as("nn_uuid"), col("_nn.score").as("score"),
        (clears(col("_nn.score")) &&
          col("_nn.row_uuid") < col("query_id")).as("is_dup"))
  }

  /** One vector-index type: its build, its append-delta, its search
    * (pinned or persisted), its k-NN join, and its exact-grid rule: the
    * metrics whose `exact` join scores arrive 1e14-scaled, onto which
    * [[semanticDedupIndexed]] rescales its threshold. */
  private abstract class VectorKind(val name: String,
                                    val gridMetrics: Set[String]) {
    /** Writes the artifacts of a build over `snap`; FLAT has none. */
    def build(snap: DataFrame, s: Site): Unit = ()
    def appendDelta(added: DataFrame, s: Site, deltaRows: Long): Unit = ()
    /** Top-k of one query as (`_uuid`, score). */
    def search(s: Site, v: Seq[Float], tieBreakCols: Seq[String]): DataFrame
    /** Top-k of every query as (query_id, row_uuid, score, rank). */
    def join(s: Site, q: DataFrame, qIdCol: String, qVecCol: String): DataFrame
  }

  // exact search reads the live snapshot directly: nothing to build or
  // maintain beyond rebinding the commit
  private object Flat extends VectorKind("FLAT", Set("l2", "ip")) {
    def search(s: Site, v: Seq[Float], tieBreakCols: Seq[String]) =
      V.bruteForceTopK(snapshotWithUuid(), s.column, UuidCol, v, s.metric,
        s.k, s.exact, tieBreakCols)
    def join(s: Site, queries: DataFrame, qIdCol: String, qVecCol: String) =
      V.batchTopK(snapshotWithUuid(), s.column, UuidCol, queries, qIdCol,
          qVecCol, s.metric, s.k, s.exact)
        .withColumnRenamed(UuidCol, "row_uuid")
        .select(col("query_id"), col("row_uuid"), col("score"), col("rank"))
  }

  private object Ivf extends VectorKind("IVF", Set("l2", "ip")) {
    override def build(snap: DataFrame, s: Site): Unit = {
      val (assigned, centroids) = V.ivfBuild(snap, s.column, UuidCol, s.p.nlist)
      writeCells(assigned, s, "overwrite")
      centroids.write.mode("overwrite").parquet(s.path("centroids"))
    }
    override def appendDelta(added: DataFrame, s: Site, deltaRows: Long): Unit =
      writeCells(V.assignCells(added, s.column,
        spark.read.parquet(s.path("centroids"))), s, "append")
    def search(s: Site, v: Seq[Float], tieBreakCols: Seq[String]) =
      V.ivfTopK(s.art("assigned"), s.art("centroids"), s.column, UuidCol, v,
        s.metric, s.k, s.nprobe, s.exact)
    def join(s: Site, queries: DataFrame, qIdCol: String, qVecCol: String) =
      KnnJoin.ivf(s.art("assigned"), s.art("centroids"), s.column, UuidCol,
          queries, qIdCol, qVecCol, s.metric, s.k, s.nprobe, s.exact)
        .withColumnRenamed("ext_id", "row_uuid")
  }

  private object IvfPq extends VectorKind("IVFPQ", Set("l2")) {
    override def build(snap: DataFrame, s: Site): Unit = {
      // PQ codes score squared L2, so cosine rides the same unit-norm
      // build as the graph indexes; IVF stores raw vectors because
      // ivfTopK evaluates the metric at query time
      val pqIn = s.built.prepare(snap, s.column)
      val (assigned, centroids) = V.ivfBuild(pqIn, s.column, UuidCol, s.p.nlist)
      val model = V.pqTrain(pqIn, s.column, UuidCol,
        subspaces(s.p, snap, s.column), s.p.pqK)
      writeCells(V.pqEncode(assigned, s.column, model), s, "overwrite")
      centroids.write.mode("overwrite").parquet(s.path("centroids"))
      writePqModel(s.path("pqmodel"), model)
    }
    override def appendDelta(added: DataFrame, s: Site, deltaRows: Long): Unit = {
      val centroids = spark.read.parquet(s.path("centroids"))
      val model = readPqModel(spark.read.parquet(s.path("pqmodel")))
      writeCells(V.pqEncode(V.assignCells(s.built.prepare(added, s.column),
        s.column, centroids), s.column, model), s, "append")
    }
    def search(s: Site, v: Seq[Float], tieBreakCols: Seq[String]) = {
      s.requireBuiltFor(SearchHint) // codes score L2; cosine = unit-norm build
      val raw = V.ivfPqTopK(s.art("assigned"), s.art("centroids"), s.column,
        UuidCol, readPqModel(s.art("pqmodel")), s.built.query(v), s.k,
        s.nprobe, rerank = s.rerank)
      if (s.built.l2) raw
      else raw.select(col(UuidCol), s.built.score(col("score")).as("score"))
    }
    def join(s: Site, queries: DataFrame, qIdCol: String, qVecCol: String) = {
      s.requireBuiltFor("") // stored vectors are metric-prepared
      // BOTH metrics keep the caller's exact knob: cosine rides the
      // unit-norm build scored on the scaled-int l2 grid (unit values
      // quantize on the same 1e-7 grid; max l2² of 4 → 4e14, well
      // inside int64 and lossless in double), then maps to cosine
      val hits = KnnJoin.ivf(s.art("assigned"), s.art("centroids"), s.column,
        UuidCol, s.built.prepare(queries, qVecCol), qIdCol, qVecCol, "l2",
        s.k, s.nprobe, s.exact)
      if (s.built.l2) hits.withColumnRenamed("ext_id", "row_uuid")
      // unit vectors: cos = 1 − l2²/2. Exact scores are 1e14-scaled
      // longs (qint products), doubles are raw l2² — one deterministic
      // affine step either way
      else s.built.joinRows(hits, col("score").cast("double"),
        if (s.exact) lit(2.0e14) else lit(2.0))
    }
  }

  /** HNSW and DISKANN: clustered per-shard graphs walked on the metric
    * they were built for. A family supplies its build and walk calls. */
  private abstract class GraphKind(name: String, centroidNode: Int)
      extends VectorKind(name, Set.empty) {
    protected def shards(in: DataFrame, s: Site, rows: Long): DataFrame
    protected def walk(s: Site, query: Seq[Float]): DataFrame
    protected def joinWalk(s: Site, queries: DataFrame, qIdCol: String,
                           qVecCol: String): DataFrame

    override def build(snap: DataFrame, s: Site): Unit = {
      // clustered: shards are coarse k-means cells, each with a
      // persisted centroid — probe-all search is unchanged (every row
      // is in exactly one shard) and probeShards routing becomes
      // available (see [[vectorSearch]]). Shard count derives from the
      // MANIFEST row count (countRows — metadata only, no scan), not
      // from cluster cores: ~500-row shards keep every build task's
      // in-heap graph bounded at any corpus size and sit at the
      // recall optimum RecallSoak measured (GraphRouting.shardsFor).
      shards(s.built.prepare(snap, s.column), s, countRows)
        .write.mode("overwrite").partitionBy("part").parquet(s.path("graph"))
      writeRoutingArtifact(s, centroidNode)
    }

    override def appendDelta(added: DataFrame, s: Site, deltaRows: Long): Unit = {
      // empty persisted graph (index created while the vector column
      // had no rows): max(part) is null — or the parquet dir has no
      // readable footer at all — and the delta IS the whole index, so
      // new parts start at 0
      val offset = 1 + (try {
        spark.read.parquet(s.path("graph"))
          .agg(coalesce(max(col("part")), lit(-1))).head().getInt(0)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => -1
      })
      // delta shards build CLUSTERED too: their sentinels keep shard
      // routing correct after appends (a sentinel-less delta shard would
      // be probed unconditionally — safe but unroutable, and appends
      // would erode the sub-linearity). Shard count derives from the
      // DELTA's footer row count (already read for the rebuild-threshold
      // check — no scan), so delta build tasks stay ~500-row bounded too.
      val built = shards(s.built.prepare(added, s.column), s, deltaRows)
      // the shift rides in the closure, not in a literal: Spark inlines
      // an Int literal into the generated Java, so each append's offset
      // would compile a new write-stage class
      val pi = built.schema.fieldIndex("part")
      built.map(r => Row.fromSeq(r.toSeq.updated(pi, r.getInt(pi) + offset)))(
          org.apache.spark.sql.catalyst.encoders.RowEncoder
            .encoderFor(built.schema))
        .write.mode("append").partitionBy("part").parquet(s.path("graph"))
      // fold the delta shards' centroids into the routing artifact (one
      // sentinel-filtered pass over the graph table — row-group pruned,
      // |shards| rows out)
      writeRoutingArtifact(s, centroidNode)
    }

    def search(s: Site, v: Seq[Float], tieBreakCols: Seq[String]) = {
      s.requireBuiltFor(SearchHint)
      walk(s, s.built.query(v)).select(col("ext_id").as(UuidCol),
        s.built.score(col("l2sq")).as("score"))
    }

    def join(s: Site, queries: DataFrame, qIdCol: String, qVecCol: String) = {
      s.requireBuiltFor("")
      s.built.joinRows(joinWalk(s, s.built.prepare(queries, qVecCol), qIdCol,
        qVecCol), col("l2sq"))
    }
  }

  private object HnswGraph extends GraphKind("HNSW", Hnsw.CentroidNode) {
    protected def shards(in: DataFrame, s: Site, rows: Long) =
      Hnsw.build(in, s.column, UuidCol, m = s.p.graphDegree,
        efConstruction = s.p.buildBeam, clustered = true, rowCountHint = rows)
    // unpinned: serve straight off the partitionBy("part") layout — one
    // narrow scan per part directory, no Exchange. The pinned in-memory
    // copy keeps the shuffled path (its cached partitioning does not
    // preserve the directory co-location).
    protected def walk(s: Site, query: Seq[Float]) =
      if (s.pinned) Hnsw.topK(s.art("graph"), query, s.k, ef = s.beam,
        probeParts = s.probeShards, centroids = s.routing)
      else Hnsw.topKPersisted(spark, s.path("graph"), query, s.k,
        ef = s.beam, probeParts = s.probeShards, centroids = s.routing)
    protected def joinWalk(s: Site, queries: DataFrame, qIdCol: String,
                           qVecCol: String) =
      KnnJoin.hnsw(s.art("graph"), queries, qIdCol, qVecCol, s.k,
        ef = s.beam, probeParts = s.probeShards, centroids = s.routing,
        partsHint = s.partsHint)
  }

  private object VamanaGraph extends GraphKind("DISKANN", Vamana.CentroidNode) {
    // normalizing keeps the dimensionality `subspaces` derives from
    protected def shards(in: DataFrame, s: Site, rows: Long) =
      Vamana.build(in, s.column, UuidCol, r = math.max(s.p.graphDegree, 4),
        buildBeam = s.p.buildBeam, pqM = subspaces(s.p, in, s.column),
        pqK = s.p.pqK, clustered = true, rowCountHint = rows)
    // rerank floor 256: on a CLUSTERED shard the PQ walk pools many
    // near-identical codes, and an exact re-rank smaller than the tie
    // pool picks arbitrarily among them — RecallSoak measured 0.49
    // recall@10 at rerank=40 vs 1.00 at 400 on a 100k 256-center
    // corpus. Exact-scoring ≤256 vectors per probed shard is noise
    // next to the walk itself.
    private def rerank(s: Site): Int = math.max(256, s.rerank)
    protected def walk(s: Site, query: Seq[Float]) =
      if (s.pinned) Vamana.topK(s.art("graph"), query, s.k, beam = s.beam,
        rerank = rerank(s), probeParts = s.probeShards, centroids = s.routing)
      else Vamana.topKPersisted(spark, s.path("graph"), query, s.k,
        beam = s.beam, rerank = rerank(s), probeParts = s.probeShards,
        centroids = s.routing)
    protected def joinWalk(s: Site, queries: DataFrame, qIdCol: String,
                           qVecCol: String) =
      KnnJoin.vamana(s.art("graph"), queries, qIdCol, qVecCol, s.k,
        beam = s.beam, rerank = rerank(s), probeParts = s.probeShards,
        centroids = s.routing, partsHint = s.partsHint)
  }
}

object IndexFacet extends Logging {
  private[format] def warn(msg: String): Unit = logWarning(msg)

  /** The refusal hint of a search on the wrong metric. */
  private val SearchHint = " (re-create the index, or use indexType FLAT or IVF)"

  /** A vector index's build params, as [[IndexFacet.createVectorIndex]]
    * takes them and its meta records them. */
  private[format] final case class VectorParams(tpe: String, nlist: Int,
      pqM: Int, pqK: Int, graphDegree: Int, buildBeam: Int, metric: String) {
    def meta(rebuilds: Option[Int]): IndexMeta = IndexMeta(tpe = Some(tpe),
      nlist = Some(nlist), pqM = Some(pqM), pqK = Some(pqK),
      graphDegree = Some(graphDegree), buildBeam = Some(buildBeam),
      metric = Some(metric), rebuilds = rebuilds)
  }

  /** The metric a vector index was built for. Graph walks and PQ codes
    * score squared L2, so a `cosine` index is built over
    * UNIT-NORMALIZED vectors, where L2 order equals cosine order
    * (`‖a−b‖² = 2−2·cos` on unit vectors — the same normalize-then-L2
    * mapping the reference applies for faiss cosine, utils.py:46-95):
    * its queries are normalized the same way and its squared-L2 scores
    * map back to cosine similarity (cos = 1 − l2²/2).
    */
  private[format] final case class IndexMetric(name: String) {
    def l2: Boolean = name == "l2"

    /** `column`'s vectors as the index stores or walks them. */
    def prepare(df: DataFrame, column: String): DataFrame = name match {
      case "l2" => df
      case "cosine" => df.withColumn(column,
        graft.functions.VectorFunctions.normalize(col(column)))
      case m => throw new IllegalArgumentException(
        s"graph index metric must be l2 or cosine, got $m")
    }

    def query(q: Seq[Float]): Seq[Float] = {
      val n = math.sqrt(q.foldLeft(0.0)((s, x) => s + x * x))
      if (l2 || n == 0.0) q else q.map(x => (x / n).toFloat)
    }

    /** Squared L2 as the metric; `half` is 2 on raw scores and 2e14 on
      * the exact grid. */
    def score(l2sq: Column, half: Column = lit(2.0)): Column =
      if (l2) l2sq else lit(1.0) - l2sq / half

    /** Join hits as (query_id, row_uuid, score, rank). */
    def joinRows(hits: DataFrame, l2sq: Column,
                 half: Column = lit(2.0)): DataFrame =
      hits.select(col("query_id"), col("ext_id").as("row_uuid"),
        score(l2sq, half).as("score"), col("rank"))
  }
}
