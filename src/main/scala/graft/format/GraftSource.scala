package graft.format

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * registered Spark data source over [[GraftDataset]] tables, so SQL
  * users, Python users, and external Spark tooling can read and write
  * versioned graft tables without touching the Scala API (the reference
  * exposes the same surface as `muller.load("path@branch")` /
  * `muller.dataset(path)`, muller/api/load.py + SURVEY.md §2.1's
  * `spark.read.format("muller")` mapping).
  *
  * Read options:
  *   - `branch`   — branch head to read (default `main`)
  *   - `commit`   — time travel to an arbitrary commit id (overrides
  *                  `branch`; reference `path@commit` addressing)
  *   - `asOfTimestamp` — TIMESTAMP AS OF time travel: epoch millis or
  *                  an ISO-8601 instant / `java.sql.Timestamp` literal;
  *                  resolves to the newest commit at-or-before it on
  *                  `branch` (mutually exclusive with `commit`)
  *   - `withUuid` — `true` keeps the hidden `_uuid` row-identity column
  *
  * Write options: `branch` (default `main`), `message` (commit message).
  * SaveModes: Append = append rows + commit on `branch` (creating the
  * table on first write); Overwrite = drop + recreate; ErrorIfExists /
  * Ignore as standard.
  *
  * Why the V1 relation interface and not a DSV2 `PartitionReader`: a
  * graft snapshot is not a file list — it is a merge-on-read PLAN
  * (last-wins window over update files + tombstone anti-joins,
  * [[GraftDataset.snapshotWithUuid]]). DSV2 partition readers produce
  * rows file-by-file and cannot express those joins without
  * reimplementing the shuffle machinery inside the source; the V1
  * `PrunedFilteredScan` contract instead lets the source hand Spark the
  * already-optimized snapshot plan. The same trade-off drives Delta
  * Lake's choice of a V1 relation for its read path. Scale behavior is
  * identical to the Scala API: pruned columns and pushed filters are
  * applied INSIDE the snapshot plan (so Catalyst forwards them to the
  * underlying Parquet scans — base files never read dropped columns),
  * and `needConversion = false` hands back the plan's InternalRows
  * directly with zero per-row conversion.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft: 'path' is required — spark.read.format(\"graft\").load(<table root>)"))

  // ---- structured streaming (see GraftStream.scala) ---------------------

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode " +
        "(each micro-batch becomes one append commit)")
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported — layout is managed by " +
        "the table format")
    // the query's identity for exactly-once markers: the checkpoint
    // location is the one name that survives restarts of THIS query and
    // differs between queries (epoch numbers alone restart at 0). It must
    // be an EXPLICIT writeStream option: the session-conf default
    // (spark.sql.streaming.checkpointLocation) is resolved by the engine
    // and never reaches the sink's parameters, so falling back to, say,
    // the table root would hand two such queries ONE identity — the
    // second query's epochs 0..N would be skipped as duplicates.
    val checkpoint = parameters.getOrElse(
      "checkpointLocation",
      throw new IllegalArgumentException(
        "graft sink: an explicit .option(\"checkpointLocation\", ...) is " +
          "required — it is the sink's stable query identity for " +
          "exactly-once commits (the session-conf default is resolved by " +
          "the engine and does not reach the sink)"))
    val token = GraftStream.queryToken(checkpoint)
    // the sink resolves its PRIMARY token from <checkpoint>/metadata's
    // query id lazily (see GraftSink); the path tokens ride along as
    // read-accepted legacy forms so pre-id streams resume seamlessly
    new GraftSink(sqlContext.sparkSession, root(parameters),
      parameters.getOrElse("branch", "main"), checkpoint, token,
      Set(GraftStream.legacyQueryToken(checkpoint)))
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(schema.isEmpty,
      "graft stream source: the schema comes from the table; do not pass one")
    (shortName(), GraftTailSource.tableSchema(sqlContext.sparkSession,
      root(parameters), parameters.getOrElse("branch", "main"),
      parameters.get("withUuid").exists(_.toBoolean),
      parameters.get("changeFeed").exists(_.toBoolean)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftTailSource(sqlContext.sparkSession, root(parameters),
      parameters.getOrElse("branch", "main"),
      parameters.get("withUuid").exists(_.toBoolean),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("maxCommitsPerTrigger").map(_.toInt).getOrElse(0),
      metadataPath,
      parameters.get("changeFeed").exists(_.toBoolean))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val asOf = parameters.get("asOfTimestamp").map { raw =>
      require(!parameters.contains("commit"),
        "graft: 'commit' and 'asOfTimestamp' are mutually exclusive")
      val tsMs = scala.util.Try(raw.trim.toLong)
        .orElse(scala.util.Try(java.time.Instant.parse(raw.trim).toEpochMilli))
        .orElse(scala.util.Try(
          java.sql.Timestamp.valueOf(raw.trim).getTime))
        .getOrElse(throw new IllegalArgumentException(
          s"graft: cannot parse asOfTimestamp '$raw' (epoch millis, " +
            "ISO-8601 instant, or 'yyyy-mm-dd hh:mm:ss[.f...]')"))
      GraftDataset.commitAsOf(sqlContext.sparkSession, root(parameters),
        tsMs, parameters.getOrElse("branch", "main"))
    }
    GraftRelation(sqlContext.sparkSession, root(parameters),
      parameters.get("branch"), parameters.get("commit").orElse(asOf),
      parameters.get("withUuid").exists(_.toBoolean))
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = root(parameters)
    val branch = parameters.getOrElse("branch", "main")
    val message = parameters.getOrElse("message", s"spark.write ($mode)")
    // the branch map answers whether the table exists with one file
    // read; listing the commits would list all of history per write
    val exists = CommitLog.readBranches(spark, path).nonEmpty
    def writeNew(): Unit = {
      val ds = GraftDataset.create(spark, path, data.schema, branch)
      ds.append(data)
      ds.commit(message)
      ()
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft table exists: $path (use mode 'append' or 'overwrite')")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite if exists =>
        GraftDataset.delete(spark, path); writeNew()
      case SaveMode.Append if exists =>
        val ds = GraftDataset.load(spark, path, branch)
        ds.append(data)
        ds.commit(message)
        ()
      case _ => writeNew()
    }
    createRelation(sqlContext, parameters)
  }
}

/** The relation behind [[GraftSource]]: resolves the snapshot plan once
  * (branch head or time-travel commit) and serves pruned/filtered scans
  * off it.
  */
case class GraftRelation(spark: SparkSession, root: String,
                         branchOpt: Option[String], commitOpt: Option[String],
                         withUuid: Boolean)
  extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** Resolved per SCAN, not once per relation: the session catalog
    * caches relation instances for named tables, so an eager snapshot
    * would pin the commit the table had when first resolved and serve
    * stale rows after `INSERT INTO` (observed: insert-then-select read
    * the pre-insert snapshot). Re-reading the commit log per scan costs
    * one small-file read and keeps every read path — `load()`, named
    * tables, post-insert selects — on the live head. A commit-pinned
    * relation still always resolves the same snapshot.
    */
  private def dataset: GraftDataset = commitOpt match {
    case Some(c) => GraftDataset.loadCommit(spark, root, c)
    case None => GraftDataset.load(spark, root, branchOpt.getOrElse("main"))
  }

  private def snapshot: DataFrame = {
    val ds = dataset
    if (withUuid) ds.snapshotWithUuid() else ds.toDF
  }

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = snapshot.schema

  /** Exact live row count from manifest metadata (no Spark job) — the
    * source behind the SQL `COUNT(*)` pushdown. Resolved per call so
    * cached catalog relations count the live head.
    */
  def metadataCount: Long = dataset.countRows

  /** Exact (min, max) of a column from manifest metadata, when provable
    * ([[TableState.statMinMax]] lists the refusal conditions). */
  def metadataMinMax(column: String): Option[(Any, Any)] =
    dataset.statMinMax(column)

  /** Manifest byte size of the snapshot's inputs — WITHOUT this
    * override, `BaseRelation` reports `spark.sql.defaultSizeInBytes`
    * (≈ Long.MaxValue), so a 1 MB graft dimension table joined against
    * a 100 TB fact is NEVER auto-broadcast and every such join pays a
    * full shuffle. Tombstones are included (they only shrink output —
    * over-estimating is the safe direction: a wrong under-estimate
    * broadcasts something huge). Memoized per (root, commit): commits
    * are immutable, so a cached size can never go stale, and the
    * planner's repeated `sizeInBytes` calls cost two small metadata
    * reads instead of a manifest-wide listing each.
    */
  override def sizeInBytes: Long =
    try {
      val ds = dataset
      GraftRelation.sizeCache.computeIfAbsent(
        (root, ds.head.getOrElse("")), _ => {
          val f = CommitLog.fs(spark, root)
          CommitLog.parMap(ds.manifestEntries)(
            CommitLog.entryBytes(f, root, _)).sum
        })
    } catch { case _: Exception => super.sizeInBytes }

  /** The scan returns the snapshot plan's InternalRows as-is — no
    * Row materialization (the V1 contract for internal-format sources).
    */
  override def needConversion: Boolean = false

  /** `INSERT INTO` / `INSERT OVERWRITE` on a catalog-named graft table
    * (`CREATE TABLE t USING graft OPTIONS (path ...)` — the SQL-only
    * user's named-table surface). Both are version-control events, not
    * file operations: INTO is one append commit; OVERWRITE tombstones
    * the current rows and appends the new ones in ONE commit, so the
    * previous contents stay reachable by time travel (a commit-pinned
    * named table or `option("commit", ...)`).
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(commitOpt.isEmpty,
      "graft: cannot INSERT into a commit-pinned (time-travel) table — " +
        "pinned tables are read-only snapshots; insert via the live table")
    val ds = GraftDataset.load(spark, root, branchOpt.getOrElse("main"))
    if (overwrite) {
      ds.pop(lit(true))
      ds.append(data)
      ds.commit("INSERT OVERWRITE")
    } else {
      ds.append(data)
      ds.commit("INSERT INTO")
    }
    ()
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    // Two pruning layers from the same pushed filters: (1) MANIFEST
    // file skipping — base entries whose footer-captured min/max
    // provably exclude every row are dropped on the driver before the
    // snapshot plan exists ([[FileSkipping]]; correct under
    // merge-on-read because update files carry full rows and win
    // last-wins); (2) the filters re-expressed as Columns reach the
    // Parquet scans through Catalyst for row-group pruning.
    // Untranslatable ones are skipped and re-applied by Spark above the
    // scan (default unhandledFilters = all, so skipping is always safe).
    val ds = dataset
    val base = ds.prunedSnapshotWithUuid(filters.toIndexedSeq)
    val snap = if (withUuid) base else base.drop(GraftDataset.UuidCol)
    val filtered = filters.flatMap(GraftRelation.toColumn)
      .foldLeft(snap)(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty) filtered.select() // count(*)-style scan
      else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  /** (root, commitId) → manifest bytes. Commits are immutable → entries
    * never stale; bounded by periodic clear (values are 8 bytes). */
  private[format] val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]() {
      override def computeIfAbsent(
          k: (String, String),
          f: java.util.function.Function[_ >: (String, String), _ <: Long]): Long = {
        if (size() > 4096) clear()
        super.computeIfAbsent(k, f)
      }
    }

  /** V1 `Filter` → `Column`, best-effort: None means "cannot translate",
    * which only costs pushdown (Spark re-evaluates every filter above
    * the scan). A partially-translatable AND still pushes both sides it
    * can; OR/NOT must translate wholly or not at all.
    */
  private[format] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => (toColumn(l), toColumn(r)) match {
      case (Some(lc), Some(rc)) => Some(lc && rc)
      case (one, other) => one.orElse(other) // half an AND is still sound
    }
    case Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
