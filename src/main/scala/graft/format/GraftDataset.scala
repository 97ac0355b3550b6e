package graft.format

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** A versioned, mutable table over immutable Parquet — the Spark-native
  * equivalent of the reference's Dataset abstraction
  * (muller/core/dataset/dataset.py:114-200) with its Git-like version
  * control (muller/core/version_control).
  *
  * Mechanics (SURVEY.md §7.1): every commit pins a full file manifest;
  *   - append  → new base parquet files           (crud_operations.py:140-258)
  *   - update  → merge-on-read update files, last wins, keyed by the
  *               hidden `_uuid` row id             (chunk/operations/update.py)
  *   - pop     → tombstone files of `_uuid`s       (chunk/operations/pop.py)
  *   - compact → rewrite snapshot to fresh base files ("rechunk",
  *               muller/core/dataset/rechunk_operations.py)
  * Reads are snapshot-isolated for free (manifests are immutable); the
  * merge-on-read joins are uuid-keyed shuffles that scale horizontally,
  * and `compact()` bounds read amplification exactly like the reference's
  * rechunk bounds chunk fragmentation.
  *
  * Row identity: `_uuid LONG` = (globally-unique append reservation
  * << 40) | row index (reference: hidden `_uuid` tensor,
  * crud_operations.py:407-418). Merge and diff operate on uuid sets,
  * never positions (merge.py:102-154).
  */
class GraftDataset private[format] (
    val spark: SparkSession,
    val root: String,
    private var branchName: Option[String],
    private var headId: Option[String]) {

  import GraftDataset._

  // ---- staged (uncommitted) state -----------------------------------------

  private var stFiles: Vector[String] = Vector.empty
  private var stUpdates: Vector[String] = Vector.empty
  private var stTombstones: Vector[String] = Vector.empty
  private var stRenames: Vector[(String, String)] = Vector.empty
  private var stStats: Map[String, Map[String, ColStats]] = Map.empty
  // rename-chain length at each entry's write time (entries absent = 0)
  private var stEpochs: Map[String, Int] = Map.empty
  // stStats keys are in current-name space (see CommitMeta.statsNormalized)
  private var stStatsNormalized: Boolean = true
  private var stSchema: StructType = new StructType()
  private var dirty: Boolean = false
  // true while the ONLY staged change is a file rewrite that leaves the
  // logical rows untouched (compact from a clean state) — published as
  // CommitMeta.rewrite so streaming tails skip the commit instead of
  // re-emitting every rewritten row (Delta's dataChange=false contract)
  private var pendingRewrite: Boolean = false

  loadHead()

  private def loadHead(): Unit = {
    headId match {
      case Some(id) =>
        val m = CommitLog.readCommit(spark, root, id)
        stFiles = m.files.toVector
        stUpdates = m.updates.toVector
        stTombstones = m.tombstones.toVector
        stRenames = m.renames.map(p => (p(0), p(1))).toVector
        stStats = m.stats.getOrElse(Map.empty)
        stEpochs = m.epochs.getOrElse(Map.empty)
        stStatsNormalized = m.statsNormalized.getOrElse(m.renames.isEmpty)
        stSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      case None =>
        stFiles = Vector.empty; stUpdates = Vector.empty
        stTombstones = Vector.empty; stRenames = Vector.empty
        stStats = Map.empty; stEpochs = Map.empty; stStatsNormalized = true
        stSchema = new StructType()
    }
    dirty = false
    pendingRewrite = false
  }

  def branch: Option[String] = branchName
  def head: Option[String] = headId
  /** All manifest entries of the loaded state (planner statistics). */
  private[format] def manifestEntries: Seq[String] =
    stFiles ++ stUpdates ++ stTombstones
  def schema: StructType = stSchema
  def hasUncommitted: Boolean = dirty

  // ---- snapshot read ------------------------------------------------------

  private def emptyDf(s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  private def withUuidSchema(s: StructType): StructType =
    StructType(s.fields :+ StructField(UuidCol, LongType, nullable = false))

  /** Align a stored file's frame to the target schema: apply the given
    * rename-chain suffix, null-backfill missing columns, drop extras,
    * order columns. A [[GraftDataset.DropPrefix]] marker pair renames a
    * DELETED column out of the live namespace, so a later recreate (or
    * rename onto the freed name) never resurrects the stale physical
    * column's values. The per-file presence conditional is belt-and-
    * braces for pre-epoch commits (whose files all see the whole chain).
    */
  private def align(df: DataFrame, target: StructType,
                    chain: Seq[(String, String)]): DataFrame = {
    val renamed = chain.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    val cols = target.fields.map { f =>
      if (renamed.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    renamed.select(cols.toIndexedSeq: _*)
  }

  /** Rename-chain length when `f` was written (0 = before any recorded
    * rename → whole chain applies, the pre-epoch behavior). Accepts an
    * entry path or a pruned per-file path (`entry/part-...`), which
    * inherits its entry's epoch.
    */
  private def epochOf(f: String): Int =
    stEpochs.getOrElse(f, {
      val cut = f.lastIndexOf('/')
      if (cut <= 0) 0 else stEpochs.getOrElse(f.substring(0, cut), 0)
    })

  /** Whether `f`'s rename epoch was RECORDED (vs defaulted): renames
    * predate the epochs map, so a legacy manifest can hold a file that
    * was physically written AFTER a rename but carries no epoch entry —
    * for such a file the derived epoch-0 schema would invert to the OLD
    * name, the scan would null-fill it, and align would rename the
    * all-null column onto the target (ADVICE r21). Epoch-absent entries
    * on a renamed table keep the legacy mergeSchema read, whose footer
    * names align's presence-conditional handles correctly.
    */
  private def epochKnown(f: String): Boolean =
    stEpochs.contains(f) || {
      val cut = f.lastIndexOf('/')
      cut > 0 && stEpochs.contains(f.substring(0, cut))
    }

  private def readManifest(files: Seq[String], target: StructType): DataFrame =
    if (files.isEmpty) emptyDf(target)
    else {
      // files written in different rename EPOCHS need different chain
      // suffixes (a post-rename file already carries current names; a
      // recreated column must not be re-renamed). Group by the actual
      // suffix so the no-rename common case stays ONE parquet relation.
      // Legacy entries (no recorded epoch on a RENAMED table) cannot
      // trust the derived schema — see [[epochKnown]].
      val (derivable, legacy) =
        files.partition(f => stRenames.isEmpty || epochKnown(f))
      // PER-ENTRY footer reads for legacy entries: one merged group
      // cannot tell a pre-rename file (footer carries the OLD name — the
      // whole chain must apply) from a post-rename one (footer already
      // carries the new name — renaming would be wrong); merged, the
      // union footer holds BOTH names and align's presence-conditional
      // goes quiet on the new one, null-wiping the pre-rename rows. Each
      // entry's own footer makes the conditional exact. Plan width grows
      // with the LEGACY entry count only — tables written since the
      // epochs map never take this path.
      val legacyDfs = legacy.sorted.map { f =>
        align(spark.read.option("mergeSchema", "true")
            .parquet(new Path(root, f).toString),
          target, stRenames)
      }
      val derivedDfs = derivable.groupBy(f => stRenames.drop(epochOf(f))).toSeq
        .sortBy(_._2.head).map { case (chain, fs) =>
          val paths = fs.map(f => new Path(root, f).toString)
          // The physical schema of an epoch group is KNOWN: each target
          // column's written-time name comes from inverting the chain
          // suffix WITH CONSUMPTION — walking the chain backwards, a
          // step whose `to` is the current name maps it to `from`; a
          // step whose `from` is the current name means that name was
          // consumed earlier in forward time (renamed away / retired by
          // a drop marker), so the target column has NO physical source
          // in this group and is left out of the read schema entirely —
          // the scan fills it with nulls, exactly what [[align]]'s
          // conditional produced for it. Passing the schema explicitly
          // replaces the mergeSchema footer-union, which ran a
          // footer-read JOB on every snapshot read (~30-60 ms per read
          // at suite scale, a full footer pass over every data file at
          // planning on a big table).
          def physSource(n: String): Option[String] = {
            var cur = n
            var i = chain.length - 1
            while (i >= 0) {
              val (from, to) = chain(i)
              if (to == cur) cur = from
              else if (from == cur) return None // consumed: no source
              i -= 1
            }
            Some(cur)
          }
          val seen = scala.collection.mutable.HashSet[String]()
          val physical = StructType(target.fields.flatMap(f =>
            physSource(f.name).collect {
              case p if seen.add(p) =>
                StructField(p, f.dataType, nullable = true)
            }))
          align(spark.read.schema(physical).parquet(paths: _*), target, chain)
        }
      (legacyDfs ++ derivedDfs).reduce(_ unionByName _)
    }

  /** The `_uuid`s of manifest entries of any kind, read with the known
    * one-column schema (no footer inference job). */
  private[format] def readUuids(entries: Seq[String]): DataFrame =
    spark.read.schema(UuidSchema)
      .parquet(entries.map(e => new Path(root, e).toString): _*)

  /** Snapshot with the hidden `_uuid` column (internal + merge/diff +
    * the integrity gates of the soak mains). */
  private[graft] def snapshotWithUuid(
      files: Seq[String] = stFiles, updates: Seq[String] = stUpdates,
      tombstones: Seq[String] = stTombstones,
      schema: StructType = stSchema): DataFrame = {
    val target = withUuidSchema(schema)
    val base = readManifest(files, target)
    if (updates.isEmpty && tombstones.isEmpty) return base
    // merge-on-read, FLAT: ONE anti-join drops every base row an update
    // or tombstone entry touches — a key set, so it needs no window.
    // The last-wins window runs once, over update rows only, and only
    // when there is more than one update file; tombstoned uuids are then
    // filtered out of its (churn-sized) result. A per-file anti-join
    // chain would grow the plan linearly in the uncompacted updates.
    val kept = base.join(readUuids(updates ++ tombstones), Seq(UuidCol),
      "left_anti")
    if (updates.isEmpty) return kept
    val latest =
      if (updates.size == 1) readManifest(updates, target)
      else GraftDataset.lastWinsPerUuid(
        updates.zipWithIndex.map { case (u, i) =>
          readManifest(Seq(u), target).withColumn("_file_seq", lit(i))
        }.reduce(_ unionByName _), "_file_seq")
    val live =
      if (tombstones.isEmpty) latest
      else latest.join(readUuids(tombstones), Seq(UuidCol), "left_anti")
    kept.unionByName(live)
  }

  /** The user-facing snapshot (hidden columns dropped). */
  def toDF: DataFrame = snapshotWithUuid().drop(UuidCol)

  /** Ragged-alignment views (reference `max_view`/`min_view`,
    * dataset.py:454-523): the reference lets tensors differ in length —
    * `max_view` None-pads to the longest, `min_view` truncates to the
    * shortest. Relationally, partial rows are rows with nulls (skip_ok
    * appends / later-added columns): `maxView` is the padded form (= the
    * snapshot itself) and `minView` keeps only rows populated in EVERY
    * column.
    */
  def maxView: DataFrame = toDF
  def minView: DataFrame =
    stSchema.fieldNames.foldLeft(toDF)((d, c) => d.filter(col(c).isNotNull))

  /** Snapshot of an arbitrary commit (time travel). */
  def snapshotAt(commitId: String): DataFrame = snapshotAtWithUuid(commitId).drop(UuidCol)

  private[format] def snapshotAtWithUuid(commitId: String): DataFrame = {
    val m = CommitLog.readCommit(spark, root, commitId)
    assertNotExpired(m) // vacuumed-away history fails here, not mid-scan
    val sch = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    // renames of THAT commit apply; borrow a temp dataset view
    val tmp = new GraftDataset(spark, root, None, Some(commitId))
    tmp.snapshotWithUuid(m.files, m.updates, m.tombstones, sch)
  }

  // ---- CRUD ---------------------------------------------------------------

  private def newDataPath(kind: String): String =
    s"data/$kind-${java.util.UUID.randomUUID().toString.take(12)}.parquet"

  private def writeData(df: DataFrame, kind: String,
                        options: Map[String, String] = Map.empty): String = {
    val rel = newDataPath(kind)
    // graft data files always encode timestamps as INT64 micros: Spark's
    // INT96 default carries NO ordered footer stats, which would silence
    // temporal file skipping and metadata MIN/MAX forever. INT64 micros
    // is lossless (Spark timestamps ARE micros internally) and is the
    // modern parquet encoding. Scoped via a REFCOUNTED session-conf
    // override ([[GraftDataset.withMicrosTimestamps]]) because parquet
    // exposes no per-write option for it (ParquetOptions) and a plain
    // set/restore races the concurrent bin writes optimizeSmallFiles
    // issues; a concurrent non-graft parquet write in the same session
    // may pick MICROS up for its own files — benign (same values,
    // better-statted encoding).
    GraftDataset.withMicrosTimestamps(spark) {
      df.write.options(options).parquet(new Path(root, rel).toString)
    }
    // base-data entries get PER-FILE skipping stats from the
    // just-written footers (driver-side metadata read, no job;
    // update/tombstone files are never pruned so they carry none).
    // Synchronized: optimizeSmallFiles writes bins concurrently and a
    // racing `stStats ++=` would silently lose one bin's stats.
    if (kind != "update" && kind != "tombstone") {
      val stats = FileSkipping.footerStats(spark, root, rel, stSchema)
      this.synchronized { stStats ++= stats }
    }
    // written under CURRENT names → only the chain suffix after this
    // point may apply to it on read (see readManifest epoch grouping)
    if (stRenames.nonEmpty)
      this.synchronized { stEpochs += rel -> stRenames.size }
    rel
  }

  // stat keys grouped by their entry (parent dir), memoized per stStats
  // INSTANCE (staged mutations swap the map, invalidating the cache):
  // the three metadata consumers below each used to scan EVERY stat key
  // per manifest entry — O(entries × keys) driver work per planned query,
  // ~10^8 startsWith calls on the 10k-file tables this machinery exists
  // for — where one pass over the keys suffices.
  @transient private var statKeysByEntryCache
      : (AnyRef, Map[String, Seq[String]]) = null
  private def statKeysByEntry: Map[String, Seq[String]] = {
    val cur = stStats
    val c = statKeysByEntryCache
    if (c != null && (c._1 eq cur)) c._2
    else {
      val grouped = cur.keysIterator.flatMap { k =>
        val cut = k.lastIndexOf('/')
        if (cut <= 0) None else Some(k.substring(0, cut) -> k)
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      statKeysByEntryCache = (cur, grouped)
      grouped
    }
  }

  /** Base manifest entries surviving the pushed filters' min/max check
    * ([[FileSkipping]]). Stat keys are normalized EAGERLY at each
    * rename/delete ([[renameTensor]]/[[deleteTensor]]), so they stay in
    * current-name space and skipping survives a rename chain — at 100 TB
    * a column rename must not degrade every selective scan to a
    * full-manifest plan until the next full compact. Commits written
    * before normalization existed (`statsNormalized` unset with a
    * non-empty chain) keep the old conservative behavior: no pruning
    * until `compact()` clears the chain and recaptures stats.
    */
  private[format] def pruneBaseFiles(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] =
    if (filters.isEmpty || (stRenames.nonEmpty && !stStatsNormalized)) stFiles
    else stFiles.flatMap { entry =>
      // per-file stats (keyed entry/part-file) give file-granular
      // pruning; an entry with none falls back to entry-level stats
      // (or, absent those, is always kept)
      val perFile = statKeysByEntry.getOrElse(entry, Nil)
        .iterator.map(k => k -> stStats(k)).toMap
      if (perFile.isEmpty) {
        val keep = stStats.get(entry)
          .forall(st => !filters.exists(FileSkipping.excludes(st, _)))
        if (!keep) { FileSkipping.prunedFiles.incrementAndGet(); Nil }
        else Seq(entry)
      } else {
        val survivors = perFile.keys.toSeq.sorted.filter { f =>
          val keep = !filters.exists(FileSkipping.excludes(perFile(f), _))
          if (!keep) FileSkipping.prunedFiles.incrementAndGet()
          keep
        }
        // all files survive → keep the single dir path (shorter plans)
        if (survivors.size == perFile.size) Seq(entry) else survivors
      }
    }

  /** Snapshot with base files pruned by pushed filters — the registered
    * source's scan path. The filters are RE-APPLIED above this plan by
    * the caller; pruning only removes files that provably contain no
    * matching row, so answers are identical with pruning on or off.
    */
  private[format] def prunedSnapshotWithUuid(
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    snapshotWithUuid(files = pruneBaseFiles(filters))

  /** Row count of a just-written data dir from its parquet FOOTERS — a
    * driver-side metadata read, no Spark job. Lets update/pop report
    * their affected-row counts from the single write pass instead of
    * re-executing the plan for a count() (which at 100 TB would scan
    * the corpus twice per mutation).
    */
  private def writtenRowCount(rel: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root, rel)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(s, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Write `df` as one new entry of `kind` and hand it to `register` if
    * it holds rows (an empty one is deleted); returns its row count from
    * the footers. Any registered entry marks the state dirty. */
  private def landEntry(df: DataFrame, kind: String)
                       (register: String => Unit): Long = {
    val rel = writeData(df, kind)
    val n = writtenRowCount(rel)
    if (n > 0) { register(rel); dirty = true; pendingRewrite = false }
    else deleteData(rel)
    n
  }

  /** Footer row count over several manifest entries, parallelized —
    * the maintenance-path analogue of [[FileSkipping.footerStats]]'s
    * bounded-pool reads (serial opens would dominate on a 10k-entry
    * table).
    */
  private def footerRows(rels: Seq[String]): Long =
    CommitLog.parMap(rels)(writtenRowCount).sum

  /** Per-file row counts of one base entry from the skipping stats, when
    * every file of the entry carries one (None → caller falls back to a
    * footer read). */
  private def entryStatRows(entry: String): Option[Long] = {
    val per = statKeysByEntry.getOrElse(entry, Nil)
      .map(k => stStats(k).values.flatMap(_.rows).headOption)
    if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
    else None
  }

  /** EXACT live row count from manifest metadata alone — per-file row
    * counts captured in the skipping stats at write time, with parquet
    * footer reads (bounded parallel pool) for entries predating them;
    * no Spark job, no data scan. `len(dataset)` on a 100 TB table this
    * way is a driver-side metadata operation instead of a full-corpus
    * count. Sound under merge-on-read because updates never mint or
    * retire uuids (full-row last-wins against base rows) and every
    * tombstoned uuid was live exactly once at pop time (pop evaluates
    * its predicate on the merged snapshot, so an already-dead row can
    * never be tombstoned again).
    */
  def countRows: Long = {
    val perEntry = stFiles.map(e => e -> entryStatRows(e)) // one stats pass
    val statted = perEntry.flatMap(_._2).sum
    val unstatted = perEntry.collect { case (e, None) => e }
    statted + footerRows(unstatted) - footerRows(stTombstones)
  }

  /** Global (min, max) of a column from the skipping stats alone, when
    * PROVABLY exact — the metadata source behind the SQL-level
    * `MIN/MAX` pushdown ([[org.apache.spark.sql.graftnative]]'s
    * MetadataAggregateRewrite). Refuses (None) whenever metadata cannot
    * speak for the data: outstanding updates (values may have changed)
    * or tombstones (an extreme row may be dead), un-normalized stats
    * under a rename chain, any base entry without per-file stats, any
    * file whose entry for the column is incomplete, or a column whose
    * current schema domain differs from the stored one. `Some((null,
    * null))` is a VALID exact answer: every row is null (SQL MIN/MAX of
    * all-null input). Values come back typed to the schema.
    */
  private[format] def statMinMax(column: String): Option[(Any, Any)] = {
    if (stUpdates.nonEmpty || stTombstones.nonEmpty) return None
    if (stRenames.nonEmpty && !stStatsNormalized) return None
    val field = stSchema.fields.find(_.name == column).getOrElse(return None)
    // the ONE type→domain mapping lives in FileSkipping (capture side);
    // using it here keeps prune and exact-answer domains from drifting
    val domain = FileSkipping.statDomain(field.dataType).getOrElse(return None)
    var mn: String = null
    var mx: String = null
    for (entry <- stFiles) {
      val perFile = statKeysByEntry.getOrElse(entry, Nil)
      if (perFile.isEmpty) return None // unstatted entry: can't prove
      for (k <- perFile) {
        val m = stStats(k)
        m.get(column) match {
          case Some(cs) if cs.rows.contains(0L) => () // empty file
          case Some(cs) if cs.typ == "null" =>
            // count-only entry: exact only if EVERY row is null
            if (!(cs.nulls.isDefined && cs.nulls == cs.rows)) return None
          case Some(cs) if cs.typ == domain =>
            // bound-only stats (string min/max captured under parquet
            // statistics truncation) cover the data but need not BE data
            // values — sound for pruning, not for an exact answer
            if (cs.bound.contains(true)) return None
            if (mn == null || FileSkipping.cmpInDomain(cs.min, mn, domain) < 0)
              mn = cs.min
            if (mx == null || FileSkipping.cmpInDomain(cs.max, mx, domain) > 0)
              mx = cs.max
          case _ => return None // missing or cross-domain stats
        }
      }
    }
    if (mn == null) return Some((null, null)) // zero rows or all null
    def typed(s: String): Any = field.dataType match {
      case ByteType => s.toLong.toByte
      case ShortType => s.toLong.toShort
      case IntegerType => s.toLong.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      // temporal stats live in long days/micros ([[FileSkipping]]'s
      // capture decode); surface them as the external JVM types the
      // Catalyst converters expect for each Spark type
      case DateType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(s.toLong.toInt)
      case TimestampType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(s.toLong)
      case TimestampNTZType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToLocalDateTime(s.toLong)
      case dt: org.apache.spark.sql.types.DecimalType =>
        // stat strings carry the value at the file annotation's scale;
        // re-scale to the column type's declared scale (value-neutral)
        new java.math.BigDecimal(s).setScale(dt.scale)
      case _ => s
    }
    try Some((typed(mn), typed(mx)))
    catch {
      // unparsable stat string, or a decimal stat whose scale cannot
      // re-scale losslessly to the column type — refuse, never throw
      case _: NumberFormatException | _: ArithmeticException => None
    }
  }

  private def deleteData(rel: String): Unit = {
    val dir = new Path(root, rel)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dir, true)
  }

  /** Define a new column (reference `create_tensor`,
    * dataset.py:828-870) — metadata-only; existing rows read as null.
    */
  def createTensor(name: String, dataType: DataType): Unit =
    createTensor(name, dataType, Nil)

  /** `classNames` declares a class-label column (reference htype
    * `class_label` + `class_names` info, htype.py:163-169): values are
    * dictionary ids; the names ride in the column metadata and string
    * queries coerce names → ids (see [[filterQuery]]).
    *
    * Tensor GROUPS (reference `group/tensor` addressing, query.py:86-101,
    * subdataset.py:8-30): a `/`-separated name nests the leaf inside
    * StructType levels — `createTensor("a/b", t)` makes column `a` a
    * struct holding field `b`, addressable as `a.b` in DataFrame code and
    * in safe string queries.
    */
  def createTensor(name: String, dataType: DataType,
                   classNames: Seq[String]): Unit = {
    val md =
      if (classNames.isEmpty) org.apache.spark.sql.types.Metadata.empty
      else new org.apache.spark.sql.types.MetadataBuilder()
        .putStringArray(GraftDataset.ClassNamesKey, classNames.toArray).build()
    val parts = name.split('/').toSeq
    require(parts.forall(_.nonEmpty), s"bad tensor name $name")
    require(parts.head != UuidCol, s"$UuidCol is reserved")
    require(parts.forall(p => !p.startsWith(DropPrefix)),
      s"$DropPrefix names are reserved")
    // '.' is the GROUP separator in every column-path consumer (string
    // queries, the merge/diff payload addressing `_w.<name>`, dotted
    // DataFrame access) and '`' would break the quoting those paths rely
    // on — a name containing either would be accepted here and then make
    // the table un-mergeable/un-diffable (AnalysisException resolving a
    // phantom nested path). Refuse at creation, the only safe altitude.
    require(parts.forall(p => !p.contains('.') && !p.contains('`')),
      s"bad tensor name $name: '.' and '`' are reserved " +
        "(use '/' to nest groups)")
    stSchema = addNested(stSchema, parts, dataType, md)
    // every EXISTING file physically lacks the new column (align
    // null-backfills it), so synthesize all-null skipping stats where
    // the row count is known: a value predicate on a late-added column
    // then prunes every pre-addition file — on a 100 TB table that's
    // almost the whole manifest right after the schema change
    if (stStatsNormalized && parts.size == 1)
      stStats = stStats.map { case (f, m) =>
        f -> m.values.flatMap(_.rows).headOption.fold(m)(r =>
          m + (parts.head -> ColStats("", "", "null",
            nulls = Some(r), rows = Some(r))))
      }
    dirty = true; pendingRewrite = false
  }

  /** Insert a leaf field at a `/`-path, creating/extending struct levels. */
  private def addNested(schema: StructType, path: Seq[String],
                        leaf: DataType,
                        md: org.apache.spark.sql.types.Metadata): StructType =
    path match {
      case Seq(last) =>
        require(!schema.fieldNames.contains(last), s"column $last exists")
        StructType(schema.fields :+
          StructField(last, leaf, nullable = true, metadata = md))
      case head +: rest =>
        schema.fields.find(_.name == head) match {
          case Some(f) =>
            val inner = f.dataType match {
              case st: StructType => st
              case other => throw new IllegalArgumentException(
                s"$head is a ${other.simpleString}, not a tensor group")
            }
            StructType(schema.fields.map(x =>
              if (x.name == head) x.copy(dataType = addNested(inner, rest, leaf, md))
              else x))
          case None =>
            StructType(schema.fields :+ StructField(head,
              addNested(new StructType(), rest, leaf, md), nullable = true))
        }
    }

  /** Label dictionaries of all class-label columns, keyed by their
    * dotted path — a class-label leaf inside a tensor group coerces in
    * string queries exactly like a top-level one.
    */
  def classLabels: Map[String, Seq[String]] = {
    def walk(schema: StructType, prefix: String): Seq[(String, Seq[String])] =
      schema.fields.toSeq.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val here =
          if (f.metadata.contains(GraftDataset.ClassNamesKey))
            Seq(name ->
              f.metadata.getStringArray(GraftDataset.ClassNamesKey).toSeq)
          else Nil
        here ++ (f.dataType match {
          case st: StructType => walk(st, name)
          case _ => Nil
        })
      }
    walk(stSchema, "").toMap
  }

  /** Dictionary-decoded name column for a class-label column. */
  def labelName(column: String): Column = {
    val names = classLabels.getOrElse(column,
      throw new IllegalArgumentException(s"$column has no class_names"))
    element_at(array(names.map(lit): _*), col(column).cast("int") + 1)
  }

  /** Drop a column. Existing files keep the physical column (no
    * rewrite), so a DROP MARKER rename (`name` → a reserved dead name no
    * schema can contain) retires the stale bytes from the live
    * namespace: a later `createTensor(name)` or `renameTensor(_, name)`
    * sees nulls/new data for old rows instead of silently resurrecting
    * the deleted column's values.
    */
  def deleteTensor(name: String): Unit = {
    require(stSchema.fieldNames.contains(name), s"no column $name")
    stSchema = StructType(stSchema.fields.filterNot(_.name == name))
    stRenames :+= (name, s"$DropPrefix${stRenames.size}_$name")
    if (stStatsNormalized) // keys are current-space → `name` is this col
      stStats = stStats.map { case (f, m) => f -> (m - name) }
    dirty = true; pendingRewrite = false
  }

  def renameTensor(from: String, to: String): Unit = {
    require(!to.startsWith(DropPrefix), s"$DropPrefix names are reserved")
    appendRename(from, to)
  }

  /** Rename a column by appending to the rename chain (no data moves). */
  private def appendRename(from: String, to: String): Unit = {
    require(stSchema.fieldNames.contains(from), s"no column $from")
    require(!stSchema.fieldNames.contains(to), s"column $to exists")
    stSchema = StructType(stSchema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    stRenames :+= (from, to)
    // keep skipping stats usable: every live entry predates this rename
    // and (by the normalization invariant) keys its stats by the names
    // just before it — rename the key alongside the column
    if (stStatsNormalized)
      stStats = stStats.map { case (f, m) =>
        f -> m.get(from).map(s => m - from + (to -> s)).getOrElse(m)
      }
    dirty = true; pendingRewrite = false
  }

  /** Append rows. Columns may be a subset of the schema (reference
    * `skip_ok` append semantics, crud_operations.py:140-258): missing
    * columns become null. Assigns dense uuids from the watermark via the
    * same two-pass shape `zipWithIndex` uses — per-partition counts, then
    * cumulative offsets — but entirely in DataFrame land: pass 1 is a
    * codegen'd count per `spark_partition_id`, pass 2 adds
    * offset(pid) + row-in-partition as a projection, so the ingest batch
    * never leaves Tungsten rows (the old `prepared.rdd.zipWithIndex`
    * deserialized every row to a Scala `Row` and back). The
    * row-in-partition index is the low 33 bits of
    * `monotonically_increasing_id()` (its documented layout:
    * partitionId << 33 | per-partition counter). Both passes assume
    * stable partitioning across the two jobs — a STRONGER assumption than
    * `zipWithIndex` made (which pinned partition structure once at RDD
    * creation), so pass 2 fails loudly if it ever sees a partition id
    * pass 1 did not (AQE re-coalescing, nondeterministic sources) rather
    * than silently writing null/colliding uuids.
    */
  def append(df: DataFrame): Unit = {
    val unknown = df.columns.filterNot(c => stSchema.fieldNames.contains(c))
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(",")}")
    val aligned = stSchema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    // uuid space: a globally-unique reservation per append shifted over a
    // 40-bit row index — collision-free across branches/writers
    val reservation = CommitLog.claimReservation(spark, root)
    val base = reservation << 40
    val prepared = df.select(aligned.toIndexedSeq: _*)
    // pass 1: per-partition counts (result is ≤ #partitions rows)
    val counts = prepared
      .groupBy(spark_partition_id().as("_pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (pid, n) =>
      val o = pid -> acc; acc += n; o
    }.toMap
    require(acc < (1L << 40), "append larger than 2^40 rows; split it")
    // the low-33-bit row-in-partition counter wraps at 2^33 rows in ONE
    // partition — pass 1 already has the per-partition counts, so refuse
    // loudly instead of writing colliding uuids
    require(counts.forall(_._2 < (1L << 33)),
      s"a partition holds >= 2^33 rows (max ${counts.map(_._2).max}); " +
        "repartition the input before append")
    // pass 2: uuid = base + offset(partition) + row-in-partition. An
    // unseen partition id — or a partition that produced MORE rows than
    // the count pass saw (a non-deterministic input re-executing between
    // the two jobs) — raises, never writes: an overgrown partition's
    // extra rows would otherwise take uuids from the NEXT partition's
    // range and silently collide, corrupting every later update/pop/
    // merge keyed on those uuids (a shrunken partition only leaves
    // harmless uuid gaps).
    val offsetOf = coalesce(
      element_at(typedlit(offsets), spark_partition_id()),
      raise_error(concat(
        lit("graft append: partition id "),
        spark_partition_id().cast("string"),
        lit(" absent from the count pass - input partitioning is " +
          "unstable across jobs; persist() or repartition the input"))))
    val rowIdx =
      monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    val countOf = coalesce(
      element_at(typedlit(counts.toMap), spark_partition_id()), lit(0L))
    val guardedIdx = when(rowIdx < countOf, rowIdx)
      .otherwise(raise_error(concat(
        lit("graft append: partition "),
        spark_partition_id().cast("string"),
        lit(" produced more rows than the count pass saw - the input " +
          "re-executes non-deterministically; persist() or repartition " +
          "the input"))))
    val withUuid = prepared.withColumn(UuidCol,
      lit(base) + offsetOf + guardedIdx)
    stFiles :+= writeData(withUuid, "base")
    dirty = true; pendingRewrite = false
  }

  /** In-place update (reference `ds.update` / `tensor[i] = v`,
    * crud_operations.py:216-258): rows matching `cond` get `assignments`
    * applied, written as a merge-on-read update file.
    */
  def update(cond: Column, assignments: Map[String, Column]): Long = {
    val bad = assignments.keySet.filterNot(stSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns: ${bad.mkString(",")}")
    val changed = assignments.foldLeft(snapshotWithUuid().filter(cond)) {
      case (d, (c, v)) => d.withColumn(c, v.cast(stSchema(c).dataType))
    }
    // ONE pass: write, then count from the written footers (no second
    // execution of the filter plan); an empty result unregisters itself
    val rel = writeData(changed, "update")
    val n = writtenRowCount(rel)
    if (n > 0) { stUpdates :+= rel; dirty = true; pendingRewrite = false } else deleteData(rel)
    n
  }

  /** Delete rows matching `cond` (reference `pop`,
    * crud_operations.py:259-292) — writes a uuid tombstone file.
    */
  def pop(cond: Column): Long = {
    val dead = snapshotWithUuid().filter(cond).select(UuidCol)
    // same single-pass shape as update: write + footer count
    val rel = writeData(dead, "tombstone")
    val n = writtenRowCount(rel)
    if (n > 0) { stTombstones :+= rel; dirty = true; pendingRewrite = false } else deleteData(rel)
    n
  }

  /** Rewrite the snapshot into fresh base files, collapsing update and
    * tombstone files (reference `rechunk`, dataset.py:1018-1035). Run
    * periodically to bound merge-on-read amplification.
    *
    * `clusterBy` makes this the RE-CLUSTER point at scale: rows hash-
    * partition on the keys and sort within partitions, so parquet
    * row-group min/max stats become tight on those columns — scans with
    * predicates on them skip whole row groups, and downstream joins on
    * the keys start from co-located files. (The OPTIMIZE ... ZORDER
    * pattern, one column set at a time.)
    */
  /** Parquet writer options enabling native bloom filters for `cols`:
    * row-group-granular point-lookup pruning the scan gets FOR FREE via
    * parquet-mr's predicate pushdown — the complement of min/max
    * skipping for high-cardinality columns where ranges are too wide to
    * exclude anything (doc ids, uuids, hashes). `ndv` sizes the filter
    * (bits ≈ -ndv·ln(fpp)/ln(2)²; parquet caps at 1 MiB/column).
    */
  private def bloomOptions(cols: Seq[String], ndv: Long): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)).toMap

  def compact(clusterBy: Seq[String] = Nil, zorder: Boolean = false,
              bloomFilterFor: Seq[String] = Nil,
              bloomExpectedNdv: Long = 1000000L): Unit = {
    val badBloom = bloomFilterFor.filterNot(stSchema.fieldNames.contains)
    require(badBloom.isEmpty, s"unknown bloom columns: ${badBloom.mkString(",")}")
    val bad = clusterBy.filterNot(stSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown cluster columns: ${bad.mkString(",")}")
    // a compact from a CLEAN state changes files but not logical rows —
    // its commit is marked rewrite so streaming tails skip it; compacting
    // on top of staged changes publishes a normal (data-changing) commit
    val rewriteOnly = !dirty
    val snap = snapshotWithUuid()
    // RANGE partitioning, not hash: each output file then covers a
    // DISJOINT slice of the cluster key, so per-file min/max stats are
    // tight and manifest file skipping prunes to the covering files —
    // hash would scatter every key range across all files and leave
    // both file skipping and row-group skipping with nothing to cut
    // (the OPTIMIZE ... ZORDER-lite this compaction mode is for).
    // `zorder = true` upgrades the lexicographic order to a TRUE Morton
    // interleave over sampled rank buckets ([[zorderKey]]): each file
    // then covers a hyper-rectangle of the cluster space, so skipping
    // prunes predicates on ANY cluster column, not just the leading one.
    val clustered =
      if (clusterBy.isEmpty) snap
      else if (zorder && clusterBy.size >= 2) {
        val zcol = "_zkey"
        snap.withColumn(zcol, zorderKey(snap, clusterBy))
          .repartitionByRange(spark.sparkContext.defaultParallelism,
            col(zcol))
          .sortWithinPartitions(col(zcol))
          .drop(zcol)
      } else snap
        .repartitionByRange(spark.sparkContext.defaultParallelism,
          clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    // Morton clustering is only as good as the range boundaries: the
    // default 100-samples-per-partition exchange places file cuts OFF
    // the curve's power-of-two corners, smearing every column's
    // per-file range across quadrant lines. A denser sample (driver-
    // side cost only, during this one maintenance job) keeps the cuts
    // on-curve so the hyper-rectangle property actually materializes.
    val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prevSample = if (zorder) Some(spark.conf.get(sampleKey)) else None
    if (zorder) spark.conf.set(sampleKey, "5000")
    val rel =
      try writeData(clustered, "compact",
        bloomOptions(bloomFilterFor, bloomExpectedNdv))
      finally prevSample.foreach(spark.conf.set(sampleKey, _))
    stFiles = Vector(rel); stUpdates = Vector.empty
    stTombstones = Vector.empty; stRenames = Vector.empty
    stEpochs = Map.empty; stStatsNormalized = true // fresh names + stats
    dirty = true; pendingRewrite = rewriteOnly
  }

  /** Incremental small-file compaction — Delta's OPTIMIZE bin-packing,
    * distinct from [[compact]] on exactly the axis that matters at
    * 100 TB: `compact()` rewrites the WHOLE snapshot (prohibitive as a
    * routine maintenance op on a large table), while this rewrites ONLY
    * base entries smaller than `targetBytes`, greedily binned to the
    * target size; everything else keeps its files untouched. Correct
    * under merge-on-read by construction: base entries are
    * position-independent (updates/tombstones key on `_uuid`, never on
    * file membership), so merging them changes no query answer.
    *
    * Small files are the steady-state failure mode of streaming ingest
    * (one entry per epoch) and frequent small appends: scan task counts
    * and footer/listing overheads grow per file. Run this periodically;
    * the stranded pre-images are reclaimed by [[vacuum]]. A clean-state
    * run publishes with the rewrite flag, so streaming tails skip it
    * (no re-emission), exactly like [[compact]].
    *
    * Returns (entriesRewritten, binsWritten).
    */
  def optimizeSmallFiles(targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val rewriteOnly = !dirty
    val f = CommitLog.fs(spark, root)
    // parallel sizing pre-pass: on the 10k-small-entry table this op
    // targets, serial per-entry listings would cost 10k round-trips
    // before any rewrite began
    val sized = CommitLog.parMap(stFiles)(rel =>
      rel -> CommitLog.entryBytes(f, root, rel))
    val (small, big) = sized.partition(_._2 < targetBytes)
    if (small.size < 2) return (0, 0) // nothing worth merging
    // greedy first-fit decreasing into ~targetBytes bins
    val bins = scala.collection.mutable.ArrayBuffer[
      (scala.collection.mutable.ArrayBuffer[String], Long)]()
    small.sortBy(-_._2).foreach { case (rel, bytes) =>
      bins.indexWhere(_._2 + bytes <= targetBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(rel), bytes))
        case i =>
          bins(i)._1 += rel
          bins(i) = (bins(i)._1, bins(i)._2 + bytes)
      }
    }
    val worthIt = bins.filter(_._1.size >= 2)
    if (worthIt.isEmpty) return (0, 0)
    val rewritten = worthIt.flatMap(_._1).toSet
    // each bin → ONE output file (the bins are sized to the target);
    // bins write as concurrent Spark jobs over a bounded pool
    val newEntries: Seq[String] =
      CommitLog.parMap(worthIt.map(_._1.toSeq).toSeq, cap = 8)(bin =>
        writeData(readManifest(bin,
          withUuidSchema(stSchema)).coalesce(1), "bin"))
    stFiles = stFiles.filterNot(rewritten.contains) ++ newEntries
    dirty = true; pendingRewrite = rewriteOnly
    (rewritten.size, newEntries.size)
  }

  /** The Morton clustering key for `compact(zorder = true)`: every
    * cluster column is rank-normalized into 2^bits buckets by binary
    * search over boundaries SAMPLED from the snapshot (numeric columns
    * via approx quantiles in one pass, strings via a bounded sample
    * sorted under the same unsigned-UTF-8 order parquet stats use),
    * then the bucket bits are interleaved. Rank buckets — not raw
    * values — keep the interleave balanced under skew, which is what
    * makes Morton ranges behave like hyper-rectangles.
    */
  private[format] def zorderKey(snap: DataFrame,
                        clusterBy: Seq[String]): Column = {
    import org.apache.spark.sql.graftnative.ZOrder
    // 2^10 buckets per column: orders of magnitude above any realistic
    // output file count (the granularity that matters for pruning),
    // while keeping the quantile summaries' merge/query cost modest
    val bits = math.min(10, 63 / clusterBy.size)
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val numeric = clusterBy.filter(c => stSchema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           _: org.apache.spark.sql.types.DateType |
           _: org.apache.spark.sql.types.TimestampType => true
      case _ => false
    })
    // DATE cannot cast straight to double (disallowed since Spark 3.0);
    // route it through timestamp (one session-zone conversion, identical
    // for boundaries and values, so bucket assignment is consistent)
    def asDouble(c: String): Column = stSchema(c).dataType match {
      case _: org.apache.spark.sql.types.DateType =>
        col(c).cast("timestamp").cast("double")
      case _ => col(c).cast("double")
    }
    // one quantile job covers every numeric column
    val numBounds: Map[String, Array[Double]] =
      if (numeric.isEmpty) Map.empty
      else {
        val casted = snap.select(numeric.map(c =>
          asDouble(c).as(c)): _*)
        // drop the SMALLEST boundary: the first quantile is ~the column
        // min, and a boundary at the min shifts every bucket up by one —
        // for low-cardinality columns that pushes the max value into an
        // extra bit and knocks the Morton quadrant populations off the
        // power-of-two corners the range cuts need to land on
        numeric.zip(casted.stat.approxQuantile(numeric.toArray, probs, 0.005))
          .map { case (c, b) => c -> b.distinct.sorted.drop(1) }.toMap
      }
    val ids = clusterBy.map { c =>
      stSchema(c).dataType match {
        case _ if numBounds.contains(c) =>
          ZOrder.rangeBucketDouble(asDouble(c), numBounds(c))
        case _: org.apache.spark.sql.types.StringType =>
          // bounded sample (RangePartitioner-style); the fraction is
          // sized from the base files' FOOTER row counts so the sample
          // job reads ~targetRows regardless of table size; sorted under
          // UTF8String.binaryCompare = the parquet stats collation
          val targetRows = nBuckets * 16
          val estimate = math.max(1L, footerRows(stFiles))
          val fraction = math.min(1.0, targetRows * 2.0 / estimate)
          val sample = snap.select(col(c)).filter(col(c).isNotNull)
            .sample(withReplacement = false, fraction, seed = 42)
            .limit(targetRows)
            .collect().map(_.getString(0))
            .sortWith((a, b) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(a)
                .binaryCompare(
                  org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
          // EXACTLY ≤ nBuckets-1 evenly-spaced probes, mirroring the
          // numeric quantile path: a step-based walk can emit up to
          // ~2×nBuckets bounds when the sample size is not a multiple
          // of nBuckets, and a bucket id ≥ 2^bits would alias onto a
          // LOW rank in the interleave (which reads only bits 0..bits-1)
          // — scattering the top-ranked strings into the bottom Morton
          // quadrant and silently widening every file's stat range.
          // The sampled min is excluded for the same 0-based-bucket
          // reason as the numeric path.
          val bounds =
            if (sample.isEmpty) Array.empty[String]
            else (1 until nBuckets).map(k =>
                sample((k.toLong * sample.length / nBuckets).toInt))
              .filter(_ != sample.head).distinct.toArray
          ZOrder.rangeBucketString(col(c), bounds)
        case other =>
          // no natural rank order to sample (binary/arrays/maps):
          // constant bucket — the column contributes nothing to the
          // interleave instead of poisoning it
          lit(0)
      }
    }
    ZOrder.interleaveBits(ids, bits)
  }

  // ---- version control ----------------------------------------------------

  def commit(message: String, allowEmpty: Boolean = false): String =
    commitGuarded(message, allowEmpty).get

  /** [[commit]] with a DUPLICATE GUARD re-checked after every lost
    * branch-pointer CAS: when `alreadyApplied(newHeadId)` is true the
    * commit ABORTS (None) instead of rebasing onto the winner — the
    * Delta txnVersion-recheck, for the streaming sink's exactly-once
    * markers. Two zombie runs of one query both pass the sink's
    * PRE-commit marker check (read-then-act), both publish, one loses
    * the CAS; without the guard the loser's rebase auto-commutes the
    * pure append and the batch lands twice. An aborted commit's staged
    * data files are unreferenced (the lost-race commit file is already
    * reclaimed below) and vacuum collects them like any lost-race
    * leftovers.
    */
  private[format] def commitGuarded(message: String,
      allowEmpty: Boolean = false,
      alreadyApplied: String => Boolean = _ => false): Option[String] = {
    require(dirty || allowEmpty, "nothing to commit (allowEmpty=false)")
    var result: Option[String] = None
    var aborted = false
    var rebasesLeft = MaxCommitRebases
    var idRetries = 64
    while (result.isEmpty && !aborted) {
      val id = CommitLog.nextCommitId(spark, root)
      try { publishCommit(id, message, headId, None); result = Some(id) }
      catch {
        // typed matches cover the non-file:// stores (HDFS/S3A throw
        // FileAlreadyExistsException from create(overwrite=false)); the
        // message match covers the local hard-link wrap
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException)
            if idRetries > 0 =>
          idRetries -= 1
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already exists")
              && idRetries > 0 =>
          // lost the COMMIT-ID allocation race (another writer claimed
          // the same next id): nothing about our staged state is stale —
          // take the next id and republish; if the winner also advanced
          // our branch, the branch CAS below surfaces that as a
          // ConcurrentModificationException and the rebase path decides
          idRetries -= 1
        case e: java.util.ConcurrentModificationException =>
          // Delta-style logical conflict resolution: a lost branch-pointer
          // CAS does not force the user to redo the WRITE when the staged
          // change and the winner's commits provably commute — the retry
          // is metadata-only (the data files already exist). The commit
          // FILE for this id was already written (the CAS runs after it):
          // reclaim it before republishing under a new id, or one orphan
          // per lost race accrues in _graft/commits forever — never on any
          // branch, never vacuumed, inflating every readAllCommits sweep.
          // Safe: nothing reachable points at an id whose CAS lost (the
          // pointer never advanced), and the ancestry strip guards the
          // rare hint-loss id-reuse path.
          try {
            CommitLog.deleteCommitFile(spark, root, id)
            CommitLog.dropFromAncestry(spark, root, Set(id))
          } catch { case _: java.io.IOException => () } // best-effort
          // duplicate guard BEFORE rebasing: the winner that took the
          // pointer may BE this very change (a zombie twin of this
          // query) — republishing would apply it twice
          if (branchName.exists(b => CommitLog.readBranches(spark, root)
              .get(b).exists(alreadyApplied))) {
            aborted = true
          } else {
          if (rebasesLeft <= 0 || !(rebaseAppendsOntoBranchHead() ||
              rebaseRewriteOntoBranchHead() ||
              rebaseMutationsOntoBranchHead())) throw e
          rebasesLeft -= 1
          // jittered backoff breaks convoys: under heavy same-table
          // contention a straight retry tends to lose the CAS to the
          // same steady committers again and again until the budget
          // starves; a short randomized pause (growing with each loss)
          // lets the retrier slip between their commits
          val lost = MaxCommitRebases - rebasesLeft
          Thread.sleep(
            scala.util.Random.nextInt(25 * math.min(lost, 8)).toLong)
          }
      }
    }
    if (aborted) None else result
  }

  /** Rebase a lost optimistic commit onto the branch's new head, when
    * that is provably safe: our staged change is APPEND-ONLY relative to
    * the parent we loaded (new base entries only — no updates, pops,
    * renames, or schema changes of ours), and the winner left schema and
    * rename chain untouched. Appended rows commute with anything the
    * winner did to OTHER rows: uuids are collision-free by construction
    * ([[CommitLog.claimReservation]] — each appender atomically claims a
    * disjoint uuid block), so the winner's updates/tombstones cannot
    * reference ours, and file skipping stats ride along per entry. At
    * scale this is what lets N ingest jobs append to one table without
    * a lock or a user-level retry loop. Returns false (caller rethrows)
    * for anything else — conflicts that need user semantics stay loud.
    */
  private def rebaseAppendsOntoBranchHead(): Boolean = {
    val b = branchName.getOrElse(return false)
    val newHeadId = CommitLog.readBranches(spark, root)
      .getOrElse(b, return false)
    val parentId = headId
    if (parentId.contains(newHeadId)) return false
    // a None parent is the CREATE race: two writers (e.g. two streaming
    // queries starting against one empty table) both staged the table's
    // FIRST commit and ours lost the branch CAS. Synthesize the empty
    // pre-state with OUR schema: the append-only check below then
    // demands we staged nothing but base files, and the compatibility
    // check demands the winner established the SAME schema — anything
    // else (diverging create schemas) stays a loud conflict.
    val parent = parentId.map(CommitLog.readCommit(spark, root, _))
      .getOrElse(CommitMeta(id = "", parent = None, mergeParent = None,
        message = "", timestampMs = 0L, schemaJson = stSchema.json,
        files = Nil, updates = Nil, tombstones = Nil, renames = Nil))
    val head = CommitLog.readCommit(spark, root, newHeadId)
    val parentFiles = parent.files.toSet
    val appended = stFiles.filterNot(parentFiles)
    val appendOnly =
      stFiles.filter(parentFiles) == parent.files.toVector &&
        stUpdates.toSeq == parent.updates &&
        stTombstones.toSeq == parent.tombstones &&
        stRenames.map(p => Seq(p._1, p._2)).toSeq == parent.renames &&
        stSchema.json == parent.schemaJson
    val headCompatible =
      head.schemaJson == parent.schemaJson && head.renames == parent.renames
    if (!appendOnly || !headCompatible) return false
    // adopt the winner's state wholesale; graft only OUR new entries
    // (with their stats and epochs) on top
    val appendedSet = appended.toSet
    val ourStats = stStats.view.filterKeys(k =>
      appended.exists(e => k == e || k.startsWith(e + "/"))).toMap
    val ourEpochs = stEpochs.filter { case (k, _) => appendedSet(k) }
    headId = Some(newHeadId)
    stFiles = head.files.toVector ++ appended
    stUpdates = head.updates.toVector
    stTombstones = head.tombstones.toVector
    stRenames = head.renames.map(p => (p(0), p(1))).toVector
    stStats = head.stats.getOrElse(Map.empty) ++ ourStats
    stEpochs = head.epochs.getOrElse(Map.empty) ++ ourEpochs
    stStatsNormalized = head.statsNormalized.getOrElse(head.renames.isEmpty)
    stSchema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
    true
  }

  /** Rebase a lost REWRITE commit (clean-state [[optimizeSmallFiles]] /
    * [[compact]]) onto the branch's new head, when that is provably
    * safe — the Delta OPTIMIZE conflict resolution, and what lets
    * routine maintenance run alongside live ingest without a user-level
    * retry loop. Conditions:
    *   - our staged change is a PURE base-entry rewrite vs the parent we
    *     loaded: updates/tombstones/renames/schema all verbatim equal
    *     (a FOLDING compact resets them and stays a loud conflict), only
    *     `files` changed — some entries replaced by repacked ones;
    *   - the winner kept every entry we replaced in its manifest (nobody
    *     else rewrote them) and left schema + rename chain untouched.
    * Then the rewrite commutes with whatever the winner did: base bytes
    * are immutable and position-independent, the winner's new
    * updates/tombstones key on `_uuid` and apply merge-on-read over the
    * repacked bases unchanged, and the winner's new base entries simply
    * stay unpacked until the next maintenance pass. The rebased commit
    * adopts the winner's state wholesale, swaps the replaced entries for
    * ours (stats + epochs riding along — valid because the rename chain
    * is unchanged), and keeps its rewrite flag so feeds still skip it.
    */
  private def rebaseRewriteOntoBranchHead(): Boolean = {
    if (!pendingRewrite) return false
    val b = branchName.getOrElse(return false)
    val newHeadId = CommitLog.readBranches(spark, root)
      .getOrElse(b, return false)
    val parentId = headId.getOrElse(return false) // rewrites have a parent
    if (parentId == newHeadId) return false
    val parent = CommitLog.readCommit(spark, root, parentId)
    val head = CommitLog.readCommit(spark, root, newHeadId)
    val parentFiles = parent.files.toSet
    val stFileSet = stFiles.toSet
    val replaced = parent.files.filterNot(stFileSet)
    val packed = stFiles.filterNot(parentFiles)
    val rewriteOnly = replaced.nonEmpty &&
      stUpdates.toSeq == parent.updates &&
      stTombstones.toSeq == parent.tombstones &&
      stRenames.map(p => Seq(p._1, p._2)).toSeq == parent.renames &&
      stSchema.json == parent.schemaJson
    val headFiles = head.files.toSet
    val headCompatible =
      head.schemaJson == parent.schemaJson &&
        head.renames == parent.renames &&
        replaced.forall(headFiles)
    if (!rewriteOnly || !headCompatible) return false
    val replacedSet = replaced.toSet
    val packedSet = packed.toSet
    val ourStats = stStats.view.filterKeys(k =>
      packed.exists(e => k == e || k.startsWith(e + "/"))).toMap
    val ourEpochs = stEpochs.filter { case (k, _) => packedSet(k) }
    headId = Some(newHeadId)
    stFiles = head.files.toVector.filterNot(replacedSet) ++ packed
    stUpdates = head.updates.toVector
    stTombstones = head.tombstones.toVector
    stRenames = head.renames.map(p => (p(0), p(1))).toVector
    // adopt the winner's stats/epochs MINUS the entries this rebase just
    // removed from the manifest — carrying them would commit dead keys
    // that every descendant inherits forever (metadata bloat, not a
    // correctness issue: lookups are manifest-driven)
    stStats = head.stats.getOrElse(Map.empty).view.filterKeys(k =>
      !replaced.exists(e => k == e || k.startsWith(e + "/"))).toMap ++ ourStats
    stEpochs = head.epochs.getOrElse(Map.empty)
      .filter { case (k, _) => !replacedSet(k) } ++ ourEpochs
    // conservative AND: never claim normalized stat keys the winner (or
    // our own pre-rebase handle) did not
    stStatsNormalized = stStatsNormalized &&
      head.statsNormalized.getOrElse(head.renames.isEmpty)
    stSchema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
    true
  }

  /** Rebase a lost commit that staged uuid-keyed MUTATIONS (update /
    * pop entries, optionally alongside appends) onto the branch's new
    * head, when that is provably safe — what lets an enrichment job
    * run beside live ingest and maintenance without a lock. Our
    * mutations are SNAPSHOT-SCOPED row edits pinned to `_uuid`: the
    * rows they touch are exactly the rows our handle read, so they
    * commute with a winner that only APPENDED (disjoint uuid spaces by
    * reservation) or only REWROTE base entries (uuid-preserving, and
    * update/tombstone entries apply merge-on-read by uuid over any base
    * layout). A winner whose own update/tombstone lists ALSO grew
    * commutes exactly when the two sides' new entries touch DISJOINT
    * uuid sets — checked with one tiny join over just the racing
    * entries (row-level conflict detection, finer than Delta's
    * file-level check: two enrichment jobs on disjoint slices never
    * block each other). OVERLAPPING mutations stay a loud conflict
    * needing user semantics: update postimages are FULL rows computed
    * against OUR parent snapshot, so replaying them over the winner's
    * edit of the SAME row would silently clobber it (and any silent
    * last-wins ordering between the two would be an arbitrary pick) —
    * Delta's ConcurrentDeleteRead/WriteException family. A winner that
    * FOLDED the lists (compact over outstanding churn) stays loud too.
    */
  private def rebaseMutationsOntoBranchHead(): Boolean = {
    val b = branchName.getOrElse(return false)
    val newHeadId = CommitLog.readBranches(spark, root)
      .getOrElse(b, return false)
    val parentId = headId.getOrElse(return false) // mutations need rows
    if (parentId == newHeadId) return false
    val parent = CommitLog.readCommit(spark, root, parentId)
    val head = CommitLog.readCommit(spark, root, newHeadId)
    def extendsSeq(ours: Seq[String], base: Seq[String]) =
      ours.length >= base.length && ours.take(base.length) == base
    val newFiles = stFiles.drop(parent.files.length)
    val newUpdates = stUpdates.drop(parent.updates.length)
    val newTombstones = stTombstones.drop(parent.tombstones.length)
    val mutationOnly =
      (newUpdates.nonEmpty || newTombstones.nonEmpty) &&
        extendsSeq(stFiles.toSeq, parent.files) &&
        extendsSeq(stUpdates.toSeq, parent.updates) &&
        extendsSeq(stTombstones.toSeq, parent.tombstones) &&
        stRenames.map(p => Seq(p._1, p._2)).toSeq == parent.renames &&
        stSchema.json == parent.schemaJson
    val headNewUpdates = head.updates.drop(parent.updates.length)
    val headNewTombstones = head.tombstones.drop(parent.tombstones.length)
    val headCompatible =
      head.schemaJson == parent.schemaJson &&
        head.renames == parent.renames &&
        extendsSeq(head.updates, parent.updates) &&
        extendsSeq(head.tombstones, parent.tombstones)
    if (!mutationOnly || !headCompatible) return false
    // the winner also mutated: commutes iff the two sides' new entries
    // touch disjoint uuid sets. One join over ONLY the racing entries —
    // cost scales with the churn of the two commits, never the table —
    // with no driver-side uuid materialization.
    if (headNewUpdates.nonEmpty || headNewTombstones.nonEmpty) {
      val ours = readUuids(newUpdates ++ newTombstones)
      val theirs = readUuids(headNewUpdates ++ headNewTombstones)
      if (!ours.join(theirs, UuidCol).isEmpty) return false
    }
    val newEntries = (newFiles ++ newUpdates ++ newTombstones).toSet
    val ourStats = stStats.view.filterKeys(k =>
      newFiles.exists(e => k == e || k.startsWith(e + "/"))).toMap
    val ourEpochs = stEpochs.filter { case (k, _) => newEntries(k) }
    headId = Some(newHeadId)
    stFiles = head.files.toVector ++ newFiles
    stUpdates = head.updates.toVector ++ newUpdates
    stTombstones = head.tombstones.toVector ++ newTombstones
    stRenames = head.renames.map(p => (p(0), p(1))).toVector
    stStats = head.stats.getOrElse(Map.empty) ++ ourStats
    stEpochs = head.epochs.getOrElse(Map.empty) ++ ourEpochs
    stStatsNormalized = stStatsNormalized &&
      head.statsNormalized.getOrElse(head.renames.isEmpty)
    stSchema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
    true
  }

  private def publishCommit(id: String, message: String,
                            parent: Option[String],
                            mergeParent: Option[String]): Unit = {
    CommitLog.writeCommit(spark, root, CommitMeta(
      id = id, parent = parent, mergeParent = mergeParent, message = message,
      timestampMs = System.currentTimeMillis(),
      schemaJson = stSchema.json,
      files = stFiles, updates = stUpdates, tombstones = stTombstones,
      renames = stRenames.map(p => Seq(p._1, p._2)),
      rewrite = if (pendingRewrite) Some(true) else None,
      stats = {
        val live = stStats.view.filterKeys(k =>
          stFiles.exists(e => k == e || k.startsWith(e + "/"))).toMap
        if (live.isEmpty) None else Some(live)
      },
      epochs = {
        val entries = (stFiles ++ stUpdates ++ stTombstones).toSet
        val live = stEpochs.filter { case (e, n) => n > 0 && entries(e) }
        if (live.isEmpty) None else Some(live)
      },
      statsNormalized =
        if (stRenames.nonEmpty && stStatsNormalized) Some(true) else None))
    CommitLog.advanceCommitHint(spark, root, id)
    // Optimistic concurrency on the branch pointer: advance it only if it
    // still points at this commit's parent. A stale writer (someone else
    // committed since we loaded HEAD) fails here instead of silently
    // orphaning the other writer's commit; its already-written commit file
    // is harmless garbage. (The reference serializes writers with storage
    // locks, commits.py:383-399; we detect instead of block. The small
    // read-check-write window assumes one writer per branch at a time,
    // same as the reference's lock scope.)
    branchName.foreach { b =>
      // JVM-wide lock closes the read-check-write window for the
      // in-process multi-writer case (multiple threads / streaming
      // queries share one driver): without it two racing threads can
      // BOTH pass the parent check and the second silently clobbers the
      // first's pointer advance. Cross-PROCESS writers keep the
      // documented small-window contract (one writer per branch).
      GraftDataset.branchCasLock(
          CommitLog.fs(spark, root).makeQualified(new Path(root)).toString)
        .synchronized {
        // the JVM lock serializes THIS driver's threads cheaply; the
        // lock FILE serializes drivers across processes (see
        // CommitLog.withBranchLock) — without it two drivers passing
        // the parent check together silently orphan one commit
        CommitLog.withBranchLock(spark, root) {
          val heads = CommitLog.readBranches(spark, root)
          if (heads.get(b) != parent)
            throw new java.util.ConcurrentModificationException(
              s"branch $b moved from $parent to ${heads.get(b)} since checkout; " +
                "reset() and retry")
          CommitLog.writeBranches(spark, root, heads + (b -> id))
        }
      }
    }
    headId = Some(id)
    dirty = false
    pendingRewrite = false
  }

  def branches: Map[String, String] = CommitLog.readBranches(spark, root)

  /** First-parent history from HEAD (reference `log`/`commits`). */
  def log: Seq[CommitMeta] = {
    val out = Vector.newBuilder[CommitMeta]
    var cur = headId
    while (cur.isDefined) {
      val m = CommitLog.readCommit(spark, root, cur.get)
      out += m
      cur = m.parent
    }
    out.result()
  }

  /** Newest first-parent commit from HEAD whose message equals
    * `message`, or None — the marker-matched read of the cross-table
    * contract (SCALE.md "What spans tables and what doesn't"). Two
    * tables coordinated by idempotent commit markers (the streaming
    * sink's epoch markers, [[graft.streaming.StreamingDedup]]'s
    * `dedup[token] batch N` pairs, `GraftStreaming.replicate`) have no
    * cross-table atomic commit; a consistent PAIR is read by resolving
    * the SAME marker on each table and pinning both snapshots:
    * {{{
    *   val c1 = sinkDs.commitForMessage(m).get
    *   val c2 = stateDs.commitForMessage(m).get
    *   sinkDs.snapshotAt(c1).join(stateDs.snapshotAt(c2), ...)
    * }}}
    * Walks newest→oldest through the ancestry checkpoint
    * ([[CommitLog.firstParentByMessage]]) and stops at the first hit:
    * checkpointed commits cost zero file reads, so both a hit deep in
    * history and a MISS on a long-lived branch cost one checkpoint read
    * plus at most [[CommitLog.checkpointSlack]] cold commit reads — the
    * pre-r18 walk paid one serial driver read per commit, O(history) on
    * a miss.
    */
  def commitForMessage(message: String): Option[String] =
    CommitLog.firstParentByMessage(spark, root, headId, message)

  /** [[commitForMessage]] + [[snapshotAt]]: the table as of the newest
    * commit carrying `message`; errors if no commit does.
    */
  def snapshotAtMessage(message: String): DataFrame =
    snapshotAt(commitForMessage(message).getOrElse(
      throw new IllegalArgumentException(
        s"no commit on the current branch has message '$message'")))

  /** Every commit in the table, newest first (reference `commits`). */
  def allCommits: Seq[CommitMeta] =
    CommitLog.listCommits(spark, root).sorted.reverse
      .map(CommitLog.readCommit(spark, root, _))

  /** Direct children of a commit across all branches (reference
    * `get_children_nodes`).
    */
  def children(commitId: String): Seq[String] =
    allCommits.filter(m =>
      m.parent.contains(commitId) || m.mergeParent.contains(commitId))
      .map(_.id).sorted

  /** Commits on the first-parent path from `ancestorId` (exclusive) to
    * `descendantId` (inclusive) — reference `commits_between`.
    */
  def commitsBetween(ancestorId: String, descendantId: String): Seq[CommitMeta] = {
    val out = Vector.newBuilder[CommitMeta]
    var cur: Option[String] = Some(descendantId)
    var found = false
    while (cur.isDefined && !found) {
      val m = CommitLog.readCommit(spark, root, cur.get)
      if (m.id == ancestorId) found = true
      else { out += m; cur = m.parent }
    }
    require(found, s"$ancestorId is not a first-parent ancestor of $descendantId")
    out.result().reverse
  }

  /** Switch branch/commit; `create=true` branches from HEAD (reference
    * checkout, commits.py:184-253). Uncommitted changes must be committed
    * or `reset()` first.
    */
  def checkout(ref: String, create: Boolean = false): Unit = {
    require(!dirty, "uncommitted changes; commit or reset first")
    if (create) {
      // read-modify-write of the pointer map: cross-process locked, or a
      // racing commit's pointer advance could be silently overwritten
      CommitLog.withBranchLock(spark, root) {
        val heads = branches
        require(!heads.contains(ref), s"branch $ref exists")
        CommitLog.writeBranches(spark, root, heads + (ref -> headId.getOrElse(
          throw new IllegalStateException("cannot branch before first commit"))))
      }
      branchName = Some(ref)
    } else branches.get(ref) match {
      case Some(commitId) =>
        branchName = Some(ref); headId = Some(commitId); loadHead()
      case None => // detached checkout of a commit id
        require(CommitLog.listCommits(spark, root).contains(ref),
          s"no branch or commit $ref")
        branchName = None; headId = Some(ref); loadHead()
    }
  }

  /** Discard uncommitted changes (reference `reset(force)`). */
  def reset(): Unit = loadHead()

  /** Delete a branch AND physically reclaim its exclusive commits and
    * data (reference `delete_branch`, version_control/functions.py:966-1041:
    * "deletes the branch and cleans up any unneeded data"). Guards mirror
    * the reference's: not the current branch, not `main`, must exist, and
    * nothing outside the purged set may point at it. Where the reference
    * refuses merged branches outright, merged history here is simply NOT
    * exclusive (it is reachable from the surviving heads), so the delete
    * degrades to a safe pointer drop — same data guarantees, fewer hard
    * errors. The refusal only remains for dangling commits (lost-race
    * writers) whose parent sits inside the purged set. One guard the
    * reference lacks: a saved view or persisted index pinned to a branch
    * commit blocks deletion instead of silently breaking later.
    */
  def deleteBranch(name: String): Unit = {
    require(!branchName.contains(name), "cannot delete the current branch")
    require(name != "main", "cannot delete the main branch")
    val heads = branches
    require(heads.contains(name), s"no branch $name")
    val otherRoots = (heads - name).values.toSet ++ headId
    val reachable =
      otherRoots.flatMap(CommitLog.ancestors(spark, root, _))
    val exclusive =
      CommitLog.ancestors(spark, root, heads(name)) -- reachable
    // pointer drops re-read under the cross-process lock: writing the
    // STALE map back would silently erase any pointer advance a racing
    // commit landed between our read and this write
    def dropPointer(expected: String): Unit =
      CommitLog.withBranchLock(spark, root) {
        val cur = CommitLog.readBranches(spark, root)
        if (!cur.get(name).contains(expected))
          throw new java.util.ConcurrentModificationException(
            s"branch $name moved during delete (expected $expected, " +
              s"found ${cur.get(name)}); re-run deleteBranch")
        CommitLog.writeBranches(spark, root, cur - name)
      }
    if (exclusive.isEmpty) { // fully shared history: pointer drop only
      dropPointer(heads(name)); return
    }
    val all = CommitLog.readAllCommits(spark, root)
    // reference guard (functions.py:1003-1016): a commit OUTSIDE the
    // branch whose parent/mergeParent is inside means the branch was
    // merged or has sub-branches — refuse rather than orphan it
    all.values.find(m => !exclusive.contains(m.id) &&
        (m.parent.exists(exclusive.contains) ||
         m.mergeParent.exists(exclusive.contains)))
      .foreach(m => throw new IllegalArgumentException(
        s"cannot delete branch $name: commit ${m.id} (branch history was " +
          "merged or branched from)"))
    val pinned = pinnedCommits(excludeBranch = Some(name)).intersect(exclusive)
    require(pinned.isEmpty,
      s"cannot delete branch $name: saved views/indexes pin commits " +
        pinned.toSeq.sorted.mkString(", "))
    dropPointer(heads(name))
    // entries referenced ONLY by the purged commits are reclaimed; any
    // entry a surviving commit (or this instance's staged state) shares
    // stays on disk
    val survivorEntries = all.values
      .filterNot(m => exclusive.contains(m.id)).flatMap(entriesOf).toSet ++
      stFiles ++ stUpdates ++ stTombstones
    val doomed = exclusive.toSeq.sorted.flatMap(id =>
      all.get(id).toSeq.flatMap(entriesOf)).distinct
      .filterNot(survivorEntries.contains)
    exclusive.foreach(CommitLog.deleteCommitFile(spark, root, _))
    CommitLog.dropFromAncestry(spark, root, exclusive)
    doomed.foreach(deleteData)
  }

  // ---- storage reclamation ------------------------------------------------

  private def entriesOf(m: CommitMeta): Seq[String] =
    m.files ++ m.updates ++ m.tombstones

  /** Commits that must never lose data files: every branch head, this
    * instance's HEAD (possibly detached), every saved view's pinned
    * commit, and every persisted index's bound commit.
    */
  private def pinnedCommits(excludeBranch: Option[String] = None): Set[String] = {
    val f = CommitLog.fs(spark, root)
    val viewPins = views.flatMap(v =>
      indexMetaField(new Path(viewsDir, v), "commit")).filter(_.nonEmpty)
    val idxBase = new Path(root, "_graft/indexes")
    val idxPins =
      if (!f.exists(idxBase)) Nil
      else f.listStatus(idxBase).toSeq.flatMap(k => f.listStatus(k.getPath))
        .flatMap(c => indexCommit(c.getPath))
    ((branches -- excludeBranch).values ++ headId ++ viewPins ++ idxPins).toSet
  }

  private def vacuumFile = new Path(root, "_graft/vacuum.json")

  /** Watermark of the newest cutoff any completed vacuum used: commits
    * older than this MAY have lost data files, so time travel to them
    * first verifies their manifest still resolves (clean error instead
    * of a mid-scan path failure).
    */
  private[format] def vacuumCutoff(): Option[Long] = {
    val f = CommitLog.fs(spark, root)
    if (!f.exists(vacuumFile)) None
    else scala.util.Try {
      val in = f.open(vacuumFile)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (org.json4s.jackson.JsonMethods.parse(s) \ "cutoffMs")
        .extract[Long](org.json4s.DefaultFormats, implicitly[Manifest[Long]])
    }.toOption
  }

  private[format] def assertNotExpired(m: CommitMeta): Unit =
    vacuumCutoff().filter(m.timestampMs < _).foreach { _ =>
      val f = CommitLog.fs(spark, root)
      val missing = entriesOf(m).filterNot(e => f.exists(new Path(root, e)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"commit ${m.id} has been expired by vacuum (missing data: " +
          s"${missing.take(3).mkString(", ")}); time travel to it is no " +
          "longer possible")
    }

  /** Reclaim data entries no retained commit references — the Delta
    * `VACUUM` / Iceberg `expire_snapshots` + `remove_orphan_files` of
    * this format, and the unbounded-growth answer at 100 TB: every
    * update/compact strands its pre-image files in ancestor manifests
    * forever, so a table's physical footprint otherwise only grows. The
    * reference reclaims only on `delete_branch`; a general age-based
    * reclaim is above-parity.
    *
    * An entry survives if ANY of:
    *   - a protected commit references it (branch heads, view pins,
    *     index pins, this instance's HEAD, or any commit newer than
    *     `now - olderThanMs` — so readers within the retention window
    *     never lose files mid-query);
    *   - this instance's staged (uncommitted) manifest references it;
    *   - its newest file modification time is inside the retention
    *     window (protects in-flight writers in other JVMs whose commit
    *     is not yet published — same contract as Delta's VACUUM).
    * Everything else — including orphan dirs from crashed writers — is
    * deleted (or reported, with `dryRun=true`).
    *
    * Commit METADATA is never deleted: it is O(KB) per commit, and the
    * DAG shape must survive for merge/diff/LCA walks. Time travel to a
    * commit whose files were reclaimed fails with a clean error
    * ([[assertNotExpired]]). Streaming tails further behind than the
    * retention window fail the same way Delta's do — size the window
    * to the slowest reader.
    *
    * `olderThanMs <= 0` reclaims everything unreferenced immediately
    * (unsafe with concurrent writers; test/benchmark use).
    *
    * Returns a report: one row per live `data/` entry with its size and
    * status ∈ deleted | would_delete | kept_live | kept_recent.
    */
  def vacuum(olderThanMs: Long = GraftDataset.DefaultRetentionMs,
             dryRun: Boolean = false): DataFrame = {
    val now = System.currentTimeMillis()
    val cutoff = now - olderThanMs
    val all = CommitLog.readAllCommits(spark, root)
    // merge BASES stay usable: the pairwise LCA of live branch heads (+
    // this instance's HEAD) is what a future merge/diff reads its
    // three-way base snapshot from; it is neither a head nor (after the
    // retention window) recent, so without an explicit pin, vacuuming a
    // long-diverged pair of branches would permanently break merging
    // them. One ancestry walk per head pair — driver metadata only.
    val mergeBases = {
      val tips = (branches.values ++ headId).toSet.toSeq.sorted
      tips.combinations(2).flatMap { pair =>
        scala.util.Try(CommitLog.lca(spark, root, pair(0), pair(1))).toOption
      }.toSet
    }
    val protectedIds = pinnedCommits() ++ mergeBases ++
      all.values.collect { case m if m.timestampMs >= cutoff => m.id }
    val live: Set[String] =
      protectedIds.flatMap(id => all.get(id).toSeq.flatMap(entriesOf)) ++
        stFiles ++ stUpdates ++ stTombstones
    val f = CommitLog.fs(spark, root)
    val dataDir = new Path(root, "data")
    val children =
      if (!f.exists(dataDir)) Seq.empty
      else f.listStatus(dataDir).toSeq.sortBy(_.getPath.getName)
    // size + newest-mtime per entry are per-candidate listings —
    // parallelized like every other driver-side metadata sweep
    val report: Seq[(String, Long, String)] = {
      def classify(st: org.apache.hadoop.fs.FileStatus) = {
        val rel = s"data/${st.getPath.getName}"
        val inner = if (st.isDirectory) f.listStatus(st.getPath).toSeq else Seq(st)
        val bytes = inner.map(_.getLen).sum
        if (live.contains(rel)) (rel, bytes, "kept_live")
        else {
          val mtime = (st.getModificationTime +: inner.map(_.getModificationTime)).max
          if (mtime > cutoff) (rel, bytes, "kept_recent")
          else if (dryRun) (rel, bytes, "would_delete")
          else { f.delete(st.getPath, true); (rel, bytes, "deleted") }
        }
      }
      CommitLog.parMap(children)(classify)
    }
    if (!dryRun) {
      val newCutoff = math.max(vacuumCutoff().getOrElse(Long.MinValue),
        math.min(cutoff, now)) // future cutoffs cap at `now`: later commits are intact
      CommitLog.atomicReplace(spark, vacuumFile,
        org.json4s.jackson.Serialization.write(Map("cutoffMs" -> newCutoff))(
          org.json4s.DefaultFormats))
    }
    spark.createDataFrame(report).toDF("entry", "bytes", "status")
  }

  // ---- diff / merge -------------------------------------------------------

  private def resolveRef(ref: String): String =
    branches.getOrElse(ref,
      { require(CommitLog.listCommits(spark, root).contains(ref),
          s"no branch or commit $ref"); ref })

  private def threeWayIds(targetRef: String) = {
    val ourId = headId.getOrElse(throw new IllegalStateException("no HEAD"))
    val theirId = resolveRef(targetRef)
    val lcaId = CommitLog.lca(spark, root, ourId, theirId)
    (ourId, theirId, lcaId)
  }

  /** Semi-join the three frames of `tw` to the churn since the LCA: the
    * `_uuid`s of every manifest entry that is not shared by all three
    * commits. `frames` gives each frame's commit (LCA, ours, theirs) and
    * the renames applied to its snapshot. A uuid outside the churn lives
    * only in shared entries, so it reads the same row in all three
    * snapshots — provided the columns line up
    * ([[Versioning.uniformOutsideChurn]]) and the shared update entries
    * keep one order (last-wins). Otherwise `tw` is returned
    * unrestricted, which is what a dropped column or a compaction on
    * either side gives.
    */
  private def restrictToChurn(tw: ThreeWay,
      frames: Seq[(CommitMeta, Seq[(String, String)])]): ThreeWay = {
    val metas = frames.map(_._1)
    val lca = metas.head
    val shared = metas.map(entriesOf(_).toSet).reduce(_ intersect _)
    val sameOrder = metas.map(_.updates.filter(shared)).distinct.size == 1
    if (!sameOrder || !Versioning.uniformOutsideChurn(tw.schema, lca, frames)) tw
    else {
      val churn = metas.flatMap(entriesOf).distinct.filterNot(shared)
      val cands = if (churn.isEmpty) emptyDf(UuidSchema) else readUuids(churn)
      def keep(df: DataFrame) = df.join(cands, Seq(UuidCol), "left_semi")
      ThreeWay(keep(tw.lca), keep(tw.ours), keep(tw.theirs), tw.schema)
    }
  }

  /** The three-way inputs [[diff]] and [[detectMergeConflict]] join:
    * the LCA, HEAD and `targetRef` snapshots under HEAD's schema plus
    * the target-only columns, restricted to the churn since the LCA
    * unless `restrict` is false (the unrestricted form is the reference
    * the equivalence spec compares against).
    */
  private[format] def compareInputs(targetRef: String,
                                    restrict: Boolean = true): ThreeWay = {
    val (ourId, theirId, lcaId) = threeWayIds(targetRef)
    val metas = Seq(lcaId, ourId, theirId).map(CommitLog.readCommit(spark, root, _))
    val tw = ThreeWay(snapshotAtWithUuid(lcaId), snapshotAtWithUuid(ourId),
      snapshotAtWithUuid(theirId),
      Versioning.mergedSchema(stSchema, schemaOf(metas(2))))
    if (restrict) restrictToChurn(tw, metas.map(_ -> Nil)) else tw
  }

  /** Per-side change sets vs the LCA (reference `diff`). Joins only the
    * rows either side touched since the LCA (see [[Versioning]]). */
  def diff(targetRef: String): DataFrame = {
    val in = compareInputs(targetRef)
    Versioning.diffReport(in.lca, in.ours, in.theirs, in.schema)
  }

  /** Batch change feed (Delta's `table_changes`): every CDC event of
    * the first-parent commits in `(fromRef, toRef]`, in the same shape
    * the streaming `changeFeed=true` source emits — `insert` /
    * `update_postimage` (full rows) / `delete` (identity-only) events
    * with `_uuid` and `_commit_id`. Unlike [[diff]] (endpoint
    * comparison via snapshot joins), this reads ONLY the delta files of
    * the walked commits — the 100 TB path for "what changed since
    * commit X": cost scales with the churn, not the table. Rewrite-only
    * compaction commits contribute nothing; a schema change inside the
    * range fails loudly (the event schema is pinned); commits whose
    * files vacuum reclaimed fail with the clean expiry error.
    */
  def changes(fromRef: String = "", toRef: String = ""): DataFrame = {
    val toId =
      if (toRef.isEmpty) headId.getOrElse(
        throw new IllegalStateException("no HEAD"))
      else resolveRef(toRef)
    // empty fromRef = from the very beginning: the full feed bootstraps
    // a CDC replica (first commit's events included)
    val fromId = if (fromRef.isEmpty) None else Some(resolveRef(fromRef))
    val metas = fromId match {
      case Some(f) => commitsBetween(f, toId)
      case None =>
        new GraftDataset(spark, root, None, Some(toId)).log.reverse
    }
    var prev = fromId.map(CommitLog.readCommit(spark, root, _)).getOrElse(
      CommitMeta(id = "", parent = None, mergeParent = None, message = "",
        timestampMs = 0L,
        schemaJson = metas.headOption.fold(stSchema.json)(_.schemaJson),
        files = Nil, updates = Nil, tombstones = Nil, renames = Nil))
    // the feed's pinned schema: the range-START schema extended by every
    // column ADDED within the range (at its add-time name — a later
    // rename is announced as schema_change, not adopted, like any other
    // pinned name). Pre-add events null-backfill the added columns;
    // post-add events carry their values — without the extension the
    // pin would silently DROP them.
    val rangeAdds = {
      var p = prev
      // pinned names must stay UNIQUE: a tolerated sequence like
      // add x → pure-rename x→y → add x again would otherwise pin two
      // fields named x (adds keep their add-time name) and every
      // downstream select/toDF on the feed fails on the ambiguity —
      // fail here with the range-split contract instead
      val pinned = scala.collection.mutable.Set.empty[String]
      pinned ++= DataType.fromJson(prev.schemaJson)
        .asInstanceOf[StructType].fieldNames
      val b = Vector.newBuilder[org.apache.spark.sql.types.StructField]
      for (m <- metas) { // prev advances over rewrite commits too,
        if (!m.rewrite.contains(true) && // mirroring the event walk below
            m.schemaJson != p.schemaJson)
          GraftStream.addDelta(p, m).foreach { fs =>
            for (f <- fs) {
              require(pinned.add(f.name),
                s"schema changed at commit ${m.id}: column '${f.name}' " +
                  "collides with a name already pinned by this range " +
                  "(re-added after a rename?); change feeds are " +
                  "schema-pinned — anything else splits the range")
              b += f
            }
          }
        p = m
      }
      b.result()
    }
    val dataSchema = GraftStream.nullableData(withUuidSchema(StructType(
      DataType.fromJson(prev.schemaJson).asInstanceOf[StructType].fields ++
        rangeAdds)))
    val cdfSchema = StructType(dataSchema.fields :+
      StructField(GraftStream.ChangeTypeCol, StringType, nullable = false) :+
      StructField(GraftStream.CommitIdCol, StringType, nullable = false))
    val parts = Vector.newBuilder[DataFrame]
    for (m <- metas) {
      if (!m.rewrite.contains(true)) {
        // pure renames are tolerated exactly like the streaming feed:
        // events keep the range-start (pinned) names, and the rename is
        // announced as a one-row `schema_change` event (`_uuid` = -1)
        // for replicas to apply ([[applyChanges]] / renameDelta on the
        // event's commit meta)
        if (m.schemaJson != prev.schemaJson) {
          require(GraftStream.renameDelta(prev, m).isDefined ||
              GraftStream.addDelta(prev, m).isDefined,
            s"schema changed at commit ${m.id}; change feeds are " +
              "schema-pinned — pure column renames and pure column adds " +
              "are expressed as schema_change events, anything else " +
              "splits the range")
          parts += GraftStream.schemaChangeEvent(spark, cdfSchema, m.id)
        }
        GraftStream.requireDeltaExpressible(m, prev)
        assertNotExpired(m)
        parts ++= GraftStream.changeEvents(spark, root, dataSchema, m, prev)
      }
      prev = m
    }
    parts.result().reduceOption(_ unionByName _)
      .getOrElse(emptyDf(cdfSchema))
      .select(cdfSchema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Apply a change feed to THIS table — the replica side of CDC
    * replication, and the inverse of [[changes]] / the streaming
    * `changeFeed=true` source. Each event kind maps DIRECTLY onto the
    * format's own file kinds, so applying N events costs one write per
    * kind, not one operation per row:
    *   - `insert` rows → one base entry (uuid-PRESERVING: the feed's
    *     `_uuid` is the replica's row identity),
    *   - `update_postimage` rows → one update file (merge-on-read
    *     last-wins does the rest; multi-commit feeds are deduped to the
    *     LATEST postimage per uuid by `_commit_id` first),
    *   - `delete` rows → one tombstone file.
    * Contract: a replica fed this way is identified by the SOURCE's
    * uuids — write it exclusively through applyChanges (local appends
    * would mint uuids from this table's own reservation space and could
    * collide with the source's), and apply feeds FORWARD only: ranges
    * must start at or after the replica's last applied commit.
    * Re-applying an OLDER overlapping range would land its stale
    * postimages in a newer update file and silently roll live rows
    * back (update resolution is file-ordered, not commit-ordered).
    * The bootstrap re-application path is safe by construction — a
    * fresh feed's snapshot is always at or ahead of the replica.
    * The caller commits. Returns (inserts, updates, deletes) applied.
    */
  def applyChanges(events: DataFrame,
                   dedupInserts: Boolean = true,
                   reconcileDeletes: Boolean = false): (Long, Long, Long) = {
    val need = Seq(GraftStream.ChangeTypeCol, GraftStream.CommitIdCol, UuidCol)
    require(need.forall(events.columns.contains),
      s"not a change feed: expected columns ${need.mkString(", ")}")
    require(!reconcileDeletes || dedupInserts,
      "reconcileDeletes needs the replica uuid scan dedupInserts provides")
    val tpe = col(GraftStream.ChangeTypeCol)
    val dataCols = withUuidSchema(stSchema).fieldNames.toIndexedSeq.map(col)
    // loud contract at schema-evolution boundaries: this is the LOW-LEVEL
    // apply — events map onto file kinds under the REPLICA's current
    // schema. A feed carrying data columns this replica lacks (a source
    // column ADD) or schema_change events (add or rename announcements)
    // spans a source schema change; projecting to dataCols would silently
    // DISCARD the new column's values and the announcement, permanently
    // diverging the replica with no error. The caller adopts first
    // (GraftStreaming.replicate adopts renames and trailing adds
    // automatically) or aligns/filters the feed explicitly.
    val unknownCols = events.columns.toSet --
      Set(GraftStream.ChangeTypeCol, GraftStream.CommitIdCol) --
      withUuidSchema(stSchema).fieldNames
    require(unknownCols.isEmpty,
      s"change feed carries columns this replica lacks: " +
        s"${unknownCols.mkString(", ")} — adopt the source's schema " +
        "change first (GraftStreaming.replicate does this automatically) " +
        "or align the feed to the replica's schema")
    // three writes consume the feed — persist so the (possibly
    // expensive: bootstrap snapshot, multi-commit delta) plan runs once
    val cached = events.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var replicaIdsCache: Option[DataFrame] = None
    try {
      require(cached.filter(tpe === "schema_change").limit(1).count() == 0L,
        "change feed contains schema_change events (a source rename or " +
          "column add in range) — apply them to the replica first " +
          "(GraftStreaming.replicate does this automatically) or filter " +
          "them out explicitly after aligning the feed")
      // row-level idempotency with UPSERT semantics: an insert whose
      // uuid this replica already carries (a replayed bootstrap after a
      // lost checkpoint) must not be dropped —
      // a bootstrap snapshot folds later updates into its insert
      // events, so discarding it would strand a behind replica at its
      // stale value forever. Fresh inserts land as a base entry; stale
      // ones re-route as update postimages. A live tombstoned uuid
      // stays dead regardless (the tombstone kills the uuid whichever
      // file holds it). Deletes are idempotent by construction.
      // `dedupInserts = false` skips the replica-snapshot uuid scan for
      // batches that provably contain no re-deliveries (a live stream's
      // steady-state delta batches, guarded by the epoch marker), so
      // steady-state apply cost scales with the churn, not the table.
      // When it IS needed, the uuid set is persisted: three joins
      // consume it (fresh/stale split + delete reconciliation), and
      // re-resolving the merge-on-read snapshot three times would
      // triple exactly the cost the flag exists to avoid.
      val ins = cached.filter(tpe === "insert")
      val replicaIds =
        (if (dedupInserts) snapshotWithUuid().select(UuidCol)
         else ins.select(UuidCol).limit(0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      replicaIdsCache = Some(replicaIds)
      // a reconcile feed must be a BOOTSTRAP (all-insert complete live
      // snapshot): reconciling against a partial/delta feed would
      // tombstone every replica row outside the range — permanently,
      // since later re-inserts of a tombstoned uuid stay dead. Fail
      // loudly instead of corrupting.
      if (reconcileDeletes)
        require(cached.filter(tpe =!= "insert").limit(1).count() == 0L,
          "reconcileDeletes expects a bootstrap feed (insert events " +
            "only = the complete live snapshot); a delta feed's absent " +
            "uuids are untouched rows, not deletions")
      val freshIns = ins.select(dataCols: _*)
        .join(replicaIds, Seq(UuidCol), "left_anti")
      val nIns = landEntry(freshIns.select(dataCols: _*), "cdc")(stFiles :+= _)
      val staleIns = ins
        .join(replicaIds, Seq(UuidCol), "left_semi")
      // postimages win over a same-commit insert of the same uuid
      // (append-then-update in one commit): order by (commit id,
      // event-kind priority) — commit ids are zero-padded, so string
      // concatenation preserves the order
      val seq = concat(col(GraftStream.CommitIdCol),
        when(tpe === "update_postimage", lit("1")).otherwise(lit("0")))
      val latestUpd = GraftDataset.lastWinsPerUuid(
        cached.filter(tpe === "update_postimage").unionByName(staleIns)
          .select((dataCols :+ seq.as("_seq")): _*), "_seq")
      val nUpd = landEntry(latestUpd, "update")(stUpdates :+= _)
      // delete idempotency must hold at the FILE level, not just the
      // snapshot level: countRows subtracts tombstone-file row counts
      // assuming every tombstoned uuid was live exactly once, so a
      // re-delivered delete (the same lost-checkpoint replay dedupInserts
      // exists for) landing a second tombstone row would double-subtract
      // and drift the metadata count negative while the snapshot stays
      // correct. distinct() folds same-feed repeats; the anti-join against
      // the replica's existing tombstones (bounded by churn, skipped on
      // the epoch-guarded steady-state path like the insert dedup) folds
      // cross-apply replays.
      val delEvents =
        cached.filter(tpe === "delete").select(col(UuidCol)).distinct()
      val freshDel =
        if (dedupInserts && stTombstones.nonEmpty)
          delEvents.join(readUuids(stTombstones), Seq(UuidCol), "left_anti")
        else delEvents
      var nDel = landEntry(freshDel, "tombstone")(stTombstones :+= _)
      // a BOOTSTRAP feed (the complete live snapshot as insert events)
      // carries no delete events for rows that died before it was cut —
      // a behind replica re-synced from a fresh checkpoint would keep
      // those rows as phantoms forever. reconcileDeletes treats the
      // feed's insert set as the COMPLETE live population: replica rows
      // outside it are tombstoned. Only valid for full feeds — a delta
      // feed's absent uuids are merely untouched rows (caller decides).
      if (reconcileDeletes)
        nDel += landEntry(replicaIds.join(ins.select(col(UuidCol)),
          Seq(UuidCol), "left_anti"), "tombstone")(stTombstones :+= _)
      (nIns, nUpd, nDel)
    } finally {
      cached.unpersist(false)
      replicaIdsCache.foreach(_.unpersist(false))
      ()
    }
  }

  /** Row-level value diff between HEAD and another ref
    * (reference `direct_diff`).
    */
  def directDiff(targetRef: String): DataFrame = {
    val theirId = resolveRef(targetRef)
    Versioning.directDiff(
      snapshotWithUuid(), snapshotAtWithUuid(theirId),
      Versioning.mergedSchema(stSchema, schemaAt(theirId)))
  }

  /** Per-tensor changes between two commits (reference `tensor_diff`,
    * mixins/version_control.py:172-174 / dataset.py:1722-1726): rows of
    * (tensor, change, uuid) with change ∈ added/removed/updated in the
    * `ref1` → `ref2` direction. `tensors` empty = all tensors. The
    * reference's `parse_changes` consumer (per-tensor change sets feeding
    * incremental index updates) is a `filter(tensor === t)` over this.
    */
  def tensorDiff(ref1: String, ref2: String,
                 tensors: Seq[String] = Nil): DataFrame = {
    val aId = resolveRef(ref1); val bId = resolveRef(ref2)
    Versioning.tensorDiff(
      snapshotAtWithUuid(aId), snapshotAtWithUuid(bId),
      Versioning.mergedSchema(schemaAt(aId), schemaAt(bId)), tensors)
  }

  /** Conflict report for merging `targetRef` into HEAD
    * (reference `detect_merge_conflict`). Joins only the churn since the
    * LCA, like [[diff]].
    */
  def detectMergeConflict(targetRef: String): DataFrame = {
    val in = compareInputs(targetRef)
    Versioning.conflicts(in.lca, in.ours, in.theirs, in.schema)
  }

  private def schemaAt(commitId: String): StructType =
    schemaOf(CommitLog.readCommit(spark, root, commitId))

  private def schemaOf(m: CommitMeta): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** The merge's three-way inputs, renamed onto the merged names, and
    * the renames ours adopts from theirs (in chain order).
    *
    * Rename reconciliation (reference merge.py:624-708): renames made on
    * either side since the LCA are propagated to the OTHER side (and to
    * the LCA snapshot) before the uuid join, so renamed data lines up
    * under one column instead of forking into old+new columns. A column
    * renamed DIFFERENTLY on both sides keeps ours' name (the reference's
    * force rule); a rename whose target name already exists on the other
    * side is not propagated.
    */
  private[format] def mergeInputs(ourId: String, theirId: String,
      lcaId: String, restrict: Boolean = true)
      : (ThreeWay, Seq[(String, String)]) = {
    val Seq(l, o, t) =
      Seq(lcaId, ourId, theirId).map(CommitLog.readCommit(spark, root, _))
    def renamesOf(m: CommitMeta): Seq[(String, String)] =
      m.renames.map(p => (p(0), p(1)))
    val lcaRen = renamesOf(l)
    def since(chain: Seq[(String, String)]): Seq[(String, String)] =
      if (chain.startsWith(lcaRen)) chain.drop(lcaRen.length)
      else chain // compaction reset the chain; apply conservatively
    // drop markers (deleteTensor's dead-name pairs) are NOT renames to
    // propagate: delete-vs-keep keeps the column via schema union, the
    // pre-marker semantics; letting a marker through would rename the
    // other side's live column (or the LCA's) onto a dead name.
    val theirNew = since(renamesOf(t)).filterNot(p => isDropMarker(p._2))
    val ourNew = since(renamesOf(o)).filterNot(p => isDropMarker(p._2))
    val (ourSchema0, theirSchema0) = (schemaOf(o), schemaOf(t))
    def applicable(renames: Seq[(String, String)], toSchema: StructType,
                   otherSide: Seq[(String, String)]) =
      renames.filter { case (from, to) =>
        toSchema.fieldNames.contains(from) &&
          !toSchema.fieldNames.contains(to) &&
          !otherSide.exists(_._1 == from)
      }
    val adoptOurs = applicable(theirNew, ourSchema0, ourNew) // theirs → ours
    val adoptTheirs = applicable(ourNew, theirSchema0, theirNew) // ours → theirs
    def renameSchema(s: StructType, r: Seq[(String, String)]) =
      StructType(s.fields.map(f =>
        r.find(_._1 == f.name).map(p => f.copy(name = p._2)).getOrElse(f)))
    def renameDf(df: DataFrame, r: Seq[(String, String)]) =
      r.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    // the LCA must see the FINAL names too, or rename-only rows would
    // look changed on both sides and spuriously conflict
    val lcaRenames = ourNew ++ adoptOurs
    val tw = ThreeWay(
      renameDf(snapshotAtWithUuid(lcaId), lcaRenames),
      renameDf(snapshotAtWithUuid(ourId), adoptOurs),
      renameDf(snapshotAtWithUuid(theirId), adoptTheirs),
      Versioning.mergedSchema(renameSchema(ourSchema0, adoptOurs),
        renameSchema(theirSchema0, adoptTheirs)))
    (if (restrict) restrictToChurn(tw,
       Seq(l -> lcaRenames, o -> adoptOurs, t -> adoptTheirs))
     else tw, adoptOurs)
  }

  /** Three-way merge of `targetRef` into the current branch (reference
    * `merge`, commits.py:305-401 + merge.py:499-543). Fast-forward-safe:
    * if the LCA equals the target head the merge is a no-op (reference
    * "target is an ancestor", merge.py:528-530). Returns the new commit id
    * (or current HEAD on no-op).
    *
    * Like the reference, which copies only the winning chunks, the merge
    * commit is a DELTA over ours: ours' manifest unchanged (entries,
    * stats, epochs, rename chain, with the adopted renames appended as
    * [[renameTensor]] appends them) plus at most three churn-sized
    * entries — a base entry for winners ours has no row for, an update
    * entry of full-row postimages where the winner differs from ours'
    * row, a tombstone entry where ours' row loses. A winner whose uuid
    * ours popped (pop = "theirs" resurrects) is an update postimage, and
    * only the tombstone entries holding such uuids are rewritten without
    * them. Cost: O(churn since the LCA) in join width and bytes written
    * (the snapshot scans stay O(table)); a column dropped on either side
    * changes every row's payload, so then every row is a candidate and
    * the delta may span the table. A feed can tail across the commit,
    * except across a resurrecting one, which folds tombstones.
    */
  def merge(targetRef: String,
            resolutions: Versioning.MergeResolutions =
              Versioning.MergeResolutions()): String = {
    Versioning.validate(resolutions) // even for no-op merges
    require(!dirty, "uncommitted changes; commit or reset first")
    val (ourId, theirId, lcaId) = threeWayIds(targetRef)
    if (lcaId == theirId) return ourId // target already merged
    val (in, adoptOurs) = mergeInputs(ourId, theirId, lcaId)
    val delta = Versioning.mergeDelta(in.lca, in.ours, in.theirs,
        withUuidSchema(in.schema), resolutions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // adopt the merged names BEFORE any write, so the entries' skipping
      // stats and rename epochs are taken under the final names; the
      // delta plan reads per-commit snapshots, never this staged state
      for ((from, to) <- adoptOurs if stSchema.fieldNames.contains(from))
        appendRename(from, to)
      stSchema = in.schema
      val op = col(Versioning.DeltaOp)
      // one job (no separate exchange stage) materializes the delta and
      // counts its kinds; an empty kind writes no entry
      val n = delta.select(op).as(org.apache.spark.sql.Encoders.STRING).rdd
        .countByValue().toMap.withDefaultValue(0L)
      val inserts = delta.filter(op === "insert")
      val updates = delta.filter(op === "update")
      // an inserted winner whose uuid ours tombstoned is a resurrection:
      // its row is still in ours' base files, so it becomes live again by
      // dropping it from its tombstone entry, with its postimage on top
      val revived =
        if (n("insert") == 0 || stTombstones.isEmpty) None
        else Some(inserts.select(UuidCol)
          .join(readUuids(stTombstones), Seq(UuidCol), "left_semi"))
          .filterNot(_.isEmpty)
      val (fresh, postimages) = revived.fold((inserts, updates))(r =>
        (inserts.join(r, Seq(UuidCol), "left_anti"),
          updates.unionByName(inserts.join(r, Seq(UuidCol), "left_semi"))))
      if (n("insert") > 0)
        landEntry(fresh.drop(Versioning.DeltaOp), "merge")(stFiles :+= _)
      if (n("update") > 0 || revived.isDefined)
        landEntry(postimages.drop(Versioning.DeltaOp), "update")(stUpdates :+= _)
      revived.foreach(reviveFromTombstones)
      if (n("delete") > 0)
        landEntry(delta.filter(op === "delete").select(UuidCol),
          "tombstone")(stTombstones :+= _)
    } catch {
      // a failed merge leaves HEAD's state staged, never a half-adopted one
      case scala.util.control.NonFatal(e) => loadHead(); throw e
    } finally { delta.unpersist(false); () }
    dirty = true; pendingRewrite = false
    val id = CommitLog.nextCommitId(spark, root)
    // no auto-rebase for merges (a lost CAS means the branch moved —
    // the three-way inputs are stale and the USER must re-merge), but
    // the already-written commit file must not be stranded: without the
    // reclaim every lost race (or allocation collision) accrues one
    // orphan in _graft/commits — never on a branch, never vacuumed —
    // exactly what commit()'s lost-CAS cleanup exists to prevent.
    try publishCommit(id, s"merge $targetRef", Some(ourId), Some(theirId))
    catch {
      case e: java.util.ConcurrentModificationException =>
        try {
          CommitLog.deleteCommitFile(spark, root, id)
          CommitLog.dropFromAncestry(spark, root, Set(id))
        } catch { case _: java.io.IOException => () } // best-effort
        throw e
    }
    id
  }

  /** Rewrite, in place, each staged tombstone entry that holds one of
    * `uuids` without them; an entry left empty leaves the manifest. */
  private def reviveFromTombstones(uuids: DataFrame): Unit = {
    val hit = stTombstones.zipWithIndex
      .map { case (t, i) => readUuids(Seq(t)).withColumn("_entry", lit(i)) }
      .reduce(_ unionByName _)
      .join(uuids, Seq(UuidCol), "left_semi")
      .select("_entry").distinct().collect().map(_.getInt(0)).toSet
    stTombstones = stTombstones.zipWithIndex.flatMap { case (t, i) =>
      if (!hit(i)) Some(t)
      else {
        var kept: Option[String] = None
        landEntry(readUuids(Seq(t)).join(uuids, Seq(UuidCol), "left_anti"),
          "tombstone")(r => kept = Some(r))
        kept
      }
    }
  }

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
    val f = CommitLog.fs(spark, root)
    val out = f.create(new Path(dir, "meta.json"), true)
    try out.write(org.json4s.jackson.Serialization.write(Map(
      "query" -> cond.toString, "commit" -> headId.getOrElse("")))(
      org.json4s.DefaultFormats).getBytes("UTF-8"))
    finally out.close()
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
    val pinned = indexMetaField(dir, "commit").filter(_.nonEmpty)
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

  // ---- query surface (reference mixins/query.py) --------------------------

  /** Flagship condition-tuple filter (reference `filter_vectorized`).
    * The condition fold also drives manifest file skipping: an implied
    * V1 filter ([[graft.operators.FilterVectorized.pruneFilter]])
    * prunes base files whose stats exclude every matching row, so the
    * reference's own query surface gets the same skipping the
    * registered source's scans get.
    */
  def filterVectorized(conds: Seq[graft.operators.Cond],
                       connectors: Seq[String] = Nil): DataFrame = {
    val base = graft.operators.FilterVectorized
      .pruneFilter(conds, connectors) match {
      case Some(f) =>
        prunedSnapshotWithUuid(Seq(f)).drop(GraftDataset.UuidCol)
      case None => toDF
    }
    graft.operators.FilterVectorized(base, conds, connectors)
  }

  /** Safe string-query filter (reference `ds.filter("labels > 1 and ...")`,
    * the AST-whitelist evaluator); class-label names in string literals
    * are coerced to dictionary ids.
    */
  def filterQuery(query: String): DataFrame =
    graft.operators.SafeExpr.filter(toDF, query, classLabels)

  /** Row-predicate (UDF) filter — the reference's `ds.filter(function)`
    * path (muller/core/query/filter.py:67-199). Runs as a typed filter on
    * executors; prefer [[filterVectorized]]/[[filterQuery]] for anything
    * expressible as Catalyst predicates (those get pushdown + codegen,
    * this cannot).
    */
  def filterRows(f: org.apache.spark.sql.Row => Boolean): DataFrame =
    toDF.filter(f)

  /** Row-at-a-time aggregate with an optional UDF WHERE (reference
    * `aggregate(...)` with `filter_function`, aggregate.py:124-531).
    */
  def aggregateRows(groupBy: Seq[String], aggregateTensors: Seq[String],
                    method: String,
                    where: Option[org.apache.spark.sql.Row => Boolean] = None)
      : DataFrame =
    graft.operators.AggregateVectorized(
      where.fold(toDF)(f => toDF.filter(f)),
      groupBy, aggregateTensors, method)

  /** Grouped aggregation (reference `aggregate_vectorized`). */
  def aggregateVectorized(groupBy: Seq[String], aggregateTensors: Seq[String],
                          method: String, orderBy: Seq[String] = Nil,
                          direction: String = "ASC"): DataFrame =
    graft.operators.AggregateVectorized(
      toDF, groupBy, aggregateTensors, method, orderBy, direction)

  /** Per-column statistics (reference `ds.summary`/statistics). */
  def summary(): DataFrame = graft.operators.Statistics.columnStatistics(toDF)

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
    val idx = graft.operators.InvertedIndex.build(
      snapshotWithUuid(), column, UuidCol, numShards)
    graft.operators.InvertedIndex.save(idx, new Path(dir, "postings").toString)
    writeIndexMeta(dir, Map("numShards" -> numShards.toString))
  }

  private def writeIndexMeta(dir: Path,
                             extra: Map[String, String] = Map.empty): Unit = {
    val f = CommitLog.fs(spark, root)
    val out = f.create(new Path(dir, "meta.json"), true)
    try out.write(org.json4s.jackson.Serialization.write(
      Map("commit" -> headId.getOrElse("")) ++ extra)(org.json4s.DefaultFormats)
      .getBytes("UTF-8"))
    finally out.close()
  }

  private def indexMetaField(dir: Path, key: String): Option[String] = {
    val f = CommitLog.fs(spark, root)
    val p = new Path(dir, "meta.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      org.json4s.jackson.JsonMethods.parse(s)
        .\(key).extractOpt[String](org.json4s.DefaultFormats,
          implicitly[Manifest[String]])
    }
  }

  private def indexCommit(dir: Path): Option[String] =
    indexMetaField(dir, "commit")

  /** True if the persisted index for `column` matches HEAD. */
  def indexFresh(kind: String, column: String): Boolean =
    indexCommit(indexDir(kind, column)) == headId

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
    val postings = graft.operators.InvertedIndex.load(spark,
      new Path(indexDir("inverted", column), "postings").toString)
    postings.groupBy("term").agg(count_distinct(col("id")).as("n_docs"))
  }

  /** New base files since the index's commit — or None if the table saw
    * in-place changes (updates/tombstones/renames) that an append-only
    * delta cannot express, which forces a full rebuild.
    */
  private def appendOnlyDelta(indexedAt: String): Option[Seq[String]] = {
    val old = CommitLog.readCommit(spark, root, indexedAt)
    val appendOnly = old.updates == stUpdates.toSeq &&
      old.tombstones == stTombstones.toSeq &&
      old.renames == stRenames.map(p => Seq(p._1, p._2)).toSeq &&
      old.files.forall(stFiles.contains)
    if (appendOnly) Some(stFiles.filterNot(old.files.toSet).toSeq) else None
  }

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
    indexCommit(dir).flatMap(appendOnlyDelta) match {
      case Some(newFiles) =>
        // the delta MUST shard with the PERSISTED count: mixing shard
        // functions in one posting table silently mis-routes query-time
        // partition pruning (`numShards` only applies on a full rebuild)
        val persistedShards = indexMetaField(dir, "numShards")
          .map(_.toInt).getOrElse(numShards)
        if (newFiles.nonEmpty) {
          val postingsPath = new Path(dir, "postings").toString
          graft.operators.InvertedIndex.build(
              snapshotWithUuid(files = newFiles, updates = Nil,
                tombstones = Nil), column, UuidCol, persistedShards)
            .write.mode("append").partitionBy("shard")
            .parquet(postingsPath)
          // refresh the stats sidecar so query-time broadcast bounds stay
          // truthful after the append (one agg at maintenance time)
          graft.operators.InvertedIndex.saveStats(spark, postingsPath,
            graft.operators.InvertedIndex.computeStats(
              graft.operators.InvertedIndex.load(spark, postingsPath)))
        }
        writeIndexMeta(dir, Map("numShards" -> persistedShards.toString))
      case None => createIndexVectorized(column, numShards)
    }
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
    * Non-append changes rebuild with the recorded params.
    */
  /** The recorded build params of the persisted index at `dir`, carried
    * through maintenance so incremental updates and rebuilds reuse them.
    */
  private def carriedVectorMeta(dir: Path, nlist: Int = 64)
      : Map[String, String] = {
    def param(key: String, dflt: Int): Int =
      indexMetaField(dir, key).map(_.toInt).getOrElse(dflt)
    Map("type" -> indexMetaField(dir, "type").getOrElse("IVF"),
      "nlist" -> param("nlist", nlist).toString,
      "pqM" -> param("pqM", 0).toString, "pqK" -> param("pqK", 16).toString,
      "graphDegree" -> param("graphDegree", 16).toString,
      "buildBeam" -> param("buildBeam", 100).toString,
      "metric" -> indexMetaField(dir, "metric").getOrElse("l2"),
      "rebuilds" -> param("rebuilds", 0).toString)
  }

  /** Full rebuild over the live snapshot with the index's own recorded
    * params, bumping the `rebuilds` maintenance counter in the meta.
    * `nlistDefault` backstops an index whose meta never recorded nlist —
    * it must carry the CALLER's value, not a hardcoded 64, or
    * `updateVectorIndex(column, nlist = 256)`'s rebuild path silently
    * builds a 64-cell index.
    */
  private def rebuildVectorIndex(column: String, dir: Path,
                                 nlistDefault: Int = 64): Unit = {
    val carried = carriedVectorMeta(dir, nlistDefault)
    createVectorIndex(column, carried("nlist").toInt,
      indexType = carried("type"), pqM = carried("pqM").toInt,
      pqK = carried("pqK").toInt, graphDegree = carried("graphDegree").toInt,
      buildBeam = carried("buildBeam").toInt, metric = carried("metric"))
    writeIndexMeta(dir,
      carried + ("rebuilds" -> (carried("rebuilds").toInt + 1).toString))
  }

  def updateVectorIndex(column: String, nlist: Int = 64,
                        rebuildThreshold: Double = 0.5): Unit = {
    require(!dirty, "commit before indexing")
    unloadVectorIndex(column) // a pinned copy would go stale on append
    val dir = indexDir("vector", column)
    val tpe = indexMetaField(dir, "type").getOrElse("IVF")
    def param(key: String, dflt: Int): Int =
      indexMetaField(dir, key).map(_.toInt).getOrElse(dflt)
    val V = graft.operators.VectorSearch
    val idxMetric = indexMetaField(dir, "metric").getOrElse("l2")
    val carried = carriedVectorMeta(dir, nlist)
    def rebuild(): Unit = rebuildVectorIndex(column, dir, nlist)
    indexCommit(dir).flatMap(appendOnlyDelta) match {
      case _ if tpe == "FLAT" => writeIndexMeta(dir, carried)
      case Some(newFiles) if newFiles.isEmpty =>
        writeIndexMeta(dir, carried) // no-op maintenance: nothing to scan
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
        val indexedRows = footerRows(stFiles.filterNot(newFiles.toSet).toSeq)
        if (indexedRows > 0 && deltaRows > rebuildThreshold * indexedRows)
          rebuild() // writes its own meta (bumped rebuilds counter)
        else {
          if (newFiles.nonEmpty) {
            val added = snapshotWithUuid(files = newFiles, updates = Nil,
              tombstones = Nil)
            val assignedPath = new Path(dir, "assigned").toString
            val graphPath = new Path(dir, "graph").toString
            tpe match {
              case "IVF" =>
                val centroids = spark.read.parquet(
                  new Path(dir, "centroids").toString)
                V.assignCells(added, column, centroids)
                  .write.mode("append").partitionBy("cell")
                  .parquet(assignedPath)
              case "IVFPQ" =>
                val centroids = spark.read.parquet(
                  new Path(dir, "centroids").toString)
                val model = readPqModel(
                  spark.read.parquet(new Path(dir, "pqmodel").toString))
                V.pqEncode(
                    V.assignCells(graphInput(added, column, idxMetric),
                      column, centroids),
                    column, model)
                  .write.mode("append").partitionBy("cell")
                  .parquet(assignedPath)
              case "HNSW" | "DISKANN" =>
                // empty persisted graph (index created while the vector
                // column had no rows): max(part) is null — or the parquet
                // dir has no readable footer at all — and the delta IS the
                // whole index, so new parts start at 0
                val lastPart = try {
                  spark.read.parquet(graphPath)
                    .agg(coalesce(max(col("part")), lit(-1))).head().getInt(0)
                } catch {
                  case _: org.apache.spark.sql.AnalysisException => -1
                }
                val offset = lastPart + 1
                val gIn = graphInput(added, column, idxMetric)
                // delta shards build CLUSTERED too: their sentinels keep
                // shard routing correct after appends (a sentinel-less
                // delta shard would be probed unconditionally — safe but
                // unroutable, and appends would erode the sub-linearity).
                // Shard count derives from the DELTA's footer row count
                // (already read for the rebuild-threshold check — no
                // scan), so delta build tasks stay ~500-row bounded too.
                val built =
                  if (tpe == "HNSW")
                    graft.operators.Hnsw.build(gIn, column, UuidCol,
                      m = param("graphDegree", 16),
                      efConstruction = param("buildBeam", 100),
                      clustered = true, rowCountHint = deltaRows)
                  else {
                    val pqM0 = param("pqM", 0)
                    graft.operators.Vamana.build(gIn, column, UuidCol,
                      r = math.max(param("graphDegree", 16), 4),
                      buildBeam = param("buildBeam", 100),
                      pqM = if (pqM0 > 0) pqM0
                            else V.autoSubspaces(vectorDim(added, column)),
                      pqK = param("pqK", 16),
                      clustered = true, rowCountHint = deltaRows)
                  }
                built.withColumn("part",
                    (col("part") + lit(offset)).cast("int"))
                  .write.mode("append").partitionBy("part").parquet(graphPath)
                // fold the delta shards' centroids into the routing
                // artifact (one sentinel-filtered pass over the graph
                // table — row-group pruned, |shards| rows out)
                writeRoutingArtifact(dir,
                  if (tpe == "HNSW") graft.operators.Hnsw.CentroidNode
                  else graft.operators.Vamana.CentroidNode)
              case t => throw new IllegalStateException(s"unknown type $t")
            }
          }
          writeIndexMeta(dir, carried)
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
    require(CommitLog.fs(spark, root).exists(new Path(dir, "meta.json")),
      s"no vector index for '$column' to optimize; createVectorIndex first")
    if (carriedVectorMeta(dir)("type") == "FLAT")
      writeIndexMeta(dir, carriedVectorMeta(dir))
    else rebuildVectorIndex(column, dir)
  }

  /** Maintenance metadata for the persisted vector index on `column`:
    * build params, bound commit, and the rebuild counter. */
  def vectorIndexInfo(column: String): Map[String, String] = {
    val dir = indexDir("vector", column)
    carriedVectorMeta(dir) ++
      indexCommit(dir).map("commit" -> _).toMap
  }

  /** Indexed CONTAINS search routed through the posting table
    * (reference indexed fuzzy/complex match). Falls back to the scan
    * predicate when the index is stale — same answer, different plan
    * (the reference WARNS and searches the stale index instead).
    */
  def textSearch(column: String, query: String): DataFrame = {
    val dir = indexDir("inverted", column)
    if (indexFresh("inverted", column)) {
      val postingsPath = new Path(dir, "postings").toString
      val idx = graft.operators.InvertedIndex.load(spark, postingsPath)
      // shard routing from the persisted shard count -> partition pruning;
      // broadcast decision from the stats sidecar -> no planning-time job
      val numShards = indexMetaField(dir, "numShards").map(_.toInt)
      val stats = graft.operators.InvertedIndex.loadStats(spark, postingsPath)
      graft.operators.InvertedIndex.search(
        snapshotWithUuid(), UuidCol, idx, query, numShards,
        stats = stats).drop(UuidCol)
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
    require(indexFresh("inverted", column),
      s"inverted index for $column is stale or missing")
    val n = indexMetaField(dir, "numShards").map(_.toInt).getOrElse(16)
    snapshotWithUuid().filter(
      org.apache.spark.sql.graftnative.GraftIndexedContains(
        col(column), query, new Path(dir, "postings").toString, n))
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
    val boundCommit = indexCommit(dir).getOrElse("")
    val shardCount = newShards.map(_.toString)
      .orElse(indexMetaField(dir, "numShards"))
    val stats = graft.operators.InvertedIndex.loadStats(spark, postings.toString)
    val tmp = new Path(dir, "postings_tmp")
    rewritten
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp.toString)
    f.delete(postings, true)
    f.rename(tmp, postings)
    stats.foreach(st =>
      graft.operators.InvertedIndex.saveStats(spark, postings.toString, st))
    val out = f.create(new Path(dir, "meta.json"), true)
    try out.write(org.json4s.jackson.Serialization.write(
      Map("commit" -> boundCommit) ++
        shardCount.map("numShards" -> _))(org.json4s.DefaultFormats)
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Operational view of the live base manifest with its file-skipping
    * stats: one row per (file, statted column) — entries or files
    * without stats appear with null columns. Lets a user see WHY a
    * selective query did or didn't skip ("are my files range-clustered
    * on this key, or does every file span the whole domain?") without
    * reading any data file.
    */
  def describeFiles: DataFrame = {
    import spark.implicits._
    stFiles.flatMap { entry =>
      val epoch = epochOf(entry) // rename-chain suffix start (0 = whole chain)
      val prefix = entry + "/"
      val perFile = stStats.view
        .filterKeys(k => k == entry || k.startsWith(prefix)).toMap
      if (perFile.isEmpty)
        Seq((entry, entry, epoch, Option.empty[String], Option.empty[String],
          Option.empty[String], Option.empty[Long], Option.empty[Long]))
      else perFile.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        if (cols.isEmpty)
          Seq((entry, f, epoch, Option.empty[String], Option.empty[String],
            Option.empty[String], Option.empty[Long], Option.empty[Long]))
        else cols.toSeq.sortBy(_._1).map { case (c, st) =>
          // count-only entries (typ "null") surface with empty min/max
          val (mn, mx) = if (st.typ == "null") (None, None)
                         else (Some(st.min), Some(st.max))
          (entry, f, epoch, Some(c), mn, mx, st.nulls, st.rows)
        }
      }
    }.toDF("entry", "file", "epoch", "column", "min", "max", "nulls", "rows")
  }

  /** Approximate on-disk size in bytes (reference `size_approx`,
    * dataset.py:1677-1681): sum of the live manifest's file sizes.
    */
  def sizeApprox: Long = {
    val f = CommitLog.fs(spark, root)
    // bounded-parallel like every other driver-side metadata sweep here
    // (footerRows, optimizeSmallFiles, vacuum): serial per-entry
    // round-trips on a 10k-entry object-store manifest are minutes of
    // wall clock for a size estimate
    CommitLog.parMap((stFiles ++ stUpdates ++ stTombstones).toSeq) { rel =>
      val p = new Path(root, rel)
      if (f.exists(p)) f.getContentSummary(p).getLength else 0L
    }.sum
  }

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
                        indexType: String = "IVF", pqM: Int = 0,
                        pqK: Int = 16, graphDegree: Int = 32,
                        buildBeam: Int = 100,
                        metric: String = "l2"): Unit = {
    // graphDegree default 32 (faiss's HNSW M default): clustered shards
    // hold a query's near-tie neighborhood whole, and RecallSoak measured
    // degree-16 graphs navigating such shards at 0.93 recall@10 vs 1.00
    // at degree 32 (m is THE knob — efConstruction/ef barely move it)
    require(!dirty, "commit before indexing")
    unloadVectorIndex(column) // a pinned copy would go stale on overwrite
    val dir = indexDir("vector", column)
    // a re-create with a DIFFERENT type must not leave the old type's
    // artifacts behind (search routes by meta type, but mixed leftovers
    // would be pinned by loadVectorIndex and mislead listIndexes)
    CommitLog.fs(spark, root).delete(dir, true)
    val snap = snapshotWithUuid()
    val V = graft.operators.VectorSearch
    val tpe = indexType.toUpperCase
    def subspaces: Int =
      if (pqM > 0) pqM else V.autoSubspaces(vectorDim(snap, column))
    tpe match {
      case "IVF" =>
        val (assigned, centroids) = V.ivfBuild(snap, column, UuidCol, nlist)
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(new Path(dir, "assigned").toString)
        centroids.write.mode("overwrite")
          .parquet(new Path(dir, "centroids").toString)
      case "IVFPQ" =>
        // PQ codes score squared L2, so cosine rides the same unit-norm
        // build as the graph indexes ([[graphInput]]); IVF stores raw
        // vectors because ivfTopK evaluates the metric at query time
        val pqIn = graphInput(snap, column, metric)
        val (assigned, centroids) = V.ivfBuild(pqIn, column, UuidCol, nlist)
        val model = V.pqTrain(pqIn, column, UuidCol, subspaces, pqK)
        V.pqEncode(assigned, column, model)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(new Path(dir, "assigned").toString)
        centroids.write.mode("overwrite")
          .parquet(new Path(dir, "centroids").toString)
        writePqModel(dir, model)
      case "HNSW" =>
        // clustered: shards are coarse k-means cells, each with a
        // persisted centroid — probe-all search is unchanged (every row
        // is in exactly one shard) and probeShards routing becomes
        // available (see [[vectorSearch]]). Shard count derives from the
        // MANIFEST row count (countRows — metadata only, no scan), not
        // from cluster cores: ~500-row shards keep every build task's
        // in-heap graph bounded at any corpus size and sit at the
        // recall optimum RecallSoak measured (GraphRouting.shardsFor).
        graft.operators.Hnsw.build(graphInput(snap, column, metric),
            column, UuidCol, m = graphDegree, efConstruction = buildBeam,
            clustered = true, rowCountHint = countRows)
          .write.mode("overwrite").partitionBy("part")
          .parquet(new Path(dir, "graph").toString)
        writeRoutingArtifact(dir, graft.operators.Hnsw.CentroidNode)
      case "DISKANN" =>
        graft.operators.Vamana.build(graphInput(snap, column, metric),
            column, UuidCol, r = math.max(graphDegree, 4),
            buildBeam = buildBeam, pqM = subspaces, pqK = pqK,
            clustered = true, rowCountHint = countRows)
          .write.mode("overwrite").partitionBy("part")
          .parquet(new Path(dir, "graph").toString)
        writeRoutingArtifact(dir, graft.operators.Vamana.CentroidNode)
      case "FLAT" => () // exact search reads the live snapshot directly
      case t => throw new IllegalArgumentException(
        s"bad index type $t (FLAT | IVF | IVFPQ | HNSW | DISKANN)")
    }
    writeIndexMeta(dir, Map("type" -> tpe, "nlist" -> nlist.toString,
      "pqM" -> pqM.toString, "pqK" -> pqK.toString,
      "graphDegree" -> graphDegree.toString,
      "buildBeam" -> buildBeam.toString, "metric" -> metric))
  }

  /** Graph indexes walk on L2; a `cosine` graph is built over
    * UNIT-NORMALIZED vectors, where L2 order equals cosine order
    * (`‖a−b‖² = 2−2·cos` on unit vectors — the same normalize-then-L2
    * mapping the reference applies for faiss cosine, utils.py:46-95).
    */
  private def graphInput(snap: DataFrame, column: String,
                         metric: String): DataFrame = metric match {
    case "l2" => snap
    case "cosine" => snap.withColumn(column,
      graft.functions.VectorFunctions.normalize(col(column)))
    case m => throw new IllegalArgumentException(
      s"graph index metric must be l2 or cosine, got $m")
  }

  /** The embedding dimensionality, from the first non-null vector. */
  private def vectorDim(df: DataFrame, column: String): Int =
    df.filter(col(column).isNotNull).select(col(column)).head(1) match {
      case Array(r) => r.getSeq[Float](0).length
      case _ => throw new IllegalArgumentException(
        s"cannot build a vector index: column '$column' has no non-null " +
          "vectors to infer the dimensionality from")
    }

  /** Extract the graph index's per-shard routing centroids (its
    * centroid-sentinel rows) into a tiny standalone `routing` artifact,
    * so a routed search reads |shards| rows — never the graph — to pick
    * its probe set. Re-derived after every incremental append (delta
    * shards bring their own sentinels); a search on an index whose
    * routing artifact is missing probes all shards.
    */
  private def writeRoutingArtifact(dir: Path, sentinelNode: Int): Unit = {
    val graphPath = new Path(dir, "graph").toString
    spark.read.parquet(graphPath)
      .filter(col("node") === lit(sentinelNode))
      .select(col("part").cast("int").as("part"), col("vec"))
      .coalesce(1)
      .write.mode("overwrite").parquet(new Path(dir, "routing").toString)
  }

  private def readRoutingArtifact(column: String, dir: Path)
      : Array[(Int, Array[Float])] = {
    def art: Option[DataFrame] =
      loadedVector.get(column).flatMap(_.get("routing")).orElse {
        val p = new Path(dir, "routing")
        if (CommitLog.fs(spark, root).exists(p))
          Some(spark.read.parquet(p.toString))
        else None
      }
    art.map(_.select(col("part"), col("vec")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)))
      .getOrElse(Array.empty)
  }

  private def writePqModel(
      dir: Path, model: graft.operators.VectorSearch.PqModel): Unit = {
    import spark.implicits._
    Seq((model.m, model.k, model.dim, model.codebooks.toSeq))
      .toDF("m", "k", "dim", "codebooks")
      .write.mode("overwrite").parquet(new Path(dir, "pqmodel").toString)
  }

  private def readPqModel(df: DataFrame)
      : graft.operators.VectorSearch.PqModel = {
    val r = df.select("m", "k", "dim", "codebooks").head()
    graft.operators.VectorSearch.PqModel(r.getInt(0), r.getInt(1),
      r.getInt(2), r.getSeq[Float](3).toArray)
  }

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
    require(indexFresh("vector", column),
      s"vector index for $column is stale or missing; createVectorIndex first")
    if (!loadedVector.contains(column)) {
      val dir = indexDir("vector", column)
      val f = CommitLog.fs(spark, root)
      loadedVector(column) = VectorArtifacts
        .filter(n => f.exists(new Path(dir, n)))
        .map(n => n -> spark.read.parquet(new Path(dir, n).toString)
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
  def listIndexes: Seq[(String, String, Boolean)] = {
    val f = CommitLog.fs(spark, root)
    val base = new Path(root, "_graft/indexes")
    if (!f.exists(base)) Seq.empty
    else for {
      kindDir <- f.listStatus(base).toSeq.sortBy(_.getPath.getName)
      colDir <- f.listStatus(kindDir.getPath).toSeq.sortBy(_.getPath.getName)
      kind = kindDir.getPath.getName
      column = colDir.getPath.getName
    } yield (kind, column, indexFresh(kind, column))
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
    val dir = indexDir("vector", column)
    require(indexFresh("vector", column),
      s"vector index for $column is stale or missing; createVectorIndex first")
    val tpe = indexMetaField(dir, "type").getOrElse("IVF")
    def art(name: String): DataFrame =
      loadedVector.get(column).flatMap(_.get(name)).getOrElse(
        spark.read.parquet(new Path(dir, name).toString))
    // graph walks run on the metric the vectors were prepared for at
    // build time; a cosine graph takes a normalized query and maps the
    // unit-vector L2² back to cosine (cos = 1 − l2²/2)
    val graphMetric = indexMetaField(dir, "metric").getOrElse("l2")
    def requireGraphMetric(): Unit = require(metric == graphMetric,
      s"$tpe index was built for metric $graphMetric, not $metric " +
        "(re-create the index, or use indexType FLAT or IVF)")
    def graphQuery: Seq[Float] =
      if (graphMetric == "l2") queryVec
      else {
        val n = math.sqrt(queryVec.foldLeft(0.0)((s, x) => s + x * x))
        if (n == 0.0) queryVec else queryVec.map(x => (x / n).toFloat)
      }
    def graphScore(hits: DataFrame): DataFrame = {
      val s = if (graphMetric == "l2") col("l2sq")
              else lit(1.0) - col("l2sq") / lit(2.0) // unit vecs → cosine
      hits.select(col("ext_id").as(UuidCol), s.as("score"))
    }
    // score ties at the k boundary: FLAT (the exact, oracle-able path)
    // resolves them by user-visible columns on request; the index paths
    // break ties by row identity, like the reference's faiss ids
    require(tieBreakCols.isEmpty || tpe == "FLAT",
      s"tieBreakCols is supported on FLAT indexes only (this is $tpe)")
    // graph-only knob, guarded like tieBreakCols: silently ignoring it
    // would let an IVF caller believe they tuned routing (IVF's probe
    // knob is nprobe)
    require(probeShards == 0 || tpe == "HNSW" || tpe == "DISKANN",
      s"probeShards applies to HNSW/DISKANN indexes only (this is $tpe; " +
        "IVF/IVFPQ route by nprobe)")
    // graph families route from the tiny `routing` artifact (pinned in
    // memory after loadVectorIndex) — never from a sentinel scan of the
    // graph itself; a def so the non-graph types never read it
    def routingCents: Array[(Int, Array[Float])] =
      if (probeShards > 0) readRoutingArtifact(column, dir)
      else Array.empty
    val V = graft.operators.VectorSearch
    val hits = tpe match {
      case "FLAT" =>
        V.bruteForceTopK(snapshotWithUuid(), column, UuidCol,
          queryVec, metric, k, exact, tieBreakCols)
      case "IVF" =>
        V.ivfTopK(art("assigned"), art("centroids"), column, UuidCol,
          queryVec, metric, k, nprobe, exact)
      case "IVFPQ" =>
        requireGraphMetric() // codes score L2; cosine = unit-norm build
        val raw = V.ivfPqTopK(art("assigned"), art("centroids"), column,
          UuidCol, readPqModel(art("pqmodel")), graphQuery, k, nprobe,
          rerank = refineFactor * k)
        if (graphMetric == "l2") raw
        else raw.select(col(UuidCol),
          (lit(1.0) - col("score") / lit(2.0)).as("score"))
      case "HNSW" =>
        requireGraphMetric()
        // unpinned: serve straight off the partitionBy("part") layout —
        // one narrow scan per part directory, no Exchange. The pinned
        // in-memory copy keeps the shuffled path (its cached partitioning
        // does not preserve the directory co-location).
        val hits =
          if (isVectorIndexLoaded(column))
            graft.operators.Hnsw.topK(art("graph"), graphQuery, k,
              ef = math.max(64, refineFactor * k),
              probeParts = probeShards, centroids = routingCents)
          else graft.operators.Hnsw.topKPersisted(spark,
            new Path(dir, "graph").toString, graphQuery, k,
            ef = math.max(64, refineFactor * k),
            probeParts = probeShards, centroids = routingCents)
        graphScore(hits)
      case "DISKANN" =>
        requireGraphMetric()
        // rerank floor 256: on a CLUSTERED shard the PQ walk pools many
        // near-identical codes, and an exact re-rank smaller than the tie
        // pool picks arbitrarily among them — RecallSoak measured 0.49
        // recall@10 at rerank=40 vs 1.00 at 400 on a 100k 256-center
        // corpus. Exact-scoring ≤256 vectors per probed shard is noise
        // next to the walk itself.
        val vamanaRerank = math.max(256, refineFactor * k)
        val hits =
          if (isVectorIndexLoaded(column))
            graft.operators.Vamana.topK(art("graph"), graphQuery, k,
              beam = math.max(64, refineFactor * k),
              rerank = vamanaRerank, probeParts = probeShards,
              centroids = routingCents)
          else graft.operators.Vamana.topKPersisted(spark,
            new Path(dir, "graph").toString, graphQuery, k,
            beam = math.max(64, refineFactor * k),
            rerank = vamanaRerank, probeParts = probeShards,
            centroids = routingCents)
        graphScore(hits)
      case t => throw new IllegalStateException(s"unknown index type $t")
    }
    hits.withColumnRenamed(UuidCol, "row_uuid")
  }

  /** Shard list for [[vectorKnnJoin]]'s graph paths from the persisted
    * layout's `part=N` directory listing — ground truth for the same dir
    * the join reads, and zero index scans (the way the driver-batch
    * persisted reads dir-prune). None when the index is pinned in memory
    * ([[loadVectorIndex]]): the join then enumerates the CACHED frame,
    * which is cheap and can never disagree with itself.
    */
  private def knnPartsHint(column: String, dir: Path): Option[Set[Int]] =
    if (isVectorIndexLoaded(column)) None
    else graft.operators.PartitionedIndex.partIds(spark,
      new Path(dir, "graph").toString)

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
    val dir = indexDir("vector", column)
    require(indexFresh("vector", column),
      s"vector index for $column is stale or missing; createVectorIndex first")
    val tpe = indexMetaField(dir, "type").getOrElse("IVF")
    require(probeShards == 0 || tpe == "HNSW" || tpe == "DISKANN",
      s"probeShards applies to HNSW/DISKANN indexes only (this is $tpe; " +
        "IVF/IVFPQ route by nprobe)")
    def art(name: String): DataFrame =
      loadedVector.get(column).flatMap(_.get(name)).getOrElse(
        spark.read.parquet(new Path(dir, name).toString))
    val idxMetric = indexMetaField(dir, "metric").getOrElse("l2")
    def requireIdxMetric(): Unit = require(metric == idxMetric,
      s"$tpe index was built for metric $idxMetric, not $metric")
    // unit-normalized query side for the metrics that ride the
    // unit-norm build (graphs + IVFPQ cosine)
    def qNormalized: DataFrame =
      if (idxMetric == "l2") queries
      else queries.withColumn(qVecCol,
        graft.functions.VectorFunctions.normalize(col(qVecCol)))
    def l2ToMetric(hits: DataFrame): DataFrame = {
      val score = if (idxMetric == "l2") col("l2sq")
                  else lit(1.0) - col("l2sq") / lit(2.0) // unit → cosine
      hits.select(col("query_id"), col("ext_id").as("row_uuid"),
        score.as("score"), col("rank"))
    }
    tpe match {
      case "FLAT" =>
        graft.operators.VectorSearch.batchTopK(snapshotWithUuid(),
            column, UuidCol, queries, qIdCol, qVecCol, metric, k, exact)
          .withColumnRenamed(UuidCol, "row_uuid")
          .select(col("query_id"), col("row_uuid"), col("score"),
            col("rank"))
      case "IVF" =>
        graft.operators.KnnJoin.ivf(art("assigned"), art("centroids"),
            column, UuidCol, queries, qIdCol, qVecCol, metric, k,
            nprobe, exact)
          .withColumnRenamed("ext_id", "row_uuid")
      case "IVFPQ" =>
        requireIdxMetric() // stored vectors are metric-prepared
        // BOTH metrics keep the caller's exact knob: cosine rides the
        // unit-norm build scored on the scaled-int l2 grid (unit values
        // quantize on the same 1e-7 grid; max l2² of 4 → 4e14, well
        // inside int64 and lossless in double), then maps to cosine
        val hits = graft.operators.KnnJoin.ivf(art("assigned"),
          art("centroids"), column, UuidCol, qNormalized, qIdCol,
          qVecCol, "l2", k, nprobe, exact)
        if (idxMetric == "l2") hits.withColumnRenamed("ext_id", "row_uuid")
        else {
          // unit vectors: cos = 1 − l2²/2. Exact scores are 1e14-scaled
          // longs (qint products), doubles are raw l2² — one
          // deterministic affine step either way
          val half = if (exact) lit(2.0e14) else lit(2.0)
          hits.select(col("query_id"), col("ext_id").as("row_uuid"),
            (lit(1.0) - col("score").cast("double") / half).as("score"),
            col("rank"))
        }
      case "HNSW" =>
        requireIdxMetric()
        val cents = if (probeShards > 0) readRoutingArtifact(column, dir)
                    else Array.empty[(Int, Array[Float])]
        l2ToMetric(graft.operators.KnnJoin.hnsw(art("graph"),
          qNormalized, qIdCol, qVecCol, k,
          ef = math.max(64, refineFactor * k),
          probeParts = probeShards, centroids = cents,
          partsHint = knnPartsHint(column, dir)))
      case "DISKANN" =>
        requireIdxMetric()
        val cents = if (probeShards > 0) readRoutingArtifact(column, dir)
                    else Array.empty[(Int, Array[Float])]
        l2ToMetric(graft.operators.KnnJoin.vamana(art("graph"),
          qNormalized, qIdCol, qVecCol, k,
          beam = math.max(64, refineFactor * k),
          rerank = math.max(256, refineFactor * k),
          probeParts = probeShards, centroids = cents,
          partsHint = knnPartsHint(column, dir)))
      case t => throw new IllegalStateException(s"unknown index type $t")
    }
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
    val tpe = indexMetaField(indexDir("vector", column), "type")
      .getOrElse("IVF")
    if (tpe == "FLAT")
      System.err.println("graft: WARN semanticDedupIndexed over a FLAT " +
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
    val gridScaled = exact && (metric match {
      case "l2" => tpe != "HNSW" && tpe != "DISKANN"
      case "ip" => tpe == "IVF" || tpe == "FLAT"
      case _    => false
    })
    def clears(score: Column) = {
      val t = if (gridScaled) threshold * 1e14 else threshold
      if (metric == "l2") score <= lit(t) else score >= lit(t)
    }
    // nearest-other = min rank after the self filter — via min_by, a
    // partial-combinable aggregate (rank is unique per query, so the
    // pick is deterministic), not yet another corpus-wide rank window
    vectorKnnJoin(column, qdf, "qid", "qv", k = 2, metric,
        nprobe = nprobe, exact = exact, probeShards = probeShards)
      .filter(col("row_uuid") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("row_uuid"), col("score")), col("rank"))
        .as("_nn"))
      .select(col("query_id").as("row_uuid"),
        col("_nn.row_uuid").as("nn_uuid"), col("_nn.score").as("score"),
        (clears(col("_nn.score")) &&
          col("_nn.row_uuid") < col("query_id")).as("is_dup"))
  }
}

object GraftDataset {
  /** Hidden row-identity column (reference `_uuid` tensor). */
  val UuidCol = "_uuid"

  /** The read schema of a uuid-only scan. Every manifest entry kind
    * carries `_uuid LONG`, so tombstone and key-set reads pass it instead
    * of inferring it: inference runs a footer-read job per read.
    */
  val UuidSchema: StructType =
    StructType(Seq(StructField(UuidCol, LongType, nullable = false)))

  /** The three snapshots (with `_uuid`) a diff, conflict report or
    * merge joins, already renamed onto `schema`'s names. */
  private[format] final case class ThreeWay(lca: DataFrame, ours: DataFrame,
      theirs: DataFrame, schema: StructType)

  /** Default [[GraftDataset.vacuum]] retention — 7 days, Delta's default:
    * long enough for the slowest plausible reader/streaming tail, short
    * enough that rewritten data does not strand for months.
    */
  val DefaultRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** StructField metadata key carrying a class-label dictionary. */
  val ClassNamesKey = "graft.class_names"

  /** Reserved prefix for DELETED-column drop markers in the rename
    * chain (see [[GraftDataset.deleteTensor]]); no user column may start
    * with it, so a marker target never collides with live data.
    */
  val DropPrefix = "__graft_dropped__"

  private[format] def isDropMarker(to: String): Boolean =
    to.startsWith(DropPrefix)

  /** Cap on metadata-only commit retries after a lost branch-pointer
    * race (the append/rewrite/mutation rebases, [[GraftDataset.commit]]);
    * beyond this the original conflict surfaces to the caller. Sized for
    * a busy multi-writer table: each retry is a metadata-only re-publish
    * (no data rewrite), and the jittered backoff in `commit` breaks
    * same-JVM convoys, so 20 consecutive losses means contention worth
    * surfacing rather than spinning on (Delta retries effectively
    * unbounded; we prefer a loud ceiling).
    */
  val MaxCommitRebases = 20

  /** Serializes the branch-pointer compare-and-swap across THIS JVM's
    * writers PER TABLE ROOT (see [[GraftDataset.publishCommit]]) — one
    * global lock would stall unrelated tables on each other's
    * filesystem round-trips (the CAS section includes branch-file I/O
    * with bounded retries). Keys are the FILESYSTEM-QUALIFIED root
    * (`fs.makeQualified`), so path spellings of the same table
    * (`/data/t`, `file:/data/t`, trailing slash) share one lock.
    * Entries are dropped on [[GraftDataset.delete]]; the residual
    * growth is one small Object per live table root.
    */
  private val branchCasLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[format] def branchCasLock(qualifiedRoot: String): Object =
    branchCasLocks.computeIfAbsent(qualifiedRoot, _ => new Object)

  private[format] def dropBranchCasLock(qualifiedRoot: String): Unit = {
    branchCasLocks.remove(qualifiedRoot); ()
  }

  /** Reference-counted session-conf override forcing INT64-micros
    * parquet timestamps for graft data writes (see [[writeData]]).
    * A plain set/restore per write RACES concurrent writers (the
    * optimizeSmallFiles bin pool): writer A's restore can land before
    * writer B's parquet job snapshots the conf, silently reverting B's
    * files to stat-less INT96 — so the first writer in sets and saves
    * the prior value, and only the LAST writer out restores it.
    * Depth is tracked per SparkSession (concurrent sessions each keep
    * their own conf).
    */
  private val tsConfDepth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Int, Option[String])]()

  private[format] def withMicrosTimestamps[T](spark: SparkSession)
                                             (body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    tsConfDepth.synchronized {
      val (depth, prev) = tsConfDepth.getOrDefault(spark, (0, None))
      val p = if (depth == 0) {
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        saved
      } else prev
      tsConfDepth.put(spark, (depth + 1, p))
    }
    try body
    finally tsConfDepth.synchronized {
      val (depth, prev) = tsConfDepth.get(spark)
      if (depth == 1) {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        tsConfDepth.remove(spark)
      } else tsConfDepth.put(spark, (depth - 1, prev))
      ()
    }
  }

  /** Keep only the LAST row per `_uuid`, ordered by `seqCol` — the one
    * merge-on-read dedup idiom behind multi-file update resolution,
    * change-event postimages, and CDC apply (drops `seqCol`).
    */
  private[format] def lastWinsPerUuid(df: DataFrame,
                                      seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(UuidCol).orderBy(col(seqCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", seqCol)
  }

  /** Create a new table (reference `muller.empty` / `muller.dataset`). */
  def create(spark: SparkSession, root: String, schema: StructType,
             branch: String = "main"): GraftDataset = {
    require(CommitLog.listCommits(spark, root).isEmpty, s"table exists: $root")
    // publish the (empty) branch map BEFORE the first commit file: the
    // invariant "a table with commits has a branches file" is what lets
    // readBranches refuse a spurious empty map over live history (an
    // object-store rename window) instead of letting a read-modify-write
    // caller clobber every branch pointer — a crashed first publish must
    // not be indistinguishable from that window. Create-if-absent: a
    // RACING creator (the documented table-CREATE race) must never wipe
    // a winner's already-published pointer with a fresh empty map.
    CommitLog.ensureBranchesFile(spark, root)
    val ds = new GraftDataset(spark, root, Some(branch), None)
    ds.stSchema = schema
    ds.dirty = true
    ds.commit("init", allowEmpty = true)
    ds
  }

  /** Load an existing table at a branch (reference `muller.load`,
    * `path@branch` addressing).
    */
  def load(spark: SparkSession, root: String,
           branch: String = "main"): GraftDataset = {
    val heads = CommitLog.readBranches(spark, root)
    require(heads.contains(branch), s"no branch $branch at $root")
    new GraftDataset(spark, root, Some(branch), Some(heads(branch)))
  }

  /** Newest commit on the branch's first-parent chain whose timestamp
    * is ≤ `tsMs` — Delta's TIMESTAMP AS OF resolution. First-parent
    * timestamps are publish wall clocks and monotone in practice; the
    * walk is O(commits newer than tsMs), not O(history).
    */
  def commitAsOf(spark: SparkSession, root: String, tsMs: Long,
                 branch: String = "main"): String = {
    var cur = CommitLog.readBranches(spark, root).get(branch)
    require(cur.isDefined, s"no branch $branch at $root")
    while (cur.isDefined) {
      val m = CommitLog.readCommit(spark, root, cur.get)
      if (m.timestampMs <= tsMs) return m.id
      cur = m.parent
    }
    throw new IllegalArgumentException(
      s"no commit at or before timestamp $tsMs on branch $branch " +
        s"(the table's first commit is newer)")
  }

  /** Timestamp-addressed detached load (TIMESTAMP AS OF). */
  def loadAsOf(spark: SparkSession, root: String, tsMs: Long,
               branch: String = "main"): GraftDataset =
    loadCommit(spark, root, commitAsOf(spark, root, tsMs, branch))

  /** Detached-HEAD load at an arbitrary commit (reference `path@commit`
    * addressing) — read-only time travel with no branch attached.
    */
  def loadCommit(spark: SparkSession, root: String,
                 commitId: String): GraftDataset = {
    require(CommitLog.listCommits(spark, root).contains(commitId),
      s"no commit $commitId at $root")
    val ds = new GraftDataset(spark, root, None, Some(commitId))
    ds.assertNotExpired(CommitLog.readCommit(spark, root, commitId))
    ds
  }

  /** Schema-only copy (reference `muller.like`, api/dataset/copy.py). */
  def like(spark: SparkSession, destRoot: String, src: GraftDataset,
           tensors: Seq[String] = Nil): GraftDataset = {
    val fields =
      if (tensors.isEmpty) src.schema.fields
      else src.schema.fields.filter(f => tensors.contains(f.name))
    create(spark, destRoot, StructType(fields))
  }

  /** Drop the whole table (reference `muller.delete`). */
  def delete(spark: SparkSession, root: String): Unit = {
    val f = CommitLog.fs(spark, root)
    f.delete(new Path(root), true)
    dropBranchCasLock(f.makeQualified(new Path(root)).toString)
  }
}
