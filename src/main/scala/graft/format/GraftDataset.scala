package graft.format

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

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
  *
  * Staged state is ONE immutable [[TableState]]: HEAD's manifest plus
  * every uncommitted edit, each edit a new value. Reads take a state, so
  * time travel, diff, merge and the change feed read each commit once,
  * into a state of its own, with no second handle.
  *
  * A lost branch CAS rebases the commit ([[rebaseOnto]]): our change
  * over the parent is replayed on the winner when both kept the parent's
  * schema and rename chain, our update/tombstone lists extend the
  * parent's, and by what we changed:
  *   - replaced base entries → a pure rewrite whose replaced entries the
  *     winner still holds;
  *   - new updates/tombstones → the winner's lists extend the parent's
  *     too, and the two sides' new entries touch disjoint uuids;
  *   - appends only → anything the winner did (a table's first commit
  *     stages on the empty state).
  * Anything else stays a loud ConcurrentModificationException.
  *
  * Saved views and the inverted and vector indexes are the
  * [[IndexFacet]] this class mixes in; the batch change feed and its
  * replica side are the [[ChangeFeedFacet]].
  */
class GraftDataset private[format] (
    val spark: SparkSession,
    val root: String,
    private var branchName: Option[String],
    private[format] var headId: Option[String],
    // the manifest as loaded from HEAD plus every staged edit; each edit
    // replaces the value, so a state handed to a read stays as it was
    private[format] var st: TableState)
    extends IndexFacet with ChangeFeedFacet {

  import GraftDataset._

  private[format] var dirty: Boolean = false
  // true while the ONLY staged change is a file rewrite that leaves the
  // logical rows untouched (compact from a clean state) — published as
  // CommitMeta.rewrite so streaming tails skip the commit instead of
  // re-emitting every rewritten row (Delta's dataChange=false contract)
  private var pendingRewrite: Boolean = false

  private def loadHead(): Unit = {
    st = headId.fold(TableState.empty(new StructType()))(id =>
      TableState.of(CommitLog.readCommit(spark, root, id)))
    dirty = false
    pendingRewrite = false
  }

  /** Stage an edit of the manifest; `rewrite` says the edit changes
    * files only, never logical rows. */
  private def stage(s: TableState, rewrite: Boolean = false): Unit = {
    st = s; dirty = true; pendingRewrite = rewrite
  }

  def branch: Option[String] = branchName
  def head: Option[String] = headId
  /** All manifest entries of the loaded state (planner statistics). */
  private[format] def manifestEntries: Seq[String] = st.entries
  def schema: StructType = st.schema
  def hasUncommitted: Boolean = dirty

  // ---- snapshot read ------------------------------------------------------

  private[format] def emptyDf(s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

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

  /** `files` of state `s` read under `target`, each group of entries
    * with the rename-chain suffix of its epoch. */
  private def readManifest(files: Seq[String], target: StructType,
                           s: TableState): DataFrame =
    if (files.isEmpty) emptyDf(target)
    else {
      // files written in different rename EPOCHS need different chain
      // suffixes (a post-rename file already carries current names; a
      // recreated column must not be re-renamed). Group by the actual
      // suffix so the no-rename common case stays ONE parquet relation.
      // Legacy entries (no recorded epoch on a RENAMED table) cannot
      // trust the derived schema — see [[TableState.epochKnown]].
      val (derivable, legacy) =
        files.partition(f => s.renames.isEmpty || s.epochKnown(f))
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
          target, s.renames)
      }
      val derivedDfs = derivable.groupBy(f => s.renames.drop(s.epochOf(f))).toSeq
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

  /** Snapshot of state `s` with the hidden `_uuid` column (internal +
    * merge/diff + the integrity gates of the soak mains). */
  private[graft] def snapshotWithUuid(s: TableState = st): DataFrame = {
    val target = withUuidSchema(s.schema)
    val base = readManifest(s.files, target, s)
    val (updates, tombstones) = (s.updates, s.tombstones)
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
      if (updates.size == 1) readManifest(updates, target, s)
      else GraftDataset.lastWinsPerUuid(
        updates.zipWithIndex.map { case (u, i) =>
          readManifest(Seq(u), target, s).withColumn("_file_seq", lit(i))
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
    st.schema.fieldNames.foldLeft(toDF)((d, c) => d.filter(col(c).isNotNull))

  /** Snapshot of an arbitrary commit (time travel). */
  def snapshotAt(commitId: String): DataFrame = snapshotAtWithUuid(commitId).drop(UuidCol)

  private[format] def snapshotAtWithUuid(commitId: String): DataFrame =
    snapshotWithUuid(stateAt(commitId))

  /** The state of `commitId`, from `read` when that is the commit
    * already read (a commit-id ref's existence check). */
  private def stateAt(commitId: String,
                      read: Option[CommitMeta] = None): TableState =
    stateOf(read.filter(_.id == commitId)
      .getOrElse(CommitLog.readCommit(spark, root, commitId)))

  /** The state of commit `m`; vacuumed-away history fails here, not
    * mid-scan. */
  private def stateOf(m: CommitMeta): TableState = {
    assertNotExpired(spark, root, m)
    TableState.of(m)
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
    // racing read-modify-write of `st` would silently lose one bin's
    // stats.
    if (kind != "update" && kind != "tombstone") {
      val stats = FileSkipping.footerStats(spark, root, rel, st.schema)
      this.synchronized { st = st.copy(stats = st.stats ++ stats) }
    }
    // written under CURRENT names → only the chain suffix after this
    // point may apply to it on read (see readManifest epoch grouping)
    this.synchronized {
      if (st.renames.nonEmpty)
        st = st.copy(epochs = st.epochs + (rel -> st.renames.size))
    }
    rel
  }

  /** Snapshot with base files pruned by pushed filters — the registered
    * source's scan path. The filters are RE-APPLIED above this plan by
    * the caller; pruning only removes files that provably contain no
    * matching row, so answers are identical with pruning on or off.
    */
  private[format] def prunedSnapshotWithUuid(
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    snapshotWithUuid(st.copy(files = st.pruneBaseFiles(filters)))

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
  private[format] def landEntry(df: DataFrame, kind: String)
                               (register: String => Unit): Long = {
    val rel = writeData(df, kind)
    val n = writtenRowCount(rel)
    if (n > 0) { register(rel); dirty = true; pendingRewrite = false }
    else deleteData(rel)
    n
  }

  private[format] def addFile(rel: String): Unit =
    st = st.copy(files = st.files :+ rel)
  private[format] def addUpdate(rel: String): Unit =
    st = st.copy(updates = st.updates :+ rel)
  private[format] def addTombstone(rel: String): Unit =
    st = st.copy(tombstones = st.tombstones :+ rel)

  /** Footer row count over several manifest entries, parallelized —
    * the maintenance-path analogue of [[FileSkipping.footerStats]]'s
    * bounded-pool reads (serial opens would dominate on a 10k-entry
    * table).
    */
  private[format] def footerRows(rels: Seq[String]): Long =
    CommitLog.parMap(rels)(writtenRowCount).sum

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
    val perEntry = st.files.map(e => e -> st.entryStatRows(e)) // one stats pass
    val statted = perEntry.flatMap(_._2).sum
    val unstatted = perEntry.collect { case (e, None) => e }
    statted + footerRows(unstatted) - footerRows(st.tombstones)
  }

  /** Global (min, max) of a column from the skipping stats alone, when
    * provably exact ([[TableState.statMinMax]]). */
  private[format] def statMinMax(column: String): Option[(Any, Any)] =
    st.statMinMax(column)

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
    stage(st.withColumn(addNested(st.schema, parts, dataType, md),
      parts match { case Seq(top) => Some(top); case _ => None }))
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
    walk(st.schema, "").toMap
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
    require(st.schema.fieldNames.contains(name), s"no column $name")
    stage(st.dropped(name))
  }

  def renameTensor(from: String, to: String): Unit = {
    require(!to.startsWith(DropPrefix), s"$DropPrefix names are reserved")
    appendRename(from, to)
  }

  /** Rename a column by appending to the rename chain (no data moves). */
  private def appendRename(from: String, to: String): Unit = {
    require(st.schema.fieldNames.contains(from), s"no column $from")
    require(!st.schema.fieldNames.contains(to), s"column $to exists")
    stage(st.renamed(from, to))
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
    val unknown = df.columns.filterNot(c => st.schema.fieldNames.contains(c))
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(",")}")
    val aligned = st.schema.fields.map { f =>
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
    // each partition's first uuid, base included: Spark inlines a Long
    // literal into the generated Java, so `lit(base)` compiled a new
    // write-stage class for every reservation; the map literal is passed
    // by reference and keeps the plan's code the same across appends
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (pid, n) =>
      val o = pid -> (base + acc); acc += n; o
    }.toMap
    require(acc < (1L << 40), "append larger than 2^40 rows; split it")
    // the low-33-bit row-in-partition counter wraps at 2^33 rows in ONE
    // partition — pass 1 already has the per-partition counts, so refuse
    // loudly instead of writing colliding uuids
    require(counts.forall(_._2 < (1L << 33)),
      s"a partition holds >= 2^33 rows (max ${counts.map(_._2).max}); " +
        "repartition the input before append")
    // pass 2: uuid = offset(partition) + row-in-partition. An
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
    val withUuid = prepared.withColumn(UuidCol, offsetOf + guardedIdx)
    addFile(writeData(withUuid, "base"))
    dirty = true; pendingRewrite = false
  }

  /** In-place update (reference `ds.update` / `tensor[i] = v`,
    * crud_operations.py:216-258): rows matching `cond` get `assignments`
    * applied, written as a merge-on-read update file.
    */
  def update(cond: Column, assignments: Map[String, Column]): Long = {
    val bad = assignments.keySet.filterNot(st.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns: ${bad.mkString(",")}")
    val changed = assignments.foldLeft(snapshotWithUuid().filter(cond)) {
      case (d, (c, v)) => d.withColumn(c, v.cast(st.schema(c).dataType))
    }
    // ONE pass: write, then count from the written footers (no second
    // execution of the filter plan); an empty result unregisters itself
    landEntry(changed, "update")(addUpdate)
  }

  /** Delete rows matching `cond` (reference `pop`,
    * crud_operations.py:259-292) — writes a uuid tombstone file.
    */
  def pop(cond: Column): Long = {
    val dead = snapshotWithUuid().filter(cond).select(UuidCol)
    // same single-pass shape as update: write + footer count
    landEntry(dead, "tombstone")(addTombstone)
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
    val badBloom = bloomFilterFor.filterNot(st.schema.fieldNames.contains)
    require(badBloom.isEmpty, s"unknown bloom columns: ${badBloom.mkString(",")}")
    val bad = clusterBy.filterNot(st.schema.fieldNames.contains)
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
    stage(st.copy(files = Vector(rel), updates = Vector.empty,
      tombstones = Vector.empty, renames = Vector.empty,
      epochs = Map.empty, statsNormalized = true), // fresh names + stats
      rewrite = rewriteOnly)
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
    val sized = CommitLog.parMap(st.files)(rel =>
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
          withUuidSchema(st.schema), st).coalesce(1), "bin"))
    stage(st.copy(files = st.files.filterNot(rewritten.contains) ++ newEntries),
      rewrite = rewriteOnly)
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
    val numeric = clusterBy.filter(c => st.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           _: org.apache.spark.sql.types.DateType |
           _: org.apache.spark.sql.types.TimestampType => true
      case _ => false
    })
    // DATE cannot cast straight to double (disallowed since Spark 3.0);
    // route it through timestamp (one session-zone conversion, identical
    // for boundaries and values, so bucket assignment is consistent)
    def asDouble(c: String): Column = st.schema(c).dataType match {
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
      st.schema(c).dataType match {
        case _ if numBounds.contains(c) =>
          ZOrder.rangeBucketDouble(asDouble(c), numBounds(c))
        case _: org.apache.spark.sql.types.StringType =>
          // bounded sample (RangePartitioner-style); the fraction is
          // sized from the base files' FOOTER row counts so the sample
          // job reads ~targetRows regardless of table size; sorted under
          // UTF8String.binaryCompare = the parquet stats collation
          val targetRows = nBuckets * 16
          val estimate = math.max(1L, footerRows(st.files))
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
          if (rebasesLeft <= 0 || !rebaseLostCommit()) throw e
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

  /** Rebase a lost optimistic commit onto the branch's new head with
    * [[rebaseOnto]]; false (the caller rethrows) when the branch is gone
    * or did not move. A None parent is the CREATE race: two writers (e.g.
    * two streaming queries starting against one empty table) both staged
    * the table's FIRST commit and ours lost the branch CAS; its parent,
    * the empty state with OUR schema, keeps diverging create schemas a
    * loud conflict.
    */
  private def rebaseLostCommit(): Boolean = {
    val b = branchName.getOrElse(return false)
    val newHeadId = CommitLog.readBranches(spark, root)
      .getOrElse(b, return false)
    if (headId.contains(newHeadId)) return false
    val parent = headId.fold(TableState.empty(st.schema))(id =>
      TableState.of(CommitLog.readCommit(spark, root, id)))
    val rebased = rebaseOnto(parent,
      TableState.of(CommitLog.readCommit(spark, root, newHeadId)))
    rebased.foreach { s => st = s; headId = Some(newHeadId) }
    rebased.isDefined
  }

  /** Our staged change replayed on the winner `head` of a lost branch
    * CAS when it provably commutes with what the winner did since our
    * `parent` (accept table in the class doc) — a metadata-only retry,
    * the data files exist. None otherwise: conflicts that need user
    * semantics stay loud. Why each case commutes:
    *   - REPLACED entries (clean-state [[optimizeSmallFiles]] /
    *     [[compact]], Delta's OPTIMIZE resolution, so maintenance runs
    *     beside live ingest): base bytes are immutable and
    *     position-independent, the winner's new updates/tombstones apply
    *     by `_uuid` over the repacked bases unchanged, and its new base
    *     entries stay unpacked until the next pass. A FOLDING compact
    *     resets the lists and stays loud. The rewrite flag stays, so
    *     feeds still skip the commit.
    *   - UPDATES/TOMBSTONES (so an enrichment job runs beside ingest and
    *     maintenance without a lock) are SNAPSHOT-SCOPED edits pinned to
    *     `_uuid`: they commute with appends (disjoint uuid spaces) and
    *     rewrites (uuid-preserving). A winner that mutated too commutes
    *     exactly when the new entries touch DISJOINT uuids — row-level,
    *     finer than Delta's file-level check. OVERLAPPING edits stay
    *     loud: postimages are FULL rows computed against OUR parent, so
    *     replaying them over the winner's edit of the SAME row would
    *     silently clobber it (any last-wins order would be an arbitrary
    *     pick) — Delta's ConcurrentDeleteRead/WriteException family. A
    *     winner that FOLDED the lists (compact over churn) stays loud.
    *   - APPENDS commute with anything the winner did to OTHER rows:
    *     [[CommitLog.claimReservation]] gives each appender a disjoint
    *     uuid block, so the winner's edits cannot reference ours — N
    *     ingest jobs append to one table without a lock or a retry loop.
    * The winner's state is adopted wholesale with our delta replayed on
    * it ([[TableState.replayedOn]]), stats and epochs riding along per
    * entry — valid because the rename chain is unchanged.
    */
  private def rebaseOnto(parent: TableState,
                         head: TableState): Option[TableState] = {
    def keepsParentShape(s: TableState) =
      s.schema.json == parent.schema.json && s.renames == parent.renames
    val d = st.since(parent).filter(_ =>
      keepsParentShape(st) && keepsParentShape(head)).getOrElse(return None)
    val commutes =
      if (d.replaced.nonEmpty)
        pendingRewrite && d.mutations.isEmpty &&
          d.replaced.forall(head.files.toSet)
      else if (d.mutations.nonEmpty) head.since(parent).exists { h =>
        // cost scales with the churn of the two commits, never the
        // table, with no driver-side uuid materialization
        h.mutations.isEmpty ||
          readUuids(d.mutations).join(readUuids(h.mutations), UuidCol).isEmpty
      }
      else true
    if (commutes) Some(st.replayedOn(head, d)) else None
  }

  private def publishCommit(id: String, message: String,
                            parent: Option[String],
                            mergeParent: Option[String]): Unit = {
    CommitLog.writeCommit(spark, root,
      st.meta(id, parent, mergeParent, message, rewrite = pendingRewrite))
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
  def log: Seq[CommitMeta] =
    CommitLog.firstParentChain(spark, root, headId).toVector

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
  def commitsBetween(ancestorId: String, descendantId: String): Seq[CommitMeta] =
    pathBetween(ancestorId, descendantId, None)

  /** [[commitsBetween]], `read` being `descendantId`'s commit when the
    * caller already read it. */
  private[format] def pathBetween(ancestorId: String, descendantId: String,
                                  read: Option[CommitMeta]): Seq[CommitMeta] = {
    val path = CommitLog.firstParentChain(spark, root, Some(descendantId),
      Some(ancestorId), read).toVector
    require(path.lastOption.fold(descendantId == ancestorId)(
      _.parent.contains(ancestorId)),
      s"$ancestorId is not a first-parent ancestor of $descendantId")
    path.reverse
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
        val m = CommitLog.findCommit(spark, root, ref)
        require(m.isDefined, s"no branch or commit $ref")
        branchName = None; headId = Some(ref); st = TableState.of(m.get)
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
      st.entries
    val doomed = exclusive.toSeq.sorted.flatMap(id =>
      all.get(id).toSeq.flatMap(entriesOf)).distinct
      .filterNot(survivorEntries.contains)
    exclusive.foreach(CommitLog.deleteCommitFile(spark, root, _))
    CommitLog.dropFromAncestry(spark, root, exclusive)
    doomed.foreach(deleteData)
  }

  // ---- storage reclamation ------------------------------------------------

  /** Commits that must never lose data files: every branch head, this
    * instance's HEAD (possibly detached), every saved view's pinned
    * commit, and every persisted index's bound commit.
    */
  private def pinnedCommits(excludeBranch: Option[String] = None): Set[String] =
    ((branches -- excludeBranch).values ++ headId ++ metaPins).toSet

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
        st.entries
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
      val newCutoff = math.max(vacuumCutoff(spark, root).getOrElse(Long.MinValue),
        math.min(cutoff, now)) // future cutoffs cap at `now`: later commits are intact
      CommitLog.atomicReplace(spark, vacuumFile(root),
        org.json4s.jackson.Serialization.write(Map("cutoffMs" -> newCutoff))(
          org.json4s.DefaultFormats))
    }
    spark.createDataFrame(report).toDF("entry", "bytes", "status")
  }

  // ---- diff / merge -------------------------------------------------------

  /** The commit id `ref` names — a branch head, else a commit id — and,
    * for a commit id, the commit its existence check read, so the
    * caller builds its state without reading it again. */
  private[format] def resolveRef(ref: String): (String, Option[CommitMeta]) =
    branches.get(ref) match {
      case Some(id) => (id, None)
      case None =>
        val m = CommitLog.findCommit(spark, root, ref)
        require(m.isDefined, s"no branch or commit $ref")
        (m.get.id, m)
    }

  /** The commit `ref` names, read once. */
  private[format] def readRef(ref: String): CommitMeta = {
    val (id, read) = resolveRef(ref)
    read.getOrElse(CommitLog.readCommit(spark, root, id))
  }

  /** HEAD, the target, the LCA, and the target's commit if resolving it
    * read it. */
  private def threeWayIds(targetRef: String) = {
    val ourId = headId.getOrElse(throw new IllegalStateException("no HEAD"))
    val (theirId, theirs) = resolveRef(targetRef)
    val lcaId = CommitLog.lca(spark, root, ourId, theirId)
    (ourId, theirId, lcaId, theirs)
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
      frames: Seq[(TableState, Seq[(String, String)])]): ThreeWay = {
    val states = frames.map(_._1)
    val lca = states.head
    val shared = states.map(_.entries.toSet).reduce(_ intersect _)
    val sameOrder = states.map(_.updates.filter(shared)).distinct.size == 1
    if (!sameOrder || !Versioning.uniformOutsideChurn(tw.schema, lca, frames)) tw
    else {
      val churn = states.flatMap(_.entries).distinct.filterNot(shared)
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
    val (ourId, theirId, lcaId, theirs) = threeWayIds(targetRef)
    val states = Seq(lcaId, ourId, theirId).map(stateAt(_, theirs))
    val Seq(l, o, t) = states.map(snapshotWithUuid)
    val tw = ThreeWay(l, o, t,
      Versioning.mergedSchema(st.schema, states(2).schema))
    if (restrict) restrictToChurn(tw, states.map(_ -> Nil)) else tw
  }

  /** Per-side change sets vs the LCA (reference `diff`). Joins only the
    * rows either side touched since the LCA (see [[Versioning]]). */
  def diff(targetRef: String): DataFrame = {
    val in = compareInputs(targetRef)
    Versioning.diffReport(in.lca, in.ours, in.theirs, in.schema)
  }

  /** Row-level value diff between HEAD and another ref
    * (reference `direct_diff`).
    */
  def directDiff(targetRef: String): DataFrame = {
    val theirs = stateOf(readRef(targetRef))
    Versioning.directDiff(snapshotWithUuid(), snapshotWithUuid(theirs),
      Versioning.mergedSchema(st.schema, theirs.schema))
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
    val Seq(a, b) = Seq(readRef(ref1), readRef(ref2)).map(stateOf)
    Versioning.tensorDiff(snapshotWithUuid(a), snapshotWithUuid(b),
      Versioning.mergedSchema(a.schema, b.schema), tensors)
  }

  /** Conflict report for merging `targetRef` into HEAD
    * (reference `detect_merge_conflict`). Joins only the churn since the
    * LCA, like [[diff]].
    */
  def detectMergeConflict(targetRef: String): DataFrame = {
    val in = compareInputs(targetRef)
    Versioning.conflicts(in.lca, in.ours, in.theirs, in.schema)
  }

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
      lcaId: String, restrict: Boolean = true,
      theirs: Option[CommitMeta] = None)
      : (ThreeWay, Seq[(String, String)]) = {
    val Seq(l, o, t) = Seq(lcaId, ourId, theirId).map(stateAt(_, theirs))
    val lcaRen = l.renames
    def since(chain: Seq[(String, String)]): Seq[(String, String)] =
      if (chain.startsWith(lcaRen)) chain.drop(lcaRen.length)
      else chain // compaction reset the chain; apply conservatively
    // drop markers (deleteTensor's dead-name pairs) are NOT renames to
    // propagate: delete-vs-keep keeps the column via schema union, the
    // pre-marker semantics; letting a marker through would rename the
    // other side's live column (or the LCA's) onto a dead name.
    val theirNew = since(t.renames).filterNot(p => isDropMarker(p._2))
    val ourNew = since(o.renames).filterNot(p => isDropMarker(p._2))
    val (ourSchema0, theirSchema0) = (o.schema, t.schema)
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
      renameDf(snapshotWithUuid(l), lcaRenames),
      renameDf(snapshotWithUuid(o), adoptOurs),
      renameDf(snapshotWithUuid(t), adoptTheirs),
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
    val (ourId, theirId, lcaId, theirs) = threeWayIds(targetRef)
    if (lcaId == theirId) return ourId // target already merged
    val (in, adoptOurs) = mergeInputs(ourId, theirId, lcaId, theirs = theirs)
    val delta = Versioning.mergeDelta(in.lca, in.ours, in.theirs,
        withUuidSchema(in.schema), resolutions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // adopt the merged names BEFORE any write, so the entries' skipping
      // stats and rename epochs are taken under the final names; the
      // delta plan reads per-commit snapshots, never this staged state
      for ((from, to) <- adoptOurs if st.schema.fieldNames.contains(from))
        appendRename(from, to)
      st = st.copy(schema = in.schema)
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
        if (n("insert") == 0 || st.tombstones.isEmpty) None
        else Some(inserts.select(UuidCol)
          .join(readUuids(st.tombstones), Seq(UuidCol), "left_semi"))
          .filterNot(_.isEmpty)
      val (fresh, postimages) = revived.fold((inserts, updates))(r =>
        (inserts.join(r, Seq(UuidCol), "left_anti"),
          updates.unionByName(inserts.join(r, Seq(UuidCol), "left_semi"))))
      if (n("insert") > 0)
        landEntry(fresh.drop(Versioning.DeltaOp), "merge")(addFile)
      if (n("update") > 0 || revived.isDefined)
        landEntry(postimages.drop(Versioning.DeltaOp), "update")(addUpdate)
      revived.foreach(reviveFromTombstones)
      if (n("delete") > 0)
        landEntry(delta.filter(op === "delete").select(UuidCol),
          "tombstone")(addTombstone)
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
    val hit = st.tombstones.zipWithIndex
      .map { case (t, i) => readUuids(Seq(t)).withColumn("_entry", lit(i)) }
      .reduce(_ unionByName _)
      .join(uuids, Seq(UuidCol), "left_semi")
      .select("_entry").distinct().collect().map(_.getInt(0)).toSet
    // every landed entry updates `st` (epochs), so the new list is built
    // first and swapped in after
    val tombstones = st.tombstones.zipWithIndex.flatMap { case (t, i) =>
      if (!hit(i)) Some(t)
      else {
        var kept: Option[String] = None
        landEntry(readUuids(Seq(t)).join(uuids, Seq(UuidCol), "left_anti"),
          "tombstone")(r => kept = Some(r))
        kept
      }
    }
    st = st.copy(tombstones = tombstones)
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

  /** Operational view of the live base manifest with its file-skipping
    * stats: one row per (file, statted column) — entries or files
    * without stats appear with null columns. Lets a user see WHY a
    * selective query did or didn't skip ("are my files range-clustered
    * on this key, or does every file span the whole domain?") without
    * reading any data file.
    */
  def describeFiles: DataFrame = {
    import spark.implicits._
    st.files.flatMap { entry =>
      val epoch = st.epochOf(entry) // rename-chain suffix start (0 = whole chain)
      val prefix = entry + "/"
      val perFile = st.stats.view
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
    CommitLog.parMap(st.entries) { rel =>
      val p = new Path(root, rel)
      if (f.exists(p)) f.getContentSummary(p).getLength else 0L
    }.sum
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

  /** `s` with the row-identity column last. */
  private[format] def withUuidSchema(s: StructType): StructType =
    StructType(s.fields ++ UuidSchema.fields)

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

  private[format] def entriesOf(m: CommitMeta): Seq[String] =
    m.files ++ m.updates ++ m.tombstones

  private def vacuumFile(root: String) = new Path(root, "_graft/vacuum.json")

  /** Watermark of the newest cutoff any completed vacuum used: commits
    * older than this MAY have lost data files, so time travel to them
    * first verifies their manifest still resolves (clean error instead
    * of a mid-scan path failure).
    */
  private[format] def vacuumCutoff(spark: SparkSession,
                                   root: String): Option[Long] = {
    val f = CommitLog.fs(spark, root)
    if (!f.exists(vacuumFile(root))) None
    else scala.util.Try {
      val in = f.open(vacuumFile(root))
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (org.json4s.jackson.JsonMethods.parse(s) \ "cutoffMs")
        .extract[Long](org.json4s.DefaultFormats, implicitly[Manifest[Long]])
    }.toOption
  }

  private[format] def assertNotExpired(spark: SparkSession, root: String,
                                       m: CommitMeta): Unit =
    vacuumCutoff(spark, root).filter(m.timestampMs < _).foreach { _ =>
      val f = CommitLog.fs(spark, root)
      val missing = entriesOf(m).filterNot(e => f.exists(new Path(root, e)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"commit ${m.id} has been expired by vacuum (missing data: " +
          s"${missing.take(3).mkString(", ")}); time travel to it is no " +
          "longer possible")
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
    val ds = new GraftDataset(spark, root, Some(branch), None,
      TableState.empty(schema))
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
    new GraftDataset(spark, root, Some(branch), Some(heads(branch)),
      TableState.of(CommitLog.readCommit(spark, root, heads(branch))))
  }

  /** Newest commit on the branch's first-parent chain whose timestamp
    * is ≤ `tsMs` — Delta's TIMESTAMP AS OF resolution. First-parent
    * timestamps are publish wall clocks and monotone in practice; the
    * walk is O(commits newer than tsMs), not O(history).
    */
  def commitAsOf(spark: SparkSession, root: String, tsMs: Long,
                 branch: String = "main"): String = {
    val head = CommitLog.readBranches(spark, root).get(branch)
    require(head.isDefined, s"no branch $branch at $root")
    CommitLog.firstParentChain(spark, root, head).find(_.timestampMs <= tsMs)
      .map(_.id).getOrElse(throw new IllegalArgumentException(
        s"no commit at or before timestamp $tsMs on branch $branch " +
          s"(the table's first commit is newer)"))
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
    val m = CommitLog.findCommit(spark, root, commitId)
    require(m.isDefined, s"no commit $commitId at $root")
    assertNotExpired(spark, root, m.get)
    new GraftDataset(spark, root, None, Some(commitId), TableState.of(m.get))
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
