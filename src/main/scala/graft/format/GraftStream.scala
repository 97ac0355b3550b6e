package graft.format

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftnative.InternalDf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The streaming halves of the `graft` data source —
  * `df.writeStream.format("graft")` (sink) and
  * `spark.readStream.format("graft")` (source) — so the versioned table
  * format participates in Structured Streaming from ANY language binding,
  * not just the Scala `GraftStreaming.appendStream` helper. Above-parity:
  * the reference's closest analogue is batch incremental append
  * (`muller/core/dataset.py` append + `update_index`); here every
  * micro-batch is a commit and every commit is a micro-batch.
  */
object GraftStream {

  /** Change-feed metadata columns (Delta CDF naming, minus pre-images). */
  val ChangeTypeCol = "_change_type"
  val CommitIdCol = "_commit_id"

  /** Commit-message marker carrying (query token, epoch id) — the
    * idempotency key for exactly-once appends under checkpoint recovery.
    * The token identifies the STREAM (derived from its checkpoint
    * location): epoch numbers restart at 0 for every new query, so an
    * epoch-only check would silently drop the first batches of a second
    * query writing to the same table (Delta's (txnAppId, txnVersion)
    * idea, carried in the commit message).
    */
  private[format] val MarkerRe = "stream\\[([0-9a-f]+)\\] batch (\\d+)".r

  private[graft] def marker(token: String, batchId: Long) =
    s"stream[$token] batch $batchId"

  /** A stable per-query token from the checkpoint location (the one
    * identity that survives restarts and differs between queries).
    * 128-bit md5: at 32 bits the birthday bound puts two colliding
    * checkpoint paths within reach of a few tens of thousands of queries
    * over one table's lifetime — and a collision means silently dropped
    * batches. md5's full width makes that unreachable.
    */
  private[graft] def queryToken(checkpointLocation: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointLocation.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** The pre-md5 8-hex murmur token. Markers already persisted in commit
    * messages carry THIS form for streams that ran before the md5 switch;
    * the marker walk accepts it alongside the md5 token (dual-read) so a
    * restarted pre-existing stream still finds its last epoch instead of
    * re-appending the checkpoint-replayed batch as silent duplicates.
    * New markers are always written with the md5 token.
    */
  private[format] def legacyQueryToken(checkpointLocation: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(checkpointLocation) & 0xffffffffL}%08x"

  /** The most recent epoch THIS query committed, walking the first-parent
    * chain from the branch head. Stops at the first marker with a
    * matching token: epochs are monotone per query, so one marker
    * decides. For a stream-owned branch this reads exactly one commit; a
    * new query over a LONG-LIVED table is the expensive case — a marker
    * MISS must conclude None, so the walk is checkpoint-served
    * ([[CommitLog.firstParentWhere]]): one ancestry-checkpoint read plus
    * O(eager + slack) commit reads, never O(history) serial round-trips.
    */
  private[graft] def lastBatchId(spark: SparkSession, root: String,
                                  head: Option[String],
                                  tokens: Set[String]): Option[Long] = {
    def matches(msg: String): Boolean = msg match {
      case MarkerRe(t, _) => tokens(t)
      case _ => false
    }
    CommitLog.firstParentWhere(spark, root, head, matches)
      .map(_._2 match { case MarkerRe(_, id) => id.toLong })
  }

  private[format] def offsetValue(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    // after checkpoint recovery V1 hands back a SerializedOffset whose
    // json is what LongOffset.json wrote — a bare long
    case other => other.json.trim.toLong
  }

  private[format] def commitId(v: Long): String = f"$v%08d"

  /** Data columns forced NULLABLE for change feeds: delete events carry
    * null in every data column (identity-only), so a non-nullable
    * declared schema would let the optimizer constant-fold an
    * `IsNotNull` filter to true and leak delete rows through it (or
    * NPE a typed consumer). `_uuid` stays non-null — every event
    * carries identity.
    */
  private[format] def nullableData(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.map(f =>
      if (f.name == GraftDataset.UuidCol) f else f.copy(nullable = true)))

  /** A commit whose manifest DROPPED prior entries (compaction or
    * bin-packing over staged changes, a merge that resurrects popped
    * rows by rewriting their tombstone entries) FOLDS history into fresh
    * files: its new files restate old rows, not changes, so a change
    * feed cannot express it as per-row events — emitting its files as
    * inserts would silently duplicate the whole table downstream. Fail
    * loudly; maintenance run from a CLEAN state publishes a
    * rewrite-flagged commit, which feeds skip entirely. A merge commit
    * that only extends ours' manifest (the common case, see
    * [[GraftDataset.merge]]) passes: its entries are its events.
    */
  private[format] def requireDeltaExpressible(m: CommitMeta,
                                              prev: CommitMeta): Unit = {
    val (files, ups, tombs) =
      (m.files.toSet, m.updates.toSet, m.tombstones.toSet)
    require(prev.files.forall(files) &&
        prev.updates.forall(ups) &&
        prev.tombstones.forall(tombs),
      s"commit ${m.id} folds prior state into rewritten files (compaction " +
        "over staged changes, or a merge that resurrects popped rows); a " +
        "change feed cannot express " +
        "it as row events — run maintenance from a clean state (rewrite-" +
        "flagged commits are skipped) or split the feed at this commit")
  }

  /** The rename pairs a commit adds over its parent, IFF the schema
    * change is a PURE RENAME: the rename chain grew by exactly the
    * returned pairs, field count / order / types / nullability are
    * unchanged, and applying the pairs to the parent's names yields the
    * commit's names. Anything else (added / dropped column — drops also
    * change the field count via their marker rename — or a type change)
    * returns None and the caller keeps its loud-failure contract.
    * Pure renames are metadata-only, so a change feed CAN keep speaking
    * its pinned schema across them (positional identity holds).
    */
  private[graft] def renameDelta(prev: CommitMeta,
                                 m: CommitMeta): Option[Seq[(String, String)]] = {
    if (m.renames.size <= prev.renames.size) return None
    if (m.renames.take(prev.renames.size) != prev.renames) return None
    val added = TableState.renamesOf(m).drop(prev.renames.size)
    val (prevS, mS) = (TableState.schemaOf(prev), TableState.schemaOf(m))
    if (prevS.fields.length != mS.fields.length) return None
    val renamed = added.foldLeft(prevS.fieldNames.toSeq) { case (ns, (f, t)) =>
      ns.map(n => if (n == f) t else n)
    }
    val shapeOk = prevS.fields.zip(mS.fields).forall { case (a, b) =>
      a.dataType == b.dataType && a.nullable == b.nullable }
    if (shapeOk && renamed == mS.fieldNames.toSeq) Some(added) else None
  }

  /** The fields a commit ADDED over its parent, IFF the schema change is
    * a PURE ADDITIVE evolution: the rename chain is unchanged (drops
    * always touch it via their marker rename), the parent's fields are a
    * positional prefix of the commit's (same names, types, nullability),
    * and every appended field is nullable (existing rows must read as
    * null — `createTensor`'s contract). Anything else (drop, retype, a
    * nested add that mutates a struct field in place, an add combined
    * with a rename in one commit) returns None and the caller keeps its
    * loud-failure contract. Pure adds are metadata-only, so a change
    * feed pinned AT OR AFTER the add can keep speaking its pinned
    * schema: pre-add events null-backfill the added columns
    * (positional identity of the prefix holds).
    */
  private[graft] def addDelta(prev: CommitMeta,
                              m: CommitMeta): Option[Seq[StructField]] = {
    if (m.renames != prev.renames) return None
    val (prevS, mS) = (TableState.schemaOf(prev), TableState.schemaOf(m))
    val k = prevS.fields.length
    if (mS.fields.length <= k) return None
    val prefixOk = prevS.fields.zip(mS.fields.take(k)).forall { case (a, b) =>
      a.name == b.name && a.dataType == b.dataType && a.nullable == b.nullable
    }
    val added = mS.fields.drop(k)
    if (prefixOk && added.forall(_.nullable)) Some(added.toSeq) else None
  }

  /** The one-row `schema_change` event a pure rename emits into a change
    * feed: no row identity (`_uuid` = -1, a value real uuids — strictly
    * positive by construction — never take), all data columns null. A
    * replicator reads the rename pairs from the source commit's metadata
    * ([[renameDelta]] on `_commit_id`'s meta vs its parent) and applies
    * them to its replica; other consumers may treat it as a signal to
    * restart with a fresh checkpoint if they want the new names.
    */
  private[format] def schemaChangeEvent(spark: SparkSession,
                                        cdfSchema: StructType,
                                        commitId: String): DataFrame = {
    val row = org.apache.spark.sql.Row.fromSeq(cdfSchema.fields.toSeq.map {
      f => f.name match {
        case ChangeTypeCol => "schema_change"
        case CommitIdCol => commitId
        case GraftDataset.UuidCol => -1L
        case _ => null
      }
    })
    spark.createDataFrame(
      java.util.Collections.singletonList(row), cdfSchema)
  }

  /** One commit's change events vs its parent state — the shared engine
    * behind the streaming change feed (`changeFeed=true`) and the batch
    * [[GraftDataset.changes]] (Delta `table_changes` analogue):
    *   - new base files   → `insert` (full row),
    *   - new update files → `update_postimage` (full row, last-wins per
    *     uuid within the commit),
    *   - new tombstones   → `delete` (identity only: `_uuid` + null data
    *     columns).
    * `dataSchema` is the pinned read schema (table columns + `_uuid`).
    *
    * Rename-aware reads: when the walked range crosses pure renames, a
    * commit's files carry PHYSICAL column names from their own rename
    * epoch — reading them with the pinned names would silently
    * null-backfill the renamed column. Each file group is read with the
    * physical names of its epoch (the commit's own names with the chain
    * suffix after the epoch undone) and re-aliased POSITIONALLY to the
    * pinned schema — sound because pure renames preserve field order
    * ([[renameDelta]] is validated at every schema change in the walk).
    */
  private[format] def changeEvents(spark: SparkSession, root: String,
                                   dataSchema: StructType,
                                   m: CommitMeta,
                                   prev: CommitMeta): Seq[DataFrame] = {
    def paths(rels: Seq[String]) =
      rels.map(f => new org.apache.hadoop.fs.Path(root, f).toString)
    def tagged(df: DataFrame, tpe: String) = df
      .withColumn(ChangeTypeCol, lit(tpe))
      .withColumn(CommitIdCol, lit(m.id))
    // names at commit m, aligned positionally with the pinned dataSchema
    // (`_uuid` never renames); equal to the pinned names whenever the
    // range crosses no rename
    val mFields = TableState.schemaOf(m).fields
    val curNames: Seq[String] =
      mFields.map(_.name).toSeq :+ GraftDataset.UuidCol
    // the walked commit must be a pure-rename/pure-add stage of the
    // pinned schema: equal width, or NARROWER when the pin carries
    // columns added after this commit (the walk validates prev→m;
    // this guards the PIN itself, e.g. a checkpoint-reconstruction walk
    // over a range that predates a non-rename change the pinned head
    // schema already carries). The commit's fields must align as a
    // positional TYPE prefix of the pin — a same-width name skew is a
    // rename (fine); a type skew is a real schema change.
    require(curNames.length <= dataSchema.fields.length &&
        mFields.map(_.dataType).toSeq ==
          dataSchema.fields.take(mFields.length).map(_.dataType).toSeq,
      s"graft change feed: the table schema changed between commit " +
        s"${m.id} and the feed's pinned schema; restart the stream with " +
        "a fresh checkpoint to pick up the new schema")
    // pinned fields this commit's files can physically carry (prefix +
    // `_uuid`); columns the pin added later are null-backfilled below
    val pinnedSub = dataSchema.fields.take(mFields.length) :+
      dataSchema.fields.last
    val lateAdds = dataSchema.fields
      .slice(mFields.length, dataSchema.fields.length - 1)
    val epochs = m.epochs.getOrElse(Map.empty)
    def readPinned(rels: Seq[String]): DataFrame = {
      val narrow = rels.groupBy(r => epochs.getOrElse(r, 0)).toSeq.map {
        case (e, rs) =>
          // physical names at epoch e: undo the chain suffix applied
          // after the files were written, newest pair first
          val undo = TableState.renamesOf(m).drop(e).reverse
          val phys = curNames.map(n => undo.foldLeft(n) {
            case (nn, (from, to)) => if (nn == to) from else nn })
          val readSchema = StructType(pinnedSub.zip(phys).map {
            case (f, p) => f.copy(name = p) })
          spark.read.schema(readSchema).parquet(paths(rs): _*)
            .toDF(pinnedSub.map(_.name).toIndexedSeq: _*)
      }.reduce(_ unionByName _)
      lateAdds.foldLeft(narrow)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(dataSchema.fieldNames.toIndexedSeq.map(col): _*)
    }
    val out = Vector.newBuilder[DataFrame]
    val newFiles = m.files.filterNot(prev.files.toSet)
    if (newFiles.nonEmpty) out += tagged(readPinned(newFiles), "insert")
    val newUps = m.updates.filterNot(prev.updates.toSet)
    if (newUps.nonEmpty) {
      val all = newUps.zipWithIndex.map { case (u, i) =>
        readPinned(Seq(u)).withColumn("_file_seq", lit(i))
      }.reduce(_ unionByName _)
      out += tagged(GraftDataset.lastWinsPerUuid(all, "_file_seq"),
        "update_postimage")
    }
    val newTombs = m.tombstones.filterNot(prev.tombstones.toSet)
    if (newTombs.nonEmpty) {
      val dead = spark.read.schema(GraftDataset.UuidSchema)
        .parquet(paths(newTombs): _*)
      val cols = dataSchema.fields.toIndexedSeq.map { f =>
        if (f.name == GraftDataset.UuidCol) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      out += tagged(dead.select(cols: _*), "delete")
    }
    out.result()
  }
}

/** Streaming sink: one graft commit per micro-batch, exactly-once via the
  * epoch marker. The input DataFrame is bound to the engine's in-flight
  * incremental plan — it is detached (planned rows, rewrapped) before
  * entering the append path, which re-plans frames for uuid assignment.
  *
  * Query identity: the PRIMARY marker token is the engine's own query id
  * (persisted by StreamExecution in `<checkpoint>/metadata`), which is
  * REGENERATED when the checkpoint is wiped — so a user who deletes the
  * checkpoint to reset a stream gets a fresh identity, and the new
  * query's replayed batch ids are not skipped as duplicates of the old
  * one's (the checkpoint PATH alone cannot tell a reset from a restart,
  * and a reset's early batches carry brand-new source data). Markers
  * written by pre-id versions carry the path-md5 (or older murmur)
  * token; both stay accepted for READ so existing streams resume
  * seamlessly — such streams keep the path-token reset caveat until
  * their first id-token marker lands.
  */
class GraftSink(spark: SparkSession, root: String, branch: String,
                checkpointLocation: String, pathToken: String,
                legacyTokens: Set[String])
    extends Sink {

  // resolved lazily: StreamExecution writes <checkpoint>/metadata before
  // the first addBatch, but possibly after this sink is constructed.
  // None ONLY on confirmed absence — a transient read error must NOT be
  // cached as "no id token" (a lazy val that throws is retried on next
  // access, and the failed batch is retried by the engine): silently
  // dropping the primary token would stop earlier runs' id-token markers
  // from being recognized and replay a committed batch twice (ADVICE r20)
  private lazy val idToken: Option[String] = {
    val p = new org.apache.hadoop.fs.Path(checkpointLocation, "metadata")
    val f = CommitLog.fs(spark, checkpointLocation)
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        (org.json4s.jackson.JsonMethods.parse(s) \ "id")
          .extractOpt[String].filter(_.nonEmpty)
          .map(GraftStream.queryToken) // md5: MarkerRe wants [0-9a-f]+
      }
    } catch {
      case _: java.io.FileNotFoundException => None // raced genuine absence
    }
  }

  /** The sink's table, created by the first batch that finds none. The
    * branch map answers whether it exists: one file read per batch,
    * where listing the commits would list all of history. Two sinks
    * starting on one absent table race to create it, and the loser can
    * land in the winner's window: `create` publishes an empty branch map
    * before its first commit file, and that file before its branch
    * pointer, so the loser finds no branch and its `create` refuses the
    * existing table. The window closes when the winner's pointer lands,
    * so the refusal is retried until `deadline`; past it the refusal
    * propagates. Both sides creating is the rebased CREATE race of
    * `GraftDataset.commit`. */
  @scala.annotation.tailrec
  private def openTable(schema: StructType, deadline: Long): GraftDataset = {
    val opened =
      try Some(
        if (CommitLog.readBranches(spark, root).nonEmpty)
          GraftDataset.load(spark, root, branch)
        else GraftDataset.create(spark, root, schema, branch))
      catch {
        case _: IllegalArgumentException if System.nanoTime() < deadline => None
      }
    opened match {
      case Some(ds) => ds
      case None => Thread.sleep(20); openTable(schema, deadline)
    }
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val writeToken = idToken.getOrElse(pathToken)
    val acceptTokens = idToken.toSet + pathToken ++ legacyTokens
    val ds = openTable(data.schema, System.nanoTime() + 10L * 1000000000L)
    def committed(head: String): Boolean =
      GraftStream.lastBatchId(spark, root, Some(head), acceptTokens)
        .exists(_ >= batchId)
    val dup = ds.head.exists(committed)
    if (!dup) {
      // append runs TWO actions over the batch (per-partition counts for
      // uuid assignment, then the write) — persist the planned rows so
      // the upstream micro-batch plan executes once, not twice
      val (batch, rdd) = InternalDf.detachBatchCached(data)
      try {
        ds.append(batch)
        // the guard closes the zombie window the pre-check above cannot:
        // a concurrent twin of this query may commit THIS batch between
        // our check and our CAS — the lost CAS re-checks the marker
        // against the winning head and aborts instead of rebasing the
        // batch in twice (GraftDataset.commitGuarded)
        ds.commitGuarded(GraftStream.marker(writeToken, batchId),
          alreadyApplied = committed)
        ()
      } finally rdd.unpersist(false)
    }
  }

  override def toString: String = s"GraftSink[$root@$branch]"
}

/** Streaming source: tails a graft table's branch, one micro-batch per
  * commit-range. Offsets are commit ids (numeric); the first batch is the
  * full merge-on-read snapshot at the head observed at start, and every
  * later batch is the append-only file delta between two commits — zero
  * reprocessing, read straight from the new base files.
  *
  * In-place changes (updates / pops) between offsets cannot be expressed
  * as an append stream: the source fails loudly unless
  * `ignoreChanges=true`, which skips merge-on-read update/tombstone
  * files and emits new BASE files as inserts — Delta's `ignoreChanges`
  * contract INCLUDING its documented duplicate delivery: a commit that
  * folds prior state into rewritten base files (compaction over staged
  * changes) re-delivers the rewritten rows as inserts, because
  * new appends folded into those files are indistinguishable from old
  * rows without row-level diffing — downstream must tolerate duplicates
  * (or use `changeFeed=true`, which refuses such commits loudly).
  * Column renames always fail: the emitted schema is pinned at stream
  * start.
  *
  * `maxCommitsPerTrigger=N` paces catch-up: at most N commits advance
  * per micro-batch instead of folding a whole backlog into one batch.
  *
  * Out of contract: rewinding the branch (reset/force-checkout to an
  * earlier commit) under a running stream — offsets only move forward;
  * restart the stream with a fresh checkpoint after a rewind (the same
  * contract Delta's source has).
  */
class GraftTailSource(spark: SparkSession, root: String, branch: String,
                      withUuid: Boolean, ignoreChanges: Boolean,
                      maxCommitsPerTrigger: Int = 0,
                      metadataPath: String = "",
                      changeFeed: Boolean = false)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(!(changeFeed && ignoreChanges),
    "graft stream source: changeFeed already expresses in-place changes; " +
      "ignoreChanges would silently drop them — pick one")

  /** The branch head this source's schema was pinned at — the anchor
    * for validating that any other commit the engine asks to read is a
    * pure-rename stage of the pinned schema (positional identity). */
  private val pinnedHead: String =
    CommitLog.readBranches(spark, root).getOrElse(branch,
      throw new IllegalArgumentException(
        s"graft stream source: no branch '$branch' at $root — the table " +
          "must exist with at least one commit before streaming from it"))

  override val schema: StructType = GraftTailSource
    .schemaAtCommit(spark, root, pinnedHead, withUuid, changeFeed)

  /** Every schema change on the first-parent path between `endId` and
    * the pinned head must be a PURE RENAME — otherwise positional
    * alignment would silently mislabel columns (a delete+create of
    * same-typed columns has an identical SHAPE but different meaning).
    * Walked only when the two differ (restart reconstruction of an old
    * range, or commits landing between construction and first trigger);
    * O(gap) driver metadata reads.
    */
  private def requirePureRenamePath(endId: String): Unit = {
    if (endId == pinnedHead) return
    // commit ids are zero-padded monotone sequence numbers and parents
    // are strictly older, so the walk direction is decided numerically
    // up front — probing the wrong direction first would read the
    // WHOLE ancestry to the root (O(history), not O(gap)) every time a
    // commit lands between source construction and the first trigger
    val (ancestor, descendant) =
      if (endId.toLong < pinnedHead.toLong) (endId, pinnedHead)
      else (pinnedHead, endId)
    val path = CommitLog.firstParentChain(spark, root, Some(descendant),
      Some(ancestor)).toList
    if (!path.lastOption.exists(_.parent.contains(ancestor)))
      throw new IllegalStateException(
        s"graft stream source: commit $endId and the stream's pinned " +
          s"head $pinnedHead are not on one first-parent chain — " +
          "restart the stream with a fresh checkpoint")
    var prev = CommitLog.readCommit(spark, root, ancestor)
    for (m <- path.reverse) {
      if (m.schemaJson != prev.schemaJson)
        // change feeds tolerate pure renames and pure ADDS (positional
        // identity of the prefix; pre-add events null-backfill);
        // the plain tail reads files BY NAME against the pinned schema,
        // where even a pure rename would silently null-backfill the
        // renamed column — any gap schema change fails it loudly
        require(changeFeed &&
            (GraftStream.renameDelta(prev, m).isDefined ||
              GraftStream.addDelta(prev, m).isDefined),
          s"graft stream source: the table schema changed at commit " +
            s"${m.id} between this batch's range and the stream's " +
            "pinned schema; restart the stream with a fresh checkpoint " +
            "to pick up the new schema")
      prev = m
    }
  }

  private def logicalCols = schema.fieldNames.toIndexedSeq.map(col)

  /** The pinned DATA schema under the change-feed metadata columns:
    * table columns + `_uuid` (the feed's row identity — a delete event
    * carries ONLY identity, so the uuid is always included). */
  private def cdfDataSchema: StructType =
    StructType(schema.fields.dropRight(2))

  // ---- rate limiting (maxCommitsPerTrigger > 0) -------------------------
  // A stream resuming after downtime would otherwise replay the WHOLE
  // backlog as one giant micro-batch. The cap must land on a commit that
  // is actually ON this branch's first-parent chain (ids are allocated
  // globally across branches, so head-minus-k is not necessarily ours):
  // the chain is walked once per new head and memoized, so a catch-up
  // over n commits costs O(n) total commit reads, not O(n) per trigger.
  //
  // `floorV` = highest offset ever handed to the engine. It must SURVIVE
  // restarts when rate limiting is on: the engine restores its committed
  // offset from the checkpoint but never tells a V1 source, so a fresh
  // source would cap from the chain's beginning and return an offset
  // BELOW the checkpoint — regressing the offset log and re-emitting
  // already-delivered commits. Persisted in the engine-provided source
  // metadataPath (the FileStreamSource pattern). After a crash between
  // the floor write and the offset-log write the floor may run ahead:
  // that only widens one batch past the cap, never skips or duplicates
  // rows (getBatch walks whatever (start, end] the engine asks for).
  private var chain: Vector[Long] = Vector.empty // ascending, on-branch

  private def floorFile = new org.apache.hadoop.fs.Path(
    metadataPath, "graft-offset-floor")

  // the floor is read AND written regardless of the current cap setting:
  // a stream that ran uncapped and is restarted WITH a cap must still
  // know how far it got, or the cap would start from the chain's
  // beginning and regress below the checkpoint
  private var floorV: Long = {
    if (metadataPath.isEmpty) -1L
    else {
      val f = CommitLog.fs(spark, metadataPath)
      if (!f.exists(floorFile)) -1L
      else {
        val in = f.open(floorFile)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    }
  }

  private def advanceFloor(v: Long): Unit = if (v > floorV) {
    floorV = v
    if (metadataPath.nonEmpty)
      CommitLog.atomicReplace(spark, floorFile, v.toString)
  }

  private def extendChain(headId: Long): Unit = {
    // floor the walk at floorV too: everything at or below it is
    // immediately discarded by pending's dropWhile, and on a RESTART the
    // memoized chain is empty while the persisted floor is not — without
    // the floor seed the first trigger of a rate-limited stream over a
    // 100k-commit table walks the whole first-parent chain to the root
    // (O(history) serial driver reads) to rebuild ids it will never use
    val known = math.max(chain.lastOption.getOrElse(-1L), floorV)
    if (headId <= known) return
    var cur = Option(GraftStream.commitId(headId))
    val add = Vector.newBuilder[Long]
    while (cur.isDefined && cur.get.toLong > known) {
      add += cur.get.toLong
      cur = CommitLog.readCommit(spark, root, cur.get).parent
    }
    chain = chain ++ add.result().reverse
  }

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ---------------
  // Implementing the interface keeps the engine from wrapping this source
  // in AvailableNowSourceWrapper, whose single getOffset snapshot at query
  // start would stop an AvailableNow run at the FIRST capped offset with
  // backlog remaining. Instead the engine calls prepareForTriggerAvailableNow
  // once, then latestOffset per micro-batch: we pin the branch head seen at
  // prepare time as the drain target and keep advancing by at most
  // maxCommitsPerTrigger per batch until the target is reached — paced AND
  // fully drained (the FileStreamSource pattern). Commits landing DURING
  // the run stay beyond the target, per the AvailableNow contract.
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      CommitLog.readBranches(spark, root).get(branch).map(_.toLong)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Engine-facing offset fetch (SupportsAdmissionControl routes here for
    * EVERY trigger once the interface is implemented; the cap is applied
    * internally, so the ReadLimit argument is not consulted).
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    nextOffset().orNull

  /** The true branch head, uncapped — progress reporting only. */
  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    CommitLog.readBranches(spark, root).get(branch)
      .map(h => LongOffset(h.toLong)).orNull

  override def getOffset: Option[Offset] = nextOffset()

  private def nextOffset(): Option[LongOffset] = {
    val head = CommitLog.readBranches(spark, root).get(branch).map(_.toLong)
      // an AvailableNow run drains to the head pinned at prepare time and
      // no further
      .map(h => availableNowTarget.fold(h)(math.min(h, _)))
    head.map { h =>
      if (maxCommitsPerTrigger <= 0) LongOffset(h)
      else {
        extendChain(h)
        val pending = chain.dropWhile(_ <= floorV).takeWhile(_ <= h)
        // the initial batch is one snapshot however far in it starts, so
        // the cap simply picks how many commits that snapshot folds in
        val cap = pending.take(maxCommitsPerTrigger).lastOption.getOrElse(h)
        advanceFloor(cap)
        LongOffset(cap)
      }
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endId = GraftStream.commitId(GraftStream.offsetValue(end))
    advanceFloor(GraftStream.offsetValue(end))
    start match {
      case None =>
        // initial batch: the full snapshot at `end` (merge-on-read plan —
        // updates and tombstones up to here are already folded in); in
        // change-feed mode every snapshot row is an `insert` event.
        // `end` may sit BEFORE a pure rename the pinned schema already
        // carries (restart reconstruction replays the bootstrap range
        // against a head-pinned source): align POSITIONALLY — pure
        // renames preserve field order — instead of selecting by name,
        // which would fail resolution (or null-backfill) on the old
        // names. Shape divergence = a real schema change: fail loudly.
        requirePureRenamePath(endId)
        val ds = GraftDataset.loadCommit(spark, root, endId)
        val snap0 = {
          // canonical order (logical fields, then `_uuid`) in the
          // commit's OWN names, so the positional pin below is
          // order-independent of the snapshot plan's internal layout
          val s0 = if (changeFeed || withUuid) ds.snapshotWithUuid() else ds.toDF
          val names =
            if (changeFeed || withUuid)
              ds.schema.fieldNames.toIndexedSeq :+ GraftDataset.UuidCol
            else ds.schema.fieldNames.toIndexedSeq
          s0.select(names.map(col): _*)
        }
        val pinnedData =
          if (changeFeed) schema.fields.dropRight(2) else schema.fields
        // a change-feed snapshot may be NARROWER than the pin when pure
        // adds sit between `end` and the pinned head (restart
        // reconstruction of a pre-add bootstrap range): align the
        // prefix positionally, null-backfill the added columns. The
        // `_uuid` tail column always pins last in both shapes.
        val nSnap = snap0.schema.fields.length
        val addTolerated = changeFeed && nSnap < pinnedData.length
        val pinnedSub =
          if (addTolerated) pinnedData.take(nSnap - 1) :+ pinnedData.last
          else pinnedData
        require(nSnap == pinnedSub.length &&
            snap0.schema.fields.map(_.dataType).toSeq ==
              pinnedSub.map(_.dataType).toSeq,
          s"graft stream source: the table schema changed between commit " +
            s"$endId and the stream's pinned schema; restart the stream " +
            "(with a fresh checkpoint) to pick up the new schema")
        val snap1 = {
          val aligned = snap0.toDF(pinnedSub.map(_.name).toIndexedSeq: _*)
          if (!addTolerated) aligned
          else pinnedData.slice(nSnap - 1, pinnedData.length - 1)
            .foldLeft(aligned)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            .select(pinnedData.map(_.name).toIndexedSeq.map(col): _*)
        }
        val snap =
          if (changeFeed) snap1
            .withColumn(GraftStream.ChangeTypeCol, lit("insert"))
            .withColumn(GraftStream.CommitIdCol, lit(endId))
          else snap1
        InternalDf.asStreaming(snap.select(logicalCols: _*))
      case Some(s) if GraftStream.offsetValue(s) >= GraftStream.offsetValue(end) =>
        InternalDf.emptyStreaming(spark, schema)
      case Some(s) =>
        // the per-commit walk below validates schema changes WITHIN the
        // range, but a REPLAYED range can end BEFORE the pinned head —
        // a non-rename change in the (end, pinnedHead] gap would make
        // the positional pin mislabel the replayed events (same-arity
        // delete+create passes a shape check); validate that gap.
        // ONLY for ranges older than the pin: a live stream's ranges
        // end at or past the pin, every commit from the checkpoint
        // forward passes through some batch's in-range walk, and
        // re-walking pin→end each batch would be O(commits since
        // construction) per trigger
        if (GraftStream.offsetValue(end) < pinnedHead.toLong)
          requirePureRenamePath(endId)
        // per-commit walk (not an endpoint diff): a rewrite-only commit
        // (compaction, CommitMeta.rewrite) replaces the whole manifest
        // while leaving logical rows untouched — an endpoint diff would
        // re-emit every row in the table; the walk skips those commits'
        // file changes entirely and checks append-only-ness per commit
        val startV = GraftStream.offsetValue(s)
        var metas = List.empty[CommitMeta]
        var cur = Option(endId)
        while (cur.isDefined && cur.get.toLong > startV) {
          val m = CommitLog.readCommit(spark, root, cur.get)
          metas ::= m // ascending after the loop
          cur = m.parent
        }
        var prev = CommitLog.readCommit(spark, root,
          GraftStream.commitId(startV))
        // a replayed range can outlive the vacuum retention (a stream
        // down longer than the retention window): fail with the clean
        // expiry message BEFORE scheduling scans over reclaimed files —
        // the batch feed (GraftDataset.changes) makes the same per-commit
        // check; without it the batch dies executor-side on a raw
        // FileNotFoundException mid-scan
        val added = Vector.newBuilder[String]
        val cdfBatches = Vector.newBuilder[DataFrame]
        for (m <- metas) {
          if (!m.rewrite.contains(true)) {
            GraftDataset.assertNotExpired(spark, root, m)
            // schema equality, not rename-chain equality: a compact-on-
            // dirty commit FOLDS the cumulative rename chain into the
            // data (chain resets to empty with no logical rename), while
            // any real rename / added / dropped column changes the field
            // list — which is exactly what invalidates the pinned schema.
            // Exception: in change-feed mode a PURE RENAME is tolerated —
            // it is metadata-only, so the feed keeps speaking its pinned
            // names (events re-aliased positionally) and announces the
            // rename as a `schema_change` event for replicas to apply.
            if (m.schemaJson != prev.schemaJson) {
              // pure ADDS are tolerated only when the pin already
              // carries the added columns (a replayed range, or a
              // restart whose fresh pin post-dates the add): a LIVE add
              // beyond the pin cannot be expressed — the feed's output
              // schema is fixed at stream start — so it keeps the loud
              // restart contract instead of silently dropping the new
              // column's values
              val addOk = GraftStream.addDelta(prev, m).exists(_ =>
                TableState.schemaOf(m).fields.length <=
                  cdfDataSchema.fields.length - 1)
              require(changeFeed &&
                  (GraftStream.renameDelta(prev, m).isDefined || addOk),
                s"graft stream source: the table schema changed at commit " +
                  s"${m.id}; restart the stream (with a fresh checkpoint) " +
                  "to pick up the new schema (change feeds tolerate pure " +
                  "column renames, and pure column ADDS the stream's " +
                  "pinned schema already carries; a live add, dropped, " +
                  "or retyped column always needs a restart)")
              cdfBatches += GraftStream.schemaChangeEvent(spark, schema, m.id)
            }
            val prevFiles = prev.files.toSet
            val mFiles = m.files.toSet
            if (changeFeed) {
              GraftStream.requireDeltaExpressible(m, prev)
              cdfBatches ++= cdfEvents(m, prev)
            }
            else {
              val appendOnly = m.updates == prev.updates &&
                m.tombstones == prev.tombstones &&
                prev.files.forall(mFiles.contains)
              require(appendOnly || ignoreChanges,
                s"graft stream source: commit ${m.id} contains in-place " +
                  "changes (update/pop) that an append stream cannot " +
                  "express; set option ignoreChanges=true to stream the " +
                  "appends only, or changeFeed=true for full CDC events")
              added ++= m.files.filterNot(prevFiles)
            }
          }
          prev = m
        }
        if (changeFeed) {
          val parts = cdfBatches.result()
          if (parts.isEmpty) InternalDf.emptyStreaming(spark, schema)
          else InternalDf.asStreaming(
            parts.reduce(_ unionByName _).select(logicalCols: _*))
        } else {
          // manifest paths are table-root-relative; reading with the
          // PINNED schema null-backfills columns a file predates and
          // ignores columns it has extra (the snapshot readers'
          // mergeSchema+align equivalent), so a file range written under
          // an older schema — replayed after a schema-change restart —
          // still reads instead of failing on single-file inference
          val newFiles = added.result()
            .map(f => new org.apache.hadoop.fs.Path(root, f).toString)
          if (newFiles.isEmpty) InternalDf.emptyStreaming(spark, schema)
          else InternalDf.asStreaming(
            spark.read.schema(schema).parquet(newFiles: _*)
              .select(logicalCols: _*))
        }
    }
  }

  /** One commit's change events (Delta CDF shape, computed at READ time
    * from the manifest delta — the format's update/tombstone files
    * already carry everything the feed needs):
    *   - new base files   → `insert` (full row),
    *   - new update files → `update_postimage` (full row; update files
    *     store complete rows, last-wins per uuid WITHIN the commit so a
    *     multi-update commit emits its final image once),
    *   - new tombstones   → `delete` (identity only: `_uuid` + null
    *     data columns — the row's values died with the commit).
    * Pre-images are not materialized (they would need the parent
    * snapshot joined per commit); uuid identity + postimage covers
    * downstream upsert/delete application, the dominant CDC use.
    */
  private def cdfEvents(m: CommitMeta, prev: CommitMeta): Seq[DataFrame] =
    GraftStream.changeEvents(spark, root, cdfDataSchema, m, prev)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftTailSource[$root@$branch]"
}

object GraftTailSource {
  /** The logical schema at the branch head (from the commit's schema
    * json — no data read), plus the row-identity column when asked.
    */
  def tableSchema(spark: SparkSession, root: String, branch: String,
                  withUuid: Boolean,
                  changeFeed: Boolean = false): StructType = {
    val head = CommitLog.readBranches(spark, root).getOrElse(branch,
      throw new IllegalArgumentException(
        s"graft stream source: no branch '$branch' at $root — the table " +
          "must exist with at least one commit before streaming from it"))
    schemaAtCommit(spark, root, head, withUuid, changeFeed)
  }

  /** [[tableSchema]] pinned to one specific commit — the source derives
    * its pinned schema and its rename-path anchor from a SINGLE head
    * read (two independent branch reads leave a window where a racing
    * commit makes the anchor and the schema disagree).
    */
  private[format] def schemaAtCommit(spark: SparkSession, root: String,
                                     head: String, withUuid: Boolean,
                                     changeFeed: Boolean): StructType = {
    val logical = TableState.schemaOf(CommitLog.readCommit(spark, root, head))
    // the change feed always carries `_uuid`: a delete event is
    // identity-only, and consumers key their apply on it
    val withId =
      if (withUuid || changeFeed) StructType(logical.fields :+
        StructField(GraftDataset.UuidCol, LongType, nullable = false))
      else logical
    if (!changeFeed) withId
    else StructType(GraftStream.nullableData(withId).fields :+
      StructField(GraftStream.ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false) :+
      StructField(GraftStream.CommitIdCol,
        org.apache.spark.sql.types.StringType, nullable = false))
  }
}
