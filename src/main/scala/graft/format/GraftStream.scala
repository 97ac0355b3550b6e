package graft.format

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftnative.InternalDf
import org.apache.spark.sql.types.StructType

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
  private val pinnedHead: String = GraftTailSource.headOf(spark, root, branch)

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
    path.reverse.foldLeft(CommitLog.readCommit(spark, root, ancestor)) {
      (prev, m) =>
        if (m.schemaJson != prev.schemaJson)
          // change feeds tolerate pure renames and pure ADDS (positional
          // identity of the prefix; pre-add events null-backfill);
          // the plain tail reads files BY NAME against the pinned schema,
          // where even a pure rename would silently null-backfill the
          // renamed column — any gap schema change fails it loudly
          require(changeFeed && ChangeFeed.schemaStep(cdfDataSchema, prev, m),
            s"graft stream source: the table schema changed at commit " +
              s"${m.id} between this batch's range and the stream's " +
              "pinned schema; restart the stream with a fresh checkpoint " +
              "to pick up the new schema")
        m
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
    chain ++= CommitLog.firstParentChain(spark, root,
      Some(GraftStream.commitId(headId)), Some(GraftStream.commitId(known)))
      .map(_.id.toLong).takeWhile(_ > known).toVector.reverse
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

  /** The branch head now, as an offset value. */
  private def branchHead: Option[Long] =
    CommitLog.readBranches(spark, root).get(branch).map(_.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = branchHead

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
    branchHead.map(LongOffset(_)).orNull

  override def getOffset: Option[Offset] = nextOffset()

  private def nextOffset(): Option[LongOffset] = {
    // an AvailableNow run drains to the head pinned at prepare time and
    // no further
    branchHead.map(h => availableNowTarget.fold(h)(math.min(h, _))).map { h =>
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
        val keepUuid = changeFeed || withUuid
        // canonical order (logical fields, then `_uuid`) in the
        // commit's OWN names, so the positional pin below is
        // order-independent of the snapshot plan's internal layout
        val snap0 = (if (keepUuid) ds.snapshotWithUuid() else ds.toDF)
          .select((ds.schema.fieldNames.toIndexedSeq ++
            Option.when(keepUuid)(GraftDataset.UuidCol)).map(col): _*)
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
        // per-commit walk (not an endpoint diff, see ChangeFeed.events);
        // the id bound stops a walk that misses `start` (a rewound
        // branch) at the range instead of at the root
        val startV = GraftStream.offsetValue(s)
        val startId = GraftStream.commitId(startV)
        val metas = CommitLog.firstParentChain(spark, root, Some(endId),
          Some(startId)).takeWhile(_.id.toLong > startV).toVector.reverse
        val prev = CommitLog.readCommit(spark, root, startId)
        val frames =
          if (changeFeed) ChangeFeed.events(spark, root, cdfDataSchema,
            prev, metas, schemaRefusal)
          else appended(prev, metas)
        if (frames.isEmpty) InternalDf.emptyStreaming(spark, schema)
        else InternalDf.asStreaming(
          frames.reduce(_ unionByName _).select(logicalCols: _*))
    }
  }

  /** The refusal of a schema change inside a batch's range. */
  private def schemaRefusal(id: String): String =
    s"graft stream source: the table schema changed at commit $id; " +
      "restart the stream (with a fresh checkpoint) to pick up the new " +
      "schema (change feeds tolerate pure column renames, and pure column " +
      "ADDS the stream's pinned schema already carries; a live add, " +
      "dropped, or retyped column always needs a restart)"

  /** The plain tail's frame over the new base files of its range. Like
    * [[ChangeFeed.events]] it skips rewrite commits and checks expiry
    * per commit; every other commit must keep the pinned schema (schema
    * equality, as there) and, unless `ignoreChanges`, be append-only. */
  private def appended(prev: CommitMeta,
                       metas: Seq[CommitMeta]): Seq[DataFrame] = {
    val added = Vector.newBuilder[String]
    metas.foldLeft(prev) { (p, m) =>
      if (!m.rewrite.contains(true)) {
        GraftDataset.assertNotExpired(spark, root, m)
        require(m.schemaJson == p.schemaJson, schemaRefusal(m.id))
        val appendOnly = m.updates == p.updates &&
          m.tombstones == p.tombstones && p.files.forall(m.files.toSet)
        require(appendOnly || ignoreChanges,
          s"graft stream source: commit ${m.id} contains in-place " +
            "changes (update/pop) that an append stream cannot " +
            "express; set option ignoreChanges=true to stream the " +
            "appends only, or changeFeed=true for full CDC events")
        added ++= m.files.filterNot(p.files.toSet)
      }
      m
    }
    // manifest paths are table-root-relative; reading with the
    // PINNED schema null-backfills columns a file predates and
    // ignores columns it has extra (the snapshot readers'
    // mergeSchema+align equivalent), so a file range written under
    // an older schema — replayed after a schema-change restart —
    // still reads instead of failing on single-file inference
    val files = added.result()
      .map(f => new org.apache.hadoop.fs.Path(root, f).toString)
    if (files.isEmpty) Nil
    else Seq(spark.read.schema(schema).parquet(files: _*))
  }

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
    schemaAtCommit(spark, root, headOf(spark, root, branch), withUuid,
      changeFeed)
  }

  private def headOf(spark: SparkSession, root: String,
                     branch: String): String =
    CommitLog.readBranches(spark, root).getOrElse(branch,
      throw new IllegalArgumentException(
        s"graft stream source: no branch '$branch' at $root — the table " +
          "must exist with at least one commit before streaming from it"))

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
      if (withUuid || changeFeed) GraftDataset.withUuidSchema(logical)
      else logical
    if (!changeFeed) withId
    else ChangeFeed.eventSchema(ChangeFeed.nullableData(withId))
  }
}
