package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.format.GraftDataset

/** Structured-Streaming integration — an ABOVE-PARITY extension: the
  * reference has no streaming at all (SURVEY.md §2.13); its closest
  * analogue is incremental append + incremental index update. Here a
  * stream lands in the versioned format with one commit per epoch, so
  * every micro-batch is a queryable, diffable snapshot and downstream
  * index maintenance can key off commit ids exactly like batch appends.
  */
object GraftStreaming {

  /** Append a streaming DataFrame into a versioned table, committing once
    * per micro-batch (epoch). `foreachBatch` gives exactly-once appends
    * per epoch id under checkpoint recovery as long as the commit message
    * encodes the epoch (idempotent re-run = same epoch id → skip).
    */
  def appendStream(stream: DataFrame, ds: GraftDataset,
                   checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // per-QUERY token, not a bare epoch: epoch ids restart at 0 for
    // every new checkpoint, so an epoch-only marker from an earlier
    // query would silently swallow a new query's first batches (the
    // GraftSink/GraftStream.marker contract); lastBatchId stops at the
    // first own marker instead of walking the whole log per batch.
    // NOTE: checkpoints from the pre-token helper (bare "stream epoch
    // N" markers) should restart with a fresh checkpoint — honoring the
    // old markers here would reintroduce the cross-query collision for
    // every NEW query on such a table, a worse trade than one replayed
    // batch on upgrade.
    val token = graft.format.GraftStream.queryToken(checkpointDir)
    // Distinguish a RESUMED checkpoint from a fresh one at start time:
    // offsets/ is non-empty iff a previous query instance already ran a
    // batch here. A resumed checkpoint replays its last batch — epoch 0
    // included — so the legacy-marker loud-failure below must also fire
    // for a replayed batch 0, while a genuinely fresh checkpoint (no
    // offsets yet) starting at epoch 0 must not be blocked on a table
    // that merely carries old bare markers from a retired stream.
    val resumed = {
      val p = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
      val fs = p.getFileSystem(
        stream.sparkSession.sessionState.newHadoopConf())
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val last = graft.format.GraftStream
          .lastBatchId(spark, ds.root, ds.head, Set(token))
        // a RESUMED pre-token checkpoint (no token marker, bare legacy
        // markers in the log) would replay its last batch — possibly
        // batch 0, when the crash fell between the legacy commit and
        // the checkpoint write — with nothing to dedup against. Fail
        // loudly instead of silently appending the rows twice. Only
        // runs on the rare no-marker path, so the one-off log walk
        // costs nothing steady-state; a genuinely new query runs on a
        // fresh checkpoint (resumed = false) and never hits this.
        if (last.isEmpty && (epoch > 0 || resumed) &&
            ds.log.exists(_.message.startsWith("stream epoch ")))
          throw new IllegalStateException(
            "resumed checkpoint predates the per-query marker scheme " +
              "(bare 'stream epoch N' markers found); restart the " +
              "stream with a FRESH checkpoint to avoid duplicates")
        if (!last.exists(_ >= epoch)) {
          ds.append(batch)
          ds.commit(graft.format.GraftStream.marker(token, epoch))
          ()
        }
      }
      .start()
  }

  /** Live CDC replication: tail `srcRoot`'s change feed and apply every
    * event to the replica at `dstRoot` — full mutations (updates and
    * pops included), not just appends, with the replica carrying the
    * source's row identities verbatim ([[GraftDataset.applyChanges]]).
    * Exactly-once per epoch via the same commit-marker idempotency the
    * sink uses: a checkpoint-replayed batch whose marker already exists
    * in the replica's log is skipped. The replica is created on the
    * first batch (from the feed's data schema) and must be written
    * ONLY through this stream (the applyChanges uuid contract).
    */
  def replicate(spark: org.apache.spark.sql.SparkSession,
                srcRoot: String, dstRoot: String, checkpointDir: String,
                trigger: Trigger = Trigger.AvailableNow(),
                sourceOptions: Map[String, String] = Map.empty)
      : StreamingQuery = {
    // per-QUERY token (see appendStream): a fresh checkpoint restarts
    // epochs at 0, and applyChanges' row-level insert idempotency makes
    // even a re-applied bootstrap converge instead of duplicating rows
    val token = graft.format.GraftStream.queryToken(checkpointDir)
    spark.readStream.format("graft").option("changeFeed", "true")
      .options(sourceOptions) // e.g. maxCommitsPerTrigger for paced drains
      .load(srcRoot)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val s = batch.sparkSession
        val dataSchema = org.apache.spark.sql.types.StructType(
          batch.schema.fields.dropRight(2) // strip _change_type/_commit_id
            .filterNot(_.name == GraftDataset.UuidCol))
        val exists = graft.format.CommitLog
          .readBranches(s, dstRoot).contains("main")
        val replica =
          if (exists) GraftDataset.load(s, dstRoot)
          else GraftDataset.create(s, dstRoot, dataSchema)
        val dup = graft.format.GraftStream
          .lastBatchId(s, dstRoot, replica.head, Set(token))
          .exists(_ >= epoch)
        if (!dup) {
          val tpe = col(graft.format.GraftStream.ChangeTypeCol)
          // two consumers of the batch plan (schema_change scan + row
          // apply) — persist so the feed read runs once
          val b = batch.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // schema evolution: the feed tolerates PURE RENAMES and PURE
            // ADDS and announces them as schema_change events. Field
            // POSITIONS are invariant under pure renames, so row events
            // (pinned names) align to the replica's current names
            // positionally; the replica adopts renames itself (below).
            // Pure adds only ever leave the replica NARROWER than the
            // feed (the source walk rejects adds beyond the feed's pin):
            // the replica adopts the missing trailing columns BEFORE the
            // row apply — pre-add rows it already holds read as null
            // (createTensor's contract = the feed's null-backfill), and
            // post-add events carry the column's values. Covers both the
            // re-pin bootstrap after an add in a checkpoint-loss gap and
            // a retained-checkpoint replay that crosses the add.
            val logicalN = batch.schema.fields.length - 3 // data cols
            require(replica.schema.fields.length <= logicalN &&
                replica.schema.fields.map(_.dataType).toSeq ==
                  batch.schema.fields.take(replica.schema.fields.length)
                    .map(_.dataType).toSeq,
              "replica/feed schema shapes diverged (non-rename/add " +
                "change?); re-sync the replica with a fresh checkpoint")
            // row apply aligns POSITIONALLY (toDF below), so the adopted
            // column's name may lag the feed's: when the feed's name for
            // an added column is still held by a not-yet-renamed prefix
            // column (gap rename a→b plus a new column named a), adopt
            // under a placeholder; a stateless pass below reconciles it
            // once the rename frees the name.
            for (f <- batch.schema.fields
                   .slice(replica.schema.fields.length, logicalN)) {
              if (!replica.schema.fieldNames.contains(f.name))
                replica.createTensor(f.name, f.dataType)
              else
                replica.createTensor(
                  s"__add_adopt_${java.util.UUID.randomUUID.toString.take(8)}",
                  f.dataType)
            }
            val rf = replica.schema.fields
            // a RE-BOOTSTRAP after checkpoint loss pins the source's
            // CURRENT names — if renames happened during the gap, the
            // snapshot carries no schema_change events for them, so the
            // bootstrap adopts the feed's names positionally. TWO-PHASE
            // through unique temp names: overlapping gap renames (b→c
            // then a→b) make a direct positional rename collide with a
            // still-live name and wedge every restart on the same
            // require — via temps, any pure-rename permutation applies.
            if (epoch == 0L) {
              val targets = batch.schema.fields.take(logicalN).map(_.name)
              val diff = rf.map(_.name).zip(targets).zipWithIndex
                .filter { case ((a, b), _) => a != b }
              if (diff.nonEmpty) {
                val tag = java.util.UUID.randomUUID.toString.take(8)
                for (((a, _), i) <- diff)
                  replica.renameTensor(a, s"__adopt_${tag}_$i")
                for (((_, b), i) <- diff)
                  replica.renameTensor(s"__adopt_${tag}_$i", b)
              }
            }
            val names = replica.schema.fieldNames.toIndexedSeq ++
              batch.schema.fieldNames.takeRight(3) // _uuid, _change_type, _commit_id
            val rows = b.filter(tpe =!= "schema_change").toDF(names: _*)
            // only the FIRST batch of a query is the bootstrap snapshot:
            // it can re-deliver rows the replica already holds (upserted)
            // and it is the COMPLETE live set, so replica rows outside it
            // are phantoms from the checkpoint-loss gap — reconciled as
            // deletes. Later batches are per-commit deltas the epoch
            // marker guards; they skip the replica-wide uuid scan
            // entirely (cost stays churn-sized).
            replica.applyChanges(rows, dedupInserts = epoch == 0L,
              reconcileDeletes = epoch == 0L)
            // apply the batch's announced renames AFTER its row events —
            // a pure rename is metadata-only and value-neutral, so it
            // commutes with row events of later commits in the batch
            // (which arrive in pinned names either way). Rename pairs
            // come from the source commit's own metadata; already-
            // applied pairs (replayed feed) skip idempotently.
            val changed = b.filter(tpe === "schema_change")
              .select(graft.format.GraftStream.CommitIdCol)
              .distinct().collect().map(_.getString(0)).sorted
            for (cid <- changed) {
              val meta = graft.format.CommitLog.readCommit(s, srcRoot, cid)
              val par = meta.parent.map(
                graft.format.CommitLog.readCommit(s, srcRoot, _))
              for (delta <- par.flatMap(p =>
                     graft.format.ChangeFeed.renameDelta(p, meta));
                   (f, t) <- delta)
                if (replica.schema.fieldNames.contains(f) &&
                    !replica.schema.fieldNames.contains(t))
                  replica.renameTensor(f, t)
            }
            // placeholder-adopted added columns take the feed's POSITIONAL
            // name once a rename pass freed it. STATELESS by design: the
            // adoption and the rename that frees its feed name may land in
            // DIFFERENT micro-batches (Spark can split a replayed range),
            // so this scans the replica's live schema instead of relying
            // on any per-batch record of adoptions — a leftover
            // placeholder from an earlier batch reconciles the moment its
            // name frees up. Field positions are invariant under pure
            // renames/adds, so the feed's name at the same index IS the
            // placeholder's target.
            for ((f, i) <- replica.schema.fields.zipWithIndex
                   if f.name.startsWith("__add_adopt_") && i < logicalN) {
              val want = batch.schema.fields(i).name
              if (!replica.schema.fieldNames.contains(want))
                replica.renameTensor(f.name, want)
            }
            replica.commit(graft.format.GraftStream.marker(token, epoch),
              allowEmpty = true)
            ()
          } finally { b.unpersist(false); () }
        }
      }
      .start()
  }

  /** Watermarked sliding/tumbling-window counts over an event stream —
    * the canonical late-data-tolerant streaming aggregation.
    */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Streaming exact dedup: drops rows whose `keyCols` were already seen
    * within the watermark horizon — state is expired by the watermark, so
    * memory stays bounded while duplicates separated by more than the
    * horizon pass through (the standard streaming-dedup contract). The
    * batch twin is `Dedup.exact`/`dedupCorpus`.
    */
  def dedupStream(stream: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stateful per-key sessionization via flatMapGroupsWithState lives in
    * [[Sessionize]] (kept separate: it needs typed encoders).
    */
}
