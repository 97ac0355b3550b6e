package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.format.{CommitLog, GraftDataset}
import graft.operators.Dedup

/** Continuous-ingest dedup: a stream of documents deduplicated against
  * EVERYTHING ever ingested — across micro-batches, restarts, and
  * queries — with the dedup state itself persisted in the versioned
  * format. This is the streaming face of the incremental-dedup family
  * ([[graft.operators.Dedup.exactIncremental]] /
  * [[Dedup.simHashIncremental]]) and
  * differs from [[GraftStreaming.dedupStream]] on exactly the axis that
  * matters for training corpora: `dropDuplicatesWithinWatermark` keeps
  * bounded engine state and forgets duplicates beyond the horizon; here
  * the horizon is UNBOUNDED — a doc first seen a year ago still shadows
  * today's copy — because the state lives in a table, not executor
  * memory.
  *
  * Exactly-once across two tables without a transaction: survivors land
  * in `sink` and their dedup state in `state`, each committed with a
  * `dedup[token] batch N` marker (the same (txnAppId, txnVersion) idea
  * the graft streaming sink uses). The sink commit is the COMMIT POINT
  * of a batch:
  *   - replayed batch (epoch ≤ sink's last marker) → no-op;
  *   - crash between the two commits (sink has N, state has N−1) →
  *     the next batch REPAIRS state first, recomputing the missing
  *     fingerprints from the sink commits' own appended files — the
  *     version log makes the lost delta addressable, so the repair is
  *     exact, not heuristic.
  * Both tables must be dedicated to this stream (append-only, one
  * writer), which the marker protocol assumes. This is the canonical
  * instance of the engine's cross-table contract — idempotent,
  * convergent pairs over per-table commits, never a cross-table atomic
  * commit; see SCALE.md "What spans tables and what doesn't".
  *
  * At 100 TB: each batch pays O(batch) fingerprinting, one band/fp
  * equi-join against the state table, and two appends — the corpus is
  * never rescanned (the state table IS the corpus digest, read
  * columnar). Compact the state table periodically like any other.
  */
object StreamingDedup {

  /** One dedup family: how to digest rows into state, and how to pick
    * a batch's survivors against that state.
    */
  final case class Family(
      name: String,
      stateOf: (DataFrame, String, String) => DataFrame,
      survivors: (DataFrame, DataFrame, String, String) => DataFrame)

  /** Exact content dedup (md5 fingerprints — state is one string col). */
  def exactFamily: Family = Family("exact",
    (df, textCol, _) => Dedup.exactState(df, textCol),
    (state, delta, textCol, idCol) =>
      Dedup.exactIncremental(state, delta, textCol, idCol))

  /** SimHash near-dup (int64 [[Dedup.simHash32]] fingerprints, one
    * value shared by the state and the survivors; exact drop rule when
    * `maxBucket` is uncapped). */
  def simHashFamily(maxHamming: Int,
                    maxBucket: Int = Int.MaxValue): Family = {
    val fp = Dedup.simHash32
    Family(s"simhash$maxHamming",
      (df, textCol, idCol) => Dedup.simHashState(df, textCol, idCol, fp),
      (state, delta, textCol, idCol) => Dedup.simHashIncremental(
        state, delta, textCol, idCol, maxHamming, maxBucket, fp))
  }

  private def marker(token: String, epoch: Long) = s"dedup[$token] batch $epoch"
  private val MarkerRe = "dedup\\[([^\\]]+)\\] batch (\\d+)".r

  private def queryToken(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Newest epoch this token committed to `root`, walking first-parent
    * from the branch head (a dedicated table reads ONE commit). */
  private def lastEpoch(spark: SparkSession, root: String,
                        token: String): Option[Long] = {
    var cur = CommitLog.readBranches(spark, root).get("main")
    while (cur.isDefined) {
      val m = CommitLog.readCommit(spark, root, cur.get)
      m.message match {
        case MarkerRe(t, id) if t == token => return Some(id.toLong)
        case _ => cur = m.parent
      }
    }
    None
  }

  /** Sink commits this token published with epoch > `after`, oldest
    * first, each with the files that commit APPENDED (the repair
    * inputs: append-only tables make a commit's delta = its new
    * files). */
  private def commitsAfter(spark: SparkSession, root: String, token: String,
                           after: Long): Seq[(Long, Seq[String])] = {
    val out = List.newBuilder[(Long, Seq[String])]
    var cur = CommitLog.readBranches(spark, root).get("main")
    var stop = false
    while (cur.isDefined && !stop) {
      val m = CommitLog.readCommit(spark, root, cur.get)
      m.message match {
        case MarkerRe(t, id) if t == token =>
          if (id.toLong <= after) stop = true
          else {
            val parentFiles = m.parent.map(
              CommitLog.readCommit(spark, root, _).files.toSet)
              .getOrElse(Set.empty)
            out += ((id.toLong, m.files.filterNot(parentFiles)))
            cur = m.parent
          }
        case _ => cur = m.parent
      }
    }
    out.result().sortBy(_._1)
  }

  private def tableExists(spark: SparkSession, root: String): Boolean =
    CommitLog.readBranches(spark, root).contains("main")

  /** Process one micro-batch (the `foreachBatch` body — public so batch
    * jobs and tests can drive the identical protocol without an engine).
    */
  def processBatch(batch: DataFrame, epoch: Long, token: String,
                   sinkRoot: String, stateRoot: String,
                   textCol: String, idCol: String, family: Family): Unit = {
    val spark = batch.sparkSession
    val sinkLast = if (tableExists(spark, sinkRoot))
      lastEpoch(spark, sinkRoot, token) else None
    val stateLast = if (tableExists(spark, stateRoot))
      lastEpoch(spark, stateRoot, token) else None

    // repair: sink committed epochs the state never absorbed (crash
    // between the two commits) — replay their fingerprints from the
    // sink's own appended files, preserving the markers
    if (sinkLast.exists(s => stateLast.forall(_ < s))) {
      // the state table may not exist at all: a crash after the FIRST
      // sink commit but before the first state commit leaves
      // sinkLast=Some(0), stateLast=None — create it here, or every
      // replay of batch 0 fails the load and the stream wedges forever
      val state =
        if (tableExists(spark, stateRoot)) GraftDataset.load(spark, stateRoot)
        else GraftDataset.create(spark, stateRoot, family.stateOf(
          GraftDataset.load(spark, sinkRoot).toDF.limit(0),
          textCol, idCol).schema)
      commitsAfter(spark, sinkRoot, token, stateLast.getOrElse(-1L))
        .foreach { case (ep, files) =>
          if (files.nonEmpty) {
            val rows = spark.read.parquet(files.map(f =>
              new org.apache.hadoop.fs.Path(sinkRoot, f).toString): _*)
            state.append(family.stateOf(
              rows.drop(GraftDataset.UuidCol), textCol, idCol))
          }
          state.commit(marker(token, ep), allowEmpty = true)
        }
    }

    if (sinkLast.exists(epoch <= _)) return // replayed batch: already done

    val stateDf =
      if (tableExists(spark, stateRoot)) GraftDataset.load(spark, stateRoot).toDF
      else family.stateOf(batch.limit(0), textCol, idCol)
    val surv = family.survivors(stateDf, batch, textCol, idCol)
      .localCheckpoint() // two consumers (sink + state digest), one compute

    val sink =
      if (tableExists(spark, sinkRoot)) GraftDataset.load(spark, sinkRoot)
      else GraftDataset.create(spark, sinkRoot, surv.schema)
    sink.append(surv)
    sink.commit(marker(token, epoch)) // ← the batch's commit point

    val digest = family.stateOf(surv, textCol, idCol)
    val state =
      if (tableExists(spark, stateRoot)) GraftDataset.load(spark, stateRoot)
      else GraftDataset.create(spark, stateRoot, digest.schema)
    state.append(digest)
    state.commit(marker(token, epoch), allowEmpty = true)
    ()
  }

  /** Attach the dedup pipeline to a stream: per micro-batch, survivors
    * of `family`'s drop rule land in the `sinkRoot` table and their
    * digest in `stateRoot`, exactly once.
    */
  def start(stream: DataFrame, textCol: String, idCol: String,
            sinkRoot: String, stateRoot: String, checkpointDir: String,
            family: Family = exactFamily,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val token = queryToken(checkpointDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, epoch, token, sinkRoot, stateRoot,
          textCol, idCol, family)
      }
      .start()
  }
}
