package graft.examples

import org.apache.spark.sql.functions._
import graft.Harness
import graft.format.GraftDataset
import graft.streaming.GraftStreaming

/** CDC replication soak: a source table mutated through many rounds of
  * mixed append + update + pop (plus clean-state compactions, which the
  * feed must SKIP as rewrite commits) is live-replicated table-to-table
  * via the change feed, including a simulated CHECKPOINT LOSS mid-run —
  * the fresh checkpoint's first batch re-applies the full bootstrap
  * snapshot onto the already-populated, slightly-behind replica, so
  * upsert convergence (stale inserts → postimages) is exercised at a
  * row count where any divergence or duplication is obvious in the
  * count and the order-independent row hash. Schema EVOLUTION is in the
  * mix too (r14): one column rename lands mid-feed (delivered as a
  * schema_change event the replica applies) and one lands in the same
  * round the checkpoint is lost (never delivered — the fresh bootstrap
  * adopts the feed's names positionally). GraftStreamSpec proves
  * the logic on toy tables; this proves the CONSTANT FACTORS.
  *
  * Finally the REPLICA runs its own maintenance (bin-packing optimize +
  * aggressive vacuum) and must still match the source row-for-row,
  * uuid-for-uuid. Source and replica are two tables advancing under the
  * marker-idempotency clause of the cross-table contract (SCALE.md
  * "What spans tables and what doesn't") — convergent and exactly-once
  * per table, never atomically paired.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.CdcSoak [seedRows] [rounds]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object CdcSoak {
  def main(args: Array[String]): Unit = {
    val seed = args.headOption.map(_.toLong).getOrElse(200000L)
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(12)
    val spark = Harness.session(Harness.cpus)

    val base = java.nio.file.Files.createTempDirectory("graft-cdcsoak")
    val src = s"$base/src"
    val dst = s"$base/dst"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      md5(col("id").cast("string")).as("payload"))

    val t0 = System.nanoTime()
    val ds = GraftDataset.create(spark, src, rows(0, 1).schema)
    ds.append(rows(0, seed)); ds.commit("seed")
    var appended = seed

    var ckpt = s"$base/ck1"
    // per-batch throughput + feed lag from the engine's own progress
    val batchRate = scala.collection.mutable.ArrayBuffer[Double]()
    val lagCommits = scala.collection.mutable.ArrayBuffer[Long]()
    def sync(): Unit = {
      val q = GraftStreaming.replicate(spark, src, dst, ckpt)
      q.awaitTermination()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      batchRate ++= ps.map(_.processedRowsPerSecond).filter(_.isFinite)
      lagCommits ++= ps.flatMap(_.sources.headOption).flatMap { s =>
        for (e <- Option(s.endOffset); l <- Option(s.latestOffset);
             ev <- e.trim.toLongOption; lv <- l.trim.toLongOption)
          yield math.max(0L, lv - ev)
      }
      ()
    }
    sync() // bootstrap the replica from the full feed

    var payloadCol = "payload"
    var hasTag = false
    for (r <- 1 to rounds) {
      // schema evolution under live replication: one rename mid-feed
      // (announced as a schema_change event, replica adopts it) and one
      // in the SAME round the checkpoint is lost (no event ever delivered
      // — the fresh bootstrap must adopt the feed's names positionally).
      // r15 adds ADDITIVE evolution: a nullable column lands between
      // syncs (the AvailableNow restart re-pins past it — the replica
      // adopts the column, its pre-add rows null-backfilled), then keeps
      // taking values through later rounds' appends and updates.
      if (r == rounds / 4 && !hasTag) {
        // its own commit, BEFORE any rename staging this round: an add
        // COMBINED with a rename in one commit is not pure and splits
        // the feed by design — the soak exercises the tolerated
        // evolutions
        ds.createTensor("tag", org.apache.spark.sql.types.StringType)
        ds.commit("add tag column")
        hasTag = true
      }
      if (r == rounds / 3 || r == rounds / 2) {
        val next = s"payload_r$r"
        ds.renameTensor(payloadCol, next)
        payloadCol = next
      }
      val grow = rows(appended, appended + 10000)
        .withColumnRenamed("payload", payloadCol)
      ds.append(if (hasTag) grow.withColumn("tag",
        concat(lit("t"), col("id"))) else grow)
      appended += 10000
      ds.update(pmod(col("id"), lit(7)) === (r % 7),
        Map(payloadCol -> concat(lit(s"u$r-"), col("id"))) ++
          (if (hasTag) Map("tag" -> concat(lit(s"g$r-"), col("id")))
           else Map.empty))
      ds.pop(pmod(col("id"), lit(101)) === (r % 101))
      ds.commit(s"round $r")
      if (r % 4 == 0) { // clean-state rewrite: the feed must skip it
        ds.compact(); ds.commit(s"compact after round $r")
      }
      if (r == rounds / 2) ckpt = s"$base/ck2" // checkpoint LOST mid-run
      sync()
    }

    // exact multiset equality INCLUDING row identity (_uuid): the
    // replica must carry the source's uuids verbatim
    def chk(root: String) = spark.read.format("graft")
      .option("withUuid", "true").load(root)
      .agg(count(lit(1)), sum(pmod(
        xxhash64((Seq(col("id"), col(payloadCol)) ++
          (if (hasTag) Seq(col("tag")) else Nil) :+ col("_uuid")): _*),
        lit(1000000007L)))).head()
    val (srcChk, dstChk) = (chk(src), chk(dst))
    // the replica must also have ADOPTED the renamed schema
    val okSchema = GraftDataset.load(spark, dst).schema.fieldNames.toSeq ==
      GraftDataset.load(spark, src).schema.fieldNames.toSeq
    val okReplicated = srcChk == dstChk && okSchema

    // replica-side maintenance must not disturb the converged state
    val rds = GraftDataset.load(spark, dst)
    rds.optimizeSmallFiles()
    rds.commit("replica optimize", allowEmpty = true)
    rds.vacuum(olderThanMs = -60000L)
    val okMaintained = chk(dst) == srcChk

    val sec = (System.nanoTime() - t0) / 1e9
    val meanRate =
      if (batchRate.isEmpty) 0.0 else batchRate.sum / batchRate.size
    println(s"""{"seedRows":$seed,"rounds":$rounds,""" +
      s""""srcRows":${srcChk.getLong(0)},"dstRows":${dstChk.getLong(0)},""" +
      s""""srcCommits":${ds.log.size},""" +
      s""""replicaCommits":${rds.log.size},""" +
      f""""meanEventsPerSec":$meanRate%.0f,""" +
      f""""peakEventsPerSec":${batchRate.maxOption.getOrElse(0.0)}%.0f,""" +
      s""""maxLagCommits":${lagCommits.maxOption.getOrElse(0L)},""" +
      f""""sec":$sec%.1f,"okReplicated":$okReplicated,""" +
      s""""okMaintained":$okMaintained}""")
    if (!(okReplicated && okMaintained)) sys.exit(1)
    graft.QueryCleanup.deleteRecursively(base.toString)
    spark.stop()
  }
}
