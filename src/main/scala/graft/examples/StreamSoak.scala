package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Harness
import graft.format.GraftDataset

/** Long-running streaming soak for the graft source/sink pair: 10^6 rows
  * tailed table-to-table through interleaved `compact()` rewrites and a
  * rate-limited restart mid-backlog. GraftStreamSpec proves the logic on
  * toy tables; this proves the CONSTANT FACTORS — per-commit walk cost
  * over a deep backlog, paced catch-up batch sizes, floor persistence
  * across restarts, and rewrite-skip under real compaction — at a row
  * count where any accidental re-emission or snapshot re-read would be
  * obvious in the wall clock and the row hash.
  *
  * Phases: seed K commits → capped tail, STOPPED mid-backlog → appends +
  * compact() while the stream is down → restart (same checkpoint),
  * AvailableNow drain → more appends + compact → final drain. The sink
  * table must then hold EXACTLY the source's rows: count and an
  * order-independent xxhash64 sum both match, zero duplicates.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.StreamSoak [rows] [commits]"`
  * Prints one JSON line: {rows, commits, batches, maxBatchRows, sec, ok}.
  * Measured results are recorded in SCALE.md ("Streaming soak, measured").
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(1000000L)
    val commits = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val spark = Harness.session(Harness.cpus)

    val base = java.nio.file.Files.createTempDirectory("graft-streamsoak")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    val perCommit = total / commits

    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      md5(col("id").cast("string")).as("payload"))

    val t0 = System.nanoTime()
    val ds = GraftDataset.create(spark, src, rows(0, 1).schema)
    var appended = 0L
    def appendCommit(n: Long, msg: String): Unit = {
      ds.append(rows(appended, appended + n))
      appended += n
      ds.commit(msg)
      ()
    }
    // phase 1: seed a deep backlog (half the corpus across many commits)
    for (i <- 1 to commits / 2) appendCommit(perCommit, s"seed $i")

    val batchRows = scala.collection.mutable.ArrayBuffer[Long]()
    // sustained-throughput + lag evidence (r14): per-batch processed
    // rows/s from the engine's own progress, and source lag = commits
    // between the branch head (reportLatestOffset) and the batch's end
    // offset — how far the tail is behind the table it is draining
    val batchRate = scala.collection.mutable.ArrayBuffer[Double]()
    val lagCommits = scala.collection.mutable.ArrayBuffer[Long]()
    def run(trigger: Trigger, stopAfterBatches: Int = 0): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxCommitsPerTrigger", "3").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start()
      if (stopAfterBatches > 0) {
        // stop mid-backlog: wait until a few batches committed, then kill
        val deadline = System.currentTimeMillis() + 120000
        while (q.recentProgress.count(_.numInputRows > 0) < stopAfterBatches
            && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } else if (trigger == Trigger.AvailableNow()) {
        require(q.awaitTermination(600000), "AvailableNow must self-stop")
      } else q.processAllAvailable()
      q.stop()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      batchRows ++= ps.map(_.numInputRows)
      batchRate ++= ps.map(_.processedRowsPerSecond).filter(_.isFinite)
      lagCommits ++= ps.flatMap(_.sources.headOption).flatMap { s =>
        for (e <- Option(s.endOffset); l <- Option(s.latestOffset);
             ev <- e.trim.toLongOption; lv <- l.trim.toLongOption)
          yield math.max(0L, lv - ev)
      }
    }

    // phase 2: capped tail killed mid-backlog (restart scenario)
    run(Trigger.ProcessingTime(0L), stopAfterBatches = 2)
    // phase 3: while the stream is down — more data AND a compaction
    for (i <- 1 to commits / 4) appendCommit(perCommit, s"down $i")
    ds.compact(); ds.commit("compact mid-backlog")
    // phase 4: restart from the same checkpoint; paced AvailableNow drain
    run(Trigger.AvailableNow())
    // phase 5: another compact + the rest of the corpus, final drain
    ds.compact(); ds.commit("compact again")
    while (appended < total)
      appendCommit(math.min(perCommit, total - appended), "tail")
    run(Trigger.AvailableNow())

    // verification: exact multiset equality source vs sink
    val out = GraftDataset.load(spark, dst).toDF
    // order-independent row-hash sum; pmod bounds each term so the sum
    // stays within int64 under ANSI (full-range xxhash64 sums overflow)
    val chk = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("id"), col("payload")), lit(1000000007L))))
        .head()
    val (srcChk, dstChk) = (chk(ds.toDF), chk(out))
    val ok = srcChk == dstChk && srcChk.getLong(0) == total
    val sec = (System.nanoTime() - t0) / 1e9
    val meanRate =
      if (batchRate.isEmpty) 0.0 else batchRate.sum / batchRate.size
    println(s"""{"rows":$total,"commits":${ds.log.size},""" +
      s""""batches":${batchRows.size},""" +
      s""""maxBatchRows":${batchRows.maxOption.getOrElse(0L)},""" +
      f""""meanRowsPerSec":$meanRate%.0f,""" +
      f""""peakRowsPerSec":${batchRate.maxOption.getOrElse(0.0)}%.0f,""" +
      s""""maxLagCommits":${lagCommits.maxOption.getOrElse(0L)},""" +
      s""""srcCount":${srcChk.getLong(0)},"dstCount":${dstChk.getLong(0)},""" +
      f""""sec":$sec%.1f,"ok":$ok}""")
    if (!ok) sys.exit(1)
    graft.QueryCleanup.deleteRecursively(base.toString)
    spark.stop()
  }
}
