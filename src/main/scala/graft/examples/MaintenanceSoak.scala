package graft.examples

import org.apache.spark.sql.functions._
import graft.Harness
import graft.format.{CommitLog, GraftDataset}

/** Maintenance soak: a table under CONTINUOUS small-batch ingest (the
  * streaming steady state — one entry per epoch) kept healthy by the
  * round-13 maintenance pair, `optimizeSmallFiles` (bin-packing) +
  * `vacuum` (reclamation), with occasional full `compact()` to collapse
  * merge-on-read updates. VacuumSpec proves the logic on toy tables;
  * this proves the STEADY STATE — that file count and physical bytes
  * stay BOUNDED over hundreds of epochs instead of growing linearly,
  * and that hundreds of interleaved rewrites + reclamations never
  * drift a row.
  *
  * Phases, per epoch: append+commit a small batch; every `optEvery`
  * epochs run optimizeSmallFiles + commit; every `compactEvery` epochs
  * run an update + pop + compact cycle; vacuum aggressively after each
  * maintenance op. At the end: full content check (count + order-
  * independent xxhash64 sum vs the driver-side model) and the bound
  * checks (live manifest entries, physical data-dir bytes == live
  * bytes — i.e. zero stranded garbage).
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.MaintenanceSoak [rows] [epochs]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object MaintenanceSoak {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(1000000L)
    val epochs = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = Harness.session(Harness.cpus)

    val root = java.nio.file.Files
      .createTempDirectory("graft-maintsoak").toString + "/t"
    val perEpoch = total / epochs
    val optEvery = 5
    val compactEvery = 25

    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      md5(col("id").cast("string")).as("payload"))

    val t0 = System.nanoTime()
    val ds = GraftDataset.create(spark, root, rows(0, 1).schema)
    var appended = 0L
    // rows below this watermark have seen a churn cycle: %89==7 updated,
    // %97==13 popped; rows appended after the last churn are untouched
    var churnedThrough = 0L
    var optRuns = 0
    var binsWritten = 0
    for (e <- 1 to epochs) {
      ds.append(rows(appended, appended + perEpoch))
      appended += perEpoch
      ds.commit(s"epoch $e")
      if (e % optEvery == 0) {
        val (inN, outN) = ds.optimizeSmallFiles(targetBytes = 64L << 20)
        if (inN > 0) { ds.commit(s"optimize $e"); optRuns += 1; binsWritten += outN }
        ds.vacuum(olderThanMs = -60000L)
      }
      if (e % compactEvery == 0) {
        // real merge-on-read churn: update a slice, pop a slice, collapse
        ds.update(col("id") % 89 === 7, Map("payload" -> lit("UPDATED")))
        ds.pop(col("id") % 97 === 13 && col("id") >= churnedThrough)
        churnedThrough = appended
        ds.commit(s"churn $e")
        ds.compact()
        ds.commit(s"compact $e")
        ds.vacuum(olderThanMs = -60000L)
      }
    }
    ds.vacuum(olderThanMs = -60000L)

    // content check against the driver-side model of the mutations
    val expect = rows(0, appended)
      .withColumn("payload",
        when(col("id") % 89 === 7 && col("id") < lit(churnedThrough),
          lit("UPDATED")).otherwise(col("payload")))
      .filter(!(col("id") % 97 === 13 && col("id") < lit(churnedThrough)))
    // order-independent content digest; decimal sum (a long sum of 64-bit
    // hashes overflows under ANSI)
    def digest(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(col("id"), col("payload")).cast("decimal(38,0)"))).head()
    val gotAgg = digest(ds.toDF)
    val expAgg = digest(expect)
    val contentOk = gotAgg == expAgg

    // bound checks: live entries bounded; physical bytes == live bytes
    val f = CommitLog.fs(spark, root)
    val head = CommitLog.readCommit(spark, root,
      CommitLog.readBranches(spark, root)("main"))
    val live = (head.files ++ head.updates ++ head.tombstones).toSet
    def bytesOf(rel: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root, rel)
      if (!f.exists(p)) 0L
      else if (f.getFileStatus(p).isDirectory)
        f.listStatus(p).filter(_.isFile).map(_.getLen).sum
      else f.getFileStatus(p).getLen
    }
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val physicalEntries = f.listStatus(dataDir).map(_.getPath.getName).toSeq
    val physicalBytes = physicalEntries.map(n => bytesOf(s"data/$n")).sum
    val liveBytes = live.toSeq.map(bytesOf).sum
    val boundOk = live.size <= epochs / optEvery + optEvery + 2 &&
      physicalEntries.size == live.size && physicalBytes == liveBytes

    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"rows":$appended,"epochs":$epochs,"optRuns":$optRuns,""" +
      s""""bins":$binsWritten,"liveEntries":${live.size},""" +
      s""""physicalEntries":${physicalEntries.size},""" +
      s""""physicalBytes":$physicalBytes,"liveBytes":$liveBytes,""" +
      s""""sec":${"%.1f".format(sec)},"contentOk":$contentOk,""" +
      s""""boundOk":$boundOk,"ok":${contentOk && boundOk}}""")
    spark.stop()
    if (!(contentOk && boundOk)) sys.exit(1)
  }
}
