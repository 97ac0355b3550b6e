package graft.examples

import org.apache.spark.sql.functions._
import graft.Harness
import graft.format.{CommitLog, GraftDataset}

/** Concurrent-ingest soak: K writer threads append to ONE table branch
  * with no lock and no user-level retry loop — every lost branch CAS
  * auto-rebases (append-only changes commute; uuid blocks are claimed
  * atomically so writers can never collide on row identity). This
  * measures the CONSTANT FACTORS behind the "N ingest jobs, one table"
  * scale claim the specs prove on toy sizes: aggregate commits/s and
  * rows/s versus a single-writer baseline, plus the integrity gates —
  * zero lost commits, zero lost/duplicated rows, globally-unique uuids.
  * A maintenance thread interleaves clean-state bin-packing + vacuum to
  * keep the rewrite/reclaim machinery in the race too.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.ConcurrencySoak [writers] [commits] [rowsPer]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object ConcurrencySoak {
  def main(args: Array[String]): Unit = {
    val writers = args.headOption.map(_.toInt).getOrElse(4)
    val commits = args.drop(1).headOption.map(_.toInt).getOrElse(15)
    val rowsPer = args.drop(2).headOption.map(_.toLong).getOrElse(5000L)
    val spark = Harness.session(Harness.cpus)

    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id"), md5(col("id").cast("string")).as("payload"))

    def ingest(root: String, writerId: Int, nCommits: Int): Long = {
      val ds = GraftDataset.load(spark, root)
      var done = 0L
      for (c <- 0 until nCommits) {
        val lo = (writerId.toLong * 1000 + c) * 1000000L
        ds.append(rows(lo, rowsPer))
        ds.commit(s"w$writerId c$c")
        done += rowsPer
      }
      done
    }

    // ---- single-writer baseline --------------------------------------
    val base = java.nio.file.Files.createTempDirectory("graft-concsoak")
    val root1 = s"$base/single"
    GraftDataset.create(spark, root1, rows(0, 1).schema)
    val t1 = System.nanoTime()
    ingest(root1, 0, commits)
    val singleSec = (System.nanoTime() - t1) / 1e9

    // ---- K concurrent writers + a maintenance thread ------------------
    val rootK = s"$base/multi"
    GraftDataset.create(spark, rootK, rows(0, 1).schema)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t2 = System.nanoTime()
    val threads = (0 until writers).map { w =>
      val t = new Thread(() =>
        try { ingest(rootK, w, commits); () }
        catch { case e: Throwable => errors.add(e); () },
        s"writer-$w")
      t.start(); t
    }
    val maint = new Thread(() => {
      try {
        while (!stop.get()) {
          Thread.sleep(1500)
          val m = GraftDataset.load(spark, rootK)
          m.optimizeSmallFiles(targetBytes = 8L << 20)
          if (m.hasUncommitted) m.commit("maintenance bin-pack")
          // POSITIVE retention: `<= 0` reclaims staged-but-uncommitted
          // files out from under the racing writers (documented unsafe);
          // 30 s is far above any staged window here while still young
          // enough to reclaim this run's early pre-images before it ends
          m.vacuum(olderThanMs = 30000L)
          ()
        }
      } catch { case e: Throwable => errors.add(e); () }
    }, "maintenance")
    maint.start()
    // TWO enrichment threads on DISJOINT row slices (even/odd ids),
    // racing the appends, the bin-packs and each other — lost CASes
    // rebase throughout: snapshot-scoped mutations commute with
    // append/rewrite winners, and with each other because their
    // update entries touch disjoint uuid sets (row-level conflict
    // detection); a same-row race would stay loud, which the disjoint
    // slices never trigger
    val enrichCommits = new java.util.concurrent.atomic.AtomicLong(0)
    val enrichedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val enrichers = (0 until 2).map { par =>
      val t = new Thread(() => {
        try {
          var i = 0
          while (!stop.get()) {
            Thread.sleep(900)
            val h = GraftDataset.load(spark, rootK)
            val n = h.update(
              pmod(col("id"), lit(2)) === par &&
                pmod(col("id"), lit(97)) === (i % 97),
              Map("payload" -> concat_ws("-", lit("enriched"), col("id"))))
            if (h.hasUncommitted) {
              h.commit(s"enrich[$par] $i")
              enrichCommits.incrementAndGet()
              enrichedRows.addAndGet(n)
              ()
            }
            i += 1
          }
        } catch { case e: Throwable => errors.add(e); () }
      }, s"enrich-$par")
      t.start(); t
    }
    threads.foreach(_.join())
    stop.set(true); maint.join(); enrichers.foreach(_.join())
    val multiSec = (System.nanoTime() - t2) / 1e9
    if (!errors.isEmpty) {
      errors.forEach(e => e.printStackTrace())
      sys.exit(1)
    }

    // ---- integrity gates ----------------------------------------------
    val ds = GraftDataset.load(spark, rootK)
    val snap = ds.snapshotWithUuid()
      .agg(count(lit(1)), countDistinct(col("id")),
        countDistinct(col(GraftDataset.UuidCol))).head()
    val expect = writers.toLong * commits * rowsPer
    val okRows = snap.getLong(0) == expect &&
      snap.getLong(1) == expect && snap.getLong(2) == expect
    val writerCommits = ds.log.count(_.message.startsWith("w"))
    val okCommits = writerCommits == writers * commits
    // every enrichment commit that claimed success is on the branch, and
    // enriched payloads actually landed through the rebases
    val landedEnrich = ds.log.count(_.message.startsWith("enrich"))
    val enrichedLive = ds.toDF
      .filter(col("payload").startsWith("enriched-")).count()
    val okEnrich = landedEnrich == enrichCommits.get() &&
      (enrichCommits.get() == 0 || enrichedLive > 0)

    val totRows = writers.toLong * commits * rowsPer
    println(s"""{"writers":$writers,"commitsPerWriter":$commits,""" +
      s""""rowsPerCommit":$rowsPer,""" +
      f""""singleWriterSec":$singleSec%.1f,"multiSec":$multiSec%.1f,""" +
      f""""singleCommitsPerSec":${commits / singleSec}%.2f,""" +
      f""""multiCommitsPerSec":${writers * commits / multiSec}%.2f,""" +
      f""""multiRowsPerSec":${totRows / multiSec}%.0f,""" +
      s""""okRows":$okRows,"okCommits":$okCommits,""" +
      s""""enrichCommits":${enrichCommits.get()},""" +
      s""""enrichedRows":${enrichedRows.get()},"okEnrich":$okEnrich,""" +
      s""""logSize":${ds.log.size}}""")
    if (!(okRows && okCommits && okEnrich)) sys.exit(1)
    graft.QueryCleanup.deleteRecursively(base.toString)
    spark.stop()
  }
}
