package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Per-stage profiler for named queries (guide §1.1: find where the time
  * actually goes before changing anything). Each query runs under the
  * bench's settle+reap protocol three times:
  *
  *  1. a warmup run (codegen+JIT), not recorded;
  *  2. the steady run the bench reports, printed stage by stage —
  *     wall-clock, executor-cpu sum, task count, shuffle bytes, the
  *     callsite — plus the driver gaps between its jobs;
  *  3. one more run under a driver-side wall-clock stack sampler (guide
  *     §7.3 applied continuously), printed as a histogram of collapsed
  *     stacks, so the driver gaps (planning, commit protocol, metadata IO,
  *     streaming-engine machinery) become attributable — stage metrics
  *     cannot see them. It is its own run so the stage numbers carry no
  *     sampler overhead.
  *
  * `sbt "runMain graft.Profile q50_ngram_jaccard_pairs q121_format_cdc_rename"`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    case class StageRow(id: Int, name: String, wallMs: Long, cpuMs: Long,
                        tasks: Int, shufReadMb: Double, shufWriteMb: Double,
                        inputMb: Double)
    val stages = mutable.ArrayBuffer[StageRow]()
    // (id, startMs, endMs, callsite) — gaps between a job's end and the
    // next job's start are DRIVER time (planning, metadata IO, commit
    // protocol), invisible to stage metrics
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, String)]()
    val jobStarts = mutable.Map[Int, (Long, String)]()
    var recording = false
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = sc.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val m = si.taskMetrics
          stages += StageRow(si.stageId, si.name, wall,
            m.executorCpuTime / 1000000, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording) jobStarts.synchronized {
          jobStarts(js.jobId) = (js.time, js.stageInfos.lastOption
            .map(_.name).getOrElse(""))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (recording) jobStarts.synchronized {
          jobStarts.remove(je.jobId).foreach { case (t0, name) =>
            jobs += ((je.jobId, t0, je.time, name))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def stageReport(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      stages.clear(); jobs.clear(); jobStarts.clear(); recording = true
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      // let async listener events drain
      Thread.sleep(500)
      println(f"\n######## $name: $wall%.3f s (steady run), $n rows, " +
        s"${jobs.size} jobs, ${stages.size} stages ########")
      val totalWall = stages.map(_.wallMs).filter(_ > 0).sum
      println(f"sum of stage wall-clock: ${totalWall / 1000.0}%.3f s " +
        "(overlap possible); top stages:")
      stages.sortBy(-_.wallMs).take(25).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.wallMs}%6d ms cpu=${s.cpuMs}%6d ms " +
          f"tasks=${s.tasks}%3d in=${s.inputMb}%7.1f MB " +
          f"sr=${s.shufReadMb}%7.2f MB sw=${s.shufWriteMb}%7.2f MB  ${s.name.take(110)}")
      }
      // driver gaps: time between one job's end and the next job's start
      val ordered = jobs.sortBy(_._2).toVector
      if (ordered.nonEmpty) {
        val gaps = ordered.sliding(2).collect { case Vector(a, b) =>
            (b._2 - a._3, a._4, b._4)
          }.toVector.filter(_._1 > 0)
        val jobWall = ordered.map(j => j._3 - j._2).sum
        println(f"driver gaps: ${gaps.map(_._1).sum} ms total " +
          f"(jobs wall $jobWall ms); largest:")
        gaps.sortBy(-_._1).take(12).foreach { case (g, prev, next) =>
          println(f"  gap $g%5d ms after [${prev.take(55)}] before " +
            f"[${next.take(55)}]")
        }
      }
    }

    def stackHistogram(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      val hist = mutable.Map[String, Int]().withDefaultValue(0)
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, st) =>
            if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
                t.getName != "stack-sampler") {
              // collapse to the deepest INTERESTING frames: skip pure
              // JVM/socket idle loops
              val frames = st.take(40).map(f =>
                s"${f.getClassName}.${f.getMethodName}")
              val isIdle = frames.headOption.exists(f =>
                f.contains("socketAccept") || f.contains("epollWait") ||
                f.contains("Object.wait") || f.contains("park") ||
                f.contains("SocketDispatcher.read"))
              if (!isIdle) {
                val sig = frames.filterNot(_.startsWith("java.lang.Thread"))
                  .take(14).mkString(" <- ")
                hist(t.getName.replaceAll("-\\d+$", "") + " | " + sig) += 1
              }
            }
          }
          Thread.sleep(10)
        }
      }, "stack-sampler")
      sampler.setDaemon(true)

      val t0 = System.nanoTime()
      sampler.start()
      val n = fn(spark, sfDir).count()
      sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      sampler.join(1000)
      println(f"\n######## $name stacks: $wall%.3f s (sampled run), $n rows, " +
        s"${hist.values.sum} samples ########")
      hist.toSeq.sortBy(-_._2).take(40).foreach { case (sig, c) =>
        println(f"$c%5d  $sig")
      }
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count(); Harness.reap(spark) // warmup
      Harness.settle()
      stageReport(name, fn); Harness.reap(spark)
      Harness.settle()
      stackHistogram(name, fn); Harness.reap(spark)
    }
    spark.stop()
  }
}
