package lakebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Handle a running operation fills in: the result the output checks
  * compare (`got`) and the number of rows it touched.
  */
final class OpHandle(val id: Int) {
  var got: Any = null
  var rows: Long = 0L
}

/** Everything one run observes, kept in memory and written as a single
  * JSON document when the run ends ([[toJson]]).
  *
  * Untraced, it records only set-up times, one record per client
  * operation and the output checks. Traced ([[startTracing]]), it also
  * records a span around every call the workload makes into a layer,
  * every Spark job (through a `SparkListener`, attributed to the
  * innermost open span by a job-local property), streaming progress
  * (through a `StreamingQueryListener`), the process's file-system
  * calls per operation, JVM counters per phase, and on-disk format
  * samples. All times are epoch milliseconds on one clock.
  */
final class Recorder(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Phase label stamped on every operation: `measure` in an untraced
    * run; `untraced_a`, `traced`, `untraced_b` in a traced run. */
  var phase: String = "measure"
  private var tracing = false

  val setups = ArrayBuffer[Double]()
  /** Lake bytes on disk per parquet byte of user rows ingested, one
    * sample per finished lake state. */
  val footprints = ArrayBuffer[Double]()
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private val spans = ArrayBuffer[Map[String, Any]]()
  private val samples = ArrayBuffer[Map[String, Any]]()
  private val phases = ArrayBuffer[Map[String, Any]]()
  private var nextOp = 0
  private var nextSpan = 0
  private val openSpans = mutable.Stack[Int]()
  private var currentOp = -1

  private val SpanProp = "lakebench.span"
  private val OpProp = "lakebench.op"

  /** Time one set-up; its duration feeds `setup_s`. */
  def setup[T](body: => T): T = {
    val t0 = now()
    val r = body
    setups += (now() - t0) / 1000.0
    r
  }

  /** Run one client operation. A thrown exception marks it failed and
    * returns None; the loop goes on with the next operation. */
  def op[T](kind: String)(body: OpHandle => T): Option[T] = {
    val h = new OpHandle(nextOp)
    nextOp += 1
    currentOp = h.id
    val fs0 = if (tracing) fsCounters() else Map.empty[String, Long]
    val t0 = now()
    val r = try Right(withSpan(s"op.$kind")(body(h))) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Left(e)
    }
    val t1 = now()
    currentOp = -1
    val fs1 = if (tracing) fsCounters() else Map.empty[String, Long]
    ops += Map("id" -> h.id, "kind" -> kind, "phase" -> phase,
      "t0" -> t0, "t1" -> t1, "ok" -> r.isRight,
      "err" -> r.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"
        .take(500)),
      "rows" -> h.rows, "got" -> h.got,
      "fs" -> fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) })
    r.toOption
  }

  /** Expected result of operation `opId`, computed outside the timed
    * window from the generated inputs. `kind` selects the comparison
    * the analysis applies: `equal`, `recall_scores`, `recall_ids`, `pairs`. */
  def expect(opId: Int, kind: String, want: Any,
             extra: Map[String, Any] = Map.empty): Unit =
    checks += Map("op" -> opId, "kind" -> kind, "want" -> want) ++ extra

  private val late = mutable.HashMap[Int, Any]()

  /** Set the checked result of operation `opId` after it returned, for
    * results only observable later (a change feed's totals). */
  def lateGot(opId: Int, got: Any): Unit = late(opId) = got

  /** A span around one call into a layer; free when not tracing. */
  def span[T](name: String)(body: => T): T = withSpan(name)(body)

  private def withSpan[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = openSpans.headOption.getOrElse(-1)
      openSpans.push(id)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(OpProp, currentOp.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        openSpans.pop()
        sc.setLocalProperty(SpanProp, openSpans.headOption.map(_.toString).orNull)
        if (openSpans.isEmpty) sc.setLocalProperty(OpProp, null)
        spans += Map("id" -> id, "name" -> name, "t0" -> t0, "t1" -> t1,
          "parent" -> parent, "op" -> currentOp)
      }
    }

  /** A measurement of on-disk or format state, taken between
    * operations (traced runs only). */
  def sample(name: String, value: Double): Unit =
    if (tracing) samples += Map("name" -> name, "value" -> value, "t" -> now())

  def isTracing: Boolean = tracing

  // ---- traced-run instruments ---------------------------------------------

  private final class JobRec(val id: Int, val t0: Double, val span: Int,
                             val op: Int) {
    var t1: Double = Double.NaN
    var tasks = 0L; var maxStageTasks = 0; var runMs = 0L; var cpuNs = 0L
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val progress = ArrayBuffer[Map[String, Any]]()
  @volatile private var lastEventMs = 0L
  private def intProp(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      lastEventMs = System.currentTimeMillis()
      val j = new JobRec(e.jobId, e.time.toDouble,
        intProp(e.properties, SpanProp), intProp(e.properties, OpProp))
      jobs(e.jobId) = j
      e.stageInfos.foreach { s =>
        stageJob(s.stageId) = e.jobId
        j.maxStageTasks = math.max(j.maxStageTasks, s.numTasks)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      lastEventMs = System.currentTimeMillis()
      jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      lastEventMs = System.currentTimeMillis()
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
           if e.taskMetrics != null) {
        val m = e.taskMetrics
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        val p = e.progress
        progress += Map("t" -> now(), "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  /** The process's file-system work so far, from `/proc/self/io`: read
    * and write system calls and bytes written. The Hadoop `file`-scheme
    * statistics cannot stand in: the local file system leaves their
    * operation counters at zero, and commit files are written through
    * NIO. Empty where `/proc` is absent. */
  private def fsCounters(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      val kv = try src.getLines().map(_.split(":\\s*")).collect {
        case Array(k, v) => k -> v.trim.toLong
      }.toMap finally src.close()
      Map("read_ops" -> kv("syscr"), "write_ops" -> kv("syscw"),
        "bytes_written" -> kv("wchar"))
    } catch { case _: java.io.IOException | _: NoSuchElementException => Map.empty }

  private def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private var phaseStart: (Double, Map[String, Double]) = (0.0, Map.empty)

  /** Begin the traced phase: attach the listeners, reset heap peaks. */
  def startTracing(): Unit = {
    tracing = true
    phase = "traced"
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    heapPools.foreach(_.resetPeakUsage())
    phaseStart = (now(), jvmCounters())
  }

  /** End the traced phase: wait for the asynchronous listener bus to
    * deliver the phase's last events, then detach. */
  def stopTracing(): Unit = if (tracing) {
    val (t0, c0) = phaseStart
    val c1 = jvmCounters()
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phases += Map("name" -> phase, "t0" -> t0, "t1" -> now(),
      "jvm" -> (c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) } +
        ("heap_peak_mb" -> heapPeak)))
    val deadline = System.currentTimeMillis() + 10000
    def settled = jobs.synchronized(jobs.values.forall(j => !j.t1.isNaN)) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    tracing = false
  }

  def toJson(meta: Map[String, Any]): String = {
    val jobList = jobs.synchronized(jobs.values.toList.map { j =>
      Map("id" -> j.id, "t0" -> j.t0, "t1" -> (if (j.t1.isNaN) null else j.t1),
        "span" -> j.span,
        "op" -> j.op, "tasks" -> j.tasks, "max_stage_tasks" -> j.maxStageTasks,
        "run_ms" -> j.runMs, "cpu_ms" -> j.cpuNs / 1e6,
        "input_bytes" -> j.inputBytes, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)
    })
    org.json4s.jackson.Serialization.write(Map("meta" -> meta, "setups_s" -> setups.toList,
      "footprints" -> footprints.toList,
      "ops" -> ops.toList.map(o =>
        late.get(o("id").asInstanceOf[Int]).fold(o)(g => o + ("got" -> g))),
      "checks" -> checks.toList, "spans" -> spans.toList,
      "jobs" -> jobList, "progress" -> progress.synchronized(progress.toList),
      "samples" -> samples.toList, "phases" -> phases.toList))(org.json4s.DefaultFormats)
  }
}
