package lakebench

import org.apache.spark.sql.SparkSession

/** One named workload: seeded inputs, a closed-loop measurement, and
  * output checks computed outside the timed window. */
trait Workload {
  /** Generate the seeded inputs and do any set-up that precedes the
    * window, timing each set-up with `rec.setup`. */
  def prepare(rec: Recorder): Unit

  /** Set up and run `units` whole units of work (episodes, passes or
    * query cycles), their client operations back to back. Called once
    * per run, or three times in a traced run, each time from the start
    * of the same operation sequence. */
  def measure(rec: Recorder, units: Int): Unit

  /** About how long one unit of work takes on the reference box (4
    * vCPUs), in ms: `--seconds` is turned into a unit count with it. */
  def unitMs: Double

  /** Record the expected result of every checked operation. */
  def check(rec: Recorder): Unit

  /** Sizes and knobs, written into the run record. */
  def describe: Map[String, Any]
}

/** Runs one workload in one JVM from one client thread:
  * {{{
  * lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --work <dir> --out <file>
  * }}}
  * and writes the run record (see [[Recorder]]) to `--out`. The window
  * is a fixed number of whole units of work, as many as take `--seconds`
  * on the reference box, not a deadline: every run of a workload then
  * does the same work, also on a box that is slow for a while, where a
  * deadline would cut some runs one unit short and leave them measuring
  * less warmed-up code. A traced run splits the window in three:
  * untraced, traced, untraced, each over the same operation sequence,
  * so that the tracing overhead is measured inside one process.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val spark = session(cores, work)
    try {
      val rec = new Recorder(spark)
      val wl: Workload = name match {
        case "versioned_writes" => new VersionedWrites(spark, seed, s"$work/lake")
        case "interactive_reads" => new InteractiveReads(spark, seed, s"$work/lake")
        case "batch_pipeline" => new BatchPipeline(spark, seed, s"$work/lake")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      def units(ms: Double): Int = math.max(1, math.round(ms / wl.unitMs).toInt)
      val tp = rec.now()
      wl.prepare(rec)
      val t0 = rec.now()
      val n = if (!traced) units(seconds * 1000) else units(seconds * 1000 / 3)
      if (!traced) wl.measure(rec, n)
      else {
        // untraced, traced, untraced: the traced third is compared with
        // the mean of the two around it, so warm-up drift cancels
        rec.phase = "untraced_a"
        wl.measure(rec, n)
        rec.startTracing()
        wl.measure(rec, n)
        rec.stopTracing()
        rec.phase = "untraced_b"
        wl.measure(rec, n)
      }
      val t1 = rec.now()
      wl.check(rec)
      val meta = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
        "traced" -> traced, "cores" -> cores, "units" -> n, "prepare_ms" -> (t0 - tp),
        "window_ms" -> (t1 - t0), "check_ms" -> (rec.now() - t1),
        "spark_version" -> spark.version, "workload_params" -> wl.describe)
      val out = new java.io.PrintWriter(o("out"), "UTF-8")
      try out.write(rec.toJson(meta)) finally out.close()
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
