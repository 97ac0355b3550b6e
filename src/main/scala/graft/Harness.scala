package graft

import org.apache.spark.sql.SparkSession

/** The one way an entry point (Bench, Verify, Profile, Explain, the
  * `graft.examples` mains, the specs) builds its session, reaps the state
  * a finished query left behind, and settles the JVM before a timed run.
  */
object Harness {
  /** Cores for the entry points: `SPARK_GRAFT_CPUS`, else every processor
    * this JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cores` threads with one shuffle partition per
    * core, the UI off, the session time zone pinned to UTC (the oracle
    * compares timestamps as UTC epochs) and every [[Tables.requiredConfs]]
    * entry, so nothing runs on stock Hadoop's fork/exec local FS. */
  def session(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reap all suite state a finished run left behind — OUTSIDE the timed
    * window: registered temp roots / checkpoints / memory-sink views
    * (QueryCleanup), any cached plans, and any persisted RDDs. The r9
    * driver run measured 78.8 s against a 54.0 s clean run of identical
    * code — the delta was exactly this residue.
    */
  def reap(spark: SparkSession): Unit = {
    QueryCleanup.drain(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // deterministically delete every finished query's shuffle files and
    // driver-side map-output state — the async ContextCleaner pipeline
    // (GC → ref-queue → non-blocking remove) lags a multi-run suite by
    // design, and r10 measured its biggest-shuffle query at 2.9× its
    // isolated cost from exactly that accumulated local-dir state
    org.apache.spark.sql.graftnative.SuiteReaper.purgeShuffles(spark)
  }

  /** Two GC passes + 800 ms before a timed run: one gc() alone does not
    * drain the ContextCleaner backlog a long suite accrues (broadcast/
    * shuffle state is reclaimed via weak refs AFTER gc, by an async
    * thread) — r7 measured untouched heavy queries 3× their isolated time
    * from exactly this suite-JVM state. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    Thread.sleep(500)
  }
}
