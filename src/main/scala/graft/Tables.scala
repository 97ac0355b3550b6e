package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file each under the sf dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every entry point must set: the events table stores
    * nanosecond timestamps, which Spark's Parquet reader only accepts as
    * long when this legacy flag is on (we convert back to TimestampType in
    * [[load]]); the rest keep metadata IO off fork/exec and let a
    * repeated operation reuse its generated code. Some are static: they
    * only take effect when set on the JVM's first session.
    */
  val requiredConfs: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // local FS without libhadoop natives fork/execs `chmod`/`readlink`
      // on every create/mkdirs/FileContext-rename — measured as the
      // largest non-idle driver bucket on the streaming/CDC family
      // (plans/r22/stacks_q121_q105.txt). These subclasses keep stock
      // Hadoop semantics and use NIO syscalls instead; cluster
      // filesystems (HDFS/object stores) never had this tax — see
      // graft.format.NioLocalFs.
      "spark.hadoop.fs.file.impl" -> "graft.format.NioLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        "graft.format.NioLocalFs",
      // Spark's generated-class cache (static, read once when
      // CodeGenerator is first used) defaults to 100 entries; the lake
      // benchmark's working set is ~160 classes per batch_pipeline pass
      // and 160-167 per versioned_writes episode (SCALE.md), so at 100
      // the LRU thrashed and every repeat recompiled all of them (Janino
      // + JIT; batch_pipeline op_p50_gmean_ms 1214 → 803 ms). 1000 holds
      // the working set several times over and stays a finite bound;
      // end-of-run metaspace was no higher.
      "spark.sql.codegen.cache.maxEntries" -> "1000",
      // the cache is keyed by the thread's context classloader, and with
      // per-session artifact isolation (on by default since Spark 4.0)
      // every SparkSession gets its own executor-side classloader; each
      // streaming query runs on a fresh clone of its session, so every
      // new query (a change feed restarted after a merge) recompiled its
      // whole plan on the executors. The engine adds no session
      // artifacts (jars, files, REPL classes) to isolate.
      "spark.sql.artifact.isolation.enabled" -> "false",
      // the cache key is the generated source, and by default the class
      // name carries the whole-stage id; AQE numbers the stages in the
      // order their inputs finish, so a plan that ran before came back
      // as a new class now and then (minHashLsh/simHashNearDup: 4-6
      // compiles every few runs). Without the id, identical stage code
      // is one class; stack traces then show `GeneratedIterator`, and
      // the stage id stays in the plan (`*(8)`).
      "spark.sql.codegen.useIdInClassName" -> "false")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The driver has generated events.ts in two encodings across rounds:
    // long nanoseconds (read as long via nanosAsLong) and plain
    // timestamp[us] (arrives as TIMESTAMP_NTZ). Normalize both to
    // session-local TimestampType so downstream unix_micros/filters match
    // DuckDB's epoch_us on the same file (session tz is pinned to UTC, so
    // the NTZ→LTZ cast is value-preserving).
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        // truncate ns→µs with INTEGRAL division: `/` is double division,
        // and ns epochs (~1.7e18) exceed double's exact integer range, so
        // a cast-back can land ±1µs off DuckDB's exact truncation
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
    else df
  }
}
