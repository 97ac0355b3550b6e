package lakebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.format.{CommitLog, GraftDataset}

/** `versioned_writes`: the commit path under a live change feed.
  *
  * Each episode takes a fresh table ingested from a seeded lineitem
  * slice (the set-up), starts a `changeFeed` stream on it into a memory
  * sink, and runs one fixed, seeded sequence of steps: per cycle an
  * append, an update of ~1% of rows and a pop of ~0.5%, each committed
  * and each followed by draining the feed, then a head-snapshot
  * aggregate. In the middle cycle it also commits an update on a new
  * branch and checks `main` out again, merges (stopping the feed first:
  * a change feed cannot express a merge commit), restarts the feed on
  * the merged head, diffs against the base commit and reads the
  * snapshot half-way down `main`. Episodes repeat until the window
  * ends, so every episode sees the same history depths: read cost grows
  * with history, and a fixed step count keeps runs comparable.
  */
final class VersionedWrites(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import VersionedWrites._

  private val BaseRows = 20000
  private val WarmupRows = 2000
  private val BatchRows = 400
  private val Cycles = 1
  private val SetupRepeats = 3

  private var basePath = ""
  private var warmupPath = ""
  private var batchPaths = Vector.empty[String]
  private var batchRows = Vector.empty[Long]
  private var sourceBytes = 0L
  private val lakes = mutable.Queue[String]()
  private var lakeSeq = 0
  private var feedSeq = 0

  private val plan: Vector[Step] = planFor(Cycles)
  /** The warm-up plan: one cycle, with the branch block. */
  private val warmupPlan: Vector[Step] = planFor(1)

  private def planFor(cycles: Int): Vector[Step] = {
    val rnd = new scala.util.Random(seed * 31 + cycles)
    val b = Vector.newBuilder[Step]
    b += FeedStart
    var ordinal = 0 // main commits after the base commit
    for (c <- 0 until cycles) {
      b += Append(c); b += Feed; ordinal += 1
      b += Update(rnd.nextInt(1 << 20), 100); b += Feed; ordinal += 1
      b += Pop(rnd.nextInt(1 << 20), 200); b += Feed; ordinal += 1
      b += HeadRead
      if (c == cycles / 2) {
        val name = s"b$c"
        b += BranchWrite(name, rnd.nextInt(1 << 20), 50)
        // a change feed cannot express a merge commit: the merge stops
        // the feed, as the engine prescribes, and it restarts on the
        // merged head
        b += Merge(name); ordinal += 1
        b += FeedStart
        // fixed targets, so that every seed reads the same history depth
        b += Diff(0)
        b += TimeTravel(ordinal / 2)
      }
    }
    b.result()
  }

  /** Main-branch mutations in commit order; state k = base + first k
    * (a branch write reaches `main` at the following merge). */
  private val mutations: Vector[Step] = plan.collect {
    case s: Append => s
    case s: Pop => s
    case s: Update => s
    case BranchWrite(_, salt, mod) => Update(salt, mod)
  }

  /** State index (main commits so far) before each step of `steps`. */
  private def statesBefore(steps: Vector[Step]): Vector[Int] =
    steps.scanLeft(0) { (k, s) => s match {
      case _: Append | _: Pop | _: Update | _: Merge => k + 1
      case _ => k
    }}
  private val before = statesBefore(plan)

  /** Per episode: step index -> op id. */
  private val episodes = ArrayBuffer[Map[Int, Int]]()
  /** Change-feed segments: the op holding the segment's event totals,
    * and the states the segment started and ended at. */
  private val segments = ArrayBuffer[(Int, Int, Int)]()

  def describe: Map[String, Any] = Map("base_rows" -> BaseRows,
    "batch_rows" -> BatchRows, "cycles" -> Cycles, "warmup_rows" -> WarmupRows,
    "setup_repeats" -> SetupRepeats, "steps_per_episode" -> plan.size)

  def prepare(rec: Recorder): Unit = {
    val rnd = new scala.util.Random(seed)
    val (base, next0) = Gen.lineitem(rnd, 1L, BaseRows)
    basePath = Gen.writeParquet(spark, base, Gen.lineitemSchema, s"$dir/src/base")
    warmupPath = Gen.writeParquet(spark, base.take(WarmupRows), Gen.lineitemSchema,
      s"$dir/src/warmup")
    var next = next0
    val batches = (0 until Cycles).map { c =>
      val (rows, n) = Gen.lineitem(rnd, next, BatchRows)
      next = n
      (Gen.writeParquet(spark, rows, Gen.lineitemSchema, s"$dir/src/batch$c"),
        rows.size.toLong)
    }
    batchPaths = batches.map(_._1).toVector
    batchRows = batches.map(_._2).toVector
    sourceBytes = Gen.parquetBytes(basePath) +
      batchPaths.map(p => Gen.parquetBytes(p)).sum
    // warm-up, untimed and unrecorded: a short episode on a small table
    episode(new Recorder(spark), newLake(warmupPath), warmupPlan)
    (0 until SetupRepeats).foreach(_ => lakes.enqueue(rec.setup(newLake(basePath))))
  }

  /** The set-up: a fresh table ingested from `source`. */
  private def newLake(source: String): String = {
    val root = s"$dir/lake$lakeSeq"
    lakeSeq += 1
    val ds = GraftDataset.create(spark, root, Gen.lineitemSchema)
    ds.append(spark.read.parquet(source))
    ds.commit("base")
    root
  }

  val unitMs = 9000.0

  def measure(rec: Recorder, units: Int): Unit =
    (0 until units).foreach { _ =>
      val root = if (lakes.nonEmpty) lakes.dequeue() else rec.setup(newLake(basePath))
      val (stepOps, segs) = episode(rec, root, plan)
      episodes += stepOps
      segments ++= segs
    }

  /** Run `steps` on the table at `root`; returns step -> op id and the
    * change-feed segments. Deletes the table afterwards. */
  private def episode(rec: Recorder, root: String,
                      steps: Vector[Step]): (Map[Int, Int], Seq[(Int, Int, Int)]) = {
    val before = statesBefore(steps)
    val ds = GraftDataset.load(spark, root)
    val segs = ArrayBuffer[(Int, Int, Int)]()
    val ckpts = ArrayBuffer[String]()
    var q: StreamingQuery = null
    var sink = ""
    var segStart = 0
    var lastFeedOp = -1
    def startFeed(): Unit = {
      sink = s"feed_$feedSeq"
      ckpts += s"$dir/ckpt_$feedSeq"
      feedSeq += 1
      q = spark.readStream.format("graft").option("changeFeed", "true")
        .load(root).writeStream.format("memory").queryName(sink)
        .trigger(Trigger.ProcessingTime(0L))
        .option("checkpointLocation", ckpts.last).start()
      q.processAllAvailable()
    }
    // outside the window: the finished segment's event totals
    def closeSegment(closer: Int, endState: Int): Unit = {
      val events = spark.table(sink).groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rec.lateGot(closer, feedKey(events))
      segs += ((closer, segStart, endState))
      spark.catalog.dropTempView(sink)
    }
    val stepOps = mutable.LinkedHashMap[Int, Int]()
    try steps.zipWithIndex.foreach { case (step, i) =>
      var closed = -1
      rec.op(step.kind) { h =>
        stepOps(i) = h.id
        step match {
          case Append(b) =>
            rec.span("format.stage")(ds.append(spark.read.parquet(batchPaths(b))))
            rec.span("format.commit")(ds.commit(s"append $b"))
            h.rows = batchRows(b)
          case Update(salt, mod) =>
            h.rows = rec.span("format.stage")(ds.update(pick(salt, mod), assign(salt)))
            rec.span("format.commit")(ds.commit(s"update $salt"))
          case BranchWrite(name, salt, mod) =>
            rec.span("format.branch")(ds.checkout(name, create = true))
            h.rows = rec.span("format.stage")(ds.update(pick(salt, mod), assign(salt)))
            rec.span("format.commit")(ds.commit(s"update $salt"))
            rec.span("format.load")(ds.checkout("main"))
          case Pop(salt, mod) =>
            h.rows = rec.span("format.stage")(ds.pop(pick(salt, mod)))
            rec.span("format.commit")(ds.commit(s"pop $salt"))
          case Feed =>
            lastFeedOp = h.id
            rec.span("streaming.drain")(q.processAllAvailable())
          case FeedStart =>
            rec.span("streaming.start")(startFeed())
            segStart = before(i); lastFeedOp = h.id
          case HeadRead =>
            val reader = rec.span("format.load")(GraftDataset.load(spark, root))
            val df = rec.span("format.snapshot_plan")(reader.toDF)
            h.got = rec.span("spark.action")(digest(df))
          case Merge(name) =>
            rec.span("streaming.stop")(q.stop())
            closed = h.id
            rec.span("format.merge")(ds.merge(name))
          case Diff(target) =>
            val log = rec.span("format.log")(ds.log)
            val df = rec.span("format.snapshot_plan")(ds.diff(log.reverse(target + 1).id))
            h.rows = rec.span("spark.action")(df.count())
          case TimeTravel(target) =>
            val log = rec.span("format.log")(ds.log)
            val df = rec.span("format.snapshot_plan")(ds.snapshotAt(log.reverse(target + 1).id))
            h.got = rec.span("spark.action")(digest(df))
        }
      }
      if (closed >= 0) closeSegment(closed, before(i))
    } finally if (q != null) q.stop()
    if (lastFeedOp >= 0) closeSegment(lastFeedOp, before.last)
    rec.footprints += Gen.diskBytes(root).toDouble / sourceBytes
    if (rec.isTracing) {
      val head = ds.head.get
      rec.sample("format.manifest_bytes_last",
        Gen.diskBytes(s"$root/_graft/commits/$head.json").toDouble)
      rec.sample("format.meta_bytes", (Gen.diskBytes(s"$root/_graft") -
        Gen.diskBytes(s"$root/_graft/indexes")).toDouble)
      val m = CommitLog.readCommit(spark, root, head)
      rec.sample("format.data_files",
        (m.files.size + m.updates.size + m.tombstones.size).toDouble)
    }
    Gen.deleteTree(root)
    ckpts.foreach(Gen.deleteTree)
    (stepOps.toMap, segs.toSeq)
  }

  def check(rec: Recorder): Unit = {
    // the same steps replayed with plain Spark on the source parquet;
    // each state is cached, so the next one is one step from it
    val states = mutable.HashMap[Int, DataFrame]()
    def state(k: Int): DataFrame = states.getOrElseUpdate(k, (
      if (k == 0) spark.read.parquet(basePath)
      else mutations(k - 1) match {
        case Append(b) => state(k - 1).unionByName(spark.read.parquet(batchPaths(b)))
        case Update(salt, mod) =>
          assign(salt).foldLeft(state(k - 1).withColumn("_hit", pick(salt, mod))) {
            case (df, (c, v)) => df.withColumn(c,
              when(col("_hit"), v).otherwise(col(c)).cast(Gen.lineitemSchema(c).dataType))
          }.drop("_hit")
        case Pop(salt, mod) => state(k - 1).filter(!pick(salt, mod))
        case other => throw new IllegalStateException(s"not a mutation: $other")
      }).cache())
    val digests = mutable.HashMap[Int, String]()
    def want(k: Int): String = digests.getOrElseUpdate(k, digest(state(k)))
    val counts = mutable.HashMap[Int, Long]()
    def count(k: Int): Long = counts.getOrElseUpdate(k, state(k).count())
    val touched = mutable.HashMap[Int, Long]()
    // rows mutation k (0-based) changes, counted on the state it applies to
    def changed(k: Int, salt: Int, mod: Int): Long =
      touched.getOrElseUpdate(k, state(k).filter(pick(salt, mod)).count())
    // a feed segment's events: its start state as inserts, then one
    // event per row of each mutation it saw
    def feedWant(from: Int, to: Int): String = {
      var inserts = count(from)
      var updates = 0L
      var deletes = 0L
      (from until to).foreach { k => mutations(k) match {
        case Append(b) => inserts += batchRows(b)
        case Update(salt, mod) => updates += changed(k, salt, mod)
        case Pop(salt, mod) => deletes += changed(k, salt, mod)
        case _ => ()
      }}
      feedKey(Map("insert" -> inserts, "update_postimage" -> updates, "delete" -> deletes))
    }
    episodes.foreach { stepOps =>
      stepOps.foreach { case (i, opId) => plan(i) match {
        case HeadRead => rec.expect(opId, "equal", want(before(i)))
        case TimeTravel(t) => rec.expect(opId, "equal", want(t))
        case _ => ()
      }}
    }
    segments.foreach { case (closer, from, to) =>
      rec.expect(closer, "equal", feedWant(from, to))
    }
    states.values.foreach(_.unpersist())
  }
}

object VersionedWrites {
  sealed trait Step { def kind: String }
  final case class Append(batch: Int) extends Step { def kind = "append" }
  final case class Update(salt: Int, mod: Int) extends Step { def kind = "update" }
  /** Create branch `name`, commit an update on it, check `main` out
    * again; the update reaches `main` through the following [[Merge]]. */
  final case class BranchWrite(name: String, salt: Int, mod: Int) extends Step {
    def kind = "branch_write"
  }
  final case class Pop(salt: Int, mod: Int) extends Step { def kind = "pop" }
  case object Feed extends Step { def kind = "feed" }
  case object FeedStart extends Step { def kind = "feed_start" }
  case object HeadRead extends Step { def kind = "head_read" }
  /** Stop the change feed, then merge branch `name` into `main`. */
  final case class Merge(name: String) extends Step { def kind = "merge" }
  final case class Diff(target: Int) extends Step { def kind = "diff" }
  final case class TimeTravel(target: Int) extends Step { def kind = "time_travel" }

  /** Rows whose (order, line) hash lands in bucket 0 of `mod`. */
  def pick(salt: Int, mod: Int): Column =
    pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(salt)), lit(mod.toLong)) === 0

  def assign(salt: Int): Map[String, Column] = Map(
    "l_extendedprice" -> (col("l_extendedprice") + lit(new java.math.BigDecimal("1.00"))),
    "l_quantity" -> (col("l_quantity") + lit(new java.math.BigDecimal("1.00"))),
    "l_comment" -> lit(s"revised $salt"))

  /** Row count plus exact decimal sums and a content hash sum. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(col("l_extendedprice")),
      sum(col("l_quantity")),
      sum(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_comment")).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}"
  }

  def feedKey(events: Map[String, Long]): String =
    Seq("insert", "update_postimage", "delete")
      .map(k => s"$k=${events.getOrElse(k, 0L)}").mkString("|")
}
