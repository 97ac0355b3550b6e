package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.format.GraftDataset
import graft.operators.{Dedup, Hnsw, InvertedIndex, KnnJoin}

/** A repeated engine operation reuses its generated code: the second
  * round of each family, on fresh inputs of the same shape, compiles no
  * class. Catches a generated-code cache smaller than the working set,
  * a per-call value inlined into a plan as a literal, and a per-query
  * classloader (which keys the cache apart).
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Classes Janino compiled so far, JVM-wide (local executors share the
    * driver's CodeGenerator). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled per family, summed over the blocks [[step]] ran. */
  private final class Tally {
    val compiled = mutable.LinkedHashMap[String, Long]()
    def step(family: String)(body: => Any): Unit = {
      val c0 = compiles
      body
      compiled(family) = compiled.getOrElse(family, 0L) + compiles - c0
    }
  }

  /** Runs `round` twice (round index, tally); returns family -> classes
    * compiled in the second round. */
  private def secondRound(round: (Int, Tally) => Unit): Map[String, Long] = {
    round(0, new Tally)
    val t = new Tally
    round(1, t)
    t.compiled.toMap
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType),
    StructField("v", StringType)))

  /** `n` seeded rows from id `from`, read back from parquet: a plan over
    * a local relation is not whole-stage generated, so it would hide a
    * literal the write stage inlines. */
  private def rowsFor(seed: Int, from: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val path = tmpDir(s"cg_rows$seed") + "/r"
    (from until from + n).map(i => (i, rnd.nextInt(10), s"v${rnd.nextInt(1000)}"))
      .toDF("id", "k", "v").write.parquet(path)
    spark.read.parquet(path)
  }

  test("versioning families compile nothing the second time") {
    val second = secondRound { (i, t) =>
      import t.step
      val ds = GraftDataset.create(spark, tmpDir(s"cg_ver$i"), schema)
      step("append")(ds.append(rowsFor(i, 0, 200)))
      step("commit")(ds.commit("base"))
      val base = ds.head.get
      step("append")(ds.append(rowsFor(i + 10, 200, 20)))
      step("commit")(ds.commit("append"))
      step("update")(ds.update(col("k") === 3, Map("v" -> lit("upd"))))
      step("commit")(ds.commit("update"))
      step("pop")(ds.pop(col("k") === 5))
      step("commit")(ds.commit("pop"))
      step("applyChanges") {
        val replica = GraftDataset.create(spark, tmpDir(s"cg_rep$i"), schema)
        replica.applyChanges(ds.changes())
        replica.commit("replicated")
      }
      step("branch") {
        ds.checkout("dev", create = true)
        ds.update(col("k") === 7, Map("v" -> lit("dev")))
        ds.commit("dev update")
        ds.checkout("main")
      }
      step("merge")(ds.merge("dev"))
      step("diff")(ds.diff(base).collect())
      step("snapshotAt")(ds.snapshotAt(base).collect())
      step("toDF")(ds.toDF.collect())
    }
    assert(second.values.forall(_ == 0L), s"classes compiled: $second")
  }

  test("a second change-feed query compiles nothing") {
    val second = secondRound { (i, t) =>
      import t.step
      val root = tmpDir(s"cg_feed$i")
      val ds = GraftDataset.create(spark, root, schema)
      ds.append(rowsFor(i, 0, 200)); ds.commit("base")
      val q = spark.readStream.format("graft").option("changeFeed", "true")
        .load(root).writeStream.format("memory").queryName(s"cg_feed$i")
        .trigger(Trigger.ProcessingTime(0L))
        .option("checkpointLocation", tmpDir(s"cg_ckpt$i")).start()
      try {
        step("start")(q.processAllAvailable())
        ds.update(col("k") === 3, Map("v" -> lit("upd"))); ds.commit("update")
        step("drain update")(q.processAllAvailable())
        ds.pop(col("k") === 5); ds.commit("pop")
        step("drain pop")(q.processAllAvailable())
      } finally q.stop()
      spark.catalog.dropTempView(s"cg_feed$i")
    }
    assert(second.values.forall(_ == 0L), s"classes compiled: $second")
  }

  test("two appends to one table: the second compiles nothing") {
    val ds = GraftDataset.create(spark, tmpDir("cg_append"), schema)
    ds.append(rowsFor(1, 0, 100)); ds.commit("first")
    val c0 = compiles
    ds.append(rowsFor(2, 100, 100))
    assert(compiles - c0 == 0L, "the second append's reservation compiled")
    ds.commit("second")
    val uuids = ds.snapshotWithUuid().select(GraftDataset.UuidCol).as[Long]
      .collect()
    assert(uuids.distinct.length == 200)
  }

  private val corpusSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("emb", ArrayType(FloatType))))

  /** 200 docs of 12 words, every tenth a one-word edit of an earlier
    * doc, with 8-d vectors around 4 centres; written as parquet. */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val texts = mutable.ArrayBuffer[Array[String]]()
    (0 until 200).foreach { i =>
      texts += (if (i % 10 == 9) {
        val t = texts(rnd.nextInt(i)).clone()
        t(rnd.nextInt(t.length)) = s"w${rnd.nextInt(300)}"; t
      } else Array.fill(12)(s"w${rnd.nextInt(300)}"))
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t.mkString(" "),
        Seq.tabulate(8)(d => (i % 4 * 3 + d % 2 + rnd.nextGaussian() * 0.3).toFloat))
    }
    val path = tmpDir(s"cg_corpus$seed") + "/c"
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), corpusSchema)
      .write.parquet(path)
    spark.read.parquet(path)
  }

  test("operator families compile nothing the second time") {
    val second = secondRound { (i, t) =>
      import t.step
      val df = corpus(100 + i)
      step("minHashLsh")(Dedup.minHashLsh(df, "text", "id").collect())
      step("simHashNearDup")(Dedup.simHashNearDup(df, "text", "id", 3).collect())
      val hnsw = tmpDir(s"cg_hnsw$i") + "/g"
      step("Hnsw.build")(Hnsw.build(df, "emb", "id", clustered = true)
        .write.parquet(hnsw))
      step("InvertedIndex.build")(InvertedIndex.build(df, "text", "id").collect())
      step("KnnJoin.hnsw")(KnnJoin.hnsw(spark.read.parquet(hnsw), df, "id",
        "emb", 5).collect())
    }
    assert(second.values.forall(_ == 0L), s"classes compiled: $second")
  }

  test("the cache holds more than Spark's default 100 classes") {
    def plan(i: Int): Array[Row] =
      spark.range(4).select((col("id") * lit(i.toLong + 2)).as("x")).collect()
    val c0 = compiles
    (0 until 150).foreach(plan)
    assert(compiles - c0 > 100, "the distinct plans did not fill 100 entries")
    // the first plan's classes are the least recently used: a 100-entry
    // cache evicted them; the cache sized by Tables.requiredConfs did not
    val c1 = compiles
    plan(0)
    assert(compiles - c1 == 0L)
  }
}
