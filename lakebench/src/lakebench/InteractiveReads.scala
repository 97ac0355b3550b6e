package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.format.GraftDataset
import graft.operators.Cond

/** `interactive_reads`: one client sending a seeded mix of reads to a
  * lake built during set-up, with no writes in the timed window.
  *
  * The mix, sent in whole fixed cycles: point reads by key, a selective
  * `filterVectorized`,
  * `textSearch` with AND / OR terms drawn from the corpus vocabulary,
  * top-10 `vectorSearch` through an IVF index pinned in memory with
  * `loadVectorIndex`, the same through an HNSW index read from its
  * parquet artifacts on every query, and a snapshot aggregate. Every
  * read except the pinned IVF search opens the table afresh
  * (`GraftDataset.load`), as an independent reader resolves the head.
  */
final class InteractiveReads(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import InteractiveReads._

  private val Rows = 2000
  private val VocabSize = 800
  private val Categories = 20
  private val Centers = 24
  private val Nlist = 16
  private val Nprobe = 4
  private val SetupRepeats = 2
  private val WarmupQueries = 10
  private val K = 10

  private var sourcePath = ""
  private var sourceBytes = 0L
  private var vocab = Vector.empty[String]
  private var queries = Vector.empty[Query]
  private var root = ""
  private var serving: GraftDataset = _
  private val sent = ArrayBuffer[(Int, Int)]() // (op id, query index)

  def describe: Map[String, Any] = Map("rows" -> Rows, "vocabulary" -> VocabSize,
    "categories" -> Categories, "dim" -> Gen.Dim, "centers" -> Centers,
    "ivf_nlist" -> Nlist, "ivf_nprobe" -> Nprobe, "k" -> K,
    "setup_repeats" -> SetupRepeats, "warmup_queries" -> WarmupQueries,
    "cycle" -> Cycle)

  def prepare(rec: Recorder): Unit = {
    val rnd = new scala.util.Random(seed)
    vocab = Gen.vocabulary(rnd, VocabSize)
    val zipf = new Gen.Zipf(VocabSize)
    val cents = Gen.centers(rnd, Centers)
    val rows = (0 until Rows).map { i =>
      val text = Seq.fill(12 + rnd.nextInt(19))(vocab(zipf.sample(rnd))).mkString(" ")
      val v = Gen.near(rnd, cents(rnd.nextInt(Centers)), 0.35)
      Row(i.toLong, rnd.nextInt(Categories),
        java.math.BigDecimal.valueOf(100L + rnd.nextInt(99900), 2), text, v.toSeq, v.toSeq)
    }
    sourcePath = Gen.writeParquet(spark, rows, Schema, s"$dir/src/corpus")
    sourceBytes = Gen.parquetBytes(sourcePath)
    queries = Vector.tabulate(Cycle.size * 100) { i =>
      Cycle(i % Cycle.size) match {
        case "point_read" => Point(rnd.nextInt(Rows).toLong)
        case "filter" => Filter(rnd.nextInt(Categories),
          java.math.BigDecimal.valueOf(100L + rnd.nextInt(99900), 2))
        case "text_search" =>
          // ranks 3..120: each term is in about 2% to 60% of the docs
          val a = vocab(3 + rnd.nextInt(117))
          val b = vocab(3 + rnd.nextInt(117))
          Text(if (rnd.nextBoolean()) s"$a $b" else s"$a||$b")
        case "vector_search_ivf" =>
          Ivf(Gen.near(rnd, cents(rnd.nextInt(Centers)), 0.35))
        case "vector_search_hnsw" =>
          Hnsw(Gen.near(rnd, cents(rnd.nextInt(Centers)), 0.35))
        case _ => Aggregate
      }
    }
    // set-up, repeated; after the first, a few untimed and unrecorded
    // queries warm the read paths up
    (0 until SetupRepeats).foreach { i =>
      if (root.nonEmpty) { serving.unloadVectorIndex("emb"); Gen.deleteTree(root) }
      root = s"$dir/lake$i"
      serving = rec.setup(build(root, sourcePath))
      if (i == 0) {
        val warm = new Recorder(spark)
        queries.take(WarmupQueries).foreach(q => warm.op(q.kind)(_ => run(warm, q)))
      }
    }
    rec.footprints += Gen.diskBytes(root).toDouble / sourceBytes
  }

  /** The set-up: ingest, build the three indexes, pin the IVF one. */
  private def build(r: String, source: String): GraftDataset = {
    val ds = GraftDataset.create(spark, r, Schema)
    ds.append(spark.read.parquet(source))
    ds.commit("load corpus")
    ds.createIndexVectorized("text")
    ds.createVectorIndex("emb", nlist = Nlist)
    ds.createVectorIndex("emb_h", indexType = "HNSW", metric = "cosine")
    ds.loadVectorIndex("emb")
    // fill the pinned copy before timing: its first use materializes it
    ds.vectorSearch("emb", Seq.fill(Gen.Dim)(1.0f), K, nprobe = Nprobe).collect()
    ds
  }

  val unitMs = 5000.0

  def measure(rec: Recorder, units: Int): Unit = {
    if (rec.isTracing) {
      rec.sample("format.meta_bytes", (Gen.diskBytes(s"$root/_graft") -
        Gen.diskBytes(s"$root/_graft/indexes")).toDouble)
      rec.sample("format.manifest_bytes_last",
        Gen.diskBytes(s"$root/_graft/commits/${serving.head.get}.json").toDouble)
      val m = graft.format.CommitLog.readCommit(spark, root, serving.head.get)
      rec.sample("format.data_files",
        (m.files.size + m.updates.size + m.tombstones.size).toDouble)
    }
    var i = 0
    (0 until units).foreach { _ =>
      (0 until Cycle.size).foreach { _ =>
        val qi = i % queries.size
        val q = queries(qi)
        rec.op(q.kind) { h =>
          sent += ((h.id, qi))
          h.got = run(rec, q)
        }
        i += 1
      }
    }
  }

  private def open(rec: Recorder): GraftDataset =
    rec.span("format.load")(GraftDataset.load(spark, root))

  private def run(rec: Recorder, q: Query): Any = q match {
    case Point(id) =>
      val df = rec.span("format.snapshot_plan")(open(rec).toDF)
      val rows = rec.span("spark.action")(df.filter(col("id") === id).collect())
      rows.map(rowKey).mkString(";")
    case Filter(c, p) =>
      val ds = open(rec)
      rec.span("operators.filter")(idDigest(ds.filterVectorized(
        Seq(Cond("category", "==", c), Cond("price", ">", p)), Seq("AND"))))
    case Text(query) =>
      val ds = open(rec)
      rec.span("operators.text_search")(idDigest(ds.textSearch("text", query)))
    case Ivf(v) =>
      rec.span("operators.vector_search.ivf")(serving.vectorSearch("emb", v.toSeq, K,
        nprobe = Nprobe).collect()).map(_.getAs[Double]("score")).toSeq
    case Hnsw(v) =>
      val ds = open(rec)
      rec.span("operators.vector_search.hnsw")(ds.vectorSearch("emb_h", v.toSeq, K)
        .collect()).map(_.getAs[Double]("score")).toSeq
    case Aggregate =>
      val df = rec.span("format.snapshot_plan")(open(rec).toDF)
      rec.span("spark.action")(df.groupBy("category")
        .agg(count(lit(1)), sum("price")).collect())
        .map(r => s"${r.getInt(0)}:${r.getLong(1)}:${r.get(2)}").sorted.mkString(";")
  }

  def check(rec: Recorder): Unit = {
    // expected answers from the source parquet read with plain Spark
    val src = spark.read.parquet(sourcePath).collect()
    val byId = src.map(r => r.getLong(0) -> r).toMap
    def vec(r: Row, c: Int): Array[Float] = r.getSeq[Float](c).toArray
    def exactTop(v: Array[Float]): Seq[Double] =
      src.map(r => Gen.cosine(v, vec(r, 4))).sortBy(-_).take(K).toSeq
    def idSet(p: Row => Boolean): String = {
      val hit = src.filter(p)
      s"${hit.length}|${hit.map(_.getLong(0)).sum}"
    }
    def tokens(r: Row): Set[String] = r.getString(3).split(" ").filter(_.nonEmpty).toSet
    sent.foreach { case (opId, qi) => queries(qi) match {
      case Point(id) => rec.expect(opId, "equal", byId.get(id).map(rowKey).getOrElse(""))
      case Filter(c, p) => rec.expect(opId, "equal",
        idSet(r => r.getInt(1) == c && r.getDecimal(2).compareTo(p) > 0))
      case Text(query) =>
        val alts = query.split("\\|\\|").map(_.split(" ").filter(_.nonEmpty).toSet)
        rec.expect(opId, "equal", idSet(r => { val t = tokens(r); alts.exists(_.subsetOf(t)) }))
      case Ivf(v) => rec.expect(opId, "recall_scores", exactTop(v), RecallRule)
      case Hnsw(v) => rec.expect(opId, "recall_scores", exactTop(v), RecallRule)
      case Aggregate => rec.expect(opId, "equal",
        src.groupBy(_.getInt(1)).toSeq.map { case (c, rs) =>
          s"$c:${rs.length}:${rs.map(_.getDecimal(2)).reduce(_ add _)}"
        }.sorted.mkString(";"))
    }}
  }
}

object InteractiveReads {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("category", IntegerType, nullable = false),
    StructField("price", DecimalType(12, 2), nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(FloatType), nullable = false),
    StructField("emb_h", ArrayType(FloatType), nullable = false)))

  /** The operation kinds in the fixed order every seed sends them:
    * 20% point reads, 20% text searches, 20% IVF and 20% HNSW searches,
    * 10% filters, 10% aggregates. Only the operands come from the seed,
    * and the window holds whole cycles, so every run sees the same mix. */
  val Cycle: Vector[String] = Vector("point_read", "text_search",
    "vector_search_ivf", "vector_search_hnsw", "filter", "point_read",
    "text_search", "vector_search_ivf", "vector_search_hnsw",
    "snapshot_aggregate")

  /** A top-k answer passes when at least half its hits score at or
    * above the exact k-th score; the recall itself is reported. */
  val RecallRule: Map[String, Any] = Map("k" -> 10, "min_recall" -> 0.5, "eps" -> 1e-4)

  sealed trait Query { def kind: String }
  final case class Point(id: Long) extends Query { def kind = "point_read" }
  final case class Filter(category: Int, price: java.math.BigDecimal) extends Query {
    def kind = "filter"
  }
  final case class Text(query: String) extends Query { def kind = "text_search" }
  final case class Ivf(v: Array[Float]) extends Query { def kind = "vector_search_ivf" }
  final case class Hnsw(v: Array[Float]) extends Query { def kind = "vector_search_hnsw" }
  case object Aggregate extends Query { def kind = "snapshot_aggregate" }

  def rowKey(r: Row): String =
    s"${r.getAs[Long]("id")}|${r.getAs[Int]("category")}|" +
      s"${r.getAs[java.math.BigDecimal]("price")}|${r.getAs[String]("text")}"

  def idDigest(df: org.apache.spark.sql.DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
    s"${r.getLong(0)}|${r.getLong(1)}"
  }
}
