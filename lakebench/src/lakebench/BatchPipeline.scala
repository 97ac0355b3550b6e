package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.format.GraftDataset
import graft.operators.{Dedup, Hnsw, InvertedIndex, KnnJoin}

/** `batch_pipeline`: one data-preparation pipeline repeated over a
  * seeded corpus with planted near-duplicates and clustered vectors.
  *
  * Each pass ingests the corpus into a fresh table, runs MinHash-LSH and
  * SimHash near-duplicate detection, builds an HNSW index and an
  * inverted index, and runs a k-NN self-join through the HNSW index.
  * Per-task operator CPU and shuffle dominate; driver metadata is small.
  */
final class BatchPipeline(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import BatchPipeline._

  private val Docs = 2000
  private val Words = 30
  private val VocabSize = 5000
  private val DupEvery = 10
  private val Centers = 32
  private val SetupRepeats = 5
  private val WarmupDocs = 300
  private val WarmupPasses = 1
  private val K = 10
  private val CheckedQueries = 50
  private val SimHashMaxHamming = 3

  private var sourcePath = ""
  private var sourceBytes = 0L
  private var rows = Vector.empty[Row]
  private var planted = Vector.empty[(Long, Long)]
  private var sampled = Vector.empty[Long]
  private var passes = 0
  private val sent = ArrayBuffer[(Int, String)]() // (op id, kind)

  def describe: Map[String, Any] = Map("docs" -> Docs, "words" -> Words,
    "vocabulary" -> VocabSize, "dup_every" -> DupEvery, "dim" -> Gen.Dim,
    "centers" -> Centers, "k" -> K, "setup_repeats" -> SetupRepeats, "warmup_docs" -> WarmupDocs,
    "warmup_passes" -> WarmupPasses,
    "simhash_max_hamming" -> SimHashMaxHamming)

  def prepare(rec: Recorder): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = Gen.vocabulary(rnd, VocabSize)
    val cents = Gen.centers(rnd, Centers)
    val texts = ArrayBuffer[Array[String]]()
    val pairs = Vector.newBuilder[(Long, Long)]
    val used = scala.collection.mutable.HashSet[Int]()
    // Seeds change the content, not the shape: the planted pairs sit at
    // fixed positions and the clusters are equal in size, so that every
    // seed does about the same work.
    while (texts.size < Docs) {
      val i = texts.size
      // every tenth doc is a planted near-duplicate: one word of an
      // earlier original (never itself a copy, never copied twice) replaced
      if (i % DupEvery == DupEvery - 1) {
        var orig = rnd.nextInt(i)
        while (used.contains(orig)) orig = rnd.nextInt(i)
        used += orig; used += i
        val t = texts(orig).clone()
        t(rnd.nextInt(Words)) = vocab(rnd.nextInt(VocabSize))
        texts += t
        pairs += ((orig.toLong, i.toLong))
      } else texts += Array.fill(Words)(vocab(rnd.nextInt(VocabSize)))
    }
    planted = pairs.result()
    rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t.mkString(" "), Gen.near(rnd, cents(i % Centers), 0.35).toSeq)
    }.toVector
    sampled = Vector.fill(CheckedQueries)(rnd.nextInt(Docs).toLong).distinct
    // warm-up, untimed and unrecorded: passes over a small corpus
    val warmup = Gen.writeParquet(spark, rows.take(WarmupDocs), Schema, s"$dir/src/warmup")
    (0 until WarmupPasses).foreach(_ => pass(new Recorder(spark), warmup, WarmupDocs, ArrayBuffer()))
    (0 until SetupRepeats).foreach { _ =>
      sourcePath = rec.setup(Gen.writeParquet(spark, rows, Schema, s"$dir/src/corpus"))
    }
    sourceBytes = Gen.parquetBytes(sourcePath)
  }

  val unitMs = 6250.0

  def measure(rec: Recorder, units: Int): Unit =
    (0 until units).foreach(_ => pass(rec, sourcePath, Docs, sent))

  /** One pass over the `docs`-row corpus at `source`; appends (op id,
    * kind) of each operation to `log`. */
  private def pass(rec: Recorder, source: String, docs: Long,
                   log: ArrayBuffer[(Int, String)]): Unit = {
    val root = s"$dir/pass$passes"
    passes += 1
    var ds: GraftDataset = null
    def op(kind: String)(body: OpHandle => Any): Unit =
      rec.op(kind) { h => log += ((h.id, kind)); h.got = body(h) }
    op("ingest") { h =>
      ds = rec.span("format.stage") {
        val d = GraftDataset.create(spark, root, Schema)
        d.append(spark.read.parquet(source))
        d
      }
      rec.span("format.commit")(ds.commit("ingest"))
      h.rows = docs
      null
    }
    op("dedup_minhash") { _ =>
      rec.span("operators.dedup")(pairKeys(
        Dedup.minHashLsh(ds.toDF, "text", "id").collect()))
    }
    op("dedup_simhash") { _ =>
      rec.span("operators.dedup")(pairKeys(
        Dedup.simHashNearDup(ds.toDF, "text", "id", SimHashMaxHamming).collect()))
    }
    op("vector_index_build") { _ =>
      rec.span("operators.vector_index_build")(Hnsw.build(ds.toDF, "emb", "id",
        clustered = true).write.parquet(s"$root/_hnsw"))
      null
    }
    op("text_index_build") { _ =>
      rec.span("operators.text_index_build")(InvertedIndex.save(
        InvertedIndex.build(ds.toDF, "text", "id"), s"$root/_postings"))
      null
    }
    op("knn_join") { h =>
      val hits = rec.span("operators.knn_join")(KnnJoin.hnsw(
        spark.read.parquet(s"$root/_hnsw"), ds.toDF, "id", "emb", K)
        .select("query_id", "ext_id").collect())
      h.rows = hits.length
      val byQuery = hits.groupBy(_.getLong(0))
      sampled.map(q => byQuery.getOrElse(q, Array.empty[Row]).map(_.getLong(1)).toSeq)
    }
    rec.footprints += Gen.diskBytes(root).toDouble / sourceBytes
    if (rec.isTracing && ds != null) {
      rec.sample("format.meta_bytes", Gen.diskBytes(s"$root/_graft").toDouble)
      rec.sample("format.manifest_bytes_last",
        Gen.diskBytes(s"$root/_graft/commits/${ds.head.get}.json").toDouble)
      val m = graft.format.CommitLog.readCommit(spark, root, ds.head.get)
      rec.sample("format.data_files",
        (m.files.size + m.updates.size + m.tombstones.size).toDouble)
    }
    Gen.deleteTree(root)
  }

  def check(rec: Recorder): Unit = {
    val src = spark.read.parquet(sourcePath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    lazy val exact: Seq[Seq[Long]] = sampled.map { q =>
      val v = src(q)
      src.toSeq.map { case (id, w) => (Gen.l2sq(v, w), id) }.sorted.take(K).map(_._2)
    }
    val plantedKeys = planted.map { case (a, b) => s"$a:$b" }
    sent.foreach { case (opId, kind) => kind match {
      case "dedup_minhash" => rec.expect(opId, "pairs", plantedKeys,
        Map("min_recall" -> 0.9, "min_precision" -> 0.9))
      case "dedup_simhash" => rec.expect(opId, "pairs", plantedKeys,
        Map("min_recall" -> 0.5, "min_precision" -> 0.6))
      case "knn_join" => rec.expect(opId, "recall_ids", exact,
        Map("k" -> K, "min_recall" -> 0.8))
      case _ => ()
    }}
  }
}

object BatchPipeline {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(FloatType), nullable = false)))

  /** Pairs as sorted `a:b` keys with a < b. */
  def pairKeys(rs: Array[Row]): Seq[String] =
    rs.map { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      s"${math.min(a, b)}:${math.max(a, b)}"
    }.distinct.sorted.toSeq
}
