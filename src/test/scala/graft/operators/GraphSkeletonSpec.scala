package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the graph-index skeleton ([[GraphIndex]]) to the per-family
  * Spark paths it replaced, ROW FOR ROW, in the [[GraphEquivalenceSpec]]
  * pattern. For both families, built clustered and round-robin, every
  * search entry — `topK` (colocated or not), `batchTopK`,
  * `topKPersisted` and `batchTopKPersisted` on the part-partitioned and
  * the plain layout at `probeParts` 0 and 2 with and without caller
  * centroids, and the family's [[KnnJoin]] entry — runs on a fixed
  * corpus. Each case's rows (query_id, ext_id, the l2sq bits, rank) are
  * digested and compared with the digest the pre-skeleton code produced
  * for the same case. A mismatch lists every failing case with its
  * actual digest.
  */
class GraphSkeletonSpec extends SparkSpec {
  import spark.implicits._

  private type Cents = Array[(Int, Array[Float])]
  private val dim = 8
  private val clusters = 6
  private val perCluster = 50
  private val k = 8

  private def center(c: Int): Array[Float] =
    Array.tabulate(dim)(d => if (d == c % dim) 3.0f else 0.0f)

  /** Deterministic corpus: `clusters` overlapping blobs, murmur-mixed
    * noise wider than their spread, so the small-beam walks and the
    * routed probes below answer approximately and any drift in shard
    * layout, routing or merge order changes some case's rows. */
  private lazy val corpus: DataFrame = {
    val rows = for {
      c <- 0 until clusters
      i <- 0 until perCluster
    } yield {
      val v = center(c).zipWithIndex.map { case (x, d) =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
          .hashInt(c * 7919 + i * 131 + d, 42)
        x + (h % 1000) / 250.0f
      }
      ((c * perCluster + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "emb")
  }

  private val queries: Seq[(Long, Seq[Float])] = (0 until 8).map { q =>
    (q.toLong, Array.tabulate(dim) { d =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(q * 31 + d, 7)
      (h % 1000) / 250.0f
    }.toSeq)
  }
  private val query: Seq[Float] = queries.head._2
  private lazy val qdf = queries.toDF("qid", "qv")

  /** One family's entries at the spec's fixed parameters. */
  private trait Entries {
    def name: String
    def centroidNode: Int
    def build(clustered: Boolean): DataFrame
    def topK(idx: DataFrame, colocated: Boolean, probe: Int,
             cents: Cents): DataFrame
    def batchTopK(idx: DataFrame, colocated: Boolean, probe: Int,
                  cents: Cents): DataFrame
    def topKPersisted(path: String, probe: Int, cents: Cents): DataFrame
    def batchTopKPersisted(path: String, probe: Int, cents: Cents): DataFrame
    def join(idx: DataFrame, probe: Int, cents: Cents): DataFrame
  }

  private object HnswEntries extends Entries {
    val name = "hnsw"
    val centroidNode: Int = Hnsw.CentroidNode
    def build(clustered: Boolean): DataFrame =
      Hnsw.build(corpus, "emb", "vec_id", numPartitions = clusters, m = 3,
        efConstruction = 8, clustered = clustered)
    def topK(idx: DataFrame, colocated: Boolean, probe: Int,
             cents: Cents): DataFrame =
      Hnsw.topK(idx, query, k, ef = 4, colocated = colocated,
        probeParts = probe, centroids = cents)
    def batchTopK(idx: DataFrame, colocated: Boolean, probe: Int,
                  cents: Cents): DataFrame =
      Hnsw.batchTopK(idx, queries, k, ef = 4, colocated = colocated,
        probeParts = probe, centroids = cents)
    def topKPersisted(path: String, probe: Int, cents: Cents): DataFrame =
      Hnsw.topKPersisted(spark, path, query, k, ef = 4,
        probeParts = probe, centroids = cents)
    def batchTopKPersisted(path: String, probe: Int,
                           cents: Cents): DataFrame =
      Hnsw.batchTopKPersisted(spark, path, queries, k, ef = 4,
        probeParts = probe, centroids = cents)
    def join(idx: DataFrame, probe: Int, cents: Cents): DataFrame =
      KnnJoin.hnsw(idx, qdf, "qid", "qv", k, ef = 4, probeParts = probe,
        centroids = cents)
  }

  private object VamanaEntries extends Entries {
    val name = "vamana"
    val centroidNode: Int = Vamana.CentroidNode
    def build(clustered: Boolean): DataFrame =
      Vamana.build(corpus, "emb", "vec_id", numPartitions = clusters,
        r = 4, buildBeam = 8, pqM = 4, pqK = 4, clustered = clustered)
    def topK(idx: DataFrame, colocated: Boolean, probe: Int,
             cents: Cents): DataFrame =
      Vamana.topK(idx, query, k, beam = 4, rerank = 8,
        colocated = colocated, probeParts = probe, centroids = cents)
    def batchTopK(idx: DataFrame, colocated: Boolean, probe: Int,
                  cents: Cents): DataFrame =
      // rerank 0 on the shuffled form: the exact-distance walk
      Vamana.batchTopK(idx, queries, k, beam = 4,
        rerank = if (colocated) 8 else 0, colocated = colocated,
        probeParts = probe, centroids = cents)
    def topKPersisted(path: String, probe: Int, cents: Cents): DataFrame =
      Vamana.topKPersisted(spark, path, query, k, beam = 4, rerank = 8,
        probeParts = probe, centroids = cents)
    def batchTopKPersisted(path: String, probe: Int,
                           cents: Cents): DataFrame =
      Vamana.batchTopKPersisted(spark, path, queries, k, beam = 4,
        rerank = 8, probeParts = probe, centroids = cents)
    def join(idx: DataFrame, probe: Int, cents: Cents): DataFrame =
      KnnJoin.vamana(idx, qdf, "qid", "qv", k, beam = 4, rerank = 8,
        probeParts = probe, centroids = cents)
  }

  /** (query_id, ext_id, l2sq bits, rank) per row, in output order — a
    * single-query frame is (ext_id, l2sq), ranked by position — hashed. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().toSeq
    val lines = rows.zipWithIndex.map { case (r, i) =>
      if (r.length == 2)
        s"0,${r.getLong(0)},${bits(r.getDouble(1))},${i + 1}"
      else s"${r.getLong(0)},${r.getLong(1)},${bits(r.getDouble(2))},${r.get(3)}"
    }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s"$sha/${rows.size}"
  }
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def cases(e: Entries, clustered: Boolean): Seq[(String, DataFrame)] = {
    val idx = e.build(clustered)
    val parts = tmpDir("skel") + "/g"
    idx.write.partitionBy("part").parquet(parts)
    val plain = tmpDir("skel") + "/g"
    idx.write.parquet(plain)
    // caller centroids: the index's own on a clustered build (the format
    // layer's routing artifact), the blob centers on a round-robin one
    val cents: Cents =
      if (clustered) GraphRouting.centroidsOf(idx, e.centroidNode)
      else Array.tabulate(clusters)(c => (c, center(c)))
    val none: Cents = Array.empty
    val direct = Seq(
      "topK/colocated" -> e.topK(idx, true, 0, none),
      "topK/shuffled" -> e.topK(idx, false, 0, none),
      "topK/p2" -> e.topK(idx, true, 2, none),
      "topK/p2/centroids" -> e.topK(idx, false, 2, cents),
      "batchTopK/colocated" -> e.batchTopK(idx, true, 0, none),
      "batchTopK/shuffled/p2" -> e.batchTopK(idx, false, 2, none),
      "batchTopK/p2/centroids" -> e.batchTopK(idx, true, 2, cents),
      "join/p0" -> e.join(idx, 0, none),
      "join/p2" -> e.join(idx, 2, none),
      "join/p2/centroids" -> e.join(idx, 2, cents),
      "join/plain/p2" -> e.join(spark.read.parquet(plain), 2, none))
    val persisted = for {
      (layout, path) <- Seq("parts" -> parts, "plain" -> plain)
      probe <- Seq(0, 2)
      (cn, cs) <- Seq("" -> none, "/centroids" -> cents)
      (entry, df) <- Seq(
        "topKPersisted" -> e.topKPersisted(path, probe, cs),
        "batchTopKPersisted" -> e.batchTopKPersisted(path, probe, cs))
    } yield s"$entry/$layout/p$probe$cn" -> df
    (direct ++ persisted).map { case (n, df) =>
      s"${e.name}/${if (clustered) "clustered" else "roundrobin"}/$n" -> df
    }
  }

  /** The digests of the pre-skeleton code, case by case. */
  private val golden: Map[String, String] = Map(
    "hnsw/clustered/topK/colocated" -> "3df615bb5f10f379/8",
    "hnsw/clustered/topK/shuffled" -> "3df615bb5f10f379/8",
    "hnsw/clustered/topK/p2" -> "d4457139c5a84b72/8",
    "hnsw/clustered/topK/p2/centroids" -> "d4457139c5a84b72/8",
    "hnsw/clustered/batchTopK/colocated" -> "a51b712bb558f19d/64",
    "hnsw/clustered/batchTopK/shuffled/p2" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/batchTopK/p2/centroids" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/join/p0" -> "a51b712bb558f19d/64",
    "hnsw/clustered/join/p2" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/join/p2/centroids" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/join/plain/p2" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/topKPersisted/parts/p0" -> "3df615bb5f10f379/8",
    "hnsw/clustered/batchTopKPersisted/parts/p0" -> "a51b712bb558f19d/64",
    "hnsw/clustered/topKPersisted/parts/p0/centroids" -> "3df615bb5f10f379/8",
    "hnsw/clustered/batchTopKPersisted/parts/p0/centroids" -> "a51b712bb558f19d/64",
    "hnsw/clustered/topKPersisted/parts/p2" -> "d4457139c5a84b72/8",
    "hnsw/clustered/batchTopKPersisted/parts/p2" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/topKPersisted/parts/p2/centroids" -> "d4457139c5a84b72/8",
    "hnsw/clustered/batchTopKPersisted/parts/p2/centroids" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/topKPersisted/plain/p0" -> "3df615bb5f10f379/8",
    "hnsw/clustered/batchTopKPersisted/plain/p0" -> "a51b712bb558f19d/64",
    "hnsw/clustered/topKPersisted/plain/p0/centroids" -> "3df615bb5f10f379/8",
    "hnsw/clustered/batchTopKPersisted/plain/p0/centroids" -> "a51b712bb558f19d/64",
    "hnsw/clustered/topKPersisted/plain/p2" -> "d4457139c5a84b72/8",
    "hnsw/clustered/batchTopKPersisted/plain/p2" -> "3b6fe2ef33eaefa7/64",
    "hnsw/clustered/topKPersisted/plain/p2/centroids" -> "d4457139c5a84b72/8",
    "hnsw/clustered/batchTopKPersisted/plain/p2/centroids" -> "3b6fe2ef33eaefa7/64",
    "hnsw/roundrobin/topK/colocated" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/topK/shuffled" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/topK/p2" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/topK/p2/centroids" -> "6b17d96a99e7698a/8",
    "hnsw/roundrobin/batchTopK/colocated" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/batchTopK/shuffled/p2" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/batchTopK/p2/centroids" -> "946997840415c8ae/64",
    "hnsw/roundrobin/join/p0" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/join/p2" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/join/p2/centroids" -> "946997840415c8ae/64",
    "hnsw/roundrobin/join/plain/p2" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/parts/p0" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/parts/p0" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/parts/p0/centroids" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/parts/p0/centroids" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/parts/p2" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/parts/p2" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/parts/p2/centroids" -> "6b17d96a99e7698a/8",
    "hnsw/roundrobin/batchTopKPersisted/parts/p2/centroids" -> "946997840415c8ae/64",
    "hnsw/roundrobin/topKPersisted/plain/p0" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/plain/p0" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/plain/p0/centroids" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/plain/p0/centroids" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/plain/p2" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/plain/p2" -> "1a78ab38e3269f73/64",
    "hnsw/roundrobin/topKPersisted/plain/p2/centroids" -> "2f24964f2a7b23ca/8",
    "hnsw/roundrobin/batchTopKPersisted/plain/p2/centroids" -> "1a78ab38e3269f73/64",
    "vamana/clustered/topK/colocated" -> "74b0c2f897b0b994/8",
    "vamana/clustered/topK/shuffled" -> "74b0c2f897b0b994/8",
    "vamana/clustered/topK/p2" -> "420c21b27bd50e12/8",
    "vamana/clustered/topK/p2/centroids" -> "420c21b27bd50e12/8",
    "vamana/clustered/batchTopK/colocated" -> "8fd55167fae641b9/64",
    "vamana/clustered/batchTopK/shuffled/p2" -> "1e6e106305a4495a/64",
    "vamana/clustered/batchTopK/p2/centroids" -> "7576c9f8d59f4e71/64",
    "vamana/clustered/join/p0" -> "3d607220e9de2c5e/64",
    "vamana/clustered/join/p2" -> "1eb0df36eb258424/64",
    "vamana/clustered/join/p2/centroids" -> "1eb0df36eb258424/64",
    "vamana/clustered/join/plain/p2" -> "1eb0df36eb258424/64",
    "vamana/clustered/topKPersisted/parts/p0" -> "74b0c2f897b0b994/8",
    "vamana/clustered/batchTopKPersisted/parts/p0" -> "8fd55167fae641b9/64",
    "vamana/clustered/topKPersisted/parts/p0/centroids" -> "74b0c2f897b0b994/8",
    "vamana/clustered/batchTopKPersisted/parts/p0/centroids" -> "8fd55167fae641b9/64",
    "vamana/clustered/topKPersisted/parts/p2" -> "420c21b27bd50e12/8",
    "vamana/clustered/batchTopKPersisted/parts/p2" -> "7576c9f8d59f4e71/64",
    "vamana/clustered/topKPersisted/parts/p2/centroids" -> "420c21b27bd50e12/8",
    "vamana/clustered/batchTopKPersisted/parts/p2/centroids" -> "7576c9f8d59f4e71/64",
    "vamana/clustered/topKPersisted/plain/p0" -> "74b0c2f897b0b994/8",
    "vamana/clustered/batchTopKPersisted/plain/p0" -> "8fd55167fae641b9/64",
    "vamana/clustered/topKPersisted/plain/p0/centroids" -> "74b0c2f897b0b994/8",
    "vamana/clustered/batchTopKPersisted/plain/p0/centroids" -> "8fd55167fae641b9/64",
    "vamana/clustered/topKPersisted/plain/p2" -> "420c21b27bd50e12/8",
    "vamana/clustered/batchTopKPersisted/plain/p2" -> "7576c9f8d59f4e71/64",
    "vamana/clustered/topKPersisted/plain/p2/centroids" -> "420c21b27bd50e12/8",
    "vamana/clustered/batchTopKPersisted/plain/p2/centroids" -> "7576c9f8d59f4e71/64",
    "vamana/roundrobin/topK/colocated" -> "c091117fbca8d249/8",
    "vamana/roundrobin/topK/shuffled" -> "c091117fbca8d249/8",
    "vamana/roundrobin/topK/p2" -> "c091117fbca8d249/8",
    "vamana/roundrobin/topK/p2/centroids" -> "e0311a8d0a454a8f/8",
    "vamana/roundrobin/batchTopK/colocated" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/batchTopK/shuffled/p2" -> "9609f250f6a12ca8/64",
    "vamana/roundrobin/batchTopK/p2/centroids" -> "cece645602c42ae8/64",
    "vamana/roundrobin/join/p0" -> "0c21c14159d7c43a/64",
    "vamana/roundrobin/join/p2" -> "0c21c14159d7c43a/64",
    "vamana/roundrobin/join/p2/centroids" -> "118f6d9d65b367b5/64",
    "vamana/roundrobin/join/plain/p2" -> "0c21c14159d7c43a/64",
    "vamana/roundrobin/topKPersisted/parts/p0" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/parts/p0" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/parts/p0/centroids" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/parts/p0/centroids" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/parts/p2" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/parts/p2" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/parts/p2/centroids" -> "e0311a8d0a454a8f/8",
    "vamana/roundrobin/batchTopKPersisted/parts/p2/centroids" -> "cece645602c42ae8/64",
    "vamana/roundrobin/topKPersisted/plain/p0" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/plain/p0" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/plain/p0/centroids" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/plain/p0/centroids" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/plain/p2" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/plain/p2" -> "1d5cc689f0809d3d/64",
    "vamana/roundrobin/topKPersisted/plain/p2/centroids" -> "c091117fbca8d249/8",
    "vamana/roundrobin/batchTopKPersisted/plain/p2/centroids" -> "1d5cc689f0809d3d/64",
  )

  for (e <- Seq(HnswEntries, VamanaEntries); clustered <- Seq(true, false))
    test(s"${e.name} ${if (clustered) "clustered" else "round-robin"}: " +
        "every entry returns the pre-skeleton rows") {
      val got = cases(e, clustered).map { case (n, df) => n -> digest(df) }
      val bad = got.filter { case (n, d) => !golden.get(n).contains(d) }
      assert(got.forall(_._2.split('/')(1).toInt > 0), "a case returned no rows")
      assert(bad.isEmpty, bad.map { case (n, d) => s"""    "$n" -> "$d",""" }
        .mkString("mismatched cases (actual digests):\n", "\n", ""))
    }
}
