package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Harness
import graft.operators.{GraphRouting, Hnsw, Vamana, VectorSearch}

/** ANN recall soak at realistic scale: 100k × 64-d clustered vectors,
  * 100 held-out queries, recall@10 of every index family vs the exact
  * FLAT top-10 (the reference measures recall the same way,
  * tests/integration/indexing/test_vector_search_recall.py). The
  * per-query driver oracles (q60-q99) pin a ≥1-hit floor at sf0.01;
  * this measures the real recall CURVE the default knobs buy at a
  * corpus size where subgraph/cell effects show.
  *
  * Data: 256 latent Gaussian centers, each vector = center + σ·noise,
  * all derived from fixed seeds (per-row RNG seeded by id) so the run
  * is reproducible. Queries are drawn the same way from the same
  * centers but with ids outside the corpus — near-duplicate-free,
  * in-distribution, the standard ANN benchmark shape.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.RecallSoak [rows]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object RecallSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val dim = 64; val nq = 100; val k = 10; val nCenters = 256
    val spark = Harness.session(Harness.cpus)
    import spark.implicits._

    val centers: Array[Array[Float]] = {
      val r = new scala.util.Random(42)
      Array.fill(nCenters, dim)((r.nextGaussian() * 4).toFloat)
    }
    val bc = spark.sparkContext.broadcast(centers)
    def vecOf(id: Long, sigma: Double): Seq[Float] = {
      val r = new scala.util.Random(id * 2654435761L + 7)
      val c = bc.value((id % nCenters).toInt)
      Seq.tabulate(dim)(j => c(j) + (r.nextGaussian() * sigma).toFloat)
    }
    val data = spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, vecOf(id, 0.5))))
      .toDF("vec_id", "emb")
      .repartition(Harness.cpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    data.count()
    // query ids live OUTSIDE the corpus id space -> fresh noise draws
    val queries: Seq[(Long, Seq[Float])] =
      (0 until nq).map(i => (i.toLong, vecOf(n + i * 31L, 0.5)))
    val qdf = queries.toDF("_qid", "_qvec")

    // exact ground truth: one brute-force batched pass
    val truth: Map[Long, Set[Long]] = VectorSearch
      .batchTopK(data, "emb", "vec_id", qdf, "_qid", "_qvec", "l2", k,
        exact = true)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def recallOf(hits: DataFrame, qCol: String, idCol: String): Double = {
      val got = hits.select(col(qCol), col(idCol)).as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      queries.map { case (qid, _) =>
        truth(qid).intersect(got.getOrElse(qid, Set.empty)).size.toDouble / k
      }.sum / nq
    }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def fam(name: String, knobs: String, build: => DataFrame)(
        search: DataFrame => DataFrame): Unit = {
      val (idx, bSec) = timed {
        val d = build.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      val (rec, sSec) = timed(recallOf(search(idx), "query_id", "vec_id"))
      out(name) = f"""{"recall":$rec%.4f,"knobs":"$knobs",""" +
        f""""buildSec":$bSec%.1f,"searchSec":$sSec%.1f}"""
      idx.unpersist()
      ()
    }

    // FLAT control (non-exact codegen distance): must be ~1.0
    fam("flat", "brute-force", data)(d =>
      VectorSearch.batchTopK(d, "emb", "vec_id", qdf, "_qid", "_qvec",
        "l2", k))

    // HNSW: per-partition subgraphs, every subgraph walked per query
    fam("hnsw", s"m=16,efC=100,ef=64",
      Hnsw.build(data, "emb", "vec_id", 0, 16, 100))(idx =>
      Hnsw.batchTopK(idx, queries, k, ef = 64, colocated = true)
        .withColumnRenamed("ext_id", "vec_id"))

    // Vamana (DiskANN): beam search + PQ approx + exact rerank
    fam("vamana", "r=32,alpha=1.2,beam=64,rerank=100",
      Vamana.build(data, "emb", "vec_id", 0, 32, 1.2, 64, 8, 16))(idx =>
      Vamana.batchTopK(idx, queries, k, beam = 64, rerank = 100,
        colocated = true)
        .withColumnRenamed("ext_id", "vec_id"))

    // SHARD-ROUTED graph families (r18): clustered builds (k-means
    // shards + persisted centroids), queries walk only their p nearest
    // shards. Two knobs, both measured (SCALE.md):
    //  - shard SIZE ≈ 500 rows (shards ≈ n/500): a 1M run at a fixed
    //    256 shards grew shards to ~4,000 near-tie rows — Vamana's
    //    rerank=400 covered 10% of its shard's PQ-tie pool (0.70) and
    //    HNSW walks got harder (0.95); 500-row shards restore probe-all
    //    to ~1.0. HNSW degree 32 (degree-16 navigates near-tie shards
    //    at ~0.93), Vamana rerank 400 (rerank=100 scored 0.49).
    //  - p scales like IVF's nprobe: when shards outnumber natural
    //    clusters, a query's neighbors spread over several shards, so
    //    the sweep measures the p→recall curve (p=all pins routing-off
    //    parity).
    // Cost: the coarse k-means assignment is O(n·shards·dim), the same
    // build shape as the reference's faiss IVF train.
    // the PRODUCTION sizing (GraphRouting.shardsFor — r19 moved the
    // measured n/500 economics from this soak into the build default)
    val routedShards = GraphRouting.shardsFor(n)
    val (hnswClustered, hBuildSec) = timed {
      val d = Hnsw.build(data, "emb", "vec_id", routedShards, 32, 100,
          clustered = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    val hShards = hnswClustered.filter(col("node") === Hnsw.CentroidNode)
      .count().toInt
    for (p <- Seq(4, 16, 64, hShards).distinct.filter(_ <= hShards)) {
      val (rec, sSec) = timed(recallOf(
        Hnsw.batchTopK(hnswClustered, queries, k, ef = 64,
            colocated = true, probeParts = p)
          .withColumnRenamed("ext_id", "vec_id"), "query_id", "vec_id"))
      out(s"hnsw_routed_p$p") =
        f"""{"recall":$rec%.4f,"knobs":"m=32,efC=100,ef=64,shards=$hShards,p=$p",""" +
          f""""buildSec":$hBuildSec%.1f,"searchSec":$sSec%.1f}"""
    }
    hnswClustered.unpersist()
    val (vamanaClustered, vBuildSec) = timed {
      val d = Vamana.build(data, "emb", "vec_id", routedShards, 32, 1.2,
          64, 8, 16, clustered = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    val vShards = vamanaClustered
      .filter(col("node") === Vamana.CentroidNode).count().toInt
    for (p <- Seq(4, 16, 64, vShards).distinct.filter(_ <= vShards)) {
      val (rec, sSec) = timed(recallOf(
        Vamana.batchTopK(vamanaClustered, queries, k, beam = 64,
            rerank = 400, colocated = true, probeParts = p)
          .withColumnRenamed("ext_id", "vec_id"), "query_id", "vec_id"))
      out(s"vamana_routed_p$p") =
        f"""{"recall":$rec%.4f,"knobs":"r=32,beam=64,rerank=400,shards=$vShards,p=$p",""" +
          f""""buildSec":$vBuildSec%.1f,"searchSec":$sSec%.1f}"""
    }
    vamanaClustered.unpersist()

    // IVF: nlist cells, probe the nprobe nearest
    val ((assigned, centroids), ivfBuildSec) =
      timed(VectorSearch.ivfBuild(data, "emb", "vec_id", nlist = 256,
        refineIters = 2))
    val assignedP = assigned.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assignedP.count()
    for (nprobe <- Seq(8, 16, 32)) {
      val (rec, sSec) = timed(recallOf(
        VectorSearch.ivfBatchTopK(assignedP, centroids, "emb", "vec_id",
          queries, "l2", k, nprobe), "query_id", "vec_id"))
      out(s"ivf_nprobe$nprobe") =
        f"""{"recall":$rec%.4f,"knobs":"nlist=256,iters=2,nprobe=$nprobe",""" +
          f""""buildSec":$ivfBuildSec%.1f,"searchSec":$sSec%.1f}"""
    }

    // PQ (+ exact rerank) and IVFPQ on the same assignments
    val (model, pqTrainSec) =
      timed(VectorSearch.pqTrain(data, "emb", "vec_id", m = 8, k = 256,
        refineIters = 2))
    val encoded = VectorSearch.pqEncode(assignedP, "emb", model).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    encoded.count()
    for (rerank <- Seq(0, 50)) {
      val (rec, sSec) = timed(recallOf(
        VectorSearch.pqBatchTopK(encoded, "emb", "vec_id", model, queries,
          k, rerank), "query_id", "vec_id"))
      out(s"pq_rerank$rerank") =
        f"""{"recall":$rec%.4f,"knobs":"m=8,k=256,iters=2,rerank=$rerank",""" +
          f""""buildSec":$pqTrainSec%.1f,"searchSec":$sSec%.1f}"""
    }
    val (ivfPqRec, ivfPqSec) = timed(recallOf(
      VectorSearch.ivfPqBatchTopK(encoded, centroids, "emb", "vec_id",
        model, queries, k, nprobe = 16, rerank = 50), "query_id", "vec_id"))
    out("ivfpq_raw") =
      f"""{"recall":$ivfPqRec%.4f,"knobs":"nlist=256,nprobe=16,m=8,rerank=50",""" +
        f""""buildSec":${ivfBuildSec + pqTrainSec}%.1f,"searchSec":$ivfPqSec%.1f}"""

    // residual IVFPQ — codes over v − centroid(cell), the faiss layout;
    // the within-cluster geometry raw-vector PQ throws away
    for ((m, rerank) <- Seq((8, 50), (16, 200))) {
      val ((encRes, modelRes), resBuildSec) = timed {
        val (e, mo) = VectorSearch.ivfPqResidualBuild(assignedP, centroids,
          "emb", "vec_id", m = m, k = 256, refineIters = 2)
        val p = e.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); (p, mo)
      }
      val (resRec, resSec) = timed(recallOf(
        VectorSearch.ivfPqResidualBatchTopK(encRes, centroids, "emb",
          "vec_id", modelRes, queries, k, nprobe = 16, rerank = rerank),
        "query_id", "vec_id"))
      out(s"ivfpq_residual_m$m") =
        f"""{"recall":$resRec%.4f,"knobs":"nlist=256,nprobe=16,m=$m,rerank=$rerank",""" +
          f""""buildSec":${ivfBuildSec + resBuildSec}%.1f,"searchSec":$resSec%.1f}"""
      encRes.unpersist()
    }

    val fams = out.map { case (kk, v) => s""""$kk":$v""" }.mkString(",")
    println(s"""{"rows":$n,"dim":$dim,"queries":$nq,"k":$k,$fams}""")
    spark.stop()
  }
}
