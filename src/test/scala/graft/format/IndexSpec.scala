package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Index lifecycle bound to the versioned format (reference
  * create_index_vectorized / create_vector_index + staleness rules).
  */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  private def table(): GraftDataset = {
    val ds = GraftDataset.create(spark, tmpDir("idx"), StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("emb", ArrayType(FloatType)))))
    ds.append(Seq(
      (1L, "spark vector search", Seq(1.0f, 0.0f, 0.0f)),
      (2L, "inverted index shards", Seq(0.0f, 1.0f, 0.0f)),
      (3L, "vector index probes", Seq(0.9f, 0.1f, 0.0f)))
      .toDF("id", "text", "emb"))
    ds.commit("rows")
    ds
  }

  test("inverted index: build, fresh search, stale fallback parity") {
    val ds = table()
    ds.createIndexVectorized("text")
    assert(ds.indexFresh("inverted", "text"))
    assert(ds.textSearch("text", "vector index").select("id")
      .as[Long].collect().toSet == Set(3L))
    // append → HEAD moves → index stale → scan fallback gives same answers
    ds.append(Seq((4L, "fresh vector index row", Seq(0f, 0f, 1f)))
      .toDF("id", "text", "emb"))
    ds.commit("more")
    assert(!ds.indexFresh("inverted", "text"))
    assert(ds.textSearch("text", "vector index").select("id")
      .as[Long].collect().toSet == Set(3L, 4L))
    // rebuild → indexed again, includes the new row
    ds.createIndexVectorized("text")
    assert(ds.indexFresh("inverted", "text"))
    assert(ds.textSearch("text", "vector index").select("id")
      .as[Long].collect().toSet == Set(3L, 4L))
  }

  test("incremental index update: appends indexed as a delta, updates rebuild") {
    val ds = table()
    ds.createIndexVectorized("text")
    ds.append(Seq((4L, "delta vector postings", Seq(0f, 0f, 1f)))
      .toDF("id", "text", "emb"))
    ds.commit("append")
    assert(!ds.indexFresh("inverted", "text"))
    ds.updateIndexVectorized("text") // append-only → delta build
    assert(ds.indexFresh("inverted", "text"))
    assert(ds.textSearch("text", "vector").select("id")
      .as[Long].collect().toSet == Set(1L, 3L, 4L))
    // in-place update cannot be expressed as a posting delta → rebuild,
    // and the OLD tokens must stop matching
    ds.update($"id" === 1L, Map("text" -> lit("renamed entirely")))
    ds.commit("edit")
    ds.updateIndexVectorized("text")
    assert(ds.indexFresh("inverted", "text"))
    assert(ds.textSearch("text", "vector").select("id")
      .as[Long].collect().toSet == Set(3L, 4L))
    assert(ds.textSearch("text", "renamed").select("id")
      .as[Long].collect().toSet == Set(1L))
  }

  test("incremental vector index update assigns new rows to existing cells") {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 2)
    ds.append(Seq((5L, "new", Seq(1.0f, 0.01f, 0f))).toDF("id", "text", "emb"))
    ds.commit("append")
    ds.updateVectorIndex("emb")
    assert(ds.indexFresh("vector", "emb"))
    val top = ds.vectorSearch("emb", Seq(1.0f, 0.0f, 0.0f), k = 2,
      metric = "cosine", nprobe = 2)
    assert(top.count() == 2) // new row is findable through the index
  }

  test("a bad index type refuses and keeps the working index") {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 2)
    def top() = ds.vectorSearch("emb", Seq(1.0f, 0.0f, 0.0f), k = 2,
      metric = "l2", nprobe = 2).collect().toSeq
    val before = top()
    val info = ds.vectorIndexInfo("emb")
    val e = intercept[IllegalArgumentException](
      ds.createVectorIndex("emb", nlist = 2, indexType = "IVFX"))
    assert(e.getMessage.contains("bad index type IVFX"))
    assert(ds.indexFresh("vector", "emb"))
    assert(ds.vectorIndexInfo("emb") == info)
    assert(top() == before && before.size == 2)
  }

  test("typed vector indexes: FLAT/IVFPQ/HNSW/DISKANN route, match exact top-1") {
    val ds = GraftDataset.create(spark, tmpDir("idxtyped"), StructType(Seq(
      StructField("id", LongType),
      StructField("emb", ArrayType(FloatType)))))
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until 4).map(j => math.sin(i * 17 + j).toFloat))
    }
    ds.append(rows.toDF("id", "emb"))
    ds.commit("rows")
    val uuidOf = ds.snapshotWithUuid()
      .select($"id", col(GraftDataset.UuidCol))
      .as[(Long, Long)].collect().toMap
    for (tpe <- Seq("FLAT", "IVFPQ", "HNSW", "DISKANN")) {
      ds.createVectorIndex("emb", nlist = 4, indexType = tpe,
        pqM = 2, pqK = 8, graphDegree = 8, buildBeam = 32)
      assert(ds.indexFresh("vector", "emb"), tpe)
      // querying with row 7's own vector must return row 7 first
      val top = ds.vectorSearch("emb", rows(7)._2, k = 3, metric = "l2")
        .select("row_uuid").as[Long].collect()
      assert(top.head == uuidOf(7L), s"$tpe top-1")
      assert(top.length == 3, tpe)
      // pin/unpin round-trip serves the same answer
      ds.loadVectorIndex("emb")
      assert(ds.isVectorIndexLoaded("emb"))
      assert(ds.vectorSearch("emb", rows(7)._2, k = 1, metric = "l2")
        .select("row_uuid").as[Long].head() == uuidOf(7L), s"$tpe pinned")
      ds.unloadVectorIndex("emb")
    }
    // graph/PQ artifacts are L2-scored: other metrics are rejected loudly
    intercept[IllegalArgumentException] {
      ds.vectorSearch("emb", rows(0)._2, k = 1, metric = "cosine")
    }
  }

  test("cosine graph index: scale-invariant scores, metric guard") {
    val ds = GraftDataset.create(spark, tmpDir("idxcos"), StructType(Seq(
      StructField("id", LongType),
      StructField("emb", ArrayType(FloatType)))))
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until 4).map(j => math.sin(i * 17 + j).toFloat))
    }
    ds.append(rows.toDF("id", "emb"))
    ds.commit("rows")
    for (tpe <- Seq("HNSW", "DISKANN", "IVFPQ")) {
      ds.createVectorIndex("emb", nlist = 4, indexType = tpe, pqM = 2,
        pqK = 8, graphDegree = 8, buildBeam = 32, metric = "cosine")
      // query with 3× row 7's vector: same direction → cosine ≈ 1 for
      // row 7 regardless of magnitude (an l2 index would rank by norm)
      val q = rows(7)._2.map(_ * 3.0f)
      val uuid7 = ds.snapshotWithUuid().filter($"id" === 7L)
        .select(col(GraftDataset.UuidCol)).as[Long].head()
      val top = ds.vectorSearch("emb", q, k = 1, metric = "cosine").head()
      assert(top.getLong(0) == uuid7, tpe)
      assert(math.abs(top.getDouble(1) - 1.0) < 1e-5, tpe)
      // built for cosine: an l2 probe is rejected loudly
      intercept[IllegalArgumentException] {
        ds.vectorSearch("emb", q, k = 1, metric = "l2")
      }
    }
  }

  test("typed vector index incremental append: graphs grow shards, IVFPQ encodes") {
    for (tpe <- Seq("DISKANN", "IVFPQ")) {
      val ds = GraftDataset.create(spark, tmpDir(s"idxinc$tpe"), StructType(Seq(
        StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
      val rows = (0 until 30).map { i =>
        (i.toLong, (0 until 4).map(j => math.sin(i * 17 + j).toFloat))
      }
      ds.append(rows.toDF("id", "emb"))
      ds.commit("rows")
      ds.createVectorIndex("emb", nlist = 4, indexType = tpe,
        pqM = 2, pqK = 8, graphDegree = 8, buildBeam = 32)
      // append a brand-new vector far from the originals, then update
      val novel = Seq(9.0f, 9.0f, 9.0f, 9.0f)
      ds.append(Seq((99L, novel)).toDF("id", "emb"))
      ds.commit("append")
      assert(!ds.indexFresh("vector", "emb"), tpe)
      ds.updateVectorIndex("emb")
      assert(ds.indexFresh("vector", "emb"), tpe)
      // the appended row is findable as its own nearest neighbor —
      // proves the delta shard/cells actually get probed
      val uuid99 = ds.snapshotWithUuid().filter($"id" === 99L)
        .select(col(GraftDataset.UuidCol)).as[Long].head()
      assert(ds.vectorSearch("emb", novel, k = 1, metric = "l2",
          nprobe = 4).select("row_uuid").as[Long].head() == uuid99, tpe)
    }
  }

  test("graph shard routing: routing artifact, probeShards search, append refresh") {
    for (tpe <- Seq("HNSW", "DISKANN")) {
      val ds = GraftDataset.create(spark, tmpDir(s"idxroute$tpe"),
        StructType(Seq(StructField("id", LongType),
          StructField("emb", ArrayType(FloatType)))))
      // 4 well-separated clusters of 20 rows each
      val rows = for (c <- 0 until 4; i <- 0 until 20) yield {
        val id = (c * 20 + i).toLong
        (id, (0 until 4).map(j =>
          (if (j == c) 10.0f * (c + 1) else 0.0f) +
            math.sin(id * 17 + j).toFloat * 0.05f))
      }
      ds.append(rows.toDF("id", "emb"))
      ds.commit("rows")
      ds.createVectorIndex("emb", indexType = tpe, pqM = 2, pqK = 8,
        graphDegree = 8, buildBeam = 32)
      // clustered build persisted a routing artifact beside the graph
      val routingDir = ds.root + s"/_graft/indexes/vector/emb/routing"
      val routed0 = spark.read.parquet(routingDir)
      val shards0 = routed0.count()
      assert(shards0 > 0, s"$tpe routing artifact empty")
      // routed search (p=1) finds a cluster's own member, pinned and not
      val q = rows(45)._2 // cluster 2
      val uuid45 = ds.snapshotWithUuid().filter($"id" === 45L)
        .select(col(GraftDataset.UuidCol)).as[Long].head()
      assert(ds.vectorSearch("emb", q, k = 1, metric = "l2",
          probeShards = 1).select("row_uuid").as[Long].head() == uuid45,
        s"$tpe routed persisted")
      ds.loadVectorIndex("emb")
      assert(ds.vectorSearch("emb", q, k = 1, metric = "l2",
          probeShards = 1).select("row_uuid").as[Long].head() == uuid45,
        s"$tpe routed pinned")
      ds.unloadVectorIndex("emb")
      // append far-away rows → delta shard sentinels fold into routing
      ds.append(Seq((990L, Seq(-50f, -50f, -50f, -50f)))
        .toDF("id", "emb"))
      ds.commit("append")
      ds.updateVectorIndex("emb")
      val shards1 = spark.read.parquet(routingDir).count()
      assert(shards1 > shards0,
        s"$tpe routing artifact must grow with the delta shard")
      // the appended row is routable as its own nearest neighbor at p=1
      val uuid990 = ds.snapshotWithUuid().filter($"id" === 990L)
        .select(col(GraftDataset.UuidCol)).as[Long].head()
      assert(ds.vectorSearch("emb", Seq(-50f, -50f, -50f, -50f), k = 1,
          metric = "l2", probeShards = 1)
        .select("row_uuid").as[Long].head() == uuid990, s"$tpe delta routed")
    }
  }

  test("vectorKnnJoin: dataset-level routed knn join, parity + guards (r19)") {
    for (tpe <- Seq("HNSW", "DISKANN")) {
      val ds = GraftDataset.create(spark, tmpDir(s"knnjoin$tpe"),
        StructType(Seq(StructField("id", LongType),
          StructField("emb", ArrayType(FloatType)))))
      val rows = for (c <- 0 until 4; i <- 0 until 20) yield {
        val id = (c * 20 + i).toLong
        (id, (0 until 4).map(j =>
          (if (j == c) 10.0f * (c + 1) else 0.0f) +
            math.sin(id * 17 + j).toFloat * 0.05f))
      }
      ds.append(rows.toDF("id", "emb"))
      ds.commit("rows")
      ds.createVectorIndex("emb", indexType = tpe, pqM = 2, pqK = 8,
        graphDegree = 8, buildBeam = 32, metric = "l2")
      // query TABLE: one row per cluster; routed p=1 must hit each
      // query's own zero-distance row (full-rebuild self-cell soundness)
      val qdf = Seq(5L, 25L, 45L, 65L)
        .map(id => (id, rows(id.toInt)._2)).toDF("qid", "qv")
      val joined = ds.vectorKnnJoin("emb", qdf, "qid", "qv", k = 3,
        metric = "l2", probeShards = 1)
      val uuidToId = ds.snapshotWithUuid()
        .select(col(GraftDataset.UuidCol), col("id"))
        .as[(Long, Long)].collect().toMap
      val top1 = joined.filter(col("rank") === 1)
        .select("query_id", "row_uuid", "score")
        .as[(Long, Long, Double)].collect()
      assert(top1.length === 4, s"$tpe: one rank-1 row per query")
      top1.foreach { case (qid, u, s) =>
        assert(uuidToId(u) === qid && s === 0.0,
          s"$tpe: routed knn join missed query $qid's own row")
      }
      // probe-all knn join ≡ per-query vectorSearch (same walks, same
      // scores) for one query
      val q = rows(45)._2
      val single = ds.vectorSearch("emb", q, k = 3, metric = "l2")
        .select("row_uuid", "score").as[(Long, Double)].collect().toSeq
        .sortBy(identity)
      val viaJoin = ds.vectorKnnJoin("emb",
          Seq((45L, q)).toDF("qid", "qv"), "qid", "qv", k = 3,
          metric = "l2")
        .select("row_uuid", "score").as[(Long, Double)].collect().toSeq
        .sortBy(identity)
      assert(viaJoin === single,
        s"$tpe: knn join diverged from vectorSearch on the same query")
      // guards: metric mismatch and non-graph types refuse loudly
      intercept[IllegalArgumentException] {
        ds.vectorKnnJoin("emb", qdf, "qid", "qv", k = 3, metric = "cosine")
      }
    }
    // non-graph types are served too: FLAT = exact brute force, IVF =
    // cell-routed exact scoring; probeShards stays a graph-only knob
    val flatEtAl = GraftDataset.create(spark, tmpDir("knnjoinflat"),
      StructType(Seq(StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
    flatEtAl.append(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.9f, 0.1f))).toDF("id", "emb"))
    flatEtAl.commit("rows")
    val u1 = flatEtAl.snapshotWithUuid().filter(col("id") === 1L)
      .select(col(GraftDataset.UuidCol)).as[Long].head()
    for (t <- Seq("FLAT", "IVF", "IVFPQ")) {
      flatEtAl.createVectorIndex("emb", nlist = 2, pqM = 2, pqK = 4,
        indexType = t, metric = "l2")
      val top = flatEtAl.vectorKnnJoin("emb",
          Seq((1L, Seq(1f, 0f))).toDF("qid", "qv"), "qid", "qv", k = 1,
          metric = "l2", nprobe = 2)
        .select("row_uuid").as[Long].head()
      assert(top === u1, s"$t knn join missed the exact self match")
      intercept[IllegalArgumentException] {
        flatEtAl.vectorKnnJoin("emb",
          Seq((1L, Seq(1f, 0f))).toDF("qid", "qv"), "qid", "qv", k = 1,
          metric = "l2", probeShards = 2)
      }
    }
  }

  test("vectorKnnJoin IVFPQ cosine honors the exact knob (r20)") {
    // r19 silently downgraded exact=true to double scoring for cosine;
    // now the unit-norm build scores on the scaled-int l2 grid and the
    // 1e14-scaled long maps to cosine — deterministic AND correct
    val ds = GraftDataset.create(spark, tmpDir("knnjoin_pq_cos"),
      StructType(Seq(StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
    val rows = (0 until 40).map { i =>
      val ang = i * 0.15
      (i.toLong, Seq((math.cos(ang) * (1 + i % 3)).toFloat,
        (math.sin(ang) * (1 + i % 3)).toFloat))
    }
    ds.append(rows.toDF("id", "emb"))
    ds.commit("rows")
    ds.createVectorIndex("emb", nlist = 4, pqM = 2, pqK = 4,
      indexType = "IVFPQ", metric = "cosine")
    val qdf = Seq((7L, rows(7)._2), (30L, rows(30)._2)).toDF("qid", "qv")
    def run(exact: Boolean) = ds.vectorKnnJoin("emb", qdf, "qid", "qv",
        k = 3, metric = "cosine", nprobe = 4, exact = exact)
      .select("query_id", "row_uuid", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val exactHits = run(exact = true)
    // deterministic: bit-identical across runs
    assert(exactHits === run(exact = true))
    // rank-1 is each query's own row at cosine ≈ 1 (quantization only)
    val idOf = ds.snapshotWithUuid()
      .select(col(GraftDataset.UuidCol), col("id"))
      .as[(Long, Long)].collect().toMap
    exactHits.filter(_._4 == 1).foreach { case (qid, u, s, _) =>
      assert(idOf(u) === qid && math.abs(s - 1.0) < 1e-6,
        s"exact cosine self-match broken: q$qid -> id ${idOf(u)} score $s")
    }
    // same neighbors, same order as the double path (scores within eps)
    val dbl = run(exact = false)
    assert(exactHits.map(t => (t._1, t._2, t._4)) ===
      dbl.map(t => (t._1, t._2, t._4)))
    exactHits.zip(dbl).foreach { case (e, d) =>
      assert(math.abs(e._3 - d._3) < 1e-5,
        s"exact/double cosine scores diverged: $e vs $d")
    }
  }

  test("semanticDedupIndexed: knn self-join dedup keeps min-uuid per clique (r20)") {
    val dim = 16
    val ds = GraftDataset.create(spark, tmpDir("semdedup_idx"),
      StructType(Seq(StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
    // 16 mutually-orthogonal rows (cosine 0 between any two), plus a
    // 2-clique (100, 101 clone row 3) and a 3-clique (200-202 clone
    // row 7) — the 0.9999 threshold separates cliques perfectly
    def oneHot(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == axis) scale else 0.0f)
    val base = (0 until dim).map(i => (i.toLong, oneHot(i, 1.0f + i)))
    val clones = Seq(100L -> base(3)._2, 101L -> base(3)._2,
      200L -> base(7)._2, 201L -> base(7)._2, 202L -> base(7)._2)
    ds.append((base ++ clones).toDF("id", "emb"))
    ds.commit("rows")
    ds.createVectorIndex("emb", nlist = 4, indexType = "IVF")
    val uuidToId = ds.snapshotWithUuid()
      .select(col(GraftDataset.UuidCol), col("id"))
      .as[(Long, Long)].collect().toMap
    // exact cosine at nprobe = nlist: provably the brute-force answer
    val out = ds.semanticDedupIndexed("emb", threshold = 0.9999,
        metric = "cosine", nprobe = 4, exact = true)
      .select("row_uuid", "nn_uuid", "is_dup")
      .as[(Long, Long, Boolean)].collect()
    assert(out.length === base.size + clones.size,
      "every row has a nearest other in a >1-row corpus")
    val droppedIds = out.filter(_._3).map(t => uuidToId(t._1)).toSet
    // each clique keeps exactly its min-UUID member (uuid order need
    // not follow id order — derive the expectation from the real map)
    val idToUuid = uuidToId.map(_.swap)
    val expectedDropped = Seq(Seq(3L, 100L, 101L), Seq(7L, 200L, 201L, 202L))
      .flatMap(clique => clique.filterNot(_ == clique.minBy(idToUuid)))
      .toSet
    assert(droppedIds === expectedDropped,
      s"knn dedup dropped $droppedIds, expected $expectedDropped")
    // every dropped row's representative is a clique-mate
    val cliqueOf = Map(100L -> 3L, 101L -> 3L, 200L -> 7L, 201L -> 7L,
      202L -> 7L) ++ (0 until dim).map(i => i.toLong -> i.toLong)
    out.filter(_._3).foreach { case (u, nn, _) =>
      assert(cliqueOf(uuidToId(nn)) === cliqueOf(uuidToId(u)),
        s"dropped ${uuidToId(u)} against non-clique ${uuidToId(nn)}")
    }
    // parity with the blocked exact path (Dedup.semanticDedup): the
    // drop rule "exists a lower id within threshold" agrees on cliques
    val blockedDropped = graft.operators.Dedup.semanticDedup(
        ds.snapshotWithUuid().select(col(GraftDataset.UuidCol), col("emb")),
        "emb", GraftDataset.UuidCol, nlist = 4, threshold = 0.9999)
      .select(col(s"${GraftDataset.UuidCol}_b")).distinct()
      .as[Long].collect().map(uuidToId).toSet
    assert(blockedDropped === droppedIds,
      "knn-self-join dedup diverged from the blocked exact path")
    // l2 flips the threshold side: distances ≤ threshold qualify
    val l2Dropped = ds.semanticDedupIndexed("emb", threshold = 1e-6,
        metric = "l2", nprobe = 4, exact = true)
      .filter(col("is_dup")).select("row_uuid")
      .as[Long].collect().map(uuidToId).toSet
    assert(l2Dropped === droppedIds, s"l2 side returned $l2Dropped")
  }

  test("semanticDedupIndexed l2 threshold is raw units over the exact grid") {
    // the exact-l2 join emits 1e14-grid longs; the caller's threshold is
    // raw squared distance — the rescale must catch a NEAR (non-zero
    // distance) duplicate, not just bit-identical clones
    val dim = 8
    val ds = GraftDataset.create(spark, tmpDir("semdedup_l2"),
      StructType(Seq(StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
    def oneHot(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == axis) scale else 0.0f)
    val near = oneHot(0, 1.0f).updated(1, 0.001f) // raw l2² = 1e-6 to row 0
    ds.append(Seq((0L, oneHot(0, 1.0f)), (1L, near), (2L, oneHot(2, 3.0f)))
      .toDF("id", "emb"))
    ds.commit("rows")
    ds.createVectorIndex("emb", nlist = 2, indexType = "IVF")
    val uuidToId = ds.snapshotWithUuid()
      .select(col(GraftDataset.UuidCol), col("id"))
      .as[(Long, Long)].collect().toMap
    val out = ds.semanticDedupIndexed("emb", threshold = 1e-5,
        metric = "l2", nprobe = 2, exact = true)
      .select("row_uuid", "score", "is_dup")
      .as[(Long, Double, Boolean)].collect()
      .map { case (u, s, d) => (uuidToId(u), s, d) }.sortBy(_._1)
    // exactly one of the near pair drops (the higher-uuid one — uuid
    // order within one append is not pinned here); the far row survives
    val dropped = out.filter(_._3).map(_._1).toSet
    assert(dropped.size === 1 && dropped.subsetOf(Set(0L, 1L)),
      s"raw 1e-5 threshold must catch the 1e-6 near-dup: ${out.toSeq}")
    // the score COLUMN keeps the join's native grid units: the 0.001
    // perturbation quantizes to exactly 1e4, squared 1e8 on the grid
    val nearScore = out.find(_._1 == 1L).get._2
    assert(nearScore === 1e8, s"exact grid score drifted: $nearScore")
  }

  test("semanticDedupIndexed ip threshold is raw units over the exact grid") {
    // metric="ip" + exact=true: the IVF join scores with dotScaled
    // (raw inner product × 1e14) — the raw threshold must rescale onto
    // that grid, or every positive-dot neighbor clears a similarity
    // threshold of any size and the corpus mass-drops
    val dim = 8
    val ds = GraftDataset.create(spark, tmpDir("semdedup_ip"),
      StructType(Seq(StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)))))
    def vec(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == axis) scale else 0.01f)
    // rows 0/1 share an axis: raw dot ≈ 1.0; row 2 is near-orthogonal
    // to both (raw dot ≈ 0.02) but POSITIVE — unscaled it would "clear"
    // any threshold once compared against grid-scaled scores. Row 2 is
    // appended SECOND so its uuid is provably the highest: under the
    // bug its nearest-other always has a lower uuid, so the wrong drop
    // is deterministic, not uuid-order luck
    ds.append(Seq((0L, vec(0, 1.0f)), (1L, vec(0, 1.0f)))
      .toDF("id", "emb"))
    ds.commit("rows")
    ds.append(Seq((2L, vec(4, 1.0f))).toDF("id", "emb"))
    ds.commit("more")
    ds.createVectorIndex("emb", nlist = 2, indexType = "IVF")
    val uuidToId = ds.snapshotWithUuid()
      .select(col(GraftDataset.UuidCol), col("id"))
      .as[(Long, Long)].collect().toMap
    for (exact <- Seq(false, true)) {
      val out = ds.semanticDedupIndexed("emb", threshold = 0.5,
          metric = "ip", nprobe = 2, exact = exact)
        .select("row_uuid", "is_dup").as[(Long, Boolean)].collect()
        .map { case (u, d) => (uuidToId(u), d) }.toMap
      assert(out(2L) === false,
        s"near-orthogonal row dropped at exact=$exact — threshold " +
          "compared against the wrong score units")
      assert(Seq(out(0L), out(1L)).count(identity) === 1,
        s"exactly one of the aligned pair must drop at exact=$exact")
    }
  }

  test("optimizeVectorIndex: N appends fragment, one compaction restores build shape") {
    val ds = GraftDataset.create(spark, tmpDir("idxopt"), StructType(Seq(
      StructField("id", LongType),
      StructField("emb", ArrayType(FloatType)))))
    val rows = (0 until 60).map { i =>
      (i.toLong, (0 until 4).map(j => math.sin(i * 17 + j).toFloat))
    }
    ds.append(rows.toDF("id", "emb"))
    ds.commit("rows")
    ds.createVectorIndex("emb", indexType = "HNSW", graphDegree = 8,
      buildBeam = 32)
    val graphDir = ds.root + "/_graft/indexes/vector/emb/graph"
    def partCount: Int = spark.read.parquet(graphDir)
      .select("part").distinct().count().toInt
    val builtParts = partCount
    // three small appends (each under the rebuild threshold) → three new
    // subgraph shards: the fragmentation optimize exists to undo
    for (a <- 0 until 3) {
      ds.append(Seq((100L + a, Seq(1.0f + a, 0f, 0f, 0f)))
        .toDF("id", "emb"))
      ds.commit(s"a$a")
      ds.updateVectorIndex("emb")
    }
    assert(partCount == builtParts + 3, "each small append adds a shard")
    val q = Seq(1.0f, 0f, 0f, 0f)
    val before = ds.vectorSearch("emb", q, k = 5, metric = "l2")
      .select("row_uuid").as[Long].collect().toSet
    ds.optimizeVectorIndex("emb")
    // compacted back to the build parallelism, same answers, counted
    assert(partCount == builtParts, "compaction merges delta shards")
    assert(ds.indexFresh("vector", "emb"))
    val after = ds.vectorSearch("emb", q, k = 5, metric = "l2")
      .select("row_uuid").as[Long].collect().toSet
    assert(after == before, "recall preserved across compaction")
    assert(ds.vectorIndexInfo("emb")("rebuilds") == "1")
    // a delta LARGER than the threshold fraction auto-rebuilds instead
    // of fragmenting: part count stays at build shape and the counter
    // bumps again
    ds.append((0 until 40).map(i =>
        (200L + i, (0 until 4).map(j => math.cos(i * 13 + j).toFloat)))
      .toDF("id", "emb"))
    ds.commit("big")
    ds.updateVectorIndex("emb")
    assert(partCount == builtParts, "oversize delta rebuilds, not appends")
    assert(ds.vectorIndexInfo("emb")("rebuilds") == "2")
  }

  test("optimizeIndex and reshardIndex preserve answers and bindings") {
    val ds = table()
    ds.createIndexVectorized("text", numShards = 4)
    // fragment the postings with incremental updates
    ds.append(Seq((4L, "vector probes extra", Seq(0f, 0f, 1f)))
      .toDF("id", "text", "emb"))
    ds.commit("a1")
    ds.updateIndexVectorized("text", numShards = 4)
    val expected = ds.textSearch("text", "vector").select("id")
      .as[Long].collect().toSet
    ds.optimizeIndex("text")
    assert(ds.indexFresh("inverted", "text")) // binding preserved
    assert(ds.textSearch("text", "vector").select("id")
      .as[Long].collect().toSet == expected)
    ds.reshardIndex("text", 8)
    assert(ds.textSearch("text", "vector").select("id")
      .as[Long].collect().toSet == expected) // shard routing at new count
    // sizeApprox reflects live manifest bytes
    assert(ds.sizeApprox > 0L)
  }

  test("index-aware rule: same answers, plan flips to a semi-join") {
    val ds = table()
    ds.createIndexVectorized("text")
    val expected = Set(3L) // "vector index" → only doc 3 has both tokens
    // the shared session may have the rule from an earlier suite —
    // this test owns the with/without comparison, so reset first
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(
        _.getClass.getSimpleName.startsWith("IndexedContainsRewrite"))
    // without the rule: predicate evaluates as a scan, no semi-join
    val scan = ds.filterIndexed("text", "vector index")
    assert(scan.select("id").as[Long].collect().toSet == expected)
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    // with the rule installed: rewritten to a posting-table semi-join
    org.apache.spark.sql.graftnative.GraftExtensions.install(spark)
    val routed = ds.filterIndexed("text", "vector index")
    assert(routed.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(routed.select("id").as[Long].collect().toSet == expected)
    // complex OR query through the rule
    val both = ds.filterIndexed("text", "vector index||inverted shards")
    assert(both.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("stats sidecar drives the broadcast decision with no runtime job") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark vector search"), (2L, "inverted index shards"),
      (3L, "vector index probes")).toDF("_id", "text")
    val dir = tmpDir("stats-idx")
    graft.operators.InvertedIndex.save(
      graft.operators.InvertedIndex.build(corpus, "text", "_id"), dir)
    val stats = graft.operators.InvertedIndex.loadStats(spark, dir)
    assert(stats.nonEmpty, "save() must write the stats sidecar")
    // "vector" appears in docs 1 and 3 → exact hot count 2
    assert(graft.operators.InvertedIndex.statsBound(stats.get, "vector") == 2L)
    val idx = graft.operators.InvertedIndex.load(spark, dir)
    // Disable size-based auto-broadcast so the plan shape reflects ONLY
    // the stats-driven hint (tiny test tables would otherwise broadcast
    // regardless).
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // rare term, bound under the cap → hinted → broadcast join
      val hinted = graft.operators.InvertedIndex.search(
        corpus, "_id", idx, "vector", stats = stats)
      assert(hinted.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"))
      // common term with a zero cap → unhinted → shuffle fallback
      val unhinted = graft.operators.InvertedIndex.search(
        corpus, "_id", idx, "vector", broadcastIdLimit = 0L, stats = stats)
      assert(!unhinted.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"))
      // both plans, same answers
      assert(hinted.select("_id").as[Long].collect().toSet == Set(1L, 3L))
      assert(unhinted.select("_id").as[Long].collect().toSet == Set(1L, 3L))
    }
  }

  test("index-aware rule honors the stats bound and survives bad conf") {
    val ds = table()
    ds.createIndexVectorized("text")
    org.apache.spark.sql.graftnative.GraftExtensions.install(spark)
    import spark.implicits._
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // stats present + default cap → the semi-join is broadcast-hinted
      val hinted = ds.filterIndexed("text", "vector index")
      assert(hinted.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"))
      // zero cap → no hint → shuffle semi-join, same rows
      withConf("graft.index.broadcastIdLimit" -> "0") {
        val unhinted = ds.filterIndexed("text", "vector index")
        assert(!unhinted.queryExecution.sparkPlan.toString
          .contains("BroadcastHashJoin"))
        assert(unhinted.select("id").as[Long].collect().toSet == Set(3L))
      }
      // malformed cap value must not fail planning — default applies
      withConf("graft.index.broadcastIdLimit" -> "not-a-number") {
        val tolerant = ds.filterIndexed("text", "vector index")
        assert(tolerant.select("id").as[Long].collect().toSet == Set(3L))
      }
    }
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("vector index lifecycle: load pins, unload releases, drop deletes") {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 2)
    ds.createIndexVectorized("text")
    // list shows both indexes, fresh
    assert(ds.listIndexes == Seq(
      ("inverted", "text", true), ("vector", "emb", true)))
    // load pins: search answers, registry reports loaded
    ds.loadVectorIndex("emb")
    assert(ds.isVectorIndexLoaded("emb"))
    assert(ds.vectorSearch("emb", Seq(1f, 0f, 0f), k = 1, nprobe = 2)
      .count() == 1)
    // unload releases but the persisted index still serves
    ds.unloadVectorIndex("emb")
    assert(!ds.isVectorIndexLoaded("emb"))
    assert(ds.vectorSearch("emb", Seq(1f, 0f, 0f), k = 1, nprobe = 2)
      .count() == 1)
    // drop removes permanently: search refuses, list omits it
    ds.dropVectorIndex("emb")
    intercept[IllegalArgumentException](
      ds.vectorSearch("emb", Seq(1f, 0f, 0f), k = 1))
    assert(ds.listIndexes == Seq(("inverted", "text", true)))
  }

  test("vector index: build, probe search, stale guard") {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 2)
    val hits = ds.vectorSearch("emb", Seq(1.0f, 0.05f, 0.0f), k = 2,
      metric = "cosine", nprobe = 2)
    val ids = hits.join(ds.toDF.withColumn("rid", monotonically_increasing_id()),
      lit(true), "inner") // just check shape + determinism of top hit
    assert(hits.count() == 2)
    ds.append(Seq((9L, "x", Seq(0f, 0f, 0f))).toDF("id", "text", "emb"))
    ds.commit("invalidate")
    intercept[IllegalArgumentException](
      ds.vectorSearch("emb", Seq(1.0f, 0.0f, 0.0f), k = 1))
  }

  test("vectorIndexInfo refuses a column with no vector index") {
    val ds = table()
    val e = intercept[IllegalArgumentException](ds.vectorIndexInfo("emb"))
    assert(e.getMessage.contains(
      "no vector index for 'emb'; createVectorIndex first"), e.getMessage)
    ds.createVectorIndex("emb", nlist = 2)
    assert(ds.vectorIndexInfo("emb")("type") == "IVF")
  }

  /** Overwrite the meta file in `rel` (relative to the table root) with
    * `json`, through the table's filesystem so its checksum follows. */
  private def plantMeta(ds: GraftDataset, rel: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${ds.root}/$rel/meta.json")
    val out = CommitLog.fs(spark, ds.root).create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  test("metas in the shapes earlier builds wrote still search, update, optimize and load") {
    // the literal files below are byte-for-byte what the dataset wrote
    // before the index meta codec; commit 00000001 is the "rows" commit
    def rowsOf(ds: GraftDataset): Set[Long] =
      ds.toDF.select("id").as[Long].collect().toSet
    def more(ds: GraftDataset, id: Long): Unit = {
      ds.append(Seq((id, "vector appended later", Seq(0.8f, 0.2f, 0f)))
        .toDF("id", "text", "emb"))
      ds.commit(s"more$id")
    }
    val full = Seq(
      "IVF" -> ("""{"buildBeam":"100","nlist":"2","rebuilds":"0",""" +
        """"pqK":"16","type":"IVF","pqM":"0","graphDegree":"32",""" +
        """"metric":"l2","commit":"00000001"}"""),
      "HNSW" -> ("""{"buildBeam":"32","nlist":"64","rebuilds":"3",""" +
        """"pqK":"16","type":"HNSW","pqM":"0","graphDegree":"8",""" +
        """"metric":"cosine","commit":"00000001"}"""))
    for ((tpe, json) <- full) {
      val ds = table()
      assert(ds.head.contains("00000001"))
      ds.createVectorIndex("emb", nlist = 2, indexType = tpe, graphDegree = 8,
        buildBeam = 32, metric = if (tpe == "HNSW") "cosine" else "l2")
      plantMeta(ds, "_graft/indexes/vector/emb", json)
      val m = if (tpe == "HNSW") "cosine" else "l2"
      assert(ds.vectorSearch("emb", Seq(1f, 0f, 0f), k = 1, metric = m,
        nprobe = 2).count() == 1, tpe)
      val info = ds.vectorIndexInfo("emb")
      assert(info("metric") == m && info("commit") == "00000001", tpe)
      more(ds, 7L)
      ds.updateVectorIndex("emb", rebuildThreshold = 2.0) // append delta
      val rebuilds = if (tpe == "HNSW") 3 else 0
      assert(ds.vectorIndexInfo("emb")("rebuilds") == rebuilds.toString, tpe)
      assert(ds.vectorKnnJoin("emb", Seq((1L, Seq(0.8f, 0.2f, 0f)))
          .toDF("qid", "qv"), "qid", "qv", k = 4, metric = m, nprobe = 2)
        .count() == 4, tpe)
      ds.optimizeVectorIndex("emb")
      assert(ds.vectorIndexInfo("emb")("rebuilds") == (rebuilds + 1).toString)
    }
    // before the metric, graphDegree and rebuilds keys: l2, 16 and 0
    val old = table()
    old.createVectorIndex("emb", indexType = "HNSW", graphDegree = 16)
    plantMeta(old, "_graft/indexes/vector/emb",
      """{"commit":"00000001","type":"HNSW","nlist":"64","pqM":"0",""" +
        """"pqK":"16","buildBeam":"100"}""")
    assert(old.vectorIndexInfo("emb") == Map("type" -> "HNSW",
      "nlist" -> "64", "pqM" -> "0", "pqK" -> "16", "graphDegree" -> "16",
      "buildBeam" -> "100", "metric" -> "l2", "rebuilds" -> "0",
      "commit" -> "00000001"))
    assert(old.vectorSearch("emb", Seq(1f, 0f, 0f), k = 2, metric = "l2")
      .count() == 2)
    intercept[IllegalArgumentException](
      old.vectorSearch("emb", Seq(1f, 0f, 0f), k = 2, metric = "cosine"))
    more(old, 8L)
    old.updateVectorIndex("emb") // 1 row onto 3: an append delta
    assert(old.vectorIndexInfo("emb")("rebuilds") == "0")
    assert(old.semanticDedupIndexed("emb", 1e-9, metric = "l2").count() == 4)
    old.optimizeVectorIndex("emb")
    assert(old.vectorIndexInfo("emb")("rebuilds") == "1")
    // an inverted index keeps its recorded shard count through maintenance
    val text = table()
    text.createIndexVectorized("text", numShards = 4)
    plantMeta(text, "_graft/indexes/inverted/text",
      """{"commit":"00000001","numShards":"4"}""")
    assert(text.textSearch("text", "vector").select("id").as[Long]
      .collect().toSet == Set(1L, 3L))
    more(text, 9L)
    text.updateIndexVectorized("text", numShards = 16)
    assert(text.filterIndexed("text", "vector").select("id").as[Long]
      .collect().toSet == Set(1L, 3L, 9L))
    text.optimizeIndex("text")
    text.reshardIndex("text", 3)
    assert(text.textSearch("text", "vector").select("id").as[Long]
      .collect().toSet == Set(1L, 3L, 9L))
    // a view loads the rows of the commit it names
    val view = table()
    view.saveView("v", $"id" >= 2L)
    plantMeta(view, "_graft/views/v",
      """{"query":"(id >= 2)","commit":"00000001"}""")
    more(view, 10L)
    assert(rowsOf(view) == Set(1L, 2L, 3L, 10L))
    assert(view.loadView("v").select("id").as[Long].collect().toSet ==
      Set(2L, 3L))
  }

  test("each public index entry point reads its meta at most once") {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 2)
    ds.createIndexVectorized("text")
    ds.saveView("v", $"id" >= 2L)
    val q = Seq((1L, Seq(1f, 0f, 0f))).toDF("qid", "qv")
    def reads(call: => Any): Long = {
      val before = IndexMeta.reads.get()
      call
      IndexMeta.reads.get() - before
    }
    val calls = Seq[(String, () => Any)](
      "vectorSearch" -> (() => ds.vectorSearch("emb", Seq(1f, 0f, 0f), k = 1)),
      "vectorKnnJoin" -> (() =>
        ds.vectorKnnJoin("emb", q, "qid", "qv", k = 1, metric = "l2")),
      "semanticDedupIndexed" -> (() =>
        ds.semanticDedupIndexed("emb", 0.9, metric = "cosine")),
      "vectorIndexInfo" -> (() => ds.vectorIndexInfo("emb")),
      "loadVectorIndex" -> (() => ds.loadVectorIndex("emb")),
      "textSearch" -> (() => ds.textSearch("text", "vector")),
      "filterIndexed" -> (() => ds.filterIndexed("text", "vector")),
      "termCounts" -> (() => ds.termCounts("text")),
      "loadView" -> (() => ds.loadView("v")),
      "indexFresh" -> (() => ds.indexFresh("vector", "emb")),
      "optimizeIndex" -> (() => ds.optimizeIndex("text")),
      "reshardIndex" -> (() => ds.reshardIndex("text", 2)),
      "optimizeVectorIndex" -> (() => ds.optimizeVectorIndex("emb")),
      "append" -> (() => {
        ds.append(Seq((4L, "vector four", Seq(0f, 0f, 1f)))
          .toDF("id", "text", "emb"))
        ds.commit("four")
      }),
      "updateVectorIndex" -> (() => ds.updateVectorIndex("emb")),
      "updateIndexVectorized" -> (() => ds.updateIndexVectorized("text")))
    val counts = calls.map { case (n, c) => n -> reads(c()) }
    assert(counts.filter(_._1 != "append").forall(_._2 == 1L), counts)
  }
}
