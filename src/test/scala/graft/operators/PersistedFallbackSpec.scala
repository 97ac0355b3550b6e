package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** A persisted graph read on a layout NOT partitioned by part falls back
  * to a shuffled read. With `probeParts > 0` and no caller centroids the
  * routing is derived from the index's own sentinel rows once, and the
  * fallback reuses it: building the lazy result frame collects the
  * sentinels once per call, for both families and both the single and
  * the batched entry. The rows are those of the same read routed by the
  * same centroids supplied by the caller.
  */
class PersistedFallbackSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val clusters = 6

  private lazy val corpus: DataFrame = (for {
    c <- 0 until clusters
    i <- 0 until 40
  } yield {
    val v = Array.tabulate(dim) { d =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashInt(c * 7919 + i * 131 + d, 5)
      (if (d == c) 4.0f else 0.0f) + (h % 1000) / 500.0f
    }
    ((c * 40 + i).toLong, v.toSeq)
  }).toDF("vec_id", "emb")

  private val queries: Seq[(Long, Seq[Float])] = (0 until clusters).map(c =>
    (c.toLong, Array.tabulate(dim)(d => if (d == c) 4.0f else 0.5f).toSeq))

  /** Collect jobs started while `body` runs (a job's stages are named
    * by its call site: the parquet schema reads are not collects).
    * Listener events are async but FIFO: once a group-tagged marker
    * job's start is seen, every job started before it has been counted. */
  private def collects[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(p =>
            "fallback-marker" == p.getProperty("spark.jobGroup.id")))
          markerSeen = true
        else if (js.stageInfos.exists(_.name.startsWith("collect at")))
          n.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobGroup("fallback-marker", "marker")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never observed")
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame) = df.collect().toSeq

  test("the shuffled fallback collects the index's sentinels once per call") {
    val hIdx = tmpDir("fallback") + "/h"
    Hnsw.build(corpus, "emb", "vec_id", numPartitions = clusters,
      clustered = true).write.parquet(hIdx)
    val vIdx = tmpDir("fallback") + "/v"
    Vamana.build(corpus, "emb", "vec_id", numPartitions = clusters,
      pqM = 4, pqK = 8, clustered = true).write.parquet(vIdx)
    val hCents = GraphRouting.centroidsOf(spark.read.parquet(hIdx),
      Hnsw.CentroidNode)
    val vCents = GraphRouting.centroidsOf(spark.read.parquet(vIdx),
      Vamana.CentroidNode)
    val q = queries.head._2
    val calls = Seq[(String, Boolean => DataFrame)](
      "Hnsw.topKPersisted" -> (own => Hnsw.topKPersisted(spark, hIdx, q, 10,
        probeParts = 2, centroids = if (own) Array.empty else hCents)),
      "Hnsw.batchTopKPersisted" -> (own => Hnsw.batchTopKPersisted(spark,
        hIdx, queries, 10, probeParts = 2,
        centroids = if (own) Array.empty else hCents)),
      "Vamana.topKPersisted" -> (own => Vamana.topKPersisted(spark, vIdx, q,
        10, probeParts = 2, centroids = if (own) Array.empty else vCents)),
      "Vamana.batchTopKPersisted" -> (own => Vamana.batchTopKPersisted(spark,
        vIdx, queries, 10, probeParts = 2,
        centroids = if (own) Array.empty else vCents)))
    for ((name, call) <- calls) {
      val (df, n) = collects(call(true))
      assert(n == 1, s"$name: $n sentinel collects building the frame")
      assert(rows(df).nonEmpty, name)
      assert(rows(df) == rows(call(false)), name)
    }
  }
}
