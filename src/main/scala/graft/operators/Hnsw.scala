package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** HNSW graph ANN — the reference's HNSWFLAT index type
  * (muller/core/vector/algorithms/faiss_index.py:133-272) re-designed for
  * Spark's execution model: one navigable-small-world graph PER PARTITION
  * (built where the data lives, no native libs), persisted as ordinary
  * rows, searched with a per-partition greedy descent and a global
  * TakeOrderedAndProject merge of the local top-k sets.
  *
  * Why per-partition graphs: a single global HNSW needs random access to
  * the whole corpus (the faiss/driver model — bounded by one machine's
  * RAM). Sharded subgraphs keep the build embarrassingly parallel, bound
  * memory by partition size, and the search cost is
  * `numPartitions × O(ef·log n_p)` — each partition's probe is
  * logarithmic, and partitions probe concurrently. This is the same
  * sharding strategy distributed faiss deployments use. With a CLUSTERED
  * build (`clustered = true` + `probeParts = p` on the searchers — see
  * [[GraphRouting]]) the cost drops to `p × O(ef·log n_p)`: each query
  * walks only its p nearest shards by persisted centroid, reading only
  * p part directories on the persisted layout.
  *
  * Determinism: node levels come from a murmur3 hash of the node's
  * insertion sequence (not a RNG), so a rebuild of the same partition
  * yields the same graph.
  *
  * This object holds the graph, its row codec and its parameters; the
  * Spark side (build, route, walk, persisted reads) is [[GraphIndex]]'s,
  * shared with [[Vamana]].
  */
object Hnsw {

  /** In-memory graph over one partition's vectors (L2 metric).
    *
    * r22: the hot loops (searchLayer's frontier heaps + visited set, the
    * backlink prune) run on primitive structures ([[GraphPrims]]) instead
    * of boxed `(Double, Int)` priority queues and `HashSet[Int]` — the
    * heap replicates scala PriorityQueue's algorithm verbatim and the
    * sort is stable like the one it replaces, so the built graphs and
    * search results are BIT-IDENTICAL (GraphEquivalenceSpec pins
    * adjacency + hits against the pre-rewrite implementation on fixed
    * seeds). Allocation per candidate drops to zero, which is what the
    * 32-way concurrent builds were GC-bound on (VERDICT r21 #2/#4).
    */
  final class Graph(val m: Int, val efConstruction: Int) extends Serializable {
    import GraphPrims.{DistHeap, IntVec, ScoredBuf}
    // m = 0 builds an EDGELESS graph (take(0) neighbor selection) that
    // silently answers ~1 hit per shard; m = 1 makes mL infinite (every
    // node at level 31). Both are degenerate, never useful — refuse.
    require(m >= 2, s"HNSW degree m must be >= 2, got $m")
    require(efConstruction >= 1, s"bad efConstruction $efConstruction")
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val extIds = mutable.ArrayBuffer[Long]()
    val levels = mutable.ArrayBuffer[Int]()
    // neighbors(node)(level) = adjacency list
    val nbrs = mutable.ArrayBuffer[Array[IntVec]]()
    var entry: Int = -1

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    /** Deterministic exponential level: hash → uniform(0,1) → -ln(u)·mL. */
    private def levelOf(seq: Int): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(seq, 777)
      val u = ((h >>> 8).toDouble + 0.5) / (1 << 24).toDouble
      math.min((-math.log(u) * mL).toInt, 31)
    }

    /** Greedy beam search on one layer from `eps` (first `epsLen` ids),
      * beam width `ef`. Returns hits ascending by dist (stable — tie
      * order matches the boxed PriorityQueue drain + stable sort).
      */
    private def searchLayer(q: Array[Float], eps: Array[Int], epsLen: Int,
                            ef: Int, level: Int): ScoredBuf = {
      val visited = new java.util.BitSet(vecs.length)
      // candidates: nearest-first; results: farthest-first (bounded by ef)
      val cand = new DistHeap(nearestFirst = true)
      val res = new DistHeap(nearestFirst = false)
      var ei = 0
      while (ei < epsLen) {
        val e = eps(ei)
        if (!visited.get(e)) {
          visited.set(e)
          val d = dist(q, vecs(e)); cand.enqueue(d, e); res.enqueue(d, e)
        }
        ei += 1
      }
      while (cand.nonEmpty) {
        val dc = cand.headDist; val c = cand.headNode; cand.dequeue()
        if (res.nonEmpty && dc > res.headDist && res.size >= ef) cand.clear()
        else {
          val adj = nbrs(c)
          if (level < adj.length) {
            val a = adj(level)
            var i = 0
            while (i < a.length) {
              val n = a(i)
              if (!visited.get(n)) {
                visited.set(n)
                val d = dist(q, vecs(n))
                if (res.size < ef || d < res.headDist) {
                  cand.enqueue(d, n); res.enqueue(d, n)
                  if (res.size > ef) res.dequeue()
                }
              }
              i += 1
            }
          }
        }
      }
      val out = new ScoredBuf(res.size + 1)
      while (res.nonEmpty) {
        out.add(res.headDist, res.headNode); res.dequeue()
      }
      out.stableSortByDist()
      out
    }

    private def searchLayer1(q: Array[Float], ep: Int, level: Int): Int = {
      oneEp(0) = ep
      searchLayer(q, oneEp, 1, 1, level).node(0)
    }
    private val oneEp = new Array[Int](1)

    def insert(id: Long, v: Array[Float]): Unit = {
      // loud on mixed dimensions: a shorter vector would insert under
      // PREFIX distance and a longer one crashes later searches mid-walk
      // with an opaque AIOOBE — the clustered build drops wrong-dim rows
      // at cell assignment, the round-robin build has no reference dim
      // until its first row, so the graph itself holds the contract
      require(vecs.isEmpty || v.length == vecs(0).length,
        s"vector for id $id has ${v.length} dims, graph holds " +
          s"${vecs(0).length}-dim vectors")
      val node = vecs.length
      val lvl = levelOf(node)
      vecs += v; extIds += id; levels += lvl
      nbrs += Array.fill(lvl + 1)(new IntVec())
      if (entry < 0) { entry = node; return }
      var ep = entry
      val topLvl = levels(entry)
      // greedy descend above the node's level
      var l = topLvl
      while (l > lvl) {
        ep = searchLayer1(v, ep, l)
        l -= 1
      }
      // connect at each level from min(topLvl, lvl) down to 0
      l = math.min(topLvl, lvl)
      var eps = new Array[Int](1); eps(0) = ep; var epsLen = 1
      val pruneBuf = new ScoredBuf(maxM0 + 2)
      while (l >= 0) {
        val cands = searchLayer(v, eps, epsLen, efConstruction, l)
        val cap = if (l == 0) maxM0 else m
        val nSel = math.min(m, cands.len)
        val own = nbrs(node)(l)
        var si = 0
        while (si < nSel) {
          val s = cands.node(si)
          own.add(s)
          si += 1
        }
        si = 0
        while (si < nSel) {
          val s = cands.node(si)
          val a = nbrs(s)(l)
          a.add(node)
          if (a.length > cap) {
            // prune to the cap nearest (simple heuristic; stable on ties
            // like the sortBy it replaces)
            pruneBuf.len = 0
            var i = 0
            while (i < a.length) {
              pruneBuf.add(dist(vecs(s), vecs(a(i))), a(i)); i += 1
            }
            pruneBuf.stableSortByDist()
            a.clear()
            i = 0
            while (i < cap) { a.add(pruneBuf.node(i)); i += 1 }
          }
          si += 1
        }
        if (cands.len > eps.length) eps = new Array[Int](cands.len)
        var i = 0
        while (i < cands.len) { eps(i) = cands.node(i); i += 1 }
        epsLen = cands.len
        l -= 1
      }
      if (lvl > levels(entry)) entry = node
    }

    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      // loud on a query-dimension mismatch: a shorter query ranks every
      // stored vector by PREFIX distance — k plausible-looking wrong
      // neighbors, no error — and a longer one crashes with an opaque
      // AIOOBE; same contract as GraphRouting.route / KnnJoin's filter
      require(q.length == vecs(entry).length,
        s"query has ${q.length} dims, index vectors have " +
          s"${vecs(entry).length}")
      var ep = entry
      var l = levels(entry)
      while (l > 0) { ep = searchLayer1(q, ep, l); l -= 1 }
      oneEp(0) = ep
      val hits = searchLayer(q, oneEp, 1, math.max(ef, k), 0)
      val out = Seq.newBuilder[(Long, Double)]
      var i = 0
      val n = math.min(k, hits.len)
      while (i < n) { out += ((extIds(hits.node(i)), hits.dist(i))); i += 1 }
      out.result()
    }
  }

  private val indexSchema = StructType(Seq(
    StructField("part", IntegerType),
    StructField("node", IntegerType),
    StructField("ext_id", LongType),
    StructField("vec", ArrayType(FloatType)),
    StructField("level", IntegerType),
    StructField("adj", ArrayType(ArrayType(IntegerType))),
    StructField("entry", IntegerType)))

  /** Centroid sentinel marker in the `node` column (clustered builds
    * only): `vec` holds the shard's trained routing centroid, `ext_id`
    * the shard's node count. Graph reassembly skips `node < 0` rows.
    */
  val CentroidNode: Int = -1

  /** The HNSW family of [[GraphIndex]]: one row per node with its
    * `level`, per-level `adj` lists and the shard's `entry`; searched
    * with beam `ef`. `m`/`efConstruction` shape builds only — a
    * reassembled graph is walked, never inserted into. */
  private[operators] final case class Family(m: Int = 16,
                                             efConstruction: Int = 100)
      extends GraphIndex.Family[Graph, Int] {
    def schema: StructType = indexSchema
    def centroidNode: Int = CentroidNode
    def newGraph(): Graph = new Graph(m, efConstruction)
    def insert(g: Graph, id: Long, v: Array[Float]): Unit = g.insert(id, v)
    def isEmpty(g: Graph): Boolean = g.entry < 0
    def shardRows(shard: Int, g: Graph, centroid: Option[Array[Float]])
        : Iterator[Row] =
      centroid.iterator.map(c => Row(shard, CentroidNode,
        g.vecs.length.toLong, c.toSeq, -1, Seq.empty[Seq[Int]], g.entry)) ++
        (0 until g.vecs.length).iterator.map { n =>
          Row(shard, n, g.extIds(n), g.vecs(n).toSeq, g.levels(n),
            g.nbrs(n).map(_.toSeq).toSeq, g.entry)
        }
    /** Rebuild the shard's graph from its rows (sentinels skipped) and
      * walk it with beam `ef`. */
    def searcher(rows: scala.collection.Seq[Row], k: Int, ef: Int)
        : Array[Float] => Seq[(Long, Double)] = {
      val sorted = rows.filter(_.getInt(1) >= 0).sortBy(_.getInt(1))
      val g = new Graph(16, 100)
      var expect = 0
      sorted.foreach { r =>
        // adjacency lists index by POSITION: a duplicate or missing node
        // id (a doubly-appended delta shard, an interrupted rewrite) would
        // shift every later neighbor pointer onto the wrong vector —
        // silently wrong ext_ids. Loud beats plausible-looking garbage.
        require(r.getInt(1) == expect,
          s"corrupt graph shard: expected node $expect, found " +
            s"${r.getInt(1)} (duplicate or missing node rows)")
        expect += 1
        g.vecs += r.getSeq[Float](3).toArray
        g.extIds += r.getLong(2)
        g.levels += r.getInt(4)
        g.nbrs += r.getSeq[scala.collection.Seq[Int]](5)
          .map { a =>
            val v = new GraphPrims.IntVec(a.length)
            a.foreach(v.add); v
          }.toArray
      }
      g.entry = if (sorted.nonEmpty) sorted.head.getInt(6) else -1
      q => g.search(q, k, ef)
    }
  }

  /** The search-side family: build parameters at their defaults. */
  private[operators] val family: Family = Family()

  /** Build per-partition graphs; returns index rows (persist with
    * `.write.partitionBy("part")`). Shard sizing, the clustered build
    * and its fallback are [[GraphIndex.build]]'s.
    */
  def build(df: DataFrame, vecCol: String, idCol: String,
            numPartitions: Int = 0, m: Int = 16,
            efConstruction: Int = 100,
            clustered: Boolean = false,
            rowCountHint: Long = -1L): DataFrame =
    GraphIndex.build(Family(m, efConstruction), df, vecCol, idCol,
      numPartitions, clustered, rowCountHint)

  /** Search a persisted (or freshly-built) index: each partition's rows
    * reassemble their graph(s) in memory, probe locally with beam `ef`,
    * and the driver merges `parts × k` candidate rows via
    * TakeOrderedAndProject — never the corpus. Pass `colocated = true`
    * on a freshly-built index to skip the part shuffle entirely.
    */
  def topK(index: DataFrame, query: Seq[Float], k: Int,
           ef: Int = 64, colocated: Boolean = false,
           probeParts: Int = 0,
           centroids: Array[(Int, Array[Float])] = Array.empty): DataFrame =
    GraphIndex.search(family, ef, index, Seq((0L, query)), k, colocated,
      probeParts, centroids, batch = false)

  /** Batched search: every subgraph is walked once per query in ONE pass
    * over the index, merged by the partial top-k aggregate
    * ([[GraphIndex.search]]). Output: (query_id, ext_id, l2sq, rank).
    */
  def batchTopK(index: DataFrame, queries: Seq[(Long, Seq[Float])],
                k: Int, ef: Int = 64, colocated: Boolean = false,
                probeParts: Int = 0,
                centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.search(family, ef, index, queries, k, colocated, probeParts,
      centroids, batch = true)

  /** [[topK]] over an index persisted with `partitionBy("part")`: an
    * exchange-free read of the part directories `probeParts > 0` routes
    * the query to, by `centroids` (e.g. the format layer's tiny
    * `routing` artifact) or else the index's own sentinel rows
    * ([[GraphIndex.searchPersisted]]).
    */
  def topKPersisted(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Seq[Float], k: Int, ef: Int = 64,
                    probeParts: Int = 0,
                    centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.searchPersisted(family, ef, spark, path, Seq((0L, query)), k,
      probeParts, centroids, batch = false)

  /** Batched [[topKPersisted]]: one pass over the UNION of the batch's
    * routed directories, each query gated to its own shard set. */
  def batchTopKPersisted(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: Seq[(Long, Seq[Float])],
                         k: Int, ef: Int = 64, probeParts: Int = 0,
                         centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.searchPersisted(family, ef, spark, path, queries, k,
      probeParts, centroids, batch = true)
}
