package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** DiskANN-style graph ANN — the reference's DISKANN index type
  * (muller/core/vector/algorithms/diskann_index.py:1-186, a thin wrapper
  * over diskannpy's `StaticDiskIndex`) re-designed for Spark's execution
  * model the same way [[Hnsw]] is: one graph PER PARTITION, built where
  * the data lives, persisted as ordinary rows, probed concurrently and
  * merged with a global TakeOrderedAndProject.
  *
  * Both DiskANN signatures (Subramanya et al., "DiskANN: Fast Accurate
  * Billion-point Nearest Neighbor Search on a Single Node", NeurIPS 2019)
  * are kept:
  *
  *   - the graph is VAMANA: a single flat layer (no HNSW hierarchy) with
  *     an α-robust prune — a neighbor candidate v of p is dominated once
  *     some already-kept neighbor c has `α·d(c,v) ≤ d(p,v)`, which keeps
  *     a few deliberately-long edges per node and makes greedy search
  *     converge in fewer hops than a nearest-only neighbor list;
  *   - search walks the graph on COMPRESSED distances — a per-partition
  *     product-quantization codebook, asymmetric-distance lookups — and
  *     touches full vectors only to re-rank the final candidate pool. On
  *     a real deployment the codes live in RAM and the full vectors on
  *     SSD; here both live in the executor (the "disk" is the persisted
  *     index's `vec` column), but the access-cost model — graph walk
  *     never reads a full vector — is preserved, which is exactly the
  *     property that makes the layout work when vectors outgrow memory.
  *
  * Scale shape: build is one pass over the shards (memory bounded by
  * shard size, embarrassingly parallel); search reads the persisted
  * rows partition-pruned, probes each subgraph independently, and only
  * `parts × k` candidate rows ever reach the final merge. With a
  * CLUSTERED build (`clustered = true` + `probeParts = p` — see
  * [[GraphRouting]]) each query probes only its p nearest shards by
  * persisted centroid, making search sub-linear in shard count.
  *
  * Determinism: no RNG anywhere — insertion order is partition row
  * order, PQ seeds are evenly-spaced samples, Lloyd runs a fixed
  * iteration count — so a rebuild of the same partition yields the same
  * graph, codes, and search results.
  *
  * This object holds the graph, the quantizer, its row codec and its
  * parameters; the Spark side (build, route, walk, persisted reads) is
  * [[GraphIndex]]'s, shared with [[Hnsw]].
  */
object Vamana {

  /** In-memory Vamana graph over one partition's vectors (L2 metric).
    *
    * r22: beamSearch / robustPrune run on primitive structures
    * ([[GraphPrims]]) — heap, visited bitset, pool arrays — instead of
    * boxed `(Double, Int)` queues and `HashSet[Int]`; the heap replicates
    * scala PriorityQueue's algorithm verbatim and the pool sort is
    * stable, so built graphs and search results stay BIT-IDENTICAL
    * (GraphEquivalenceSpec). The α-prune's O(kept·pool) distance math is
    * DiskANN's algorithm and stays; only its allocations went.
    */
  final class Graph(val r: Int, val alpha: Double, val buildBeam: Int)
      extends Serializable {
    import GraphPrims.{DistHeap, IntVec, ScoredBuf}
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val extIds = mutable.ArrayBuffer[Long]()
    val adj = mutable.ArrayBuffer[IntVec]()
    var medoid: Int = -1

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    /** Greedy beam search from `ep`: returns visited (dist,node) in
      * visit order — what robust prune consumes during build, per the
      * paper's GreedySearch(s, p, k, L).
      */
    private def beamSearch(q: Array[Float], ep: Int, beam: Int): ScoredBuf = {
      val visited = new java.util.BitSet(vecs.length)
      val out = new ScoredBuf(beam * 4)
      val cand = new DistHeap(nearestFirst = true)
      val res = new DistHeap(nearestFirst = false)
      val d0 = dist(q, vecs(ep))
      visited.set(ep); out.add(d0, ep); cand.enqueue(d0, ep)
      res.enqueue(d0, ep)
      while (cand.nonEmpty) {
        val dc = cand.headDist; val c = cand.headNode; cand.dequeue()
        if (res.size >= beam && dc > res.headDist) cand.clear()
        else {
          val a = adj(c)
          var i = 0
          while (i < a.length) {
            val n = a(i)
            if (!visited.get(n)) {
              visited.set(n)
              val d = dist(q, vecs(n))
              out.add(d, n)
              if (res.size < beam || d < res.headDist) {
                cand.enqueue(d, n); res.enqueue(d, n)
                if (res.size > beam) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      out
    }

    /** RobustPrune(p, V, α, R): repeatedly keep the closest remaining
      * candidate c and discard every candidate it dominates
      * (`α·d(c,v) ≤ d(p,v)`), until R are kept. Pool = `cands` minus
      * `p` and duplicate nodes (first occurrence wins), stable-sorted
      * ascending by dist — exactly the filter/distinctBy/sortInPlace it
      * replaces.
      */
    private def robustPrune(p: Int, cands: ScoredBuf): IntVec = {
      val seen = new java.util.BitSet(vecs.length)
      val pool = new ScoredBuf(cands.len)
      var i = 0
      while (i < cands.len) {
        val n = cands.node(i)
        if (n != p && !seen.get(n)) { seen.set(n); pool.add(cands.dist(i), n) }
        i += 1
      }
      pool.stableSortByDist()
      val kept = new IntVec(r)
      val dead = new Array[Boolean](pool.len)
      i = 0
      while (i < pool.len && kept.length < r) {
        if (!dead(i)) {
          val c = pool.node(i)
          kept.add(c)
          var j = i + 1
          while (j < pool.len) {
            if (!dead(j) &&
                alpha * dist(vecs(c), vecs(pool.node(j))) <= pool.dist(j))
              dead(j) = true
            j += 1
          }
        }
        i += 1
      }
      kept
    }

    def insert(id: Long, v: Array[Float]): Unit = {
      // loud on mixed dimensions — same contract as Hnsw.Graph.insert:
      // a shorter vector inserts under PREFIX distance, a longer one
      // crashes later searches with an opaque AIOOBE
      require(vecs.isEmpty || v.length == vecs(0).length,
        s"vector for id $id has ${v.length} dims, graph holds " +
          s"${vecs(0).length}-dim vectors")
      val node = vecs.length
      vecs += v; extIds += id; adj += new IntVec()
      if (node == 0) { medoid = 0; return }
      val visited = beamSearch(v, medoid, buildBeam)
      val nbrs = robustPrune(node, visited)
      adj(node).addAll(nbrs)
      val backBuf = new ScoredBuf(r + 2)
      var bi = 0
      while (bi < nbrs.length) {
        val s = nbrs(bi)
        val a = adj(s)
        if (!a.contains(node)) {
          a.add(node)
          if (a.length > r) {
            backBuf.len = 0
            var i = 0
            while (i < a.length) {
              backBuf.add(dist(vecs(s), vecs(a(i))), a(i)); i += 1
            }
            val pruned = robustPrune(s, backBuf)
            a.clear(); a.addAll(pruned)
          }
        }
        bi += 1
      }
    }

    /** Recompute the medoid (node closest to the partition centroid) —
      * the paper's fixed search entry point `s`.
      */
    def finalizeMedoid(): Unit = {
      if (vecs.isEmpty) return
      val dim = vecs.head.length
      val mean = new Array[Float](dim)
      vecs.foreach { v =>
        var i = 0; while (i < dim) { mean(i) += v(i); i += 1 }
      }
      var i = 0
      while (i < dim) { mean(i) /= vecs.length.toFloat; i += 1 }
      medoid = vecs.indices.minBy(n => dist(vecs(n), mean))
    }

    /** Exact-distance beam search (the in-memory / "fresh" DiskANN
      * flavor): top-k by true L2.
      */
    def search(q: Array[Float], k: Int, beam: Int): Seq[(Long, Double)] = {
      if (medoid < 0) return Seq.empty
      // loud on a query-dimension mismatch (see Hnsw.Graph.search)
      require(q.length == vecs(medoid).length,
        s"query has ${q.length} dims, index vectors have " +
          s"${vecs(medoid).length}")
      val hits = beamSearch(q, medoid, math.max(beam, k))
      hits.stableSortByDist()
      val out = Seq.newBuilder[(Long, Double)]
      var i = 0
      val n = math.min(k, hits.len)
      while (i < n) { out += ((extIds(hits.node(i)), hits.dist(i))); i += 1 }
      out.result()
    }

    /** PQ/ADC beam search + exact re-rank (the on-disk flavor): the walk
      * scores candidates purely from `codes` via the query's ADC table;
      * only the best `rerank` pool members have their full vector read.
      */
    def searchPq(q: Array[Float], k: Int, beam: Int, rerank: Int,
                 pq: PqLocal, codes: Array[Array[Int]])
        : Seq[(Long, Double)] = {
      if (medoid < 0) return Seq.empty
      // loud on a query-dimension mismatch (see Hnsw.Graph.search)
      require(q.length == vecs(medoid).length,
        s"query has ${q.length} dims, index vectors have " +
          s"${vecs(medoid).length}")
      val table = pq.adcTable(q)
      def approx(n: Int): Double = {
        val code = codes(n)
        var s = 0.0; var mi = 0
        while (mi < code.length) { s += table(mi)(code(mi)); mi += 1 }
        s
      }
      val visited = new java.util.BitSet(vecs.length)
      val pool = new ScoredBuf(beam * 4)
      val cand = new DistHeap(nearestFirst = true)
      val res = new DistHeap(nearestFirst = false)
      val d0 = approx(medoid)
      visited.set(medoid); pool.add(d0, medoid); cand.enqueue(d0, medoid)
      res.enqueue(d0, medoid)
      while (cand.nonEmpty) {
        val dc = cand.headDist; val c = cand.headNode; cand.dequeue()
        if (res.size >= beam && dc > res.headDist) cand.clear()
        else {
          val a = adj(c)
          var i = 0
          while (i < a.length) {
            val n = a(i)
            if (!visited.get(n)) {
              visited.set(n)
              val d = approx(n)
              pool.add(d, n)
              if (res.size < beam || d < res.headDist) {
                cand.enqueue(d, n); res.enqueue(d, n)
                if (res.size > beam) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      // exact re-rank of the approximate pool's best `rerank` members —
      // the only place full vectors are touched
      pool.stableSortByDist()
      val exact = new ScoredBuf(math.max(rerank, k))
      var i = 0
      val nRe = math.min(math.max(rerank, k), pool.len)
      while (i < nRe) {
        val n = pool.node(i)
        exact.add(dist(q, vecs(n)), n)
        i += 1
      }
      exact.stableSortByDist()
      val out = Seq.newBuilder[(Long, Double)]
      i = 0
      val nOut = math.min(k, exact.len)
      while (i < nOut) {
        out += ((extIds(exact.node(i)), exact.dist(i))); i += 1
      }
      out.result()
    }
  }

  /** Per-partition product quantizer: `m` subspaces × `k` centroids,
    * trained by a fixed-iteration Lloyd over the partition's own vectors
    * with evenly-spaced deterministic seeds. `codebook(mi)(ki)` is the
    * sub-dim centroid.
    */
  final case class PqLocal(m: Int, k: Int, dim: Int,
                           codebook: Array[Array[Array[Float]]]) {
    val sub: Int = dim / m

    def encode(v: Array[Float]): Array[Int] = {
      val code = new Array[Int](m)
      var mi = 0
      while (mi < m) {
        var best = 0; var bestD = Double.MaxValue; var ki = 0
        while (ki < codebook(mi).length) {
          val c = codebook(mi)(ki)
          var s = 0.0; var j = 0
          while (j < sub) {
            val d = v(mi * sub + j) - c(j); s += d * d; j += 1
          }
          if (s < bestD) { bestD = s; best = ki }
          ki += 1
        }
        code(mi) = best; mi += 1
      }
      code
    }

    /** ADC lookup table for a query: `table(mi)(ki)` = L2² between the
      * query's mi-th subvector and centroid ki.
      */
    def adcTable(q: Array[Float]): Array[Array[Double]] =
      Array.tabulate(m) { mi =>
        Array.tabulate(codebook(mi).length) { ki =>
          val c = codebook(mi)(ki)
          var s = 0.0; var j = 0
          while (j < sub) { val d = q(mi * sub + j) - c(j); s += d * d; j += 1 }
          s
        }
      }
  }

  object PqLocal {
    /** Deterministic train: evenly-spaced seeds, `iters` Lloyd rounds. */
    def train(vecs: IndexedSeq[Array[Float]], m: Int, k: Int,
              iters: Int = 3): PqLocal = {
      val dim = vecs.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val sub = dim / m
      val kk = math.min(k, vecs.length)
      val cb = Array.tabulate(m) { mi =>
        Array.tabulate(kk) { ki =>
          val v = vecs((ki.toLong * vecs.length / kk).toInt)
          Array.tabulate(sub)(j => v(mi * sub + j))
        }
      }
      val model = PqLocal(m, kk, dim, cb)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(m, kk)(new Array[Double](sub))
        val counts = Array.fill(m, kk)(0L)
        vecs.foreach { v =>
          val code = model.encode(v)
          var mi = 0
          while (mi < m) {
            val ki = code(mi); val s = sums(mi)(ki)
            var j = 0
            while (j < sub) { s(j) += v(mi * sub + j); j += 1 }
            counts(mi)(ki) += 1
            mi += 1
          }
        }
        for (mi <- 0 until m; ki <- 0 until kk if counts(mi)(ki) > 0L) {
          var j = 0
          while (j < sub) {
            cb(mi)(ki)(j) = (sums(mi)(ki)(j) / counts(mi)(ki)).toFloat
            j += 1
          }
        }
        it += 1
      }
      model
    }
  }

  private val indexSchema = StructType(Seq(
    StructField("part", IntegerType),
    StructField("node", IntegerType),   // -1 = codebook sentinel row
    StructField("ext_id", LongType),
    StructField("vec", ArrayType(FloatType)),
    StructField("code", ArrayType(IntegerType)),
    StructField("adj", ArrayType(IntegerType)),
    StructField("medoid", IntegerType)))

  /** PQ-codebook sentinel marker in the `node` column (every build). */
  val PqNode: Int = -1

  /** Routing-centroid sentinel marker (clustered builds only): `vec`
    * holds the shard's trained centroid ([[GraphRouting]]).
    */
  val CentroidNode: Int = -2

  /** The Vamana family of [[GraphIndex]]: one row per node with its PQ
    * `code`, `adj` list and the shard's `medoid`, plus the shard's
    * codebook in a single sentinel row (`node = -1`, flattened into
    * `vec`, dims in `code`) rather than duplicated per node. Searched
    * at `(beam, rerank)` ([[topK]]). */
  private[operators] final case class Family(r: Int = 32,
                                             alpha: Double = 1.2,
                                             buildBeam: Int = 64,
                                             pqM: Int = 8, pqK: Int = 16)
      extends GraphIndex.Family[Graph, (Int, Int)] {
    def schema: StructType = indexSchema
    def centroidNode: Int = CentroidNode
    def newGraph(): Graph = new Graph(r, alpha, buildBeam)
    def insert(g: Graph, id: Long, v: Array[Float]): Unit = g.insert(id, v)
    def isEmpty(g: Graph): Boolean = g.medoid < 0
    def shardRows(shard: Int, g: Graph, centroid: Option[Array[Float]])
        : Iterator[Row] = {
      g.finalizeMedoid()
      val pq = PqLocal.train(g.vecs.toIndexedSeq, pqM, pqK)
      val pqSentinel = Row(shard, PqNode, -1L,
        pq.codebook.flatten.flatten.toSeq.map(_.toFloat),
        Seq(pq.m, pq.k, pq.dim), Seq.empty[Int], g.medoid)
      val centSentinel = centroid.map(c => Row(shard, CentroidNode,
        g.vecs.length.toLong, c.toSeq, Seq.empty[Int], Seq.empty[Int],
        g.medoid))
      Iterator.single(pqSentinel) ++ centSentinel.iterator ++
        (0 until g.vecs.length).iterator.map { n =>
          Row(shard, n, g.extIds(n), g.vecs(n).toSeq,
            pq.encode(g.vecs(n)).toSeq, g.adj(n).toSeq, g.medoid)
        }
    }

    /** Rebuild the shard's graph + PQ codes from its rows and walk it at
      * `(beam, rerank)`. The PQ sentinel is picked BY marker: clustered
      * shards also carry a centroid sentinel (node = -2), and head order
      * is not contractual. */
    def searcher(rows: scala.collection.Seq[Row], k: Int,
                 params: (Int, Int)): Array[Float] => Seq[(Long, Double)] = {
      val (beam, rerank) = params
      val (sentinels, nodes) = rows.partition(_.getInt(1) < 0)
      val sorted = nodes.sortBy(_.getInt(1))
      val g = new Graph(32, 1.2, 64)
      val codes = new Array[Array[Int]](sorted.length)
      sorted.foreach { r0 =>
        codes(g.vecs.length) = r0.getSeq[Int](4).toArray
        g.vecs += r0.getSeq[Float](3).toArray
        g.extIds += r0.getLong(2)
        g.adj += {
          val a = r0.getSeq[Int](5)
          val v = new GraphPrims.IntVec(a.length)
          a.foreach(v.add); v
        }
      }
      g.medoid = if (sorted.nonEmpty) sorted.head.getInt(6) else -1
      sentinels.find(_.getInt(1) == PqNode).filter(_ => rerank > 0) match {
        case Some(s) =>
          val dims = s.getSeq[Int](4)
          val (m, kk, dim) = (dims(0), dims(1), dims(2))
          val flat = s.getSeq[Float](3)
          val sub = dim / m
          val pq = PqLocal(m, kk, dim, Array.tabulate(m)(mi =>
            Array.tabulate(kk)(ki =>
              Array.tabulate(sub)(j => flat((mi * kk + ki) * sub + j)))))
          q => g.searchPq(q, k, beam, rerank, pq, codes)
        case None => q => g.search(q, k, beam)
      }
    }
  }

  /** The search-side family: build parameters at their defaults. */
  private[operators] val family: Family = Family()

  /** Build per-partition Vamana graphs + PQ codes; returns index rows
    * (persist with `.write.partitionBy("part")`). Shard sizing, the
    * clustered build (whose shards also persist a centroid sentinel,
    * `node = -2`) and its fallback are [[GraphIndex.build]]'s.
    */
  def build(df: DataFrame, vecCol: String, idCol: String,
            numPartitions: Int = 0, r: Int = 32, alpha: Double = 1.2,
            buildBeam: Int = 64, pqM: Int = 8, pqK: Int = 16,
            clustered: Boolean = false,
            rowCountHint: Long = -1L): DataFrame =
    GraphIndex.build(Family(r, alpha, buildBeam, pqM, pqK), df, vecCol,
      idCol, numPartitions, clustered, rowCountHint)

  /** Search a persisted (or freshly-built) index: each partition
    * reassembles its graph + codebook, walks it on ADC distances with
    * beam `beam`, exact-re-ranks its best `rerank` pool members, and the
    * global merge is a TakeOrderedAndProject over `parts × k` rows.
    * `rerank = 0` walks on exact distances instead (no PQ — the
    * in-memory flavor). Pass `colocated = true` on a freshly-built index
    * to skip the part shuffle entirely.
    */
  def topK(index: DataFrame, query: Seq[Float], k: Int,
           beam: Int = 64, rerank: Int = 100,
           colocated: Boolean = false, probeParts: Int = 0,
           centroids: Array[(Int, Array[Float])] = Array.empty): DataFrame =
    GraphIndex.search(family, (beam, rerank), index, Seq((0L, query)), k,
      colocated, probeParts, centroids, batch = false)

  /** Batched search: every subgraph is walked once per query in ONE pass
    * over the index (one ADC table per query), merged by the partial
    * top-k aggregate ([[GraphIndex.search]]).
    * Output: (query_id, ext_id, l2sq, rank).
    */
  def batchTopK(index: DataFrame, queries: Seq[(Long, Seq[Float])],
                k: Int, beam: Int = 64, rerank: Int = 100,
                colocated: Boolean = false, probeParts: Int = 0,
                centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.search(family, (beam, rerank), index, queries, k, colocated,
      probeParts, centroids, batch = true)

  /** [[topK]] over an index persisted with `partitionBy("part")`: an
    * exchange-free read of the part directories `probeParts > 0` routes
    * the query to, by `centroids` (e.g. the format layer's tiny
    * `routing` artifact) or else the index's own sentinel rows
    * ([[GraphIndex.searchPersisted]]).
    */
  def topKPersisted(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Seq[Float], k: Int, beam: Int = 64,
                    rerank: Int = 100, probeParts: Int = 0,
                    centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.searchPersisted(family, (beam, rerank), spark, path,
      Seq((0L, query)), k, probeParts, centroids, batch = false)

  /** Batched [[topKPersisted]]: one pass over the UNION of the batch's
    * routed directories, each query gated to its own shard set. */
  def batchTopKPersisted(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: Seq[(Long, Seq[Float])],
                         k: Int, beam: Int = 64, rerank: Int = 100,
                         probeParts: Int = 0,
                         centroids: Array[(Int, Array[Float])] = Array.empty)
      : DataFrame =
    GraphIndex.searchPersisted(family, (beam, rerank), spark, path, queries,
      k, probeParts, centroids, batch = true)
}
