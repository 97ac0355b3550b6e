package graft.format

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Pins the dataset's index surface — every vector-index type with every
  * metric it accepts, and the inverted index — ROW FOR ROW, PLAN FOR PLAN
  * and META FOR META, in the [[graft.operators.GraphSkeletonSpec]]
  * pattern. Each type runs its lifecycle on a fixed corpus: create, an
  * append-delta `updateVectorIndex`, an append past the rebuild
  * threshold, then `optimizeVectorIndex`. After each step every search
  * shape runs:
  *   - `vectorSearch` pinned and unpinned, at `probeShards` 0 and 2 on
  *     the graphs and with `exact` off and on for FLAT and IVF;
  *   - `vectorKnnJoin` on the same axes;
  *   - `semanticDedupIndexed` with `exact` off and on.
  * Each case records a digest of its rows (query id, row uuid, score
  * bits, rank) and of its executed plan with expression ids and paths
  * normalized; each step records the index's `meta.json` as a sorted
  * key list. The inverted index does the same for `textSearch`,
  * `filterIndexed` and `termCounts` after create, update, optimize and
  * reshard. A mismatch lists every failing case with its actual value.
  */
class IndexFacetSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val clusters = 6

  private def center(c: Int): Array[Float] =
    Array.tabulate(dim)(d => if (d == c % dim) 3.0f else 0.0f)

  /** `n` rows from `clusters` overlapping blobs, murmur-mixed noise
    * wider than their spread, every seventh row a near-copy of the row
    * before it (so dedup has duplicates to find). `salt` varies the
    * noise between appends. */
  private def rows(n: Int, salt: Int): DataFrame = {
    def noise(i: Int, d: Int): Float = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashInt(salt * 104729 + i * 131 + d, 42)
      (h % 1000) / 250.0f
    }
    val out = (0 until n).map { i =>
      val src = if (i % 7 == 6) i - 1 else i
      val v = center(src % clusters).zipWithIndex.map { case (x, d) =>
        x + noise(src, d) + (if (src != i) 0.001f * d else 0.0f)
      }
      ((salt * 100000 + i).toLong, v.toSeq)
    }
    out.toDF("id", "emb")
  }

  private val queries: Seq[(Long, Seq[Float])] = (0 until 4).map { q =>
    (q.toLong, Array.tabulate(dim) { d =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(q * 31 + d, 7)
      (h % 1000) / 250.0f
    }.toSeq)
  }
  private lazy val qdf = queries.toDF("qid", "qv")

  private def bits(v: Any): String = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d).toString
    case f: Float => java.lang.Float.floatToIntBits(f).toString
    case null => "null"
    case x => x.toString
  }

  /** Rows as (query id, row uuid, score bits, rank): a single-query
    * frame is ranked by its output position, a join or dedup frame is
    * sorted (its order is not part of its contract). */
  private def rowDigest(df: DataFrame, ranked: Boolean): String = {
    val rs = df.collect().toSeq
    val lines =
      if (ranked) rs.zipWithIndex.map { case (r, i) =>
        (r.toSeq.map(bits) :+ (i + 1).toString).mkString(",") }
      else rs.map(_.toSeq.map(bits).mkString(",")).sorted
    s"${sha(lines.mkString("\n"))}/${rs.size}"
  }

  /** The executed plan with expression ids, plan ids, lambda variable
    * numbers (a JVM-wide counter), lambda and array identities, the table
    * root and the random part of data file names normalized away. Scan
    * paths print whole: cut at Spark's default width, a cut through a
    * random file name would vary the text. */
  private def planDigest(df: DataFrame, root: String): String = {
    val width = "spark.sql.maxMetadataStringLength"
    spark.conf.set(width, "100000")
    val plan = try df.queryExecution.executedPlan.toString
      finally spark.conf.unset(width)
    val p = plan
      .replace(new java.io.File(root).toURI.toString.stripSuffix("/"), "<root>")
      .replace(root, "<root>")
      .replaceAll("(data/[a-z]+)-[0-9a-f]{8}-[0-9a-f]{3}\\.parquet", "$1.parquet")
      .replaceAll("\\[[A-Z]@[0-9a-f]+", "[@")
      .replaceAll("\\$+Lambda[^, ]*", "<lambda>")
      .replaceAll("(lambda \\w+)_\\d+", "$1")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
    sha(p)
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** A `meta.json` as its sorted `key=value` list. */
  private def meta(ds: GraftDataset, kind: String, column: String): String = {
    val p = java.nio.file.Paths.get(ds.root,
      s"_graft/indexes/$kind/$column/meta.json")
    val o = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .extract[Map[String, String]](org.json4s.DefaultFormats,
        implicitly[Manifest[Map[String, String]]])
    o.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
  }

  private def table(): GraftDataset = {
    val ds = GraftDataset.create(spark, tmpDir("facet"), StructType(Seq(
      StructField("id", LongType), StructField("emb", ArrayType(FloatType)))))
    ds.append(rows(1100, 0))
    ds.commit("rows")
    ds
  }

  private val dedupThreshold =
    Map("l2" -> 0.05, "cosine" -> 0.999, "ip" -> 20.0)

  /** Every search shape of one index at one lifecycle step, digested:
    * the unpinned shapes first, then the pinned ones while pinned. */
  private def digests(ds: GraftDataset, tpe: String,
                      metrics: Seq[String]): Seq[(String, String)] = {
    val graph = tpe == "HNSW" || tpe == "DISKANN"
    val probes = if (graph) Seq(0, 2) else Seq(0)
    val exacts = if (tpe == "FLAT" || tpe == "IVF") Seq(false, true) else Seq(false)
    val joinExacts = if (tpe == "IVFPQ") Seq(false, true) else exacts
    def shapes(pinned: Boolean): Seq[(String, String)] = for {
      m <- metrics
      (name, df) <- (for (p <- probes; e <- exacts) yield
          s"search/p$p/e$e" -> ds.vectorSearch("emb", queries.head._2, 8,
            metric = m, nprobe = 3, exact = e, probeShards = p)) ++
        (for (p <- probes; e <- joinExacts) yield
          s"join/p$p/e$e" -> ds.vectorKnnJoin("emb", qdf, "qid", "qv", 8,
            metric = m, nprobe = 3, exact = e, probeShards = p))
      c <- digestCase(ds, s"$m/${if (pinned) "pinned" else "unpinned"}/$name", df)
    } yield c
    val dedups = for {
      m <- metrics
      e <- Seq(false, true)
      c <- digestCase(ds, s"$m/dedup/e$e", ds.semanticDedupIndexed("emb",
        dedupThreshold(m), metric = m, nprobe = 3, exact = e))
    } yield c
    val unpinned = shapes(pinned = false) ++ dedups
    ds.loadVectorIndex("emb")
    try unpinned ++ shapes(pinned = true)
    finally ds.unloadVectorIndex("emb")
  }

  /** The plan is digested before the rows run: the scans print their
    * paths in full only before a run caches their metadata text. */
  private def digestCase(ds: GraftDataset, name: String,
                         df: DataFrame): Seq[(String, String)] = {
    val plan = planDigest(df, ds.root)
    Seq(name -> rowDigest(df, ranked = name.contains("/search/")),
      s"$name/plan" -> plan)
  }

  /** A vector index's lifecycle, each step's digests prefixed by it. */
  private def lifecycle(tpe: String, built: String,
                        metrics: Seq[String]): Seq[(String, String)] = {
    val ds = table()
    ds.createVectorIndex("emb", nlist = 16, indexType = tpe,
      graphDegree = 8, buildBeam = 32, metric = built)
    // A graph rebuilt over the three-file snapshot is not reproducible:
    // it is built in the snapshot's file order, which follows the random
    // data file names, so its rows, and the shards a routed query reads,
    // vary from run to run on either side. Those steps pin the meta and
    // the plans that probe every shard.
    val graph = tpe == "HNSW" || tpe == "DISKANN"
    def pinned(step: String, n: String): Boolean =
      !(graph && (step == "rebuild" || step == "optimize")) || n == "meta" ||
        (n.endsWith("/plan") && !n.contains("/p2/"))
    def step(name: String): Seq[(String, String)] =
      (("meta" -> meta(ds, "vector", "emb")) +: digests(ds, tpe, metrics))
        .filter { case (n, _) => pinned(name, n) }
        .map { case (n, d) => s"$tpe/$built/$name/$n" -> d }
    val created = step("create")
    ds.append(rows(60, 1)); ds.commit("delta")
    ds.updateVectorIndex("emb")
    val delta = step("delta")
    ds.append(rows(600, 2)); ds.commit("big")
    ds.updateVectorIndex("emb")
    val rebuilt = step("rebuild")
    ds.optimizeVectorIndex("emb")
    created ++ delta ++ rebuilt ++ step("optimize")
  }

  private def check(got: Seq[(String, String)]): Unit = {
    val bad = got.filter { case (n, d) => !golden.get(n).contains(d) }
    assert(got.nonEmpty && got.map(_._1).distinct.size == got.size)
    assert(bad.isEmpty, bad.map { case (n, d) => s"""    "$n" -> "$d",""" }
      .mkString("mismatched cases (actual values):\n", "\n", ""))
  }

  private val allMetrics = Seq("l2", "cosine", "ip")
  private val builtMetrics = Seq("l2", "cosine")

  test("FLAT: every search shape returns the pinned rows, plans and meta") {
    check(lifecycle("FLAT", "l2", allMetrics))
  }

  test("IVF: every search shape returns the pinned rows, plans and meta") {
    check(lifecycle("IVF", "l2", allMetrics))
  }

  for (tpe <- Seq("IVFPQ", "HNSW", "DISKANN"))
    test(s"$tpe: every search shape returns the pinned rows, plans and meta") {
      check(builtMetrics.flatMap(m => lifecycle(tpe, m, Seq(m))))
    }

  test("inverted index: text search, indexed filter and term counts") {
    // plans are pinned without the optional indexed-CONTAINS rewrite,
    // which another suite may have left installed in the shared session
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules.filterNot(
      _.getClass.getSimpleName.startsWith("IndexedContainsRewrite"))
    try invertedLifecycle()
    finally spark.experimental.extraOptimizations = rules
  }

  private def invertedLifecycle(): Unit = {
    val ds = GraftDataset.create(spark, tmpDir("facettext"), StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))))
    val words = Seq("spark", "vector", "index", "graph", "shard", "stream",
      "batch", "join", "lake", "commit")
    def docs(n: Int, salt: Int): DataFrame = (0 until n).map { i =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(i, salt)
      ((salt * 10000 + i).toLong,
        (0 until 4).map(j => words(math.abs(h >> (j * 4)) % words.size))
          .mkString(" "))
    }.toDF("id", "text")
    ds.append(docs(200, 0)); ds.commit("docs")
    def step(name: String): Seq[(String, String)] = {
      val shapes = Seq(
        "textSearch/and" -> ds.textSearch("text", "vector index"),
        "textSearch/or" -> ds.textSearch("text", "graph||stream batch"),
        "filterIndexed" -> ds.filterIndexed("text", "spark join"),
        "termCounts" -> ds.termCounts("text"))
      (("meta" -> meta(ds, "inverted", "text")) +: shapes.flatMap {
        case (n, df) => digestCase(ds, n, df) })
        .map { case (n, d) => s"inverted/$name/$n" -> d }
    }
    ds.createIndexVectorized("text", numShards = 4)
    val created = step("create")
    ds.append(docs(40, 1)); ds.commit("more")
    ds.updateIndexVectorized("text")
    val updated = step("update")
    ds.optimizeIndex("text")
    val optimized = step("optimize")
    ds.reshardIndex("text", 3)
    check(created ++ updated ++ optimized ++ step("reshard"))
  }

  /** The values the code before the index facet produced, case by case. */
  private lazy val golden: Map[String, String] = Map(
    "FLAT/l2/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,type=FLAT",
    "FLAT/l2/create/l2/unpinned/search/p0/efalse" -> "b0206f5516595e75/8",
    "FLAT/l2/create/l2/unpinned/search/p0/efalse/plan" -> "6bff949d7321cb60",
    "FLAT/l2/create/l2/unpinned/search/p0/etrue" -> "083f1e0b61083f5c/8",
    "FLAT/l2/create/l2/unpinned/search/p0/etrue/plan" -> "cf533ddfb1303a9c",
    "FLAT/l2/create/l2/unpinned/join/p0/efalse" -> "6ba3a2928dcbd9ec/32",
    "FLAT/l2/create/l2/unpinned/join/p0/efalse/plan" -> "06cc7744001b8555",
    "FLAT/l2/create/l2/unpinned/join/p0/etrue" -> "5cdf2d4bf431a399/32",
    "FLAT/l2/create/l2/unpinned/join/p0/etrue/plan" -> "58d4e32c0d938a4b",
    "FLAT/l2/create/cosine/unpinned/search/p0/efalse" -> "cae4f2215f27ea97/8",
    "FLAT/l2/create/cosine/unpinned/search/p0/efalse/plan" -> "e0d6bd356a7dd061",
    "FLAT/l2/create/cosine/unpinned/search/p0/etrue" -> "dbff13adedc302ad/8",
    "FLAT/l2/create/cosine/unpinned/search/p0/etrue/plan" -> "5537976ad93d7296",
    "FLAT/l2/create/cosine/unpinned/join/p0/efalse" -> "52adf5ca4181ab80/32",
    "FLAT/l2/create/cosine/unpinned/join/p0/efalse/plan" -> "deffc6a505442b1d",
    "FLAT/l2/create/cosine/unpinned/join/p0/etrue" -> "51de229a027c57da/32",
    "FLAT/l2/create/cosine/unpinned/join/p0/etrue/plan" -> "a9f52e87b4fc1b04",
    "FLAT/l2/create/ip/unpinned/search/p0/efalse" -> "d79fe9db4a920c08/8",
    "FLAT/l2/create/ip/unpinned/search/p0/efalse/plan" -> "2d0d2a4c597a70fb",
    "FLAT/l2/create/ip/unpinned/search/p0/etrue" -> "f0be08367622f319/8",
    "FLAT/l2/create/ip/unpinned/search/p0/etrue/plan" -> "b28afad09b6bafa3",
    "FLAT/l2/create/ip/unpinned/join/p0/efalse" -> "f7963661cacac4f3/32",
    "FLAT/l2/create/ip/unpinned/join/p0/efalse/plan" -> "c4e6891615dc2d77",
    "FLAT/l2/create/ip/unpinned/join/p0/etrue" -> "75045a4ea2b3d8a7/32",
    "FLAT/l2/create/ip/unpinned/join/p0/etrue/plan" -> "5590caa9728f512b",
    "FLAT/l2/create/l2/dedup/efalse" -> "5e4c416f333407b0/1100",
    "FLAT/l2/create/l2/dedup/efalse/plan" -> "b949973386cb17f9",
    "FLAT/l2/create/l2/dedup/etrue" -> "540e3f2ca9bfd587/1100",
    "FLAT/l2/create/l2/dedup/etrue/plan" -> "bbeae30b79256780",
    "FLAT/l2/create/cosine/dedup/efalse" -> "39c12a7ad4a6d07c/1100",
    "FLAT/l2/create/cosine/dedup/efalse/plan" -> "6ee168441623e3c9",
    "FLAT/l2/create/cosine/dedup/etrue" -> "a3a535baa0293929/1100",
    "FLAT/l2/create/cosine/dedup/etrue/plan" -> "b823e0c387e18f2e",
    "FLAT/l2/create/ip/dedup/efalse" -> "e507b1ecb1c0dfce/1100",
    "FLAT/l2/create/ip/dedup/efalse/plan" -> "4868fbae679f2d8f",
    "FLAT/l2/create/ip/dedup/etrue" -> "4483434188f3c605/1100",
    "FLAT/l2/create/ip/dedup/etrue/plan" -> "2507917c5209783e",
    "FLAT/l2/create/l2/pinned/search/p0/efalse" -> "b0206f5516595e75/8",
    "FLAT/l2/create/l2/pinned/search/p0/efalse/plan" -> "6bff949d7321cb60",
    "FLAT/l2/create/l2/pinned/search/p0/etrue" -> "083f1e0b61083f5c/8",
    "FLAT/l2/create/l2/pinned/search/p0/etrue/plan" -> "cf533ddfb1303a9c",
    "FLAT/l2/create/l2/pinned/join/p0/efalse" -> "6ba3a2928dcbd9ec/32",
    "FLAT/l2/create/l2/pinned/join/p0/efalse/plan" -> "06cc7744001b8555",
    "FLAT/l2/create/l2/pinned/join/p0/etrue" -> "5cdf2d4bf431a399/32",
    "FLAT/l2/create/l2/pinned/join/p0/etrue/plan" -> "58d4e32c0d938a4b",
    "FLAT/l2/create/cosine/pinned/search/p0/efalse" -> "cae4f2215f27ea97/8",
    "FLAT/l2/create/cosine/pinned/search/p0/efalse/plan" -> "e0d6bd356a7dd061",
    "FLAT/l2/create/cosine/pinned/search/p0/etrue" -> "dbff13adedc302ad/8",
    "FLAT/l2/create/cosine/pinned/search/p0/etrue/plan" -> "5537976ad93d7296",
    "FLAT/l2/create/cosine/pinned/join/p0/efalse" -> "52adf5ca4181ab80/32",
    "FLAT/l2/create/cosine/pinned/join/p0/efalse/plan" -> "deffc6a505442b1d",
    "FLAT/l2/create/cosine/pinned/join/p0/etrue" -> "51de229a027c57da/32",
    "FLAT/l2/create/cosine/pinned/join/p0/etrue/plan" -> "a9f52e87b4fc1b04",
    "FLAT/l2/create/ip/pinned/search/p0/efalse" -> "d79fe9db4a920c08/8",
    "FLAT/l2/create/ip/pinned/search/p0/efalse/plan" -> "2d0d2a4c597a70fb",
    "FLAT/l2/create/ip/pinned/search/p0/etrue" -> "f0be08367622f319/8",
    "FLAT/l2/create/ip/pinned/search/p0/etrue/plan" -> "b28afad09b6bafa3",
    "FLAT/l2/create/ip/pinned/join/p0/efalse" -> "f7963661cacac4f3/32",
    "FLAT/l2/create/ip/pinned/join/p0/efalse/plan" -> "c4e6891615dc2d77",
    "FLAT/l2/create/ip/pinned/join/p0/etrue" -> "75045a4ea2b3d8a7/32",
    "FLAT/l2/create/ip/pinned/join/p0/etrue/plan" -> "5590caa9728f512b",
    "FLAT/l2/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=FLAT",
    "FLAT/l2/delta/l2/unpinned/search/p0/efalse" -> "10b0a8d1d1b48bb4/8",
    "FLAT/l2/delta/l2/unpinned/search/p0/efalse/plan" -> "9816ef01d5c27060",
    "FLAT/l2/delta/l2/unpinned/search/p0/etrue" -> "7a2f46d3312939aa/8",
    "FLAT/l2/delta/l2/unpinned/search/p0/etrue/plan" -> "e36a95ba9cf04ef1",
    "FLAT/l2/delta/l2/unpinned/join/p0/efalse" -> "917391a83249a315/32",
    "FLAT/l2/delta/l2/unpinned/join/p0/efalse/plan" -> "be7fad5ffb40c237",
    "FLAT/l2/delta/l2/unpinned/join/p0/etrue" -> "5d9594039ee58e60/32",
    "FLAT/l2/delta/l2/unpinned/join/p0/etrue/plan" -> "78380bd2de361b3d",
    "FLAT/l2/delta/cosine/unpinned/search/p0/efalse" -> "46729155c75401c1/8",
    "FLAT/l2/delta/cosine/unpinned/search/p0/efalse/plan" -> "6442a8a22572e6a6",
    "FLAT/l2/delta/cosine/unpinned/search/p0/etrue" -> "66b0a6f70fd78979/8",
    "FLAT/l2/delta/cosine/unpinned/search/p0/etrue/plan" -> "51b9ef52e2fff520",
    "FLAT/l2/delta/cosine/unpinned/join/p0/efalse" -> "ecff1ca80f183425/32",
    "FLAT/l2/delta/cosine/unpinned/join/p0/efalse/plan" -> "6a9a734d088e8416",
    "FLAT/l2/delta/cosine/unpinned/join/p0/etrue" -> "67e7a4963526b850/32",
    "FLAT/l2/delta/cosine/unpinned/join/p0/etrue/plan" -> "8815f39b7d52044f",
    "FLAT/l2/delta/ip/unpinned/search/p0/efalse" -> "f085c01efd4f4abf/8",
    "FLAT/l2/delta/ip/unpinned/search/p0/efalse/plan" -> "027d07272da37c40",
    "FLAT/l2/delta/ip/unpinned/search/p0/etrue" -> "dc8dd0352bb4e780/8",
    "FLAT/l2/delta/ip/unpinned/search/p0/etrue/plan" -> "2402016b137be1a5",
    "FLAT/l2/delta/ip/unpinned/join/p0/efalse" -> "ba21f8d377d8c8b8/32",
    "FLAT/l2/delta/ip/unpinned/join/p0/efalse/plan" -> "84f55222de14129b",
    "FLAT/l2/delta/ip/unpinned/join/p0/etrue" -> "cefa0e255601c73e/32",
    "FLAT/l2/delta/ip/unpinned/join/p0/etrue/plan" -> "3f8f34812bd161ac",
    "FLAT/l2/delta/l2/dedup/efalse" -> "5af09f1970293741/1160",
    "FLAT/l2/delta/l2/dedup/efalse/plan" -> "dcd9443136d8614d",
    "FLAT/l2/delta/l2/dedup/etrue" -> "81b82437c2da7079/1160",
    "FLAT/l2/delta/l2/dedup/etrue/plan" -> "69a46668d56c3c2b",
    "FLAT/l2/delta/cosine/dedup/efalse" -> "c2ac7795a0542e9e/1160",
    "FLAT/l2/delta/cosine/dedup/efalse/plan" -> "154be84601f581a8",
    "FLAT/l2/delta/cosine/dedup/etrue" -> "87857b7f7253293e/1160",
    "FLAT/l2/delta/cosine/dedup/etrue/plan" -> "5b96055e9b415362",
    "FLAT/l2/delta/ip/dedup/efalse" -> "b56b2e28b443068f/1160",
    "FLAT/l2/delta/ip/dedup/efalse/plan" -> "5ceb06020c8169b1",
    "FLAT/l2/delta/ip/dedup/etrue" -> "deb5dacba316bcca/1160",
    "FLAT/l2/delta/ip/dedup/etrue/plan" -> "9cc050c11af68bd0",
    "FLAT/l2/delta/l2/pinned/search/p0/efalse" -> "10b0a8d1d1b48bb4/8",
    "FLAT/l2/delta/l2/pinned/search/p0/efalse/plan" -> "9816ef01d5c27060",
    "FLAT/l2/delta/l2/pinned/search/p0/etrue" -> "7a2f46d3312939aa/8",
    "FLAT/l2/delta/l2/pinned/search/p0/etrue/plan" -> "e36a95ba9cf04ef1",
    "FLAT/l2/delta/l2/pinned/join/p0/efalse" -> "917391a83249a315/32",
    "FLAT/l2/delta/l2/pinned/join/p0/efalse/plan" -> "be7fad5ffb40c237",
    "FLAT/l2/delta/l2/pinned/join/p0/etrue" -> "5d9594039ee58e60/32",
    "FLAT/l2/delta/l2/pinned/join/p0/etrue/plan" -> "78380bd2de361b3d",
    "FLAT/l2/delta/cosine/pinned/search/p0/efalse" -> "46729155c75401c1/8",
    "FLAT/l2/delta/cosine/pinned/search/p0/efalse/plan" -> "6442a8a22572e6a6",
    "FLAT/l2/delta/cosine/pinned/search/p0/etrue" -> "66b0a6f70fd78979/8",
    "FLAT/l2/delta/cosine/pinned/search/p0/etrue/plan" -> "51b9ef52e2fff520",
    "FLAT/l2/delta/cosine/pinned/join/p0/efalse" -> "ecff1ca80f183425/32",
    "FLAT/l2/delta/cosine/pinned/join/p0/efalse/plan" -> "6a9a734d088e8416",
    "FLAT/l2/delta/cosine/pinned/join/p0/etrue" -> "67e7a4963526b850/32",
    "FLAT/l2/delta/cosine/pinned/join/p0/etrue/plan" -> "8815f39b7d52044f",
    "FLAT/l2/delta/ip/pinned/search/p0/efalse" -> "f085c01efd4f4abf/8",
    "FLAT/l2/delta/ip/pinned/search/p0/efalse/plan" -> "027d07272da37c40",
    "FLAT/l2/delta/ip/pinned/search/p0/etrue" -> "dc8dd0352bb4e780/8",
    "FLAT/l2/delta/ip/pinned/search/p0/etrue/plan" -> "2402016b137be1a5",
    "FLAT/l2/delta/ip/pinned/join/p0/efalse" -> "ba21f8d377d8c8b8/32",
    "FLAT/l2/delta/ip/pinned/join/p0/efalse/plan" -> "84f55222de14129b",
    "FLAT/l2/delta/ip/pinned/join/p0/etrue" -> "cefa0e255601c73e/32",
    "FLAT/l2/delta/ip/pinned/join/p0/etrue/plan" -> "3f8f34812bd161ac",
    "FLAT/l2/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=FLAT",
    "FLAT/l2/rebuild/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "FLAT/l2/rebuild/l2/unpinned/search/p0/efalse/plan" -> "e3e3d0848d34f8da",
    "FLAT/l2/rebuild/l2/unpinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "FLAT/l2/rebuild/l2/unpinned/search/p0/etrue/plan" -> "f54330dcddbaa85a",
    "FLAT/l2/rebuild/l2/unpinned/join/p0/efalse" -> "c71a68cad7fc9f18/32",
    "FLAT/l2/rebuild/l2/unpinned/join/p0/efalse/plan" -> "931a50a31f8fc657",
    "FLAT/l2/rebuild/l2/unpinned/join/p0/etrue" -> "b8e2ae332c80f879/32",
    "FLAT/l2/rebuild/l2/unpinned/join/p0/etrue/plan" -> "6a3609da023420ea",
    "FLAT/l2/rebuild/cosine/unpinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "FLAT/l2/rebuild/cosine/unpinned/search/p0/efalse/plan" -> "b8e39b3331d85575",
    "FLAT/l2/rebuild/cosine/unpinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "FLAT/l2/rebuild/cosine/unpinned/search/p0/etrue/plan" -> "2436e29644ca51d6",
    "FLAT/l2/rebuild/cosine/unpinned/join/p0/efalse" -> "8807e12f00d4d249/32",
    "FLAT/l2/rebuild/cosine/unpinned/join/p0/efalse/plan" -> "fd0c28d08f3db68d",
    "FLAT/l2/rebuild/cosine/unpinned/join/p0/etrue" -> "7075f139ddc63cf2/32",
    "FLAT/l2/rebuild/cosine/unpinned/join/p0/etrue/plan" -> "7e953bdae2f69aa3",
    "FLAT/l2/rebuild/ip/unpinned/search/p0/efalse" -> "265580587a4f716a/8",
    "FLAT/l2/rebuild/ip/unpinned/search/p0/efalse/plan" -> "b40b1b54429a7fed",
    "FLAT/l2/rebuild/ip/unpinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "FLAT/l2/rebuild/ip/unpinned/search/p0/etrue/plan" -> "ac8195eb52c5950a",
    "FLAT/l2/rebuild/ip/unpinned/join/p0/efalse" -> "fe37d6276dd9f1a5/32",
    "FLAT/l2/rebuild/ip/unpinned/join/p0/efalse/plan" -> "0119a3fe8d18998c",
    "FLAT/l2/rebuild/ip/unpinned/join/p0/etrue" -> "5466b0e2c41f1db4/32",
    "FLAT/l2/rebuild/ip/unpinned/join/p0/etrue/plan" -> "21d0c202201462bb",
    "FLAT/l2/rebuild/l2/dedup/efalse" -> "02a241e9af14606d/1760",
    "FLAT/l2/rebuild/l2/dedup/efalse/plan" -> "bca0b08e31039e4c",
    "FLAT/l2/rebuild/l2/dedup/etrue" -> "463ed8c52a1baa7b/1760",
    "FLAT/l2/rebuild/l2/dedup/etrue/plan" -> "8ef4ab322914cac1",
    "FLAT/l2/rebuild/cosine/dedup/efalse" -> "6f5eb58bc4ece9df/1760",
    "FLAT/l2/rebuild/cosine/dedup/efalse/plan" -> "b3bd955f3243f124",
    "FLAT/l2/rebuild/cosine/dedup/etrue" -> "eb04b07e12609260/1760",
    "FLAT/l2/rebuild/cosine/dedup/etrue/plan" -> "e07a680c2b03c400",
    "FLAT/l2/rebuild/ip/dedup/efalse" -> "aa547a00f9bb585a/1760",
    "FLAT/l2/rebuild/ip/dedup/efalse/plan" -> "aec9e921baf47f80",
    "FLAT/l2/rebuild/ip/dedup/etrue" -> "83bf5e882f1efb9e/1760",
    "FLAT/l2/rebuild/ip/dedup/etrue/plan" -> "f8b3f6d4661abb44",
    "FLAT/l2/rebuild/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "FLAT/l2/rebuild/l2/pinned/search/p0/efalse/plan" -> "e3e3d0848d34f8da",
    "FLAT/l2/rebuild/l2/pinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "FLAT/l2/rebuild/l2/pinned/search/p0/etrue/plan" -> "f54330dcddbaa85a",
    "FLAT/l2/rebuild/l2/pinned/join/p0/efalse" -> "c71a68cad7fc9f18/32",
    "FLAT/l2/rebuild/l2/pinned/join/p0/efalse/plan" -> "931a50a31f8fc657",
    "FLAT/l2/rebuild/l2/pinned/join/p0/etrue" -> "b8e2ae332c80f879/32",
    "FLAT/l2/rebuild/l2/pinned/join/p0/etrue/plan" -> "6a3609da023420ea",
    "FLAT/l2/rebuild/cosine/pinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "FLAT/l2/rebuild/cosine/pinned/search/p0/efalse/plan" -> "b8e39b3331d85575",
    "FLAT/l2/rebuild/cosine/pinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "FLAT/l2/rebuild/cosine/pinned/search/p0/etrue/plan" -> "2436e29644ca51d6",
    "FLAT/l2/rebuild/cosine/pinned/join/p0/efalse" -> "8807e12f00d4d249/32",
    "FLAT/l2/rebuild/cosine/pinned/join/p0/efalse/plan" -> "fd0c28d08f3db68d",
    "FLAT/l2/rebuild/cosine/pinned/join/p0/etrue" -> "7075f139ddc63cf2/32",
    "FLAT/l2/rebuild/cosine/pinned/join/p0/etrue/plan" -> "7e953bdae2f69aa3",
    "FLAT/l2/rebuild/ip/pinned/search/p0/efalse" -> "265580587a4f716a/8",
    "FLAT/l2/rebuild/ip/pinned/search/p0/efalse/plan" -> "b40b1b54429a7fed",
    "FLAT/l2/rebuild/ip/pinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "FLAT/l2/rebuild/ip/pinned/search/p0/etrue/plan" -> "ac8195eb52c5950a",
    "FLAT/l2/rebuild/ip/pinned/join/p0/efalse" -> "fe37d6276dd9f1a5/32",
    "FLAT/l2/rebuild/ip/pinned/join/p0/efalse/plan" -> "0119a3fe8d18998c",
    "FLAT/l2/rebuild/ip/pinned/join/p0/etrue" -> "5466b0e2c41f1db4/32",
    "FLAT/l2/rebuild/ip/pinned/join/p0/etrue/plan" -> "21d0c202201462bb",
    "FLAT/l2/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=FLAT",
    "FLAT/l2/optimize/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "FLAT/l2/optimize/l2/unpinned/search/p0/efalse/plan" -> "e3e3d0848d34f8da",
    "FLAT/l2/optimize/l2/unpinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "FLAT/l2/optimize/l2/unpinned/search/p0/etrue/plan" -> "f54330dcddbaa85a",
    "FLAT/l2/optimize/l2/unpinned/join/p0/efalse" -> "c71a68cad7fc9f18/32",
    "FLAT/l2/optimize/l2/unpinned/join/p0/efalse/plan" -> "931a50a31f8fc657",
    "FLAT/l2/optimize/l2/unpinned/join/p0/etrue" -> "b8e2ae332c80f879/32",
    "FLAT/l2/optimize/l2/unpinned/join/p0/etrue/plan" -> "6a3609da023420ea",
    "FLAT/l2/optimize/cosine/unpinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "FLAT/l2/optimize/cosine/unpinned/search/p0/efalse/plan" -> "b8e39b3331d85575",
    "FLAT/l2/optimize/cosine/unpinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "FLAT/l2/optimize/cosine/unpinned/search/p0/etrue/plan" -> "2436e29644ca51d6",
    "FLAT/l2/optimize/cosine/unpinned/join/p0/efalse" -> "8807e12f00d4d249/32",
    "FLAT/l2/optimize/cosine/unpinned/join/p0/efalse/plan" -> "fd0c28d08f3db68d",
    "FLAT/l2/optimize/cosine/unpinned/join/p0/etrue" -> "7075f139ddc63cf2/32",
    "FLAT/l2/optimize/cosine/unpinned/join/p0/etrue/plan" -> "7e953bdae2f69aa3",
    "FLAT/l2/optimize/ip/unpinned/search/p0/efalse" -> "265580587a4f716a/8",
    "FLAT/l2/optimize/ip/unpinned/search/p0/efalse/plan" -> "b40b1b54429a7fed",
    "FLAT/l2/optimize/ip/unpinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "FLAT/l2/optimize/ip/unpinned/search/p0/etrue/plan" -> "ac8195eb52c5950a",
    "FLAT/l2/optimize/ip/unpinned/join/p0/efalse" -> "fe37d6276dd9f1a5/32",
    "FLAT/l2/optimize/ip/unpinned/join/p0/efalse/plan" -> "0119a3fe8d18998c",
    "FLAT/l2/optimize/ip/unpinned/join/p0/etrue" -> "5466b0e2c41f1db4/32",
    "FLAT/l2/optimize/ip/unpinned/join/p0/etrue/plan" -> "21d0c202201462bb",
    "FLAT/l2/optimize/l2/dedup/efalse" -> "02a241e9af14606d/1760",
    "FLAT/l2/optimize/l2/dedup/efalse/plan" -> "bca0b08e31039e4c",
    "FLAT/l2/optimize/l2/dedup/etrue" -> "463ed8c52a1baa7b/1760",
    "FLAT/l2/optimize/l2/dedup/etrue/plan" -> "8ef4ab322914cac1",
    "FLAT/l2/optimize/cosine/dedup/efalse" -> "6f5eb58bc4ece9df/1760",
    "FLAT/l2/optimize/cosine/dedup/efalse/plan" -> "b3bd955f3243f124",
    "FLAT/l2/optimize/cosine/dedup/etrue" -> "eb04b07e12609260/1760",
    "FLAT/l2/optimize/cosine/dedup/etrue/plan" -> "e07a680c2b03c400",
    "FLAT/l2/optimize/ip/dedup/efalse" -> "aa547a00f9bb585a/1760",
    "FLAT/l2/optimize/ip/dedup/efalse/plan" -> "aec9e921baf47f80",
    "FLAT/l2/optimize/ip/dedup/etrue" -> "83bf5e882f1efb9e/1760",
    "FLAT/l2/optimize/ip/dedup/etrue/plan" -> "f8b3f6d4661abb44",
    "FLAT/l2/optimize/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "FLAT/l2/optimize/l2/pinned/search/p0/efalse/plan" -> "e3e3d0848d34f8da",
    "FLAT/l2/optimize/l2/pinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "FLAT/l2/optimize/l2/pinned/search/p0/etrue/plan" -> "f54330dcddbaa85a",
    "FLAT/l2/optimize/l2/pinned/join/p0/efalse" -> "c71a68cad7fc9f18/32",
    "FLAT/l2/optimize/l2/pinned/join/p0/efalse/plan" -> "931a50a31f8fc657",
    "FLAT/l2/optimize/l2/pinned/join/p0/etrue" -> "b8e2ae332c80f879/32",
    "FLAT/l2/optimize/l2/pinned/join/p0/etrue/plan" -> "6a3609da023420ea",
    "FLAT/l2/optimize/cosine/pinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "FLAT/l2/optimize/cosine/pinned/search/p0/efalse/plan" -> "b8e39b3331d85575",
    "FLAT/l2/optimize/cosine/pinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "FLAT/l2/optimize/cosine/pinned/search/p0/etrue/plan" -> "2436e29644ca51d6",
    "FLAT/l2/optimize/cosine/pinned/join/p0/efalse" -> "8807e12f00d4d249/32",
    "FLAT/l2/optimize/cosine/pinned/join/p0/efalse/plan" -> "fd0c28d08f3db68d",
    "FLAT/l2/optimize/cosine/pinned/join/p0/etrue" -> "7075f139ddc63cf2/32",
    "FLAT/l2/optimize/cosine/pinned/join/p0/etrue/plan" -> "7e953bdae2f69aa3",
    "FLAT/l2/optimize/ip/pinned/search/p0/efalse" -> "265580587a4f716a/8",
    "FLAT/l2/optimize/ip/pinned/search/p0/efalse/plan" -> "b40b1b54429a7fed",
    "FLAT/l2/optimize/ip/pinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "FLAT/l2/optimize/ip/pinned/search/p0/etrue/plan" -> "ac8195eb52c5950a",
    "FLAT/l2/optimize/ip/pinned/join/p0/efalse" -> "fe37d6276dd9f1a5/32",
    "FLAT/l2/optimize/ip/pinned/join/p0/efalse/plan" -> "0119a3fe8d18998c",
    "FLAT/l2/optimize/ip/pinned/join/p0/etrue" -> "5466b0e2c41f1db4/32",
    "FLAT/l2/optimize/ip/pinned/join/p0/etrue/plan" -> "21d0c202201462bb",
    "IVF/l2/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,type=IVF",
    "IVF/l2/create/l2/unpinned/search/p0/efalse" -> "44bb558d97432b07/8",
    "IVF/l2/create/l2/unpinned/search/p0/efalse/plan" -> "308c8d86dff5bd28",
    "IVF/l2/create/l2/unpinned/search/p0/etrue" -> "362a4871e0d47481/8",
    "IVF/l2/create/l2/unpinned/search/p0/etrue/plan" -> "0d59b810aaacbfb7",
    "IVF/l2/create/l2/unpinned/join/p0/efalse" -> "bea9efc35616630d/32",
    "IVF/l2/create/l2/unpinned/join/p0/efalse/plan" -> "5d9c0ea608e2d260",
    "IVF/l2/create/l2/unpinned/join/p0/etrue" -> "e976988f6cbc9526/32",
    "IVF/l2/create/l2/unpinned/join/p0/etrue/plan" -> "c607b39215d60dfe",
    "IVF/l2/create/cosine/unpinned/search/p0/efalse" -> "e9b9dab64a1ae78c/8",
    "IVF/l2/create/cosine/unpinned/search/p0/efalse/plan" -> "6acf97c6782fc0d1",
    "IVF/l2/create/cosine/unpinned/search/p0/etrue" -> "1807871ffea74d8f/8",
    "IVF/l2/create/cosine/unpinned/search/p0/etrue/plan" -> "44322aaf81006afa",
    "IVF/l2/create/cosine/unpinned/join/p0/efalse" -> "9c59d568c5586956/32",
    "IVF/l2/create/cosine/unpinned/join/p0/efalse/plan" -> "43c729bf696d0fb9",
    "IVF/l2/create/cosine/unpinned/join/p0/etrue" -> "52b9f3d9cb4afae6/32",
    "IVF/l2/create/cosine/unpinned/join/p0/etrue/plan" -> "ca8fae54cfc1403f",
    "IVF/l2/create/ip/unpinned/search/p0/efalse" -> "f6f9672570731fb8/8",
    "IVF/l2/create/ip/unpinned/search/p0/efalse/plan" -> "4ac9ce86679552e3",
    "IVF/l2/create/ip/unpinned/search/p0/etrue" -> "39bc3eb76ba12e0d/8",
    "IVF/l2/create/ip/unpinned/search/p0/etrue/plan" -> "cfd0cda6a9e88af6",
    "IVF/l2/create/ip/unpinned/join/p0/efalse" -> "a45e075be815739d/32",
    "IVF/l2/create/ip/unpinned/join/p0/efalse/plan" -> "36dcfdad2d9b5712",
    "IVF/l2/create/ip/unpinned/join/p0/etrue" -> "97c0d0302b7144c2/32",
    "IVF/l2/create/ip/unpinned/join/p0/etrue/plan" -> "5bc769d4c6af3e32",
    "IVF/l2/create/l2/dedup/efalse" -> "86cb8d0d9afaf85c/1100",
    "IVF/l2/create/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVF/l2/create/l2/dedup/etrue" -> "c9b6f80227f46a64/1100",
    "IVF/l2/create/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVF/l2/create/cosine/dedup/efalse" -> "23bfa8ec15ebbb29/1100",
    "IVF/l2/create/cosine/dedup/efalse/plan" -> "60ad466ae3d1ce01",
    "IVF/l2/create/cosine/dedup/etrue" -> "153ad4054317448c/1100",
    "IVF/l2/create/cosine/dedup/etrue/plan" -> "32dd7d7e5a913946",
    "IVF/l2/create/ip/dedup/efalse" -> "3ed22f31514719d5/1100",
    "IVF/l2/create/ip/dedup/efalse/plan" -> "be58fb3c70608548",
    "IVF/l2/create/ip/dedup/etrue" -> "5aabe39235abe3b1/1100",
    "IVF/l2/create/ip/dedup/etrue/plan" -> "4687814a06d9d7fc",
    "IVF/l2/create/l2/pinned/search/p0/efalse" -> "44bb558d97432b07/8",
    "IVF/l2/create/l2/pinned/search/p0/efalse/plan" -> "27d5f4ec005da699",
    "IVF/l2/create/l2/pinned/search/p0/etrue" -> "362a4871e0d47481/8",
    "IVF/l2/create/l2/pinned/search/p0/etrue/plan" -> "4356270b0b0bc107",
    "IVF/l2/create/l2/pinned/join/p0/efalse" -> "bea9efc35616630d/32",
    "IVF/l2/create/l2/pinned/join/p0/efalse/plan" -> "145178bcf1776cf4",
    "IVF/l2/create/l2/pinned/join/p0/etrue" -> "e976988f6cbc9526/32",
    "IVF/l2/create/l2/pinned/join/p0/etrue/plan" -> "e15f2b1b0cfdcbf1",
    "IVF/l2/create/cosine/pinned/search/p0/efalse" -> "e9b9dab64a1ae78c/8",
    "IVF/l2/create/cosine/pinned/search/p0/efalse/plan" -> "38594251a0f4021a",
    "IVF/l2/create/cosine/pinned/search/p0/etrue" -> "1807871ffea74d8f/8",
    "IVF/l2/create/cosine/pinned/search/p0/etrue/plan" -> "e0c839687475a90d",
    "IVF/l2/create/cosine/pinned/join/p0/efalse" -> "9c59d568c5586956/32",
    "IVF/l2/create/cosine/pinned/join/p0/efalse/plan" -> "e6dae24776eb81cc",
    "IVF/l2/create/cosine/pinned/join/p0/etrue" -> "52b9f3d9cb4afae6/32",
    "IVF/l2/create/cosine/pinned/join/p0/etrue/plan" -> "060243905ba5afe9",
    "IVF/l2/create/ip/pinned/search/p0/efalse" -> "f6f9672570731fb8/8",
    "IVF/l2/create/ip/pinned/search/p0/efalse/plan" -> "7ec0ea5d6fac7811",
    "IVF/l2/create/ip/pinned/search/p0/etrue" -> "39bc3eb76ba12e0d/8",
    "IVF/l2/create/ip/pinned/search/p0/etrue/plan" -> "57c416405b877fa6",
    "IVF/l2/create/ip/pinned/join/p0/efalse" -> "a45e075be815739d/32",
    "IVF/l2/create/ip/pinned/join/p0/efalse/plan" -> "f37991ec9956ca31",
    "IVF/l2/create/ip/pinned/join/p0/etrue" -> "97c0d0302b7144c2/32",
    "IVF/l2/create/ip/pinned/join/p0/etrue/plan" -> "e2b45b2dab0ef6fd",
    "IVF/l2/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=IVF",
    "IVF/l2/delta/l2/unpinned/search/p0/efalse" -> "b1b32d0291a2f563/8",
    "IVF/l2/delta/l2/unpinned/search/p0/efalse/plan" -> "308c8d86dff5bd28",
    "IVF/l2/delta/l2/unpinned/search/p0/etrue" -> "536ceed75f7de5ec/8",
    "IVF/l2/delta/l2/unpinned/search/p0/etrue/plan" -> "0d59b810aaacbfb7",
    "IVF/l2/delta/l2/unpinned/join/p0/efalse" -> "276609dff4cc5737/32",
    "IVF/l2/delta/l2/unpinned/join/p0/efalse/plan" -> "5d9c0ea608e2d260",
    "IVF/l2/delta/l2/unpinned/join/p0/etrue" -> "21194ee7e68acad7/32",
    "IVF/l2/delta/l2/unpinned/join/p0/etrue/plan" -> "c607b39215d60dfe",
    "IVF/l2/delta/cosine/unpinned/search/p0/efalse" -> "cffd6aed63f41ff0/8",
    "IVF/l2/delta/cosine/unpinned/search/p0/efalse/plan" -> "6acf97c6782fc0d1",
    "IVF/l2/delta/cosine/unpinned/search/p0/etrue" -> "a17c41a5d78df4da/8",
    "IVF/l2/delta/cosine/unpinned/search/p0/etrue/plan" -> "44322aaf81006afa",
    "IVF/l2/delta/cosine/unpinned/join/p0/efalse" -> "f904ab4a4b29021c/32",
    "IVF/l2/delta/cosine/unpinned/join/p0/efalse/plan" -> "43c729bf696d0fb9",
    "IVF/l2/delta/cosine/unpinned/join/p0/etrue" -> "fd9be8b1cc82256f/32",
    "IVF/l2/delta/cosine/unpinned/join/p0/etrue/plan" -> "ca8fae54cfc1403f",
    "IVF/l2/delta/ip/unpinned/search/p0/efalse" -> "f6f9672570731fb8/8",
    "IVF/l2/delta/ip/unpinned/search/p0/efalse/plan" -> "4ac9ce86679552e3",
    "IVF/l2/delta/ip/unpinned/search/p0/etrue" -> "39bc3eb76ba12e0d/8",
    "IVF/l2/delta/ip/unpinned/search/p0/etrue/plan" -> "cfd0cda6a9e88af6",
    "IVF/l2/delta/ip/unpinned/join/p0/efalse" -> "6cd113ee2d8d2d16/32",
    "IVF/l2/delta/ip/unpinned/join/p0/efalse/plan" -> "36dcfdad2d9b5712",
    "IVF/l2/delta/ip/unpinned/join/p0/etrue" -> "b83eae01706a9b60/32",
    "IVF/l2/delta/ip/unpinned/join/p0/etrue/plan" -> "5bc769d4c6af3e32",
    "IVF/l2/delta/l2/dedup/efalse" -> "f14d84ad0b16a698/1160",
    "IVF/l2/delta/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVF/l2/delta/l2/dedup/etrue" -> "74227d45caa56613/1160",
    "IVF/l2/delta/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVF/l2/delta/cosine/dedup/efalse" -> "3a2f3a80867fc0a0/1160",
    "IVF/l2/delta/cosine/dedup/efalse/plan" -> "60ad466ae3d1ce01",
    "IVF/l2/delta/cosine/dedup/etrue" -> "bbc8ced9f8a6e39d/1160",
    "IVF/l2/delta/cosine/dedup/etrue/plan" -> "32dd7d7e5a913946",
    "IVF/l2/delta/ip/dedup/efalse" -> "950dbcdfef1f3e3f/1160",
    "IVF/l2/delta/ip/dedup/efalse/plan" -> "be58fb3c70608548",
    "IVF/l2/delta/ip/dedup/etrue" -> "f624750c000a20a6/1160",
    "IVF/l2/delta/ip/dedup/etrue/plan" -> "4687814a06d9d7fc",
    "IVF/l2/delta/l2/pinned/search/p0/efalse" -> "b1b32d0291a2f563/8",
    "IVF/l2/delta/l2/pinned/search/p0/efalse/plan" -> "27d5f4ec005da699",
    "IVF/l2/delta/l2/pinned/search/p0/etrue" -> "536ceed75f7de5ec/8",
    "IVF/l2/delta/l2/pinned/search/p0/etrue/plan" -> "4356270b0b0bc107",
    "IVF/l2/delta/l2/pinned/join/p0/efalse" -> "276609dff4cc5737/32",
    "IVF/l2/delta/l2/pinned/join/p0/efalse/plan" -> "145178bcf1776cf4",
    "IVF/l2/delta/l2/pinned/join/p0/etrue" -> "21194ee7e68acad7/32",
    "IVF/l2/delta/l2/pinned/join/p0/etrue/plan" -> "e15f2b1b0cfdcbf1",
    "IVF/l2/delta/cosine/pinned/search/p0/efalse" -> "cffd6aed63f41ff0/8",
    "IVF/l2/delta/cosine/pinned/search/p0/efalse/plan" -> "38594251a0f4021a",
    "IVF/l2/delta/cosine/pinned/search/p0/etrue" -> "a17c41a5d78df4da/8",
    "IVF/l2/delta/cosine/pinned/search/p0/etrue/plan" -> "e0c839687475a90d",
    "IVF/l2/delta/cosine/pinned/join/p0/efalse" -> "f904ab4a4b29021c/32",
    "IVF/l2/delta/cosine/pinned/join/p0/efalse/plan" -> "e6dae24776eb81cc",
    "IVF/l2/delta/cosine/pinned/join/p0/etrue" -> "fd9be8b1cc82256f/32",
    "IVF/l2/delta/cosine/pinned/join/p0/etrue/plan" -> "060243905ba5afe9",
    "IVF/l2/delta/ip/pinned/search/p0/efalse" -> "f6f9672570731fb8/8",
    "IVF/l2/delta/ip/pinned/search/p0/efalse/plan" -> "7ec0ea5d6fac7811",
    "IVF/l2/delta/ip/pinned/search/p0/etrue" -> "39bc3eb76ba12e0d/8",
    "IVF/l2/delta/ip/pinned/search/p0/etrue/plan" -> "57c416405b877fa6",
    "IVF/l2/delta/ip/pinned/join/p0/efalse" -> "6cd113ee2d8d2d16/32",
    "IVF/l2/delta/ip/pinned/join/p0/efalse/plan" -> "f37991ec9956ca31",
    "IVF/l2/delta/ip/pinned/join/p0/etrue" -> "b83eae01706a9b60/32",
    "IVF/l2/delta/ip/pinned/join/p0/etrue/plan" -> "e2b45b2dab0ef6fd",
    "IVF/l2/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=1,type=IVF",
    "IVF/l2/rebuild/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVF/l2/rebuild/l2/unpinned/search/p0/efalse/plan" -> "308c8d86dff5bd28",
    "IVF/l2/rebuild/l2/unpinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "IVF/l2/rebuild/l2/unpinned/search/p0/etrue/plan" -> "0d59b810aaacbfb7",
    "IVF/l2/rebuild/l2/unpinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVF/l2/rebuild/l2/unpinned/join/p0/efalse/plan" -> "9d4dbe3da346f604",
    "IVF/l2/rebuild/l2/unpinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVF/l2/rebuild/l2/unpinned/join/p0/etrue/plan" -> "30c76357fb0ed210",
    "IVF/l2/rebuild/cosine/unpinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "IVF/l2/rebuild/cosine/unpinned/search/p0/efalse/plan" -> "6acf97c6782fc0d1",
    "IVF/l2/rebuild/cosine/unpinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "IVF/l2/rebuild/cosine/unpinned/search/p0/etrue/plan" -> "44322aaf81006afa",
    "IVF/l2/rebuild/cosine/unpinned/join/p0/efalse" -> "6006a7fdf1396b59/32",
    "IVF/l2/rebuild/cosine/unpinned/join/p0/efalse/plan" -> "afbd3d0454f06f96",
    "IVF/l2/rebuild/cosine/unpinned/join/p0/etrue" -> "781800052a8cd0db/32",
    "IVF/l2/rebuild/cosine/unpinned/join/p0/etrue/plan" -> "69f5442c5508f637",
    "IVF/l2/rebuild/ip/unpinned/search/p0/efalse" -> "265580587a4f716a/8",
    "IVF/l2/rebuild/ip/unpinned/search/p0/efalse/plan" -> "4ac9ce86679552e3",
    "IVF/l2/rebuild/ip/unpinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "IVF/l2/rebuild/ip/unpinned/search/p0/etrue/plan" -> "cfd0cda6a9e88af6",
    "IVF/l2/rebuild/ip/unpinned/join/p0/efalse" -> "cd1dafb91614cb30/32",
    "IVF/l2/rebuild/ip/unpinned/join/p0/efalse/plan" -> "f9b29917d171d9ec",
    "IVF/l2/rebuild/ip/unpinned/join/p0/etrue" -> "cf296e3937825ac9/32",
    "IVF/l2/rebuild/ip/unpinned/join/p0/etrue/plan" -> "21bca403be80d242",
    "IVF/l2/rebuild/l2/dedup/efalse" -> "df4ff9bf212a1696/1760",
    "IVF/l2/rebuild/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVF/l2/rebuild/l2/dedup/etrue" -> "58b81b5695a55f62/1760",
    "IVF/l2/rebuild/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVF/l2/rebuild/cosine/dedup/efalse" -> "a938841f11450f71/1760",
    "IVF/l2/rebuild/cosine/dedup/efalse/plan" -> "60ad466ae3d1ce01",
    "IVF/l2/rebuild/cosine/dedup/etrue" -> "795fe8310a636035/1760",
    "IVF/l2/rebuild/cosine/dedup/etrue/plan" -> "32dd7d7e5a913946",
    "IVF/l2/rebuild/ip/dedup/efalse" -> "5a3921da36f17595/1760",
    "IVF/l2/rebuild/ip/dedup/efalse/plan" -> "be58fb3c70608548",
    "IVF/l2/rebuild/ip/dedup/etrue" -> "c6ac250b52a2b835/1760",
    "IVF/l2/rebuild/ip/dedup/etrue/plan" -> "4687814a06d9d7fc",
    "IVF/l2/rebuild/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVF/l2/rebuild/l2/pinned/search/p0/efalse/plan" -> "27d5f4ec005da699",
    "IVF/l2/rebuild/l2/pinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "IVF/l2/rebuild/l2/pinned/search/p0/etrue/plan" -> "4356270b0b0bc107",
    "IVF/l2/rebuild/l2/pinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVF/l2/rebuild/l2/pinned/join/p0/efalse/plan" -> "1143f37b45f6ddb3",
    "IVF/l2/rebuild/l2/pinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVF/l2/rebuild/l2/pinned/join/p0/etrue/plan" -> "9e01d20379e8b183",
    "IVF/l2/rebuild/cosine/pinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "IVF/l2/rebuild/cosine/pinned/search/p0/efalse/plan" -> "38594251a0f4021a",
    "IVF/l2/rebuild/cosine/pinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "IVF/l2/rebuild/cosine/pinned/search/p0/etrue/plan" -> "e0c839687475a90d",
    "IVF/l2/rebuild/cosine/pinned/join/p0/efalse" -> "6006a7fdf1396b59/32",
    "IVF/l2/rebuild/cosine/pinned/join/p0/efalse/plan" -> "f4090234ea5273eb",
    "IVF/l2/rebuild/cosine/pinned/join/p0/etrue" -> "781800052a8cd0db/32",
    "IVF/l2/rebuild/cosine/pinned/join/p0/etrue/plan" -> "7f6c1af8d11e7fe8",
    "IVF/l2/rebuild/ip/pinned/search/p0/efalse" -> "265580587a4f716a/8",
    "IVF/l2/rebuild/ip/pinned/search/p0/efalse/plan" -> "7ec0ea5d6fac7811",
    "IVF/l2/rebuild/ip/pinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "IVF/l2/rebuild/ip/pinned/search/p0/etrue/plan" -> "57c416405b877fa6",
    "IVF/l2/rebuild/ip/pinned/join/p0/efalse" -> "cd1dafb91614cb30/32",
    "IVF/l2/rebuild/ip/pinned/join/p0/efalse/plan" -> "8c30ffe4c063e2c2",
    "IVF/l2/rebuild/ip/pinned/join/p0/etrue" -> "cf296e3937825ac9/32",
    "IVF/l2/rebuild/ip/pinned/join/p0/etrue/plan" -> "b734018179c15f40",
    "IVF/l2/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=2,type=IVF",
    "IVF/l2/optimize/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVF/l2/optimize/l2/unpinned/search/p0/efalse/plan" -> "308c8d86dff5bd28",
    "IVF/l2/optimize/l2/unpinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "IVF/l2/optimize/l2/unpinned/search/p0/etrue/plan" -> "0d59b810aaacbfb7",
    "IVF/l2/optimize/l2/unpinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVF/l2/optimize/l2/unpinned/join/p0/efalse/plan" -> "9d4dbe3da346f604",
    "IVF/l2/optimize/l2/unpinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVF/l2/optimize/l2/unpinned/join/p0/etrue/plan" -> "30c76357fb0ed210",
    "IVF/l2/optimize/cosine/unpinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "IVF/l2/optimize/cosine/unpinned/search/p0/efalse/plan" -> "6acf97c6782fc0d1",
    "IVF/l2/optimize/cosine/unpinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "IVF/l2/optimize/cosine/unpinned/search/p0/etrue/plan" -> "44322aaf81006afa",
    "IVF/l2/optimize/cosine/unpinned/join/p0/efalse" -> "6006a7fdf1396b59/32",
    "IVF/l2/optimize/cosine/unpinned/join/p0/efalse/plan" -> "afbd3d0454f06f96",
    "IVF/l2/optimize/cosine/unpinned/join/p0/etrue" -> "781800052a8cd0db/32",
    "IVF/l2/optimize/cosine/unpinned/join/p0/etrue/plan" -> "69f5442c5508f637",
    "IVF/l2/optimize/ip/unpinned/search/p0/efalse" -> "265580587a4f716a/8",
    "IVF/l2/optimize/ip/unpinned/search/p0/efalse/plan" -> "4ac9ce86679552e3",
    "IVF/l2/optimize/ip/unpinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "IVF/l2/optimize/ip/unpinned/search/p0/etrue/plan" -> "cfd0cda6a9e88af6",
    "IVF/l2/optimize/ip/unpinned/join/p0/efalse" -> "cd1dafb91614cb30/32",
    "IVF/l2/optimize/ip/unpinned/join/p0/efalse/plan" -> "f9b29917d171d9ec",
    "IVF/l2/optimize/ip/unpinned/join/p0/etrue" -> "cf296e3937825ac9/32",
    "IVF/l2/optimize/ip/unpinned/join/p0/etrue/plan" -> "21bca403be80d242",
    "IVF/l2/optimize/l2/dedup/efalse" -> "df4ff9bf212a1696/1760",
    "IVF/l2/optimize/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVF/l2/optimize/l2/dedup/etrue" -> "58b81b5695a55f62/1760",
    "IVF/l2/optimize/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVF/l2/optimize/cosine/dedup/efalse" -> "a938841f11450f71/1760",
    "IVF/l2/optimize/cosine/dedup/efalse/plan" -> "60ad466ae3d1ce01",
    "IVF/l2/optimize/cosine/dedup/etrue" -> "795fe8310a636035/1760",
    "IVF/l2/optimize/cosine/dedup/etrue/plan" -> "32dd7d7e5a913946",
    "IVF/l2/optimize/ip/dedup/efalse" -> "5a3921da36f17595/1760",
    "IVF/l2/optimize/ip/dedup/efalse/plan" -> "be58fb3c70608548",
    "IVF/l2/optimize/ip/dedup/etrue" -> "c6ac250b52a2b835/1760",
    "IVF/l2/optimize/ip/dedup/etrue/plan" -> "4687814a06d9d7fc",
    "IVF/l2/optimize/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVF/l2/optimize/l2/pinned/search/p0/efalse/plan" -> "27d5f4ec005da699",
    "IVF/l2/optimize/l2/pinned/search/p0/etrue" -> "6ad466eb522e96cc/8",
    "IVF/l2/optimize/l2/pinned/search/p0/etrue/plan" -> "4356270b0b0bc107",
    "IVF/l2/optimize/l2/pinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVF/l2/optimize/l2/pinned/join/p0/efalse/plan" -> "1143f37b45f6ddb3",
    "IVF/l2/optimize/l2/pinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVF/l2/optimize/l2/pinned/join/p0/etrue/plan" -> "9e01d20379e8b183",
    "IVF/l2/optimize/cosine/pinned/search/p0/efalse" -> "6dad96ed186f4bb9/8",
    "IVF/l2/optimize/cosine/pinned/search/p0/efalse/plan" -> "38594251a0f4021a",
    "IVF/l2/optimize/cosine/pinned/search/p0/etrue" -> "4a5d50406e05793b/8",
    "IVF/l2/optimize/cosine/pinned/search/p0/etrue/plan" -> "e0c839687475a90d",
    "IVF/l2/optimize/cosine/pinned/join/p0/efalse" -> "6006a7fdf1396b59/32",
    "IVF/l2/optimize/cosine/pinned/join/p0/efalse/plan" -> "f4090234ea5273eb",
    "IVF/l2/optimize/cosine/pinned/join/p0/etrue" -> "781800052a8cd0db/32",
    "IVF/l2/optimize/cosine/pinned/join/p0/etrue/plan" -> "7f6c1af8d11e7fe8",
    "IVF/l2/optimize/ip/pinned/search/p0/efalse" -> "265580587a4f716a/8",
    "IVF/l2/optimize/ip/pinned/search/p0/efalse/plan" -> "7ec0ea5d6fac7811",
    "IVF/l2/optimize/ip/pinned/search/p0/etrue" -> "de2bee5e74cf8aac/8",
    "IVF/l2/optimize/ip/pinned/search/p0/etrue/plan" -> "57c416405b877fa6",
    "IVF/l2/optimize/ip/pinned/join/p0/efalse" -> "cd1dafb91614cb30/32",
    "IVF/l2/optimize/ip/pinned/join/p0/efalse/plan" -> "8c30ffe4c063e2c2",
    "IVF/l2/optimize/ip/pinned/join/p0/etrue" -> "cf296e3937825ac9/32",
    "IVF/l2/optimize/ip/pinned/join/p0/etrue/plan" -> "b734018179c15f40",
    "IVFPQ/l2/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,type=IVFPQ",
    "IVFPQ/l2/create/l2/unpinned/search/p0/efalse" -> "44bb558d97432b07/8",
    "IVFPQ/l2/create/l2/unpinned/search/p0/efalse/plan" -> "1b64e649da8e05ae",
    "IVFPQ/l2/create/l2/unpinned/join/p0/efalse" -> "bea9efc35616630d/32",
    "IVFPQ/l2/create/l2/unpinned/join/p0/efalse/plan" -> "5d9c0ea608e2d260",
    "IVFPQ/l2/create/l2/unpinned/join/p0/etrue" -> "e976988f6cbc9526/32",
    "IVFPQ/l2/create/l2/unpinned/join/p0/etrue/plan" -> "c607b39215d60dfe",
    "IVFPQ/l2/create/l2/dedup/efalse" -> "86cb8d0d9afaf85c/1100",
    "IVFPQ/l2/create/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVFPQ/l2/create/l2/dedup/etrue" -> "c9b6f80227f46a64/1100",
    "IVFPQ/l2/create/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVFPQ/l2/create/l2/pinned/search/p0/efalse" -> "44bb558d97432b07/8",
    "IVFPQ/l2/create/l2/pinned/search/p0/efalse/plan" -> "231429771afa4db6",
    "IVFPQ/l2/create/l2/pinned/join/p0/efalse" -> "bea9efc35616630d/32",
    "IVFPQ/l2/create/l2/pinned/join/p0/efalse/plan" -> "c8f5d8a70eb25f7c",
    "IVFPQ/l2/create/l2/pinned/join/p0/etrue" -> "e976988f6cbc9526/32",
    "IVFPQ/l2/create/l2/pinned/join/p0/etrue/plan" -> "4835fac49a377734",
    "IVFPQ/l2/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=IVFPQ",
    "IVFPQ/l2/delta/l2/unpinned/search/p0/efalse" -> "b1b32d0291a2f563/8",
    "IVFPQ/l2/delta/l2/unpinned/search/p0/efalse/plan" -> "1b64e649da8e05ae",
    "IVFPQ/l2/delta/l2/unpinned/join/p0/efalse" -> "276609dff4cc5737/32",
    "IVFPQ/l2/delta/l2/unpinned/join/p0/efalse/plan" -> "5d9c0ea608e2d260",
    "IVFPQ/l2/delta/l2/unpinned/join/p0/etrue" -> "21194ee7e68acad7/32",
    "IVFPQ/l2/delta/l2/unpinned/join/p0/etrue/plan" -> "c607b39215d60dfe",
    "IVFPQ/l2/delta/l2/dedup/efalse" -> "f14d84ad0b16a698/1160",
    "IVFPQ/l2/delta/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVFPQ/l2/delta/l2/dedup/etrue" -> "74227d45caa56613/1160",
    "IVFPQ/l2/delta/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVFPQ/l2/delta/l2/pinned/search/p0/efalse" -> "b1b32d0291a2f563/8",
    "IVFPQ/l2/delta/l2/pinned/search/p0/efalse/plan" -> "231429771afa4db6",
    "IVFPQ/l2/delta/l2/pinned/join/p0/efalse" -> "276609dff4cc5737/32",
    "IVFPQ/l2/delta/l2/pinned/join/p0/efalse/plan" -> "c8f5d8a70eb25f7c",
    "IVFPQ/l2/delta/l2/pinned/join/p0/etrue" -> "21194ee7e68acad7/32",
    "IVFPQ/l2/delta/l2/pinned/join/p0/etrue/plan" -> "4835fac49a377734",
    "IVFPQ/l2/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=1,type=IVFPQ",
    "IVFPQ/l2/rebuild/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVFPQ/l2/rebuild/l2/unpinned/search/p0/efalse/plan" -> "1b64e649da8e05ae",
    "IVFPQ/l2/rebuild/l2/unpinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVFPQ/l2/rebuild/l2/unpinned/join/p0/efalse/plan" -> "9d4dbe3da346f604",
    "IVFPQ/l2/rebuild/l2/unpinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVFPQ/l2/rebuild/l2/unpinned/join/p0/etrue/plan" -> "30c76357fb0ed210",
    "IVFPQ/l2/rebuild/l2/dedup/efalse" -> "df4ff9bf212a1696/1760",
    "IVFPQ/l2/rebuild/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVFPQ/l2/rebuild/l2/dedup/etrue" -> "58b81b5695a55f62/1760",
    "IVFPQ/l2/rebuild/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVFPQ/l2/rebuild/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVFPQ/l2/rebuild/l2/pinned/search/p0/efalse/plan" -> "231429771afa4db6",
    "IVFPQ/l2/rebuild/l2/pinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVFPQ/l2/rebuild/l2/pinned/join/p0/efalse/plan" -> "2ff8bbb9e58dadf1",
    "IVFPQ/l2/rebuild/l2/pinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVFPQ/l2/rebuild/l2/pinned/join/p0/etrue/plan" -> "c67b82670774f30a",
    "IVFPQ/l2/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=2,type=IVFPQ",
    "IVFPQ/l2/optimize/l2/unpinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVFPQ/l2/optimize/l2/unpinned/search/p0/efalse/plan" -> "1b64e649da8e05ae",
    "IVFPQ/l2/optimize/l2/unpinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVFPQ/l2/optimize/l2/unpinned/join/p0/efalse/plan" -> "9d4dbe3da346f604",
    "IVFPQ/l2/optimize/l2/unpinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVFPQ/l2/optimize/l2/unpinned/join/p0/etrue/plan" -> "30c76357fb0ed210",
    "IVFPQ/l2/optimize/l2/dedup/efalse" -> "df4ff9bf212a1696/1760",
    "IVFPQ/l2/optimize/l2/dedup/efalse/plan" -> "944683b703648ba5",
    "IVFPQ/l2/optimize/l2/dedup/etrue" -> "58b81b5695a55f62/1760",
    "IVFPQ/l2/optimize/l2/dedup/etrue/plan" -> "946a30ff731d5734",
    "IVFPQ/l2/optimize/l2/pinned/search/p0/efalse" -> "20d0fb82c267957b/8",
    "IVFPQ/l2/optimize/l2/pinned/search/p0/efalse/plan" -> "231429771afa4db6",
    "IVFPQ/l2/optimize/l2/pinned/join/p0/efalse" -> "e0a74480a8eb9b8d/32",
    "IVFPQ/l2/optimize/l2/pinned/join/p0/efalse/plan" -> "2ff8bbb9e58dadf1",
    "IVFPQ/l2/optimize/l2/pinned/join/p0/etrue" -> "af8776fd14a45947/32",
    "IVFPQ/l2/optimize/l2/pinned/join/p0/etrue/plan" -> "c67b82670774f30a",
    "IVFPQ/cosine/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,type=IVFPQ",
    "IVFPQ/cosine/create/cosine/unpinned/search/p0/efalse" -> "c73e47d5a3867655/8",
    "IVFPQ/cosine/create/cosine/unpinned/search/p0/efalse/plan" -> "4f6b91ce468bb6e2",
    "IVFPQ/cosine/create/cosine/unpinned/join/p0/efalse" -> "174f19c26ec228ea/32",
    "IVFPQ/cosine/create/cosine/unpinned/join/p0/efalse/plan" -> "d0e376e03ff9680d",
    "IVFPQ/cosine/create/cosine/unpinned/join/p0/etrue" -> "59f2fc33e27b1e89/32",
    "IVFPQ/cosine/create/cosine/unpinned/join/p0/etrue/plan" -> "029bb6e9dbb3868e",
    "IVFPQ/cosine/create/cosine/dedup/efalse" -> "7063bc12fdba097a/1100",
    "IVFPQ/cosine/create/cosine/dedup/efalse/plan" -> "82419cc56a03e8db",
    "IVFPQ/cosine/create/cosine/dedup/etrue" -> "d276cfcfa87fe631/1100",
    "IVFPQ/cosine/create/cosine/dedup/etrue/plan" -> "39a430f08514df21",
    "IVFPQ/cosine/create/cosine/pinned/search/p0/efalse" -> "c73e47d5a3867655/8",
    "IVFPQ/cosine/create/cosine/pinned/search/p0/efalse/plan" -> "c00503d0de07034f",
    "IVFPQ/cosine/create/cosine/pinned/join/p0/efalse" -> "174f19c26ec228ea/32",
    "IVFPQ/cosine/create/cosine/pinned/join/p0/efalse/plan" -> "a5560f07e7dc4448",
    "IVFPQ/cosine/create/cosine/pinned/join/p0/etrue" -> "59f2fc33e27b1e89/32",
    "IVFPQ/cosine/create/cosine/pinned/join/p0/etrue/plan" -> "2d175e2d1d03f391",
    "IVFPQ/cosine/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=0,type=IVFPQ",
    "IVFPQ/cosine/delta/cosine/unpinned/search/p0/efalse" -> "a9a6683279ec145c/8",
    "IVFPQ/cosine/delta/cosine/unpinned/search/p0/efalse/plan" -> "4f6b91ce468bb6e2",
    "IVFPQ/cosine/delta/cosine/unpinned/join/p0/efalse" -> "f2ce68092b86a438/32",
    "IVFPQ/cosine/delta/cosine/unpinned/join/p0/efalse/plan" -> "d0e376e03ff9680d",
    "IVFPQ/cosine/delta/cosine/unpinned/join/p0/etrue" -> "241ee14cea860eb4/32",
    "IVFPQ/cosine/delta/cosine/unpinned/join/p0/etrue/plan" -> "029bb6e9dbb3868e",
    "IVFPQ/cosine/delta/cosine/dedup/efalse" -> "1ed46cdaab3bc207/1160",
    "IVFPQ/cosine/delta/cosine/dedup/efalse/plan" -> "82419cc56a03e8db",
    "IVFPQ/cosine/delta/cosine/dedup/etrue" -> "9519c8a3941e49c9/1160",
    "IVFPQ/cosine/delta/cosine/dedup/etrue/plan" -> "39a430f08514df21",
    "IVFPQ/cosine/delta/cosine/pinned/search/p0/efalse" -> "a9a6683279ec145c/8",
    "IVFPQ/cosine/delta/cosine/pinned/search/p0/efalse/plan" -> "c00503d0de07034f",
    "IVFPQ/cosine/delta/cosine/pinned/join/p0/efalse" -> "f2ce68092b86a438/32",
    "IVFPQ/cosine/delta/cosine/pinned/join/p0/efalse/plan" -> "a5560f07e7dc4448",
    "IVFPQ/cosine/delta/cosine/pinned/join/p0/etrue" -> "241ee14cea860eb4/32",
    "IVFPQ/cosine/delta/cosine/pinned/join/p0/etrue/plan" -> "2d175e2d1d03f391",
    "IVFPQ/cosine/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=1,type=IVFPQ",
    "IVFPQ/cosine/rebuild/cosine/unpinned/search/p0/efalse" -> "1744a1711c4980b6/8",
    "IVFPQ/cosine/rebuild/cosine/unpinned/search/p0/efalse/plan" -> "4f6b91ce468bb6e2",
    "IVFPQ/cosine/rebuild/cosine/unpinned/join/p0/efalse" -> "ed44714dddcd5029/32",
    "IVFPQ/cosine/rebuild/cosine/unpinned/join/p0/efalse/plan" -> "cb1735e8566092df",
    "IVFPQ/cosine/rebuild/cosine/unpinned/join/p0/etrue" -> "343f04fd738ccb4c/32",
    "IVFPQ/cosine/rebuild/cosine/unpinned/join/p0/etrue/plan" -> "c447e0c09e0b263a",
    "IVFPQ/cosine/rebuild/cosine/dedup/efalse" -> "ad42c7a5d87c8429/1760",
    "IVFPQ/cosine/rebuild/cosine/dedup/efalse/plan" -> "82419cc56a03e8db",
    "IVFPQ/cosine/rebuild/cosine/dedup/etrue" -> "3bb24ef492b40112/1760",
    "IVFPQ/cosine/rebuild/cosine/dedup/etrue/plan" -> "39a430f08514df21",
    "IVFPQ/cosine/rebuild/cosine/pinned/search/p0/efalse" -> "1744a1711c4980b6/8",
    "IVFPQ/cosine/rebuild/cosine/pinned/search/p0/efalse/plan" -> "c00503d0de07034f",
    "IVFPQ/cosine/rebuild/cosine/pinned/join/p0/efalse" -> "ed44714dddcd5029/32",
    "IVFPQ/cosine/rebuild/cosine/pinned/join/p0/efalse/plan" -> "30f6967e3aa005cb",
    "IVFPQ/cosine/rebuild/cosine/pinned/join/p0/etrue" -> "343f04fd738ccb4c/32",
    "IVFPQ/cosine/rebuild/cosine/pinned/join/p0/etrue/plan" -> "a754dcf86f43886b",
    "IVFPQ/cosine/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=2,type=IVFPQ",
    "IVFPQ/cosine/optimize/cosine/unpinned/search/p0/efalse" -> "1744a1711c4980b6/8",
    "IVFPQ/cosine/optimize/cosine/unpinned/search/p0/efalse/plan" -> "4f6b91ce468bb6e2",
    "IVFPQ/cosine/optimize/cosine/unpinned/join/p0/efalse" -> "ed44714dddcd5029/32",
    "IVFPQ/cosine/optimize/cosine/unpinned/join/p0/efalse/plan" -> "cb1735e8566092df",
    "IVFPQ/cosine/optimize/cosine/unpinned/join/p0/etrue" -> "343f04fd738ccb4c/32",
    "IVFPQ/cosine/optimize/cosine/unpinned/join/p0/etrue/plan" -> "c447e0c09e0b263a",
    "IVFPQ/cosine/optimize/cosine/dedup/efalse" -> "ad42c7a5d87c8429/1760",
    "IVFPQ/cosine/optimize/cosine/dedup/efalse/plan" -> "82419cc56a03e8db",
    "IVFPQ/cosine/optimize/cosine/dedup/etrue" -> "3bb24ef492b40112/1760",
    "IVFPQ/cosine/optimize/cosine/dedup/etrue/plan" -> "39a430f08514df21",
    "IVFPQ/cosine/optimize/cosine/pinned/search/p0/efalse" -> "1744a1711c4980b6/8",
    "IVFPQ/cosine/optimize/cosine/pinned/search/p0/efalse/plan" -> "c00503d0de07034f",
    "IVFPQ/cosine/optimize/cosine/pinned/join/p0/efalse" -> "ed44714dddcd5029/32",
    "IVFPQ/cosine/optimize/cosine/pinned/join/p0/efalse/plan" -> "30f6967e3aa005cb",
    "IVFPQ/cosine/optimize/cosine/pinned/join/p0/etrue" -> "343f04fd738ccb4c/32",
    "IVFPQ/cosine/optimize/cosine/pinned/join/p0/etrue/plan" -> "a754dcf86f43886b",
    "HNSW/l2/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,type=HNSW",
    "HNSW/l2/create/l2/unpinned/search/p0/efalse" -> "71a3682a72708d54/8",
    "HNSW/l2/create/l2/unpinned/search/p0/efalse/plan" -> "c58a2aa622830e33",
    "HNSW/l2/create/l2/unpinned/search/p2/efalse" -> "71a3682a72708d54/8",
    "HNSW/l2/create/l2/unpinned/search/p2/efalse/plan" -> "fc792fe05ecdc119",
    "HNSW/l2/create/l2/unpinned/join/p0/efalse" -> "59461eff71180b2b/32",
    "HNSW/l2/create/l2/unpinned/join/p0/efalse/plan" -> "c5a341d8518212ec",
    "HNSW/l2/create/l2/unpinned/join/p2/efalse" -> "59461eff71180b2b/32",
    "HNSW/l2/create/l2/unpinned/join/p2/efalse/plan" -> "0e89fd0602965256",
    "HNSW/l2/create/l2/dedup/efalse" -> "760df0e6abf33e69/1100",
    "HNSW/l2/create/l2/dedup/efalse/plan" -> "b73bf5b6c0fc3c4c",
    "HNSW/l2/create/l2/dedup/etrue" -> "760df0e6abf33e69/1100",
    "HNSW/l2/create/l2/dedup/etrue/plan" -> "b73bf5b6c0fc3c4c",
    "HNSW/l2/create/l2/pinned/search/p0/efalse" -> "71a3682a72708d54/8",
    "HNSW/l2/create/l2/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/l2/create/l2/pinned/search/p2/efalse" -> "71a3682a72708d54/8",
    "HNSW/l2/create/l2/pinned/search/p2/efalse/plan" -> "0eda29f92658c410",
    "HNSW/l2/create/l2/pinned/join/p0/efalse" -> "59461eff71180b2b/32",
    "HNSW/l2/create/l2/pinned/join/p0/efalse/plan" -> "a53be5f6935228ac",
    "HNSW/l2/create/l2/pinned/join/p2/efalse" -> "59461eff71180b2b/32",
    "HNSW/l2/create/l2/pinned/join/p2/efalse/plan" -> "3131e3d32b114ad1",
    "HNSW/l2/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=HNSW",
    "HNSW/l2/delta/l2/unpinned/search/p0/efalse" -> "07d30e03e9632253/8",
    "HNSW/l2/delta/l2/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/l2/delta/l2/unpinned/search/p2/efalse" -> "07d30e03e9632253/8",
    "HNSW/l2/delta/l2/unpinned/search/p2/efalse/plan" -> "2ae8160001068ed7",
    "HNSW/l2/delta/l2/unpinned/join/p0/efalse" -> "6271e323f48f2542/32",
    "HNSW/l2/delta/l2/unpinned/join/p0/efalse/plan" -> "d04e20ca80b3423e",
    "HNSW/l2/delta/l2/unpinned/join/p2/efalse" -> "0b71d3acdb43457a/32",
    "HNSW/l2/delta/l2/unpinned/join/p2/efalse/plan" -> "96fb9b85b71ba91d",
    "HNSW/l2/delta/l2/dedup/efalse" -> "f487d24baebe0685/1160",
    "HNSW/l2/delta/l2/dedup/efalse/plan" -> "a1324e5d1157bcee",
    "HNSW/l2/delta/l2/dedup/etrue" -> "f487d24baebe0685/1160",
    "HNSW/l2/delta/l2/dedup/etrue/plan" -> "a1324e5d1157bcee",
    "HNSW/l2/delta/l2/pinned/search/p0/efalse" -> "07d30e03e9632253/8",
    "HNSW/l2/delta/l2/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/l2/delta/l2/pinned/search/p2/efalse" -> "07d30e03e9632253/8",
    "HNSW/l2/delta/l2/pinned/search/p2/efalse/plan" -> "f7bea7b48b8aa40b",
    "HNSW/l2/delta/l2/pinned/join/p0/efalse" -> "6271e323f48f2542/32",
    "HNSW/l2/delta/l2/pinned/join/p0/efalse/plan" -> "b306573ec3d9500c",
    "HNSW/l2/delta/l2/pinned/join/p2/efalse" -> "0b71d3acdb43457a/32",
    "HNSW/l2/delta/l2/pinned/join/p2/efalse/plan" -> "8ab942693df0f4b7",
    "HNSW/l2/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=1,type=HNSW",
    "HNSW/l2/rebuild/l2/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/l2/rebuild/l2/unpinned/join/p0/efalse/plan" -> "d04e20ca80b3423e",
    "HNSW/l2/rebuild/l2/dedup/efalse/plan" -> "2f138165c841ac06",
    "HNSW/l2/rebuild/l2/dedup/etrue/plan" -> "2f138165c841ac06",
    "HNSW/l2/rebuild/l2/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/l2/rebuild/l2/pinned/join/p0/efalse/plan" -> "b306573ec3d9500c",
    "HNSW/l2/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=2,type=HNSW",
    "HNSW/l2/optimize/l2/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/l2/optimize/l2/unpinned/join/p0/efalse/plan" -> "d04e20ca80b3423e",
    "HNSW/l2/optimize/l2/dedup/efalse/plan" -> "2f138165c841ac06",
    "HNSW/l2/optimize/l2/dedup/etrue/plan" -> "2f138165c841ac06",
    "HNSW/l2/optimize/l2/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/l2/optimize/l2/pinned/join/p0/efalse/plan" -> "b306573ec3d9500c",
    "HNSW/cosine/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,type=HNSW",
    "HNSW/cosine/create/cosine/unpinned/search/p0/efalse" -> "627470ea7d248c40/8",
    "HNSW/cosine/create/cosine/unpinned/search/p0/efalse/plan" -> "c58a2aa622830e33",
    "HNSW/cosine/create/cosine/unpinned/search/p2/efalse" -> "627470ea7d248c40/8",
    "HNSW/cosine/create/cosine/unpinned/search/p2/efalse/plan" -> "f44a10228065d2da",
    "HNSW/cosine/create/cosine/unpinned/join/p0/efalse" -> "4b67f5c7c0f3d619/32",
    "HNSW/cosine/create/cosine/unpinned/join/p0/efalse/plan" -> "7fd57e4e280e39aa",
    "HNSW/cosine/create/cosine/unpinned/join/p2/efalse" -> "4b67f5c7c0f3d619/32",
    "HNSW/cosine/create/cosine/unpinned/join/p2/efalse/plan" -> "3520e748778f83b9",
    "HNSW/cosine/create/cosine/dedup/efalse" -> "ce84c98b2dfda3b5/1100",
    "HNSW/cosine/create/cosine/dedup/efalse/plan" -> "7f142ec15c03d57f",
    "HNSW/cosine/create/cosine/dedup/etrue" -> "ce84c98b2dfda3b5/1100",
    "HNSW/cosine/create/cosine/dedup/etrue/plan" -> "7f142ec15c03d57f",
    "HNSW/cosine/create/cosine/pinned/search/p0/efalse" -> "627470ea7d248c40/8",
    "HNSW/cosine/create/cosine/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/cosine/create/cosine/pinned/search/p2/efalse" -> "627470ea7d248c40/8",
    "HNSW/cosine/create/cosine/pinned/search/p2/efalse/plan" -> "6623100286766eee",
    "HNSW/cosine/create/cosine/pinned/join/p0/efalse" -> "4b67f5c7c0f3d619/32",
    "HNSW/cosine/create/cosine/pinned/join/p0/efalse/plan" -> "54bd45bb821e95a0",
    "HNSW/cosine/create/cosine/pinned/join/p2/efalse" -> "4b67f5c7c0f3d619/32",
    "HNSW/cosine/create/cosine/pinned/join/p2/efalse/plan" -> "cd987b93c249d706",
    "HNSW/cosine/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=0,type=HNSW",
    "HNSW/cosine/delta/cosine/unpinned/search/p0/efalse" -> "b6e9ca5d8610ba5b/8",
    "HNSW/cosine/delta/cosine/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/cosine/delta/cosine/unpinned/search/p2/efalse" -> "790cf66935dc77b3/8",
    "HNSW/cosine/delta/cosine/unpinned/search/p2/efalse/plan" -> "58487333a74aa415",
    "HNSW/cosine/delta/cosine/unpinned/join/p0/efalse" -> "0544972025887a50/32",
    "HNSW/cosine/delta/cosine/unpinned/join/p0/efalse/plan" -> "2b70b0eb6b77e12a",
    "HNSW/cosine/delta/cosine/unpinned/join/p2/efalse" -> "a2189ad41a79c05b/32",
    "HNSW/cosine/delta/cosine/unpinned/join/p2/efalse/plan" -> "4716ac1ac6e420f1",
    "HNSW/cosine/delta/cosine/dedup/efalse" -> "42824da05bae3e66/1160",
    "HNSW/cosine/delta/cosine/dedup/efalse/plan" -> "bfd8df65e8551512",
    "HNSW/cosine/delta/cosine/dedup/etrue" -> "42824da05bae3e66/1160",
    "HNSW/cosine/delta/cosine/dedup/etrue/plan" -> "bfd8df65e8551512",
    "HNSW/cosine/delta/cosine/pinned/search/p0/efalse" -> "b6e9ca5d8610ba5b/8",
    "HNSW/cosine/delta/cosine/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/cosine/delta/cosine/pinned/search/p2/efalse" -> "790cf66935dc77b3/8",
    "HNSW/cosine/delta/cosine/pinned/search/p2/efalse/plan" -> "9423436af6a308b7",
    "HNSW/cosine/delta/cosine/pinned/join/p0/efalse" -> "0544972025887a50/32",
    "HNSW/cosine/delta/cosine/pinned/join/p0/efalse/plan" -> "c541689d9fe8a634",
    "HNSW/cosine/delta/cosine/pinned/join/p2/efalse" -> "a2189ad41a79c05b/32",
    "HNSW/cosine/delta/cosine/pinned/join/p2/efalse/plan" -> "7e59c04dd372ca1c",
    "HNSW/cosine/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=1,type=HNSW",
    "HNSW/cosine/rebuild/cosine/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/cosine/rebuild/cosine/unpinned/join/p0/efalse/plan" -> "2b70b0eb6b77e12a",
    "HNSW/cosine/rebuild/cosine/dedup/efalse/plan" -> "0517c7d079840d49",
    "HNSW/cosine/rebuild/cosine/dedup/etrue/plan" -> "0517c7d079840d49",
    "HNSW/cosine/rebuild/cosine/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/cosine/rebuild/cosine/pinned/join/p0/efalse/plan" -> "c541689d9fe8a634",
    "HNSW/cosine/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=2,type=HNSW",
    "HNSW/cosine/optimize/cosine/unpinned/search/p0/efalse/plan" -> "b8ed802aae89f731",
    "HNSW/cosine/optimize/cosine/unpinned/join/p0/efalse/plan" -> "2b70b0eb6b77e12a",
    "HNSW/cosine/optimize/cosine/dedup/efalse/plan" -> "0517c7d079840d49",
    "HNSW/cosine/optimize/cosine/dedup/etrue/plan" -> "0517c7d079840d49",
    "HNSW/cosine/optimize/cosine/pinned/search/p0/efalse/plan" -> "4fc49163517e7152",
    "HNSW/cosine/optimize/cosine/pinned/join/p0/efalse/plan" -> "c541689d9fe8a634",
    "DISKANN/l2/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,type=DISKANN",
    "DISKANN/l2/create/l2/unpinned/search/p0/efalse" -> "71a3682a72708d54/8",
    "DISKANN/l2/create/l2/unpinned/search/p0/efalse/plan" -> "6d6406695bd95263",
    "DISKANN/l2/create/l2/unpinned/search/p2/efalse" -> "71a3682a72708d54/8",
    "DISKANN/l2/create/l2/unpinned/search/p2/efalse/plan" -> "989a39ae2e35677a",
    "DISKANN/l2/create/l2/unpinned/join/p0/efalse" -> "59461eff71180b2b/32",
    "DISKANN/l2/create/l2/unpinned/join/p0/efalse/plan" -> "5be716cc950e67a9",
    "DISKANN/l2/create/l2/unpinned/join/p2/efalse" -> "59461eff71180b2b/32",
    "DISKANN/l2/create/l2/unpinned/join/p2/efalse/plan" -> "94488444e8f6bc46",
    "DISKANN/l2/create/l2/dedup/efalse" -> "760df0e6abf33e69/1100",
    "DISKANN/l2/create/l2/dedup/efalse/plan" -> "a0401b612ab02ce8",
    "DISKANN/l2/create/l2/dedup/etrue" -> "760df0e6abf33e69/1100",
    "DISKANN/l2/create/l2/dedup/etrue/plan" -> "a0401b612ab02ce8",
    "DISKANN/l2/create/l2/pinned/search/p0/efalse" -> "71a3682a72708d54/8",
    "DISKANN/l2/create/l2/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/l2/create/l2/pinned/search/p2/efalse" -> "71a3682a72708d54/8",
    "DISKANN/l2/create/l2/pinned/search/p2/efalse/plan" -> "f9fc9a917014d813",
    "DISKANN/l2/create/l2/pinned/join/p0/efalse" -> "59461eff71180b2b/32",
    "DISKANN/l2/create/l2/pinned/join/p0/efalse/plan" -> "6b363c3a058ee956",
    "DISKANN/l2/create/l2/pinned/join/p2/efalse" -> "59461eff71180b2b/32",
    "DISKANN/l2/create/l2/pinned/join/p2/efalse/plan" -> "dd28d005b4b3b139",
    "DISKANN/l2/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=0,type=DISKANN",
    "DISKANN/l2/delta/l2/unpinned/search/p0/efalse" -> "07d30e03e9632253/8",
    "DISKANN/l2/delta/l2/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/l2/delta/l2/unpinned/search/p2/efalse" -> "07d30e03e9632253/8",
    "DISKANN/l2/delta/l2/unpinned/search/p2/efalse/plan" -> "419cf58471a67dfe",
    "DISKANN/l2/delta/l2/unpinned/join/p0/efalse" -> "6271e323f48f2542/32",
    "DISKANN/l2/delta/l2/unpinned/join/p0/efalse/plan" -> "794c61b6ccf79ca7",
    "DISKANN/l2/delta/l2/unpinned/join/p2/efalse" -> "0b71d3acdb43457a/32",
    "DISKANN/l2/delta/l2/unpinned/join/p2/efalse/plan" -> "c4340fe92299a097",
    "DISKANN/l2/delta/l2/dedup/efalse" -> "f487d24baebe0685/1160",
    "DISKANN/l2/delta/l2/dedup/efalse/plan" -> "48c343d0d346c43d",
    "DISKANN/l2/delta/l2/dedup/etrue" -> "f487d24baebe0685/1160",
    "DISKANN/l2/delta/l2/dedup/etrue/plan" -> "48c343d0d346c43d",
    "DISKANN/l2/delta/l2/pinned/search/p0/efalse" -> "07d30e03e9632253/8",
    "DISKANN/l2/delta/l2/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/l2/delta/l2/pinned/search/p2/efalse" -> "07d30e03e9632253/8",
    "DISKANN/l2/delta/l2/pinned/search/p2/efalse/plan" -> "3a09512762a9804a",
    "DISKANN/l2/delta/l2/pinned/join/p0/efalse" -> "6271e323f48f2542/32",
    "DISKANN/l2/delta/l2/pinned/join/p0/efalse/plan" -> "8b6c02b6dd87ec49",
    "DISKANN/l2/delta/l2/pinned/join/p2/efalse" -> "0b71d3acdb43457a/32",
    "DISKANN/l2/delta/l2/pinned/join/p2/efalse/plan" -> "8ed4c003d74b32d6",
    "DISKANN/l2/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=1,type=DISKANN",
    "DISKANN/l2/rebuild/l2/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/l2/rebuild/l2/unpinned/join/p0/efalse/plan" -> "794c61b6ccf79ca7",
    "DISKANN/l2/rebuild/l2/dedup/efalse/plan" -> "79c5dc7980f6cbfa",
    "DISKANN/l2/rebuild/l2/dedup/etrue/plan" -> "79c5dc7980f6cbfa",
    "DISKANN/l2/rebuild/l2/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/l2/rebuild/l2/pinned/join/p0/efalse/plan" -> "8b6c02b6dd87ec49",
    "DISKANN/l2/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=l2,nlist=16,pqK=16,pqM=0,rebuilds=2,type=DISKANN",
    "DISKANN/l2/optimize/l2/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/l2/optimize/l2/unpinned/join/p0/efalse/plan" -> "794c61b6ccf79ca7",
    "DISKANN/l2/optimize/l2/dedup/efalse/plan" -> "79c5dc7980f6cbfa",
    "DISKANN/l2/optimize/l2/dedup/etrue/plan" -> "79c5dc7980f6cbfa",
    "DISKANN/l2/optimize/l2/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/l2/optimize/l2/pinned/join/p0/efalse/plan" -> "8b6c02b6dd87ec49",
    "DISKANN/cosine/create/meta" -> "buildBeam=32,commit=00000001,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,type=DISKANN",
    "DISKANN/cosine/create/cosine/unpinned/search/p0/efalse" -> "627470ea7d248c40/8",
    "DISKANN/cosine/create/cosine/unpinned/search/p0/efalse/plan" -> "6d6406695bd95263",
    "DISKANN/cosine/create/cosine/unpinned/search/p2/efalse" -> "627470ea7d248c40/8",
    "DISKANN/cosine/create/cosine/unpinned/search/p2/efalse/plan" -> "3dc323a78b7caf90",
    "DISKANN/cosine/create/cosine/unpinned/join/p0/efalse" -> "4b67f5c7c0f3d619/32",
    "DISKANN/cosine/create/cosine/unpinned/join/p0/efalse/plan" -> "8ff5cfae3841209d",
    "DISKANN/cosine/create/cosine/unpinned/join/p2/efalse" -> "4b67f5c7c0f3d619/32",
    "DISKANN/cosine/create/cosine/unpinned/join/p2/efalse/plan" -> "fb369a9c3dc662e4",
    "DISKANN/cosine/create/cosine/dedup/efalse" -> "ce84c98b2dfda3b5/1100",
    "DISKANN/cosine/create/cosine/dedup/efalse/plan" -> "1b7890a738b10c72",
    "DISKANN/cosine/create/cosine/dedup/etrue" -> "ce84c98b2dfda3b5/1100",
    "DISKANN/cosine/create/cosine/dedup/etrue/plan" -> "1b7890a738b10c72",
    "DISKANN/cosine/create/cosine/pinned/search/p0/efalse" -> "627470ea7d248c40/8",
    "DISKANN/cosine/create/cosine/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/cosine/create/cosine/pinned/search/p2/efalse" -> "627470ea7d248c40/8",
    "DISKANN/cosine/create/cosine/pinned/search/p2/efalse/plan" -> "b3c4d98edf852fc9",
    "DISKANN/cosine/create/cosine/pinned/join/p0/efalse" -> "4b67f5c7c0f3d619/32",
    "DISKANN/cosine/create/cosine/pinned/join/p0/efalse/plan" -> "2e0ea8a569f4c343",
    "DISKANN/cosine/create/cosine/pinned/join/p2/efalse" -> "4b67f5c7c0f3d619/32",
    "DISKANN/cosine/create/cosine/pinned/join/p2/efalse/plan" -> "e47f9daeeb2fbe0d",
    "DISKANN/cosine/delta/meta" -> "buildBeam=32,commit=00000002,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=0,type=DISKANN",
    "DISKANN/cosine/delta/cosine/unpinned/search/p0/efalse" -> "b6e9ca5d8610ba5b/8",
    "DISKANN/cosine/delta/cosine/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/cosine/delta/cosine/unpinned/search/p2/efalse" -> "790cf66935dc77b3/8",
    "DISKANN/cosine/delta/cosine/unpinned/search/p2/efalse/plan" -> "15d8f8a96bbe20ee",
    "DISKANN/cosine/delta/cosine/unpinned/join/p0/efalse" -> "0544972025887a50/32",
    "DISKANN/cosine/delta/cosine/unpinned/join/p0/efalse/plan" -> "ad1e91d0be3aabdd",
    "DISKANN/cosine/delta/cosine/unpinned/join/p2/efalse" -> "a2189ad41a79c05b/32",
    "DISKANN/cosine/delta/cosine/unpinned/join/p2/efalse/plan" -> "ed00f858b0a6f967",
    "DISKANN/cosine/delta/cosine/dedup/efalse" -> "42824da05bae3e66/1160",
    "DISKANN/cosine/delta/cosine/dedup/efalse/plan" -> "59b7e1781c3da29e",
    "DISKANN/cosine/delta/cosine/dedup/etrue" -> "42824da05bae3e66/1160",
    "DISKANN/cosine/delta/cosine/dedup/etrue/plan" -> "59b7e1781c3da29e",
    "DISKANN/cosine/delta/cosine/pinned/search/p0/efalse" -> "b6e9ca5d8610ba5b/8",
    "DISKANN/cosine/delta/cosine/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/cosine/delta/cosine/pinned/search/p2/efalse" -> "790cf66935dc77b3/8",
    "DISKANN/cosine/delta/cosine/pinned/search/p2/efalse/plan" -> "b7db189548208cd7",
    "DISKANN/cosine/delta/cosine/pinned/join/p0/efalse" -> "0544972025887a50/32",
    "DISKANN/cosine/delta/cosine/pinned/join/p0/efalse/plan" -> "253509f53d7a5397",
    "DISKANN/cosine/delta/cosine/pinned/join/p2/efalse" -> "a2189ad41a79c05b/32",
    "DISKANN/cosine/delta/cosine/pinned/join/p2/efalse/plan" -> "0263bdcf3f8babc6",
    "DISKANN/cosine/rebuild/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=1,type=DISKANN",
    "DISKANN/cosine/rebuild/cosine/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/cosine/rebuild/cosine/unpinned/join/p0/efalse/plan" -> "ad1e91d0be3aabdd",
    "DISKANN/cosine/rebuild/cosine/dedup/efalse/plan" -> "89c676e34b69d361",
    "DISKANN/cosine/rebuild/cosine/dedup/etrue/plan" -> "89c676e34b69d361",
    "DISKANN/cosine/rebuild/cosine/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/cosine/rebuild/cosine/pinned/join/p0/efalse/plan" -> "253509f53d7a5397",
    "DISKANN/cosine/optimize/meta" -> "buildBeam=32,commit=00000003,graphDegree=8,metric=cosine,nlist=16,pqK=16,pqM=0,rebuilds=2,type=DISKANN",
    "DISKANN/cosine/optimize/cosine/unpinned/search/p0/efalse/plan" -> "d059f0b79c4f5b47",
    "DISKANN/cosine/optimize/cosine/unpinned/join/p0/efalse/plan" -> "ad1e91d0be3aabdd",
    "DISKANN/cosine/optimize/cosine/dedup/efalse/plan" -> "89c676e34b69d361",
    "DISKANN/cosine/optimize/cosine/dedup/etrue/plan" -> "89c676e34b69d361",
    "DISKANN/cosine/optimize/cosine/pinned/search/p0/efalse/plan" -> "35852a519b456ee1",
    "DISKANN/cosine/optimize/cosine/pinned/join/p0/efalse/plan" -> "253509f53d7a5397",
    "inverted/create/meta" -> "commit=00000001,numShards=4",
    "inverted/create/textSearch/and" -> "bdd29faf1506951a/20",
    "inverted/create/textSearch/and/plan" -> "f9f106560b8aac33",
    "inverted/create/textSearch/or" -> "8ba7b0f92b1c308a/79",
    "inverted/create/textSearch/or/plan" -> "07d4d2743aa92341",
    "inverted/create/filterIndexed" -> "9bcd11b0a18fc2d4/19",
    "inverted/create/filterIndexed/plan" -> "cab81770b12f4a03",
    "inverted/create/termCounts" -> "a3c87507db5fa85f/10",
    "inverted/create/termCounts/plan" -> "2e85ac3c8eee4f39",
    "inverted/update/meta" -> "commit=00000002,numShards=4",
    "inverted/update/textSearch/and" -> "974d6423762e47e9/24",
    "inverted/update/textSearch/and/plan" -> "97ad02a3cadb183a",
    "inverted/update/textSearch/or" -> "ae6611099d991245/98",
    "inverted/update/textSearch/or/plan" -> "4c964465159c8447",
    "inverted/update/filterIndexed" -> "4ec97cbb34406a78/25",
    "inverted/update/filterIndexed/plan" -> "6f33b33deb892394",
    "inverted/update/termCounts" -> "41c5202b99a34551/10",
    "inverted/update/termCounts/plan" -> "2e85ac3c8eee4f39",
    "inverted/optimize/meta" -> "commit=00000002,numShards=4",
    "inverted/optimize/textSearch/and" -> "974d6423762e47e9/24",
    "inverted/optimize/textSearch/and/plan" -> "97ad02a3cadb183a",
    "inverted/optimize/textSearch/or" -> "ae6611099d991245/98",
    "inverted/optimize/textSearch/or/plan" -> "4c964465159c8447",
    "inverted/optimize/filterIndexed" -> "4ec97cbb34406a78/25",
    "inverted/optimize/filterIndexed/plan" -> "6f33b33deb892394",
    "inverted/optimize/termCounts" -> "41c5202b99a34551/10",
    "inverted/optimize/termCounts/plan" -> "2e85ac3c8eee4f39",
    "inverted/reshard/meta" -> "commit=00000002,numShards=3",
    "inverted/reshard/textSearch/and" -> "974d6423762e47e9/24",
    "inverted/reshard/textSearch/and/plan" -> "97ad02a3cadb183a",
    "inverted/reshard/textSearch/or" -> "ae6611099d991245/98",
    "inverted/reshard/textSearch/or/plan" -> "f5425f4ce226a9ed",
    "inverted/reshard/filterIndexed" -> "4ec97cbb34406a78/25",
    "inverted/reshard/filterIndexed/plan" -> "e757a72c309d7d44",
    "inverted/reshard/termCounts" -> "41c5202b99a34551/10",
    "inverted/reshard/termCounts/plan" -> "2e85ac3c8eee4f39",
  )
}
