package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native codegen'd expressions must agree exactly with the higher-order
  * -function formulations they replace.
  */
class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("minHashSig ≡ transform/array_min/hash formulation") {
    val df = Seq(
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("one two", "three four"),
      Seq.empty[String]).toDF("sh")
    val k = 8
    val hof = transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(col("sh"), s => hash(s, i))))
    val rows = df.select(
      NativeExpressions.minHashSig(col("sh"), k).as("native"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      val native = r.getSeq[Int](0)
      val ref = r.getSeq[Any](1)
      if (ref.forall(_ != null))
        assert(native == ref.map(_.asInstanceOf[Int]),
          s"native $native != ref $ref")
      else
        // HOF yields null mins on empty arrays; native yields MaxValue
        assert(native.forall(_ == Int.MaxValue))
    }
  }

  test("dotF / l2SqF ≡ zip_with/aggregate formulation") {
    val df = Seq(
      (Seq(0.5f, -1.25f, 3.0f), Seq(2.0f, 0.25f, -1.5f)),
      (Seq(1.0f), Seq(1.0f))).toDF("a", "b")
    def hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def hofL2 = aggregate(
      zip_with(col("a"), col("b"), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      NativeExpressions.dotF(col("a"), col("b")).as("nd"), hofDot.as("rd"),
      NativeExpressions.l2SqF(col("a"), col("b")).as("nl"), hofL2.as("rl"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("scaled-int kernels ≡ HOF round/zip_with/aggregate (r19)") {
    // the oracle-determinism contract: the codegen'd QintDot/QintL2Sq
    // must be BIT-IDENTICAL to the round(x*1e7) HOF chain they replaced
    // — on a deterministic random sweep, negatives, magnitudes around
    // the grid step, and the exact-.5 tie boundary (0.45f: the double
    // product 0.45*1e7 lands exactly on 4500000 ± representation — the
    // sweep also crafts v*1e7 = n+0.5 hits via (n+0.5)/1e7 floats)
    val rnd = new scala.util.Random(99)
    // magnitudes stay inside the documented grid contract (embedding-
    // scale values; 8 dims × (5e8)² products fit int64) — the HOF twin
    // throws on ANSI long overflow where the native wraps, and neither
    // behavior is part of the oracle contract
    val crafted = Seq(0.45f, -0.45f, 0.05f, -0.05f, 1.5e-8f, -1.5e-8f,
      0.0f, -0.0f, 12.3456f, -9.87654f) ++
      (0 until 50).map(n => ((n + 0.5) / 1e7).toFloat) ++
      (0 until 50).map(n => (-(n + 0.5) / 1e7).toFloat)
    val sweep = crafted ++ (0 until 20000).map(_ =>
      (rnd.nextFloat() - 0.5f) * math.pow(10, rnd.nextInt(6) - 4).toFloat)
    val pairs = sweep.grouped(8).toSeq.sliding(2).collect {
      case Seq(a, b) => (a.toSeq, b.take(a.length).toSeq)
    }.toSeq
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      NativeExpressions.dotScaledQ(col("a"), col("b")).as("nd"),
      VectorFunctions.dotScaledHof(col("a"), col("b")).as("hd"),
      NativeExpressions.l2SqScaledQ(col("a"), col("b")).as("nl"),
      VectorFunctions.l2SqScaledHof(col("a"), col("b")).as("hl"),
      NativeExpressions.dotQL(VectorFunctions.qint(col("a")),
        VectorFunctions.qint(col("b"))).as("nq"),
      VectorFunctions.dotQHof(VectorFunctions.qint(col("a")),
        VectorFunctions.qint(col("b"))).as("hq"))
      .collect()
    rows.foreach { r => // null-tolerant compare: a ragged last group
      assert(r.get(0) == r.get(1), s"dotScaled: $r") // legitimately nulls
      assert(r.get(2) == r.get(3), s"l2SqScaled: $r") // BOTH sides
      assert(r.get(4) == r.get(5), s"dotQ: $r")
    }
    // null element / length mismatch → null, matching HOF propagation
    val edge = Seq(
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))),
      (Seq(Some(1.0f)), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b")
      .select(
        NativeExpressions.dotScaledQ(col("a"), col("b")).as("nd"),
        VectorFunctions.dotScaledHof(col("a"), col("b")).as("hd"),
        NativeExpressions.l2SqScaledQ(col("a"), col("b")).as("nl"),
        VectorFunctions.l2SqScaledHof(col("a"), col("b")).as("hl"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
        s"null semantics diverged: $r")
    }
  }

  test("simHash32 ≡ HOF vote-array formulation") {
    val df = Seq("the quick brown fox", "one", "", "a b a b c",
      "vector join stream batch window").toDF("t")
    val rows = df.select(
      graft.operators.Dedup.simHash32(col("t")).as("native"),
      graft.operators.Dedup.simHash32Hof(col("t")).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != ref ${r.getLong(1)}"))
  }

  test("minHashSigMod / minHashBandsMod ≡ portable HOF formulation") {
    val df = Seq(
      Seq("alpha beta", "beta gamma", "gamma delta", "один два", "数据 引擎"),
      Seq("single"),
      Seq.empty[String]).toDF("sh")
    val k = 8
    val (sa, sb) = graft.operators.Dedup.portableSeeds(k)
    val p = graft.operators.Dedup.portableP
    // HOF twin: H(s) = md5-32-bit prefix mod p (the exact SQL the q66
    // oracle interpolates), slot i = min over shingles of (a_i·H+b_i)%p
    def hofH(s: org.apache.spark.sql.Column) =
      conv(substring(md5(s), 1, 8), 16, 10).cast("long") % p
    val hofSig = transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(col("sh"), s =>
        (element_at(typedlit(sa.toSeq), (i + 1).cast("int")) * hofH(s) +
          element_at(typedlit(sb.toSeq), (i + 1).cast("int"))) % p)))
    val native = org.apache.spark.sql.graftnative.NativeExpressions
      .minHashSigMod(col("sh"), sa, sb, p)
    val rows = df.select(native.as("n"), hofSig.as("r")).collect()
    rows.foreach { r =>
      val n = r.getSeq[Long](0)
      val ref = r.getSeq[Any](1)
      if (ref.forall(_ != null))
        assert(n == ref.map(_.asInstanceOf[Long]), s"native $n != ref $ref")
      else assert(n.forall(_ == Long.MaxValue)) // HOF null-min on empty
    }
    // band fold: acc = (acc*131 + v) % p, rowsPerBand = 4 → 2 bands.
    // Empty shingle arrays are excluded like the pipeline excludes them
    // (minHashState filters size > 0): their Long.MaxValue sentinel
    // slots would overflow the ANSI-checked HOF twin (the native fold
    // wraps silently, but such rows never reach banding).
    val mult = graft.operators.Dedup.portableBandMult
    val hofBands = transform(sequence(lit(0), lit(1)), b =>
      aggregate(slice(native, b * 4 + 1, lit(4)), lit(0L),
        (acc, v) => (acc * mult + v) % p))
    val bandRows = df.filter(size(col("sh")) > 0).select(
      org.apache.spark.sql.graftnative.NativeExpressions
        .minHashBandsMod(native, 4, mult, p).as("n"),
      hofBands.as("r")).collect()
    bandRows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"bands ${r.getSeq[Long](0)} != ${r.getSeq[Long](1)}"))
  }

  test("simHash60Md5 ≡ interpreted md5-HOF formulation (incl. null/empty)") {
    val rnd = new scala.util.Random(17)
    val words = Vector("vector", "join", "stream", "batch", "window", "scan",
      "merge", "sort", "хэш", "数据", "ému")
    val texts: Seq[String] =
      (0 until 40).map(_ => Seq.fill(1 + rnd.nextInt(12))(
        words(rnd.nextInt(words.size))).mkString(" ")) ++
        Seq("", "   ", null)
    val df = texts.toDF("t")
    val rows = df.select(
      graft.operators.Dedup.simHash60Md5(col("t")).as("native"),
      coalesce(graft.operators.Dedup.simHash60Md5Hof(col("t")), lit(0L))
        .as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != ref ${r.getLong(1)}"))
    // null and tokenless texts pin to fingerprint 0 — the value the
    // DuckDB oracle's left-join coalesce yields for docs with no tokens
    val zeros = df.filter(col("t").isNull || trim(col("t")) === "")
      .select(graft.operators.Dedup.simHash60Md5(col("t"))).collect()
    assert(zeros.length == 3 && zeros.forall(r => !r.isNullAt(0) && r.getLong(0) == 0L))
  }

  test("rpLshBands ≡ per-band HOF rpLshBucket formulation") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 50).map(_ => Seq.fill(16)(rnd.nextFloat() * 2 - 1))
      .toDF("v")
    val planes = 8
    val bands = 5
    val hof = array((0 until bands).map(b =>
      graft.operators.Dedup.rpLshBucket(col("v"), planes,
        seed = b * 7919 + 17)): _*)
    val rows = df.select(
      NativeExpressions.rpLshBands(col("v"), planes, bands).as("native"),
      hof.as("ref")).collect()
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"native ${r.getSeq[Long](0)} != ref ${r.getSeq[Long](1)}"))
  }

  test("nearestCell ≡ brute-force argmin; wrong-dim → null; codegen-only") {
    val rnd = new scala.util.Random(7)
    val nlist = 11
    val dim = 4
    val cents = Array.fill(nlist * dim)(rnd.nextFloat())
    val vecs = (0 until 50).map(_ => Seq.fill(dim)(rnd.nextFloat()))
    def brute(v: Seq[Float]): Int =
      (0 until nlist).minBy { c =>
        (0 until dim).map { j =>
          val d = v(j).toDouble - cents(c * dim + j); d * d
        }.sum
      }
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = vecs.toDF("v")
        .select(col("v"),
          NativeExpressions.nearestCell(col("v"), nlist, dim, cents).as("c"))
        .collect()
      got.foreach { r =>
        assert(r.getInt(1) == brute(r.getSeq[Float](0)))
      }
      val bad = Seq(Seq(1f, 2f), Seq.empty[Float]).toDF("v")
        .select(NativeExpressions.nearestCell(col("v"), nlist, dim, cents))
        .collect()
      assert(bad.forall(_.isNullAt(0)))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("null safety: null input array yields null, not a crash") {
    val df = Seq((Some(Seq("x")), None: Option[Seq[String]])).toDF("a", "b")
    val r = df.select(
      NativeExpressions.minHashSig(col("b").cast("array<string>"), 4)).head()
    assert(r.isNullAt(0))
  }

  test("expressions run inside whole-stage codegen (no fallback)") {
    // force codegen-only evaluation: any interpreted fallback would throw
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val n = Seq(Seq("a", "b", "c")).toDF("sh")
        .select(NativeExpressions.minHashSig(col("sh"), 4).as("m"),
          NativeExpressions.dotF(array(lit(1f), lit(2f)),
            array(lit(3f), lit(4f))).as("d"))
        .collect()
      assert(n.head.getSeq[Int](0).length == 4)
      assert(n.head.getDouble(1) == 11.0)
      // PQ expressions also run codegen-only: 2 subspaces × 2 centroids,
      // codebook [[0,0],[1,1]] per subspace → vector (1,1,0,0) encodes to
      // codes (1,0); ADC table [0,1] per subspace sums to 1.0
      val cb = Array(0f, 0f, 1f, 1f, 0f, 0f, 1f, 1f)
      val pq = Seq(Seq(1f, 1f, 0f, 0f)).toDF("v")
        .select(NativeExpressions.pqEncode(col("v"), 2, 2, 2, cb).as("c"))
        .select(col("c"), NativeExpressions.pqAdc(col("c"), 2, 2,
          Array(0.0, 1.0, 0.0, 1.0)).as("d"))
        .head()
      assert(pq.getSeq[Int](0) == Seq(1, 0))
      assert(pq.getDouble(1) == 1.0)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("fence: values pass through; filters stay above the projection") {
    // r21: the single-evaluation pin (guide §4.4). Value identity first —
    // fenced and unfenced columns must be byte-identical on both the
    // codegen and interpreted paths (the fence only marks, never computes)
    val df = Seq("a b c d", "x y", "").toDF("t")
    val expr = size(split(col("t"), " "))
    val rows = df.select(expr.as("plain"),
        NativeExpressions.fence(expr).as("fenced")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1)))
    // Placement: an UNfenced derived column referenced by a filter is
    // pushed below the repartition (its definition inlined into the
    // predicate — the double-evaluation q66/q50 paid); a FENCED one
    // must keep the Filter above the exchange. A parquet-backed frame,
    // as in the real operators — a LocalRelation control would
    // constant-fold the filter away entirely.
    val path = tmpDir("fence") + "/t"
    df.write.parquet(path)
    val pq = spark.read.parquet(path)
    def planOf(fenced: Boolean): String = {
      val c = if (fenced) NativeExpressions.fence(expr) else expr
      pq.repartition(4)
        .withColumn("_n", c)
        .filter(col("_n") > 0)
        .queryExecution.optimizedPlan.toString
    }
    val unfenced = planOf(fenced = false)
    val fenced = planOf(fenced = true)
    def filterBelowRepartition(plan: String): Boolean = {
      // optimizedPlan prints parents above children: a pushed filter
      // appears AFTER (below) the Repartition line
      val lines = plan.linesIterator.toVector
      val rep = lines.indexWhere(_.contains("Repartition"))
      val flt = lines.indexWhere(_.contains("Filter"))
      rep >= 0 && flt > rep
    }
    assert(filterBelowRepartition(unfenced),
      s"expected the unfenced filter to push below the exchange:\n$unfenced")
    assert(!filterBelowRepartition(fenced),
      s"fenced filter must stay above the exchange:\n$fenced")
  }
}
