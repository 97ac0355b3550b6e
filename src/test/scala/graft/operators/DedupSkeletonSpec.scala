package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** The near-dup skeleton (signature → candidates → verify) against
  * driver-side brute force, its flood guard, and its fence placement.
  */
class DedupSkeletonSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded corpus with planted near-dups: every fifth doc is an earlier
    * doc with one word replaced, every seventh an exact copy. */
  private lazy val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(23)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    val out = scala.collection.mutable.ArrayBuffer[(Long, Array[String])]()
    (0L until 150L).foreach { i =>
      val words =
        if (i % 5 == 4) {
          val w = out(rnd.nextInt(out.size))._2.clone()
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          w
        } else if (i % 7 == 6) out(rnd.nextInt(out.size))._2.clone()
        else Array.fill(12)(vocab(rnd.nextInt(vocab.size)))
      out += ((i, words))
    }
    out.map { case (i, w) => (i, w.mkString(" ")) }.toSeq
  }
  private def df: DataFrame = docs.toDF("id", "t")

  test("simHashNearDup uncapped == brute-force pairs, both fingerprints") {
    val r = 3
    Seq(Dedup.simHash32, Dedup.simHash60Md5).foreach { fp =>
      val got = Dedup.simHashNearDup(df, "t", "id", r, Int.MaxValue, fp)
        .as[(Long, Long, Int)].collect().toSet
      val fps = df.select(col("id"), fp(col("t"))).as[(Long, Long)]
        .collect().toSeq
      val want = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= r
      } yield (ia, ib, h)).toSet
      assert(want.size >= 10, s"${fp.bits}-bit corpus too few pairs: $want")
      assert(got == want, s"${fp.bits}-bit: missing ${want -- got}, " +
        s"extra ${got -- want}")
    }
  }

  test("minHashLsh ⊆ brute-force Jaccard pairs, exact values, all copies") {
    val t = 0.5
    val got = Dedup.minHashLsh(df, "t", "id", threshold = t)
      .as[(Long, Long, Double)].collect()
    val sets = df.select(col("id"), T.tokenShingles(col("t"), 3))
      .as[(Long, Seq[String])].collect().map { case (i, s) => i -> s.toSet }
      .toMap
    def jaccard(a: Long, b: Long): Double = {
      val inter = (sets(a) intersect sets(b)).size
      inter.toDouble / (sets(a).size + sets(b).size - inter)
    }
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    got.foreach { case (a, b, j) =>
      assert(a < b && jaccard(a, b) >= t, s"($a, $b) is not a true pair")
      assert(math.abs(j - jaccard(a, b)) < 1e-12, s"($a, $b): $j")
    }
    // identical shingle sets collide in every band: never missed
    val ids = sets.keys.toSeq.sorted
    val copies = for {
      a <- ids; b <- ids if a < b && sets(a) == sets(b)
    } yield (a, b)
    assert(copies.nonEmpty)
    assert(copies.toSet.subsetOf(got.map(p => (p._1, p._2)).toSet))
  }

  // a corpus-side bucket above maxBucket drops out of the cross-bucket
  // candidates, so the delta copy of the flooded doc survives; below
  // the cap the same copy drops
  private val flood = "the flooded boilerplate document repeated many times"
  private lazy val corpus = Seq((0L, flood), (1L, flood), (2L, flood),
    (3L, "an unrelated corpus document with its own words")).toDF("id", "t")
  private lazy val delta = Seq((10L, flood),
    (11L, "a fresh delta document nothing else repeats")).toDF("id", "t")

  test("minHashLshIncremental: an oversized corpus bucket lets the copy survive") {
    val state = Dedup.minHashState(corpus, "t", "id")
    def kept(maxBucket: Int) = Dedup.minHashLshIncremental(state, delta,
        "t", "id", maxBucket = maxBucket)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept(3) == Seq(11L))
    assert(kept(2) == Seq(10L, 11L))
  }

  test("simHashIncremental: an oversized corpus bucket lets the copy survive") {
    val state = Dedup.simHashState(corpus, "t", "id")
    def kept(maxBucket: Int) = Dedup.simHashIncremental(state, delta,
        "t", "id", maxHamming = 2, maxBucket = maxBucket)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept(3) == Seq(11L))
    assert(kept(2) == Seq(10L, 11L))
  }

  test("a caller's pushable predicate reaches the scan below the fence") {
    val path = tmpDir("dedup-fence") + "/t"
    docs.map { case (i, s) => (i, s, (i % 3).toInt) }.toDF("id", "t", "src")
      .write.parquet(path)
    val in = spark.read.parquet(path).filter(col("id") >= 40L)
    val plans = Seq(
      "minHashLsh" -> Dedup.minHashLsh(in, "t", "id"),
      "simHashNearDup" -> Dedup.simHashNearDup(in, "t", "id", 3),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(in, "t", "id", 2, 0.5,
        Some("src")))
    plans.foreach { case (name, out) =>
      val plan = out.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.nonEmpty, s"$name: no scan\n$plan")
      scans.foreach(s => assert(s.contains("GreaterThanOrEqual(id,40)"),
        s"$name: predicate stopped above the scan\n$plan"))
    }
  }
}
