package lakebench

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything a workload feeds the engine comes
  * from here, so one seed gives the same inputs on every machine.
  */
object Gen {
  val Dim = 64

  /** TPC-H `lineitem` columns, with values drawn the way dbgen draws
    * them (uniform keys, quantity 1..50, discount 0..0.10, tax 0..0.08). */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DecimalType(15, 2), nullable = false),
    StructField("l_extendedprice", DecimalType(15, 2), nullable = false),
    StructField("l_discount", DecimalType(15, 2), nullable = false),
    StructField("l_tax", DecimalType(15, 2), nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  private val CommentWords = Vector("carefully", "final", "deposits", "quickly",
    "ironic", "requests", "furiously", "regular", "packages", "blithely",
    "express", "accounts", "pending", "silent", "foxes", "slyly", "bold",
    "theodolites", "even", "instructions")

  private def dec(unscaled: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(unscaled, 2)

  /** About `rows` lineitem rows for orders numbered from `firstOrder`;
    * returns the rows and the next free order key. */
  def lineitem(rnd: scala.util.Random, firstOrder: Long,
               rows: Int): (Seq[Row], Long) = {
    val out = Vector.newBuilder[Row]
    var n = 0
    var order = firstOrder
    val day0 = Date.valueOf("1992-01-02").toLocalDate
    while (n < rows) {
      val lines = 1 + rnd.nextInt(7)
      val ship = day0.plusDays(rnd.nextInt(2500).toLong)
      var l = 1
      while (l <= lines && n < rows) {
        val part = 1L + rnd.nextInt(20000)
        val qty = 1 + rnd.nextInt(50)
        val price = qty.toLong * (90000L + (part % 20001L) * 10L) / 100L
        val comment = Seq.fill(3 + rnd.nextInt(4))(
          CommentWords(rnd.nextInt(CommentWords.size))).mkString(" ")
        out += Row(order, part, 1L + rnd.nextInt(1000), l, dec(qty * 100L),
          dec(price), dec(rnd.nextInt(11).toLong), dec(rnd.nextInt(9).toLong),
          if (rnd.nextInt(4) == 0) "R" else if (rnd.nextBoolean()) "A" else "N",
          if (rnd.nextBoolean()) "O" else "F",
          Date.valueOf(ship.plusDays(rnd.nextInt(120).toLong)), comment)
        l += 1; n += 1
      }
      order += 1
    }
    (out.result(), order)
  }

  /** `n` distinct lowercase words. */
  def vocabulary(rnd: scala.util.Random, n: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n)
      seen += Seq.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toVector
  }

  /** Zipf(s = 1) sampler over ranks 0 until n. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rnd: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def centers(rnd: scala.util.Random, k: Int): Vector[Array[Float]] =
    Vector.fill(k)(Array.fill(Dim)(rnd.nextGaussian().toFloat))

  /** A point of the cluster around `c`. */
  def near(rnd: scala.util.Random, c: Array[Float], spread: Double): Array[Float] =
    c.map(x => (x + spread * rnd.nextGaussian()).toFloat)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Write rows as one parquet file; returns its directory. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   path: String): String = {
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Bytes of the regular files under `path` (0 when absent). */
  def diskBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  /** Parquet data bytes under `path`, without checksum or marker files. */
  def parquetBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
