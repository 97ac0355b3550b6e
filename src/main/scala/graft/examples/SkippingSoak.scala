package graft.examples

import org.apache.spark.sql.functions._
import graft.Harness
import graft.format.{FileSkipping, GraftDataset}

/** Manifest file-skipping soak at a REAL manifest width (~5k files):
  * the unit specs prove pruning on toy tables; this measures the
  * driver-side constant factors the 100 TB story rests on —
  *
  *  - footer-stat capture cost at write time (parallel parMap pool)
  *    for a 5k-file entry,
  *  - a selective id-range scan WITH stats (driver prunes before the
  *    snapshot plan exists) vs the SAME query through the unpruned
  *    snapshot (`ds.toDF` — every file planned),
  *  - an event-time (timestamp) range — the r14 temporal stat domain —
  *    over the same range-clustered files,
  *  - the same selective scan AFTER a column rename (stat keys are
  *    normalized alongside the rename; pruning must survive).
  *
  * Files cover disjoint id/ts ranges (range-clustered write), so a
  * range predicate admits only the covering files; everything else is
  * provably excludable from the footer min/max in the manifest.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.SkippingSoak [nFiles] [rowsPerFile]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object SkippingSoak {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(5000)
    val rowsPerFile = args.drop(1).headOption.map(_.toInt).getOrElse(400)
    val spark = Harness.session(Harness.cpus)

    val base = java.nio.file.Files.createTempDirectory("graft-skipsoak")
    val root = s"$base/t"
    val n = nFiles.toLong * rowsPerFile
    // id-monotone event time: one file ≈ one 400-second slice
    val df = spark.range(n).select(col("id"),
      (col("id") % 997).cast("double").as("v"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))
    val ds = GraftDataset.create(spark, root, df.schema)
    // stable partitioning across append's two uuid passes: materialize
    // the range clustering once
    val clustered = df.repartitionByRange(nFiles, col("id")).persist()
    clustered.count()
    val tAppend0 = System.nanoTime()
    ds.append(clustered) // footer-stat capture for all files happens here
    val appendSec = (System.nanoTime() - tAppend0) / 1e9
    ds.commit("clustered")
    clustered.unpersist()
    val filesWritten = ds.describeFiles.select("file").distinct().count()

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def prunedDelta[T](body: => T): (T, Long) = {
      val before = FileSkipping.prunedFiles.get()
      val r = body
      (r, FileSkipping.prunedFiles.get() - before)
    }
    def read() = spark.read.format("graft").load(root)
    // warm both paths once (class loading, codegen)
    read().filter(col("id") < 10L).count()
    ds.toDF.filter(col("id") < 10L).count()

    val lo = n / 2
    val hi = lo + rowsPerFile / 2
    val ((idRows, idPruned), idSec) = timed(prunedDelta(
      read().filter(col("id") >= lo && col("id") < hi).count()))
    val ((ctrlRows, _), ctrlSec) = timed(prunedDelta(
      ds.toDF.filter(col("id") >= lo && col("id") < hi).count()))
    require(idRows == ctrlRows, s"pruned $idRows != control $ctrlRows")

    val tsLo = new java.sql.Timestamp(1704067200000L + lo * 1000L)
    val tsHi = new java.sql.Timestamp(1704067200000L + hi * 1000L)
    val ((tsRows, tsPruned), tsSec) = timed(prunedDelta(
      read().filter(col("ts") >= tsLo && col("ts") < tsHi).count()))
    require(tsRows == idRows, s"ts-range rows $tsRows != id-range $idRows")

    // rename: stat keys migrate; pruning must hold on the new name
    ds.renameTensor("v", "w")
    ds.commit("rename v->w")
    val vLo = 100.0
    val ((renRows, renPruned), renSec) = timed(prunedDelta(
      read().filter(col("id") >= lo && col("id") < hi &&
        col("w") >= vLo).count()))
    val okRename = renPruned >= nFiles - 8

    val ok = idPruned >= nFiles - 4 && tsPruned >= nFiles - 4 && okRename
    println(s"""{"nFiles":$filesWritten,"rows":$n,""" +
      f""""appendCaptureSec":$appendSec%.1f,""" +
      s""""idRange":{"rows":$idRows,"pruned":$idPruned,""" +
      f""""sec":$idSec%.2f},""" +
      f""""controlNoSkip":{"rows":$ctrlRows,"sec":$ctrlSec%.2f},""" +
      s""""tsRange":{"rows":$tsRows,"pruned":$tsPruned,""" +
      f""""sec":$tsSec%.2f},""" +
      s""""afterRename":{"rows":$renRows,"pruned":$renPruned,""" +
      f""""sec":$renSec%.2f},""" +
      s""""ok":$ok}""")
    if (!ok) sys.exit(1)
    graft.QueryCleanup.deleteRecursively(base.toString)
    spark.stop()
  }
}
