package graft.examples

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Harness
import graft.format.GraftDataset
import graft.operators.{Compute, Multimodal, Statistics}
import graft.sources.IO
import graft.functions.{TextFunctions => T}

/** End-to-end training-data pipeline walkthrough: CSV ingest → versioned
  * table → compute pipeline (clean + quality features) → statistics →
  * text index + search → multimodal decode plumbing → export.
  * Run with `sbt "runMain graft.examples.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "docs.csv"),
      "doc_id,text\n" +
        "1,the quick brown fox jumps over the lazy dog\n" +
        "2,spark native vector search at scale\n" +
        "3,the quick brown fox jumps over the lazy dog\n")

    // ingest → versioned table
    val raw = IO.fromCsv(spark, s"$work/docs.csv")
    val ds = IO.fromDataFrame(raw, s"$work/table", "csv import")
    println(s"ingested rows: ${ds.toDF.count()} @ commit ${ds.head.get}")

    // compute pipeline: normalize + quality features, append to a new table
    val features = Compute.compute("normalize")(df =>
        df.withColumn("text", lower(trim($"text"))))
      .andThen(Compute.compute("features")(df => df
        .withColumn("n_tokens", T.tokenCount($"text"))
        .withColumn("lang", T.langId($"text"))
        .withColumn("quality", T.qualityScore($"text"))))
    val out = GraftDataset.create(spark, s"$work/features", StructType(Seq(
      StructField("doc_id", IntegerType), StructField("text", StringType),
      StructField("n_tokens", IntegerType), StructField("lang", StringType),
      StructField("quality", DoubleType))))
    features.eval(ds.toDF, out, "featurized")
    out.toDF.orderBy("doc_id").show(truncate = false)

    println("column statistics:")
    out.summary().show(truncate = false)

    // text index bound to the commit; indexed search (shard-routed)
    out.createIndexVectorized("text")
    println(s"index fresh: ${out.indexFresh("inverted", "text")}")
    println("search 'quick fox':")
    out.textSearch("text", "quick fox").select("doc_id").show()
    out.optimizeIndex("text") // compact posting fragments
    println(s"after optimizeIndex, still fresh: ${out.indexFresh("inverted", "text")}, " +
      s"table bytes: ${out.sizeApprox}")

    // index-aware optimizer rule: same predicate, plan becomes a semi-join
    org.apache.spark.sql.graftnative.GraftExtensions.install(spark)
    val routed = out.filterIndexed("text", "quick fox")
    println("routed plan uses LeftSemi: " +
      routed.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    routed.select("doc_id").show()

    // multimodal plumbing with the stubbed codec
    val media = spark.createDataFrame(
      java.util.List.of(
        Row(1L, Array[Byte](10, 20, 30, 40), Seq(2, 2, 3), "png"),
        Row(2L, Array[Byte](5, 5), null, "jpg")),
      StructType(StructField("id", LongType) +: Multimodal.mediaSchema("img")))
    println("decoded media features:")
    Multimodal.decodeImages(media, "img")
      .select("id", "height", "width", "channels", "mean_intensity").show()

    // exact dedup: docs 1 and 3 are identical → corpus shrinks to 2
    val deduped = graft.operators.Dedup.dedupCorpus(out.toDF, "text", "doc_id")
    println(s"corpus after exact dedup: ${deduped.count()} docs " +
      s"(ids ${deduped.select("doc_id").orderBy("doc_id").collect().map(_.get(0)).mkString(",")})")

    // UDF row filter (executor-side predicate)
    println(s"docs with quality > 0.5 via row UDF: " +
      out.filterRows(r => r.getAs[Double]("quality") > 0.5).count())

    // export
    IO.toJson(out.toDF, s"$work/export.json", numPartitions = 1)
    println(s"exported json rows: ${IO.fromJson(spark, s"$work/export.json").count()}")
    spark.stop()
  }
}
