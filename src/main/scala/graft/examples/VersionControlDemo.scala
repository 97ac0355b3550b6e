package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Harness
import graft.format.{GraftDataset, Versioning}

/** End-to-end walkthrough of the versioned table format: create → append →
  * branch → divergent edits → conflict report → three-way merge → views →
  * compaction. Run with `sbt "runMain graft.examples.VersionControlDemo"`.
  */
object VersionControlDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString
    println(s"table root: $root")

    val ds = GraftDataset.create(spark, root, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("quality", DoubleType))))
    ds.append(Seq(
      (0L, "the quick brown fox", 0.9),
      (1L, "lorem ipsum dolor", 0.4),
      (2L, "spark native analytics", 0.8)).toDF("doc_id", "text", "quality"))
    ds.commit("initial corpus")
    println(s"HEAD after initial commit: ${ds.head.get}")

    ds.checkout("cleanup", create = true)
    ds.update(col("doc_id") === 1L, Map("quality" -> lit(0.1)))
    ds.pop(col("quality") < 0.2)
    ds.renameTensor("quality", "quality_score") // adopted by main at merge
    ds.commit("drop low quality")
    println(s"cleanup branch rows: ${ds.toDF.count()}")

    ds.checkout("main")
    ds.update(col("doc_id") === 1L, Map("text" -> lit("lorem ipsum UPDATED")))
    ds.append(Seq((3L, "new doc on main", 0.7)).toDF("doc_id", "text", "quality"))
    ds.commit("main edits")

    println("conflicts vs cleanup:")
    ds.detectMergeConflict("cleanup").show(truncate = false)
    println("diff vs cleanup:")
    ds.diff("cleanup").show()

    val mergeCommit = ds.merge("cleanup",
      Versioning.MergeResolutions(update = "ours", pop = "theirs"))
    println(s"merge commit: $mergeCommit")
    ds.toDF.orderBy("doc_id").show(truncate = false)

    ds.saveView("good", col("quality_score") >= 0.7)
    println(s"views: ${ds.views}; good rows: ${ds.loadView("good").count()}")

    ds.compact()
    ds.commit("compacted")
    println(s"rows after compaction: ${ds.toDF.count()}")
    println(s"history: ${ds.log.map(m => s"${m.id}:${m.message}").mkString(" <- ")}")
    val root0 = ds.log.last.id
    println(s"children of $root0: ${ds.children(root0).mkString(",")}; " +
      s"all commits: ${ds.allCommits.size}")
    spark.stop()
  }
}
