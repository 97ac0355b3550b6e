package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the on-disk commit format across [[TableState]]: a commit read
  * into a state and published again is the same commit, field for field
  * and byte for byte (bar the publish timestamp), for every commit of a
  * table that renames, drops, re-adds, updates, pops, compacts and
  * merges, and for legacy-shaped commits (no `epochs`, `stats` or
  * `statsNormalized`) over a non-empty rename chain.
  */
class TableStateSpec extends SparkSpec {
  import spark.implicits._

  private def republished(m: CommitMeta): CommitMeta =
    TableState.of(m)
      .meta(m.id, m.parent, m.mergeParent, m.message, m.rewrite.contains(true))
      .copy(timestampMs = m.timestampMs)

  private def assertRoundTrip(m: CommitMeta): Unit = {
    val back = republished(m)
    for ((name, (got, want)) <- m.productElementNames.toSeq
        .zip(back.productIterator.zip(m.productIterator).toSeq))
      assert(got == want, s"commit ${m.id} (${m.message}): field $name")
    assert(org.json4s.jackson.Serialization.write(back)(CommitLog.fmts) ==
      org.json4s.jackson.Serialization.write(m)(CommitLog.fmts))
  }

  /** Every kind of commit the engine publishes, on one table. */
  private lazy val history: Seq[CommitMeta] = {
    val ds = GraftDataset.create(spark, tmpDir("state") + "/t",
      StructType(Seq(StructField("id", LongType), StructField("v", StringType),
        StructField("w", IntegerType))))
    ds.append((1L to 8L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "w"))
    ds.commit("base")
    ds.checkout("dev", create = true)
    ds.update($"id" === 1L, Map("v" -> lit("dev")))
    ds.commit("dev update")
    ds.checkout("main")
    ds.renameTensor("v", "label")
    ds.deleteTensor("w")
    ds.createTensor("w", IntegerType)
    ds.commit("rename, drop, re-add")
    ds.append(Seq((9L, "nine", 9)).toDF("id", "label", "w"))
    ds.pop($"id" === 2L)
    ds.commit("append after rename, pop")
    ds.merge("dev")
    ds.optimizeSmallFiles()
    ds.commit("repack")
    ds.log
  }

  test("every published commit round-trips through its state") {
    assert(history.exists(_.mergeParent.isDefined))
    assert(history.exists(_.rewrite.contains(true)))
    assert(history.exists(m => m.epochs.isDefined && m.stats.isDefined &&
      m.statsNormalized.contains(true)))
    history.foreach(assertRoundTrip)
  }

  test("legacy-shaped commits round-trip and load un-normalized") {
    val legacy = history.filter(_.renames.nonEmpty)
      .map(_.copy(stats = None, epochs = None, statsNormalized = None))
    assert(legacy.nonEmpty)
    legacy.foreach(assertRoundTrip)
    legacy.foreach { m =>
      val s = TableState.of(m)
      assert(!s.statsNormalized && s.epochs.isEmpty && s.stats.isEmpty)
      assert(s.renames.map { case (a, b) => Seq(a, b) } == m.renames)
    }
  }

  test("the set-keyed stat-key rule answers as testing every entry") {
    def byScan(entries: Seq[String], k: String): Boolean =
      entries.exists(e => k == e || k.startsWith(e + "/"))
    val entrySets = Seq(
      Seq("data/base-1.parquet", "data/base-2.parquet"),
      Seq("a", "a/b", "a/b/c"),
      Seq("a/b/c"),
      Seq("a"),
      Seq("ab"),
      Seq("x/y", "x//z", "/lead", ""),
      Seq.empty[String])
    val keys = Seq("data/base-1.parquet", "data/base-1.parquet/part-0",
      "data/base-12.parquet/part-0", "data/base-1.parquetx",
      "a", "ab", "ab/x", "a/b", "a/b/c", "a/b/c/part-0", "a/bc",
      "a/b/cd", "b/a", "x/y/part-1", "x/yz", "x//z/p", "x/", "/lead/p",
      "/", "", "lead")
    for (es <- entrySets; k <- keys)
      assert(TableState.under(es.toSet, k) == byScan(es, k),
        s"key '$k' against entries $es")
  }
}
