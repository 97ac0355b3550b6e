package graft.format

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Pins the change feed over one scripted history on `main`: append,
  * update and pop; a pure rename and a pure add (with writes to the added
  * column); a clean-state `compact` (a rewrite commit); and a delta merge
  * of a side branch. Three checks:
  *   - the events of `changes` over every prefix and every suffix range
  *     of main's first-parent chain, digested (column names, then the
  *     sorted rows of `_change_type`, `_commit_id`, `_uuid` and the data
  *     columns, `schema_change` rows included);
  *   - the streaming `changeFeed` at `maxCommitsPerTrigger` 1 (one run
  *     over the finished history) and 0 (one run after every commit, so
  *     one batch per commit) delivers, bootstrap batch excluded, the same
  *     rows as `changes` over the same range — compared by position,
  *     since a stream pins the names of its head and `changes` those of
  *     its range start;
  *   - the executed plan of one `changes` call, and the executed RDD
  *     lineage of one incremental change-feed `getBatch` (its rows are
  *     planned inside the source), with ids, call sites, the table root
  *     and random data-file names normalized as in [[IndexFacetSpec]].
  * A mismatch lists every failing case with its actual value.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  /** The scripted history; `afterMain` runs after each commit on main. */
  private def history(root: String, afterMain: () => Unit): GraftDataset = {
    val ds = GraftDataset.create(spark, root, schema)
    def commit(msg: String): Unit = { ds.commit(msg); afterMain() }
    ds.append((1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    commit("append")
    ds.update(col("id") === 2L, Map("v" -> lit("u2")))
    commit("update")
    ds.pop(col("id") === 3L)
    commit("pop")
    ds.renameTensor("v", "w")
    commit("rename")
    ds.append(Seq((9L, "v9")).toDF("id", "w"))
    commit("append after rename")
    ds.createTensor("x", StringType)
    commit("add")
    ds.append(Seq((10L, "v10", "x10")).toDF("id", "w", "x"))
    ds.update(col("id") === 4L, Map("x" -> lit("x4")))
    commit("write added")
    ds.compact()
    commit("compact")
    ds.checkout("side", create = true)
    ds.append(Seq((11L, "s11", "xs")).toDF("id", "w", "x"))
    ds.commit("side append")
    ds.update(col("id") === 5L, Map("w" -> lit("s5")))
    ds.commit("side update")
    ds.checkout("main")
    ds.update(col("id") === 6L, Map("w" -> lit("m6")))
    commit("main update")
    ds.merge("side")
    afterMain()
    ds
  }

  /** Main's first-parent commits, oldest (`init`) first. */
  private def chain(ds: GraftDataset): Seq[String] =
    CommitLog.firstParentChain(spark, ds.root, ds.head).map(_.id)
      .toVector.reverse

  private def rowLines(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString(",")).sorted

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private def eventDigest(df: DataFrame): String = {
    val lines = rowLines(df.collect().toSeq)
    s"${sha((df.columns.mkString(",") +: lines).mkString("\n"))}/${lines.size}"
  }

  private def normalize(text: String, root: String): String = text
    .replace(new java.io.File(root).toURI.toString.stripSuffix("/"), "<root>")
    .replace(root, "<root>")
    .replaceAll("(data/[a-z]+)-[0-9a-f]{8}-[0-9a-f]{3}\\.parquet", "$1.parquet")
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")

  /** The executed plan, scan paths printed whole (a cut through a random
    * file name would vary the text). */
  private def planDigest(df: DataFrame, root: String): String = {
    val width = "spark.sql.maxMetadataStringLength"
    spark.conf.set(width, "100000")
    try sha(normalize(df.queryExecution.executedPlan.toString, root))
    finally spark.conf.unset(width)
  }

  /** The RDD lineage under a micro-batch frame, without RDD ids, call
    * sites (which name source lines) and partition counts (a small file's
    * split count varies with what ran before in the JVM, at either side).
    */
  private def lineageDigest(df: DataFrame, root: String): String = {
    val rdds = df.queryExecution.logical.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.toDebugString }
    assert(rdds.size == 1)
    sha(normalize(rdds.head.replaceAll("\\[\\d+\\] at [^\\[]*\\[", "[] [")
      .replaceAll("\\(\\d+\\) ", "(n) "), root))
  }

  private def check(got: Seq[(String, String)]): Unit = {
    val bad = got.filter { case (n, d) => !golden.get(n).contains(d) }
    assert(got.nonEmpty && got.map(_._1).distinct.size == got.size)
    assert(bad.isEmpty, bad.map { case (n, d) => s"""    "$n" -> "$d",""" }
      .mkString("mismatched cases (actual values):\n", "\n", ""))
  }

  test("changes over every prefix and suffix range returns the pinned events") {
    val ds = history(tmpDir("cfprefix") + "/t", () => ())
    val ids = chain(ds)
    val msgs = CommitLog.firstParentChain(spark, ds.root, ds.head)
      .map(m => m.id -> m.message).toMap
    val got = ids.flatMap { c =>
      Seq(s"prefix/${msgs(c)}" -> eventDigest(ds.changes(toRef = c)),
        s"suffix/${msgs(c)}" -> eventDigest(ds.changes(fromRef = c)))
    }
    check(got)
  }

  test("the streaming change feed delivers the rows changes gives") {
    val root = tmpDir("cfstream") + "/t"
    val live = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val liveCkpt = tmpDir("cfstream0ck")
    def drain(cap: Int, ckpt: String,
              out: scala.collection.mutable.ArrayBuffer[(Long, Seq[String])])
        : Unit = {
      spark.readStream.format("graft").option("changeFeed", "true")
        .option("maxCommitsPerTrigger", cap.toString).load(root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          out += id -> rowLines(df.collect().toSeq); ()
        }
        .start().awaitTermination()
    }
    val ds = history(root, () => drain(0, liveCkpt, live))
    val ids = chain(ds)
    val paced = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    drain(1, tmpDir("cfstream1ck"), paced)
    def delivered(b: Seq[(Long, Seq[String])]) =
      b.filter(_._1 > 0).flatMap(_._2).sorted
    // one batch per commit after the bootstrap at `init`
    assert(paced.map(_._1).sorted == ids.indices.map(_.toLong))
    assert(delivered(paced.toSeq) ==
      rowLines(ds.changes(ids.head, ids.last).collect().toSeq))
    // the live stream's bootstrap is the first commit after `init`, then
    // batch b is commit ids(b + 1); each restart re-pins at the head, so
    // a batch is as wide as `changes` over its own range
    assert(live.map(_._1).sorted == (0 until ids.size - 1).map(_.toLong))
    for ((b, rows) <- live if b > 0)
      assert(rows == rowLines(ds.changes(ids(b.toInt), ids(b.toInt + 1))
        .collect().toSeq), s"batch $b")
    check(Seq(
      "stream/paced" -> sha(delivered(paced.toSeq).mkString("\n")),
      "stream/live" -> sha(delivered(live.toSeq).mkString("\n"))))
  }

  test("one changes call and one incremental getBatch keep their plans") {
    val ds = history(tmpDir("cfplan") + "/t", () => ())
    val ids = chain(ds)
    val source = new GraftTailSource(spark, ds.root, "main",
      withUuid = false, ignoreChanges = false, changeFeed = true)
    def batch(from: Int, to: Int) = source.getBatch(
      Some(LongOffset(ids(from).toLong)), LongOffset(ids(to).toLong))
    check(Seq(
      "plan/changes" -> planDigest(ds.changes(ids(1), ids.last), ds.root),
      "plan/changes/update" -> planDigest(ds.changes(ids(1), ids(2)), ds.root),
      "lineage/getBatch" -> lineageDigest(batch(1, ids.size - 1), ds.root),
      "lineage/getBatch/update" -> lineageDigest(batch(1, 2), ds.root)))
  }

  private val golden: Map[String, String] = Map(
    "prefix/init" -> "9e730e482bd1f9a3/0",
    "suffix/init" -> "7c4e493dcd984af3/18",
    "prefix/append" -> "ad3812cf7b72e75a/8",
    "suffix/append" -> "21d8d4c623c8ac81/10",
    "prefix/update" -> "d24a34ae037eddbe/9",
    "suffix/update" -> "a20562d65a151214/9",
    "prefix/pop" -> "a935fee1b9f419d0/10",
    "suffix/pop" -> "d6d5620eb759c64f/8",
    "prefix/rename" -> "06b666f1a3a67c6c/11",
    "suffix/rename" -> "1dc62aca2317d0c2/7",
    "prefix/append after rename" -> "b8f3cc29258d15c3/12",
    "suffix/append after rename" -> "628fbe870606b914/6",
    "prefix/add" -> "8b158a0c431caf0c/13",
    "suffix/add" -> "ae8d941c52b8da46/5",
    "prefix/write added" -> "c52addd08acc7f03/15",
    "suffix/write added" -> "c7e16516ae8f5e23/3",
    "prefix/compact" -> "c52addd08acc7f03/15",
    "suffix/compact" -> "c7e16516ae8f5e23/3",
    "prefix/main update" -> "f9340d36438513f6/16",
    "suffix/main update" -> "b39c9606b5dc962e/2",
    "prefix/merge side" -> "7c4e493dcd984af3/18",
    "suffix/merge side" -> "3675391abe05334d/0",
    "plan/changes" -> "0e76efec7c13af1b",
    "plan/changes/update" -> "458fb13251e70203",
    "lineage/getBatch" -> "e251050f5a7fd0f6",
    "lineage/getBatch/update" -> "131bb854edc84979",
    "stream/paced" -> "9d8215dfdcb77ac9",
    "stream/live" -> "0d1b3d81e72174e3",
  )
}
