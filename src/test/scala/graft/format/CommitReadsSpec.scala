package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins how many commit files each read-side operation reads
  * ([[CommitLog.commitReads]] deltas): every commit an operation needs
  * is read once, as one [[TableState]], and no commit is read to learn
  * that it exists. `diff`, `detectMergeConflict` and `merge` pay the
  * LCA walk plus one read per frame (LCA, ours, theirs); that walk is
  * measured on its own, right before each operation, so the expectation
  * holds whatever the ancestry checkpoint serves. Also pins the
  * messages a bogus ref and a missing commit id give.
  */
class CommitReadsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  /** Five commits: `init` and `base` on main, `side` on a side branch
    * off `base`, then an update and a pop on main (HEAD). */
  private def probeTable(): GraftDataset = {
    val ds = GraftDataset.create(spark, tmpDir("reads") + "/t", schema)
    ds.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    ds.commit("base")
    ds.checkout("side", create = true)
    ds.append(Seq((10L, "s")).toDF("id", "v"))
    ds.commit("side")
    ds.checkout("main")
    ds.update($"id" === 2L, Map("v" -> lit("u")))
    ds.commit("update")
    ds.pop($"id" === 3L)
    ds.commit("pop")
    ds
  }

  private def reads(body: => Any): Long = {
    val before = CommitLog.commitReads.get()
    body
    CommitLog.commitReads.get() - before
  }

  private def lcaReads(ds: GraftDataset, ref: String): Long =
    reads(CommitLog.lca(spark, ds.root, ds.head.get, ds.branches(ref)))

  test("time travel and detached loads read their commit once") {
    val ds = probeTable()
    val base = ds.commitForMessage("base").get
    assert(reads(ds.snapshotAt(base)) == 1)
    assert(reads(GraftDataset.loadCommit(spark, ds.root, base)) == 1)
  }

  test("diff, detectMergeConflict and merge read the LCA walk plus three") {
    val ds = probeTable()
    var walk = lcaReads(ds, "side")
    assert(walk > 0)
    assert(reads(ds.diff("side")) == walk + 3)
    walk = lcaReads(ds, "side")
    assert(reads(ds.detectMergeConflict("side")) == walk + 3)
    walk = lcaReads(ds, "side")
    assert(reads(ds.merge("side")) == walk + 3)
  }

  test("a commit-id target reads the LCA walk plus three") {
    val ds = probeTable()
    val side = ds.branches("side")
    def walk() = reads(CommitLog.lca(spark, ds.root, ds.head.get, side))
    var w = walk()
    assert(w > 0)
    assert(reads(ds.diff(side)) == w + 3)
    w = walk()
    assert(reads(ds.detectMergeConflict(side)) == w + 3)
    w = walk()
    assert(reads(ds.merge(side)) == w + 3)
  }

  test("changes to a commit id reads each commit of the range once") {
    val ds = probeTable()
    val base = ds.commitForMessage("base").get
    val pop = ds.head.get
    assert(reads(ds.changes(base, pop)) == 3)
    assert(reads(ds.changes(toRef = pop)).toInt ==
      CommitLog.firstParentChain(spark, ds.root, Some(pop)).size)
    assert(ds.changes(base, pop).count() == 2)
  }

  test("changes(from) reads each commit of the range once") {
    val ds = probeTable()
    val base = ds.commitForMessage("base").get
    // `base` itself (the range start's state) plus `update` and `pop`
    assert(reads(ds.changes(base)) == 3)
    assert(ds.changes(base).count() == 2) // one postimage, one delete
  }

  /** `init` and four appends on main. */
  private def appendTable(): (GraftDataset, Seq[String]) = {
    val ds = GraftDataset.create(spark, tmpDir("readsstream") + "/t", schema)
    for (i <- 1L to 4L) {
      ds.append(Seq((i, s"v$i")).toDF("id", "v"))
      ds.commit(s"a$i")
    }
    (ds, CommitLog.firstParentChain(spark, ds.root, ds.head).map(_.id)
      .toVector.reverse)
  }

  private def source(ds: GraftDataset, changeFeed: Boolean) =
    new GraftTailSource(spark, ds.root, "main", withUuid = false,
      ignoreChanges = false, changeFeed = changeFeed)

  private def batchReads(src: GraftTailSource, from: String,
                         to: String): Long = {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    reads(src.getBatch(Some(LongOffset(from.toLong)), LongOffset(to.toLong)))
  }

  test("a steady incremental getBatch reads its commit and the start") {
    val (ds, ids) = appendTable()
    for (cdf <- Seq(false, true))
      assert(batchReads(source(ds, cdf), ids(3), ids(4)) == 2, s"cdf=$cdf")
  }

  test("a replayed range older than the pin reads the gap walk once") {
    val (ds, ids) = appendTable()
    // the gap (a2, a4] walked once, plus a2 as its anchor; then the
    // range: a2 and its start a1
    for (cdf <- Seq(false, true))
      assert(batchReads(source(ds, cdf), ids(1), ids(2)) == 2 + 1 + 2,
        s"cdf=$cdf")
  }

  test("a bogus ref and a missing commit id keep their messages") {
    val ds = probeTable()
    val root = ds.root
    def msg(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msg(GraftDataset.loadCommit(spark, root, "99999999")) ==
      s"requirement failed: no commit 99999999 at $root")
    assert(msg(GraftDataset.loadCommit(spark, root, "../branches")) ==
      s"requirement failed: no commit ../branches at $root")
    assert(msg(ds.checkout("nope")) ==
      "requirement failed: no branch or commit nope")
    assert(msg(ds.checkout("99999999")) ==
      "requirement failed: no branch or commit 99999999")
    assert(msg(ds.diff("nope")) ==
      "requirement failed: no branch or commit nope")
    // a detached checkout of a real id still works
    val base = ds.commitForMessage("base").get
    ds.checkout(base)
    assert(ds.head.contains(base) && ds.branch.isEmpty)
    assert(ds.toDF.count() == 6L)
  }
}
