package graft.format

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the delta merge (ours' manifest plus churn-sized entries, joined
  * only over the churn since the LCA) to the full-table three-way merge
  * it replaced: [[Versioning.mergeSnapshots]] over the UNRESTRICTED LCA /
  * ours / theirs snapshots. Seeded random divergences cover append,
  * update and pop on each side, all 18 resolution triples, fast-forward,
  * a compaction on either side, and a column added, renamed, dropped or
  * dropped-and-recreated on either side. Every merge is checked row for
  * row with `_uuid`, by metadata count, and by its manifest shape; `diff`
  * and `detectMergeConflict` are checked against the unrestricted join.
  */
class MergeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val U = GraftDataset.UuidCol
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType), StructField("w", IntegerType)))
  private val triples = for {
    a <- Seq("ours", "theirs", "both"); u <- Seq("ours", "theirs")
    p <- Seq("ours", "theirs", "both")
  } yield Versioning.MergeResolutions(a, u, p)

  /** 40 base rows committed on main, with branch `dev` at that commit. */
  private def baseTable(name: String): GraftDataset = {
    val ds = GraftDataset.create(spark, tmpDir(name) + "/t", schema)
    ds.append((0L until 40L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "w"))
    ds.commit("base")
    ds.checkout("dev", create = true)
    ds.checkout("main")
    ds
  }

  /** Random update / pop / append commits on the checked-out branch;
    * each op is skipped or kept by the seed, never committed empty. */
  private def mutate(ds: GraftDataset, rnd: scala.util.Random, side: String,
                     appendFrom: Long): Unit = {
    def slice() = pmod(col("id") + lit(rnd.nextInt(97)), lit(rnd.nextInt(4) + 3)) === 0
    if (rnd.nextInt(4) != 0 &&
        ds.update(slice(), Map("v" -> concat(lit(s"$side-"), col("v")))) > 0)
      ds.commit(s"$side update")
    if (rnd.nextInt(4) != 0 && ds.pop(slice()) > 0) ds.commit(s"$side pop")
    val n = rnd.nextInt(4)
    if (n > 0) {
      ds.append((appendFrom until appendFrom + n)
        .map(i => (i, s"$side-new$i")).toDF("id", "v"))
      ds.commit(s"$side append")
    }
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.getAs[Long](U))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `diff` and `detectMergeConflict` of merging `target` into `ds`
    * equal the unrestricted three-way join's. */
  private def checkCompare(ds: GraftDataset, target: String): Unit = {
    val full = ds.compareInputs(target, restrict = false)
    assert(sorted(ds.diff(target)) == sorted(Versioning.diffReport(
      full.lca, full.ours, full.theirs, full.schema)), s"diff: ${ds.root}")
    assert(sorted(ds.detectMergeConflict(target)) == sorted(
      Versioning.conflicts(full.lca, full.ours, full.theirs, full.schema)),
      s"conflicts: ${ds.root}")
  }

  /** Merge `target` into `ds` and check it against the unrestricted
    * three-way merge; returns the merge commit. */
  private def checkMerge(ds: GraftDataset, target: String,
                         r: Versioning.MergeResolutions,
                         compare: Boolean = true): CommitMeta = {
    if (compare) checkCompare(ds, target)
    val ourId = ds.head.get
    val theirId = ds.branches(target)
    val lcaId = CommitLog.lca(spark, ds.root, ourId, theirId)
    val ctx = s"$r on ${ds.root}"
    val (ref, _) = ds.mergeInputs(ourId, theirId, lcaId, restrict = false)
    val cols = ref.schema.fieldNames.toSeq :+ U
    val want = rows(Versioning.mergeSnapshots(ref.lca, ref.ours, ref.theirs,
      StructType(ref.schema.fields :+ StructField(U, LongType, nullable = false)),
      r), cols)
    val ours = CommitLog.readCommit(spark, ds.root, ourId)
    val m = CommitLog.readCommit(spark, ds.root, ds.merge(target, r))
    assert(ds.schema.fieldNames.toSeq == ref.schema.fieldNames.toSeq, ctx)
    val got = rows(ds.snapshotWithUuid(), cols)
    assert(got == want, s"merged snapshot: $ctx\n got  $got\n want $want")
    assert(ds.countRows == got.size, s"countRows: $ctx")
    // ours' manifest, extended by at most one entry of each kind; only a
    // resurrection (ours' pops not honored) rewrites tombstone entries
    def extendsBy1(mine: Seq[String], base: Seq[String]) =
      mine.startsWith(base) && mine.size <= base.size + 1
    assert(extendsBy1(m.files, ours.files), s"base entries: $ctx")
    assert(extendsBy1(m.updates, ours.updates), s"update entries: $ctx")
    assert(m.renames.startsWith(ours.renames), s"renames: $ctx")
    if (r.pop != "theirs")
      assert(extendsBy1(m.tombstones, ours.tombstones), s"tombstones: $ctx")
    else assert(m.tombstones.size <= ours.tombstones.size + 1, ctx)
    m
  }

  test("all 18 resolution triples over random appends, updates and pops") {
    val rnd = new scala.util.Random(20261017L)
    val ds = baseTable("meq_triples")
    ds.checkout("dev"); mutate(ds, rnd, "dev", 1000L)
    ds.checkout("main"); mutate(ds, rnd, "main", 2000L)
    checkCompare(ds, "dev") // the same for every triple
    triples.zipWithIndex.foreach { case (r, i) =>
      val h = GraftDataset.load(spark, ds.root) // main, unmoved
      h.checkout(s"m$i", create = true)
      checkMerge(h, "dev", r, compare = false)
    }
  }

  test("fast-forward: k updated rows land as one k-row update entry") {
    val ds = baseTable("meq_ff")
    ds.checkout("dev")
    val k = ds.update(pmod(col("id"), lit(7)) === 0, Map("v" -> lit("ff")))
    ds.commit("dev update")
    ds.checkout("main")
    val before = CommitLog.readCommit(spark, ds.root, ds.head.get)
    val m = checkMerge(ds, "dev", Versioning.MergeResolutions())
    assert(m.files == before.files && m.tombstones == before.tombstones)
    assert(m.updates.size == before.updates.size + 1)
    assert(ds.readUuids(Seq(m.updates.last)).count() == k)
    // and randomized fast-forwards under every pop resolution
    val rnd = new scala.util.Random(7L)
    for (p <- Seq("ours", "theirs", "both")) {
      val t = baseTable(s"meq_ff_$p")
      t.checkout("dev"); mutate(t, rnd, "dev", 1000L)
      t.checkout("main")
      checkMerge(t, "dev", Versioning.MergeResolutions(pop = p))
    }
  }

  /** A schema change (or compaction) on one side, random row churn on
    * both, a seeded resolution triple. */
  private val shapes: Seq[(String, GraftDataset => Unit)] = Seq(
    "add" -> { ds =>
      ds.createTensor("x", IntegerType)
      ds.update(pmod(col("id"), lit(5)) === 1, Map("x" -> lit(7)))
      ds.commit("add x") },
    "rename" -> { ds => ds.renameTensor("w", "w2"); ds.commit("rename w") },
    "drop" -> { ds => ds.deleteTensor("w"); ds.commit("drop w") },
    "drop+recreate" -> { ds =>
      ds.deleteTensor("w"); ds.createTensor("w", IntegerType)
      ds.commit("recreate w") },
    "compact" -> { ds => ds.compact(); ds.commit("compact") })

  for ((shape, op) <- shapes; side <- Seq("main", "dev")) {
    test(s"$shape on $side: delta merge equals the full three-way merge") {
      val rnd = new scala.util.Random((shape + side).hashCode.toLong)
      val ds = baseTable(s"meq_${shape.filter(_.isLetter)}_$side")
      for (b <- Seq("dev", "main")) {
        ds.checkout(b)
        mutate(ds, rnd, b, if (b == "dev") 1000L else 2000L)
        if (b == side) op(ds)
      }
      checkMerge(ds, "dev", triples(rnd.nextInt(triples.size)))
    }
  }

  test("renames on both sides and an add on both still match") {
    val ds = baseTable("meq_both")
    ds.checkout("dev")
    ds.renameTensor("w", "w2"); ds.createTensor("x", IntegerType)
    ds.update(col("id") === 3L, Map("x" -> lit(1))); ds.commit("dev schema")
    ds.checkout("main")
    ds.renameTensor("v", "v2"); ds.createTensor("x", IntegerType)
    ds.update(col("id") === 4L, Map("x" -> lit(2))); ds.commit("main schema")
    checkMerge(ds, "dev", Versioning.MergeResolutions())
  }

  test("a second merge after a delta merge joins only the new churn") {
    val rnd = new scala.util.Random(99L)
    val ds = baseTable("meq_twice")
    for (round <- 0 until 2) {
      ds.checkout("dev"); mutate(ds, rnd, "dev", 1000L + 10 * round)
      ds.checkout("main"); mutate(ds, rnd, "main", 2000L + 10 * round)
      checkMerge(ds, "dev", triples(rnd.nextInt(triples.size)))
    }
  }

  test("a resurrecting merge rewrites only the tombstones holding revived uuids") {
    val ds = baseTable("meq_revive")
    ds.pop(col("id") === 5L); ds.commit("pop 5")
    ds.pop(col("id") === 6L); ds.commit("pop 6")
    ds.checkout("dev2", create = true) // shares both pops
    ds.update(col("id") === 20L, Map("v" -> lit("dev"))); ds.commit("dev")
    ds.pop(col("id") === 8L); ds.commit("dev pop 8")
    ds.checkout("main")
    ds.pop(col("id").isin(7L, 8L)); ds.commit("pop 7 8")
    ds.pop(col("id") === 9L); ds.commit("pop 9")
    val ours = CommitLog.readCommit(spark, ds.root, ds.head.get)
    val m = checkMerge(ds, "dev2", Versioning.MergeResolutions(pop = "theirs"))
    // 7 and 9 live again, 8 died on both sides; the shared pops of 5 and
    // 6 stay put, the entry of 9 empties out and leaves, and the entry of
    // 7 and 8 is rewritten to hold 8 alone
    assert(ds.toDF.select("id").as[Long].collect().toSet ==
      ((0L until 40L).toSet -- Set(5L, 6L, 8L)))
    assert(m.tombstones.size == 3)
    assert(m.tombstones.take(2) == ours.tombstones.take(2))
    assert(m.tombstones(2) != ours.tombstones(2))
    assert(ds.readUuids(Seq(m.tombstones(2))).count() == 1)
  }
}
