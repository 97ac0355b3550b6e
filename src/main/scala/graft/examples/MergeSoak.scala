package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.format.{CommitLog, CommitMeta, GraftDataset, Versioning}

/** Three-way merge at soak scale. MergeSpec proves the resolution
  * matrix (append/update/pop × ours/theirs/both) on toy tables; the
  * reference benchmarks merge on 10k-row datasets
  * (exp_scripts/version_control.py:172-240). This drives the
  * churn-restricted delta merge at 10^5-row divergence PER SIDE and
  * verifies every resolution against an independent closed-form model:
  *
  *  - base: N rows (id, v = md5(id)) committed on main
  *  - dev:  appends N rows [N, 2N); updates base id%3==0 or id%101==9
  *          to "D:id"; pops base id%11==5
  *  - main: appends N rows [2N, 3N); updates base id%3==1 or id%101==9
  *          to "M:id"; pops base id%11==6
  *
  * The slices overlap on purpose: id%101==9 is an update/update
  * conflict, id%3==1 ∩ id%11==5 is delete-theirs-vs-update-ours,
  * id%3==0 ∩ id%11==6 the mirror — every conflict family present at
  * volume. Each of six resolution combinations merges dev into a fresh
  * branch off main; the merged table must match the model EXACTLY
  * (except() both ways on (id, v)) and every merged row must keep the
  * `_uuid` it had on the side it came from (uuid-exact: merge never
  * re-mints identity; base uuids are shared by both branches, appended
  * uuids come from each side's reservation). detectMergeConflict counts
  * are also asserted against the model's closed-form slice counts.
  *
  * Beside each case's merge time it reports the merge's write
  * amplification: the data bytes the merge commit added, as a share of
  * the bytes its manifest references (`merge_bytes_share`).
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.MergeSoak [rowsPerSide]"`
  * Prints one JSON line; measured results recorded in SCALE.md.
  */
object MergeSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files
      .createTempDirectory("graft-mergesoak").toString + "/t"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      md5(col("id").cast("string")).as("v"))
    val id = col("id")
    val base = id < n

    val t0 = System.nanoTime()
    val ds = GraftDataset.create(spark, root, rows(0, 1).schema)
    ds.append(rows(0, n)); ds.commit("base")
    ds.checkout("dev", create = true)
    ds.append(rows(n, 2 * n)); ds.commit("dev adds")
    val devUpd = ds.update(
      base && (pmod(id, lit(3)) === 0 || pmod(id, lit(101)) === 9),
      Map("v" -> concat(lit("D:"), id.cast("string"))))
    ds.commit("dev updates")
    val devPop = ds.pop(base && pmod(id, lit(11)) === 5)
    ds.commit("dev pops")
    ds.checkout("main")
    ds.append(rows(2 * n, 3 * n)); ds.commit("main adds")
    val mainUpd = ds.update(
      base && (pmod(id, lit(3)) === 1 || pmod(id, lit(101)) === 9),
      Map("v" -> concat(lit("M:"), id.cast("string"))))
    ds.commit("main updates")
    val mainPop = ds.pop(base && pmod(id, lit(11)) === 6)
    ds.commit("main pops")
    val setupSec = (System.nanoTime() - t0) / 1e9

    // pre-merge (id, _uuid) pairs of both sides: the identity a merged
    // row is allowed to carry
    val U = GraftDataset.UuidCol
    val hDev = GraftDataset.load(spark, root); hDev.checkout("dev")
    val idUuid = hDev.snapshotWithUuid().select(col("id"), col(U))
      .union(ds.snapshotWithUuid().select(col("id"), col(U)))
      .distinct().cache()
    idUuid.count()

    // closed-form model of winner() over the construction above
    def expected(r: Versioning.MergeResolutions): DataFrame = {
      val p0 = md5(id.cast("string"))
      val oVal = when(pmod(id, lit(3)) === 1 || pmod(id, lit(101)) === 9,
        concat(lit("M:"), id.cast("string"))).otherwise(p0)
      val tVal = when(pmod(id, lit(3)) === 0 || pmod(id, lit(101)) === 9,
        concat(lit("D:"), id.cast("string"))).otherwise(p0)
      val oCh = pmod(id, lit(3)) === 1 || pmod(id, lit(101)) === 9
      val tCh = pmod(id, lit(3)) === 0 || pmod(id, lit(101)) === 9
      val oursGone = pmod(id, lit(11)) === 6
      val theirsGone = pmod(id, lit(11)) === 5
      val nul = lit(null).cast("string")
      val v =
        when(id >= n && id < 2 * n, // dev (theirs) append
          if (r.append != "ours") p0 else nul)
        .when(id >= 2 * n, // main (ours) append
          if (r.append != "theirs") p0 else nul)
        .when(oursGone && theirsGone, nul)
        .when(oursGone, if (r.pop != "theirs") nul else tVal)
        .when(theirsGone, if (r.pop != "ours") nul else oVal)
        .when(oCh && tCh, if (r.update == "theirs") tVal else oVal)
        .when(tCh, tVal)
        .otherwise(oVal)
      spark.range(0, 3 * n).select(id, v.as("v")).filter(col("v").isNotNull)
    }

    // conflict-report model: closed-form slice counts
    def cnt(c: org.apache.spark.sql.Column): Long =
      spark.range(0, n).filter(c).count()
    val expUpdUpd = cnt(pmod(id, lit(101)) === 9 &&
      pmod(id, lit(11)) =!= 5 && pmod(id, lit(11)) =!= 6)
    val expDelOurs = cnt(pmod(id, lit(11)) === 6 &&
      (pmod(id, lit(3)) === 0 || pmod(id, lit(101)) === 9))
    val expDelTheirs = cnt(pmod(id, lit(11)) === 5 &&
      (pmod(id, lit(3)) === 1 || pmod(id, lit(101)) === 9))
    val conf = ds.detectMergeConflict("dev")
      .groupBy("conflict_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val conflictsOk =
      conf.getOrElse("update_update", 0L) == expUpdUpd &&
      conf.getOrElse("delete_ours_update_theirs", 0L) == expDelOurs &&
      conf.getOrElse("delete_theirs_update_ours", 0L) == expDelTheirs
    require(conflictsOk, s"conflict report diverged from model: got $conf, " +
      s"want uu=$expUpdUpd do=$expDelOurs dt=$expDelTheirs")

    val cases = Seq(
      "default" -> Versioning.MergeResolutions(),
      "append_ours" -> Versioning.MergeResolutions(append = "ours"),
      "append_theirs" -> Versioning.MergeResolutions(append = "theirs"),
      "update_theirs" -> Versioning.MergeResolutions(update = "theirs"),
      "pop_ours" -> Versioning.MergeResolutions(pop = "ours"),
      "pop_theirs" -> Versioning.MergeResolutions(pop = "theirs"))

    // write amplification: data bytes a merge commit adds, as a share of
    // the bytes its whole manifest references
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(m: CommitMeta) = m.files ++ m.updates ++ m.tombstones
    def bytes(rels: Seq[String]): Long = rels.map(rel =>
      fs.listStatus(new org.apache.hadoop.fs.Path(root, rel))
        .filter(_.isFile).map(_.getLen).sum).sum

    val timings = cases.map { case (name, res) =>
      val h = GraftDataset.load(spark, root) // at main
      h.checkout(s"m-$name", create = true)
      val ours = CommitLog.readCommit(spark, root, h.head.get)
      val m0 = System.nanoTime()
      val merged = CommitLog.readCommit(spark, root, h.merge("dev", res))
      val sec = (System.nanoTime() - m0) / 1e9
      val share = bytes(entries(merged).filterNot(entries(ours).toSet)).toDouble /
        bytes(entries(merged))
      // content must equal the model exactly
      val act = h.toDF.select(col("id"), col("v"))
      val exp = expected(res)
      val actN = act.count(); val expN = exp.count()
      require(actN == expN,
        s"$name: merged $actN rows, model says $expN")
      require(act.except(exp).isEmpty && exp.except(act).isEmpty,
        s"$name: merged content diverged from the model")
      // uuid-exact: every merged row carries a pre-merge identity
      val mergedPairs = h.snapshotWithUuid().select(col("id"), col(U))
      require(mergedPairs.except(idUuid).isEmpty,
        s"$name: merge re-minted uuids")
      require(mergedPairs.select(U).distinct().count() == actN,
        s"$name: duplicate uuids after merge")
      (name, sec, share)
    }

    val out = Map(
      "metric" -> "merge_soak", "unit" -> "sec",
      "divergence_ops_dev" -> (n + devUpd + devPop),
      "appends_per_side" -> n, "dev_updates" -> devUpd,
      "dev_pops" -> devPop, "main_updates" -> mainUpd,
      "main_pops" -> mainPop, "setup_sec" -> f"$setupSec%.1f".toDouble,
      "conflicts_update_update" -> expUpdUpd,
      "conflicts_delete_vs_update" -> (expDelOurs + expDelTheirs),
      "merges" -> timings.map { case (k, v, _) =>
        s""""$k":${f"$v%.2f"}""" }.mkString("{", ",", "}"),
      "merge_bytes_share" -> timings.map { case (k, _, b) =>
        s""""$k":${f"$b%.4f"}""" }.mkString("{", ",", "}"),
      "verified" -> "content+uuid+conflicts")
    println(out.map {
      case (k, v: String) if v.startsWith("{") => s""""$k":$v"""
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
