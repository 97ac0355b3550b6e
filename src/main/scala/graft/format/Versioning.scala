package graft.format

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Three-way, uuid-keyed diff & merge over Graft snapshots — the
  * DataFrame-algebra re-design of the reference's merge engine
  * (muller/core/version_control/merge.py): where the reference computes
  * numpy set differences over `_uuid` arrays in driver memory
  * (merge.py:1226-1241) and copies winning chunks, we express the same
  * classification as ONE full-outer join of (LCA, ours, theirs) keyed by
  * `_uuid`, and the winning-row choice as a `when/otherwise` expression —
  * so a 100 TB merge is a distributed shuffle, not a driver OOM.
  *
  * Semantics preserved (merge.py:499-543 driver, 545-621 classification,
  * 990-1170 conflict finders):
  *   appends = uuids absent from LCA        → append_resolution ours/theirs/both
  *   updates = same uuid, content changed   → update_resolution ours/theirs
  *             on both sides vs LCA
  *   pops    = uuid present in LCA, absent  → pop_resolution ours/theirs/both
  *             on one side                    (honor whose deletions)
  *   schema  = target-only columns are copied (merge.py:624-708)
  *
  * Cost model: a uuid that no manifest entry changed on either side
  * since the LCA reads the same payload in all three snapshots, so its
  * winner is ours' row. The callers therefore semi-join the three
  * snapshots to the churn (the `_uuid`s of the entries that differ
  * between the LCA and either side) before joining, and a merge commits
  * only [[mergeDelta]] over ours' manifest: join width and bytes written
  * are O(churn since the LCA), not O(table). The scans stay O(table).
  * When the columns do not line up outside the churn — a column dropped,
  * a rename not carried to every frame, a compaction that reset the
  * rename chain (see [[uniformOutsideChurn]]) — every row is a candidate
  * and the join is the unrestricted one.
  */
object Versioning {

  final case class MergeResolutions(
      append: String = "both",   // ours | theirs | both
      update: String = "ours",   // ours | theirs
      pop: String = "both")      // ours | theirs | both

  private val U = GraftDataset.UuidCol

  /** (uuid, payload-struct) projection of a snapshot, aligned to `schema`
    * field order so struct hashes are comparable across the three sides.
    */
  private def packed(df: DataFrame, schema: StructType, as: String): DataFrame = {
    val fields = schema.fieldNames.filterNot(_ == U).map { n =>
      (if (df.columns.contains(n)) col(n) else lit(null)).as(n)
    }
    df.select(col(U), struct(fields.toIndexedSeq: _*).as(as))
  }

  /** Union of ours' schema with target-only columns appended. */
  def mergedSchema(ours: StructType, theirs: StructType): StructType =
    StructType(ours.fields ++
      theirs.fields.filterNot(f => ours.fieldNames.contains(f.name)))

  /** The (lca ⟗ ours ⟗ theirs) classification frame with change flags. */
  private def threeWay(lca: DataFrame, ours: DataFrame, theirs: DataFrame,
                       schema: StructType): DataFrame =
    packed(lca, schema, "l")
      .join(packed(ours, schema, "o"), Seq(U), "full_outer")
      .join(packed(theirs, schema, "t"), Seq(U), "full_outer")
      // change detection is EXACT null-safe struct comparison, never a
      // hash: Spark's hash functions skip null fields without mixing in
      // position, so hash(struct("x", null)) == hash(struct(null, "x"))
      // — a real update that moves a value across a null slot would be
      // silently classified unchanged (and 64-bit hash equality is
      // approximate besides). <=> compares field-wise with null == null.
      .withColumn("o_ch", col("o").isNotNull && col("l").isNotNull &&
        !(col("o") <=> col("l")))
      .withColumn("t_ch", col("t").isNotNull && col("l").isNotNull &&
        !(col("t") <=> col("l")))

  /** Winning payload per uuid under the given resolutions; null = dropped. */
  private def winner(r: MergeResolutions): Column = {
    val o = col("o"); val t = col("t"); val l = col("l")
    val honorOurDelete = r.pop == "ours" || r.pop == "both"
    val honorTheirDelete = r.pop == "theirs" || r.pop == "both"
    val keepOurAppend = r.append == "ours" || r.append == "both"
    val keepTheirAppend = r.append == "theirs" || r.append == "both"
    when(l.isNull, // appended on one side (uuid spaces are disjoint)
      when(o.isNotNull && lit(keepOurAppend), o)
        .when(t.isNotNull && lit(keepTheirAppend), t)
        .otherwise(lit(null)))
      .when(o.isNull && t.isNull, lit(null)) // deleted on both sides
      .when(o.isNull, // deleted in ours
        when(lit(honorOurDelete), lit(null)).otherwise(t))
      .when(t.isNull, // deleted in theirs
        when(lit(honorTheirDelete), lit(null)).otherwise(o))
      .when(col("o_ch") && col("t_ch") && !(o <=> t),
        if (r.update == "theirs") t else o) // update/update conflict
      .when(col("t_ch") && !col("o_ch"), t)
      .otherwise(o)
  }

  def validate(r: MergeResolutions): Unit =
    require(Set("ours", "theirs", "both").contains(r.append) &&
      Set("ours", "theirs").contains(r.update) &&
      Set("ours", "theirs", "both").contains(r.pop),
      s"bad resolutions $r")

  /** `_uuid` plus the winning payload's columns, in `schema` order. */
  private def winnerRow(schema: StructType): Seq[Column] =
    col(U) +: schema.fieldNames.filterNot(_ == U).map(n => col(s"_w.$n").as(n)).toSeq

  /** Merged snapshot (with `_uuid`) of ours+theirs vs their LCA. */
  def mergeSnapshots(lca: DataFrame, ours: DataFrame, theirs: DataFrame,
                     schema: StructType, r: MergeResolutions): DataFrame = {
    validate(r)
    threeWay(lca, ours, theirs, schema)
      .withColumn("_w", winner(r))
      .filter(col("_w").isNotNull)
      .select(winnerRow(schema): _*)
  }

  /** Column of [[mergeDelta]] saying how a row changes ours. */
  val DeltaOp = "_delta_op"

  /** The merge as a delta over ours: one row per uuid whose winner
    * differs from ours' live row, compared null-safe over the whole
    * payload. [[DeltaOp]] is `insert` (ours has no live row), `update`
    * (the winner is a different full row) or `delete` (ours' live row
    * loses; the payload columns are null). Every other uuid's winner is
    * ours' row, so ours' snapshot with this delta applied is
    * [[mergeSnapshots]] row for row.
    */
  def mergeDelta(lca: DataFrame, ours: DataFrame, theirs: DataFrame,
                 schema: StructType, r: MergeResolutions): DataFrame = {
    validate(r)
    val w = col("_w"); val o = col("o")
    threeWay(lca, ours, theirs, schema)
      .withColumn("_w", winner(r))
      .filter(!(w <=> o))
      .select(winnerRow(schema) :+
        when(w.isNull, lit("delete")).when(o.isNull, lit("insert"))
          .otherwise(lit("update")).as(DeltaOp): _*)
  }

  /** Whether every column of `schema` reads the same values in all
    * three frames on rows the LCA already held: the same LCA source
    * column (or none, so null everywhere) in each frame, with one type.
    * Then a uuid whose entries are shared by all three commits has equal
    * payloads l = o = t, [[winner]] picks o, and the three-way join may
    * skip it. `frames` gives each frame's commit and the renames applied
    * to its snapshot; every frame's lineage must be known.
    */
  private[format] def uniformOutsideChurn(schema: StructType, lca: TableState,
      frames: Seq[(TableState, Seq[(String, String)])]): Boolean = {
    val lineages = frames.map { case (m, renames) => lineage(lca, m, renames) }
    lineages.forall(_.isDefined) &&
      schema.fieldNames.filterNot(_ == U).forall { n =>
        val seen = lineages.flatten.map(_.get(n))
        seen.map(_.flatMap(_._1)).distinct.size == 1 &&
          seen.flatten.collect { case (Some(_), t) => t }.distinct.size <= 1
      }
  }

  /** What each column of one frame holds on rows the LCA already had:
    * column name → (the LCA column whose values it carries, or None for
    * a column created since the LCA, null on every such row; its type).
    * Built by walking the side's rename chain since the LCA (a drop
    * marker moves the column onto a dead name, so a re-created column
    * has no source), then `frameRenames` with `withColumnRenamed`
    * semantics. None when no lineage can be given: the side's chain does
    * not extend the LCA's (a compaction reset it) or a frame rename lands
    * on a live name.
    */
  private def lineage(lca: TableState, side: TableState,
      frameRenames: Seq[(String, String)])
      : Option[Map[String, (Option[String], DataType)]] = {
    if (!side.renames.startsWith(lca.renames)) return None
    val carried = side.renames.drop(lca.renames.size)
      .foldLeft(lca.schema.fieldNames.map(n => n -> n).toMap) {
        case (m, (from, to)) => m.get(from).fold(m)(src => m - from + (to -> src))
      }
    val start = side.schema.fields
      .map(f => f.name -> (carried.get(f.name), f.dataType)).toMap
    frameRenames.foldLeft(Option(start)) {
      case (Some(m), (from, to)) if m.contains(from) =>
        if (m.contains(to)) None else Some(m - from + (to -> m(from)))
      case (acc, _) => acc
    }
  }

  /** Conflict report (reference `detect_merge_conflict`,
    * commits.py:254-302): update/update rows changed differently on both
    * sides, and update-vs-delete rows. Values as JSON for inspection.
    */
  def conflicts(lca: DataFrame, ours: DataFrame, theirs: DataFrame,
                schema: StructType): DataFrame = {
    val j = threeWay(lca, ours, theirs, schema)
    j.withColumn("conflict_type",
        when(col("o_ch") && col("t_ch") && !(col("o") <=> col("t")),
          lit("update_update"))
          .when(col("o").isNull && col("l").isNotNull && col("t_ch"),
            lit("delete_ours_update_theirs"))
          .when(col("t").isNull && col("l").isNotNull && col("o_ch"),
            lit("delete_theirs_update_ours"))
          .otherwise(lit(null)))
      .filter(col("conflict_type").isNotNull)
      .select(col("conflict_type"), col(U),
        to_json(col("l")).as("base"), to_json(col("o")).as("ours"),
        to_json(col("t")).as("theirs"))
  }

  /** Per-side change classification vs the LCA (reference `diff`,
    * commits.py:593-685): one row per (side, change, uuid).
    */
  def diffReport(lca: DataFrame, ours: DataFrame, theirs: DataFrame,
                 schema: StructType): DataFrame = {
    // one pass: both sides ride an explode over the SAME three-way join
    // (the tensorDiff shape) — the unioned two-scan form evaluated the
    // chained full-outer join and the change flags twice
    val j = threeWay(lca, ours, theirs, schema)
    def changeOf(p: Column, changed: Column): Column =
      when(col("l").isNull && p.isNotNull, lit("append"))
        .when(col("l").isNotNull && p.isNull, lit("delete"))
        .when(changed, lit("update"))
        .otherwise(lit(null))
    val sides = array(
      struct(lit("ours").as("side"),
        changeOf(col("o"), col("o_ch")).as("change")),
      struct(lit("theirs").as("side"),
        changeOf(col("t"), col("t_ch")).as("change")))
    j.select(col(U), explode(sides).as("_s"))
      .filter(col("_s.change").isNotNull)
      .select(col("_s.side").as("side"), col("_s.change").as("change"),
        col(U))
  }

  /** Per-tensor change sets between two snapshots (reference
    * `tensor_diff`, dataset.py:1722-1726, and `parse_changes`,
    * commits.py:895-913, which folds a diff into per-tensor
    * added/updated/deleted sets for incremental index maintenance):
    * one row per (tensor, change, uuid), change ∈ added/removed/updated,
    * classified in the a→b direction. ONE full-outer uuid join for ALL
    * requested tensors — the per-tensor classification is an explode over
    * the tensor list, not a scan per tensor.
    */
  def tensorDiff(a: DataFrame, b: DataFrame, schema: StructType,
                 tensors: Seq[String]): DataFrame = {
    val known = schema.fieldNames.filterNot(_ == U).toSeq
    // distinct: a repeated name would emit every change row twice and
    // double-count in per-tensor consumers (incremental index sets)
    val ts = if (tensors.isEmpty) known else tensors.distinct
    ts.foreach(t => require(known.contains(t), s"unknown tensor $t"))
    val j = packed(a, schema, "a")
      .join(packed(b, schema, "b"), Seq(U), "full_outer")
    val changes = ts.map { t =>
      struct(lit(t).as("tensor"),
        when(col("a").isNull, lit("added"))
          .when(col("b").isNull, lit("removed"))
          // null-safe: a value appearing in (or vanishing from) a
          // previously-null tensor slot IS an update
          .when(!(col("a").getField(t) <=> col("b").getField(t)),
            lit("updated"))
          .otherwise(lit(null)).as("change"))
    }
    j.select(col(U), explode(array(changes.toIndexedSeq: _*)).as("_c"))
      .filter(col("_c.change").isNotNull)
      .select(col("_c.tensor").as("tensor"), col("_c.change").as("change"),
        col(U))
  }

  /** Row-level value diff of two snapshots (reference `direct_diff`,
    * commits.py:506-592): full outer join on uuid, status per row.
    */
  def directDiff(a: DataFrame, b: DataFrame, schema: StructType): DataFrame =
    packed(a, schema, "a").join(packed(b, schema, "b"), Seq(U), "full_outer")
      .withColumn("status",
        when(col("a").isNull, lit("added"))
          .when(col("b").isNull, lit("removed"))
          .when(!(col("a") <=> col("b")), lit("changed"))
          .otherwise(lit(null)))
      .filter(col("status").isNotNull)
      .select(col("status"), col(U),
        to_json(col("a")).as("left"), to_json(col("b")).as("right"))
}
