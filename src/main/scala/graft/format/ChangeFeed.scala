package graft.format

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The change feed's one walk over a range of commits, shared by the
  * batch [[GraftDataset.changes]] (Delta `table_changes` analogue) and
  * the streaming source's `changeFeed=true` mode ([[GraftTailSource]]):
  * each feed pins its data schema, then [[events]] turns the range into
  * Delta-CDF-shaped event frames, reading only the walked commits'
  * delta files.
  */
object ChangeFeed {
  import GraftStream.{ChangeTypeCol, CommitIdCol}

  /** Data columns forced NULLABLE for change feeds: delete events carry
    * null in every data column (identity-only), so a non-nullable
    * declared schema would let the optimizer constant-fold an
    * `IsNotNull` filter to true and leak delete rows through it (or
    * NPE a typed consumer). `_uuid` stays non-null — every event
    * carries identity.
    */
  private[format] def nullableData(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.map(f =>
      if (f.name == GraftDataset.UuidCol) f else f.copy(nullable = true)))

  /** The event schema over a pinned data schema: the pin's columns, then
    * `_change_type` and `_commit_id`. */
  private[format] def eventSchema(pin: StructType): StructType =
    StructType(pin.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitIdCol, StringType, nullable = false))

  /** A commit whose manifest DROPPED prior entries (compaction or
    * bin-packing over staged changes, a merge that resurrects popped
    * rows by rewriting their tombstone entries) FOLDS history into fresh
    * files: its new files restate old rows, not changes, so a change
    * feed cannot express it as per-row events — emitting its files as
    * inserts would silently duplicate the whole table downstream. Fail
    * loudly; maintenance run from a CLEAN state publishes a
    * rewrite-flagged commit, which feeds skip entirely. A merge commit
    * that only extends ours' manifest (the common case, see
    * [[GraftDataset.merge]]) passes: its entries are its events.
    */
  private def requireDeltaExpressible(m: CommitMeta, prev: CommitMeta): Unit = {
    require(prev.files.forall(m.files.toSet) &&
        prev.updates.forall(m.updates.toSet) &&
        prev.tombstones.forall(m.tombstones.toSet),
      s"commit ${m.id} folds prior state into rewritten files (compaction " +
        "over staged changes, or a merge that resurrects popped rows); a " +
        "change feed cannot express it as row events — run maintenance " +
        "from a clean state (rewrite-flagged commits are skipped) or " +
        "split the feed at this commit")
  }

  /** The rename pairs a commit adds over its parent, IFF the schema
    * change is a PURE RENAME: the rename chain grew by exactly the
    * returned pairs, field count / order / types / nullability are
    * unchanged, and applying the pairs to the parent's names yields the
    * commit's names. Anything else (added / dropped column — drops also
    * change the field count via their marker rename — or a type change)
    * returns None and the caller keeps its loud-failure contract.
    * Pure renames are metadata-only, so a change feed CAN keep speaking
    * its pinned schema across them (positional identity holds).
    */
  private[graft] def renameDelta(prev: CommitMeta,
                                 m: CommitMeta): Option[Seq[(String, String)]] = {
    if (m.renames.size <= prev.renames.size) return None
    if (m.renames.take(prev.renames.size) != prev.renames) return None
    val added = TableState.renamesOf(m).drop(prev.renames.size)
    val (prevS, mS) = (TableState.schemaOf(prev), TableState.schemaOf(m))
    if (prevS.fields.length != mS.fields.length) return None
    val renamed = added.foldLeft(prevS.fieldNames.toSeq) { case (ns, (f, t)) =>
      ns.map(n => if (n == f) t else n)
    }
    val shapeOk = prevS.fields.zip(mS.fields).forall { case (a, b) =>
      a.dataType == b.dataType && a.nullable == b.nullable }
    if (shapeOk && renamed == mS.fieldNames.toSeq) Some(added) else None
  }

  /** The fields a commit ADDED over its parent, IFF the schema change is
    * a PURE ADDITIVE evolution: the rename chain is unchanged (drops
    * always touch it via their marker rename), the parent's fields are a
    * positional prefix of the commit's (same names, types, nullability),
    * and every appended field is nullable (existing rows must read as
    * null — `createTensor`'s contract). Anything else (drop, retype, a
    * nested add that mutates a struct field in place, an add combined
    * with a rename in one commit) returns None and the caller keeps its
    * loud-failure contract. Pure adds are metadata-only, so a change
    * feed pinned AT OR AFTER the add can keep speaking its pinned
    * schema: pre-add events null-backfill the added columns
    * (positional identity of the prefix holds).
    */
  private[graft] def addDelta(prev: CommitMeta,
                              m: CommitMeta): Option[Seq[StructField]] = {
    if (m.renames != prev.renames) return None
    val (prevS, mS) = (TableState.schemaOf(prev), TableState.schemaOf(m))
    val k = prevS.fields.length
    if (mS.fields.length <= k) return None
    val prefixOk = prevS.fields.zip(mS.fields.take(k)).forall { case (a, b) =>
      a.name == b.name && a.dataType == b.dataType && a.nullable == b.nullable
    }
    val added = mS.fields.drop(k)
    if (prefixOk && added.forall(_.nullable)) Some(added.toSeq) else None
  }

  /** Whether a feed pinned at `pin` (data columns + `_uuid`) can speak
    * the schema step from `prev` to `m`: a pure rename, or a pure add the
    * pin already carries. A LIVE add beyond the pin cannot be expressed —
    * the feed's output schema is fixed when it is pinned — so it keeps
    * the loud restart contract instead of silently dropping the new
    * column's values. The batch pin carries every add of its range, and
    * a stream's pin every add up to its pinned head (a replayed range,
    * or a restart whose fresh pin post-dates the add).
    */
  private[format] def schemaStep(pin: StructType, prev: CommitMeta,
                                 m: CommitMeta): Boolean =
    renameDelta(prev, m).isDefined || addDelta(prev, m).isDefined &&
      TableState.schemaOf(m).fields.length < pin.fields.length

  /** The one-row `schema_change` event a pure rename emits into a change
    * feed: no row identity (`_uuid` = -1, a value real uuids — strictly
    * positive by construction — never take), all data columns null. A
    * replicator reads the rename pairs from the source commit's metadata
    * ([[renameDelta]] on `_commit_id`'s meta vs its parent) and applies
    * them to its replica; other consumers may treat it as a signal to
    * restart with a fresh checkpoint if they want the new names.
    */
  private def schemaChangeEvent(spark: SparkSession, cdfSchema: StructType,
                                commitId: String): DataFrame = {
    val row = org.apache.spark.sql.Row.fromSeq(cdfSchema.fields.toSeq.map(
      _.name match {
        case ChangeTypeCol => "schema_change"
        case CommitIdCol => commitId
        case GraftDataset.UuidCol => -1L
        case _ => null
      }))
    spark.createDataFrame(java.util.Collections.singletonList(row), cdfSchema)
  }

  /** The event frames of the first-parent commits `metas` (ascending)
    * over `prev`, the state the range starts from, under the pinned data
    * schema `pin`. A per-commit walk, not an endpoint diff: a
    * rewrite-only commit (compaction, [[CommitMeta.rewrite]]) replaces
    * the whole manifest while leaving logical rows untouched — an
    * endpoint diff would re-emit every row in the table; the walk skips
    * those commits entirely. A schema step must pass [[schemaStep]]
    * (else `refusal` of the commit id is the error); it is announced as
    * a one-row `schema_change` event for replicas to apply
    * ([[GraftDataset.applyChanges]] / [[renameDelta]] on the event's
    * commit meta), while events keep the pinned names. The caller unions
    * the frames.
    */
  private[format] def events(spark: SparkSession, root: String,
                             pin: StructType, prev: CommitMeta,
                             metas: Seq[CommitMeta],
                             refusal: String => String): Seq[DataFrame] = {
    val out = Vector.newBuilder[DataFrame]
    metas.foldLeft(prev) { (p, m) =>
      if (!m.rewrite.contains(true)) {
        // schema equality, not rename-chain equality: a compact-on-
        // dirty commit FOLDS the cumulative rename chain into the
        // data (chain resets to empty with no logical rename), while
        // any real rename / added / dropped column changes the field
        // list — which is exactly what invalidates the pinned schema
        if (m.schemaJson != p.schemaJson) {
          require(schemaStep(pin, p, m), refusal(m.id))
          out += schemaChangeEvent(spark, eventSchema(pin), m.id)
        }
        requireDeltaExpressible(m, p)
        // a range can outlive the vacuum retention (a stream down longer
        // than the retention window): fail with the clean expiry message
        // BEFORE scheduling scans over reclaimed files — without it the
        // batch dies executor-side on a raw FileNotFoundException
        GraftDataset.assertNotExpired(spark, root, m)
        out ++= changeEvents(spark, root, pin, m, p)
      }
      m
    }
    out.result()
  }

  /** One commit's change events vs its parent state (Delta CDF shape,
    * computed at READ time from the manifest delta — the format's
    * update/tombstone files already carry everything the feed needs):
    *   - new base files   → `insert` (full row),
    *   - new update files → `update_postimage` (full row; update files
    *     store complete rows, last-wins per uuid WITHIN the commit so a
    *     multi-update commit emits its final image once),
    *   - new tombstones   → `delete` (identity only: `_uuid` + null data
    *     columns — the row's values died with the commit).
    * `dataSchema` is the pinned read schema (table columns + `_uuid`).
    * Pre-images are not materialized (they would need the parent
    * snapshot joined per commit); uuid identity + postimage covers
    * downstream upsert/delete application, the dominant CDC use.
    *
    * Rename-aware reads: when the walked range crosses pure renames, a
    * commit's files carry PHYSICAL column names from their own rename
    * epoch — reading them with the pinned names would silently
    * null-backfill the renamed column. Each file group is read with the
    * physical names of its epoch (the commit's own names with the chain
    * suffix after the epoch undone) and re-aliased POSITIONALLY to the
    * pinned schema — sound because pure renames preserve field order
    * ([[renameDelta]] is validated at every schema change in the walk).
    */
  private def changeEvents(spark: SparkSession, root: String,
                           dataSchema: StructType, m: CommitMeta,
                           prev: CommitMeta): Seq[DataFrame] = {
    def paths(rels: Seq[String]) =
      rels.map(f => new org.apache.hadoop.fs.Path(root, f).toString)
    def tagged(df: DataFrame, tpe: String) = df
      .withColumn(ChangeTypeCol, lit(tpe))
      .withColumn(CommitIdCol, lit(m.id))
    // names at commit m, aligned positionally with the pinned dataSchema
    // (`_uuid` never renames); equal to the pinned names whenever the
    // range crosses no rename
    val mFields = TableState.schemaOf(m).fields
    val curNames: Seq[String] =
      mFields.map(_.name).toSeq :+ GraftDataset.UuidCol
    // the walked commit must be a pure-rename/pure-add stage of the
    // pinned schema: equal width, or NARROWER when the pin carries
    // columns added after this commit (the walk validates prev→m;
    // this guards the PIN itself, e.g. a checkpoint-reconstruction walk
    // over a range that predates a non-rename change the pinned head
    // schema already carries). The commit's fields must align as a
    // positional TYPE prefix of the pin — a same-width name skew is a
    // rename (fine); a type skew is a real schema change.
    require(curNames.length <= dataSchema.fields.length &&
        mFields.map(_.dataType).toSeq ==
          dataSchema.fields.take(mFields.length).map(_.dataType).toSeq,
      s"graft change feed: the table schema changed between commit " +
        s"${m.id} and the feed's pinned schema; restart the stream with " +
        "a fresh checkpoint to pick up the new schema")
    // pinned fields this commit's files can physically carry (prefix +
    // `_uuid`); columns the pin added later are null-backfilled below
    val pinnedSub = dataSchema.fields.take(mFields.length) :+
      dataSchema.fields.last
    val lateAdds = dataSchema.fields
      .slice(mFields.length, dataSchema.fields.length - 1)
    val epochs = m.epochs.getOrElse(Map.empty)
    def readPinned(rels: Seq[String]): DataFrame = {
      val narrow = rels.groupBy(r => epochs.getOrElse(r, 0)).toSeq.map {
        case (e, rs) =>
          // physical names at epoch e: undo the chain suffix applied
          // after the files were written, newest pair first
          val undo = TableState.renamesOf(m).drop(e).reverse
          val phys = curNames.map(n => undo.foldLeft(n) {
            case (nn, (from, to)) => if (nn == to) from else nn })
          val readSchema = StructType(pinnedSub.zip(phys).map {
            case (f, p) => f.copy(name = p) })
          spark.read.schema(readSchema).parquet(paths(rs): _*)
            .toDF(pinnedSub.map(_.name).toIndexedSeq: _*)
      }.reduce(_ unionByName _)
      lateAdds.foldLeft(narrow)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(dataSchema.fieldNames.toIndexedSeq.map(col): _*)
    }
    val out = Vector.newBuilder[DataFrame]
    val newFiles = m.files.filterNot(prev.files.toSet)
    if (newFiles.nonEmpty) out += tagged(readPinned(newFiles), "insert")
    val newUps = m.updates.filterNot(prev.updates.toSet)
    if (newUps.nonEmpty) {
      val all = newUps.zipWithIndex.map { case (u, i) =>
        readPinned(Seq(u)).withColumn("_file_seq", lit(i))
      }.reduce(_ unionByName _)
      out += tagged(GraftDataset.lastWinsPerUuid(all, "_file_seq"),
        "update_postimage")
    }
    val newTombs = m.tombstones.filterNot(prev.tombstones.toSet)
    if (newTombs.nonEmpty) {
      val dead = spark.read.schema(GraftDataset.UuidSchema)
        .parquet(paths(newTombs): _*)
      val cols = dataSchema.fields.toIndexedSeq.map { f =>
        if (f.name == GraftDataset.UuidCol) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      out += tagged(dead.select(cols: _*), "delete")
    }
    out.result()
  }
}

/** The change-feed facet of [[GraftDataset]]: the batch feed over a
  * range of commits ([[changes]]) and its replica side
  * ([[applyChanges]]).
  */
trait ChangeFeedFacet { self: GraftDataset =>
  import GraftDataset.{UuidCol, withUuidSchema}
  import GraftStream.{ChangeTypeCol, CommitIdCol}

  /** Batch change feed (Delta's `table_changes`): every CDC event of
    * the first-parent commits in `(fromRef, toRef]`, in the same shape
    * the streaming `changeFeed=true` source emits — `insert` /
    * `update_postimage` (full rows) / `delete` (identity-only) events
    * with `_uuid` and `_commit_id`. Unlike [[diff]] (endpoint
    * comparison via snapshot joins), this reads ONLY the delta files of
    * the walked commits — the 100 TB path for "what changed since
    * commit X": cost scales with the churn, not the table. Rewrite-only
    * compaction commits contribute nothing; a schema change inside the
    * range fails loudly (the event schema is pinned); commits whose
    * files vacuum reclaimed fail with the clean expiry error.
    */
  def changes(fromRef: String = "", toRef: String = ""): DataFrame = {
    val (toId, toRead) = if (toRef.nonEmpty) resolveRef(toRef)
      else (headId.getOrElse(throw new IllegalStateException("no HEAD")), None)
    // empty fromRef = from the very beginning: the full feed bootstraps
    // a CDC replica (first commit's events included)
    val from = if (fromRef.isEmpty) None else Some(readRef(fromRef))
    val metas = from.fold[Seq[CommitMeta]](CommitLog.firstParentChain(
      spark, root, Some(toId), read = toRead).toVector.reverse)(
      f => pathBetween(f.id, toId, toRead))
    val start = from.getOrElse(CommitMeta("", None, None, "", 0L,
      metas.headOption.fold(st.schema.json)(_.schemaJson), Nil, Nil, Nil, Nil))
    val pin = ChangeFeed.nullableData(withUuidSchema(StructType(
      TableState.schemaOf(start).fields ++ rangeAdds(start, metas))))
    val cdfSchema = ChangeFeed.eventSchema(pin)
    ChangeFeed.events(spark, root, pin, start, metas, id =>
        s"schema changed at commit $id; change feeds are schema-pinned — " +
          "pure column renames and pure column adds are expressed as " +
          "schema_change events, anything else splits the range")
      .reduceOption(_ unionByName _)
      .getOrElse(emptyDf(cdfSchema))
      .select(cdfSchema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** The columns ADDED within the range, at their add-time names: the
    * feed pins the range-START schema extended by them (a later rename
    * is announced as schema_change, not adopted, like any other pinned
    * name). Pre-add events null-backfill the added columns; post-add
    * events carry their values — without the extension the pin would
    * silently DROP them.
    */
  private def rangeAdds(start: CommitMeta,
                        metas: Seq[CommitMeta]): Seq[StructField] = {
    // p advances over rewrite commits too, mirroring the event walk
    val adds = metas.zip(start +: metas).flatMap { case (m, p) =>
      if (m.rewrite.contains(true) || m.schemaJson == p.schemaJson) Nil
      else ChangeFeed.addDelta(p, m).getOrElse(Nil).map(m.id -> _)
    }
    // pinned names must stay UNIQUE: a tolerated sequence like
    // add x → pure-rename x→y → add x again would otherwise pin two
    // fields named x (adds keep their add-time name) and every
    // downstream select/toDF on the feed fails on the ambiguity —
    // fail here with the range-split contract instead
    adds.foldLeft(TableState.schemaOf(start).fieldNames.toSet) {
      case (pinned, (id, f)) =>
        require(!pinned(f.name), s"schema changed at commit $id: column " +
          s"'${f.name}' collides with a name already pinned by this range " +
          "(re-added after a rename?); change feeds are schema-pinned — " +
          "anything else splits the range")
        pinned + f.name
    }
    adds.map(_._2)
  }

  /** Apply a change feed to THIS table — the replica side of CDC
    * replication, and the inverse of [[changes]] / the streaming
    * `changeFeed=true` source. Each event kind maps DIRECTLY onto the
    * format's own file kinds, so applying N events costs one write per
    * kind, not one operation per row:
    *   - `insert` rows → one base entry (uuid-PRESERVING: the feed's
    *     `_uuid` is the replica's row identity),
    *   - `update_postimage` rows → one update file (merge-on-read
    *     last-wins does the rest; multi-commit feeds are deduped to the
    *     LATEST postimage per uuid by `_commit_id` first),
    *   - `delete` rows → one tombstone file.
    * Contract: a replica fed this way is identified by the SOURCE's
    * uuids — write it exclusively through applyChanges (local appends
    * would mint uuids from this table's own reservation space and could
    * collide with the source's), and apply feeds FORWARD only: ranges
    * must start at or after the replica's last applied commit.
    * Re-applying an OLDER overlapping range would land its stale
    * postimages in a newer update file and silently roll live rows
    * back (update resolution is file-ordered, not commit-ordered).
    * The bootstrap re-application path is safe by construction — a
    * fresh feed's snapshot is always at or ahead of the replica.
    * The caller commits. Returns (inserts, updates, deletes) applied.
    */
  def applyChanges(events: DataFrame,
                   dedupInserts: Boolean = true,
                   reconcileDeletes: Boolean = false): (Long, Long, Long) = {
    val need = Seq(ChangeTypeCol, CommitIdCol, UuidCol)
    require(need.forall(events.columns.contains),
      s"not a change feed: expected columns ${need.mkString(", ")}")
    require(!reconcileDeletes || dedupInserts,
      "reconcileDeletes needs the replica uuid scan dedupInserts provides")
    val tpe = col(ChangeTypeCol)
    val dataNames = withUuidSchema(st.schema).fieldNames.toIndexedSeq
    val dataCols = dataNames.map(col)
    // loud contract at schema-evolution boundaries: this is the LOW-LEVEL
    // apply — events map onto file kinds under the REPLICA's current
    // schema. A feed carrying data columns this replica lacks (a source
    // column ADD) or schema_change events (add or rename announcements)
    // spans a source schema change; projecting to dataCols would silently
    // DISCARD the new column's values and the announcement, permanently
    // diverging the replica with no error. The caller adopts first
    // (GraftStreaming.replicate adopts renames and trailing adds
    // automatically) or aligns/filters the feed explicitly.
    val unknownCols =
      events.columns.toSet -- Set(ChangeTypeCol, CommitIdCol) -- dataNames
    require(unknownCols.isEmpty,
      s"change feed carries columns this replica lacks: " +
        s"${unknownCols.mkString(", ")} — adopt the source's schema " +
        "change first (GraftStreaming.replicate does this automatically) " +
        "or align the feed to the replica's schema")
    // three writes consume the feed — persist so the (possibly
    // expensive: bootstrap snapshot, multi-commit delta) plan runs once
    val cached = events.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var replicaIdsCache: Option[DataFrame] = None
    try {
      // `isEmpty`, not `limit(1).count()`: a limit under an aggregate is
      // a generated LocalLimit whose counter Spark names from a JVM-wide
      // sequence, so every call compiled a new class; `isEmpty` plans a
      // top-level CollectLimit, which generates nothing
      require(cached.filter(tpe === "schema_change").isEmpty,
        "change feed contains schema_change events (a source rename or " +
          "column add in range) — apply them to the replica first " +
          "(GraftStreaming.replicate does this automatically) or filter " +
          "them out explicitly after aligning the feed")
      // row-level idempotency with UPSERT semantics: an insert whose
      // uuid this replica already carries (a replayed bootstrap after a
      // lost checkpoint) must not be dropped —
      // a bootstrap snapshot folds later updates into its insert
      // events, so discarding it would strand a behind replica at its
      // stale value forever. Fresh inserts land as a base entry; stale
      // ones re-route as update postimages. A live tombstoned uuid
      // stays dead regardless (the tombstone kills the uuid whichever
      // file holds it). Deletes are idempotent by construction.
      // `dedupInserts = false` skips the replica-snapshot uuid scan for
      // batches that provably contain no re-deliveries (a live stream's
      // steady-state delta batches, guarded by the epoch marker), so
      // steady-state apply cost scales with the churn, not the table.
      // When it IS needed, the uuid set is persisted: three joins
      // consume it (fresh/stale split + delete reconciliation), and
      // re-resolving the merge-on-read snapshot three times would
      // triple exactly the cost the flag exists to avoid.
      val ins = cached.filter(tpe === "insert")
      val replicaIds =
        (if (dedupInserts) snapshotWithUuid().select(UuidCol)
         else ins.select(UuidCol).limit(0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      replicaIdsCache = Some(replicaIds)
      // a reconcile feed must be a BOOTSTRAP (all-insert complete live
      // snapshot): reconciling against a partial/delta feed would
      // tombstone every replica row outside the range — permanently,
      // since later re-inserts of a tombstoned uuid stay dead. Fail
      // loudly instead of corrupting.
      if (reconcileDeletes)
        require(cached.filter(tpe =!= "insert").isEmpty,
          "reconcileDeletes expects a bootstrap feed (insert events " +
            "only = the complete live snapshot); a delta feed's absent " +
            "uuids are untouched rows, not deletions")
      val freshIns = ins.select(dataCols: _*)
        .join(replicaIds, Seq(UuidCol), "left_anti")
      val nIns = landEntry(freshIns.select(dataCols: _*), "cdc")(addFile)
      val staleIns = ins
        .join(replicaIds, Seq(UuidCol), "left_semi")
      // postimages win over a same-commit insert of the same uuid
      // (append-then-update in one commit): order by (commit id,
      // event-kind priority) — commit ids are zero-padded, so string
      // concatenation preserves the order
      val seq = concat(col(CommitIdCol),
        when(tpe === "update_postimage", lit("1")).otherwise(lit("0")))
      val latestUpd = GraftDataset.lastWinsPerUuid(
        cached.filter(tpe === "update_postimage").unionByName(staleIns)
          .select((dataCols :+ seq.as("_seq")): _*), "_seq")
      val nUpd = landEntry(latestUpd, "update")(addUpdate)
      // delete idempotency must hold at the FILE level, not just the
      // snapshot level: countRows subtracts tombstone-file row counts
      // assuming every tombstoned uuid was live exactly once, so a
      // re-delivered delete (the same lost-checkpoint replay dedupInserts
      // exists for) landing a second tombstone row would double-subtract
      // and drift the metadata count negative while the snapshot stays
      // correct. distinct() folds same-feed repeats; the anti-join against
      // the replica's existing tombstones (bounded by churn, skipped on
      // the epoch-guarded steady-state path like the insert dedup) folds
      // cross-apply replays.
      val delEvents =
        cached.filter(tpe === "delete").select(col(UuidCol)).distinct()
      val freshDel =
        if (dedupInserts && st.tombstones.nonEmpty)
          delEvents.join(readUuids(st.tombstones), Seq(UuidCol), "left_anti")
        else delEvents
      var nDel = landEntry(freshDel, "tombstone")(addTombstone)
      // a BOOTSTRAP feed (the complete live snapshot as insert events)
      // carries no delete events for rows that died before it was cut —
      // a behind replica re-synced from a fresh checkpoint would keep
      // those rows as phantoms forever. reconcileDeletes treats the
      // feed's insert set as the COMPLETE live population: replica rows
      // outside it are tombstoned. Only valid for full feeds — a delta
      // feed's absent uuids are merely untouched rows (caller decides).
      if (reconcileDeletes)
        nDel += landEntry(replicaIds.join(ins.select(col(UuidCol)),
          Seq(UuidCol), "left_anti"), "tombstone")(addTombstone)
      (nIns, nUpd, nDel)
    } finally {
      cached.unpersist(false)
      replicaIdsCache.foreach(_.unpersist(false))
      ()
    }
  }
}
