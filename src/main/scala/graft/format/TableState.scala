package graft.format

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType, TimestampNTZType, TimestampType}

/** One table state as a value: the parsed manifest of a commit, or a
  * handle's staged edits on top of one. Every read of a commit parses it
  * here once ([[TableState.of]]) and every publish serializes it here
  * ([[meta]]), so a state can be passed down to snapshot reads, file
  * skipping and the commit rebase without a dataset handle around it.
  *
  * `epochs` holds the rename-chain length at each entry's write time
  * (absent = 0, see [[epochOf]]); `statsNormalized` says `stats` keys are
  * in current-name space (see [[CommitMeta.statsNormalized]]).
  */
final case class TableState(
    schema: StructType,
    files: Vector[String] = Vector.empty,
    updates: Vector[String] = Vector.empty,
    tombstones: Vector[String] = Vector.empty,
    renames: Vector[(String, String)] = Vector.empty,
    stats: Map[String, Map[String, ColStats]] = Map.empty,
    epochs: Map[String, Int] = Map.empty,
    statsNormalized: Boolean = true) {

  import TableState._

  def entries: Vector[String] = files ++ updates ++ tombstones

  /** The commit publishing this state. Stats and epochs are cut to the
    * live entries (staged writes record them for entries that were later
    * dropped or replaced), and epoch 0 is left implicit. */
  def meta(id: String, parent: Option[String], mergeParent: Option[String],
           message: String, rewrite: Boolean): CommitMeta = {
    val fileSet = files.toSet
    val liveStats = stats.filter { case (k, _) => under(fileSet, k) }
    val entrySet = entries.toSet
    val liveEpochs = epochs.filter { case (e, n) => n > 0 && entrySet(e) }
    CommitMeta(
      id = id, parent = parent, mergeParent = mergeParent, message = message,
      timestampMs = System.currentTimeMillis(),
      schemaJson = schema.json,
      files = files, updates = updates, tombstones = tombstones,
      renames = renames.map { case (from, to) => Seq(from, to) },
      rewrite = if (rewrite) Some(true) else None,
      stats = if (liveStats.isEmpty) None else Some(liveStats),
      epochs = if (liveEpochs.isEmpty) None else Some(liveEpochs),
      statsNormalized =
        if (renames.nonEmpty && statsNormalized) Some(true) else None)
  }

  /** This state under `schema`, which adds one column — at top level
    * when `top` names it. Every EXISTING file physically lacks the new
    * column (align null-backfills it), so a top-level add synthesizes
    * all-null skipping stats where the row count is known: a value
    * predicate on a late-added column then prunes every pre-addition
    * file — on a 100 TB table that's almost the whole manifest right
    * after the schema change. */
  def withColumn(schema: StructType, top: Option[String]): TableState =
    copy(schema = schema, stats = top.filter(_ => statsNormalized).fold(stats)(
      name => stats.map { case (f, m) =>
        f -> m.values.flatMap(_.rows).headOption.fold(m)(r =>
          m + (name -> ColStats("", "", "null", nulls = Some(r), rows = Some(r))))
      }))

  /** Column `from` renamed to `to`, appended to the rename chain (no
    * data moves). Skipping stats stay usable: every live entry predates
    * this rename and (by the normalization invariant) keys its stats by
    * the names just before it — the key is renamed alongside the column. */
  def renamed(from: String, to: String): TableState =
    copy(
      schema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)),
      renames = renames :+ (from -> to),
      stats = if (!statsNormalized) stats else stats.map { case (f, m) =>
        f -> m.get(from).map(s => m - from + (to -> s)).getOrElse(m)
      })

  /** Column `name` dropped: a DROP MARKER pair renames the stale bytes
    * existing files keep onto a reserved dead name (see
    * [[GraftDataset.deleteTensor]]). */
  def dropped(name: String): TableState =
    copy(
      schema = StructType(schema.fields.filterNot(_.name == name)),
      renames = renames :+
        (name -> s"${GraftDataset.DropPrefix}${renames.size}_$name"),
      // keys are current-space → `name` is this column
      stats = if (!statsNormalized) stats
        else stats.map { case (f, m) => f -> (m - name) })

  /** Rename-chain length when `f` was written (0 = before any recorded
    * rename → whole chain applies, the pre-epoch behavior). Accepts an
    * entry path or a pruned per-file path (`entry/part-...`), which
    * inherits its entry's epoch.
    */
  def epochOf(f: String): Int =
    epochs.getOrElse(f, {
      val cut = f.lastIndexOf('/')
      if (cut <= 0) 0 else epochs.getOrElse(f.substring(0, cut), 0)
    })

  /** Whether `f`'s rename epoch was RECORDED (vs defaulted): renames
    * predate the epochs map, so a legacy manifest can hold a file that
    * was physically written AFTER a rename but carries no epoch entry —
    * for such a file the derived epoch-0 schema would invert to the OLD
    * name, the scan would null-fill it, and align would rename the
    * all-null column onto the target (ADVICE r21). Epoch-absent entries
    * on a renamed table keep the legacy mergeSchema read, whose footer
    * names align's presence-conditional handles correctly.
    */
  def epochKnown(f: String): Boolean =
    epochs.contains(f) || {
      val cut = f.lastIndexOf('/')
      cut > 0 && epochs.contains(f.substring(0, cut))
    }

  // stat keys grouped by their entry (parent dir): the metadata consumers
  // below each used to scan EVERY stat key per manifest entry —
  // O(entries × keys) driver work per planned query, ~10^8 startsWith
  // calls on the 10k-file tables this machinery exists for — where one
  // pass over the keys suffices. A staged edit is a new state, so the
  // grouping is computed at most once per state.
  private lazy val statKeysByEntry: Map[String, Seq[String]] =
    stats.keysIterator.flatMap { k =>
      val cut = k.lastIndexOf('/')
      if (cut <= 0) None else Some(k.substring(0, cut) -> k)
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Base manifest entries surviving the pushed filters' min/max check
    * ([[FileSkipping]]). Stat keys are normalized EAGERLY at each
    * rename/delete ([[GraftDataset.renameTensor]] /
    * [[GraftDataset.deleteTensor]]), so they stay in current-name space
    * and skipping survives a rename chain — at 100 TB a column rename
    * must not degrade every selective scan to a full-manifest plan until
    * the next full compact. Commits written before normalization existed
    * (`statsNormalized` unset with a non-empty chain) keep the old
    * conservative behavior: no pruning until `compact()` clears the
    * chain and recaptures stats.
    */
  def pruneBaseFiles(filters: Seq[Filter]): Vector[String] =
    if (filters.isEmpty || (renames.nonEmpty && !statsNormalized)) files
    else files.flatMap { entry =>
      // per-file stats (keyed entry/part-file) give file-granular
      // pruning; an entry with none falls back to entry-level stats
      // (or, absent those, is always kept)
      val perFile = statKeysByEntry.getOrElse(entry, Nil)
        .iterator.map(k => k -> stats(k)).toMap
      if (perFile.isEmpty) {
        val keep = stats.get(entry)
          .forall(st => !filters.exists(FileSkipping.excludes(st, _)))
        if (!keep) { FileSkipping.prunedFiles.incrementAndGet(); Nil }
        else Seq(entry)
      } else {
        val survivors = perFile.keys.toSeq.sorted.filter { f =>
          val keep = !filters.exists(FileSkipping.excludes(perFile(f), _))
          if (!keep) FileSkipping.prunedFiles.incrementAndGet()
          keep
        }
        // all files survive → keep the single dir path (shorter plans)
        if (survivors.size == perFile.size) Seq(entry) else survivors
      }
    }

  /** Per-file row counts of one base entry from the skipping stats, when
    * every file of the entry carries one (None → caller falls back to a
    * footer read). */
  def entryStatRows(entry: String): Option[Long] = {
    val per = statKeysByEntry.getOrElse(entry, Nil)
      .map(k => stats(k).values.flatMap(_.rows).headOption)
    if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
    else None
  }

  /** Global (min, max) of a column from the skipping stats alone, when
    * PROVABLY exact — the metadata source behind the SQL-level
    * `MIN/MAX` pushdown ([[org.apache.spark.sql.graftnative]]'s
    * MetadataAggregateRewrite). Refuses (None) whenever metadata cannot
    * speak for the data: outstanding updates (values may have changed)
    * or tombstones (an extreme row may be dead), un-normalized stats
    * under a rename chain, any base entry without per-file stats, any
    * file whose entry for the column is incomplete, or a column whose
    * current schema domain differs from the stored one. `Some((null,
    * null))` is a VALID exact answer: every row is null (SQL MIN/MAX of
    * all-null input). Values come back typed to the schema.
    */
  def statMinMax(column: String): Option[(Any, Any)] = {
    if (updates.nonEmpty || tombstones.nonEmpty) return None
    if (renames.nonEmpty && !statsNormalized) return None
    val field = schema.fields.find(_.name == column).getOrElse(return None)
    // the ONE type→domain mapping lives in FileSkipping (capture side);
    // using it here keeps prune and exact-answer domains from drifting
    val domain = FileSkipping.statDomain(field.dataType).getOrElse(return None)
    var mn: String = null
    var mx: String = null
    for (entry <- files) {
      val perFile = statKeysByEntry.getOrElse(entry, Nil)
      if (perFile.isEmpty) return None // unstatted entry: can't prove
      for (k <- perFile) {
        val m = stats(k)
        m.get(column) match {
          case Some(cs) if cs.rows.contains(0L) => () // empty file
          case Some(cs) if cs.typ == "null" =>
            // count-only entry: exact only if EVERY row is null
            if (!(cs.nulls.isDefined && cs.nulls == cs.rows)) return None
          case Some(cs) if cs.typ == domain =>
            // bound-only stats (string min/max captured under parquet
            // statistics truncation) cover the data but need not BE data
            // values — sound for pruning, not for an exact answer
            if (cs.bound.contains(true)) return None
            if (mn == null || FileSkipping.cmpInDomain(cs.min, mn, domain) < 0)
              mn = cs.min
            if (mx == null || FileSkipping.cmpInDomain(cs.max, mx, domain) > 0)
              mx = cs.max
          case _ => return None // missing or cross-domain stats
        }
      }
    }
    if (mn == null) return Some((null, null)) // zero rows or all null
    def typed(s: String): Any = field.dataType match {
      case ByteType => s.toLong.toByte
      case ShortType => s.toLong.toShort
      case IntegerType => s.toLong.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      // temporal stats live in long days/micros ([[FileSkipping]]'s
      // capture decode); surface them as the external JVM types the
      // Catalyst converters expect for each Spark type
      case DateType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(s.toLong.toInt)
      case TimestampType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(s.toLong)
      case TimestampNTZType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToLocalDateTime(s.toLong)
      case dt: org.apache.spark.sql.types.DecimalType =>
        // stat strings carry the value at the file annotation's scale;
        // re-scale to the column type's declared scale (value-neutral)
        new java.math.BigDecimal(s).setScale(dt.scale)
      case _ => s
    }
    try Some((typed(mn), typed(mx)))
    catch {
      // unparsable stat string, or a decimal stat whose scale cannot
      // re-scale losslessly to the column type — refuse, never throw
      case _: NumberFormatException | _: ArithmeticException => None
    }
  }

  /** What this state changed over `parent`, or None when its update or
    * tombstone list does not extend the parent's (a compaction folded
    * them, or a merge rewrote a tombstone entry). Staged edits only drop
    * base entries and append new ones, so the file lists are compared as
    * sets. */
  def since(parent: TableState): Option[Delta] =
    if (!updates.startsWith(parent.updates) ||
        !tombstones.startsWith(parent.tombstones)) None
    else {
      val (mine, theirs) = (files.toSet, parent.files.toSet)
      Some(Delta(appended = files.filterNot(theirs),
        replaced = parent.files.filterNot(mine),
        newUpdates = updates.drop(parent.updates.size),
        newTombstones = tombstones.drop(parent.tombstones.size)))
    }

  /** `head` with this state's delta `d` replayed on top. Only meaningful
    * when both keep one schema and rename chain, so `head`'s stand. */
  def replayedOn(head: TableState, d: Delta): TableState = {
    val gone = d.replaced.toSet
    val appended = d.appended.toSet
    val ours = appended ++ d.mutations
    head.copy(
      files = head.files.filterNot(gone) ++ d.appended,
      updates = head.updates ++ d.newUpdates,
      tombstones = head.tombstones ++ d.newTombstones,
      // carrying the replaced entries' keys would commit dead keys that
      // every descendant inherits forever (metadata bloat, not a
      // correctness issue: lookups are manifest-driven)
      stats = head.stats.filter { case (k, _) => !under(gone, k) } ++
        stats.filter { case (k, _) => under(appended, k) },
      epochs = head.epochs.filter { case (k, _) => !gone(k) } ++
        epochs.filter { case (k, _) => ours(k) },
      // conservative AND: never claim normalized stat keys either side
      // did not
      statsNormalized = statsNormalized && head.statsNormalized)
  }
}

object TableState {

  /** A table with `schema` and no commit: the parent a table's FIRST
    * commit is staged on. */
  def empty(schema: StructType): TableState = TableState(schema)

  def of(m: CommitMeta): TableState = TableState(
    schema = schemaOf(m),
    files = m.files.toVector,
    updates = m.updates.toVector,
    tombstones = m.tombstones.toVector,
    renames = renamesOf(m),
    stats = m.stats.getOrElse(Map.empty),
    epochs = m.epochs.getOrElse(Map.empty),
    statsNormalized = m.statsNormalized.getOrElse(m.renames.isEmpty))

  def schemaOf(m: CommitMeta): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** (from, to) pairs, oldest first. */
  def renamesOf(m: CommitMeta): Vector[(String, String)] =
    m.renames.map(p => (p(0), p(1))).toVector

  /** A state's change over a parent state ([[TableState.since]]). */
  final case class Delta(appended: Vector[String], replaced: Vector[String],
                         newUpdates: Vector[String],
                         newTombstones: Vector[String]) {
    def mutations: Vector[String] = newUpdates ++ newTombstones
  }

  /** Whether stat key `k` belongs to one of `entries`: the entry's own
    * key, or a per-file key `entry/part-...`. Looks up `k` and each of
    * its prefixes that ends just before a '/' — O(key length) per key,
    * where testing every entry was O(entries). */
  private[format] def under(entries: Set[String], k: String): Boolean = {
    var slash = k.indexOf('/')
    var found = entries(k)
    while (!found && slash >= 0) {
      found = entries(k.substring(0, slash))
      slash = k.indexOf('/', slash + 1)
    }
    found
  }
}
