package graft.format

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import java.nio.charset.StandardCharsets

/** One commit of a Graft table: a FULL manifest snapshot (like a Delta
  * checkpoint) — base data files, merge-on-read update files (later wins),
  * and tombstone files — plus the user schema as of this commit and the
  * next free row-uuid.
  *
  * This is the Spark-native re-design of the reference's version-control
  * metadata (muller/core/version_control/commit_node.py +
  * commit_chunk_map.py): instead of per-commit chunk maps and diff sets
  * over mutable chunks, every commit pins an immutable file manifest;
  * snapshot isolation falls out of immutability, and no locks are needed
  * for readers. Writers serialize on an atomic create of the commit file
  * (optimistic concurrency; the reference uses storage locks,
  * commits.py:383-399).
  *
  * All file paths are RELATIVE to the table root, so tables are
  * relocatable across storage providers (the Hadoop FileSystem API gives
  * local/HDFS/S3/OBS, mirroring muller/core/storage).
  */
/** Per-manifest-entry column statistics (min/max rendered as strings,
  * `typ` ∈ long|double|string selects the comparison domain; typ `null`
  * marks an all-null column carrying counts only). Captured from the
  * parquet FOOTERS at write time — a driver-side metadata read, no
  * Spark job — and used for manifest-level file skipping (Delta-style
  * data skipping): a filter that provably excludes every row of a base
  * file drops the file from the snapshot plan before any scan task, or
  * even footer open, is scheduled.
  *
  * `nulls`/`rows` (additive; absent on commits written before them)
  * carry the file's null count and row count for the column, enabling
  * IsNull (nulls == 0 → prune), IsNotNull (all null → prune), and the
  * all-null strengthening of every value predicate.
  *
  * `bound = Some(true)` marks min/max as COVERING BOUNDS rather than
  * guaranteed data values — set at capture time for string columns when
  * `parquet.statistics.truncate.length` is configured on the writing
  * session (parquet then stores a prefix-truncated min and an
  * incremented-truncated max, both valid bounds but the max need not
  * exist in the data). Pruning stays sound against bounds; only the
  * exact-answer path ([[graft.format.TableState.statMinMax]]) refuses
  * them. Absent on pre-flag commits = captured without truncation (the
  * default conf), so trusted as exact.
  */
final case class ColStats(min: String, max: String, typ: String,
                          nulls: Option[Long] = None,
                          rows: Option[Long] = None,
                          bound: Option[Boolean] = None)

final case class CommitMeta(
    id: String,
    parent: Option[String],
    mergeParent: Option[String],
    message: String,
    timestampMs: Long,
    schemaJson: String,
    files: Seq[String],
    updates: Seq[String],
    tombstones: Seq[String],
    renames: Seq[Seq[String]], // ordered chain of (oldName, newName) pairs
    // Some(true) = pure file rewrite (compaction): logical rows are
    // identical to the parent commit, only their file layout changed.
    // Streaming tails skip such commits (Delta's dataChange=false).
    // Option so commits written before the field parse unchanged.
    rewrite: Option[Boolean] = None,
    // base-file column stats for file skipping; additive (older commits
    // parse as None → their files are never pruned)
    stats: Option[Map[String, Map[String, ColStats]]] = None,
    // rename EPOCH per manifest entry: the rename-chain length when the
    // entry was written. A file only gets the chain SUFFIX after its
    // epoch applied — files written post-rename already carry current
    // names, and applying the whole chain to them could mis-rename a
    // recreated column. Additive: absent (older commits / epoch-0
    // entries) = 0 = apply the whole chain, the pre-epoch behavior.
    epochs: Option[Map[String, Int]] = None,
    // true = the commit's `stats` keys are in CURRENT column-name space
    // (normalized eagerly at each rename/delete), so file skipping stays
    // sound with a non-empty rename chain. Absent + non-empty chain =
    // pre-normalization commit → pruning disabled until compact clears
    // the chain. Absent + empty chain = trivially normalized.
    statsNormalized: Option[Boolean] = None)

object CommitLog extends org.apache.spark.internal.Logging {
  implicit val fmts: Formats = DefaultFormats

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def commitsDir(root: String) = new Path(root, "_graft/commits")
  def branchesFile(root: String) = new Path(root, "_graft/branches.json")

  private def writeString(fs: FileSystem, p: Path, s: String,
                          overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private[format] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomic publish: a fully-written temp made visible in one atomic
    * step is the commit point; a concurrent writer of the same id loses
    * with an exception, and readers can never observe a partially-written
    * commit. On file:// the step is a hard link (Hadoop's create(false)
    * is a non-atomic exists-then-create). Elsewhere it is a
    * no-overwrite rename of the temp: HDFS-like namespaces rename
    * atomically (a direct create(false) there claims atomically but
    * STREAMS content after the claim, so a concurrent maintenance sweep
    * or a writer crash could expose a zero/partial-length commit file —
    * the one torn-commit window this layout had); object stores copy a
    * fully-written source object, which appears whole per PUT semantics.
    */
  def writeCommit(spark: SparkSession, root: String, meta: CommitMeta): Unit = {
    val f = fs(spark, root)
    f.mkdirs(commitsDir(root))
    val dest = new Path(commitsDir(root), s"${meta.id}.json")
    if (f.getScheme == "file") {
      val destNio = java.nio.file.Paths.get(dest.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(
        destNio.getParent, s".${meta.id}", ".tmp")
      try {
        java.nio.file.Files.write(tmp,
          Serialization.write(meta).getBytes(StandardCharsets.UTF_8))
        try java.nio.file.Files.createLink(destNio, tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new java.io.IOException(
              s"commit ${meta.id} already exists (concurrent writer won)", e)
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // invisible to listCommits (no .json suffix) until the rename
      val tmp = new Path(commitsDir(root),
        s".${meta.id}-${java.util.UUID.randomUUID()}.tmp")
      writeString(f, tmp, Serialization.write(meta), overwrite = false)
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(dest),
          org.apache.hadoop.fs.Options.Rename.NONE) // fails if dest exists
      } catch {
        // a lost id-allocation race must surface in the exact shape
        // commitGuarded's retry matchers recognize (typed
        // FileAlreadyExistsException, or a message containing "already
        // exists" — mirroring the file:// hard-link branch); the generic
        // wrap below would abort the whole commit() instead of retrying
        // with the next id on HDFS/object stores
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          scala.util.Try(f.delete(tmp, false))
          throw new java.io.IOException(
            s"commit ${meta.id} already exists (concurrent writer won)", e)
        case e: Throwable =>
          scala.util.Try(f.delete(tmp, false))
          throw new java.io.IOException(
            s"commit ${meta.id} publish failed (a concurrent writer may " +
              "have won)", e)
      }
    }
  }

  /** Commit-file reads performed (test instrumentation: specs assert the
    * ancestry checkpoint bounds these on deep histories). */
  val commitReads = new java.util.concurrent.atomic.AtomicLong

  def readCommit(spark: SparkSession, root: String, id: String): CommitMeta = {
    commitReads.incrementAndGet()
    JsonMethods.parse(
      readString(fs(spark, root), new Path(commitsDir(root), s"$id.json")))
      .extract[CommitMeta]
  }

  /** The commit `id`, or None when the table has no such commit — one
    * file read, where a membership test on [[listCommits]] lists all of
    * history. An id that is not a plain file-name token (engine ids are
    * 8-digit numbers) names no commit and is refused before any read, so
    * a ref can never reach another file under `_graft`. */
  def findCommit(spark: SparkSession, root: String,
                 id: String): Option[CommitMeta] =
    if (!id.matches("[A-Za-z0-9_-]+")) None
    else try Some(readCommit(spark, root, id))
    catch { case _: java.io.FileNotFoundException => None }

  /** The first-parent chain from commit `from` down to, not including,
    * `until` (the root when None), newest first. Lazy: a commit is read
    * when the walk reaches it, and `until` is never read. `read` is a
    * commit the caller already holds; the walk does not read it again. */
  def firstParentChain(spark: SparkSession, root: String,
                       from: Option[String],
                       until: Option[String] = None,
                       read: Option[CommitMeta] = None): Iterator[CommitMeta] =
    Iterator.unfold(from.filterNot(until.contains))(_.map { id =>
      val m = read.filter(_.id == id).getOrElse(readCommit(spark, root, id))
      (m, m.parent.filterNot(until.contains))
    })

  /** Read every commit's metadata, parallelized over a bounded pool —
    * the maintenance-path bulk read behind [[GraftDataset.vacuum]] and
    * branch purging (serial per-file reads would make reclamation
    * O(history) round-trips on a long-lived table, the same problem the
    * ancestry checkpoint solves for walks).
    *
    * A file that vanishes between the listing and its read is DROPPED,
    * not an error: write-once commits only disappear through legitimate
    * purges (a lost-CAS reclaim in a racing writer, a concurrent branch
    * purge), and a purged commit was by construction unreachable — so a
    * maintenance sweep proceeding without it stays sound, where failing
    * the whole sweep on someone else's cleanup would not. Reachable
    * walks go through [[readCommit]] directly and still fail loudly on
    * a missing file.
    */
  def readAllCommits(spark: SparkSession, root: String): Map[String, CommitMeta] =
    parMap(listCommits(spark, root)) { id =>
      try Some(id -> readCommit(spark, root, id))
      catch { case _: java.io.FileNotFoundException => None }
    }.flatten.toMap

  /** Bounded-parallel map for driver-side metadata sweeps (footer
    * reads, commit-log bulk reads, per-entry listings, bin writes):
    * these are LATENCY-bound filesystem round-trips, not CPU work, so
    * each sweep gets its own small pool — never the global ForkJoin
    * pool — and trivial sizes stay serial. The single shared shape for
    * what was the same ~8 lines at five maintenance sites.
    */
  private[format] def parMap[A, B](items: Seq[A], cap: Int = 16)
                                  (f: A => B): Seq[B] =
    if (items.length <= 1) items.map(f)
    else {
      import scala.collection.parallel.CollectionConverters._
      val pool = new java.util.concurrent.ForkJoinPool(
        math.max(1, math.min(items.length, cap)))
      try {
        val p = items.par
        p.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
        p.map(f).seq
      } finally pool.shutdown()
    }

  /** On-disk bytes of one manifest entry (single file or a `df.write`
    * directory) — the one sizing rule for bin-packing, planner
    * statistics, and reclamation reports.
    */
  private[format] def entryBytes(f: FileSystem, root: String,
                                 rel: String): Long = {
    val p = new Path(root, rel)
    if (!f.exists(p)) 0L
    else if (f.getFileStatus(p).isDirectory)
      f.listStatus(p).filter(_.isFile).map(_.getLen).sum
    else f.getFileStatus(p).getLen
  }

  /** Physically remove a commit file (branch purge). Write-once commits
    * make this safe for every SURVIVING walk — deletion is only legal
    * when nothing reachable points at the id (checked by the caller).
    */
  private[format] def deleteCommitFile(spark: SparkSession, root: String,
                                       id: String): Unit = {
    fs(spark, root).delete(new Path(commitsDir(root), s"$id.json"), false)
    ()
  }

  /** Strip purged commit ids from the ancestry checkpoint so a (rare)
    * future id reuse after hint loss can never resurrect stale DAG edges.
    */
  private[format] def dropFromAncestry(spark: SparkSession, root: String,
                                       ids: Set[String]): Unit = {
    val ck = readAncestryCk(spark, root)
    if (ck.edges.keys.exists(ids.contains) ||
        ck.messages.keys.exists(ids.contains))
      writeAncestry(spark, root,
        AncestryCk(ck.edges -- ids, ck.messages -- ids))
  }

  def listCommits(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val dir = commitsDir(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  /** Atomic in-place file replacement: write a temp sibling, then
    * `FileContext.rename(OVERWRITE)` — atomic on local FS and HDFS, so
    * readers see the old or the new content, never a torn file. Object
    * stores whose rename is copy+delete get the readers' bounded retry
    * instead (see [[readBranches]]).
    */
  private[format] def atomicReplace(spark: SparkSession, target: Path,
                                    content: String): Unit = {
    val f = fs(spark, target.toString)
    f.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".${target.getName}-${java.util.UUID.randomUUID()}.tmp")
    writeString(f, tmp, content, overwrite = false)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(target),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Throwable => // don't orphan the temp sibling on a failed swap
        scala.util.Try(f.delete(tmp, false))
        throw e
    }
  }

  // roots whose branches file has been OBSERVED by this JVM: once seen,
  // a later exists()=false is treated as a transient copy+delete rename
  // window (object stores) and retried, while a genuinely fresh table —
  // never seen — still returns empty immediately (no create-path slowdown)
  private val seenBranches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Branch pointers are read by EVERY load/getOffset and rewritten by
    * every commit — unlike commit files (write-once) this file is
    * replaced in place, so reads and writes genuinely race. The write is
    * atomic ([[atomicReplace]]); the bounded retry — on parse failures
    * AND on absence-after-having-been-seen — covers object stores whose
    * rename is copy+delete.
    */
  def readBranches(spark: SparkSession, root: String): Map[String, String] = {
    val f = fs(spark, root)
    val p = branchesFile(root)
    var attempt = 0
    while (true) {
      try {
        if (!f.exists(p)) {
          // A FRESH JVM cannot tell a new table from a mid-rename window
          // by absence alone (object stores rename by copy+delete), and
          // callers feed this map into read-modify-write branch
          // publishes — a spurious empty map would be written back over
          // EVERY existing branch pointer. Disambiguate by history: a
          // table with committed history must have branch pointers, so
          // absence there is transient (retry) or corruption (loud),
          // never license to return empty. A genuinely fresh table (no
          // commits) keeps the fast empty return.
          if (!seenBranches.contains(root) &&
              listCommits(spark, root).isEmpty) return Map.empty
          throw new java.io.FileNotFoundException(p.toString) // transient
        }
        val parsed =
          JsonMethods.parse(readString(f, p)).extract[Map[String, String]]
        seenBranches.add(root)
        return parsed
      } catch {
        case e: Exception if attempt < 5 =>
          attempt += 1; Thread.sleep(10L << attempt)
        case _: java.io.FileNotFoundException =>
          // still absent after the retries
          seenBranches.remove(root)
          if (listCommits(spark, root).isEmpty) return Map.empty // deleted
          throw new java.io.IOException(
            s"branches file missing but commits exist under $root — " +
              "refusing to read an empty branch map over live history " +
              s"(mid-rename window outlasted the retries, or $p was " +
              "deleted out-of-band)")
        case e: Exception =>
          throw new java.io.IOException(
            s"branches file unreadable after $attempt retries: $p", e)
      }
    }
    Map.empty // unreachable
  }

  def writeBranches(spark: SparkSession, root: String,
                    branches: Map[String, String]): Unit = {
    atomicReplace(spark, branchesFile(root), Serialization.write(branches))
    seenBranches.add(root)
  }

  /** Create-if-absent publish of an EMPTY branch map at table creation
    * (see [[GraftDataset.create]]): exclusive create, so a racing second
    * creator is a no-op and can never wipe a winner's already-published
    * pointers.
    */
  private[format] def ensureBranchesFile(spark: SparkSession,
                                         root: String): Unit = {
    val f = fs(spark, root)
    if (tryCreateExclusive(f, branchesFile(root), "{}"))
      seenBranches.add(root)
    ()
  }

  /** Atomic create-if-absent of a small file: the commit point of every
    * exclusive claim in the format. On file:// Hadoop's
    * create(overwrite=false) is a non-atomic exists-then-create, so the
    * claim is a hard link of a fully-written temp (atomic, fails when
    * the file exists — the [[writeCommit]] pattern); elsewhere the
    * store's own exclusive create carries it — WHICH IS A STORE
    * CONTRACT, not a given: HDFS/viewfs/ABFS/GCS honor it, but plain
    * S3A create(overwrite=false) is a non-atomic exists-then-PUT, so
    * neither commit claims nor the branch lock are exclusive there
    * (the same reason Delta requires a LogStore per store class).
    * [[withBranchLock]] warns once per non-contract scheme, or throws
    * when `spark.graft.branchLockStrictStore=true`. Returns false on
    * loss. */
  private[format] def tryCreateExclusive(f: FileSystem, p: Path,
                                         content: String): Boolean = {
    f.mkdirs(p.getParent)
    if (f.getScheme == "file") {
      val destNio = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(
        destNio.getParent, s".${p.getName}", ".tmp")
      try {
        java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
        try { java.nio.file.Files.createLink(destNio, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally { java.nio.file.Files.deleteIfExists(tmp); () }
    } else {
      try { writeString(f, p, content, overwrite = false); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** Schemes whose exclusive create ([[tryCreateExclusive]]) is genuinely
    * atomic, so the branch lock's CLAIM point holds. file:// uses the
    * hard-link claim; the rest are the stores whose semantics publish
    * atomic create (HDFS-like namespaces + the object stores with
    * conditional create). */
  private val AtomicCreateSchemes =
    Set("file", "hdfs", "viewfs", "abfs", "abfss", "gs", "o3fs", "ofs")

  /** The STRICTER contract the rename-based steal/release verification
    * additionally needs: rename must be atomic AND mtime-preserving.
    * Only the true filesystem namespaces are vouched for — on GCS the
    * Hadoop connector's rename is copy+delete (non-atomic: two stealers
    * can both pass verify), and on stores where rename refreshes mtime
    * the `mtime <= observed` verify ALWAYS fails, so a crashed writer's
    * lock could never be stolen and waiters would block to the timeout.
    * Schemes outside this set use the legacy guarded-delete steal (its
    * delete race is the documented floor there) and the plain release.
    */
  private val MtimeSafeRenameSchemes = Set("file", "hdfs", "viewfs")

  private[format] def renameSafeScheme(f: FileSystem): Boolean =
    MtimeSafeRenameSchemes.contains(
      Option(f.getScheme).getOrElse("").toLowerCase)

  private val warnedLockSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Steal a stale branch lock via ATOMIC RENAME to a unique quarantine
    * name — never delete — then VERIFY the quarantined file is the very
    * lock we observed as stale before discarding it. N stealers can all
    * observe the same stale mtime; with the old unconditional delete, B
    * deletes-and-recreates and C's queued delete then removes B's LIVE
    * lock — two processes in the "exclusive" section. Rename closes the
    * queued-action half (a loser renaming an absent source just fails),
    * and the verify closes the other half: if B already re-created the
    * lock before C's rename fires, C has quarantined B's FRESH lock —
    * the token (and unrefreshed mtime; rename preserves mtime on
    * file://+HDFS) no longer match what C observed, so C RESTORES it by
    * renaming back and reports a lost steal. The same verify also
    * protects a holder that woke up and heartbeat-refreshed between our
    * staleness check and the rename. Returns whether we won the steal. */
  private[format] def stealBranchLock(f: FileSystem, lock: Path,
                                      observedToken: Option[String],
                                      observedMtime: Long,
                                      renameSafe: Boolean = true): Boolean = {
    if (!renameSafe) {
      // legacy guarded-delete steal for stores whose rename is not
      // atomic-and-mtime-preserving: RE-verify from a fresh stat + read
      // (the observation may be seconds old), then delete only when the
      // lock is still the one we observed. The delete itself keeps the
      // pre-quarantine race as its floor — mirrored by the once-per-scheme
      // warning in withBranchLock.
      val st = scala.util.Try(f.getFileStatus(lock)).toOption
      val tok = scala.util.Try(readString(f, lock)).toOption
      val stillStale = st.exists(_.getModificationTime <= observedMtime) &&
        observedToken.isDefined && tok == observedToken
      return stillStale && scala.util.Try(f.delete(lock, false)).getOrElse(false)
    }
    val quarantine = new Path(lock.getParent,
      s".${lock.getName}.stale.${java.util.UUID.randomUUID()}")
    if (!scala.util.Try(f.rename(lock, quarantine)).getOrElse(false))
      return false
    // the verify must POSITIVELY match: a failed quarantine read or stat
    // (or a pre-steal read that never succeeded) is a verification
    // FAILURE — treating IO errors as vacuous success would discard a
    // live holder's lock on transient store hiccups
    val tokenOk = observedToken.isDefined &&
      scala.util.Try(readString(f, quarantine)).toOption == observedToken
    val mtimeOk = scala.util.Try(f.getFileStatus(quarantine)).toOption
      .exists(_.getModificationTime <= observedMtime)
    if (tokenOk && mtimeOk) {
      scala.util.Try(f.delete(quarantine, false)); true
    } else {
      // we took a lock that is NOT the stale one we observed: restore it
      if (!scala.util.Try(f.rename(quarantine, lock)).getOrElse(false)) {
        scala.util.Try(f.delete(quarantine, false))
        logWarning("graft: WARN quarantined a live branch lock at " +
          s"$lock and could not restore it (a waiter re-created the lock " +
          "first); the displaced holder's section is no longer covered")
      }
      false
    }
  }

  /** Release the lock IF it still carries our token, by take-verify-
    * restore: rename to a unique name (atomic take), verify the renamed
    * file's token, and either delete (ours) or rename back (a thief's —
    * restoring its lock). This runs UNCONDITIONALLY on rename-safe
    * schemes — the earlier fast path ("heartbeat was fresh, plain delete
    * is safe") was still a non-atomic read-then-delete, and a stealer
    * acting under clock skew greater than the lease could quarantine and
    * recreate between the token read and the delete; one extra rename
    * per release closes that. The rename-back can itself lose to a
    * waiter that created a new lock in the microsecond gap; that
    * residual double-hold window requires steal + create inside one
    * rename round-trip and is the documented floor of mtime-lease locks
    * on stores without conditional ops. Schemes without atomic rename
    * ([[MtimeSafeRenameSchemes]]) keep the guarded plain delete — rename
    * cannot help where it is copy+delete. */
  private[format] def releaseBranchLock(f: FileSystem, lock: Path,
                                        token: String,
                                        renameSafe: Boolean = true): Unit = {
    // ownership pre-check, with a bounded retry on TRANSIENT read
    // failures: the heartbeat is already cancelled here, so abandoning
    // release on one store hiccup would leave our own lock to age out
    // and stall the next writer a full lease for a clean exit. An absent
    // file or a foreign token genuinely means nothing to release.
    var owned = false
    var attempt = 0
    var decided = false
    while (!decided) {
      scala.util.Try(readString(f, lock)) match {
        case scala.util.Success(c) => owned = c.contains(token); decided = true
        case scala.util.Failure(_: java.io.FileNotFoundException) =>
          decided = true // nothing to release
        case scala.util.Failure(_) if attempt < 3 =>
          attempt += 1; Thread.sleep(10L << attempt)
        case scala.util.Failure(_) => decided = true // could not confirm:
          // leave the lock to lease expiry rather than risk deleting a
          // successor's lock on an unverified read
      }
    }
    if (!owned) return
    if (!renameSafe) { scala.util.Try(f.delete(lock, false)); return }
    // `token` is the FULL lock content (uuid + scheme/mode tags since
    // r19); only its uuid head is filename-safe
    val fname = token.takeWhile(_ != ' ')
    val taken = new Path(lock.getParent, s".${lock.getName}.rel.$fname")
    if (!scala.util.Try(f.rename(lock, taken)).getOrElse(false)) return
    if (scala.util.Try(readString(f, taken)).toOption.contains(token)) {
      scala.util.Try(f.delete(taken, false)); ()
    } else if (!scala.util.Try(f.rename(taken, lock)).getOrElse(false)) {
      scala.util.Try(f.delete(taken, false))
      logWarning(s"graft: WARN lost a stolen branch lock while " +
        s"restoring it at $lock — a waiter re-created the lock first; " +
        "the stolen holder's section is no longer covered")
    }
  }

  /** Cross-PROCESS mutual exclusion for branch-pointer read-check-write
    * sections — the piece the in-JVM [[GraftDataset.branchCasLock]]
    * cannot provide when N DRIVERS write one table. A short-lived lock
    * file claimed by atomic exclusive create serializes the CAS (the
    * lock-file LogStore pattern Delta uses on stores without a
    * conditional PUT); a holder that crashed mid-section is STOLEN from
    * after `spark.graft.branchLockLeaseMs` (default 30 s) via the lock
    * file's mtime — by atomic quarantine-rename ([[stealBranchLock]])
    * on rename-safe schemes, never delete, so racing stealers cannot
    * destroy a winner's fresh lock. A HEARTBEAT task (on one shared
    * JVM-wide scheduler, no per-commit thread churn) touches the lock's
    * mtime every lease/3 while the body runs, so a section longer than
    * the lease (slow store retries, big manifests) keeps its lock
    * instead of silently losing it; only a JVM-wide pause beyond the
    * lease (GC, VM freeze) can still starve the heartbeat. Release is
    * take-verify-restore unconditionally ([[releaseBranchLock]]). Worst
    * case of every residual race is a retried CAS, not corruption: the
    * commit-file create is itself atomic.
    *
    * STORE CONTRACT, two tiers: (1) atomic create-if-absent
    * ([[AtomicCreateSchemes]]) makes the CLAIM exclusive — plain S3A
    * lacks it (non-atomic exists-then-PUT) and gets the once-per-scheme
    * warning, or a throw under `spark.graft.branchLockStrictStore=true`;
    * (2) atomic mtime-preserving RENAME ([[MtimeSafeRenameSchemes]])
    * additionally makes the steal/release verification sound — a scheme
    * with atomic create but copy+delete rename (GCS connector) or
    * mtime-refreshing rename falls back to the legacy guarded-delete
    * steal and plain release, whose delete race is the documented floor
    * there. On rename-safe schemes, clock skew between writers shifts
    * WHEN a lease looks expired; the rename verification then restores a
    * wrongly-quarantined live lock (or WARNs when the restore loses),
    * and two holders coexisting additionally requires a waiter's create
    * inside one rename round-trip — the floor documented at
    * [[releaseBranchLock]], not "never".
    */
  private[format] def withBranchLock[T](spark: SparkSession, root: String)
                                       (body: => T): T = {
    val f = fs(spark, root)
    val scheme = Option(f.getScheme).getOrElse("").toLowerCase
    if (!AtomicCreateSchemes.contains(scheme)) {
      if (spark.conf.get("spark.graft.branchLockStrictStore", "false").toBoolean)
        throw new java.io.IOException(
          s"scheme '$scheme' lacks atomic exclusive create/rename; the " +
            "branch lock cannot guarantee cross-process exclusion there " +
            "(unset spark.graft.branchLockStrictStore to proceed unsafely)")
      else if (warnedLockSchemes.add(scheme))
        logWarning(s"graft: WARN scheme '$scheme' is not known to " +
          "provide atomic exclusive create/rename — cross-process branch " +
          "locking is BEST-EFFORT there (see CommitLog.withBranchLock)")
    } else if (!renameSafeScheme(f) && warnedLockSchemes.add(s"$scheme:rename"))
      logWarning(s"graft: WARN scheme '$scheme' has atomic create " +
        "but its rename is not trusted to be atomic and mtime-preserving — " +
        "stale-lock steals DEGRADE to the guarded-delete mode there: two " +
        "stealers observing the same stale lock can both pass the fresh " +
        "re-verify and double-hold the section (the copy+delete-rename " +
        "floor; a conditional-PUT store closes it). The lock file records " +
        "mode=guarded-delete so a post-mortem can tell which contract held " +
        "(CommitLog.withBranchLock)")
    val lock = new Path(root, "_graft/branch.lock")
    // the lock CONTENT is "<uuid> scheme=<s> mode=<m>": the uuid keeps
    // every content unique (the compare-exact steal/release semantics),
    // and the scheme + steal mode pin WHICH contract protected this
    // section — after an incident, the surviving lock file itself says
    // whether its holder ran rename-verify or the guarded-delete floor
    val mode = if (renameSafeScheme(f)) "rename-verify" else "guarded-delete"
    val token = s"${java.util.UUID.randomUUID()} scheme=$scheme mode=$mode"
    val leaseMs = spark.conf.get("spark.graft.branchLockLeaseMs", "30000").toLong
    val deadline = System.currentTimeMillis() + math.max(leaseMs * 4, 60000L)
    var acquired = false
    while (!acquired) {
      if (tryCreateExclusive(f, lock, token)) acquired = true
      else {
        val st = scala.util.Try(f.getFileStatus(lock)).toOption
        val now = System.currentTimeMillis()
        if (now > deadline)
          throw new java.io.IOException(
            s"branch lock $lock not acquired within " +
              s"${math.max(leaseMs * 4, 60000L)} ms; a writer is stuck " +
              "or the lease (spark.graft.branchLockLeaseMs) is too long")
        if (st.exists(s => now - s.getModificationTime > leaseMs)) {
          // win or lose, loop back to the atomic create
          stealBranchLock(f, lock,
            scala.util.Try(readString(f, lock)).toOption,
            st.get.getModificationTime, renameSafeScheme(f)); ()
        } else if (st.isDefined)
          Thread.sleep(5L + scala.util.Random.nextInt(20))
        // st empty: released between our create and stat — retry now
      }
    }
    // heartbeat on the SHARED timer — a fresh thread per commit churned
    // at high commit rates. The tick only DISPATCHES: the setTimes IO
    // runs on the cached IO pool, so one lock's hung store call (the
    // exact slow-retry case heartbeats exist for) can never starve
    // another concurrent lock's beats off the shared timer; a lock whose
    // previous beat is still in flight skips the tick instead of piling
    // up queued touches.
    val beatPeriod = math.max(leaseMs / 3, 50L)
    val beatInFlight = new java.util.concurrent.atomic.AtomicBoolean(false)
    // set BEFORE releaseBranchLock: cancel(false) does not drain an
    // in-flight beat, and a setTimes dispatched just before release
    // could otherwise land AFTER a successor claimed the lock, stamping
    // the successor's mtime with this JVM's wall clock (under forward
    // skew that delays a legitimate steal of the successor by the skew).
    // The flag closes the queued-but-not-started window; a setTimes
    // already in its store round-trip remains the documented floor.
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the tick itself must never throw: an escaping throwable (e.g.
    // rejection from a saturated IO pool, thread-creation failure under
    // resource exhaustion) would cancel ALL future ticks per
    // scheduleWithFixedDelay's contract — a silently dead heartbeat,
    // exactly the stolen-live-lock shape this machinery exists to prevent
    val beatTask = heartbeatExec.scheduleWithFixedDelay(
      () => try {
        if (beatInFlight.compareAndSet(false, true))
          try heartbeatIoExec.execute { () =>
            try beatOnce(f, lock, token, released)
            finally beatInFlight.set(false)
          } catch { case t: Throwable => beatInFlight.set(false); throw t }
      } catch { case _: Throwable => () }, // skip this beat, keep the next
      beatPeriod, beatPeriod, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      beatTask.cancel(false)
      released.set(true)
      releaseBranchLock(f, lock, token, renameSafeScheme(f))
    }
  }

  /** One heartbeat touch, gated on the holder's `released` flag (see
    * [[withBranchLock]]) AND on the lock still carrying the holder's
    * token: a holder whose lock was already STOLEN (it paused past the
    * lease, a waiter quarantined and re-created) must not keep stamping
    * the SUCCESSOR's lock — perpetual foreign beats would make the
    * successor's lock unstealable if the successor then crashed, and
    * every later waiter would block to the acquire deadline. The
    * read-then-touch is not atomic (a steal between them still lands
    * one foreign beat — the single-beat floor, self-correcting by the
    * next lease); a failed read skips the beat (a missed beat only
    * risks a lapsed lease). Factored out so the gating is
    * unit-testable.
    */
  private[format] def beatOnce(
      f: FileSystem, lock: Path, token: String,
      released: java.util.concurrent.atomic.AtomicBoolean): Unit =
    if (!released.get)
      try {
        if (readString(f, lock).contains(token))
          f.setTimes(lock, System.currentTimeMillis(), -1)
      } catch { case _: Exception => () } // missed beat: lease may lapse

  /** One JVM-wide daemon timer for every branch-lock heartbeat (ticks
    * only — never IO), plus a BOUNDED daemon pool for the touch itself:
    * steady-state thread count tracks the number of beats actually in
    * flight (idle threads reap after 60 s, never more than
    * [[HeartbeatIoMaxThreads]]), with no per-commit churn and no
    * cross-lock starvation.
    */
  private lazy val heartbeatExec =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-branch-lock-heartbeat")
      t.setDaemon(true)
      t
    }
  /** Ceiling on concurrently-running heartbeat touches. Each held lock
    * dispatches at most ONE beat at a time (`beatInFlight`), so the pool
    * only fills when ≥ this many locks are simultaneously wedged on a
    * hanging store; past it, `execute` rejects and the tick's catch
    * skips that beat instead of growing threads without bound (the r18
    * `newCachedThreadPool` could, one thread per wedged lock, forever).
    */
  private[format] val HeartbeatIoMaxThreads = 32

  private[format] lazy val heartbeatIoExec =
    new java.util.concurrent.ThreadPoolExecutor(
      0, HeartbeatIoMaxThreads, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-branch-lock-heartbeat-io")
        t.setDaemon(true)
        t
      })

  /** Commit ids are zero-padded sequence numbers → lexicographic order is
    * creation order (LCA relies on parents having smaller ids; gaps from
    * crashed writers are harmless). O(1) via the same best-effort hint
    * the reservation allocator uses: a full directory listing per commit
    * was O(history) namenode calls — O(history²) over a table's life. A
    * stale-LOW hint only costs forward existence probes (the atomic
    * create in [[writeCommit]] stays the single claim point); a missing
    * or unreadable hint falls back to one listing.
    */
  private def commitHint(root: String) = new Path(root, "_graft/commit_next")

  /** Largest id representable in the zero-padded 8-digit format; beyond
    * it f"%08d" grows to 9 digits and lexicographic ≠ numeric order. */
  private val MaxCommitId = 99999999L

  def nextCommitId(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    val hint = commitHint(root)
    var n = (if (f.exists(hint))
        scala.util.Try(readString(f, hint).trim.toLong).toOption
          // corrupt/oversized hint (negative, or past the 8-digit format
          // capacity) is distrusted → fall back to the listing
          .filter(v => v >= 0L && v <= MaxCommitId)
      else None)
      .getOrElse {
        // legacy/cold table (or lost/corrupt hint): watermark from the
        // listing PLUS the ancestry checkpoint's ids. The checkpoint
        // floor matters after a branch purge: the purged ids vanish from
        // the listing, but if any still ride the checkpoint (the
        // dropFromAncestry/refresh race, see [[mergeAncestry]]),
        // reissuing such an id would graft its stale DAG edges onto a
        // brand-new commit — flooring here makes a lingering stale edge
        // permanently unreachable instead
        val ck = readAncestryCk(spark, root)
        (listCommits(spark, root).iterator ++
            ck.edges.keysIterator ++ ck.messages.keysIterator)
          .map(_.takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toLong)
          .foldLeft(-1L)(math.max) + 1
      }
    while (f.exists(new Path(commitsDir(root), f"$n%08d.json"))) n += 1
    require(n <= MaxCommitId,
      s"commit sequence exhausted ($n > $MaxCommitId): the 8-digit id " +
        "format cannot represent more commits")
    f"$n%08d"
  }

  /** Best-effort hint advance, called after a successful commit publish —
    * loss or a race is harmless (probing recovers). */
  private[format] def advanceCommitHint(spark: SparkSession, root: String,
                                        justPublished: String): Unit =
    scala.util.Try(justPublished.takeWhile(_.isDigit).toLong).foreach { n =>
      try writeString(fs(spark, root), commitHint(root), (n + 1).toString,
        overwrite = true)
      catch { case _: java.io.IOException => () }
    }

  /** Claim a globally-unique, monotonically-increasing reservation number
    * via atomic file create — the allocator behind row-uuid spaces
    * (`uuid = reservation << 40 | rowIndex`). Concurrent appenders race on
    * the create and the loser simply claims the next number; uuids are
    * collision-free across branches and writers BY CONSTRUCTION (the
    * watermark-per-commit alternative collides when two branches append
    * concurrently from the same base).
    */
  /** Reservations live in the low 23 bits above the 40-bit row index:
    * `reservation << 40` must stay below the Long sign bit, or uuids turn
    * negative and collide across merge/diff identity.
    */
  val maxReservation: Long = 1L << 23

  def claimReservation(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val dir = new Path(root, "_graft/reservations")
    f.mkdirs(dir)
    // O(1) path: a hint file holds the next candidate, so a claim is one
    // read + one atomic create instead of listing every marker ever
    // claimed (O(#appends) namenode pressure). The hint is best-effort —
    // stale or lost hints only cost forward probing, never correctness,
    // because the atomic marker create remains the single claim point.
    val hintPath = new Path(dir, "_next")
    var n = (if (f.exists(hintPath))
        scala.util.Try(readString(f, hintPath).trim.toLong).toOption
          // a corrupt/oversized hint (torn rewrite, out-of-band edit) is
          // distrusted → fall back to the listing, like nextCommitId's
          // hint filter — trusting e.g. 10^11 would fail the exhaustion
          // require below FOREVER and brick every append on this table
          .filter(v => v >= 1L && v < maxReservation)
      else None)
      .getOrElse { // legacy/cold/corrupt hint: one listing → watermark
        f.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)
          .foldLeft(0L)(math.max) + 1
      }
    if (n < 1) n = 1
    var claimed = false
    var consecutiveIoErrors = 0
    while (!claimed) {
      require(n < maxReservation,
        s"reservation space exhausted ($n >= 2^23): uuids would cross the " +
          "Long sign bit — compact/rewrite the table to reset the uuid space")
      try {
        // On file:// Hadoop's create(overwrite=false) is a non-atomic
        // exists-then-create; NIO createFile is O_CREAT|O_EXCL. On HDFS
        // and object stores with conditional writes, create(false) IS the
        // atomic claim point.
        if (f.getScheme == "file")
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(new Path(dir, n.toString).toUri.getPath))
        else
          f.create(new Path(dir, n.toString), false).close()
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          consecutiveIoErrors = 0; n += 1 // number taken: probe forward
        case e: java.io.IOException =>
          // some stores signal "exists" only as a generic IOException, so
          // a few are probed past — but a persistent run is a REAL error
          // (permissions, disk full): surface it instead of looping to
          // the exhaustion require with a misleading message
          consecutiveIoErrors += 1
          if (consecutiveIoErrors > 5) {
            // on a store that signals "number taken" ONLY as a generic
            // IOException, six consecutively-claimed numbers under normal
            // writer contention are plausible — a present file is a taken
            // number, not a persistent failure (ADVICE r20)
            if (scala.util.Try(f.exists(new Path(dir, n.toString)))
                  .getOrElse(false))
              consecutiveIoErrors = 0
            else
              throw new java.io.IOException(
                s"reservation claim failing persistently under $dir " +
                  "(not an already-claimed number)", e)
          }
          n += 1
      }
    }
    try writeString(f, hintPath, (n + 1).toString, overwrite = true)
    catch { case _: java.io.IOException => () } // hint loss is harmless
    n
  }

  // ---- ancestry checkpoint ------------------------------------------------

  /** Rolling checkpoint of the commit DAG's SHAPE (id → parent ids) plus
    * each commit's MESSAGE: one file read replaces one JSON read PER
    * COMMIT in ancestry walks, which at 10k+ commits made every merge/LCA
    * O(history) round-trips — the same reason Delta checkpoints its log.
    * Messages ride along (r18) so the marker-matched reads
    * ([[GraftDataset.commitForMessage]]) are checkpoint-served too: a
    * marker MISS on a long-lived branch was O(history) serial commit-file
    * reads. Commits are immutable, so any published checkpoint content
    * stays correct forever; the file is pure cache (lost/corrupt/raced/
    * legacy-format → walks fall back to per-commit reads and the next
    * deep walk rewrites it in the current format).
    */
  def ancestryFile(root: String) = new Path(root, "_graft/ancestry.json")

  /** Checkpoint payload: `edges` (id → parent ids, first parent first)
    * and `messages` (id → commit message). */
  private[format] case class AncestryCk(edges: Map[String, Seq[String]],
                                        messages: Map[String, String])

  /** Rewrite the checkpoint once a walk had to cold-read this many
    * commits: amortizes checkpoint writes to one per `checkpointSlack`
    * commits while bounding a walk's file reads by the same number.
    */
  val checkpointSlack = 32

  private[format] def readAncestryCk(spark: SparkSession,
                                     root: String): AncestryCk = {
    val f = fs(spark, root)
    val p = ancestryFile(root)
    if (!f.exists(p)) return AncestryCk(Map.empty, Map.empty)
    scala.util.Try {
      val j = JsonMethods.parse(readString(f, p))
      (j \ "edges") match {
        case org.json4s.JObject(_) => AncestryCk(
          (j \ "edges").extract[Map[String, Seq[String]]],
          (j \ "messages").extractOrElse[Map[String, String]](Map.empty))
        // legacy (≤r17) format: the bare edges map, no messages
        case _ => AncestryCk(j.extract[Map[String, Seq[String]]], Map.empty)
      }
    }.getOrElse(AncestryCk(Map.empty, Map.empty)) // torn overwrite → miss
  }

  /** Back-compat view for callers that only need the DAG shape. */
  def readAncestry(spark: SparkSession, root: String): Map[String, Seq[String]] =
    readAncestryCk(spark, root).edges

  private def writeAncestry(spark: SparkSession, root: String,
                            ck: AncestryCk): Unit =
    try writeString(fs(spark, root), ancestryFile(root),
      Serialization.write(Map(
        "edges" -> ck.edges, "messages" -> ck.messages)), overwrite = true)
    catch { case _: java.io.IOException => () } // cache write loss is harmless

  /** Checkpoint refresh used by the deep walks: merge THIS walk's fresh
    * commit reads into the checkpoint as it is on disk NOW — re-read
    * immediately before the write, not the (possibly minutes-old)
    * snapshot the walk started from. A concurrent branch purge drops its
    * freed ids from the checkpoint ([[dropFromAncestry]]); merging onto
    * the walk's stale base would write those ids straight back — the
    * resurrection hazard dropFromAncestry exists to close. `fresh` is
    * safe to add (its commit files were read during this walk); the
    * residual window — a purged commit read into `fresh` just before its
    * delete — is additionally defused by [[nextCommitId]]'s checkpoint
    * floor, which never reissues an id the checkpoint still carries.
    */
  private def mergeAncestry(spark: SparkSession, root: String,
      fresh: scala.collection.Map[String, (Seq[String], String)]): Unit = {
    val base = readAncestryCk(spark, root)
    writeAncestry(spark, root, AncestryCk(
      base.edges ++ fresh.view.mapValues(_._1),
      base.messages ++ fresh.view.mapValues(_._2)))
  }

  /** Walk parents (both of them for merge commits) to the root. DAG edges
    * come from the ancestry checkpoint when present; only commits newer
    * than the last checkpoint cost a file read, and a walk that
    * cold-reads more than [[checkpointSlack]] commits refreshes it.
    */
  def ancestors(spark: SparkSession, root: String, id: String): Set[String] = {
    val ck = readAncestryCk(spark, root)
    val fresh = scala.collection.mutable.Map[String, (Seq[String], String)]()
    def parents(c: String): Seq[String] = ck.edges.getOrElse(c,
      fresh.getOrElseUpdate(c, {
        val m = readCommit(spark, root, c)
        (m.parent.toSeq ++ m.mergeParent.toSeq, m.message)
      })._1)
    val seen = scala.collection.mutable.Set[String]()
    val stack = scala.collection.mutable.Stack(id)
    while (stack.nonEmpty) {
      val c = stack.pop()
      if (!seen.contains(c)) {
        seen += c
        parents(c).foreach(stack.push)
      }
    }
    if (fresh.size > checkpointSlack) mergeAncestry(spark, root, fresh)
    seen.toSet
  }

  /** Newest first-parent commit from `head` whose message equals
    * `message` — the checkpoint-served engine of
    * [[GraftDataset.commitForMessage]]. A near-HEAD hit costs a few
    * plain commit reads and no checkpoint IO; past `eagerSteps` the
    * checkpoint loads, commits whose edge AND message it holds cost
    * zero reads, only commits newer than the last checkpoint (or cached
    * by the pre-r18 edges-only format) cold-read, and a deep walk that
    * cold-reads more than [[checkpointSlack]] refreshes it — so a
    * marker MISS on an N-commit branch costs one checkpoint read + at
    * most `eager + slack` commit reads, not N.
    */
  def firstParentByMessage(spark: SparkSession, root: String,
                           head: Option[String],
                           message: String): Option[String] =
    firstParentWhere(spark, root, head, _ == message).map(_._1)

  /** The checkpoint-served walk behind [[firstParentByMessage]],
    * generalized to an arbitrary message predicate — the streaming
    * sink's marker lookup matches a token PREFIX rather than one exact
    * message and needs the same O(eager + slack) cost on a marker miss
    * (a new query over a 50k-commit table must not pay 50k serial
    * commit reads to learn it has no marker yet). Returns the newest
    * matching (commit id, message) on the first-parent chain.
    */
  def firstParentWhere(spark: SparkSession, root: String,
                       head: Option[String],
                       pred: String => Boolean): Option[(String, String)] = {
    // the common case (a stream's monotone marker) hits within a few
    // commits of HEAD — those walks stay as cheap as the pre-checkpoint
    // path (plain commit reads, zero checkpoint IO); the checkpoint is
    // loaded lazily only once the walk goes deep
    val eagerSteps = 8
    var ck: AncestryCk = null
    val fresh = scala.collection.mutable.Map[String, (Seq[String], String)]()
    def cold(c: String): (Seq[String], String) =
      fresh.getOrElseUpdate(c, {
        val m = readCommit(spark, root, c)
        (m.parent.toSeq ++ m.mergeParent.toSeq, m.message)
      })
    def meta(c: String): (Seq[String], String) =
      if (ck == null) cold(c)
      else (ck.edges.get(c), ck.messages.get(c)) match {
        case (Some(e), Some(m)) => (e, m)
        case _ => cold(c)
      }
    var cur = head
    var steps = 0
    var found: Option[(String, String)] = None
    while (cur.isDefined && found.isEmpty) {
      val (parents, msg) = meta(cur.get)
      if (pred(msg)) found = cur.map(_ -> msg)
      else cur = parents.headOption // first parent
      steps += 1
      if (ck == null && steps >= eagerSteps && cur.isDefined)
        ck = readAncestryCk(spark, root)
    }
    if (ck != null && fresh.size > checkpointSlack)
      mergeAncestry(spark, root, fresh)
    found
  }

  /** Lowest common ancestor of two commits: the ancestor of both with the
    * highest sequence number (sequence order is a topological order since
    * parents always have smaller ids). Mirrors the reference LCA walk
    * (muller/core/version_control/operations/diff.py:370-388).
    */
  def lca(spark: SparkSession, root: String, a: String, b: String): String = {
    val common = ancestors(spark, root, a) intersect ancestors(spark, root, b)
    require(common.nonEmpty, s"no common ancestor of $a and $b")
    // compare NUMERICALLY, not lexicographically: ids are zero-padded to
    // 8 digits, but a hypothetical 9-digit id would break string order
    common.maxBy(c => c.takeWhile(_.isDigit) match {
      case "" => -1L; case d => d.toLong
    })
  }
}
