package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Randomized MODEL-BASED check of the CDC layer: a fixed-seed random
  * sequence of mutations (append/update/pop), schema evolutions (pure
  * renames, pure adds — both may REUSE names earlier renames freed) and
  * clean-state compactions runs on a source table; after EVERY commit
  * the batch change feed for that commit is applied to a replica (adds
  * adopted before the row events, renames after — the replicate
  * helper's order), and the replica must equal the source row-for-row,
  * uuid-for-uuid, schema-for-schema. A STREAMING replica
  * ([[graft.streaming.GraftStreaming.replicate]], retained checkpoint,
  * randomized maxCommitsPerTrigger so schema events split across
  * micro-batches) syncs periodically and must converge too — this is
  * the path that exercises the placeholder adoption + stateless
  * reconciliation for colliding re-added names. At the end a fresh
  * streaming bootstrap converges, and the full-range batch feed either
  * replays to an identical replica or (when name reuse pinned a
  * duplicate) refuses the range loudly. The point is INTERACTION
  * coverage — sequences no hand-written spec enumerates. Drops are
  * excluded: they split feeds loudly by design.
  */
class CdcFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val baseSchema = StructType(Seq(
    StructField("id", LongType), StructField("c0", LongType)))

  for (seed <- Seq(1517, 9042, 31337))
  test(s"random mutation+evolution sequences (seed $seed): " +
      "the change feed replays to an identical replica") {
    val rnd = new scala.util.Random(seed)
    val srcRoot = tmpDir("cdcfuzz") + "/src"
    val repRoot = tmpDir("cdcfuzz") + "/rep"
    val ds = GraftDataset.create(spark, srcRoot, baseSchema)
    // data columns beyond id, in position order (names evolve)
    var cols = Vector("c0")
    var nextId = 0L
    var nextCol = 1
    var lastApplied: Option[String] = None
    var replicaOpt: Option[GraftDataset] = None
    // names freed by renames, available for reuse by later renames/adds
    var freed = Set.empty[String]
    var nameReuse = false // any rename/add took a previously-used name
    // the full-range pin = first commit's schema + every add-time name;
    // a reused ADD name duplicates it and must split the range
    val fullPin = scala.collection.mutable.Set("id", "c0")
    var fullPinDup = false
    def takeName(fresh: String): String =
      if (freed.nonEmpty && rnd.nextInt(10) < 4) {
        val n = freed.toSeq.sorted.apply(rnd.nextInt(freed.size))
        freed -= n; nameReuse = true; n
      } else fresh

    def compare(replica: GraftDataset, what: String): Unit = {
      assert(replica.schema.fieldNames.toSeq ==
        ds.schema.fieldNames.toSeq, s"$what: schema diverged " +
        s"(${replica.schema.fieldNames.toSeq} vs ${ds.schema.fieldNames.toSeq})")
      def dump(d: GraftDataset) = d.snapshotWithUuid()
        .select((("id" +: cols :+ GraftDataset.UuidCol)).map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(dump(replica) == dump(ds),
        s"$what: replica rows diverged from source")
    }

    /** Apply one source commit's feed to the incremental replica. */
    def replay(commitId: String): Unit = {
      val m = CommitLog.readCommit(spark, srcRoot, commitId)
      if (m.rewrite.contains(true)) { lastApplied = Some(commitId); return }
      val feed = ds.changes(
        fromRef = lastApplied.getOrElse(""), toRef = commitId)
      val tpe = col(GraftStream.ChangeTypeCol)
      val replica = replicaOpt.getOrElse {
        val dataSchema = StructType(
          feed.schema.fields.dropRight(2)
            .filterNot(_.name == GraftDataset.UuidCol))
        val r = GraftDataset.create(spark, repRoot, dataSchema)
        replicaOpt = Some(r); r
      }
      val parent = m.parent.map(CommitLog.readCommit(spark, srcRoot, _))
      // adds BEFORE row events (post-add rows carry the column);
      // renames AFTER (value-neutral, positional identity)
      for (p <- parent; delta <- ChangeFeed.addDelta(p, m); f <- delta)
        if (!replica.schema.fieldNames.contains(f.name))
          replica.createTensor(f.name, f.dataType)
      val rows = feed.filter(tpe =!= "schema_change")
      if (rows.limit(1).count() > 0) {
        val names = replica.schema.fieldNames.toIndexedSeq ++
          Seq(GraftDataset.UuidCol, GraftStream.ChangeTypeCol,
            GraftStream.CommitIdCol)
        replica.applyChanges(rows.toDF(names: _*), dedupInserts = false)
        ()
      }
      for (p <- parent; delta <- ChangeFeed.renameDelta(p, m);
           (f, t) <- delta)
        if (replica.schema.fieldNames.contains(f) &&
            !replica.schema.fieldNames.contains(t))
          replica.renameTensor(f, t)
      replica.commit(s"replay $commitId", allowEmpty = true)
      lastApplied = Some(commitId)
      compare(replica, s"after replaying $commitId")
    }

    def commitAndReplay(msg: String): Unit = replay(ds.commit(msg))

    // streaming replica: the ENGINE's replicate path, with a retained
    // checkpoint and a randomized commits-per-trigger cap so schema
    // events and the row commits around them split across micro-batches
    val streamRoot = tmpDir("cdcfuzz") + "/stream"
    val streamCkpt = tmpDir("cdcfuzz") + "/streamck"
    def syncStream(): Unit = {
      graft.streaming.GraftStreaming.replicate(spark, srcRoot, streamRoot,
        streamCkpt, sourceOptions = Map(
          "maxCommitsPerTrigger" -> (1 + rnd.nextInt(3)).toString))
        .awaitTermination()
      compare(GraftDataset.load(spark, streamRoot), "streaming replica")
    }

    // seed the table so updates/pops have something to chew on
    ds.append((0 until 20).map { _ =>
      val id = nextId; nextId += 1; (id, id * 3)
    }.toDF("id", "c0"))
    commitAndReplay("seed")

    var ops = 0
    while (ops < 30) {
      ops += 1
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => // append a batch carrying every current column
          val n = 1 + rnd.nextInt(6)
          val rows = (0 until n).map { _ =>
            val id = nextId; nextId += 1
            org.apache.spark.sql.Row.fromSeq(
              id +: cols.indices.map(ci => id * 3 + ci))
          }
          val sch = StructType(StructField("id", LongType) +:
            cols.map(c => StructField(c, LongType, nullable = true)))
          ds.append(spark.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(rows).asJava), sch))
          commitAndReplay(s"append $ops")
        case 3 | 4 => // update a random column on a random slice
          val c = cols(rnd.nextInt(cols.size))
          val mdl = 2 + rnd.nextInt(4)
          ds.update(pmod(col("id"), lit(mdl)) === rnd.nextInt(mdl),
            Map(c -> (col("id") * 100 + ops)))
          commitAndReplay(s"update $ops")
        case 5 => // pop a slice
          val mdl = 3 + rnd.nextInt(5)
          ds.pop(pmod(col("id"), lit(mdl)) === rnd.nextInt(mdl))
          commitAndReplay(s"pop $ops")
        case 6 => // pure rename of a random data column (target may be a
          // name an earlier rename freed — a REUSED name)
          val i = rnd.nextInt(cols.size)
          val to = takeName(s"r$nextCol"); nextCol += 1
          ds.renameTensor(cols(i), to)
          freed += cols(i)
          cols = cols.updated(i, to)
          // a rename may share its commit with row events (still pure)
          if (rnd.nextBoolean()) {
            val id = nextId; nextId += 1
            val sch = StructType(StructField("id", LongType) +:
              cols.map(c => StructField(c, LongType, nullable = true)))
            ds.append(spark.createDataFrame(
              java.util.Collections.singletonList(
                org.apache.spark.sql.Row.fromSeq(
                  id +: cols.indices.map(ci => id * 3 + ci))), sch))
          }
          commitAndReplay(s"rename $ops")
        case 7 => // pure add of a nullable column (name may be a reused
          // one — the sequence behind the colliding-adopt machinery)
          if (cols.size < 4) {
            val name = takeName(s"a$nextCol"); nextCol += 1
            ds.createTensor(name, LongType)
            if (!fullPin.add(name)) fullPinDup = true
            cols = cols :+ name
            // post-add rows in the SAME commit may carry values
            if (rnd.nextBoolean()) {
              val id = nextId; nextId += 1
              val sch = StructType(StructField("id", LongType) +:
                cols.map(c => StructField(c, LongType, nullable = true)))
              ds.append(spark.createDataFrame(
                java.util.Collections.singletonList(
                  org.apache.spark.sql.Row.fromSeq(
                    id +: cols.indices.map(ci => id * 3 + ci))), sch))
            }
            commitAndReplay(s"add $ops")
          }
        case 8 => // clean-state compaction: rewrite commit, feed skips it
          ds.compact()
          commitAndReplay(s"compact $ops")
        case 9 => // no-op round (commit pressure elsewhere)
          ()
      }
      if (ops % 10 == 0) syncStream()
    }
    syncStream() // drain whatever the last paced sync left behind

    // fresh STREAMING bootstrap: a new checkpoint pins the source's
    // CURRENT names (no range-wide add pin), so it converges even when
    // the run reused names — the engine path a user takes after any
    // range-splitting evolution
    val bootRoot = tmpDir("cdcfuzz") + "/boot"
    graft.streaming.GraftStreaming.replicate(spark, srcRoot, bootRoot,
      tmpDir("cdcfuzz") + "/bootck").awaitTermination()
    compare(GraftDataset.load(spark, bootRoot), "fresh streaming bootstrap")

    info(s"seed $seed coverage: nameReuse=$nameReuse fullPinDup=$fullPinDup")
    if (fullPinDup) {
      // a reused ADD name duplicates the full-range pin: the batch feed
      // must refuse the range loudly, never emit an ambiguous schema
      val err = intercept[IllegalArgumentException](ds.changes().count())
      assert(err.getMessage.contains("collides"), err.getMessage)
    } else if (!nameReuse) {
    // (reused names without a duplicate pin still defeat the SIMPLE
    // name-keyed replay below — an add can occupy a later rename's
    // target; the engine-side replicate above is the collision-safe
    // consumer, so the manual path only runs on reuse-free sequences)
    // full-range bootstrap: a SECOND replica from changes("") — pinned
    // at the FIRST commit's schema extended by every in-range add, with
    // every rename announced; applying announced deltas in commit order
    // after the rows must land exactly the source's final names
    val full = ds.changes()
    val tpe = col(GraftStream.ChangeTypeCol)
    val dataSchema = StructType(full.schema.fields.dropRight(2)
      .filterNot(_.name == GraftDataset.UuidCol))
    val rep2Root = tmpDir("cdcfuzz") + "/rep2"
    val rep2 = GraftDataset.create(spark, rep2Root, dataSchema)
    val names2 = rep2.schema.fieldNames.toIndexedSeq ++
      Seq(GraftDataset.UuidCol, GraftStream.ChangeTypeCol,
        GraftStream.CommitIdCol)
    rep2.applyChanges(full.filter(tpe =!= "schema_change").toDF(names2: _*))
    val scCommits = full.filter(tpe === "schema_change")
      .select(GraftStream.CommitIdCol).distinct()
      .as[String].collect().sorted
    for (cid <- scCommits) {
      val m = CommitLog.readCommit(spark, srcRoot, cid)
      val p = m.parent.map(CommitLog.readCommit(spark, srcRoot, _))
      for (pp <- p; delta <- ChangeFeed.addDelta(pp, m); f <- delta)
        if (!rep2.schema.fieldNames.contains(f.name))
          rep2.createTensor(f.name, f.dataType)
      for (pp <- p; delta <- ChangeFeed.renameDelta(pp, m);
           (f, t) <- delta)
        if (rep2.schema.fieldNames.contains(f) &&
            !rep2.schema.fieldNames.contains(t))
          rep2.renameTensor(f, t)
    }
    rep2.commit("bootstrap replay", allowEmpty = true)
    compare(rep2, "full-range bootstrap")
    }
  }
}
