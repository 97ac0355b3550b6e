package graft.format

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** `writeStream.format("graft")` and `readStream.format("graft")` —
  * the registered streaming halves of the data source.
  */
class GraftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def schema2 = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("graft sink: one commit per micro-batch, exactly-once on retry") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("gsink") + "/t"
    val ckpt = tmpDir("gsinkckpt")
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val q = mem.toDF.toDF("id", "v").writeStream
      .format("graft")
      .option("path", root)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val ds = GraftDataset.load(spark, root)
    assert(ds.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val markers = ds.log.map(_.message).filter(_.startsWith("stream["))
    assert(markers.size >= 2)
    // a redelivered epoch (checkpoint recovery replays the last batch)
    // must be a no-op — same query identity (the checkpoint's metadata
    // query id), same token
    val GraftStream.MarkerRe(liveToken, _) = markers.head: @unchecked
    val sink = new GraftSink(spark, root, "main", ckpt,
      GraftStream.queryToken(ckpt), Set.empty)
    val replay =
      GraftStream.lastBatchId(spark, root, ds.head, Set(liveToken)).get
    sink.addBatch(replay, Seq((9L, "dup")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 3)
    // and the NEXT epoch appends
    sink.addBatch(replay + 1, Seq((4L, "d")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 4)
    // a DIFFERENT query (fresh checkpoint → epochs restart at 0) writing
    // to the same table must NOT be deduped against the first query's
    // markers — epoch-only matching would silently drop its batches
    val ck2 = tmpDir("gsinkckpt2")
    val sink2 = new GraftSink(spark, root, "main", ck2,
      GraftStream.queryToken(ck2), Set.empty)
    sink2.addBatch(0L, Seq((5L, "e")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 5)
    // but ITS OWN retry of epoch 0 is still a no-op
    sink2.addBatch(0L, Seq((5L, "e")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 5)
  }

  test("a wiped-and-recreated checkpoint resets the sink's identity") {
    // the marker token follows the checkpoint's METADATA QUERY ID, which
    // the engine regenerates when the checkpoint is wiped: the reset
    // query's restarted batch ids must NOT be skipped as duplicates of
    // the old query's (its early batches carry brand-new source data) —
    // the checkpoint PATH alone cannot tell a reset from a restart
    val root = tmpDir("gsinkwipe") + "/t"
    val ckpt = tmpDir("gsinkwipeck")
    def writeMeta(id: String): Unit = {
      val f = CommitLog.fs(spark, ckpt)
      val out = f.create(new org.apache.hadoop.fs.Path(ckpt, "metadata"), true)
      out.write(s"""{"id":"$id"}""".getBytes("UTF-8")); out.close()
    }
    writeMeta("11111111-1111-1111-1111-111111111111")
    val pathToken = GraftStream.queryToken(ckpt)
    val s1 = new GraftSink(spark, root, "main", ckpt, pathToken, Set.empty)
    s1.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    s1.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 2)
    // the wipe: same path, regenerated query id → fresh identity, so
    // batch 0 of the NEW query appends instead of being skipped
    writeMeta("22222222-2222-2222-2222-222222222222")
    val s2 = new GraftSink(spark, root, "main", ckpt, pathToken, Set.empty)
    s2.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 3,
      "a reset query's batch 0 was skipped as the old query's duplicate")
    // its own redelivery still dedupes
    s2.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    assert(GraftDataset.load(spark, root).toDF.count() == 3)
  }

  test("two live streams append to one table: exactly-once across a restart of each") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("gmulti") + "/t"
    val ck1 = tmpDir("gmultick1"); val ck2 = tmpDir("gmultick2")
    val m1 = MemoryStream[(Long, String)]; val m2 = MemoryStream[(Long, String)]
    def start(m: MemoryStream[(Long, String)], ck: String) =
      m.toDF.toDF("id", "v").writeStream.format("graft")
        .option("path", root).option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime(0L)).start()
    var q1 = start(m1, ck1)
    var q2 = start(m2, ck2)
    // both queries commit to ONE table concurrently: each append CAS-es
    // the branch head and auto-rebases over the other's fresh commits
    m1.addData((1L to 200L).map(i => (i, s"a$i")): _*)
    m2.addData((1001L to 1200L).map(i => (i, s"b$i")): _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    // mid-run restart of q1 — its resumed checkpoint replays the last
    // batch (the per-query marker must swallow it) while q2 keeps
    // writing live commits between q1's marker and the replay
    q1.stop()
    m2.addData((1201L to 1300L).map(i => (i, s"b$i")): _*)
    q2.processAllAvailable()
    m1.addData((201L to 260L).map(i => (i, s"a$i")): _*)
    q1 = start(m1, ck1)
    q1.processAllAvailable()
    // and a mid-run restart of q2 the same way
    q2.stop()
    m1.addData((261L to 300L).map(i => (i, s"a$i")): _*)
    q1.processAllAvailable()
    m2.addData((1301L to 1350L).map(i => (i, s"b$i")): _*)
    q2 = start(m2, ck2)
    q2.processAllAvailable()
    q1.stop(); q2.stop()
    val ds = GraftDataset.load(spark, root)
    val ids = ds.toDF.select("id").as[Long].collect().toSeq.sorted
    assert(ids == ((1L to 300L) ++ (1001L to 1350L)),
      s"every row exactly once: got ${ids.size} rows, " +
        s"dupes=${ids.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
    // both queries' tokens interleave in the ONE commit log (tokens are
    // the checkpoints' metadata QUERY IDS, not the paths — assert two
    // distinct identities rather than specific values, and that each
    // survived its restart under ONE identity)
    val tokens = ds.log.map(_.message).collect {
      case GraftStream.MarkerRe(t, _) => t
    }
    assert(tokens.distinct.size == 2,
      s"exactly two stream identities must appear: ${tokens.distinct}")
  }

  test("graft source: initial snapshot then per-commit append deltas") {
    val root = tmpDir("gsrc") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val stream = spark.readStream.format("graft").load(root)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq == Seq("id", "v"))
    val q = stream.writeStream.format("memory").queryName("gsrc_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gsrcckpt"))
      .start()
    q.processAllAvailable()
    assert(spark.table("gsrc_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // two more commits land while the stream runs → exactly-once tail
    ds.append(Seq((3L, "c")).toDF("id", "v")); ds.commit("more")
    ds.append(Seq((4L, "d")).toDF("id", "v")); ds.commit("more2")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("gsrc_out").orderBy("id").as[(Long, String)]
      .collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("graft source: snapshot folds updates; later in-place changes fail loudly") {
    val root = tmpDir("gsrcup") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    ds.update(col("id") === 1L, Map("v" -> lit("A")))
    ds.pop(col("id") === 3L)
    ds.commit("mutated before stream start")
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("gsrcup_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gsrcupckpt"))
      .start()
    q.processAllAvailable()
    // initial snapshot is merge-on-read: update + tombstone applied
    assert(spark.table("gsrcup_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "A"), (2L, "b")))
    // an in-place change AFTER stream start cannot be an append delta
    ds.update(col("id") === 2L, Map("v" -> lit("B")))
    ds.commit("in-place while streaming")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(err.getMessage.contains("ignoreChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    q.stop()
  }

  test("changeFeed=true streams CDC events for appends, updates, and pops") {
    val root = tmpDir("gcdf") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val stream = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("id", "v", "_uuid", "_change_type", "_commit_id"))
    // data columns must be declared NULLABLE: delete events carry null
    // there, and a non-nullable schema would constant-fold IsNotNull
    // filters and leak delete rows through them
    assert(stream.schema("id").nullable && stream.schema("v").nullable)
    assert(!stream.schema("_uuid").nullable)
    val q = stream.writeStream.format("memory").queryName("gcdf_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gcdfckpt"))
      .start()
    q.processAllAvailable()
    def events() = spark.table("gcdf_out")
      .select("id", "v", "_change_type")
      .as[(Option[Long], Option[String], String)].collect().toSeq
    // initial snapshot: every live row as an insert event
    assert(events().sorted ==
      Seq((Some(1L), Some("a"), "insert"), (Some(2L), Some("b"), "insert")))
    // one commit mixing all three change kinds: two updates of the SAME
    // row (last image wins within the commit), a pop, and an append
    ds.update(col("id") === 1L, Map("v" -> lit("A0")))
    ds.update(col("id") === 1L, Map("v" -> lit("A")))
    ds.pop(col("id") === 2L)
    ds.append(Seq((3L, "c")).toDF("id", "v"))
    ds.commit("mixed mutation")
    q.processAllAvailable()
    q.stop()
    val byType = spark.table("gcdf_out")
      .select("id", "v", "_change_type")
      .as[(Option[Long], Option[String], String)].collect()
      .groupBy(_._3).view.mapValues(_.toSeq.sorted).toMap
    assert(byType("insert").sorted == Seq(
      (Some(1L), Some("a"), "insert"), (Some(2L), Some("b"), "insert"),
      (Some(3L), Some("c"), "insert")))
    assert(byType("update_postimage") ==
      Seq((Some(1L), Some("A"), "update_postimage")),
      s"last image must win within the commit: ${byType("update_postimage")}")
    // delete is identity-only: data columns null, uuid carried
    assert(byType("delete") == Seq((None, None, "delete")))
    val deadUuid = spark.table("gcdf_out")
      .filter(col("_change_type") === "delete").select("_uuid")
      .as[Long].collect().toSeq
    val liveUuids = GraftDataset.load(spark, root).snapshotWithUuid()
      .select("_uuid").as[Long].collect().toSet
    assert(deadUuid.size == 1 && !liveUuids.contains(deadUuid.head))
    // commit ids differ between the snapshot batch and the mutation
    assert(spark.table("gcdf_out").select("_commit_id")
      .distinct().count() == 2)
  }

  test("CDC replication helper: replica follows mutations exactly-once") {
    val src = tmpDir("grsrc") + "/t"
    val dst = tmpDir("grdst") + "/t"
    val ckpt = tmpDir("grck")
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    def sync(): Unit = {
      val q = graft.streaming.GraftStreaming.replicate(spark, src, dst, ckpt)
      q.awaitTermination()
    }
    def replicaRows() = GraftDataset.load(spark, dst).toDF
      .orderBy("id").as[(Long, String)].collect().toSeq
    sync() // bootstrap drains the snapshot
    assert(replicaRows() == Seq((1L, "a"), (2L, "b")))
    // full mutation mix on the source, then an incremental catch-up run
    ds.update(col("id") === 1L, Map("v" -> lit("A")))
    ds.pop(col("id") === 2L)
    ds.append(Seq((3L, "c")).toDF("id", "v"))
    ds.commit("mutate")
    sync() // restarts from the checkpoint (foreachBatch supports this)
    assert(replicaRows() == Seq((1L, "A"), (3L, "c")))
    assert(replicaRows() == GraftDataset.load(spark, src).toDF
      .orderBy("id").as[(Long, String)].collect().toSeq)
    // identity rides along: replica rows carry the SOURCE uuids
    val srcIds = GraftDataset.load(spark, src).snapshotWithUuid()
      .orderBy("id").select("_uuid").as[Long].collect().toSeq
    val dstIds = GraftDataset.load(spark, dst).snapshotWithUuid()
      .orderBy("id").select("_uuid").as[Long].collect().toSeq
    assert(srcIds == dstIds)
    // an idle third run converges without duplicating anything
    sync()
    assert(replicaRows() == Seq((1L, "A"), (3L, "c")))
    // a FRESH checkpoint restarts epochs at 0 and re-applies the
    // bootstrap snapshot — row-level insert idempotency must converge
    // the replica, not duplicate it (and not stall on stale markers)
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, tmpDir("grck2")).awaitTermination()
    assert(replicaRows() == Seq((1L, "A"), (3L, "c")),
      "fresh-checkpoint re-sync must be idempotent")
  }

  test("behind replica converges from a re-applied bootstrap (upsert)") {
    val src = tmpDir("grbsrc") + "/t"
    val dst = tmpDir("grbdst") + "/t"
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "v1"), (2L, "doomed")).toDF("id", "v"))
    ds.commit("seed")
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, tmpDir("grbck1")).awaitTermination()
    assert(GraftDataset.load(spark, dst).toDF.as[(Long, String)]
      .collect().toSeq.sorted == Seq((1L, "v1"), (2L, "doomed")))
    // the source moves on — an update AND a pop; the replication
    // checkpoint is LOST, so neither event will ever be delivered
    ds.update(col("id") === 1L, Map("v" -> lit("v2")))
    ds.pop(col("id") === 2L)
    ds.commit("moved on")
    // a fresh checkpoint's first batch is the FULL snapshot with v2
    // folded into its insert events and row 2 absent entirely. The
    // replica must upsert the stale insert (or it strands at v1) AND
    // reconcile the phantom row 2 as a delete (a bootstrap has no
    // delete events — absence from the complete live set IS the delete)
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, tmpDir("grbck2")).awaitTermination()
    assert(GraftDataset.load(spark, dst).toDF.as[(Long, String)]
      .collect().toSeq == Seq((1L, "v2")),
      "behind replica must converge to the bootstrap's exact live set")
  }

  test("changeFeed tolerates a pure rename: schema_change event, pinned-name rows") {
    val root = tmpDir("gcdfren") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val ckpt = tmpDir("gcdfrenckpt")
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream.format("memory").queryName("gcdfren_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    // rename + append + update in ONE commit, then another commit under
    // the new name — the feed keeps speaking its PINNED names (v), the
    // rename is announced as a schema_change event, and files written
    // under the new physical name (w) are re-aliased, not null-backfilled
    val renameCommit = {
      ds.renameTensor("v", "w")
      ds.append(Seq((3L, "c")).toDF("id", "w"))
      ds.commit("rename v->w + append")
    }
    ds.update(col("id") === 1L, Map("w" -> lit("A")))
    ds.commit("post-rename update")
    q.processAllAvailable()
    q.stop()
    val out = spark.table("gcdfren_out")
    assert(out.schema.fieldNames.toSeq ==
      Seq("id", "v", "_uuid", "_change_type", "_commit_id"))
    val sc = out.filter(col("_change_type") === "schema_change")
      .select("id", "v", "_uuid", "_commit_id")
      .as[(Option[Long], Option[String], Long, String)].collect().toSeq
    assert(sc == Seq((None, None, -1L, renameCommit)),
      s"one identity-less schema_change event at the rename commit: $sc")
    val rows = out.filter(col("_change_type") =!= "schema_change")
      .select("id", "v", "_change_type")
      .as[(Option[Long], Option[String], String)].collect().toSeq
    assert(rows.contains((Some(3L), Some("c"), "insert")),
      s"post-rename append must surface under the pinned name: $rows")
    assert(rows.contains((Some(1L), Some("A"), "update_postimage")),
      s"post-rename update must surface under the pinned name: $rows")
    // a LIVE add — landing while the stream runs, beyond its pin — still
    // fails loudly: the feed's output schema is fixed at stream start,
    // so the new column's values would be silently dropped otherwise.
    // (An add crossed via a RESTART re-pin is tolerated — see the
    // replay-across-an-add test.)
    val q2 = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream.format("noop") // memory sink can't resume a checkpoint
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt) // resume: pin re-reads the head
      .start()
    q2.processAllAvailable() // pin is now at the post-update head
    ds.createTensor("extra", org.apache.spark.sql.types.LongType)
    ds.append(Seq((4L, "d", 40L)).toDF("id", "w", "extra"))
    ds.commit("live add beyond the pin")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(err.getMessage.contains("schema changed") ||
      Option(err.getCause).exists(_.getMessage.contains("schema changed")))
  }

  test("batch table_changes across a rename emits schema_change, pinned rows") {
    val root = tmpDir("gtcren") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    val from = ds.commit("seed")
    ds.renameTensor("v", "w")
    ds.commit("rename")
    ds.append(Seq((2L, "b")).toDF("id", "w"))
    ds.commit("grow")
    val feed = ds.changes(fromRef = from)
    // pinned at the RANGE START's schema (v)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("id", "v", "_uuid", "_change_type", "_commit_id"))
    val got = feed.select("id", "v", "_change_type")
      .as[(Option[Long], Option[String], String)].collect().toSeq.sorted
    assert(got == Seq((None, None, "schema_change"),
      (Some(2L), Some("b"), "insert")), s"got $got")
  }

  test("replicate applies source renames to the replica (schema evolution)") {
    val src = tmpDir("grensrc") + "/t"
    val dst = tmpDir("grendst") + "/t"
    val ckpt = tmpDir("grenck")
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    def sync(): Unit = graft.streaming.GraftStreaming
      .replicate(spark, src, dst, ckpt).awaitTermination()
    sync()
    // source renames mid-replication, then keeps mutating under the new
    // name — the replica must adopt the rename AND stay row-converged
    ds.renameTensor("v", "w")
    ds.append(Seq((3L, "c")).toDF("id", "w"))
    ds.commit("rename + append")
    ds.update(col("id") === 1L, Map("w" -> lit("A")))
    ds.pop(col("id") === 2L)
    ds.commit("mutate under new name")
    sync()
    val replica = GraftDataset.load(spark, dst)
    assert(replica.schema.fieldNames.toSeq == Seq("id", "w"),
      s"replica must carry the renamed schema: ${replica.schema.fieldNames.toSeq}")
    def rows(root: String) = GraftDataset.load(spark, root).toDF
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows(dst) == Seq((1L, "A"), (3L, "c")))
    assert(rows(dst) == rows(src))
    // uuid-for-uuid identity preserved across the rename
    assert(GraftDataset.load(spark, dst).snapshotWithUuid()
      .orderBy("id").select("_uuid").as[Long].collect().toSeq ==
      GraftDataset.load(spark, src).snapshotWithUuid()
        .orderBy("id").select("_uuid").as[Long].collect().toSeq)
    // idle re-run converges (rename application is idempotent)
    sync()
    assert(rows(dst) == Seq((1L, "A"), (3L, "c")))
    // checkpoint LOSS during a further rename: the fresh bootstrap pins
    // the source's newest names with no schema_change events — the
    // replica adopts them positionally and reconciles rows
    ds.renameTensor("w", "x")
    ds.update(col("id") === 3L, Map("x" -> lit("C")))
    ds.commit("rename again while checkpoint lost")
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, tmpDir("grenck2")).awaitTermination()
    val replica2 = GraftDataset.load(spark, dst)
    assert(replica2.schema.fieldNames.toSeq == Seq("id", "x"),
      s"bootstrap must adopt the feed's names: ${replica2.schema.fieldNames.toSeq}")
    assert(rows(dst) == Seq((1L, "A"), (3L, "C")))
    // OVERLAPPING gap renames (x->id would collide; here: x->y then
    // id->x — the new name of one column IS another's old name): a
    // direct positional rename wedges on 'column exists'; the two-phase
    // temp-name adoption must land any pure-rename permutation
    ds.renameTensor("x", "y")
    ds.renameTensor("id", "x")
    ds.update(col("x") === 1L, Map("y" -> lit("A2")))
    ds.commit("overlapping renames while checkpoint lost")
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, tmpDir("grenck3")).awaitTermination()
    val replica3 = GraftDataset.load(spark, dst)
    assert(replica3.schema.fieldNames.toSeq == Seq("x", "y"),
      s"overlapping renames must adopt: ${replica3.schema.fieldNames.toSeq}")
    assert(replica3.toDF.orderBy("x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A2"), (3L, "C")))
  }

  test("batch table_changes across an add: pin extends, pre-add rows null-backfill") {
    val root = tmpDir("gtcadd") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    val from = ds.commit("seed")
    ds.append(Seq((2L, "b")).toDF("id", "v"))
    ds.commit("pre-add grow")
    ds.createTensor("extra", LongType)
    ds.append(Seq((3L, "c", 30L)).toDF("id", "v", "extra"))
    val addCommit = ds.commit("add column + grow")
    ds.update(col("id") === 1L, Map("extra" -> lit(10L)))
    ds.commit("backfill pre-add row")
    // a rename of the ADDED column later in the range: announced, not
    // adopted — the feed keeps the add-time name
    ds.renameTensor("extra", "bonus")
    ds.commit("rename the added column")
    val feed = ds.changes(fromRef = from)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("id", "v", "extra", "_uuid", "_change_type", "_commit_id"),
      s"pin = range-start schema + in-range adds: ${feed.schema.fieldNames.toSeq}")
    val got = feed.select("id", "v", "extra", "_change_type")
      .as[(Option[Long], Option[String], Option[Long], String)]
      .collect().toSeq.sorted
    assert(got == Seq(
      (None, None, None, "schema_change"),  // the add commit
      (None, None, None, "schema_change"),  // the rename commit
      (Some(1L), Some("a"), Some(10L), "update_postimage"),
      (Some(2L), Some("b"), None, "insert"),  // pre-add: null-backfilled
      (Some(3L), Some("c"), Some(30L), "insert")), s"got $got")
    val scIds = feed.filter(col("_change_type") === "schema_change")
      .select("_commit_id").as[String].collect().toSeq.sorted
    assert(scIds.head == addCommit, s"schema_change at the add commit: $scIds")
    // a DROP in the range still splits it loudly
    ds.deleteTensor("bonus")
    ds.commit("drop the column")
    val err = intercept[IllegalArgumentException] {
      ds.changes(fromRef = from).count()
    }
    assert(err.getMessage.contains("schema changed"))
  }

  test("changeFeed replay across an add null-backfills when the pin carries it") {
    val root = tmpDir("gcdfadd") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val ckpt = tmpDir("gcdfaddckpt")
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    // the add lands while the stream is DOWN; the restart re-pins at the
    // post-add head, so the walked range's add is WITHIN the pin —
    // tolerated, announced, and post-add rows carry the new column
    ds.createTensor("extra", LongType)
    ds.append(Seq((3L, "c", 30L)).toDF("id", "v", "extra"))
    val addCommit = ds.commit("add + grow while stream down")
    ds.update(col("id") === 1L, Map("extra" -> lit(10L)))
    ds.commit("backfill pre-add row")
    val outRows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    @volatile var outNames: Seq[String] = Nil
    val q2 = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream // memory sink can't resume a checkpoint: collect here
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        outNames = df.schema.fieldNames.toSeq
        outRows ++= df.collect(); ()
      }
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(outNames ==
      Seq("id", "v", "extra", "_uuid", "_change_type", "_commit_id"))
    val sc = outRows.filter(_.getString(4) == "schema_change")
      .map(r => (r.getLong(3), r.getString(5))).toSeq
    assert(sc == Seq((-1L, addCommit)), s"one schema_change event: $sc")
    val rows = outRows.filterNot(_.getString(4) == "schema_change")
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getString(4))).toSeq.sorted
    assert(rows == Seq(
      (Some(1L), Some("a"), Some(10L), "update_postimage"),
      (Some(3L), Some("c"), Some(30L), "insert")), s"got $rows")
  }

  test("replicate converges across an added column (schema evolution)") {
    val src = tmpDir("gaddsrc") + "/t"
    val dst = tmpDir("gadddst") + "/t"
    val ckpt = tmpDir("gaddck")
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    def sync(ck: String = ckpt): Unit = graft.streaming.GraftStreaming
      .replicate(spark, src, dst, ck).awaitTermination()
    sync()
    // add + mutate while the stream is down (retained checkpoint): the
    // restart pin carries the add, the replica adopts the column, and
    // its pre-add rows read null until the source backfills them
    ds.createTensor("extra", LongType)
    ds.append(Seq((3L, "c", 30L)).toDF("id", "v", "extra"))
    ds.commit("add + grow")
    ds.update(col("id") === 1L, Map("extra" -> lit(10L)))
    ds.pop(col("id") === 2L)
    ds.commit("backfill + pop")
    sync()
    val replica = GraftDataset.load(spark, dst)
    assert(replica.schema.fieldNames.toSeq == Seq("id", "v", "extra"),
      s"replica must adopt the added column: ${replica.schema.fieldNames.toSeq}")
    def rows(root: String) = GraftDataset.load(spark, root).toDF
      .orderBy("id").as[(Long, String, Option[Long])].collect().toSeq
    assert(rows(dst) == Seq((1L, "a", Some(10L)), (3L, "c", Some(30L))))
    assert(rows(dst) == rows(src))
    assert(GraftDataset.load(spark, dst).snapshotWithUuid()
      .orderBy("id").select("_uuid").as[Long].collect().toSeq ==
      GraftDataset.load(spark, src).snapshotWithUuid()
        .orderBy("id").select("_uuid").as[Long].collect().toSeq,
      "uuid-for-uuid identity across the add")
    // idle re-run: adoption is idempotent
    sync()
    assert(rows(dst) == Seq((1L, "a", Some(10L)), (3L, "c", Some(30L))))
    // checkpoint LOSS + another add in the gap: the fresh bootstrap
    // carries no schema_change events — structural adoption widens the
    // replica and reconciles rows
    ds.createTensor("more", StringType)
    ds.update(col("id") === 3L, Map("more" -> lit("z")))
    ds.commit("add in gap")
    sync(tmpDir("gaddck2"))
    val replica2 = GraftDataset.load(spark, dst)
    assert(replica2.schema.fieldNames.toSeq == Seq("id", "v", "extra", "more"),
      s"bootstrap must adopt gap adds: ${replica2.schema.fieldNames.toSeq}")
    assert(replica2.toDF.orderBy("id")
      .as[(Long, String, Option[Long], Option[String])].collect().toSeq ==
      Seq((1L, "a", Some(10L), None), (3L, "c", Some(30L), Some("z"))))
    // gap RENAME + gap ADD whose name collides with the freed one:
    // rename v->w and add a NEW column v — the two-phase adoption plus
    // the placeholder reconciliation must land both
    ds.renameTensor("v", "w")
    ds.createTensor("v", LongType)
    ds.update(col("id") === 1L, Map("v" -> lit(7L)))
    ds.commit("rename + colliding add in gap")
    sync(tmpDir("gaddck3"))
    val replica3 = GraftDataset.load(spark, dst)
    assert(replica3.schema.fieldNames.toSeq == Seq("id", "w", "extra", "more", "v"),
      s"colliding gap add must adopt: ${replica3.schema.fieldNames.toSeq}")
    assert(replica3.toDF.orderBy("id")
      .as[(Long, String, Option[Long], Option[String], Option[Long])]
      .collect().toSeq ==
      Seq((1L, "a", Some(10L), None, Some(7L)),
        (3L, "c", Some(30L), Some("z"), None)))
  }

  test("colliding add reconciles when its freeing rename lands in a LATER batch") {
    // the placeholder-adoption corner SPLIT ACROSS micro-batches: the
    // restart pin already carries an added column named `v`, but the
    // first replayed batch holds only pre-rename row commits — so the
    // replica still owns the OLD `v` and adopts the add under a
    // __add_adopt_ placeholder. The rename that frees the name (v→w)
    // arrives in the NEXT batch (maxCommitsPerTrigger=1 forces the
    // split); reconciliation must be stateless across batches or the
    // placeholder name sticks forever.
    val src = tmpDir("gxbsrc") + "/t"
    val dst = tmpDir("gxbdst") + "/t"
    val ck = tmpDir("gxbck")
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    ds.commit("seed")
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, ck).awaitTermination()
    // while the stream is down: a plain row commit, THEN the rename,
    // THEN the colliding add — three separate commits
    ds.append(Seq((2L, "b")).toDF("id", "v"))
    ds.commit("pre-rename row commit")
    ds.renameTensor("v", "w")
    ds.commit("rename frees the name")
    ds.createTensor("v", LongType)
    ds.update(col("id") === 1L, Map("v" -> lit(7L)))
    ds.commit("re-add v with data")
    graft.streaming.GraftStreaming
      .replicate(spark, src, dst, ck,
        sourceOptions = Map("maxCommitsPerTrigger" -> "1"))
      .awaitTermination()
    val replica = GraftDataset.load(spark, dst)
    assert(replica.schema.fieldNames.toSeq == Seq("id", "w", "v"),
      s"placeholder must reconcile across batches: " +
        s"${replica.schema.fieldNames.toSeq}")
    assert(replica.toDF.orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq ==
      Seq((1L, "a", Some(7L)), (2L, "b", None)))
    assert(GraftDataset.load(spark, dst).snapshotWithUuid()
      .orderBy("id").select("_uuid").as[Long].collect().toSeq ==
      GraftDataset.load(spark, src).snapshotWithUuid()
        .orderBy("id").select("_uuid").as[Long].collect().toSeq,
      "uuid-for-uuid identity across the split evolution")
  }

  test("batch table_changes refuses duplicate pinned names (re-added column)") {
    // add x → pure-rename x→y → add x again inside ONE range would pin
    // two fields named x (adds keep their add-time name); the feed must
    // split the range loudly instead of emitting an ambiguous schema
    val root = tmpDir("gdupadd") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    val from = ds.commit("seed")
    ds.createTensor("x", LongType)
    ds.commit("add x")
    ds.renameTensor("x", "y")
    ds.commit("rename x to y")
    ds.createTensor("x", StringType)
    ds.commit("re-add x")
    val err = intercept[IllegalArgumentException] {
      ds.changes(fromRef = from).count()
    }
    assert(err.getMessage.contains("collides"), err.getMessage)
    // the same holds when the START schema owns the name: rename v→w,
    // then add a new v
    val root2 = tmpDir("gdupadd2") + "/t"
    val ds2 = GraftDataset.create(spark, root2, schema2)
    ds2.append(Seq((1L, "a")).toDF("id", "v"))
    val from2 = ds2.commit("seed")
    ds2.renameTensor("v", "w")
    ds2.commit("rename v to w")
    ds2.createTensor("v", LongType)
    ds2.commit("re-add v")
    val err2 = intercept[IllegalArgumentException] {
      ds2.changes(fromRef = from2).count()
    }
    assert(err2.getMessage.contains("collides"), err2.getMessage)
    // sub-ranges that stay duplicate-free still read fine
    assert(ds2.changes(fromRef = from2, toRef = ds2.log
      .find(_.message == "rename v to w").get.id).count() >= 1)
  }

  test("positional re-pin refuses a delete+create that merely matches shape") {
    // same field count and types, but NOT a rename: column `a` dropped
    // and `c` created while the stream was down. Positional alignment
    // would silently emit a's values as b's and b's as c's — the source
    // must detect the path is not pure renames and fail loudly.
    val root = tmpDir("gshape") + "/t"
    val ds = GraftDataset.create(spark, root, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
    ds.append(Seq((1L, 10L)).toDF("a", "b"))
    ds.commit("seed")
    val ckpt = tmpDir("gshapeckpt")
    val q1 = spark.readStream.format("graft").load(root)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
    q1.processAllAvailable(); q1.stop()
    ds.deleteTensor("a")
    ds.createTensor("c", LongType)
    ds.append(Seq((20L, 200L)).toDF("b", "c"))
    ds.commit("delete+create, same shape")
    // force reconstruction of the OLD bootstrap range against the new
    // pinned head: drop the checkpoint's commit log
    new java.io.File(ckpt, "commits").listFiles().foreach(_.delete())
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(c => c.getMessage != null &&
      c.getMessage.contains("between this batch's range and the " +
        "stream's pinned schema")),
      s"got: $err")
    // DELTA-path variant: only the LAST checkpoint commit is lost, so
    // restart replays a (start, end] range whose end sits BEFORE the
    // new pinned head — the in-range walk sees no schema change (it
    // happened in the gap), so the gap validation must catch it
    val root2 = tmpDir("gshape2") + "/t"
    val ds2 = GraftDataset.create(spark, root2, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
    ds2.append(Seq((1L, 10L)).toDF("a", "b")); ds2.commit("seed")
    val ckpt2 = tmpDir("gshape2ckpt")
    val q3 = spark.readStream.format("graft").load(root2)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt2)
      .start()
    q3.processAllAvailable()
    ds2.append(Seq((2L, 20L)).toDF("a", "b")); ds2.commit("delta")
    q3.processAllAvailable(); q3.stop()
    val commits2 = new java.io.File(ckpt2, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits2.length >= 2, s"need a delta batch, got ${commits2.length}")
    assert(commits2.last.delete())
    ds2.deleteTensor("a")
    ds2.createTensor("c", LongType)
    ds2.append(Seq((30L, 300L)).toDF("b", "c"))
    ds2.commit("delete+create in the gap")
    val q4 = spark.readStream.format("graft").load(root2)
      .writeStream.format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt2)
      .start()
    val err2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
    }
    q4.stop()
    assert(chain(err2).exists(c => c.getMessage != null &&
      c.getMessage.contains("restart the stream with a fresh checkpoint")),
      s"got: $err2")
  }

  test("changeFeed fails loudly on commits that fold history") {
    val root = tmpDir("gcdffold") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    ds.commit("seed")
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream.format("memory").queryName("gcdffold_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gcdffoldckpt"))
      .start()
    q.processAllAvailable()
    // compact over a STAGED append publishes a non-rewrite commit whose
    // files replace the manifest: its base files are rewritten history,
    // not inserts — emitting them would duplicate the table downstream
    ds.append(Seq((2L, "b")).toDF("id", "v"))
    ds.compact()
    ds.commit("folded")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(err.getMessage.contains("folds prior state") ||
      Option(err.getCause).exists(_.getMessage.contains("folds prior state")))
    q.stop()
    // the batch twin refuses identically
    val e2 = intercept[IllegalArgumentException](
      GraftDataset.load(spark, root).changes().count())
    assert(e2.getMessage.contains("folds prior state"))
  }

  test("changeFeed continues across a delta merge; a resurrecting one folds") {
    val root = tmpDir("gcdfmerge") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    ds.commit("seed")
    ds.checkout("dev", create = true)
    ds.append(Seq((10L, "dev-new")).toDF("id", "v")); ds.commit("dev append")
    ds.update(col("id") === 2L, Map("v" -> lit("dev-2"))); ds.commit("dev update")
    ds.pop(col("id") === 3L); ds.commit("dev pop")
    ds.checkout("main")
    ds.update(col("id") === 4L, Map("v" -> lit("main-4"))); ds.commit("main update")
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream.format("memory").queryName("gcdfmerge_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gcdfmergeckpt"))
      .start()
    q.processAllAvailable()
    type Ev = (Option[Long], Option[String], Long, String)
    def snap() = ds.snapshotWithUuid().select("id", "v", "_uuid")
      .as[(Long, String, Long)].collect().map(r => r._3 -> r).toMap
    val (ourId, before) = (ds.head.get, snap())
    val mergeId = ds.merge("dev")
    q.processAllAvailable()
    val after = snap()
    def evs(df: org.apache.spark.sql.DataFrame): Seq[Ev] =
      df.filter(col("_commit_id") === mergeId)
        .select("id", "v", "_uuid", "_change_type")
        .as[(Option[Long], Option[String], Long, String)].collect().toSeq.sorted
    val fed = evs(spark.table("gcdfmerge_out"))
    assert(fed == evs(ds.changes(ourId, mergeId)))
    // the events are exactly the snapshot difference across the merge
    val want = (after.keySet -- before.keySet).toSeq.map { u =>
        (Some(after(u)._1), Some(after(u)._2), u, "insert") } ++
      (before.keySet -- after.keySet).toSeq.map(u =>
        (None, None, u, "delete")) ++
      (after.keySet intersect before.keySet).toSeq
        .filter(u => after(u) != before(u)).map { u =>
          (Some(after(u)._1), Some(after(u)._2), u, "update_postimage") }
    assert(fed == want.sorted)
    assert(fed.map(_._4).sorted == Seq("delete", "insert", "update_postimage"))
    // ours popped 5, the branch kept it: pop = theirs resurrects 5 by
    // rewriting the tombstone entry that holds it — history folded
    ds.checkout("dev2", create = true)
    ds.update(col("id") === 1L, Map("v" -> lit("dev2-1"))); ds.commit("dev2")
    ds.checkout("main")
    ds.pop(col("id") === 5L); ds.commit("pop 5")
    val popId = ds.head.get
    q.processAllAvailable()
    val revived = ds.merge("dev2", Versioning.MergeResolutions(pop = "theirs"))
    assert(ds.toDF.filter(col("id") === 5L).count() == 1)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(err.getMessage.contains("folds prior state") ||
      Option(err.getCause).exists(_.getMessage.contains("folds prior state")))
    q.stop()
    val e2 = intercept[IllegalArgumentException](
      ds.changes(popId, revived).count())
    assert(e2.getMessage.contains("folds prior state"))
  }

  test("changeFeed and ignoreChanges are mutually exclusive") {
    val root = tmpDir("gcdfex") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    ds.commit("seed")
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .option("changeFeed", "true").option("ignoreChanges", "true")
        .load(root)
        .writeStream.format("memory").queryName("gcdfex_out")
        .option("checkpointLocation", tmpDir("gcdfexckpt"))
        .start().processAllAvailable()
    }
    assert(e.getMessage.contains("pick one") ||
      Option(e.getCause).exists(_.getMessage.contains("pick one")))
  }

  test("graft source ignoreChanges=true streams appends across mutations") {
    val root = tmpDir("gsrcig") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    ds.commit("seed")
    val q = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(root)
      .writeStream.format("memory").queryName("gsrcig_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gsrcigckpt"))
      .start()
    q.processAllAvailable()
    // one commit mixing an update (ignored) and an append (streamed)
    ds.update(col("id") === 1L, Map("v" -> lit("A")))
    ds.append(Seq((2L, "b")).toDF("id", "v"))
    ds.commit("mixed")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("gsrcig_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("rewrite commits (compact) are skipped by the tail, not re-emitted") {
    val root = tmpDir("gsrccomp") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("gsrccomp_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gsrccompckpt"))
      .start()
    q.processAllAvailable()
    // maintenance compaction mid-stream: whole manifest rewritten, zero
    // logical row changes — the commit carries rewrite=true and the tail
    // must NOT re-emit rows 1..2 (and needs no ignoreChanges to proceed)
    ds.compact()
    ds.commit("compact")
    ds.append(Seq((3L, "c")).toDF("id", "v"))
    ds.commit("more")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("gsrccomp_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("maxCommitsPerTrigger paces catch-up into multiple micro-batches") {
    val root = tmpDir("gsrcrate") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    for (i <- 1 to 6) {
      ds.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))
      ds.commit(s"c$i")
    }
    val q = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "2").load(root)
      .writeStream.format("memory").queryName("gsrcrate_out")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", tmpDir("gsrcrateckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    // everything arrives exactly once...
    assert(spark.table("gsrcrate_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == (1 to 6).map(i => (i.toLong, s"v$i")))
    // ...but paced: 6 commits at ≤2 per trigger is at least 3 non-empty
    // micro-batches, not one catch-all snapshot
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 paced batches, got $batches")
  }

  test("capped stream restart keeps exactly-once (floor survives in metadataPath)") {
    // without the persisted floor, a restarted rate-limited source caps
    // from the chain's beginning, hands the engine an offset BELOW the
    // checkpoint, and re-emits already-delivered commits
    val src = tmpDir("gratefl-src") + "/t"
    val dst = tmpDir("gratefl-dst") + "/t"
    val ckpt = tmpDir("grateflckpt")
    val ds = GraftDataset.create(spark, src, schema2)
    for (i <- 1 to 6) {
      ds.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))
      ds.commit(s"c$i")
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxCommitsPerTrigger", "2").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(GraftDataset.load(spark, dst).toDF.count() == 6)
    ds.append(Seq((7L, "v7")).toDF("id", "v"))
    ds.commit("c7")
    run()
    assert(GraftDataset.load(spark, dst).toDF.orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      (1 to 7).map(i => (i.toLong, s"v$i")))
  }

  test("Trigger.AvailableNow drains the table and stops (batch-incremental)") {
    val root = tmpDir("gsrcavail") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v")); ds.commit("c1")
    ds.append(Seq((2L, "b")).toDF("id", "v")); ds.commit("c2")
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("gsrcavail_out")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("gsrcavailckpt"))
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-stop")
    assert(spark.table("gsrcavail_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("AvailableNow + maxCommitsPerTrigger drains the WHOLE backlog, paced") {
    // the V1 AvailableNowSourceWrapper would snapshot one capped getOffset
    // at query start and self-stop with backlog remaining; implementing
    // SupportsTriggerAvailableNow pins the drain target at prepare time
    // and keeps advancing ≤cap per batch until it is reached
    val root = tmpDir("gsrcavailcap") + "/t"
    val ds = GraftDataset.create(spark, root, schema2)
    for (i <- 1 to 6) {
      ds.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))
      ds.commit(s"c$i")
    }
    val q = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "2").load(root)
      .writeStream.format("memory").queryName("gsrcavailcap_out")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("gsrcavailcapckpt"))
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-stop")
    assert(spark.table("gsrcavailcap_out").orderBy("id").as[(Long, String)]
      .collect().toSeq == (1 to 6).map(i => (i.toLong, s"v$i")))
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 paced batches, got $batches")
  }

  test("query tokens: 128-bit, distinct checkpoints never share one") {
    val a = GraftStream.queryToken("/ck/one")
    val b = GraftStream.queryToken("/ck/two")
    assert(a != b)
    assert(a.length == 32 && a.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    assert(GraftStream.queryToken("/ck/one") == a) // stable across calls
  }

  test("pre-md5 markers are honored on upgrade (legacy murmur token dual-read)") {
    import spark.implicits._
    // a table whose last marker was written by the OLD 8-hex murmur token:
    // the upgraded sink must still recognize epoch 1 as already-committed
    // (checkpoint recovery replays it) instead of appending duplicates
    val root = tmpDir("glegacy") + "/t"
    val ckpt = "/some/checkpoint/path"
    val legacy = GraftStream.legacyQueryToken(ckpt)
    val ds = GraftDataset.create(spark, root, schema2)
    ds.append(Seq((1L, "a")).toDF("id", "v"))
    ds.commit(GraftStream.marker(legacy, 1L))
    val sink = new GraftSource().createSink(spark.sqlContext,
      Map("path" -> root, "checkpointLocation" -> ckpt), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(1L, Seq((1L, "a")).toDF("id", "v")) // replayed → no-op
    assert(GraftDataset.load(spark, root).toDF.count() == 1)
    sink.addBatch(2L, Seq((2L, "b")).toDF("id", "v")) // new epoch appends
    val after = GraftDataset.load(spark, root)
    assert(after.toDF.count() == 2)
    // the new marker is written in md5 form
    assert(after.log.exists(_.message.contains(GraftStream.queryToken(ckpt))))
  }

  test("sink without an explicit checkpointLocation option fails loudly") {
    // the session-conf checkpoint default never reaches the sink's
    // parameters — a silent fallback would hand two queries one identity
    val err = intercept[IllegalArgumentException] {
      new GraftSource().createSink(spark.sqlContext,
        Map("path" -> (tmpDir("gsinknockpt") + "/t")), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(err.getMessage.contains("checkpointLocation"))
  }

  test("restart from checkpoint resumes the tail without duplicates") {
    val src = tmpDir("grestart-src") + "/t"
    val dst = tmpDir("grestart-dst") + "/t"
    val ckpt = tmpDir("grestartckpt")
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(GraftDataset.load(spark, dst).toDF.count() == 2)
    // new data lands while no stream is running; the restarted query
    // recovers its last offset from the checkpoint (the SerializedOffset
    // code path) and must emit ONLY the new commit
    ds.append(Seq((3L, "c")).toDF("id", "v"))
    ds.commit("while down")
    run()
    assert(GraftDataset.load(spark, dst).toDF.orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("table-to-table replication: graft source into graft sink") {
    val src = tmpDir("grepl-src") + "/t"
    val dst = tmpDir("grepl-dst") + "/t"
    val ds = GraftDataset.create(spark, src, schema2)
    ds.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ds.commit("seed")
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", dst)
      .option("checkpointLocation", tmpDir("greplckpt"))
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    q.processAllAvailable()
    ds.append(Seq((3L, "c")).toDF("id", "v"))
    ds.commit("more")
    q.processAllAvailable()
    q.stop()
    val out = GraftDataset.load(spark, dst)
    assert(out.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the replica is itself a versioned table: each upstream commit-range
    // landed as one commit
    assert(out.log.count(_.message.startsWith("stream[")) >= 2)
  }
}
