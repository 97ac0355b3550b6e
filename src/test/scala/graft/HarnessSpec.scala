package graft

import org.apache.spark.storage.StorageLevel

/** The one session builder and the one reaper every entry point uses.
  * `reap` acts on the shared session, so each test creates and checks
  * only state of its own.
  */
class HarnessSpec extends SparkSpec {

  test("session carries every required conf, UTC and one shuffle partition per core") {
    Tables.requiredConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("reap runs cleanups, drops views, uncaches frames and unpersists RDDs") {
    var cleaned = false
    QueryCleanup.register(_ => cleaned = true)
    val view = "harness_spec_view"
    spark.range(3).createOrReplaceTempView(view)
    QueryCleanup.registerTempView(view)
    val cached = spark.range(5).toDF("harness_spec_id").cache()
    cached.count()
    val rdd = spark.sparkContext.parallelize(1 to 5).persist()
    rdd.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))

    Harness.reap(spark)

    assert(cleaned)
    assert(!spark.catalog.tableExists(view))
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
