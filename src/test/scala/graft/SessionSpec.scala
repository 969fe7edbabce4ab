package graft

class SessionSpec extends SparkSuite {

  test("local(cores) holds Bench's settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.files.openCostInBytes") == "16384")
    assert(conf.get("spark.sql.files.minPartitionNum") == "4")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("isolate empties the registry and the CacheManager and returns the live frames released") {
    Session.isolate(spark) // start from nothing other suites left behind
    val live = Seq(100L, 200L).map { n =>
      val df = CacheRegistry.trackPersist(spark.range(n).toDF())
      df.count()
      df
    }
    // tracked but already unpersisted: not live, so not counted
    CacheRegistry.trackPersist(spark.range(300).toDF()).unpersist(blocking = true)
    // cached outside the registry: isolate must drop it too
    spark.range(400).toDF().cache().count()
    assert(CacheRegistry.trackedCount == 3)
    assert(CacheRegistry.lingeringCount == live.size)

    val released = Session.isolate(spark)
    assert(released == live.size)
    assert(CacheRegistry.trackedCount == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
