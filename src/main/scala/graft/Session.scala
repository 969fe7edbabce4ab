package graft

import org.apache.spark.sql.SparkSession

/** The program's one session factory and its one between-runs reset.
  *
  * Bench, Verify, every dev tool and the test suites build their
  * session through [[local]], so a number a tool prints describes the
  * plan Bench times, and a static setting (one that only takes effect
  * when the session is first built) has exactly one place to live.
  */
object Session {

  /** Task slots for a main: `SPARK_GRAFT_CPUS`, else the processor count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // Split small parquet files across the cores: the default
      // openCostInBytes (4 MB) clamps every bench-SF table (0.3-11 MB
      // single files) to ONE scan partition, so CPU-dense map queries
      // (codec sign/verify over 100k events, media decode) ran
      // single-task, and a terminal sort's sample pass re-executed that
      // task. At real scale files dwarf maxPartitionBytes and these two
      // settings are inert. No new exchanges; byte metrics unchanged.
      .config("spark.sql.files.openCostInBytes", 16384)
      .config("spark.sql.files.minPartitionNum", cores)
      // Run the writer the at-scale plan uses: under the 200-reducer
      // default Spark picks BypassMergeSortShuffleWriter, which opens
      // one file PER (map task × reduce partition) — the dominant cost
      // of small local shuffles (q98 3.9 s → 2.4 s from this alone).
      // Byte-derived production widths sit far above 200 partitions,
      // where the sort-based writer runs anyway. Plans unchanged.
      .config("spark.shuffle.sort.bypassMergeThreshold", 1)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Return the session to a cold-cache state between measured or
    * compared units of work. The registry goes FIRST, so its still-live
    * frames are counted (clearCache would zero their storage levels and
    * the count with them); then the CacheManager drops every other
    * cached relation; then the q104/q105 training and q62 label memos,
    * which hold localCheckpointed RDDs the CacheManager cannot see; the
    * GC lets the ContextCleaner reclaim the evicted blocks now instead
    * of inside the next measurement. Returns the frames released. */
  def isolate(spark: SparkSession): Int = {
    val released = CacheRegistry.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    graft.queries.TextOps.clearTrainMemo()
    System.gc()
    released
  }
}
