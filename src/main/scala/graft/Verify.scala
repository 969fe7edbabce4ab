package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.cores)
    // schema-drift tripwire: fail loudly with ONE labeled message if the
    // driver regenerated testdata under types the queries don't expect
    Tables.validate(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // outDir is reused across invocations: a query that fails BEFORE its
    // write reaches the overwrite-delete (analysis/planning errors) must
    // not leave the previous run's parquet behind — the driver would
    // hash-compare the stale artifact as this run's result. Delete each
    // target up front so a failed query yields a MISSING output (a
    // labeled per-query failure downstream), never a stale one.
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        val st = Files.walk(p)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
        finally st.close()
      }
    SparkEntry.queries.foreach { case (name, fn) =>
      // isolation: drop the previous query's cached relations, helper
      // persists and training/label memos, so 100+ queries never
      // accumulate cached blocks or cross-feed each other's caches and
      // each correctness dump computes in genuine isolation
      Session.isolate(spark)
      rmTree(Paths.get(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // class name too: an NPE's getMessage is null — "failed: null"
        // diagnoses nothing
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
