package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Every query runs under a watchdog (default 150 s, SPARK_GRAFT_QUERY_TIMEOUT_S):
  * in round 1 a single hung query stalled the whole Verify run past the driver's
  * timeout and zeroed the round's correctness. A timed-out query now cancels its
  * Spark job group and the loop moves on, so one bad operator costs one query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "150").toLong
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev filter: SPARK_GRAFT_ONLY=q1,q2 dumps (and lists oracle SQL for) a subset
    val selected = SparkEntry.queries.filter(kv => GraftSession.only.forall(_(kv._1)))
    selected.foreach { case (name, fn) =>
      try GraftSession.watchdog(spark, s"verify-$name", name, timeoutS) {
        fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch {
        case _: TimeoutException =>
          System.err.println(s"[verify] $name TIMEOUT after ${timeoutS}s")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${GraftSession.failureCause(e)}")
      }
      spark.catalog.clearCache() // per-query persisted intermediates
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
      .filter(kv => GraftSession.only.forall(_(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // daemon worker threads may still hold a cancelled-but-stuck task; make exit unconditional
    sys.exit(0)
  }
}
