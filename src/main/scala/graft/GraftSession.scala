package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}

/** The one Spark session configuration every graft main and the test base
  * build from — the conf set the oracle board is proven under — plus the
  * env readers and the per-query watchdog the mains share. Callers add only
  * their own extra confs on top of [[builder]].
  */
object GraftSession {
  /** Local session on `cores` threads with one shuffle partition per core.
    * UTC session time zone; AQE on; non-ANSI arithmetic (CrossHash relies on
    * Long wrap-around); naive parquet timestamps stay TIMESTAMP_NTZ (parity
    * with DuckDB's naive TIMESTAMP); parquet TIMESTAMP(NANOS) reads as Long
    * nanoseconds (Spark has no nanosecond timestamps). */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local cores for a main: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `SPARK_GRAFT_ONLY=a,b` names the subset of queries/scenarios to run;
    * None runs the main's default set. */
  lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** Runs `body` on a daemon thread under Spark job group `group` and waits
    * at most `timeoutS` seconds, so a hung query costs one entry, not the
    * whole run. On timeout the group's jobs are cancelled and the
    * TimeoutException is rethrown; a failure inside `body` surfaces as an
    * ExecutionException carrying it as the cause ([[failureCause]] unwraps
    * it). */
  def watchdog(spark: SparkSession, group: String, description: String, timeoutS: Long)(
      body: => Unit): Unit = {
    val task = new FutureTask[Unit](() => {
      spark.sparkContext.setJobGroup(group, description, interruptOnCancel = true)
      body
    })
    val t = new Thread(task, group); t.setDaemon(true); t.start()
    try task.get(timeoutS, TimeUnit.SECONDS)
    catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        throw e
    }
  }

  /** What to report for a failure caught around [[watchdog]]: the wrapped
    * cause, or the exception itself when nothing wraps it (a failure
    * outside the watchdog). */
  def failureCause(e: Throwable): Throwable = Option(e.getCause).getOrElse(e)
}
