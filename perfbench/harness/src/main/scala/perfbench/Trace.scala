package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Raw Spark accounting for the traced run. Each span runs under its own job
  * group; the listener files every job under the group it was submitted with
  * and every task under its stage's job. It keeps task launch/finish times so
  * that idle time (span wall not covered by any running task) is computed
  * from measured intervals. The arithmetic lives in `perfbench/metrics.py`. */
final class SpanListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobTime = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[(Int, String)]()
  private val started = new java.util.concurrent.atomic.AtomicInteger()
  private val ended = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobGroup.put(e.jobId, g.getOrElse(""))
    jobTime.put(e.jobId, e.time)
    started.incrementAndGet()
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
      tasks.add(job -> Json.arr(Seq(
        Json.num(info.launchTime), Json.num(info.finishTime),
        Json.num(m.executorCpuTime / 1e9), Json.num(m.executorRunTime / 1e3),
        Json.num(m.jvmGCTime / 1e3),
        Json.num(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
        Json.num(m.memoryBytesSpilled + m.diskBytesSpilled))))
    }
  }

  def reset(): Unit = {
    jobGroup.clear(); jobTime.clear(); stageJob.clear(); tasks.clear(); started.set(0); ended.set(0)
  }

  /** Events reach listeners asynchronously, a job's task ends before its job
    * end: once every started job has ended, the record is complete. */
  def awaitJobsEnded(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** {"jobs": [[jobId, group, submit_ms]...], "tasks": [[jobId, [launch_ms, finish_ms,
    * cpu_s, run_s, gc_s, shuffle_bytes, spill_bytes]]...]}; a task whose
    * stage was never seen in a job start carries job -1. */
  def toJson: String = Json.obj(
    "jobs" -> Json.arr(jobGroup.asScala.toSeq.sortBy(_._1)
      .map { case (j, g) => Json.arr(Seq(Json.num(j.toLong), Json.str(g),
        Json.num(jobTime.getOrDefault(j, 0L)))) }),
    "tasks" -> Json.arr(tasks.asScala.toSeq
      .map { case (j, t) => Json.arr(Seq(Json.num(j.toLong), t)) }))
}

/** Minimal JSON writer: the harness only emits numbers, strings, arrays and
  * objects. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
