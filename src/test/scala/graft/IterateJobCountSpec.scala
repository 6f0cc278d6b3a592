package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graphs

/** Pins the iterate loops' job budget: each pass truncates lineage and
  * computes its stop summary in ONE Spark job, so per-job scheduling cost
  * (the dominant cost of short iterative jobs) grows with the pass count
  * and nothing else. The ceilings are the counts measured on the IterateSpec
  * graphs before the loops were merged into one; a loop that starts paying
  * a second job per pass (a separate copy job, an extra emptiness probe)
  * pushes its count over the ceiling.
  */
class IterateJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Jobs submitted under this suite's job group while `f` runs and its
    * result is collected. Listener events arrive asynchronously but in
    * order, so a marker job in its own group flushes the count. */
  private def jobsOf(f: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart): String =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e) match {
        case `group` => counted.incrementAndGet()
        case `marker` => markerJobs.add(e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "iterate job count")
      try f.collect() finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  private lazy val ccEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
  private lazy val cliques = {
    val clique1 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val clique2 = for (i <- 11L to 15L; j <- (i + 1) to 15L) yield (i, j)
    (clique1 ++ clique2 :+ (5L, 11L)).toDF("src", "dst")
  }
  private lazy val twoCycle = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")

  test("connectedComponents (fingerprint loop) runs no more jobs than before the loop merge") {
    val n = jobsOf(Graphs.connectedComponents(ccEdges))
    info(s"connectedComponents: $n jobs")
    assert(n > 0 && n <= 20, s"connectedComponents ran $n jobs, ceiling 20")
  }

  test("louvain(iters = 4) (moved-counter loop) runs no more jobs than before the loop merge") {
    val n = jobsOf(Graphs.louvain(cliques, iters = 4))
    info(s"louvain: $n jobs")
    assert(n > 0 && n <= 36, s"louvain ran $n jobs, ceiling 36")
  }

  test("pagerank(iters = 3) (fixed-pass loop) runs no more jobs than before the loop merge") {
    val n = jobsOf(Graphs.pagerank(twoCycle, iters = 3))
    info(s"pagerank: $n jobs")
    assert(n > 0 && n <= 33, s"pagerank ran $n jobs, ceiling 33")
  }
}
