package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark job counting for the job-budget specs: per-job scheduling is the
  * dominant cost of short jobs, so an operator's job count is the
  * deterministic figure that pins its plan shape. */
object JobCount {

  /** Jobs submitted while `f` is built and its result collected. The count
    * is scoped to a fresh job group; listener events arrive asynchronously
    * but in order, so a marker job in its own group flushes the count. */
  def jobsOf(spark: SparkSession)(f: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger()
    val markerDone = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart): String =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
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
      sc.setJobGroup(group, "job count")
      try f.collect() finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}
