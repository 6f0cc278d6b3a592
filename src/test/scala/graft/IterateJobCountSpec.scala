package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graphs

/** Pins the iterate loops' job budget: each pass truncates lineage and
  * computes its stop summary in ONE Spark job, so per-job scheduling cost
  * (the dominant cost of short iterative jobs) grows with the pass count
  * and nothing else. The ceilings are the counts measured on the IterateSpec
  * graphs before the loops were merged into one; a loop that starts paying
  * a second job per pass (a separate copy job, an extra emptiness probe)
  * pushes its count over the ceiling. labelPropagation's ceiling is its
  * count with the loop-invariant edge list cached (28 jobs uncached).
  */
class IterateJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def jobsOf(f: => DataFrame): Int = JobCount.jobsOf(spark)(f)

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

  test("labelPropagation(iters = 5) reads its cached edge list on every pass") {
    val n = jobsOf(Graphs.labelPropagation(cliques, iters = 5))
    info(s"labelPropagation: $n jobs")
    assert(n > 0 && n <= 25, s"labelPropagation ran $n jobs, ceiling 25")
  }
}
