package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Pins `Dedup.minhashLsh`'s job budget. Every intermediate of the
  * verification stage has one consumer, so one plan serves every corpus
  * size: the count must not depend on the corpus, and must stay at or
  * below the 25 jobs that the persist+count-fenced plan it replaced ran
  * on the 2,134-doc corpus (that plan's lazy twin ran 37 on the 34-doc
  * one). */
class DedupJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def minhashJobs(docs: => org.apache.spark.sql.DataFrame): Int =
    JobCount.jobsOf(spark)(Dedup.minhashLsh(docs, col("doc_id"), col("text")))

  test("minhashLsh runs one job budget on a 34-doc and a 2,134-doc corpus") {
    val small = minhashJobs(MinhashCorpus.small(spark))
    val big = minhashJobs(MinhashCorpus.big(spark))
    info(s"minhashLsh jobs: 34 docs $small, 2,134 docs $big")
    assert(small > 0 && small <= 25, s"34 docs ran $small jobs, ceiling 25")
    assert(big > 0 && big <= 25, s"2,134 docs ran $big jobs, ceiling 25")
    assert(small == big, s"job count depends on corpus size: $small vs $big")
  }
}
