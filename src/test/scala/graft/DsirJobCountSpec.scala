package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TrainPrep

/** Pins DSIR's job budget. `TrainPrep.hashedNgramCounts` counts grams in a
  * per-doc kernel, so neither corpus pays an (id, bucket) shuffle stage
  * before its bucket totals or its scoring join. On this corpus each call
  * runs 11 jobs; the explode + groupBy form it replaced ran 17. */
class DsirJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val raw = (0L until 40L).map { i =>
    if (i % 2 == 0) (i, s"quantum physics experiment $i measures particle energy states")
    else (i, s"recipe $i simmer the onion butter sauce until golden")
  }.toDF("doc_id", "text")
  private lazy val target = raw.filter(col("doc_id") % 2 === 0).limit(8)

  test("dsirWeights and dsirSelect run within their job budget") {
    val weights = JobCount.jobsOf(spark)(
      TrainPrep.dsirWeights(raw, target, col("doc_id"), col("text"), 512))
    val select = JobCount.jobsOf(spark)(
      TrainPrep.dsirSelect(raw, target, col("doc_id"), col("text"), 512, k = 10))
    info(s"jobs: dsirWeights $weights, dsirSelect $select")
    assert(weights > 0 && weights <= 11, s"dsirWeights ran $weights jobs, ceiling 11")
    assert(select > 0 && select <= 11, s"dsirSelect ran $select jobs, ceiling 11")
  }
}
