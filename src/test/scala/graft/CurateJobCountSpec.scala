package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.examples.TrainDataPipeline

/** Pins the job budget of the composed curation pipeline. `curate`
  * checkpoints its exact-deduped corpus once, the one frame several of its
  * actions read, and removes near-dups and contaminated docs with
  * anti-joins; `selectAndCurate` hands it the sampled corpus unfenced. On
  * this corpus that is 25 jobs for `curate` and 43 for `selectAndCurate`;
  * the join-back composition it replaced, with its fence on the sampled
  * corpus, ran 32 and 51. */
class CurateJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // two English-shaped domains across two sources, an exact clone and a
  // near-dup of doc 0, and one doc sharing an 8-token window with the eval set
  private lazy val docs = ((0L until 12L).flatMap { i =>
    Seq((i * 2, s"the physics experiment number $i measures the energy of the " +
        "particle states and it is recorded in the journal of the lab"),
      (i * 2 + 1, s"the recipe number $i simmers the onion in the butter sauce " +
        "until it is golden and then you serve it to the guests at the table"))
  } ++ Seq(
    (100L, "the physics experiment number 0 measures the energy of the " +
      "particle states and it is recorded in the journal of the lab"),
    (101L, "the physics experiment number 0 measures the energy of the " +
      "particle states and it is recorded in the journal of the lab today"),
    (102L, "a ship that sails across the sea with a crew of twenty and a cat " +
      "that they all feed daily"))).toDF("doc_id", "text")
  private lazy val evalSet = Seq((900L, "a ship that sails across the sea with a crew"))
    .toDF("eval_id", "eval_text")

  test("curate and selectAndCurate run within their job budget") {
    val curate = JobCount.jobsOf(spark)(TrainDataPipeline.curate(docs, evalSet, budget = 64))
    val select = JobCount.jobsOf(spark)(TrainDataPipeline.selectAndCurate(docs, evalSet,
      target = docs.filter(col("doc_id") % 2 === 0).limit(6), source = col("doc_id") % 2,
      mix = Seq((0L, 0.6), (1L, 0.4)).toDF("src", "w"), tokenBudget = 0.0,
      dsirBuckets = 64, dsirTopK = Some(20), strictMix = true))
    info(s"jobs: curate $curate, selectAndCurate $select")
    assert(curate > 0 && curate <= 25, s"curate ran $curate jobs, ceiling 25")
    assert(select > 0 && select <= 43,
      s"selectAndCurate ran $select jobs, ceiling 43")
  }
}
