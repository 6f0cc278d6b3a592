package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LinearModel

/** Batch perceptron on hashed bag-of-words: convergence on separable data,
  * determinism, integer exactness. */
class LinearModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // linearly separable by construction: positive docs repeat 'good',
  // negative docs repeat 'bad' (disjoint hashed features)
  private def separable = (0 until 40).map { i =>
    if (i % 2 == 0) (i.toLong, "good solid prose " + ("good " * (i % 5 + 1)).trim, 1L)
    else (i.toLong, "bad noisy junk " + ("bad " * (i % 5 + 1)).trim, -1L)
  }.toDF("id", "text", "y")

  test("perceptron reaches 100% training accuracy on separable data") {
    val out = LinearModel.perceptronClassify(separable, col("id"), col("text"),
      col("y"), dim = 16, iters = 5)
    val acc = out.filter(col("correct")).count().toDouble / out.count()
    assert(acc == 1.0, s"expected convergence, got $acc")
  }

  test("perceptronClassify's result reads its feature checkpoint, not the features") {
    val out = LinearModel.perceptronClassify(separable, col("id"), col("text"),
      col("y"), dim = 16, iters = 2)
    // the hashedFeatures kernel is a MapPartitions node; the label join
    // would show as a join node
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("Join"),
      s"the caller's action re-runs the feature plan:\n$plan")
  }

  test("training is deterministic and partition-invariant") {
    def run(parts: Int) = {
      val feat = LinearModel.hashedFeatures(separable.repartition(parts),
        col("id"), col("text"), 16)
        .join(separable.select(col("id"), col("y")), "id")
      LinearModel.perceptronTrain(feat, col("x"), col("y"), dim = 16, iters = 3)
    }
    val (w2, b2) = run(2)
    val (w7, b7) = run(7)
    assert(w2.toSeq == w7.toSeq && b2 == b7)
  }

  test("hashedFeatures: signed counts, empty-safe") {
    val df = Seq((1L, "a a b"), (2L, ""), (3L, "   ")).toDF("id", "t")
    val rows = LinearModel.hashedFeatures(df, col("id"), col("t"), 8)
      .orderBy("id").collect()
    val x1 = rows(0).getSeq[Long](1)
    assert(x1.map(math.abs).sum >= 1) // tokens landed somewhere
    assert(rows(1).getSeq[Long](1).forall(_ == 0L))
    assert(rows(2).getSeq[Long](1).forall(_ == 0L))
    // 'a' appears twice -> its slot has magnitude 2 (same sign accumulates)
    assert(x1.exists(v => math.abs(v) == 2L))
  }

  test("large-dim fold form: dim 4096 trains, converges and matches a driver-side dot") {
    // above UnrollDimLimit the dot is an aggregate(zip_with) array fold —
    // whole-stage-codegen-safe where a 4096-term unroll would blow the
    // 64 KB method limit. Values must be identical (Long-exact either way).
    val dim = 4096
    val out = LinearModel.perceptronClassify(separable, col("id"), col("text"),
      col("y"), dim = dim, iters = 5)
    val acc = out.filter(col("correct")).count().toDouble / out.count()
    assert(acc == 1.0, s"expected convergence at dim=$dim, got $acc")
    // replay the final score on the driver from the features and the
    // trained weights: the fold expression must agree term-for-term
    val feat = LinearModel.hashedFeatures(separable, col("id"), col("text"), dim)
      .join(separable.select(col("id"), col("y")), "id").persist()
    try {
      feat.count()
      val (w, b) = LinearModel.perceptronTrain(feat, col("x"), col("y"), dim, 5)
      val viaExpr = feat.select(col("id"),
          LinearModel.classify(feat, col("x"), w, b).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaDriver = feat.select(col("id"), col("x")).collect().map { r =>
        val x = r.getSeq[Long](1)
        r.getLong(0) -> ((0 until dim).map(i => w(i) * x(i)).sum + b)
      }.toMap
      assert(viaExpr == viaDriver)
    } finally feat.unpersist(false)
  }
}
