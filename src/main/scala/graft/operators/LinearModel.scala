package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trainable linear document classifier — the "quality classifier" stage of
  * GPT-3/LLaMA-style curation (train a cheap linear model on labeled docs,
  * score the whole corpus), engine-native. The reference ships kNN
  * classification (stdlib/ml/classifiers); this adds the TRAINED-model path
  * with the same distributed discipline.
  *
  * Everything is integer arithmetic end to end — hashed signed bag-of-words
  * features (CrossHash md5 family, the oracle-replayable hash), batch
  * perceptron updates with unit learning rate — so training is bit-exact
  * reproducible across engines, partitionings and reruns (integer sums are
  * order-independent; no sigmoid/exp whose libm rounding could diverge).
  *
  * Scale shape: one feature-extraction pass over the corpus (mapPartitions,
  * no shuffle); each training pass is ONE filter + ONE dim-bounded
  * aggregation (misclassification gradient, collected at `dim` rows — the
  * bounded-collect contract); classification is a broadcast-literal dot
  * product, no shuffle. Passes are O(iters) small jobs, like Lloyd. */
object LinearModel {

  /** Hashed signed bag-of-words: x[h mod dim] += sign(h) per lowercase
    * whitespace token (FakeEmbedder's map, Long-exact). */
  def hashedFeatures(df: DataFrame, id: Column, text: Column,
      dim: Int): DataFrame = {
    val in = df.select(id.cast("long").as("id"), text.cast("string").as("_t"))
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", ArrayType(LongType, containsNull = false))))
    in.mapPartitions { it =>
      it.map { r =>
        val x = new Array[Long](dim)
        val t = Option(r.getString(1)).getOrElse("")
        // Locale.ROOT: bit-identical to SQL lower() on any host locale
        t.toLowerCase(java.util.Locale.ROOT).split("\\s+").withFilter(_.nonEmpty).foreach { tok =>
          val h = graft.functions.CrossHash.md5LongJvm(tok)
          x(math.floorMod(h, dim).toInt) += (if (h < 0) -1L else 1L)
        }
        Row(r.getLong(0), x.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Unrolled-terms threshold: below it the w·x dot product unrolls to
    * `dim` codegen'd expression terms (fastest at the hashed-feature dims
    * this classifier ships with); above it the unroll would blow past the
    * JVM's 64 KB method limit and break whole-stage codegen, so the dot
    * becomes a single `aggregate(zip_with(...))` array fold — also
    * codegen'd, Long-exact, and identical in value (integer sums are
    * order-independent), just with per-element loop overhead. Real
    * fastText-style classifiers at dim 2^20 run the fold form. */
  private val UnrollDimLimit = 256

  /** w·x + b as a Column over `x` (array<long>), Long-exact in both forms. */
  private[graft] def dotExpr(w: Array[Long], b: Long, x: Column): Column = {
    val wLit = typedLit(w)
    val dot =
      if (w.length <= UnrollDimLimit)
        (0 until w.length).map(i => element_at(wLit, i + 1) * x(i))
          .reduceLeft(_ + _)
      else
        aggregate(zip_with(wLit, x, (wi, xi) => wi * xi),
          lit(0L), (acc, v) => acc + v)
    dot + lit(b)
  }

  /** Batch perceptron: `iters` full-batch passes over (x, y ∈ {−1,+1}).
    * Pass p: every row with y·(w·x + b) ≤ 0 contributes (y·x, y) to the
    * (weight, bias) gradient; w += Σ, b += Σ. Deterministic by integer
    * exactness; misclassified set is recomputed against the UPDATED weights
    * each pass (textbook batch variant). */
  def perceptronTrain(feat: DataFrame, xCol: Column, yCol: Column,
      dim: Int, iters: Int): (Array[Long], Long) = {
    val f = feat.select(xCol.as("x"), yCol.cast("long").as("y"))
    var w = Array.fill(dim)(0L)
    var b = 0L
    for (_ <- 0 until iters) {
      val dot = dotExpr(w, b, col("x"))
      val mis = f.filter(col("y") * dot <= 0)
      val grad = mis.select(posexplode(col("x")).as(Seq("i", "xi")), col("y"))
        .groupBy("i").agg(sum(col("y") * col("xi")).as("g"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val gb = mis.agg(coalesce(sum("y"), lit(0L))).head.getLong(0)
      w = Array.tabulate(dim)(i => w(i) + grad.getOrElse(i, 0L))
      b += gb
    }
    (w, b)
  }

  /** Classify with a trained (w, b): score = w·x + b (Long-exact),
    * predicted = +1 iff score > 0 (ties → −1, pinned). */
  def classify(feat: DataFrame, xCol: Column, w: Array[Long], b: Long): Column =
    dotExpr(w, b, xCol)

  /** End-to-end: features → train on the labeled frame → score every row.
    * Returns (id, y, score, predicted, correct). */
  def perceptronClassify(df: DataFrame, id: Column, text: Column,
      label: Column, dim: Int = 32, iters: Int = 3): DataFrame = {
    // read by every training pass AND by the returned scores: checkpointed
    // once, so the caller's action does not re-run the features + label join
    val feat = Materialize.eager(hashedFeatures(df, id, text, dim)
      .join(df.select(id.cast("long").as("id"), label.cast("long").as("y")), "id"))
    val (w, b) = perceptronTrain(feat, col("x"), col("y"), dim, iters)
    val score = classify(feat, col("x"), w, b)
    feat.select(col("id"), col("y"),
        score.as("score"),
        when(score > 0, 1L).otherwise(-1L).as("predicted"))
      .withColumn("correct", col("predicted") === col("y"))
  }
}
