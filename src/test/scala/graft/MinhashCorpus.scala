package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two minhash corpora that differ only in size: `small` (34 docs) holds 6
  * planted near-dup families of 4 (a shared random base plus a short
  * per-member tail, jaccard ~0.9) and 10 unrelated singletons; `big` (2,134
  * docs) adds 2,100 filler docs whose tokens are all unique (hex digests of
  * distinct ids), so its true pairs are `small`'s. */
object MinhashCorpus {
  private val rnd = new scala.util.Random(21)
  private def words(n: Int) =
    Seq.fill(n)(rnd.alphanumeric.take(6).mkString.toLowerCase).mkString(" ")

  val families: Seq[(Long, String)] = (0 until 6).flatMap { f =>
    val base = words(14)
    (0 until 4).map(m => (100L * f + m, s"$base ${words(1)}"))
  }
  val singletons: Seq[(Long, String)] = (0 until 10).map(i => (1000L + i, words(14)))

  /** Every doc of `small` with the rep minhashLsh must give it: a family
    * member resolves to its family's smallest id, a singleton to itself. */
  val expected: Set[(Long, Long, Boolean)] = (families ++ singletons).map { case (id, _) =>
    val rep = if (id < 1000L) id - id % 100 else id
    (id, rep, rep != id)
  }.toSet

  def small(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (families ++ singletons).toDF("doc_id", "text")
  }

  def big(spark: SparkSession): DataFrame =
    small(spark).unionByName(spark.range(2100).select((col("id") + 1000000L).as("doc_id"),
      concat_ws(" ", sha2(col("id").cast("string"), 256), md5(col("id").cast("string")))
        .as("text")))
}
