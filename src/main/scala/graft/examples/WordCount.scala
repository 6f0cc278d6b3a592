package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Connectors
import graft.streaming.StreamOps

/** Streaming wordcount — the reference's flagship integration benchmark
  * (integration_tests/wordcount): watch a directory of text files, maintain
  * a live count per word, upsert into a keyed sink.
  *
  * Run: `sbt "runMain graft.examples.WordCount <inDir> <checkpointDir>"`.
  * The same transform works batch (`Connectors.plaintext(spark, dir)`) and
  * streaming — Pathway's unified model on Spark.
  */
object WordCount {

  /** The (mode-agnostic) dataflow: lines → words → counts. */
  def counts(lines: DataFrame): DataFrame =
    lines.select(explode(split(lower(col("data")), "\\W+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))

  def main(args: Array[String]): Unit = {
    val Array(inDir, checkpointDir) = args
    val spark = GraftSession.builder(GraftSession.cores)
      .config("spark.sql.streaming.checkpointLocation", checkpointDir)
      .getOrCreate()
    val lines = Connectors.plaintext(spark, inDir, mode = Connectors.Streaming)
    val query = counts(lines)
      .writeStream.outputMode("complete")
      .format("console")
      .start()
    query.awaitTermination()
  }
}
