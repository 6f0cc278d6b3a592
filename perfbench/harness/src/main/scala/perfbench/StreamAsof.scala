package perfbench

import java.io.{BufferedWriter, FileWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{AsofEvent, AsofJoinState}

/** Open-loop keyed two-sided event stream into the backward stream-stream
  * asof kernel. Spark's rate source stamps each row with its due time on a
  * wall-clock schedule; row `p` is a left event when even, a right event
  * when odd, and the pair (2m, 2m+1) shares the key of m. Event time is a
  * pure function of `p` (`t0 + p * 1000 / rate` ms) and so is the key, so
  * the offered rows can be regenerated exactly by the DuckDB check. */
object StreamAsof {
  /** Run time after the first micro-batch that is not measured: the JIT is
    * still compiling the kernel and batches are slower than in steady state. */
  val WarmupMs = 2000L

  /** Key of pair m: a seeded share of pairs goes to hot key 0, the rest
    * spread over keys 1..keys-1 by a seeded multiplicative hash. The same
    * arithmetic is repeated in `perfbench/oracle.py`. */
  def keyOf(m: org.apache.spark.sql.Column, seed: Long, hotPermille: Long,
      keys: Long): org.apache.spark.sql.Column =
    when(pmod(m * 2654435761L + lit(seed * 97L), lit(1000L)) < hotPermille, lit(0L))
      .otherwise(lit(1L) + pmod(m * 40503L + lit(seed * 7919L), lit(keys - 1)))

  /** Runs the query for `seconds` after the warm-up; returns the time its
    * first micro-batch completed (epoch ms) and the raw record as JSON. */
  def run(spark: SparkSession, out: String, seconds: Double, traced: Boolean,
      cpus: Int, rate: Int, hotPermille: Long, seed: Long, keys: Long,
      watermarkMs: Long): (Long, String) = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val events = spark.readStream.format("rate").option("rowsPerSecond", rate)
      .option("numPartitions", cpus).load()
      .select(col("value").as("p"), col("timestamp").as("due"))
      .select(col("p"), (col("p") % 2 === 0).as("is_left"),
        keyOf(floor(col("p") / 2).cast("long"), seed, hotPermille, keys).as("k"),
        timestamp_millis(lit(t0) + floor(col("p") * 1000L / rate).cast("long")).as("t"),
        unix_millis(col("due")).as("due_ms"))
      .withWatermark("t", s"$watermarkMs milliseconds")
      .as[(Long, Boolean, Long, java.sql.Timestamp, Long)]
    val joined = events.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(Long, Boolean, Long, java.sql.Timestamp, Long)],
         st: GroupState[AsofJoinState[(Long, Long), Long]]) =>
          StreamOps.asofJoinKernel[Long, (Long, Long), Long](k, it.map { r =>
            AsofEvent[(Long, Long), Long](r._2, r._4.getTime,
              if (r._2) Some((r._1, r._5)) else None, if (r._2) None else Some(r._1))
          }, st)
      }.map { case (k, lt, (lp, due), rp) => (k, lt, lp, due, rp.getOrElse(-1L)) }
      .toDF("k", "lt", "lp", "due_ms", "rp")
    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("").toAbsolutePath, "ckpt").toString
    // result rows go to a file as each batch emits them, not to the heap
    val w = new BufferedWriter(new FileWriter(s"$out/stream_rows.csv"))
    w.write("k,lt,lp,due_ms,rp,emit_ms\n")
    val startMs = System.currentTimeMillis()
    val q = joined.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val got = b.collect()
        val now = System.currentTimeMillis()
        got.foreach(r => w.write(s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}," +
          s"${r.getLong(3)},${r.getLong(4)},$now\n"))
      }
      .option("checkpointLocation", ckpt).start()
    while (q.lastProgress == null && q.isActive) Thread.sleep(5)
    val firstBatchMs = System.currentTimeMillis()
    Thread.sleep(WarmupMs)
    Heap.mark()
    val windowStartMs = System.currentTimeMillis()
    Thread.sleep((seconds * 1000).toLong)
    val windowEndMs = System.currentTimeMillis()
    val peakHeapMb = Heap.sinceMark
    q.stop()
    q.awaitTermination(30000L)
    w.close()
    val err = q.exception.map(_.toString)
    if (traced) {
      listener.awaitJobsEnded(10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    firstBatchMs -> Json.obj(
      "t0_ms" -> Json.num(t0), "start_ms" -> Json.num(startMs),
      "first_batch_ms" -> Json.num(firstBatchMs), "window_start_ms" -> Json.num(windowStartMs),
      "window_end_ms" -> Json.num(windowEndMs),
      "run_id" -> Json.str(q.runId.toString), "rate" -> Json.num(rate.toLong), "seed" -> Json.num(seed),
      "hot_permille" -> Json.num(hotPermille), "keys" -> Json.num(keys),
      "watermark_ms" -> Json.num(watermarkMs), "peak_heap_mb" -> Json.num(peakHeapMb),
      "error" -> err.fold("null")(Json.str),
      "progress" -> Json.arr(q.recentProgress.map(_.json)),
      "spark" -> (if (traced) listener.toJson else "null"))
  }
}
