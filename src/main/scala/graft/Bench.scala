package graft
import java.util.concurrent.TimeoutException
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and prints
  * ONE raw JSON line (build.sbt passes forked stdout through unprefixed so the
  * driver can parse it). Queries run under a watchdog so a hang costs one entry
  * (-1 marks timeout/failure), not the whole bench.
  *
  * Each query runs cold then warm (cache cleared between runs): the per-query
  * numbers report warm runs so first-touch JIT/codegen cost isn't charged to
  * whichever query the Map iterates first — the r5/r6 identical-binary runs
  * showed up to 5.7× per-query swings from that attribution. Every query
  * gets >= 2 warm reps (r17): sub-second queries run MEDIAN-OF-3 (the
  * local[32] scheduling-noise floor is ~±0.2 s, which otherwise swamps
  * sub-second deltas), heavier queries BEST-OF-2 (an external load spike
  * only inflates, so min is the signal); `reps` and `spread` (max−min)
  * record the evidence, so a spiked sweep self-identifies in the artifact.
  *
  * Output, defended against the driver's line-length capture cap (r7 lost 15
  * of 102 entries to truncation of the single giant line):
  *  1. one compact line PER QUERY as it finishes:
  *       {"q":"name","cold":c,"s":warm,"reps":n}
  *  2. the aggregate {"metric":...} line (driver contract) still carries the
  *     full queries map — harmless if truncated, every number already
  *     appeared on its own line;
  *  3. the complete JSON is also written to SPARK_GRAFT_BENCH_OUT
  *     (default /tmp/graft_bench_full.json).
  *
  * Every form carries `calib`/`calib_end`: a fixed 2M-chained-MD5
  * single-core loop timed before and after the sweep, so host-load
  * contamination (the r20 driver sweep read untouched rows 1.3-2.9× slower
  * under external load) is detectable and correctable from the artifact.
  */
object Bench {
  /** Fixed single-core calibration workload (r21, VERDICT #1): 2M chained
    * MD5 digests — pure JVM compute, no Spark, no I/O. Identical work every
    * round, so the reading is a direct probe of how fast this host runs
    * single-threaded code RIGHT NOW: the r20 driver sweep carried ~35%
    * inflation on untouched rows from external load, and nothing in the
    * artifact could prove it. Emitted as `calib` (before the sweep) and
    * `calib_end` (after) in every output form; cross-round comparisons can
    * deflate by the calib ratio from the artifact alone. */
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var buf = new Array[Byte](16)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { buf = md.digest(buf); i += 1 }
    // fold the digest into a sink so the loop cannot be dead-code-eliminated
    calibSink += buf(0)
    (System.nanoTime() - t0) / 1e9
  }
  @volatile private var calibSink: Long = 0L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "120").toLong
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_full.json")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT-warm the calibration loop itself, then take the pre-sweep reading
    calibrate()
    val calibStart = calibrate()
    // untimed warmup: absorb JVM/session/committer startup so it isn't charged
    // to whichever query runs first
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count()
        .write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    // dev filter: SPARK_GRAFT_ONLY=q1,q2 benches a subset
    val selected = SparkEntry.queries.filter(kv => GraftSession.only.forall(_(kv._1)))
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val sec =
        try {
          GraftSession.watchdog(spark, s"bench-$name", name, timeoutS) {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          (System.nanoTime() - t0) / 1e9
        } catch {
          case _: TimeoutException =>
            System.err.println(s"[bench] $name TIMEOUT after ${timeoutS}s")
            -1.0
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${GraftSession.failureCause(e)}")
            -1.0
        }
      // queries are independent; drop persisted intermediates so one run's
      // caches don't distort the next
      spark.catalog.clearCache()
      sec
    }
    def r3(v: Double): String = if (v < 0) "-1" else BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val results = selected.map { case (name, fn) =>
      val cold = timeOnce(name, fn)
      val warm1 = if (cold < 0) -1.0 else timeOnce(name, fn)
      // EVERY query gets >= 2 warm reps (r17: a one-rep heavy query can't
      // tell a load spike from a regression — the r16 driver sweep read
      // dedup_groups at 26 s while four same-day runs said 6; the rep
      // spread now self-identifies such spikes in the artifact):
      //  - sub-second: median-of-3 (scheduling-noise floor ~±0.2 s)
      //  - >= 1 s: best-of-2 (a spike only inflates, so min is the signal
      //    and a large spread flags the spike)
      val (warm, reps, spread) =
        if (warm1 < 0) (warm1, 1, -1.0)
        else if (warm1 < 1.0) {
          val ws = Seq(warm1, timeOnce(name, fn), timeOnce(name, fn)).filter(_ >= 0).sorted
          // lower-median: on an even count (a rep timed out) take the lower
          // middle, not the max — the noise this guards against is upward
          (ws((ws.size - 1) / 2), ws.size, ws.last - ws.head)
        } else {
          // self-adjudicating artifact (r20, VERDICT #2): when the 2-rep
          // spread exceeds 20% of the best warm time, the row can't tell a
          // regression from a load spike by itself — pay a third rep so no
          // committed row's own spread spans a 1.5× verdict
          val ws2 = Seq(warm1, timeOnce(name, fn)).filter(_ >= 0).sorted
          val ws =
            if (ws2.size > 1 && ws2.last - ws2.head > 0.2 * ws2.head)
              (ws2 :+ timeOnce(name, fn)).filter(_ >= 0).sorted
            else ws2
          (ws.head, ws.size, if (ws.size > 1) ws.last - ws.head else -1.0)
        }
      println(s"""{"q":"$name","cold":${r3(cold)},"s":${r3(warm)},"reps":$reps,"spread":${r3(spread)}}""")
      name -> (cold, warm, reps, spread)
    }
    val calibEnd = calibrate()
    val calib = s""""calib":${r3(calibStart)},"calib_end":${r3(calibEnd)}"""
    val qs = results.map { case (k, (_, w, _, _)) => s"\"" + k + "\":" + r3(w) }
      .mkString("{", ",", "}")
    val warmTotal = results.values.map(_._2).filter(_ > 0).sum
    val coldTotal = results.values.map(_._1).filter(_ > 0).sum
    // real-streaming rows are WALL-CLOCK FLOORS (live micro-batches run to
    // an admission fixed point / state-store replay), not compute —
    // compute_total excludes them so cross-round board ratios track engine
    // work (BASELINE.md explains the split once)
    val streamingFloor = Set("sync_group_stream", "inactivity_stream_replay")
    val computeTotal = results.collect {
      case (k, (_, w, _, _)) if w > 0 && !streamingFloor(k) => w }.sum
    val line = s"""{"metric":"total","value":${r3(warmTotal)},"unit":"sec","compute_total":${r3(computeTotal)},"cold_total":${r3(coldTotal)},$calib,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only the tail of stdout (~2000 chars, BENCH_r*.json
    // "tail"), so the full line above gets its head cut off once the query map
    // outgrows the cap — every round's artifact shows parsed:null. Emit a LAST
    // compact line (slowest 15 queries only, ~1 kB with the r21 calib/rs
    // additions — still well under the cap) so a
    // tail-side parser always finds one complete {"metric":...} JSON line.
    // (r21, VERDICT #1) the tail line also carries calib plus per-row
    // [reps, spread] for its 15 rows (one "rs" map — each name printed once,
    // not three times), so a load-contaminated sweep is BOTH detectable
    // (calib vs prior rounds, spread per row) and correctable from the
    // driver-parsed artifact alone; `queries` stays name→sec. Measured line
    // size ≈ 1.0-1.1 kB against the driver's ~2 kB tail capture — the old
    // "< ~500 chars" margin no longer holds, but a complete last line still
    // fits with ~2× headroom (r21 review).
    val topRows = results.toSeq.sortBy(-_._2._2).take(15)
    val top = topRows
      .map { case (k, (_, w, _, _)) => s"\"" + k + "\":" + r3(w) }.mkString("{", ",", "}")
    val topRs = topRows
      .map { case (k, (_, _, n, sp)) => s"\"" + k + "\":[" + n + "," + r3(sp) + "]" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(warmTotal)},"unit":"sec","compute_total":${r3(computeTotal)},"cold_total":${r3(coldTotal)},$calib,"n_queries":${results.size},"queries":$top,"rs":$topRs,"sf":"$sfDir"}""")
    try {
      val full = results.map { case (k, (c, w, n, sp)) =>
        s"""    "$k": {"cold": ${r3(c)}, "warm": ${r3(w)}, "reps": $n, "spread": ${r3(sp)}}""" }
        .mkString("{\n  \"metric\": \"total\",\n  \"value\": " + r3(warmTotal) +
          ",\n  \"unit\": \"sec\",\n  \"compute_total\": " + r3(computeTotal) +
          ",\n  \"cold_total\": " + r3(coldTotal) +
          ",\n  \"calib\": " + r3(calibStart) +
          ",\n  \"calib_end\": " + r3(calibEnd) +
          ",\n  \"sf\": \"" + sfDir + "\",\n  \"queries\": {\n", ",\n", "\n  }\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"[bench] writing $outPath failed: $e")
    }
    spark.stop()
    sys.exit(0)
  }
}
