package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import graft.streaming.{JdbcSink, Monitoring, StreamOps}
import graft.streaming.StreamOps.{AsofEvent, AsofJoinState, AsofNearestState}

/** Streaming throughput/latency benchmark main — the streaming counterpart of
  * [[Bench]]. The reference's in-tree performance baseline is entirely
  * streaming (wordcount convergence harness
  * `integration_tests/wordcount/base.py:345-393`; queue-latency percentiles at
  * 10-30k msg/s in its benchmark docs), so this main drives every stateful
  * kernel from a rate source at a fixed input rate and records what those
  * harnesses record:
  *
  *  - sustained rows/s (total input rows / wall-clock, idle batches included),
  *  - per-microbatch latency p50/p99/max (`triggerExecution` from the query's
  *    progress events — the full latency of a record's batch under the default
  *    as-fast-as-possible trigger),
  *  - end-of-run stateful-operator row count (evidence the kernel's state is
  *    bounded by the watermark, not accumulating),
  *
  * plus a wordcount CONVERGENCE measurement mirroring base.py:345: feed a
  * fixed corpus through `groupBy(word).count()`, wait until the sink table
  * equals the exact expected counts, record time-to-convergence (the
  * reference's rule: no progress for 180 s = failed run; here the watchdog).
  *
  * Scenarios (same kernels the correctness specs pin):
  *   asof_backward / asof_forward / asof_nearest — stream-stream asof join
  *     kernels (StreamOps.scala), rate rows split alternately into left/right
  *     events over 256 keys, 2 s watermark.
  *   buffer          — event-time reorder buffer kernel, 1 s watermark.
  *   session_window  — native session_window append aggregation.
  *   tumbling_agg    — 1 s tumbling windowed wordcount, append on watermark.
  *   dedup_acceptor  — stateful acceptor dedup over 100k keys.
  *   upsert_jdbc     — changelog upsert sink into embedded Derby (batched
  *                     UPDATE/INSERT/DELETE per partition).
  *   changelog_upsert — per-microbatch streamToTable snapshot compute.
  *   wordcount_convergence — MemoryStream corpus, exact-count convergence.
  *
  * Output contract (same shape as Bench): one compact JSON line per scenario
  * as it finishes, one aggregate line, and the complete JSON written to
  * SPARK_GRAFT_STREAM_OUT (default /tmp/graft_streambench.json).
  * Knobs: SPARK_GRAFT_STREAM_RATE (rows/s, default 20000),
  * SPARK_GRAFT_STREAM_SECS (per-scenario wall time, default 20),
  * SPARK_GRAFT_STREAM_OUT (artifact path), SPARK_GRAFT_STATE_STORE
  * (`rocksdb` selects the RocksDB provider, default in-memory),
  * SPARK_GRAFT_SPOOL_FILES (sync_spool_drain files per member, default 300),
  * SPARK_GRAFT_ONLY (comma filter), SPARK_GRAFT_CPUS (default 4).
  */
object StreamBench {

  final case class M(name: String, rate: Int, wallSecs: Double, rows: Long,
      rowsPerSec: Double, procRowsPerSec: Double, p50Ms: Long, p99Ms: Long,
      maxMs: Long, batches: Int, stateRows: Long, err: String = null,
      stateBytes: Long = 0L)

  def main(args: Array[String]): Unit = {
    val rate = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "20000").toInt
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "20").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "/tmp/graft_streambench.json")
    val spark = GraftSession.builder(GraftSession.cores)
      // keep every progress event of a run (default 100 would drop the head
      // of a 20 s default-trigger run with sub-100ms batches)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_STATE_STORE=rocksdb benches the kernels on the
    // production-scale state store (bounded memory + native compaction —
    // what a 1000-executor deployment with large keyed state would run)
    // instead of the default in-memory HDFS-backed provider
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch deltas instead of full SST
      // uploads — the production posture for large keyed state (the
      // band-bucket topology grows one row per live (band, bucket))
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    import spark.implicits._

    val nKeys = 256L

    def rateSrc: DataFrame = StreamOps.rateStream(spark, rate)

    def ckpt(): String =
      java.nio.file.Files.createTempDirectory("graft_sb_").toString

    // ── scenario starters ───────────────────────────────────────────────────

    /** Split rate rows alternately into left/right asof events over nKeys.
      * The key derives from value/2, NOT value: isLeft = value%2 and
      * k = value%nKeys would be correlated (nKeys even), putting left and
      * right events on disjoint key sets — a no-match workload where the
      * forward kernel retains every candidate-less left. With value/2 the
      * pair (2m, 2m+1) lands left+right on the same key m%nKeys, so every
      * key sees both sides and matches actually occur. */
    def asofEvents = rateSrc
      .select(col("timestamp").as("t"),
        ((col("value") / 2).cast("long") % nKeys).as("k"),
        (col("value") % 2 === 0).as("isLeft"), col("value").as("p"))
      .withWatermark("t", "2 seconds")
      .as[(java.sql.Timestamp, Long, Boolean, Long)]

    def toEvent(r: (java.sql.Timestamp, Long, Boolean, Long)): AsofEvent[Long, Long] =
      AsofEvent[Long, Long](r._3, r._1.getTime,
        if (r._3) Some(r._4) else None, if (r._3) None else Some(r._4))

    def startAsofBackward(): StreamingQuery =
      asofEvents.groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, Long)],
           st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[Long, Long]]) =>
            StreamOps.asofJoinKernel[Long, Long, Long](k, it.map(toEvent), st)
        }.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startAsofForward(): StreamingQuery =
      asofEvents.groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, Long)],
           st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[Long, Long]]) =>
            StreamOps.asofForwardKernel[Long, Long, Long](k, it.map(toEvent), st)
        }.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startAsofNearest(): StreamingQuery =
      asofEvents.groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, Long)],
           st: org.apache.spark.sql.streaming.GroupState[AsofNearestState[Long, Long]]) =>
            StreamOps.asofNearestKernel[Long, Long, Long](k, it.map(toEvent), st)
        }.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startBuffer(): StreamingQuery =
      rateSrc.select(col("timestamp").as("t"), (col("value") % nKeys).as("k"),
          col("value").as("v"))
        .withWatermark("t", "1 second")
        .as[(java.sql.Timestamp, Long, Long)]
        .groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          StreamOps.bufferKernel[Long, (java.sql.Timestamp, Long, Long)](_._1.getTime))
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startSessionWindow(): StreamingQuery =
      rateSrc.select(col("timestamp").as("t"), (col("value") % nKeys).as("k"))
        .withWatermark("t", "1 second")
        // inter-arrival per key at the default rate is rate/nKeys rows/s, so a
        // 5 ms gap closes sessions continuously — the state machine churns
        // (open/extend/close) instead of growing one session per key forever
        .groupBy(session_window(col("t"), "5 milliseconds"), col("k"))
        .count()
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startTumblingAgg(): StreamingQuery =
      rateSrc.select(col("timestamp").as("t"),
          concat(lit("w"), col("value") % 10000).as("word"))
        .withWatermark("t", "1 second")
        .groupBy(window(col("t"), "1 second"), col("word")).count()
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    def startDedupAcceptor(): StreamingQuery =
      rateSrc.select((col("value") % 100000L).as("k"), col("value").as("v"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          StreamOps.dedupAcceptor[Long, Long]((n, o) => n > o))
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()

    /** Streaming near-dup dedup: ~200-char synthetic docs (md5-block text,
      * unique per arrival); every 20th arrival collapses onto one of 5 doc
      * families — steady exact-dup traffic through the match path plus a
      * bucket pileup the cap must bound. Per-doc cost is ~190 MD5s in the
      * signature kernel plus 8 stateful-shuffle rows — an order of magnitude
      * heavier per row than the asof scenarios; the rate source also emits
      * few partitions, so the signature kernel runs at source parallelism
      * (a real Kafka ingest arrives already spread across partitions). */
    def startMinhashDedup(): StreamingQuery = {
      val seed = when(col("value") % 20 === 0, col("value") % 5 - 10)
        .otherwise(col("value"))
      val text = concat_ws(" ",
        (0 until 6).map(i => md5(concat(lit(s"w$i"), seed))): _*)
      StreamOps.minhashDedupStream(
          rateSrc.select(col("value").as("doc_id"), text.as("text")),
          col("doc_id"), col("text"), bands = 8, threshold = 0.7)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()
    }

    /** Curation-at-ingest (per-doc stages): rowwise quality + token-count
      * filter, then real BPE tokenization with merges trained ONCE on a
      * static sample at startup (the index-at-startup serving contract).
      * Near-dup detection is the separate stateful `minhash_dedup` scenario
      * (its output is the pair stream); this one measures whether the
      * map-side analyze/tokenize stack holds the offered rate. */
    def startCurationIngest(): StreamingQuery = {
      import graft.operators.{Bpe, TextOps}
      val staticSample = spark.range(2000L).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 8).map(i => md5(concat(lit(s"v$i"), col("id") % 97))): _*).as("text"))
      val merges = Bpe.train(staticSample, col("text"), nMerges = 60)
      val seed = when(col("value") % 20 === 0, col("value") % 5 - 10)
        .otherwise(col("value"))
      val text = concat_ws(" ",
        (0 until 6).map(i => md5(concat(lit(s"w$i"), seed))): _*)
      val docs = rateSrc.select(col("value").as("doc_id"), text.as("text"))
        .filter(TextOps.qualityScore(col("text")) >= 0.0 &&
          TextOps.tokenCount(col("text")) >= 3)
      Bpe.encode(docs, col("doc_id"), col("text"), merges)
        .select(col("id"), col("n_tokens"), col("roundtrip_ok"))
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()
    }

    lazy val derbyUrl: String = {
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val dir = java.nio.file.Files.createTempDirectory("graft_sb_derby").toString
      val url = s"jdbc:derby:$dir/db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().executeUpdate(
        "CREATE TABLE sb_users (user_id BIGINT PRIMARY KEY, score DOUBLE)")
      finally conn.close()
      url
    }

    def startUpsertJdbc(): StreamingQuery =
      JdbcSink.upsertWriter(
        rateSrc.select((col("value") % 10000L).as("user_id"),
          (col("value") / 10000L).cast("double").as("score"),
          when(col("value") % 50 === 0, -1).otherwise(1).as("diff")),
        Seq("user_id"), derbyUrl, "sb_users", diffCol = Some("diff"))
        .option("checkpointLocation", ckpt()).start()

    def startChangelogUpsert(): StreamingQuery =
      rateSrc.select((col("value") % 10000L).as("k"), col("value").as("v"),
          col("timestamp").as("time"), lit(1).as("diff"))
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          StreamOps.streamToTable(b, Seq("k"), isUpsert = true)
            .write.mode("overwrite").format("noop").save()
        }.option("checkpointLocation", ckpt()).start()

    /** inactivityDetection in default mode over the full-rate stream — the
      * r14 funnel rung: every event used to shuffle onto the ONE synthetic
      * state key; the per-partition pre-reduce must keep the kernel's input
      * at O(partitions·batches) while sustaining the input rate. */
    def startInactivity(): StreamingQuery =
      graft.streaming.Inactivity.inactivityDetection(
        rateSrc.select(col("value").cast("string").as("v")),
        allowedInactivityMs = 30000, refreshRateMs = 1000)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt())
        .start()

    /** Native stream-stream interval join (Spark's built-in watermarked
      * range join — the path intervalJoin lowers to): two independent rate
      * streams joined on key with a 2 s look-back window. 100k keys keep
      * the match fan-out ~O(1) per left row at the default rate. */
    def startIntervalJoin(): StreamingQuery = {
      val l = rateSrc.select(col("timestamp").as("lt"),
          (col("value") % 100000L).as("lk"), col("value").as("lv"))
        .withWatermark("lt", "2 seconds")
      val r = rateSrc.select(col("timestamp").as("rt"),
          (col("value") % 100000L).as("rk"), col("value").as("rv"))
        .withWatermark("rt", "2 seconds")
      l.join(r, col("lk") === col("rk") &&
          col("rt") >= col("lt") - expr("INTERVAL 2 SECONDS") &&
          col("rt") <= col("lt"))
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt()).start()
    }

    /** asof_backward with a latency-sampling sink: per emitted row, record
      * (emit wall time − left event time) — true END-TO-END latency as the
      * reference's queue benchmark reports it, which for a watermark-held
      * kernel is watermark delay (2 s here) + trigger wait + processing. */
    def startAsofBackwardE2e(lat: java.util.concurrent.ConcurrentLinkedQueue[Long]): StreamingQuery =
      asofEvents.groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, Long)],
           st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[Long, Long]]) =>
            StreamOps.asofJoinKernel[Long, Long, Long](k, it.map(toEvent), st)
        }.toDF("k", "lt", "lv", "rv")
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val now = System.currentTimeMillis()
          b.select("lt").as[Long].collect().foreach(t => lat.add(now - t))
        }
        .option("checkpointLocation", ckpt()).start()

    // ── measurement ─────────────────────────────────────────────────────────

    def r1(v: Double): String =
      BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

    /** Trigger-duration stats shared by every scenario: one definition of
      * p50/p99 (rank-high on the sorted triggerExecution times), busy-time
      * and batch count, so the bench rows cannot disagree on what a
      * percentile means. */
    final case class DurStats(durs: Array[Long]) {
      def pct(p: Double): Long =
        if (durs.isEmpty) -1L
        else durs(math.min(durs.length - 1, (p * durs.length).toInt))
      def busySecs: Double = durs.sum / 1000.0
      def last: Long = if (durs.isEmpty) -1L else durs(durs.length - 1)
      def n: Int = durs.length
    }
    def durStats(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
        : DurStats = DurStats(
      ps.flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.toLong)).sorted.toArray)

    /** Prints a failed scenario's full exception to stderr and returns the
      * short name its row records as `err`. */
    def failed(name: String, e: Throwable): String = {
      System.err.println(s"[streambench] $name failed:")
      e.printStackTrace()
      e.getClass.getSimpleName
    }

    def measure(name: String, start: () => StreamingQuery): M = {
      val t0 = System.nanoTime()
      try {
        val q = start()
        Thread.sleep(secs * 1000L)
        q.stop()
        val wall = (System.nanoTime() - t0) / 1e9
        val ps = q.recentProgress.filter(_.numInputRows > 0)
        val ds = durStats(ps.toSeq)
        val rows = ps.map(_.numInputRows).sum
        val stateRows = ps.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        // bytes too: per-key kernels hold LISTS inside one state row per key,
        // so numRowsTotal alone can look flat while state actually grows.
        // Max over the run, and prefer the provider's on-version size when
        // memoryUsedBytes under-reports (FMGWS under the HDFS provider)
        val stateBytes = ps.map(_.stateOperators.map { so =>
          val onVersion = Option(so.customMetrics.get("stateOnCurrentVersionSizeBytes"))
            .map(_.longValue).getOrElse(0L)
          math.max(so.memoryUsedBytes, onVersion)
        }.sum).maxOption.getOrElse(0L)
        // wall-clock throughput charges query startup + trigger idle time;
        // processing throughput (rows / Σ triggerExecution) is the kernel's
        // sustained capacity — what a saturated stream would see
        M(name, rate, wall, rows, rows / wall,
          if (ds.busySecs > 0) rows / ds.busySecs else 0, ds.pct(0.5), ds.pct(0.99),
          ds.last, ds.n, stateRows,
          stateBytes = stateBytes)
      } catch {
        case e: Throwable =>
          M(name, rate, (System.nanoTime() - t0) / 1e9, 0, 0, 0, -1, -1, -1, 0, 0,
            err = failed(name, e))
      }
    }

    /** Wordcount convergence (reference base.py:345): stream a fixed corpus,
      * measure wall time until the counts table exactly equals the expected
      * multiset. 180 s without convergence = failed run (reference's rule). */
    def wordcountConvergence(): M = {
      implicit val sqlCtx = spark.sqlContext
      val vocab = 997
      val chunkRows = 5000
      val chunks = 100
      val total = chunkRows.toLong * chunks
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val counts = input.toDS().select(concat(lit("w"), col("value") % vocab).as("word"))
        .groupBy("word").count()
      val t0 = System.nanoTime()
      val q = counts.writeStream.format("memory").queryName("sb_wordcount")
        .outputMode("complete").option("checkpointLocation", ckpt()).start()
      try {
        var i = 0L
        while (i < total) { input.addData(i until math.min(i + chunkRows, total)); i += chunkRows }
        val deadline = System.nanoTime() + 180L * 1000000000L
        // processAllAvailable blocks without bound — run it on a helper
        // thread and enforce the reference's 180 s rule for real: a stalled
        // query records not_converged instead of hanging the whole bench
        val drain = new Thread(() => q.processAllAvailable(), "sb-wordcount-drain")
        drain.setDaemon(true)
        drain.start()
        drain.join(180000L)
        if (drain.isAlive) q.stop() // unblocks processAllAvailable; converged=false below
        // exact convergence: every word's count matches the closed form
        val got = spark.table("sb_wordcount")
          .as[(String, Long)].collect().toMap
        val expected = (0 until vocab).map { w =>
          s"w$w" -> (total / vocab + (if (w < total % vocab) 1 else 0))
        }.toMap
        val wall = (System.nanoTime() - t0) / 1e9
        val converged = got == expected && System.nanoTime() < deadline
        val ds = durStats(q.recentProgress.filter(_.numInputRows > 0).toSeq)
        M("wordcount_convergence", 0, wall, total, total / wall,
          if (ds.busySecs > 0) total / ds.busySecs else 0, ds.pct(0.5),
          ds.pct(0.99), ds.last, ds.n, vocab,
          err = if (converged) null else "not_converged")
      } catch {
        case e: Throwable =>
          M("wordcount_convergence", 0, (System.nanoTime() - t0) / 1e9, 0, 0, 0,
            -1, -1, -1, 0, 0, err = failed("wordcount_convergence", e))
      } finally q.stop()
    }

    /** End-to-end latency scenario: p50/p99/max in this row are PER-RECORD
      * event-to-emission milliseconds (not batch durations). */
    def measureAsofE2e(): M = {
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val base = measure("asof_backward_e2e", () => startAsofBackwardE2e(lat))
      val ds = {
        import scala.jdk.CollectionConverters._
        DurStats(lat.asScala.toArray.sorted)
      }
      if (ds.n == 0) base
      else base.copy(p50Ms = ds.pct(0.5), p99Ms = ds.pct(0.99), maxMs = ds.last)
    }

    /** Two skewed spool members draining a generated JSON-lines spool under
      * input-synchronization-group admission (the NON-COLLECTED member shape,
      * sources/SyncedSpool.scala) — the scale rung for the r14 sync source:
      * wall-clock to drain, per-trigger planning cost (p50/p99 of
      * triggerExecution — dominated by the batched per-file frontier job and
      * the listing), and the neither-runs-ahead audit invariant asserted as
      * part of the measurement (a violation records err, not a silent pass).
      * `rate` in this row = FILES PER MEMBER (SPARK_GRAFT_SPOOL_FILES,
      * default 300); state_rows = total files. Comparing two rung sizes
      * shows drain time scaling ~linearly in files with flat per-trigger
      * planning — the O(files) driver cost is one Long per file, never rows. */
    def measureSpoolDrain(): M = {
      val nFiles = sys.env.getOrElse("SPARK_GRAFT_SPOOL_FILES", "300").toInt
      val rowsPerFile = 20
      val maxDiff = 4L * rowsPerFile
      var t0 = System.nanoTime()
      var dir: java.nio.file.Path = null
      try {
        dir = java.nio.file.Files.createTempDirectory("graft_sb_spool")
        graft.sources.InputSynchronization.reset("sb_spool")
        for (m <- Seq("a", "b")) {
          val d = dir.resolve(m)
          java.nio.file.Files.createDirectories(d)
          for (k <- 0 until nFiles) { // file k holds sync values k*R .. k*R+R-1
            val lines = (0 until rowsPerFile)
              .map(i => s"""{"t":${k.toLong * rowsPerFile + i},"p":"$m"}""")
            java.nio.file.Files.write(d.resolve(f"f$k%06d.json"),
              (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        def start(member: String, fpb: Int): StreamingQuery = spark.readStream
          .format("graft.sources.SyncedSpoolSource")
          .option("path", dir.resolve(member).toString)
          .option("syncCol", "t").option("filesPerBatch", fpb.toString)
          .option("group", "sb_spool").option("member", member)
          .option("maxDifference", maxDiff.toString)
          .option("groupSize", "2")
          .load()
          .writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10))
          .option("checkpointLocation", ckpt()).start()
        t0 = System.nanoTime() // drain clock starts after spool generation
        val qa = start("a", 16) // would drain in nFiles/16 triggers unpaced
        try {
          val qb = start("b", 4) // the laggard: 4× the triggers
          try {
          val lastT = nFiles.toLong * rowsPerFile - 1
          val c = graft.sources.InputSynchronization.group("sb_spool", maxDiff)
          // the laggard needs nFiles/4 mandatory triggers, and per-trigger
          // cost itself grows with file count (the directory listing term:
          // measured p50 ≈ 0.18 s + 15 µs/file across the 300→7500 rungs) —
          // so drain time is QUADRATIC in nFiles and a linear deadline would
          // eventually falsely fail a correct drain. Model triggers × cost
          // with 3× margin; 300 s floor covers startup noise at small rungs
          val deadlineSecs = math.max(300L,
            (nFiles.toLong / 4 * (0.25 + 3e-5 * nFiles) * 3).toLong)
          val deadline = System.nanoTime() + deadlineSecs * 1000000000L
          while (System.nanoTime() < deadline &&
            !(c.frontiers.get("a").flatten.contains(lastT) &&
              c.frontiers.get("b").flatten.contains(lastT))) Thread.sleep(50)
          val wall = (System.nanoTime() - t0) / 1e9
          val drained = c.frontiers.get("a").flatten.contains(lastT) &&
            c.frontiers.get("b").flatten.contains(lastT)
          // the frontier advances during PLANNING — the final batches are
          // still executing and have not published progress yet; grace-wait
          // until every generated row shows up (or 10 s) so rows/batches/
          // latency cover the whole drain, not the drain minus its tail.
          // recentProgress retains only the last numRecentProgressUpdates
          // batches per query (set to 10k in the session): past that the
          // row count can never reach expect — stop waiting and report the
          // truncation as err rather than a silently-low rows figure
          val expect = 2L * nFiles * rowsPerFile
          val progCap = spark.conf.get(
            "spark.sql.streaming.numRecentProgressUpdates", "100").toInt
          def saturated = qa.recentProgress.length >= progCap ||
            qb.recentProgress.length >= progCap
          def progRows = (qa.recentProgress ++ qb.recentProgress)
            .filter(_.numInputRows > 0).map(_.numInputRows).sum
          val grace = System.nanoTime() + 10L * 1000000000L
          while (System.nanoTime() < grace && progRows < expect && !saturated)
            Thread.sleep(50)
          val ps = (qa.recentProgress ++ qb.recentProgress).filter(_.numInputRows > 0)
          val ds = durStats(ps.toSeq)
          val rows = ps.map(_.numInputRows).sum
          // the coordinator's lifetime counter, not the (trimmed) audit log:
          // at large rungs auditLog drops its head, this never forgets
          val violations = c.violationCount
          M("sync_spool_drain", nFiles, wall, rows, rows / wall,
            if (ds.busySecs > 0) rows / ds.busySecs else 0, ds.pct(0.5), ds.pct(0.99),
            ds.last, ds.n, 2L * nFiles,
            err = if (!drained) s"not_drained_${deadlineSecs}s"
              else if (violations > 0) s"invariant_violated_$violations"
              else if (rows < expect && saturated) "progress_window_saturated"
              else null)
          } finally qb.stop()
        } finally qa.stop()
      } catch {
        case e: Throwable =>
          M("sync_spool_drain", nFiles, (System.nanoTime() - t0) / 1e9, 0, 0, 0,
            -1, -1, -1, 0, 0, err = failed("sync_spool_drain", e))
      } finally { // 2·nFiles tiny JSON files — don't leak them into /tmp.
        // Best-effort: a cleanup IO error must not replace the measurement
        // result already computed in the try, and the walk stream must close
        try if (dir != null) {
          import scala.jdk.CollectionConverters._
          val w = java.nio.file.Files.walk(dir)
          val all = try w.iterator().asScala.toSeq finally w.close()
          all.reverseIterator.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch {
          case e: Exception =>
            System.err.println(s"spool cleanup failed (ignored): $e")
        }
      }
    }

    /** Kill-and-recover (reference integration_tests/wordcount kill-and-
      * recover matrix, test_new_data.py:22): run the tumbling wordcount at
      * `rate` against a FIXED checkpoint, stop it mid-run, stay down 5 s
      * while the rate source's wall-clock offsets keep accruing backlog,
      * restart from the checkpoint, and measure catch-up = time until the
      * restarted query has processed the downtime backlog AND drawn within
      * ~1 s of live (cumulative input ≥ rate·(down + elapsed) − rate).
      * Exactness of recovery is pinned separately by the JdbcSinkSpec
      * restart test; this records the TIME. */
    def measureRecovery(): M = {
      val ck = ckpt()
      val downSecs = 5
      def start() = rateSrc.select(col("timestamp").as("t"),
          concat(lit("w"), col("value") % 10000).as("word"))
        .withWatermark("t", "1 second")
        .groupBy(window(col("t"), "1 second"), col("word")).count()
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ck).start()
      val t00 = System.nanoTime()
      try {
        val q1 = start()
        Thread.sleep(math.max(secs / 2, 5) * 1000L)
        q1.stop() // the kill
        Thread.sleep(downSecs * 1000L) // downtime: backlog accrues at `rate`
        val t0 = System.nanoTime()
        val q2 = start()
        try {
          var cum = 0L
          var batches = 0
          val seen = scala.collection.mutable.Set.empty[Long]
          var catchup = -1.0
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (catchup < 0 && System.nanoTime() < deadline) {
            Thread.sleep(50)
            for (p <- q2.recentProgress if p.numInputRows > 0 && seen.add(p.batchId)) {
              cum += p.numInputRows
              batches += 1
              val elapsed = (System.nanoTime() - t0) / 1e9
              if (cum >= rate.toDouble * (downSecs + elapsed) - rate)
                catchup = elapsed
            }
          }
          val ds = durStats(q2.recentProgress.filter(_.numInputRows > 0).toSeq)
          M("recovery_catchup", rate, catchup, cum,
            if (catchup > 0) cum / catchup else 0, 0,
            ds.pct(0.5), ds.pct(0.99), ds.last, batches, 0,
            err = if (catchup < 0) "not_caught_up_120s" else null)
        } finally q2.stop()
      } catch {
        case e: Throwable =>
          M("recovery_catchup", rate, (System.nanoTime() - t00) / 1e9, 0, 0, 0,
            -1, -1, -1, 0, 0, err = failed("recovery_catchup", e))
      }
    }

    val scenarios: Seq[(String, () => M)] = Seq(
      "asof_backward" -> (() => measure("asof_backward", startAsofBackward _)),
      "asof_forward" -> (() => measure("asof_forward", startAsofForward _)),
      "asof_nearest" -> (() => measure("asof_nearest", startAsofNearest _)),
      "buffer" -> (() => measure("buffer", startBuffer _)),
      "session_window" -> (() => measure("session_window", startSessionWindow _)),
      "tumbling_agg" -> (() => measure("tumbling_agg", startTumblingAgg _)),
      "dedup_acceptor" -> (() => measure("dedup_acceptor", startDedupAcceptor _)),
      "minhash_dedup" -> (() => measure("minhash_dedup", startMinhashDedup _)),
      "curation_ingest" -> (() => measure("curation_ingest", startCurationIngest _)),
      "upsert_jdbc" -> (() => measure("upsert_jdbc", startUpsertJdbc _)),
      "changelog_upsert" -> (() => measure("changelog_upsert", startChangelogUpsert _)),
      "interval_join" -> (() => measure("interval_join", startIntervalJoin _)),
      "inactivity" -> (() => {
        val adder = graft.streaming.Inactivity.kernelRowsSeen
        adder.reset()
        val m = measure("inactivity", startInactivity _)
        println(s"""{"probe":"inactivity_funnel","kernel_rows":${adder.sum()},"input_rows":${m.rows}}""")
        m
      }),
      "asof_backward_e2e" -> (() => measureAsofE2e()),
      "wordcount_convergence" -> (() => wordcountConvergence()),
      "recovery" -> (() => measureRecovery()),
      "sync_spool_drain" -> (() => measureSpoolDrain()),
      // same kernel as asof_backward but with the LevelAll monitoring
      // dashboard attached + a 1 Hz console reporter (frames rendered,
      // output discarded). Not in the default set — run alongside
      // asof_backward via SPARK_GRAFT_ONLY for a same-JVM A/B proving the
      // async listener bus stays off the micro-batch critical path.
      "asof_backward_monitored" -> (() => {
        val mon = Monitoring.attach(spark, Monitoring.LevelAll)
        val rep = Monitoring.startConsoleReporter(mon, 1000L, _ => ())
        try measure("asof_backward_monitored", startAsofBackward _)
        finally { rep.close(); Monitoring.detach(spark, mon) }
      }))

    // the monitored A/B variant is opt-in (SPARK_GRAFT_ONLY) — the default
    // sweep measures each kernel once
    val selected = GraftSession.only.fold(scenarios.filterNot(_._1 == "asof_backward_monitored"))(
      s => scenarios.filter(kv => s(kv._1)))

    def json(m: M): String =
      s"""{"k":"${m.name}","rate":${m.rate},"secs":${r1(m.wallSecs)},""" +
        s""""rows":${m.rows},"rows_per_s":${r1(m.rowsPerSec)},""" +
        s""""proc_rows_per_s":${r1(m.procRowsPerSec)},""" +
        s""""p50_ms":${m.p50Ms},"p99_ms":${m.p99Ms},"max_ms":${m.maxMs},""" +
        s""""batches":${m.batches},"state_rows":${m.stateRows},""" +
        s""""state_bytes":${m.stateBytes},""" +
        s""""err":${if (m.err == null) "null" else "\"" + m.err + "\""}}"""

    val results = selected.map { case (_, run) =>
      val m = run()
      println(json(m))
      m
    }
    val totalRows = results.map(_.rows).sum
    val line = s"""{"metric":"stream_total_rows","value":$totalRows,"unit":"rows",""" +
      s""""rate":$rate,"secs_per_kernel":$secs,""" +
      s""""kernels":[${results.map(json).mkString(",")}]}"""
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (results.map(json).mkString("[\n  ", ",\n  ", "\n]\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Throwable => System.err.println(s"[streambench] writing $outPath failed: $e")
    }
    spark.stop()
    sys.exit(0)
  }
}
