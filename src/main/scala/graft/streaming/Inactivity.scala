package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.operators.Materialize

/** Processing-time utilities — reference
  * `python/pathway/stdlib/temporal/time_utils.py`: `utc_now` (:42, a
  * refresh-rate heartbeat stream of the current UTC time) and
  * `inactivity_detection` (:72, monitor an append-only stream and report
  * (instance, inactivity_timestamp_utc, resumed_activity_timestamp_utc)
  * rows when no data arrives within `allowed_inactivity_period`).
  *
  * Spark shape: `utcNow` is the rate source (its `timestamp` column IS a
  * paced wall-clock heartbeat). `inactivityDetection` is a
  * flatMapGroupsWithState kernel on ProcessingTimeTimeout — exactly the
  * engine feature the reference builds by joining its heartbeat table
  * against per-instance latest-activity reducers: Spark fires the timeout
  * callback when a group has received nothing for the allowed period
  * (empty micro-batches still run while stateful timeouts are pending, so
  * a fully-quiet stream still reports). Detection emits
  * (instance, last_activity_ts, null); resumption emits the same key with
  * the resumed timestamp filled — in append mode the pair is a changelog
  * keyed by (instance, inactivity_timestamp_utc), the reference's own
  * update sequence for the row (upsert via [[StreamOps.streamToTable]] to
  * materialize the final table).
  *
  * With `instance` given, a null-instance row reports the
  * since-stream-start case (no data at all in any instance before the
  * first timeout), mirroring the reference's `None`-instance row; once any
  * data arrives that group retires (the reference stops producing it the
  * same way). A row whose instance VALUE is genuinely null is monitored as
  * its own ordinary group (never retired); its output rows also carry
  * instance=null — the same presentation ambiguity the reference's
  * `None`-instance column has. Disambiguate by lifecycle if needed:
  * since-start rows can only precede the first datum.
  */
object Inactivity {

  /** `utc_now`: a heartbeat stream of current UTC timestamps, one column
    * `timestamp_utc`, refreshed every `refreshRateMs` (reference
    * time_utils.py:42; its `initial_delay` is the rate source's natural
    * first-tick latency).
    *
    * Cadence: the rate source ticks at a fine base granularity (10 ms, or
    * `refreshRateMs` itself when finer) and a tick is kept iff it crosses a
    * `refreshRateMs` boundary — the delivered interval tracks the contract
    * to within one base tick for ANY refresh rate (1 Hz quantization would
    * deliver up to 2× off for rates like 1500 ms or 700 ms). The discarded
    * base ticks are ≤100 tiny rows/s of overhead. */
  def utcNow(spark: SparkSession, refreshRateMs: Long = 60000L): DataFrame = {
    require(refreshRateMs > 0, s"refreshRateMs must be positive, got $refreshRateMs")
    val baseMs = math.min(10L, refreshRateMs)
    val rps = math.max(1, (1000L / baseMs).toInt)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rps.toString)
      .load()
      // tick k covers wall-time [k·baseMs, (k+1)·baseMs): keep it iff a
      // multiple of refreshRateMs falls inside, i.e. k·baseMs mod refresh
      // wraps below baseMs
      .filter(pmod(col("value") * baseMs, lit(refreshRateMs)) < baseMs)
      .select(col("timestamp").as("timestamp_utc"))
  }

  /* exposed for the Dataset encoder (name-resolved). `synthetic` marks the
   * heartbeat-fed global group's rows — keyed SEPARATELY from real rows so
   * a genuinely-NULL instance value stays an ordinary monitored group
   * instead of being conflated with (and retired by) the since-start
   * bookkeeping. */
  private[streaming] case class InactIn(instance: String, synthetic: Boolean,
      isActivity: Boolean, nowMs: Long)
  /* primitive-only state (flat codegen'd encoder); openSinceMs = -1 when
   * no period is open */
  private[streaming] case class InactState(lastActivityMs: Long, openSinceMs: Long,
      everActive: Boolean)
  /** Output row: resumed == null while the period is still open. */
  case class InactivityEvent(instance: String,
      inactivity_timestamp_utc: Timestamp,
      resumed_activity_timestamp_utc: Timestamp)
  /* kernel-internal output in raw clock ticks (ms live, any unit in
   * replay); the live API renders Timestamps downstream */
  private[streaming] case class InactRaw(instance: String, start: Long,
      resumed: Option[Long])

  /** Rows actually reaching the stateful kernel (all groups), for the
    * StreamBench funnel rung and specs. Local-mode instrumentation: a plain
    * JVM adder only aggregates across tasks when executors share the
    * driver's JVM (local[n]) — exactly where the benches run. */
  private[graft] val kernelRowsSeen = new java.util.concurrent.atomic.LongAdder

  /** `armTimeouts = false` (event-time replay): never call
    * setTimeoutDuration — with ProcessingTimeTimeout registered Spark
    * re-triggers batches CONTINUOUSLY to re-check pending timeouts, a
    * busy loop that piles up state-store versions; the replay detects
    * every gap on data, so it runs under NoTimeout and batches fire only
    * when chunks arrive. */
  private def kernel(allowedMs: Long, globalFromStartOnly: Boolean,
      armTimeouts: Boolean = true)(
      key: (Boolean, String), rows: Iterator[InactIn],
      state: GroupState[InactState]): Iterator[InactRaw] = {
    val out = Seq.newBuilder[InactRaw]
    val inst = key._2
    if (state.hasTimedOut) {
      val st = state.get
      // gap exceeded with no rows at all (instanced groups, which see no
      // heartbeats): report the inactivity period (resumed unknown yet)
      out += InactRaw(inst, st.lastActivityMs, None)
      state.update(st.copy(openSinceMs = st.lastActivityMs))
      // no new timeout: the group sleeps until data arrives
    } else {
      val batch = rows.toSeq
      kernelRowsSeen.add(batch.size)
      val nowMs = batch.map(_.nowMs).max
      // activity timestamps SORTED ascending: live batches carry one
      // constant clock value (the loop runs once — bit-identical to the
      // old single-step), but an event-time REPLAY batch can span several
      // gaps; scanning in order detects each one with its exact resume
      // timestamp, independent of how the replay chunks into micro-batches
      val acts = batch.iterator.filter(_.isActivity).map(_.nowMs).toArray
      java.util.Arrays.sort(acts)
      // fresh group: baseline at the FIRST activity (not the batch max —
      // that would swallow every gap inside this batch's scan); with no
      // activity at all, at the heartbeat that bootstrapped the group
      var st = state.getOption.getOrElse(InactState(
        lastActivityMs = if (acts.nonEmpty) acts(0) else nowMs,
        openSinceMs = -1L, everActive = false))
      for (t <- acts) {
        if (st.openSinceMs >= 0L)
          out += InactRaw(inst, st.openSinceMs, Some(t))
        else if (t - st.lastActivityMs > allowedMs)
          // gap revealed AND resumed within one micro-batch (the resuming
          // event arrived in the same trigger the timeout/tick would have
          // fired in): emit the complete closed period — dropping it would
          // diverge from the batch analog, which reports every gap
          out += InactRaw(inst, st.lastActivityMs, Some(t))
        st = InactState(math.max(t, st.lastActivityMs), -1L, everActive = true)
      }
      // in instanced mode the SYNTHETIC group only reports the SINCE-START
      // case; once any data has arrived it stays permanently silent (a
      // real null-instance group is keyed (false, null) and unaffected)
      val retired = globalFromStartOnly && key._1 && st.everActive
      if (acts.isEmpty && !retired &&
          st.openSinceMs < 0L && nowMs - st.lastActivityMs > allowedMs) {
        // heartbeat tick revealed the gap — the detection clock for groups
        // that DO receive heartbeats (the null/global group; in default
        // mode every event shares it). Spark's timeout callback only fires
        // for groups with no rows at all, so a heartbeat-fed group must
        // check the gap itself — exactly the reference's design of joining
        // latest-activity against the utc_now table (time_utils.py:112).
        out += InactRaw(inst, st.lastActivityMs, None)
        st = st.copy(openSinceMs = st.lastActivityMs)
      }
      state.update(st)
      if (armTimeouts && st.openSinceMs < 0L && !retired)
        // re-arm to the ABSOLUTE deadline lastActivity + allowed: arming
        // `allowedMs` from now would let each heartbeat batch push the
        // deadline forever forward and the fallback timeout never fire
        state.setTimeoutDuration(math.max(1L, st.lastActivityMs + allowedMs - nowMs))
    }
    out.result().iterator
  }

  /** BATCH analog of `inactivity_detection` over a finite event log: per
    * instance, every gap between consecutive events longer than
    * `allowedNs` is an inactivity period (inactivity_timestamp = the last
    * event before the gap, resumed = the first after); an instance whose
    * last event is more than `allowedNs` behind the table's global max
    * timestamp has an OPEN period (resumed = null) — the batch counterpart
    * of "not yet ended" at the stream frontier. One window pass per
    * instance + a broadcast scalar frontier; no driver loop. */
  def inactivityPeriodsBatch(events: DataFrame, ts: Column, allowedNs: Long,
      instance: Column): DataFrame =
    inactivityPeriodsBatch(events, ts, allowedNs, instance, None)

  /** As above with an EXPLICIT frontier ("now"): the reference's wall clock
    * keeps ticking past the last event, so an instance quiet for longer than
    * `allowedNs` before `frontier` has an open period even when it holds the
    * table's max timestamp (r16 decode of tests/temporal/test_time_utils.py —
    * the (1000, null) rows exist only because utc_now ran to 1400). The
    * boundary is STRICT (gap > allowed), pinned by test_no_alert where the
    * whole run is exactly `allowed` long. */
  def inactivityPeriodsBatch(events: DataFrame, ts: Column, allowedNs: Long,
      instance: Column, frontierAt: Option[Long]): DataFrame = {
    val frontier = frontierAt.fold(events.agg(max(ts).as("_fmax")))(f =>
      events.sparkSession.range(1).select(lit(f).as("_fmax")))
    events.select(instance.as("instance"), ts.as("_t"))
      .withColumn("_nt", lead(col("_t"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("instance")).orderBy(col("_t").asc)))
      .crossJoin(broadcast(frontier))
      .filter((col("_nt") - col("_t") > allowedNs) ||
        (col("_nt").isNull && col("_fmax") - col("_t") > allowedNs))
      .select(col("instance"),
        col("_t").as("inactivity_ts"),
        when(col("_nt") - col("_t") > allowedNs, col("_nt"))
          .as("resumed_ts"))
  }

  /** `add_update_timestamp_utc` (reference stdlib/temporal/time_utils.py),
    * event-time translation: each row is stamped with the latest heartbeat
    * tick at or before its update time — its time floored to the
    * `refreshRate` grid (test_add_update_timestamp_utc: rows at 0 → 0, an
    * update at 130 with refresh 100 → 100). Units follow `updateTime`. */
  def addUpdateTimestamp(df: DataFrame, updateTime: Column, refreshRate: Long): DataFrame =
    df.withColumn("updated_timestamp_utc",
      updateTime.cast("long") - pmod(updateTime.cast("long"), lit(refreshRate)))

  /** `inactivity_detection`: monitor `events` (an append-only streaming
    * DataFrame) and emit inactivity periods longer than
    * `allowedInactivityMs`, optionally per `instance`. `refreshRateMs`
    * paces the bootstrap heartbeat (the reference's refresh_rate; Spark's
    * own trigger cadence drives timeout checks). Returns a streaming
    * DataFrame (instance, inactivity_timestamp_utc,
    * resumed_activity_timestamp_utc). */
  def inactivityDetection(events: DataFrame, allowedInactivityMs: Long,
      refreshRateMs: Long = 1000L, instance: Option[Column] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // The heartbeat-fed SYNTHETIC group is ONE state-store key, so it must
    // never receive the full stream (a 100×-rate scale killer: every event
    // shuffled onto one task). The kernel only needs existence + max(nowMs)
    // per trigger, and current_timestamp() is constant within a micro-batch,
    // so a stateless per-partition pre-reduce to ≤ ONE row per partition per
    // trigger is bit-equivalent: the synthetic key receives O(partitions)
    // rows, not O(events). Used as the whole input in default mode (every
    // event would otherwise key to the synthetic group) and as the shadow
    // tick in instanced mode (retires the since-start row on first data).
    val shadow: org.apache.spark.sql.Dataset[InactIn] = events
      .select(unix_millis(current_timestamp()).as("nowMs")).as[Long]
      .mapPartitions { it =>
        if (it.hasNext) Iterator.single(InactIn(null, synthetic = true,
          isActivity = true, nowMs = it.max))
        else Iterator.empty
      }
    // instanced mode: real rows keep their instance — a genuinely-NULL
    // instance value is an ordinary monitored group of its own, NOT
    // conflated with the since-start bookkeeping
    val inst = instance.getOrElse(lit(null)).cast("string")
    val acts = if (instance.isDefined)
      events.select(inst.as("instance"), lit(false).as("synthetic"),
        lit(true).as("isActivity"),
        unix_millis(current_timestamp()).as("nowMs")).as[InactIn]
        .unionByName(shadow)
    else shadow
    // heartbeats bootstrap the synthetic group, so a stream with NO data
    // at all still has one stateful group whose clock can fire
    val hb = utcNow(spark, refreshRateMs)
      .select(lit(null).cast("string").as("instance"),
        lit(true).as("synthetic"), lit(false).as("isActivity"),
        unix_millis(current_timestamp()).as("nowMs")).as[InactIn]
    acts.unionByName(hb)
      .groupByKey(r => (r.synthetic, r.instance))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        kernel(allowedInactivityMs, globalFromStartOnly = instance.isDefined))
      .select(col("instance"),
        timestamp_millis(col("start")).as("inactivity_timestamp_utc"),
        timestamp_millis(col("resumed")).as("resumed_activity_timestamp_utc"))
  }

  /** Instance keys per state partition of [[inactivityDetectionReplay]]'s
    * stateful query (the count is clamped to the session's shuffle
    * partitions). */
  val KeysPerStatePartition: Long = 8192L

  /** Deterministic EVENT-TIME replay of the streaming kernel over a finite
    * log — the verification harness that pins stream ≡ batch: the SAME
    * `flatMapGroupsWithState` kernel the live path runs, driven through
    * real micro-batches (MemoryStream chunks in timestamp order) with the
    * clock taken from each event's own timestamp instead of
    * `current_timestamp()`. After the last chunk, one non-activity probe
    * row per instance at the global max timestamp closes the frontier —
    * the batch analog's open-tail rule — so the emitted changelog equals
    * [[inactivityPeriodsBatch]] exactly (closed gaps with exact resume
    * timestamps via the kernel's sorted within-batch scan, plus open
    * tails), for ANY `batchTicks` chunking.
    *
    * The log feeds the kernel through a FILE-SOURCE spool (r18 — retiring
    * the r14-17 driver-side `toLocalIterator` MemoryStream feed, the last
    * driver funnel in any board row's harness): one JSON-lines file per
    * event-time chunk, written DISTRIBUTEDLY (`partitionBy(chunk)`), then
    * installed into the spool with monotone names and strictly increasing
    * modification times so Spark's file source (`maxFilesPerTrigger=1`,
    * oldest-first) replays exactly one chunk per micro-batch, in order.
    * No event row ever crosses the driver — the install step is O(chunks)
    * rename metadata ops. Timeouts never fire: tick units are opaque to
    * Spark's processing-time clock, and every gap is detected on data. The
    * emitted periods leave the same way: a parquet file sink in the run's
    * scratch dir, read back distributed and materialized before the dir
    * is deleted. Returns a STATIC DataFrame (instance, inactivity_ts,
    * resumed_ts) in the input's tick units. */
  def inactivityDetectionReplay(events: DataFrame, ts: Column, instance: Column,
      allowedTicks: Long, batchTicks: Long): DataFrame = Materialize.scoped { pin =>
    val spark = events.sparkSession
    import spark.implicits._
    // kernel keys are strings; remember the input column's real type so
    // the result casts back (batch-analog / oracle schema parity)
    val instType = events.select(instance.as("i")).schema.head.dataType
    // pinned: the rig reads the projection three times (span agg, the
    // chunked spool write, the probe's instance set) — one source scan,
    // and no consistency hazard if `events` embeds nondeterminism
    val proj = pin(events.select(instance.cast("string").as("i"), ts.cast("long").as("t")))
    // count_distinct rides the span job: the instance count sizes the
    // stateful operator's shuffle/state partitioning below (r21)
    val span = proj.agg(min(col("t")), max(col("t")),
      count_distinct(col("i"))).head()
    require(!span.isNullAt(0), "empty event log")
    val t0 = span.getLong(0)
    val frontier = span.getLong(1)
    // +1 for a null instance group count_distinct skips; added even when no
    // null exists — deliberate slack, it only sizes state partitions
    val nInst = span.getLong(2) + 1
    // batchTicks <= 0 → auto: ~8 event-time chunks. Chunk count is a pure
    // exercise knob (the sorted scan makes results chunking-independent),
    // but each micro-batch pays fixed state-store/shuffle overhead, so a
    // span-proportional chunk width keeps replay wall-time flat across SFs
    val width = if (batchTicks > 0) batchTicks
      else math.max(1L, (frontier - t0) / 8 + 1)
    // ALL paths live on the session's DEFAULT Hadoop filesystem (file:// in
    // local mode, the shared FS on a cluster) and every install op goes
    // through the Hadoop FileSystem API — driver-local java.io listing of a
    // Spark-written directory silently finds nothing once the default FS is
    // not the driver's disk (r18 review)
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new HPath("/tmp",
      s"graft-inact-replay-${java.util.UUID.randomUUID().toString.take(12)}")
    fs.mkdirs(base)
    val stage = new HPath(base, "stage").toString
    val probeStage = new HPath(base, "probe").toString
    val spool = new HPath(base, "spool"); fs.mkdirs(spool)
    val ckpt = new HPath(base, "ckpt").toString
    // distributed chunked write: rows of one event-time chunk land in one
    // partition (repartition on chunk), partitionBy splits one file per chunk
    proj.withColumn("act", lit(true))
      .withColumn("chunk", ((col("t") - t0) / width).cast("long"))
      .repartition(col("chunk"))
      .write.partitionBy("chunk").json(stage)
    // frontier probe = final chunk: one NON-activity row per instance at the
    // global max — instances more than allowedTicks behind it report their
    // open period, exactly the batch analog's open-tail rule
    proj.select(col("i")).distinct()
      .select(col("i"), lit(frontier).as("t"), lit(false).as("act"))
      .coalesce(1).write.json(probeStage)
    // install into the spool in chunk order: monotone names + strictly
    // increasing mtimes (the file source's replay order) — metadata ops only
    def parts(dir: HPath): Seq[HPath] =
      (if (fs.exists(dir)) fs.listStatus(dir) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(st => st.getPath.getName.startsWith("part-") && st.getLen > 0)
        .map(_.getPath).sortBy(_.getName).toSeq
    var seqNo = 0
    var mt = (System.currentTimeMillis() / 1000) * 1000 // whole-second base: FS granularity safe
    def install(f: HPath): Unit = {
      val target = new HPath(spool, f"replay-$seqNo%09d.json")
      fs.rename(f, target)
      fs.setTimes(target, mt, -1)
      seqNo += 1; mt += 2000
    }
    fs.listStatus(new HPath(stage))
      .filter(_.getPath.getName.startsWith("chunk="))
      .sortBy(_.getPath.getName.drop(6).toLong)
      .foreach(d => parts(d.getPath).foreach(install))
    parts(new HPath(probeStage)).foreach(install)
    require(seqNo > 0, "replay spool installed no chunks — staged write and " +
      "install must share the default filesystem")
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("act",
        org.apache.spark.sql.types.BooleanType)))
    val out = new HPath(base, "out").toString
    // Scale-adaptive STATE partitioning (r21, guide §2/§5): a stateful
    // streaming query fixes its state-store partition count at first batch
    // from spark.sql.shuffle.partitions — the SESSION value sized for
    // corpus-scale shuffles, not for this replay's per-instance state. Every
    // micro-batch then pays that many shuffle+state tasks, each opening,
    // versioning and committing its own state store: at 32 cores the replay's
    // 9 batches ran 64 state-machinery tasks per batch for ~1500 keys of
    // state, and the SAME binary at 8 cores measured FASTER (12.3 s vs 5.8 s,
    // BENCH_r20 vs BENCH_r20_c8) — per-batch fixed cost, not compute. Size
    // state partitions to the KEY COUNT (KeysPerStatePartition keys each),
    // clamped to the session value so a corpus with millions of
    // instances still spreads across the cluster. Partitioning never changes
    // flatMapGroupsWithState results — grouping is by key, not partition.
    val sessParts = spark.sessionState.conf.numShufflePartitions
    val stateParts = math.max(1L, math.min(sessParts.toLong,
      (nInst + KeysPerStatePartition - 1) / KeysPerStatePartition)).toInt
    // a fresh session scopes the override to this one streaming query.
    // newSession() starts from SparkConf DEFAULTS, not the caller's runtime
    // conf (the Bpe.scala lesson) — carry the caller's SQL settings (state
    // store provider, timezone, ANSI…) over, THEN apply the partitioning
    // override. Static/immutable entries reject the set — skip them.
    val ss = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try ss.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    ss.conf.set("spark.sql.shuffle.partitions", stateParts)
    val periods = ss.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1)
      .json(spool.toString)
      .select(col("i").as("instance"), lit(false).as("synthetic"),
        col("act").as("isActivity"), col("t").as("nowMs")).as[InactIn]
      .groupByKey(r => (r.synthetic, r.instance))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        kernel(allowedTicks, globalFromStartOnly = false, armTimeouts = false))
      .toDF()
    // file sink, read back distributed: the periods never pass through the
    // driver. The explicit schema keeps a replay with no periods readable
    // (no data files to infer from; the sink's metadata log lists none).
    val q = periods.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // materialized before `base` (sink output included) is deleted below
      Materialize.eager(spark.read.schema(periods.schema).parquet(out)
        .select(col("instance").cast(instType).as("instance"),
          col("start").as("inactivity_ts"),
          col("resumed").as("resumed_ts")))
    } finally {
      // the spool, checkpoint and sink dirs are run-local scratch —
      // repeated replays (specs run 4 per suite) would otherwise
      // accumulate them
      try q.stop()
      finally try fs.delete(base, true) catch { case _: java.io.IOException => () }
    }
  }
}
