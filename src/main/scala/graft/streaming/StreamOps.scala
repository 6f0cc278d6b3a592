package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming surface: Pathway's unified batch/streaming table model mapped to
  * Structured Streaming (SURVEY.md §2.2).
  *
  * Behavior mapping (reference python/pathway/stdlib/temporal/temporal_behavior.py):
  *  - `common_behavior(cutoff=…)`      → `withWatermark(ts, cutoff)` — Spark
  *    drops late rows and frees window state exactly like the engine's
  *    forget/ignore_late (src/engine/dataflow.rs:4202/4249).
  *  - `exactly_once_behavior()`        → append output mode: each window is
  *    emitted once, when the watermark passes its end (dataflow.rs:2010 freeze).
  *  - `delay=`                         → processing-time trigger interval.
  *
  * Changelog model (reference concepts.md:234-243): a stream row is
  * (payload…, time, diff) with diff ∈ {+1, −1}; `toStream` / `fromStreams`
  * convert between snapshot tables and changelogs (table.py:2857/2967).
  */
object StreamOps {

  // ── behaviors ──────────────────────────────────────────────────────────────

  /** cutoff behavior: event-time watermark; rows later than `cutoff` relative
    * to the max observed event time are dropped and stateful operators GC. */
  def withCutoff(df: DataFrame, tsCol: String, cutoff: String): DataFrame =
    df.withWatermark(tsCol, cutoff)

  /** Batch equivalent of ignore_late/forget: drop rows older than
    * (max event time − cutoffNs). The streaming path gets this from the
    * watermark; batch recomputes the threshold exactly. */
  def ignoreLateBatch(df: DataFrame, ts: Column, cutoffNs: Long): DataFrame = {
    // broadcast the 1-row max, never a global window (which would funnel the
    // whole table through one partition)
    val mx = df.agg(max(ts).as("_max_ts"))
    df.crossJoin(broadcast(mx))
      .filter(ts >= col("_max_ts") - expr(s"INTERVAL ${cutoffNs / 1000} MICROSECOND"))
      .drop("_max_ts")
  }

  /** exactly-once windowed aggregation: tumbling window + watermark + append
    * mode — each window emitted exactly once after it closes. Returns a
    * DataStreamWriter ready for `.start()`. */
  def exactlyOnceTumbling(df: DataFrame, tsCol: String, duration: String,
      cutoff: String, keys: Seq[Column], aggs: Seq[Column]): DataStreamWriter[Row] =
    df.withWatermark(tsCol, cutoff)
      .groupBy(window(col(tsCol), duration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .writeStream.outputMode(OutputMode.Append)

  // ── changelog conversions ──────────────────────────────────────────────────

  /** Table → changelog: every current row becomes an insertion (diff=+1) at
    * `timeCol` (processing-time stamp if absent). table.py:2857 to_stream. */
  def toStream(df: DataFrame, timeCol: Option[Column] = None): DataFrame =
    df.withColumn("time", timeCol.getOrElse(current_timestamp()))
      .withColumn("diff", lit(1))

  /** Changelog → table snapshot: apply diffs in time order per key.
    * Insert-wins-then-retract semantics: net count per (key, payload) =
    * Σ diff; rows with net > 0 survive, and the latest surviving payload per
    * key is the snapshot (is_upsert=true keeps last payload regardless of
    * retractions — io upsert mode, table.py:2967 from_streams). */
  def streamToTable(changelog: DataFrame, keyCols: Seq[String],
      timeCol: String = "time", diffCol: String = "diff",
      isUpsert: Boolean = false): DataFrame = {
    val payload = changelog.columns.filterNot(c =>
      c == timeCol || c == diffCol || keyCols.contains(c))
    val k = keyCols.map(col)
    if (isUpsert) {
      // latest event per key wins; ties broken by larger diff (insert beats
      // retract at the same time), then by payload values — a TOTAL order, so
      // the winner is deterministic under any shuffle/partition order
      changelog.groupBy(k: _*)
        .agg(max_by(struct((payload :+ diffCol).map(col): _*),
          struct(col(timeCol) +: col(diffCol) +: payload.map(col): _*)).as("_s"))
        .filter(col("_s." + diffCol) > 0)
        .select(k ++ payload.map(c => col("_s." + c).as(c)): _*)
    } else {
      // net-count semantics per full row value
      changelog.groupBy(k ++ payload.map(col): _*)
        .agg(sum(col(diffCol)).as("_net"), max(col(timeCol)).as("_t"))
        .filter(col("_net") > 0)
        .groupBy(k: _*)
        .agg(max_by(struct(payload.map(col): _*), col("_t")).as("_s"))
        .select(k ++ payload.map(c => col("_s." + c).as(c)): _*)
    }
  }

  /** Upsert-session event stream → ±1 changelog (reference
    * SessionType.UPSERT, connectors/mod.rs session handling; r16 decode of
    * test_io.py:2424-2598 test_python_connector_upsert_raw/json,
    * removal_by_key): an `add(key, payload)` REPLACES the key's previous
    * value — it emits a retraction of the old payload AND an insertion of
    * the new one; a `remove(key, _)` retracts the key's CURRENT value (the
    * supplied payload is IGNORED — removal is by key); a remove of an
    * absent key emits nothing. The fixture's 5-event count (add/remove/
    * add/add on one key) pins the expansion.
    *
    * Batch form: one per-key window sort (single shuffle), then a 0-2-row
    * explode per event — no driver state. `events` needs (`opCol` ∈
    * add|remove, `timeCol`, key columns, payload columns). */
  def upsertSessionToChangelog(events: DataFrame, keyCols: Seq[String],
      opCol: String = "op", timeCol: String = "time"): DataFrame = {
    val payload = events.columns.filterNot(c =>
      c == opCol || c == timeCol || keyCols.contains(c)).toSeq
    require(!payload.contains("diff"),
      "payload column name 'diff' is reserved by the changelog")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
    // state after an event: the payload for add, cleared for remove —
    // materialized BEFORE the explode (window functions can't sit under a
    // generator)
    val stateAfter = when(col(opCol) === "add",
      struct(payload.map(col): _*)).otherwise(lit(null))
    val withPrev = events.withColumn("_prev", lag(stateAfter, 1).over(w))
    val prev = col("_prev")
    val oldImage = struct(payload.map(n => prev(n).as(n)) :+ lit(-1).as("diff"): _*)
    val newImage = struct(payload.map(col) :+ lit(1).as("diff"): _*)
    val out = when(col(opCol) === "add" && prev.isNotNull, array(oldImage, newImage))
      .when(col(opCol) === "add", array(newImage))
      .when(col(opCol) === "remove" && prev.isNotNull, array(oldImage))
      .otherwise(slice(array(newImage), 1, 0)) // remove of an absent key: nothing
    withPrev
      .select(keyCols.map(col) :+ col(timeCol) :+ explode(out).as("_e"): _*)
      .select(keyCols.map(col) ++ payload.map(n => col(s"_e.$n")) :+
        col(timeCol) :+ col("_e.diff").as("diff"): _*)
  }

  /** `_remove_retractions` (table.py; tests/test_common.py
    * test_remove_retractions): drops every deletion from a changelog so the
    * result accumulates ALL values ever inserted — retracted rows stay. The
    * output stream is exactly the diff=+1 slice at its original times (the
    * fixture's expected_stream), so the batch form is a plain filter; on a
    * live stream the same filter over a deltas column applies. Marks the
    * result append-only like the reference. */
  def removeRetractions(changelog: DataFrame, diffCol: String = "diff"): DataFrame =
    changelog.filter(col(diffCol) > 0)

  /** `_deletions_enabled = False` contract (r17 decode of test_io.py
    * test_python_connector_deletions_disabled*): a source declaring
    * deletions-disabled passes insertions through untouched but FAILS the
    * run with the reference's message the moment a retraction appears —
    * not a silent filter. */
  def assertDeletionsDisabled(changelog: DataFrame, name: String,
      diffCol: String = "diff"): DataFrame =
    changelog.where(when(col(diffCol) < 0, raise_error(lit(
      s"Trying to delete a row in $name but deletions_enabled is set to False")))
      .otherwise(lit(true)))

  // ── stream-static (asof_now) join ──────────────────────────────────────────

  /** asof_now_join (reference _asof_now_join.py:176): left stream rows join
    * the RIGHT side's state as of processing time; left must be append-only
    * and results never retro-update. In Spark this is exactly a stream-static
    * join: the static side is re-read per micro-batch. */
  def asofNowJoin(leftStream: DataFrame, rightStatic: DataFrame,
      cond: Column, how: String = "inner"): DataFrame =
    leftStream.join(rightStatic, cond, how)

  // ── stateful deduplicate (acceptor) ────────────────────────────────────────

  /** Streaming deduplicate with a user acceptor (reference
    * stdlib/stateful/deduplicate.py:9 — `acceptor(new, old) => replace?`).
    * State per key = last accepted value; each arriving value is kept only if
    * there is no previous value or `acceptor(new, old)` is true.
    * Works on Dataset[(K, V)] so user types stay checked; use in
    * `ds.groupByKey(_._1).flatMapGroupsWithState(...)(dedupAcceptor(acceptor))`.
    */
  def dedupAcceptor[K, V](acceptor: (V, V) => Boolean): (K, Iterator[(K, V)], GroupState[V]) => Iterator[(K, V)] =
    (key: K, rows: Iterator[(K, V)], state: GroupState[V]) => {
      var emitted = List.empty[(K, V)]
      rows.foreach { case (_, v) =>
        val accept = !state.exists || acceptor(v, state.get)
        if (accept) { state.update(v); emitted = (key, v) :: emitted }
      }
      emitted.reverseIterator
    }

  /** Streaming MinHash near-dup detection: every arriving document is checked
    * against ALL previously seen documents that share an LSH band bucket, and
    * (min_id, max_id, est_jaccard) candidate pairs are emitted as the stream
    * flows — the streaming face of Dedup.minhashLsh, for dedup-at-ingest
    * pipelines that must reject near-copies before they reach the corpus.
    *
    * Semantics: pairs carry the SIGNATURE-ESTIMATED jaccard (matching
    * signature slots / numHashes) ≥ threshold. The batch path verifies
    * candidates with exact shingle jaccard; a stream cannot re-shingle
    * history without holding full texts in state, so the streaming contract
    * is estimate-based (32 hashes ⇒ σ ≈ 0.07; callers needing exactness
    * route candidates through a batch verify join against the stored corpus).
    * A pair that shares several bands is emitted once per matching band —
    * compose with dropDuplicates(id1, id2) downstream (watermark-scoped in
    * production).
    *
    * State: per (band, bucket), up to `bucketCap` (id, signature) members —
    * the streaming twin of the batch hot-bucket guard: members beyond the cap
    * still COMPARE against the held ones (so a boilerplate flood keeps
    * linking to its representatives) but stop expanding state, bounding any
    * single bucket. Total state ≈ bands × corpus × (8·numHashes + 8) bytes
    * (~2 KB/doc at 32 hashes × 8 bands) — the full-history footprint any
    * against-everything-seen dedup carries; use the RocksDB state store
    * beyond memory scale. NoTimeout by design: near-dup history must not
    * expire with a watermark.
    *
    * Wire as: signatures → band explode → groupByKey((band, bucket)) →
    * flatMapGroupsWithState(Append, NoTimeout)(minhashDedupKernel(...)), or
    * use [[minhashDedupStream]] which does exactly that. */
  def minhashDedupKernel(numHashes: Int, threshold: Double, bucketCap: Int):
      ((Int, Long), Iterator[(Long, Seq[Long], Int, Long)],
        GroupState[Array[Byte]]) => Iterator[(Long, Long, Double)] =
    (_, rows, state) => {
      // state = packed members: [id:Long][sig:Long×numHashes] each — a flat
      // byte array serializes as-is through the state store, where the
      // first-cut Seq[(Long, Seq[Long])] state paid a nested Tungsten
      // encode/decode per arrival (first cut measured 3.3k docs/s; packed-
      // state rungs: BASELINE.md "Full streaming sweep r11")
      val entry = 8 * (numHashes + 1)
      var buf = if (state.exists) state.get else Array.emptyByteArray
      var bb = java.nio.ByteBuffer.wrap(buf)
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
      rows.foreach { case (id, sigSeq, _, _) =>
        val n = buf.length / entry
        var dup = false
        var m = 0
        while (m < n && !dup) { dup = bb.getLong(m * entry) == id; m += 1 }
        if (!dup) {
          val sig = new Array[Long](numHashes)
          var s = 0
          while (s < numHashes) { sig(s) = sigSeq(s); s += 1 }
          m = 0
          while (m < n) {
            val base = m * entry
            var eq = 0; s = 0
            while (s < numHashes) {
              if (bb.getLong(base + 8 + 8 * s) == sig(s)) eq += 1; s += 1
            }
            val est = eq.toDouble / numHashes
            if (est >= threshold) {
              val oid = bb.getLong(base)
              out += ((math.min(id, oid), math.max(id, oid), est))
            }
            m += 1
          }
          if (n < bucketCap) {
            val nb = java.util.Arrays.copyOf(buf, buf.length + entry)
            val b2 = java.nio.ByteBuffer.wrap(nb)
            b2.putLong(buf.length, id)
            s = 0
            while (s < numHashes) { b2.putLong(buf.length + 8 + 8 * s, sig(s)); s += 1 }
            buf = nb; bb = b2
          }
        }
      }
      state.update(buf)
      out.iterator
    }

  /** [[minhashDedupKernel]] wired end-to-end: streaming (or batch) docs in,
    * (id1, id2, est_jaccard) candidate stream out. For CORPUS-scale dedup
    * use the batch path ([[graft.operators.Dedup.dedupPipeline]]) — this
    * kernel is for live-ingest near-dup flagging at ingest rates. The
    * pre-aggregating and coarse-state kernel variants were measured and
    * closed (BASELINE.md r13 state-topology and r15 pre-aggregation). */
  def minhashDedupStream(df: DataFrame, id: Column, text: Column,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.8,
      bucketCap: Int = graft.operators.Dedup.DefaultBucketCap): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    // the estimate is a fraction of matching slots, so a threshold above
    // 1.0 can never match: reject it rather than emit a silently empty stream
    require(threshold <= 1.0, s"threshold=$threshold must be <= 1.0")
    val sess = df.sparkSession
    import sess.implicits._
    val rpb = numHashes / bands
    val sigs = graft.operators.Dedup.minhashSignatures(df, id, text, k, numHashes)
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b) +: (b * rpb until (b + 1) * rpb).map(s => col("_mins")(s)): _*)
    }
    sigs.select(col("id"), col("_mins"),
        posexplode(array(bandKeys: _*)).as(Seq("_band", "_bucket")))
      .as[(Long, Seq[Long], Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        minhashDedupKernel(numHashes, threshold, bucketCap))
      .toDF("id1", "id2", "est_jaccard")
  }

  /** Batch deduplicate with acceptor semantics for an ORDERED replay: fold
    * rows per instance in `orderBy` order through the acceptor, keep the
    * final accepted row. (Batch = replaying the whole stream at one time.) */
  def deduplicateBatch(df: DataFrame, instance: Seq[Column], orderBy: Column,
      acceptorSql: (Column, Column) => Column, valueCol: Column,
      valueType: org.apache.spark.sql.types.DataType): DataFrame = {
    // fold via aggregate over the time-ordered collected values: tiny state per
    // group (the accepted value), one shuffle — same state machine as streaming
    val ordered = sort_array(collect_list(struct(orderBy.as("_o"), valueCol.as("_v"))))
    val folded = aggregate(ordered, lit(null).cast(valueType),
      (acc, x) => when(acc.isNull || acceptorSql(x.getField("_v"), acc), x.getField("_v"))
        .otherwise(acc))
    df.groupBy(instance: _*).agg(folded.as("accepted"))
  }

  // ── buffer (reorder/delay) ─────────────────────────────────────────────────

  /** `buffer` (reference table.py:921, engine dataflow.rs:4154): hold rows
    * until the watermark passes their event time + delay, then release them in
    * event-time order — turning an out-of-order stream into an in-order one at
    * the cost of `delay` latency.
    *
    * flatMapGroupsWithState kernel with event-time timeout: rows accumulate in
    * per-key state; each timeout releases everything older than the current
    * watermark, sorted. Use as
    * `ds.groupByKey(key).flatMapGroupsWithState(Append, EventTimeTimeout)(
    *    bufferKernel[K, V](getEventTimeMs))` on a watermarked Dataset.
    */
  def bufferKernel[K, V](eventTimeMs: V => Long,
      dropPastDue: Boolean = true): (K, Iterator[V], GroupState[List[V]]) => Iterator[V] =
    (key: K, rows: Iterator[V], state: GroupState[List[V]]) => {
      val wm = state.getCurrentWatermarkMs()
      if (state.hasTimedOut) {
        val (ripe, hold) = state.getOption.getOrElse(Nil).partition(eventTimeMs(_) <= wm)
        if (hold.isEmpty) state.remove() else {
          state.update(hold)
          state.setTimeoutTimestamp(hold.map(eventTimeMs).min + 1)
        }
        ripe.sortBy(eventTimeMs).iterator
      } else {
        // flatMapGroupsWithState does NOT pre-filter late rows: an arrival
        // already at-or-behind the watermark must not enter the buffer (its
        // timeout would be in the past, which Spark rejects — query death).
        // Buffer semantics (release time = event time) DROP it: the row is
        // late and the in-order releases up to wm already went out
        // (ignore_late). Delay semantics (release time = t + delay) EMIT it
        // now: its hold period has fully elapsed.
        val (pastDue, future) = rows.toList.partition(eventTimeMs(_) <= wm)
        val buf = state.getOption.getOrElse(Nil) ++ future
        if (buf.nonEmpty) {
          state.update(buf)
          // wake as soon as the watermark can next release something; held
          // rows are all > wm by construction, so the timeout is valid
          state.setTimeoutTimestamp(buf.map(eventTimeMs).min + 1)
        }
        if (dropPastDue) Iterator.empty else pastDue.sortBy(eventTimeMs).iterator
      }
    }

  /** Batch equivalent of buffer: a total event-time sort (batch mode sees the
    * whole stream, so "wait until threshold then emit in order" = sort). */
  def bufferBatch(df: DataFrame, ts: Column): DataFrame = df.orderBy(ts)

  /** behavior `delay` (reference temporal_behavior.py:21 common_behavior —
    * postpone emission until `delay` past the row's event time): the buffer
    * kernel on a clock shifted by `delayMs`, so a row releases once the
    * watermark passes eventTime + delay. Compose after a windowed aggregate
    * to delay that window's first output, exactly the reference's semantics. */
  def delayKernel[K, V](eventTimeMs: V => Long, delayMs: Long):
      (K, Iterator[V], GroupState[List[V]]) => Iterator[V] =
    // a row whose t + delay already passed the watermark has served its
    // full hold — emit immediately rather than dropping it
    bufferKernel[K, V](v => eventTimeMs(v) + delayMs, dropPastDue = false)

  // ── stream-stream asof join (SURVEY known-hard #2; reference
  //    _asof_join.py backward semantics over two live streams) ────────────────

  /** One event of the unioned (left ∪ right) stream feeding the asof kernel. */
  final case class AsofEvent[L, R](isLeft: Boolean, timeMs: Long,
      left: Option[L], right: Option[R])

  final case class AsofJoinState[L, R](lefts: List[(Long, L)], rights: List[(Long, R)])

  /** flatMapGroupsWithState kernel for a per-key BACKWARD asof join of two
    * streams sharing one watermark: a left row (t, l) waits until the
    * watermark passes t — at which point every right row with time ≤ t has
    * arrived — and emits (t, l, latest right ≤ t). State is bounded by the
    * watermark: held lefts are all later than it, and of the rights at or
    * before it only the single latest survives (any future left still matches
    * that one). Use as
    * `union.groupByKey(key).flatMapGroupsWithState(Append, EventTimeTimeout)(
    *    asofJoinKernel[K, L, R])` on a watermarked union. Ties on right time
    * resolve to the last-arrived row — give rights a total time order for
    * full determinism (same contract as the batch asofJoin). */
  def asofJoinKernel[K, L, R]: (K, Iterator[AsofEvent[L, R]],
      GroupState[AsofJoinState[L, R]]) => Iterator[(K, Long, L, Option[R])] =
    (key: K, rows: Iterator[AsofEvent[L, R]], state: GroupState[AsofJoinState[L, R]]) => {
      val st0 = state.getOption.getOrElse(AsofJoinState[L, R](Nil, Nil))
      val wm = state.getCurrentWatermarkMs()
      val st1 = if (state.hasTimedOut) st0 else {
        // drop events at or behind the watermark (the ignore-late contract):
        // the right history before the watermark is already compacted, so a
        // late left could otherwise emit a wrong None-match
        val evs = rows.toList.filter(_.timeMs > wm)
        AsofJoinState(
          st0.lefts ++ evs.filter(_.isLeft).map(e => e.timeMs -> e.left.get),
          st0.rights ++ evs.filter(!_.isLeft).map(e => e.timeMs -> e.right.get))
      }
      val (ripe, hold) = st1.lefts.partition(_._1 <= wm)
      val out = ripe.sortBy(_._1).map { case (lt, lv) =>
        val candidates = st1.rights.filter(_._1 <= lt)
        val m = if (candidates.isEmpty) None else Some(candidates.maxBy(_._1)._2)
        (key, lt, lv, m)
      }
      val (future, past) = st1.rights.partition(_._1 > wm)
      val keepPast = if (past.isEmpty) Nil else List(past.maxBy(_._1))
      val next = AsofJoinState(hold, keepPast ++ future)
      if (next.lefts.isEmpty && next.rights.isEmpty) state.remove()
      else {
        state.update(next)
        // held-left release times, plus future-right times so a quiescent
        // key still compacts its rights down to the single backward seed
        // as the watermark advances (not-yet-final rights would otherwise
        // sit in the store until the next event for this key)
        val wake = next.lefts.map(_._1) ++ future.map(_._1)
        if (wake.nonEmpty) state.setTimeoutTimestamp(math.max(wake.min, wm) + 1)
      }
      out.iterator
    }

  /** flatMapGroupsWithState kernel for a per-key FORWARD asof join of two
    * streams sharing one watermark: a left row (t, l) matches the EARLIEST
    * right with time ≥ t. The match is final once the watermark passes the
    * best candidate r* (= min held right ≥ t): every right at or before r*
    * has then arrived, so nothing can undercut it. A left with no candidate
    * yet holds — its match may arrive arbitrarily late, so (unlike backward)
    * the forward kernel never emits None; that is the forward contract, not
    * a bug. Rights at or behind the watermark that resolved nothing are
    * dropped: a future left arrives past the watermark, so a forward match
    * for it can't be behind the watermark. */
  def asofForwardKernel[K, L, R]: (K, Iterator[AsofEvent[L, R]],
      GroupState[AsofJoinState[L, R]]) => Iterator[(K, Long, L, Option[R])] =
    asofForwardKernelImpl[K, L, R](Long.MaxValue)

  /** [[asofForwardKernel]] with a max-hold TTL: a left that still has NO
    * forward candidate once the watermark passes `t + maxWaitMs` emits
    * `(t, l, None)` and releases its state — bounding state for keys whose
    * right stream stops (abandoned sessions, dead producers). A left whose
    * candidate exists but isn't final yet is NOT expired: its resolution is
    * already watermark-scheduled and its state bounded by the candidate's
    * time. The plain kernel (`maxWaitMs = ∞`) holds candidate-less lefts
    * forever — the exact forward contract, with the documented
    * unbounded-state risk this variant trades a None-match for. */
  def asofForwardKernelTtl[K, L, R](maxWaitMs: Long): (K, Iterator[AsofEvent[L, R]],
      GroupState[AsofJoinState[L, R]]) => Iterator[(K, Long, L, Option[R])] =
    asofForwardKernelImpl[K, L, R](maxWaitMs)

  private def asofForwardKernelImpl[K, L, R](maxWaitMs: Long): (K, Iterator[AsofEvent[L, R]],
      GroupState[AsofJoinState[L, R]]) => Iterator[(K, Long, L, Option[R])] =
    (key: K, rows: Iterator[AsofEvent[L, R]], state: GroupState[AsofJoinState[L, R]]) => {
      val st0 = state.getOption.getOrElse(AsofJoinState[L, R](Nil, Nil))
      val wm = state.getCurrentWatermarkMs()
      val st1 = if (state.hasTimedOut) st0 else {
        val evs = rows.toList.filter(_.timeMs > wm) // ignore-late contract
        AsofJoinState(
          st0.lefts ++ evs.filter(_.isLeft).map(e => e.timeMs -> e.left.get),
          st0.rights ++ evs.filter(!_.isLeft).map(e => e.timeMs -> e.right.get))
      }
      // a left resolves iff its earliest right >= lt is itself final (<= wm);
      // ties on right time resolve to the earlier-listed (arrival) row
      def candidate(lt: Long): Option[(Long, R)] = {
        val cs = st1.rights.filter(_._1 >= lt)
        if (cs.isEmpty) None else Some(cs.minBy(_._1))
      }
      def expiry(lt: Long): Long = // saturating: lt + large finite maxWaitMs
        if (lt > Long.MaxValue - maxWaitMs) Long.MaxValue else lt + maxWaitMs
      val (ripe, rest) = st1.lefts.partition(lt => candidate(lt._1).exists(_._1 <= wm))
      // TTL: candidate-less lefts past their hold window resolve to None
      val (expired, hold) = rest.partition { case (lt, _) =>
        candidate(lt).isEmpty && expiry(lt) <= wm }
      val out = (ripe ++ expired).sortBy(_._1).map { case (lt, lv) =>
        (key, lt, lv, candidate(lt).filter(_._1 <= wm).map(_._2))
      }
      val next = AsofJoinState(hold, st1.rights.filter(_._1 > wm))
      if (next.lefts.isEmpty && next.rights.isEmpty) state.remove()
      else {
        state.update(next)
        // wake when the earliest pending candidate becomes final, when any
        // held right passes the watermark — so a key that stops receiving
        // events still prunes its rights and eventually removes its state
        // instead of leaking it — and (TTL variant) when a candidate-less
        // left's hold window lapses. With maxWaitMs = ∞ candidate-less
        // lefts alone set no timeout: they can only resolve on a right
        // arrival, which re-invokes the kernel (the forward contract).
        val wake = next.lefts.flatMap(l => candidate(l._1).map(_._1)) ++
          next.rights.map(_._1) ++
          next.lefts.collect { case (lt, _) if candidate(lt).isEmpty &&
            expiry(lt) != Long.MaxValue => expiry(lt) }
        if (wake.nonEmpty) state.setTimeoutTimestamp(math.max(wake.min, wm) + 1)
      }
      out.iterator
    }

  /** Per-left state for the NEAREST kernel: the best candidate seen so far
    * travels with the left (so matched rights can compact away). */
  final case class AsofNearestState[L, R](
      lefts: List[(Long, L, Option[(Long, R)])], rights: List[(Long, R)])

  /** flatMapGroupsWithState kernel for a per-key NEAREST asof join: a left
    * at t matches the right minimizing |rt − t|, ties to the FORWARD side
    * (same rule as the batch [[graft.operators.Temporal.asofNearest]] and
    * the reference's _asof_join.py:312 strict-`<` prev selection). A
    * left with best-so-far distance d is final once the watermark passes
    * STRICTLY beyond t + d: an exact-tie forward row at t + d WINS the
    * tie, so the left may only finalize once such a row is provably late
    * under ANY late-filter convention (`<= wm` or `< wm` drop) — with
    * ripeness at `t + d <= wm` the guarantee held only because the entry
    * filter happens to drop at `<= wm`, one edit away from a silent
    * boundary divergence from the batch tie rule (r14 ADVICE).
    * Each left folds its best candidate into its own state, so rights
    * behind the watermark compact to the single latest (the backward seed
    * for future lefts) exactly like the backward kernel. A left that has
    * never seen any right holds (no distance bound exists yet). */
  def asofNearestKernel[K, L, R]: (K, Iterator[AsofEvent[L, R]],
      GroupState[AsofNearestState[L, R]]) => Iterator[(K, Long, L, Option[R])] =
    (key: K, rows: Iterator[AsofEvent[L, R]], state: GroupState[AsofNearestState[L, R]]) => {
      val st0 = state.getOption.getOrElse(AsofNearestState[L, R](Nil, Nil))
      val wm = state.getCurrentWatermarkMs()
      val (lefts0, rights0) = if (state.hasTimedOut) (st0.lefts, st0.rights) else {
        val evs = rows.toList.filter(_.timeMs > wm)
        (st0.lefts ++ evs.filter(_.isLeft).map(e => (e.timeMs, e.left.get,
           Option.empty[(Long, R)])),
         st0.rights ++ evs.filter(!_.isLeft).map(e => e.timeMs -> e.right.get))
      }
      // (distance, backward?) orders candidates: smaller distance wins, ties
      // prefer FORWARD; equal-time rights keep the first-listed (arrival)
      def rank(lt: Long)(c: (Long, R)) = (math.abs(c._1 - lt), if (c._1 > lt) 0 else 1)
      val updated = lefts0.map { case (lt, lv, best) =>
        val cands = best.toList ++ rights0
        val nb = if (cands.isEmpty) None else Some(cands.minBy(rank(lt)))
        (lt, lv, nb)
      }
      val (ripe, hold) = updated.partition { case (lt, _, best) =>
        best.exists(b => lt + math.abs(b._1 - lt) < wm) }
      val out = ripe.sortBy(_._1).map { case (lt, lv, best) =>
        (key, lt, lv, best.map(_._2)) }
      val (future, past) = rights0.partition(_._1 > wm)
      val keepPast = if (past.isEmpty) Nil else List(past.maxBy(_._1))
      val next = AsofNearestState(hold, keepPast ++ future)
      if (next.lefts.isEmpty && next.rights.isEmpty) state.remove()
      else {
        state.update(next)
        // resolution times of candidated lefts, plus held-right times so a
        // quiescent key still compacts its rights (and removes its state)
        // as the watermark advances instead of leaking it
        val wake = next.lefts.flatMap { case (lt, _, best) =>
          best.map(b => lt + math.abs(b._1 - lt)) } ++
          next.rights.map(_._1)
        if (wake.nonEmpty) state.setTimeoutTimestamp(math.max(wake.min, wm) + 1)
      }
      out.iterator
    }

  // ── exactly-once joins (reference `Table.join(left_exactly_once,
  //    right_exactly_once)`; engine dataflow.rs:2796) ───────────────────────

  /** One event of the unioned (left ∪ right) stream feeding
    * [[exactlyOnceJoinKernel]]. */
  final case class JoinEvent[L, R](isLeft: Boolean, left: Option[L], right: Option[R])

  final case class XOnceJoinState[L, R](lefts: List[L], rights: List[R])

  /** flatMapGroupsWithState kernel for an INNER equi-join where either
    * side may be declared EXACTLY-ONCE: a row on such a side joins at
    * most once and is then retired (reference dataflow.rs:2796 — the
    * matched rows feed back as retractions at the next timestamp, so
    * they cannot match again; replayed against all four
    * test_inner_join_exactly_once vectors in JoinFixtureSpec).
    *
    * Batch-arrival translation of the timestamp semantics: within one
    * micro-batch, new rows match ALL available counterparts (held state
    * plus same-batch arrivals — the reference emits every pair at the
    * arrival timestamp before the retraction lands at t+ε). An
    * exactly-once side's row that participates in MORE THAN ONE pair at
    * one timestamp is rejected — in the reference that row appears twice
    * in the retraction batch and `assert_distinct_batch` raises
    * "Repeated entry in a batch." (so the error fires when the repeats
    * MATCH, not when they arrive — test_inner_join_exactly_once_with_
    * repeats errors only once the left shows up); then each exactly-once
    * side drops its matched rows.
    *
    * State is the unmatched rows only; unmatched rows accumulate on
    * either side until a counterpart arrives (same as the reference's
    * arrangement — bound a non-exactly-once side upstream with a
    * watermark filter if its counterpart can lag unboundedly). Use as
    * `union.groupByKey(key).flatMapGroupsWithState(Append, NoTimeout)(
    *    exactlyOnceJoinKernel[K, L, R](leftOnce, rightOnce))`. */
  def exactlyOnceJoinKernel[K, L, R](leftOnce: Boolean, rightOnce: Boolean):
      (K, Iterator[JoinEvent[L, R]], GroupState[XOnceJoinState[L, R]]) => Iterator[(K, L, R)] =
    (key: K, rows: Iterator[JoinEvent[L, R]], state: GroupState[XOnceJoinState[L, R]]) => {
      val st = state.getOption.getOrElse(XOnceJoinState[L, R](Nil, Nil))
      val evs = rows.toList
      val nl = evs.filter(_.isLeft).map(_.left.get)
      val nr = evs.filter(!_.isLeft).map(_.right.get)
      // per-row pair multiplicities this batch: a new left matches every
      // available right (held + same-batch), a held left only the new ones
      val availR = st.rights ++ nr
      if (leftOnce && ((nl.nonEmpty && availR.length > 1) ||
          (st.lefts.nonEmpty && nr.length > 1)))
        throw new IllegalStateException(
          s"Repeated entry in a batch: a left row for key $key would match " +
            "multiple rights at once with left_exactly_once=true")
      if (rightOnce && ((nr.nonEmpty && st.lefts.length + nl.length > 1) ||
          (st.rights.nonEmpty && nl.length > 1)))
        throw new IllegalStateException(
          s"Repeated entry in a batch: a right row for key $key would match " +
            "multiple lefts at once with right_exactly_once=true")
      // pairs with at least one NEW participant (old × old already emitted)
      val out = (for (l <- nl; r <- availR) yield (key, l, r)) ++
        (for (l <- st.lefts; r <- nr) yield (key, l, r))
      val keepL =
        if (!leftOnce) st.lefts ++ nl
        else (if (nr.nonEmpty) Nil else st.lefts) ++ (if (availR.nonEmpty) Nil else nl)
      val keepR =
        if (!rightOnce) availR
        else (if (nl.nonEmpty) Nil else st.rights) ++
          (if ((st.lefts ++ nl).nonEmpty) Nil else nr)
      if (keepL.isEmpty && keepR.isEmpty) state.remove()
      else state.update(XOnceJoinState(keepL, keepR))
      out.iterator
    }

  /** STREAMING iterate (reference `pw.iterate` over live tables — engine
    * dataflow.rs:5046 maintains the fixpoint incrementally inside timely
    * loops). Structured Streaming has no iterative operator, so the honest
    * Spark translation is RECOMPUTE-ON-SNAPSHOT: each micro-batch appends to
    * an accumulated input snapshot (eagerly localCheckpointed, so lineage
    * stays flat across epochs) and the batch fixpoint
    * ([[graft.operators.Iterate.fixpoint]]) re-runs on it; `onResult`
    * receives the converged table per epoch. Correctness is identical to
    * the reference (the fixpoint of the current input); the cost model is
    * full recompute per batch rather than incremental maintenance — right
    * for Spark, where the per-pass work is a handful of shuffle jobs and
    * snapshots are columnar-cached. On a real cluster prefer a checkpoint
    * dir + `reliable` fixpoints for executor-loss safety, and widen the
    * trigger interval so recompute cost amortizes over batch size.
    *
    * Delivery semantics: foreachBatch is AT-LEAST-ONCE — after a failure the
    * same epoch id can replay. Replayed epochs are NOT re-appended (the last
    * processed epoch id is tracked; a replay recomputes and re-emits the
    * fixpoint of the EXISTING snapshot, so `onResult` stays idempotent-safe).
    * The snapshot lives in driver memory only and does NOT survive a query
    * restart from checkpoint: on restart the accumulator starts empty and
    * the fixpoint covers rows seen since the restart. To make the snapshot
    * durable, either replay the source from earliest on restart or rebuild
    * the accumulator from a durable sink before calling this. */
  def iterateOnStream(stream: DataFrame,
      init: DataFrame => DataFrame,
      step: (DataFrame, DataFrame) => DataFrame,
      maxIterations: Int = 50)(onResult: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    var acc: DataFrame = null
    var lastEpoch = Long.MinValue
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      if (epoch > lastEpoch) {
        lastEpoch = epoch
        // checkpoint ONLY the new batch: the snapshot is then a union of
        // individually-checkpointed leaves — flat lineage depth at O(batch)
        // cost per epoch, where re-checkpointing the whole union would copy
        // every historical row again each epoch (O(total²) cumulative)
        val b = graft.operators.Materialize.eager(batch)
        acc = if (acc == null) b else acc.unionByName(b)
      }
      // replayed epoch (epoch <= lastEpoch): the rows are already in the
      // snapshot — recompute and re-emit without double-appending
      val snap = acc
      if (snap != null)
        onResult(graft.operators.Iterate.fixpoint(
          init(snap), st => step(st, snap), maxIterations), epoch)
    }
  }

  // ── sinks ──────────────────────────────────────────────────────────────────

  /** subscribe(on_change) — reference io/_subscribe.py:17: per-microbatch
    * callback with the batch DataFrame and epoch id (foreachBatch). */
  def subscribe(df: DataFrame, onChange: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch(onChange)

  /** Demo/rate source (reference demo/__init__.py range_stream): monotonically
    * increasing `value` rows at `rowsPerSecond`. */
  def rateStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()

  /** Run a streaming query to completion of available data (test helper —
    * availableNow trigger processes everything then stops). */
  def runAvailableNow(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q
  }
}
