package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

/** Streaming semantics (SURVEY §2.2): windows+watermark behavior mapping,
  * stateful acceptor dedup, changelog conversions, foreachBatch sinks — all
  * exercised through real Structured Streaming micro-batches via MemoryStream. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tumbling window + cutoff behavior drops late rows and emits each window once") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val writer = StreamOps.exactlyOnceTumbling(
      input.toDF().toDF("t", "k"), "t", "10 minutes", "5 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = writer.format("memory").queryName("tumble_out").start()
    // watermark advances BETWEEN micro-batches: batch 1 sets it from max event
    // time − cutoff; the batch after the advance emits the closed windows
    input.addData((ts("2024-01-01 00:01:00"), "a"), (ts("2024-01-01 00:02:00"), "a"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:31:00"), "a")) // moves watermark to 00:26
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:32:00"), "a")) // next batch flushes closed windows
    q.processAllAvailable()
    val out = spark.table("tumble_out").select(col("window.start").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    // window [00:00,00:10) closed (watermark 00:26): emitted exactly once with 2 rows
    assert(out("2024-01-01 00:00:00") == 2L)
    // windows at/after the watermark are not emitted yet (append semantics)
    assert(!out.contains("2024-01-01 00:30:00"))
    q.stop()
  }

  test("acceptor deduplicate keeps state across micro-batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // acceptor: replace only if new value strictly larger (monotone dedup)
    val flat = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StreamOps.dedupAcceptor[String, Long]((n, o) => n > o))
    val q = flat.toDF("k", "v").writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(("a", 5L), ("a", 3L), ("b", 1L)) // 3 rejected (<=5)
    q.processAllAvailable()
    input.addData(("a", 7L), ("b", 1L))            // 7 accepted, dup 1 rejected
    q.processAllAvailable()
    val out = spark.table("dedup_out").as[(String, Long)].collect().toSeq
    assert(out.sorted == Seq(("a", 5L), ("a", 7L), ("b", 1L)))
    q.stop()
  }

  test("streaming minhash near-dup: arrivals match against all history, cap bounds state") {
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronauts deliberate about breakfast in the orbital cafeteria"
    val input = MemoryStream[(Long, String)]
    val pairs = StreamOps.minhashDedupStream(input.toDF().toDF("doc_id", "text"),
      col("doc_id"), col("text"), threshold = 0.7)
    val q = pairs.writeStream.format("memory").queryName("mh_stream")
      .outputMode("append").start()
    input.addData((1L, base), (50L, "an entirely unrelated note about volcano insurance premiums"))
    q.processAllAvailable()
    assert(spark.table("mh_stream").count() == 0, "no dups yet")
    input.addData((2L, base + " tail"))   // near-dup of 1, later batch
    q.processAllAvailable()
    input.addData((3L, base))             // exact dup of 1, matches 1 AND 2
    q.processAllAvailable()
    val out = spark.table("mh_stream").select("id1", "id2").distinct()
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $out")
    q.stop()

    // hot-bucket cap: 4 clones with cap=2 — late clones link to the held
    // representatives but never pair among themselves (state stays bounded)
    val input2 = MemoryStream[(Long, String)]
    val capped = StreamOps.minhashDedupStream(input2.toDF().toDF("doc_id", "text"),
      col("doc_id"), col("text"), threshold = 0.7, bucketCap = 2)
    val q2 = capped.writeStream.format("memory").queryName("mh_capped")
      .outputMode("append").start()
    input2.addData((1L, base), (2L, base))
    q2.processAllAvailable()
    input2.addData((3L, base), (4L, base))
    q2.processAllAvailable()
    val got = spark.table("mh_capped").select("id1", "id2").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)),
      s"star pairs only, got $got")
    q2.stop()
  }

  test("minhash stream: identical-signature flood, near-dup and re-delivered id") {
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronauts deliberate about breakfast in the orbital cafeteria"
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.minhashDedupStream(input.toDF().toDF("doc_id", "text"),
        col("doc_id"), col("text"), threshold = 0.7)
      .writeStream.format("memory").queryName("mh_flood")
      .outputMode("append").start()
    // batch 1: an identical-signature flood plus an unrelated doc
    input.addData((1L, base), (2L, base), (3L, base),
      (50L, "an entirely unrelated note about volcano insurance premiums"))
    q.processAllAvailable()
    // batch 2: near-dup (distinct sig) + more of the flood + id re-delivery
    input.addData((4L, base + " tail"), (5L, base), (3L, base))
    q.processAllAvailable()
    val out = spark.table("mh_flood").select("id1", "id2").distinct()
      .as[(Long, Long)].collect().toSet
    q.stop()
    // 1, 2, 3 and 5 carry `base` and 4 is its near-dup: every pair among
    // them, none with 50, and the re-delivered 3 adds no self-pair
    val ids = Seq(1L, 2L, 3L, 4L, 5L)
    val expected = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    assert(out == expected, s"got $out")
  }

  test("changelog roundtrip: toStream then streamToTable recovers the snapshot") {
    val t = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val changelog = StreamOps.toStream(t, Some(lit(ts("2024-01-01 00:00:00"))))
    assert(changelog.columns.toSeq == Seq("id", "v", "time", "diff"))
    // apply an upsert and a retraction on top
    val more = Seq((1L, "x2", ts("2024-01-01 00:01:00"), 1),
      (2L, "y", ts("2024-01-01 00:01:00"), -1)).toDF("id", "v", "time", "diff")
    val all = changelog.unionByName(more)
    val snap = StreamOps.streamToTable(all, Seq("id")).as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "x2"))) // id=1 upserted, id=2 retracted
    val upsert = StreamOps.streamToTable(all, Seq("id"), isUpsert = true)
      .as[(Long, String)].collect().toSet
    assert(upsert == Set((1L, "x2"))) // latest for id=2 is the retraction → gone
  }

  test("foreachBatch upsert sink applies per-batch merges") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val (table, writer) = TestSinks.upsertSink(input.toDF().toDF("id", "v"), Seq("id"))
    val q = writer.start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((1L, "a2"))
    q.processAllAvailable()
    assert(table(Seq(1L)) == Seq(1L, "a2") && table(Seq(2L)) == Seq(2L, "b"))
    q.stop()
  }

  test("asof_now join: left stream rows see right state per micro-batch") {
    implicit val sql = spark.sqlContext
    val right = Seq((1L, "r1"), (2L, "r2")).toDF("rk", "rv")
    val input = MemoryStream[Long]
    val joined = StreamOps.asofNowJoin(input.toDF().toDF("lk"), right,
      col("lk") === col("rk"), "inner")
    val q = joined.writeStream.format("memory").queryName("asofnow_out")
      .outputMode("append").start()
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    val out = spark.table("asofnow_out").select("lk", "rv").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "r1"), (2L, "r2"))) // 3 has no match (inner)
    q.stop()
  }

  test("stream-stream interval join with watermarks on both sides") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val l = clicks.toDF().toDF("ct", "cu").withWatermark("ct", "1 hour")
    val r = buys.toDF().toDF("bt", "bu").withWatermark("bt", "1 hour")
    // purchase within 10 minutes after the click, same user
    val joined = l.join(r,
      col("cu") === col("bu") && col("bt") >= col("ct") &&
        col("bt") <= col("ct") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssij_out")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:20:00"), 2L))
    buys.addData((ts("2024-01-01 00:05:00"), 1L),   // within 10 min of u1 click
      (ts("2024-01-01 00:45:00"), 2L))              // 25 min after u2 click → no match
    q.processAllAvailable()
    val out = spark.table("ssij_out").select("cu").as[Long].collect().toSeq
    assert(out == Seq(1L))
    q.stop()
  }

  test("stream-stream interval join LEFT OUTER: unmatched lefts emit with nulls after watermark") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val l = clicks.toDF().toDF("ct", "cu").withWatermark("ct", "10 seconds")
    val r = buys.toDF().toDF("bt", "bu").withWatermark("bt", "10 seconds")
    val joined = l.join(r,
      col("cu") === col("bu") && col("bt") >= col("ct") &&
        col("bt") <= col("ct") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssij_lo_out")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:02:00"), 3L))
    buys.addData((ts("2024-01-01 00:05:00"), 1L)) // matches u1; u3 never buys
    q.processAllAvailable()
    // advance BOTH watermarks far past u3's click + interval so its state
    // expires and the null-padded row releases
    clicks.addData((ts("2024-01-01 02:00:00"), 99L))
    buys.addData((ts("2024-01-01 02:00:00"), 98L))
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 03:00:00"), 99L))
    buys.addData((ts("2024-01-01 03:00:00"), 98L))
    q.processAllAvailable()
    val out = spark.table("ssij_lo_out").filter(col("cu").isin(1L, 3L))
      .select("cu", "bu").as[(Long, Option[Long])].collect().toSet
    assert(out.contains((1L, Some(1L))), s"matched row missing: $out")
    assert(out.contains((3L, None)), s"unmatched left not emitted: $out")
    q.stop()
  }

  test("stream-stream BACKWARD asof join: left rows match latest right <= t once watermark passes") {
    implicit val sql = spark.sqlContext
    import StreamOps.{AsofEvent, AsofJoinState}
    val input = MemoryStream[(java.sql.Timestamp, Long, Boolean, String)] // (t, key, isLeft, payload)
    val events = input.toDS().toDF("t", "k", "isLeft", "p")
      .withWatermark("t", "5 minutes")
      .as[(java.sql.Timestamp, Long, Boolean, String)] // projection keeps the watermarked attr
    val joined = events.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, String)],
         st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[String, String]]) =>
          StreamOps.asofJoinKernel[Long, String, String](k,
            it.map { case (t, _, isLeft, p) =>
              AsofEvent[String, String](isLeft, t.getTime,
                if (isLeft) Some(p) else None, if (isLeft) None else Some(p))
            }, st)
      }
    val q = joined.toDF("k", "lt", "lv", "rv").writeStream.format("memory")
      .queryName("asof_stream_out").outputMode("append").start()
    // rights r1@00:01=ten r2@00:05=twenty; lefts l0@00:00, l1@00:03, l2@00:06
    input.addData(
      (ts("2024-01-01 00:01:00"), 1L, false, "ten"),
      (ts("2024-01-01 00:03:00"), 1L, true, "l1"),
      (ts("2024-01-01 00:00:00"), 1L, true, "l0"))
    q.processAllAvailable()
    input.addData(
      (ts("2024-01-01 00:05:00"), 1L, false, "twenty"),
      (ts("2024-01-01 00:06:00"), 1L, true, "l2"))
    q.processAllAvailable()
    // push the watermark far past all lefts (other key)
    input.addData((ts("2024-01-01 01:00:00"), 99L, false, "z"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 01:01:00"), 99L, false, "z2"))
    q.processAllAvailable()
    val out = spark.table("asof_stream_out").filter(col("k") === 1L)
      .select("lv", "rv").as[(String, Option[String])].collect().toMap
    assert(out == Map("l0" -> None, "l1" -> Some("ten"), "l2" -> Some("twenty")))
    q.stop()
  }

  test("stream-stream FORWARD asof join: left rows match earliest right >= t") {
    implicit val sql = spark.sqlContext
    import StreamOps.{AsofEvent, AsofJoinState}
    val input = MemoryStream[(java.sql.Timestamp, Long, Boolean, String)]
    val events = input.toDS().toDF("t", "k", "isLeft", "p")
      .withWatermark("t", "5 minutes")
      .as[(java.sql.Timestamp, Long, Boolean, String)]
    val joined = events.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, String)],
         st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[String, String]]) =>
          StreamOps.asofForwardKernel[Long, String, String](k,
            it.map { case (t, _, isLeft, p) =>
              AsofEvent[String, String](isLeft, t.getTime,
                if (isLeft) Some(p) else None, if (isLeft) None else Some(p))
            }, st)
      }
    val q = joined.toDF("k", "lt", "lv", "rv").writeStream.format("memory")
      .queryName("asof_fwd_out").outputMode("append").start()
    // rights r1@00:04=ten r2@00:08=twenty; lefts l0@00:00 l1@00:03 (batch 1),
    // l2@00:06 (batch 2), l3@01:30 (no right ever follows: must never emit)
    input.addData(
      (ts("2024-01-01 00:04:00"), 1L, false, "ten"),
      (ts("2024-01-01 00:00:00"), 1L, true, "l0"),
      (ts("2024-01-01 00:03:00"), 1L, true, "l1"))
    q.processAllAvailable()
    input.addData(
      (ts("2024-01-01 00:08:00"), 1L, false, "twenty"),
      (ts("2024-01-01 00:06:00"), 1L, true, "l2"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 01:00:00"), 99L, false, "z"),
      (ts("2024-01-01 01:30:00"), 1L, true, "l3"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 02:30:00"), 99L, false, "z2"))
    q.processAllAvailable()
    val out = spark.table("asof_fwd_out").filter(col("k") === 1L)
      .select("lv", "rv").as[(String, Option[String])].collect().toMap
    // forward never emits None: l3 (no right >= t exists yet) is still held
    assert(out == Map("l0" -> Some("ten"), "l1" -> Some("ten"), "l2" -> Some("twenty")))
    q.stop()
  }

  test("stateful kernels run on the RocksDB state store (production provider)") {
    // the provider a large-state cluster deployment would run; conf is
    // captured at query start, so setting/resetting it here scopes the
    // provider to this query only
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val deduped = input.toDS().groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          StreamOps.dedupAcceptor[String, Long]((n, o) => n > o))
      val q = deduped.toDF("k", "v").writeStream.format("memory")
        .queryName("rocksdb_dedup").outputMode("append").start()
      input.addData(("a", 1L), ("a", 5L), ("b", 2L))
      q.processAllAvailable()
      input.addData(("a", 3L), ("a", 7L), ("b", 1L)) // 3 and 1 rejected
      q.processAllAvailable()
      val out = spark.table("rocksdb_dedup").as[(String, Long)].collect().toSeq
      assert(out.sorted == Seq(("a", 1L), ("a", 5L), ("a", 7L), ("b", 2L)),
        s"acceptor semantics must hold on RocksDB: $out")
      q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("FORWARD asof TTL: a candidate-less left emits None once its hold window lapses") {
    implicit val sql = spark.sqlContext
    import StreamOps.{AsofEvent, AsofJoinState}
    val input = MemoryStream[(java.sql.Timestamp, Long, Boolean, String)]
    val events = input.toDS().toDF("t", "k", "isLeft", "p")
      .withWatermark("t", "10 seconds")
      .as[(java.sql.Timestamp, Long, Boolean, String)]
    val joined = events.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, String)],
         st: org.apache.spark.sql.streaming.GroupState[AsofJoinState[String, String]]) =>
          StreamOps.asofForwardKernelTtl[Long, String, String](60000L)(k,
            it.map { case (t, _, isLeft, p) =>
              AsofEvent[String, String](isLeft, t.getTime,
                if (isLeft) Some(p) else None, if (isLeft) None else Some(p))
            }, st)
      }
    val q = joined.toDF("k", "lt", "lv", "rv").writeStream.format("memory")
      .queryName("asof_fwd_ttl_out").outputMode("append").start()
    // l0@00:01 with a right at 00:02 (resolves normally); l1@00:03 never gets
    // a right — its 60 s hold lapses when the watermark passes 00:04
    input.addData(
      (ts("2024-01-01 00:01:00"), 1L, true, "l0"),
      (ts("2024-01-01 00:02:00"), 1L, false, "ten"),
      (ts("2024-01-01 00:03:00"), 1L, true, "l1"))
    q.processAllAvailable()
    // advance the watermark far past l1 + TTL via another key
    input.addData((ts("2024-01-01 01:00:00"), 99L, false, "z"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 02:00:00"), 99L, false, "z2"))
    q.processAllAvailable()
    val out = spark.table("asof_fwd_ttl_out").filter(col("k") === 1L)
      .select("lv", "rv").as[(String, Option[String])].collect().toMap
    assert(out == Map("l0" -> Some("ten"), "l1" -> None),
      s"TTL'd left must emit None: $out")
    q.stop()
  }

  test("stream-stream NEAREST asof join: closest right wins, ties to forward") {
    implicit val sql = spark.sqlContext
    import StreamOps.{AsofEvent, AsofNearestState}
    val input = MemoryStream[(java.sql.Timestamp, Long, Boolean, String)]
    val events = input.toDS().toDF("t", "k", "isLeft", "p")
      .withWatermark("t", "5 minutes")
      .as[(java.sql.Timestamp, Long, Boolean, String)]
    val joined = events.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(java.sql.Timestamp, Long, Boolean, String)],
         st: org.apache.spark.sql.streaming.GroupState[AsofNearestState[String, String]]) =>
          StreamOps.asofNearestKernel[Long, String, String](k,
            it.map { case (t, _, isLeft, p) =>
              AsofEvent[String, String](isLeft, t.getTime,
                if (isLeft) Some(p) else None, if (isLeft) None else Some(p))
            }, st)
      }
    val q = joined.toDF("k", "lt", "lv", "rv").writeStream.format("memory")
      .queryName("asof_near_out").outputMode("append").start()
    // rights a@00:02 b@00:10; lefts l0@00:00 (a d=2) l1@00:05 (a d=3 beats
    // b d=5) l2@00:07 (b d=3) l3@00:06 (d=4 both: tie -> FORWARD b, the
    // reference's strict-< prev rule);
    // l4@00:20 sees b (d=10) in batch 1, improved by c@00:22 (d=2) in batch 2
    input.addData(
      (ts("2024-01-01 00:02:00"), 1L, false, "a"),
      (ts("2024-01-01 00:10:00"), 1L, false, "b"),
      (ts("2024-01-01 00:00:00"), 1L, true, "l0"),
      (ts("2024-01-01 00:05:00"), 1L, true, "l1"),
      (ts("2024-01-01 00:07:00"), 1L, true, "l2"),
      (ts("2024-01-01 00:06:00"), 1L, true, "l3"),
      (ts("2024-01-01 00:20:00"), 1L, true, "l4"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:22:00"), 1L, false, "c"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 01:00:00"), 99L, false, "z"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 01:01:00"), 99L, false, "z2"))
    q.processAllAvailable()
    val out = spark.table("asof_near_out").filter(col("k") === 1L)
      .select("lv", "rv").as[(String, Option[String])].collect().toMap
    assert(out == Map("l0" -> Some("a"), "l1" -> Some("a"), "l2" -> Some("b"),
      "l3" -> Some("b"), "l4" -> Some("c")))
    q.stop()
  }

  test("streaming iterate: connected components converge per epoch over the growing snapshot") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val results = scala.collection.mutable.Map.empty[Long, Map[Long, Long]]
    val writer = StreamOps.iterateOnStream(
      input.toDS().toDF("src", "dst"),
      init = snap => snap.select(col("src").as("vertex"))
        .unionByName(snap.select(col("dst").as("vertex")))
        .distinct().withColumn("component", col("vertex")),
      step = (labels, snap) => {
        val edges = snap.select(col("src"), col("dst"))
          .unionByName(snap.select(col("dst").as("src"), col("src").as("dst")))
        val viaNeighbor = edges
          .join(labels.select(col("vertex").as("dst"), col("component")), "dst")
          .select(col("src").as("vertex"), col("component"))
        labels.unionByName(viaNeighbor)
          .groupBy("vertex").agg(min("component").as("component"))
      })( (res, epoch) =>
        results(epoch) = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap )
    val q = writer.start()
    input.addData((1L, 2L), (2L, 3L), (10L, 11L))
    q.processAllAvailable()
    val first = results.keys.min
    assert(results(first) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the next epoch bridges the components: the snapshot fixpoint merges them
    input.addData((3L, 10L))
    q.processAllAvailable()
    val last = results.keys.max
    assert(last > first)
    assert(results(last) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
    q.stop()
  }

  test("behavior delay: rows release only once the watermark passes t + delay") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val delayed = input.toDS()
      .withWatermark("_1", "0 seconds")
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        StreamOps.delayKernel[Int, (java.sql.Timestamp, String)](
          _._1.getTime, delayMs = 10 * 60 * 1000))
    val q = delayed.toDF("t", "v").writeStream.format("memory").queryName("delay_out")
      .outputMode("append").start()
    input.addData((ts("2024-01-01 00:01:00"), "a"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:05:00"), "wm1")) // wm → 00:05 < 00:11
    q.processAllAvailable()
    assert(spark.table("delay_out").filter(col("v") === "a").count() == 0)
    input.addData((ts("2024-01-01 00:12:00"), "wm2")) // wm → 00:12 ≥ 00:11
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:13:00"), "wm3")) // extra batch fires timeout
    q.processAllAvailable()
    assert(spark.table("delay_out").filter(col("v") === "a").count() == 1)
    q.stop()
  }

  test("streaming deduplication within watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val dedup = input.toDF().toDF("t", "k")
      .withWatermark("t", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = dedup.writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").start()
    input.addData((ts("2024-01-01 00:00:00"), "a"), (ts("2024-01-01 00:01:00"), "a"),
      (ts("2024-01-01 00:02:00"), "b"))
    q.processAllAvailable()
    val out = spark.table("ddw_out").select("k").as[String].collect().toSeq
    assert(out.sorted == Seq("a", "b"))
    q.stop()
  }

  test("streaming session windows: native session_window closes on watermark (append)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("t", "user")
      .withWatermark("t", "1 minute")
      .groupBy(session_window(col("t"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), col("n"),
        col("session_window.start").as("s"), col("session_window.end").as("e"))
    val q = agg.writeStream.format("memory").queryName("sess_stream_out")
      .outputMode("append").start()
    // user 1: events at 00:00, 00:05 (one session, gap < 10m), then 00:30
    // (new session); user 2: a single event
    input.addData(
      (ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:05:00"), 1L),
      (ts("2024-01-01 00:30:00"), 1L), (ts("2024-01-01 00:02:00"), 2L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 02:00:00"), 99L)) // push the watermark
    q.processAllAvailable()
    input.addData((ts("2024-01-01 03:00:00"), 99L))
    q.processAllAvailable()
    val rows = spark.table("sess_stream_out").filter(col("user").isin(1L, 2L))
      .select("user", "n").as[(Long, Long)].collect().toSeq.sorted
    // sessions: user1 {00:00,00:05} (n=2) and {00:30} (n=1); user2 n=1
    assert(rows == Seq((1L, 1L), (1L, 2L), (2L, 1L)), rows.toString)
    q.stop()
  }

  test("predicate session windows merge by custom condition (batch)") {
    import graft.operators.Temporal
    // merge consecutive rows while the value gap is < 100 (not time-based)
    val df = Seq((1L, 10.0), (2L, 50.0), (3L, 500.0), (4L, 520.0))
      .toDF("seq", "v").withColumn("t", timestamp_micros(col("seq") * 1000000))
    val sess = Temporal.sessionize(df, col("t"), 0L, Seq(lit(1)),
      predicate = Some((prev, cur) => abs(cur.cast("double") - prev.cast("double")) < lit(100.0)))
    // predicate receives timestamps; for this test sessions break when time gap >= 100 s — all <100s apart → 1 session... use value-based instead:
    val byValue = df.withColumn("_brk",
      when(lag(col("v"), 1).over(org.apache.spark.sql.expressions.Window.orderBy(col("seq"))).isNull, 1)
        .otherwise((abs(col("v") - lag(col("v"), 1).over(org.apache.spark.sql.expressions.Window.orderBy(col("seq")))) >= 100).cast("int")))
    val nSessions = byValue.agg(sum("_brk")).head.getLong(0)
    assert(nSessions == 2) // {10,50} and {500,520}
    assert(sess.select("_sid").distinct().count() == 1) // all timestamps 1s apart merge
  }

  test("buffer releases rows in event-time order once the watermark passes") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val buffered = input.toDS()
      .withWatermark("_1", "5 minutes")
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        StreamOps.bufferKernel[Int, (java.sql.Timestamp, String)](_._1.getTime))
    val q = buffered.toDF("t", "v").writeStream.format("memory").queryName("buf_out")
      .outputMode("append").start()
    // out-of-order arrivals within one batch
    input.addData((ts("2024-01-01 00:03:00"), "c"), (ts("2024-01-01 00:01:00"), "a"),
      (ts("2024-01-01 00:02:00"), "b"))
    q.processAllAvailable()
    assert(spark.table("buf_out").count() == 0) // still held (watermark behind)
    input.addData((ts("2024-01-01 00:30:00"), "z")) // watermark → 00:25
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:31:00"), "z2")) // extra batch fires the timeout
    q.processAllAvailable()
    val out = spark.table("buf_out").select("v").as[String].collect().toSeq
    assert(out.take(3) == Seq("a", "b", "c")) // released IN EVENT-TIME ORDER
    q.stop()
  }

  test("keyless interval join via buckets matches the naive cross-join result") {
    import graft.operators.Temporal
    val l = (0L until 50L).map(i => (i, ts(f"2024-01-01 00:${i % 60}%02d:00")))
      .toDF("l_id", "lt")
    val r = (0L until 50L).map(i => (i + 1000, ts(f"2024-01-01 00:${(i * 7 % 60)}%02d:30")))
      .toDF("r_id", "rt")
    val lo = 0L; val hi = 5L * 60 * 1000000000L // [0, +5 min]
    val bucketed = Temporal.intervalJoinKeyless(l, r, col("lt"), col("rt"), lo, hi)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    val naive = l.crossJoin(r)
      .filter(col("rt") >= col("lt") && col("rt") <= col("lt") + expr("INTERVAL 5 MINUTES"))
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(bucketed == naive && naive.nonEmpty)
  }

  test("persistence: aggregation state survives a stop/restart via checkpoint (reference persistence/)") {
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val inDir = base + "/in"; val ckpt = base + "/ckpt"
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "0.txt"), "a\nb\na\n")
    def startQuery() = graft.examples.WordCount.counts(
        graft.sources.Connectors.plaintext(spark, inDir, mode = graft.sources.Connectors.Streaming))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ckpt_out").option("checkpointLocation", ckpt).start()
    val q1 = startQuery()
    q1.processAllAvailable()
    assert(spark.table("ckpt_out").as[(String, Long)].collect().toMap == Map("a" -> 2L, "b" -> 1L))
    q1.stop() // simulate failure/shutdown
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "1.txt"), "a\nc\n")
    val q2 = startQuery() // replays from checkpointed offsets + state
    q2.processAllAvailable()
    assert(spark.table("ckpt_out").as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 1L, "c" -> 1L)) // old state recovered, only new file processed
    q2.stop()
  }

  test("ignoreLateBatch keeps only rows within cutoff of max event time") {
    val df = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 05:00:00"),
      ts("2024-01-01 06:30:00")).toDF("t")
    val kept = StreamOps.ignoreLateBatch(df, col("t"), 2L * 3600 * 1000000000L)
      .as[java.sql.Timestamp].collect().toSet
    assert(kept == Set(ts("2024-01-01 05:00:00"), ts("2024-01-01 06:30:00")))
  }

  test("Persistence.changelogSink: complete-mode stream emits unit-diff " +
      "changelogs per microbatch AND across query restarts (r17 — the " +
      "reference's test_persistence.py:49 groupby_count story)") {
    val base = java.nio.file.Files.createTempDirectory("graft-clsink").toString
    val inDir = base + "/in"; val ckpt = base + "/ckpt"; val state = base + "/state"
    new java.io.File(inDir).mkdirs()
    val diffs = scala.collection.mutable.ArrayBuffer[Set[(String, Long, Int)]]()
    def startQuery() = {
      val counts = graft.examples.WordCount.counts(
        graft.sources.Connectors.plaintext(spark, inDir,
          mode = graft.sources.Connectors.Streaming)).toDF("w", "c")
      graft.streaming.Persistence.changelogSink(counts, state) { (d, _) =>
        val rows = d.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
        if (rows.nonEmpty) diffs.synchronized { diffs += rows }
      }.option("checkpointLocation", ckpt).start()
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "0.txt"), "abc\ndef\nfoo\n")
    val q1 = startQuery(); q1.processAllAvailable()
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "1.txt"), "foo\nxyz\n")
    q1.processAllAvailable(); q1.stop()
    // restart: new file, the store carries over — only deltas come out
    java.nio.file.Files.writeString(java.nio.file.Path.of(inDir, "2.txt"), "abc\nxxx\n")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // batch 1: all insertions; batch 2: foo 1→2; post-restart: abc 1→2 + xxx
    assert(diffs.head == Set(("abc", 1L, 1), ("def", 1L, 1), ("foo", 1L, 1)))
    assert(diffs.exists(_ == Set(("foo", 1L, -1), ("foo", 2L, 1), ("xyz", 1L, 1))))
    assert(diffs.last == Set(("abc", 1L, -1), ("abc", 2L, 1), ("xxx", 1L, 1)))
    // accumulated state = reference's expected final table
    val acc = scala.collection.mutable.Map[(String, Long), Int]().withDefaultValue(0)
    diffs.flatten.foreach { case (w, c, d) => acc((w, c)) += d }
    assert(acc.collect { case (k, 1) => k }.toSet ==
      Set(("abc", 2L), ("def", 1L), ("foo", 2L), ("xyz", 1L), ("xxx", 1L)))
  }
}
