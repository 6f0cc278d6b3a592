package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OracleSqlGen, SparkEntry}
import graft.examples.TrainDataPipeline
import graft.operators.{Dedup, Materialize, TextOps, TrainPrep}
import graft.sources.Tables

/** The benchmark's JVM side. It sets the engine up, runs one workload for a
  * fixed time and writes raw measurements (timings, traced Spark work,
  * streaming progress, result files) under `out=`; `perfbench/run.py` turns
  * them into metrics and checks every result against DuckDB.
  *
  * Arguments are key=value: workload, data, out, seconds, trace (0|1), cpus,
  * topk (curate_board), rate, hot_permille, seed, keys (stream_asof). */
object Harness {
  val WatermarkMs = 2000L

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    Files.createDirectories(Paths.get(out))
    Heap.watch()

    // set-up runs from JVM start until the engine is ready, for the stream
    // until its first micro-batch has completed
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus)
    val ready = System.currentTimeMillis()
    val (setupEnd, body) = workload match {
      case "curate_board" =>
        (ready, Batch.run(spark, new CurateBoard(data, a("topk").toInt), out, seconds, traced))
      case "stream_asof" =>
        StreamAsof.run(spark, out, seconds, traced, cpus, a("rate").toInt,
          a("hot_permille").toLong, a("seed").toLong, a("keys").toLong, WatermarkMs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calib = Calib.run(cpus)
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num((setupEnd - jvmStart) / 1000.0),
      "calib_1_s" -> Json.num(calib._1),
      "calib_n_s" -> Json.num(calib._2),
      "peak_heap_mb" -> Json.num(Heap.peakBytes / 1048576.0),
      "gcs" -> Json.num(Heap.gcs),
      "body" -> body)
    Files.write(Paths.get(out, "harness.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The session confs `graft.Bench` uses, plus local dirs inside the
    * working directory. Ready means one job has run. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    s
  }
}

/** Runs named spans under their own job groups and records their times. */
final class Spanner(spark: SparkSession) {
  val spans = ArrayBuffer[(String, Long, Long)]()
  def apply[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += ((name, t0, System.currentTimeMillis()))
      sc.clearJobGroup()
    }
  }
  def toJson: String = Json.arr(spans.map { case (n, a, b) =>
    Json.arr(Seq(Json.str(n), Json.num(a), Json.num(b))) })
}

object Batch {
  def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** Warm calls an untraced run makes at least, even when `seconds` is
    * shorter than one call. Two is what the benchmark's time budget allows
    * with a 10 s run and 11-16 s warm calls. */
  val MinWarmCalls = 2

  /** One untraced first call, then warm calls until `seconds` have passed
    * and at least `MinWarmCalls` ran. A traced run alternates untraced and
    * traced warm calls (at least one of each), so both see the same warm
    * engine. */
  def run(spark: SparkSession, w: CurateBoard, out: String, seconds: Double,
      traced: Boolean): String = {
    val listener = new SpanListener
    val calls = ArrayBuffer[String]()
    def once(i: Int, trace: Boolean): Unit = {
      val dir = s"$out/call$i"
      val span = new Spanner(spark)
      if (trace) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
      Heap.mark()
      val t0 = System.nanoTime()
      w.call(spark, span, trace, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      val peakMb = Heap.sinceMark
      val jobs = if (trace) {
        listener.awaitJobsEnded(10000L)
        spark.sparkContext.removeSparkListener(listener)
        listener.toJson
      } else "null"
      spark.catalog.clearCache()
      val heapMb = Heap.sample()
      calls += Json.obj("dir" -> Json.str(dir), "wall_s" -> Json.num(wall),
        "heap_mb" -> Json.num(heapMb), "peak_heap_mb" -> Json.num(peakMb),
        "traced" -> (if (trace) "true" else "false"), "spans" -> span.toJson,
        "spark" -> jobs)
    }
    once(0, trace = false)
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || i <= (if (traced) 2 else MinWarmCalls)) {
      once(i, trace = traced && i % 2 == 0)
      i += 1
    }
    Json.obj("calls" -> Json.arr(calls),
      "oracle" -> Json.obj(w.oracle.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
  }
}

/** `TrainDataPipeline.selectAndCurate` with the board row's parameters, then
  * board rows of the core and functions layers on the same tables. One call
  * runs them all once and writes each result under `dir`; `oracle` maps
  * result names to the DuckDB SQL that must reproduce them. The traced call
  * re-composes the pipeline from its public calls, one span per stage,
  * materializing each stage's output. */
final class CurateBoard(data: String, topK: Int) {
  val rows = Seq("core" -> "groupby_reduce", "functions" -> "reduce_min_max")

  private val mixW = Seq(0 -> 0.35, 1 -> 0.25, 2 -> 0.20, 3 -> 0.15, 4 -> 0.05)

  val oracle: Map[String, String] = Map("select_and_curate" ->
    OracleSqlGen.selectAndCurate(buckets = 8192, targetMod = 7, topK = topK,
      mix = mixW, evalMod = 97, k = 5, numHashes = 32, bands = 8, threshold = 0.8,
      deconK = 8, budget = 2048)) ++
    rows.map { case (_, q) => q -> SparkEntry.oracleSql(q) }

  private val outCols = Seq("doc_id", "n_tokens", "pack_id", "offset_in_pack").map(col)

  def call(spark: SparkSession, span: Spanner, traced: Boolean, dir: String): Unit = {
    val minhashInput = curate(spark, span, traced, dir)
    rows.foreach { case (layer, q) =>
      span(s"$layer.$q") { Batch.write(SparkEntry.queries(q)(spark, data), s"$dir/$q") }
    }
    minhashInput.foreach { docs =>
      span("harness.minhash_candidates") {
        Batch.write(minhashCounts(spark, docs), s"$dir/minhash_counts")
      }
    }
  }

  /** The curation pipeline; a traced call returns the minhash stage's input. */
  private def curate(spark: SparkSession, span: Spanner, traced: Boolean,
      dir: String): Option[DataFrame] = {
    import spark.implicits._
    // reading the parquet schema runs a job: give it a span of its own
    val d = span("examples.read_documents") {
      Tables.documents(spark, data).toDf.select("doc_id", "text")
    }
    val evalSet = d.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
    val mix = mixW.map { case (s0, w0) => (s0.toLong, w0) }.toDF("src", "w")
    val target = d.filter(col("doc_id") % 7 === 0)
    val source = col("doc_id") % 5
    if (!traced) span("examples.select_and_curate") {
      Batch.write(TrainDataPipeline.selectAndCurate(d, evalSet, target, source, mix,
        tokenBudget = 0.0, dsirBuckets = 8192, dsirTopK = Some(topK), strictMix = true)
        .select(outCols: _*), s"$dir/select_and_curate")
      None
    } else {
      val words = TrainPrep.whitespaceWordCount(col("text"))
      val scored = span("operators.dsir") {
        val w = TrainPrep.dsirWeights(d, target, col("doc_id"), col("text"), 8192)
          .select(col("id").as("doc_id"), col("logw_micro"))
        Materialize.eager(d.join(w, Seq("doc_id"), "left")
          .withColumn("logw_micro", coalesce(col("logw_micro"), lit(Long.MinValue)))
          .orderBy(col("logw_micro").desc, col("doc_id").asc).limit(topK))
      }
      val rates = span("operators.mixture") {
        Materialize.eager(TrainPrep.mixturePlanStrict(scored, source, words, mix)
          .select(col("src"), (col("rate_micro") / lit(1e6)).as("p")))
      }
      val sampled = span("operators.sample_stratified") {
        Materialize.eager(TrainPrep.sampleStratified(scored, col("doc_id"), source, rates)
          .select("doc_id", "text"))
      }
      // TrainDataPipeline.curate with its defaults, stage by stage
      val kept = span("operators.analyze") {
        val (redacted, nEmails, nPhones) = TrainPrep.piiRedact(col("text"))
        Materialize.eager(sampled
          .select(col("doc_id"), redacted.as("text"), (nEmails + nPhones).as("pii_hits"))
          .select(col("doc_id"), col("text"), col("pii_hits"),
            TextOps.langId(col("text")).as("lang"),
            TextOps.qualityScore(col("text")).as("quality"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
          .filter(col("lang") === "en" && col("quality") >= 0.3))
      }
      val exactDeduped = span("operators.dedup_exact") {
        val reps = Dedup.exact(kept, col("doc_id"), TextOps.fingerprintMd5(col("text")))
        Materialize.eager(kept.join(reps.select(col("rep_id").as("doc_id")), "doc_id"))
      }
      val nearDeduped = span("operators.dedup_minhash") {
        val near = Dedup.minhashLsh(exactDeduped, col("doc_id"), col("text"))
        Materialize.eager(exactDeduped.join(
          near.filter(!col("is_dup")).select(col("id").as("doc_id")), "doc_id"))
      }
      val clean = span("operators.decontaminate") {
        val contaminated = TrainPrep.decontaminate(nearDeduped, col("doc_id"), col("text"),
          evalSet, col("eval_id"), col("eval_text"), k = 8)
        Materialize.eager(nearDeduped.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti"))
      }
      val train = span("operators.sample_split") {
        val sampledW = TrainPrep.sampleByWeight(clean, col("doc_id"),
          least(col("quality") + 0.5, lit(1.0)))
        Materialize.eager(TrainPrep.splitByHash(sampledW, col("doc_id"))
          .filter(col("split") === "train")
          .withColumn("_shard", pmod(graft.functions.CrossHash.md5Long(col("doc_id")), lit(16L))))
      }
      span("operators.pack") {
        Batch.write(TrainPrep.packSequences(train, instance = col("_shard"),
          order = col("doc_id"), nTokens = col("n_tokens"), budget = 2048)
          .select(outCols: _*), s"$dir/select_and_curate")
      }
      Some(exactDeduped)
    }
  }

  /** Verified near-dup pairs and LSH band-candidate pairs of the minhash
    * stage's input: (candidates, verified), one row. Candidates are the
    * distinct doc pairs `Dedup.guardedSelfJoin` returns on the band keys
    * `Dedup.minhashLsh` builds by default (32 hashes, 8 bands of 4 slots,
    * key = xxhash64(band, slots), default bucket cap), from the same public
    * calls and columns. */
  private def minhashCounts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (numHashes, bands) = (32, 8)
    val rows = numHashes / bands
    val sig = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), k = 5, numHashes = numHashes)
      .select(col("id") +: (0 until numHashes).map(s => col("_mins")(s).as(s"_h$s")): _*)
      .persist()
    val bandCols = (0 until bands).map { b =>
      xxhash64(lit(b) +: (b * rows until (b + 1) * rows).map(s => col(s"_h$s")): _*)
    }
    val bucketed = sig.select(col("id"),
      xxhash64((0 until numHashes).map(s => col(s"_h$s")): _*).as("_subKey"),
      posexplode(array(bandCols: _*)).as(Seq("_band", "_bucket")))
    val cand = Dedup.guardedSelfJoin(bucketed, Seq("_band", "_bucket"), Nil, Dedup.DefaultBucketCap)
      .select("id1", "id2").distinct().count()
    sig.unpersist()
    val verified = Dedup.minhashLshPairs(docs, col("doc_id"), col("text")).count()
    spark.range(1).select(lit(cand).as("candidates"), lit(verified).as("verified"))
  }
}

/** Heap in use right after a collection. A listener on every collector's
  * notifications keeps the maximum heap-pool usage after each collection,
  * over the whole run and since the last `mark()`, so collections inside a
  * call or a micro-batch count. `sample()` forces full collections between
  * calls: its reading is what the engine retains once a call is done. */
object Heap {
  @volatile var peakBytes = 0L
  @volatile private var markPeak = 0L
  @volatile var gcs = 0L

  private def record(used: Long): Unit = synchronized {
    gcs += 1
    if (used > peakBytes) peakBytes = used
    if (used > markPeak) markPeak = used
  }

  /** Start a new interval for `sinceMark`. */
  def mark(): Unit = synchronized { markPeak = 0L }
  /** Highest heap in use after a collection since `mark()`, in MB. */
  def sinceMark: Double = synchronized { markPeak / 1048576.0 }

  def watch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          record(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Collect until the reading stops falling and return the heap in use in
    * MB. A collection lets Spark's ContextCleaner see unreachable RDDs,
    * shuffles and broadcasts and drop their blocks; the next one reclaims
    * those. */
  def sample(): Double = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var rounds = 0
    var falling = true
    while (falling && rounds < 4) {
      Thread.sleep(100)
      val next = collect()
      falling = next < used - (1L << 20)
      used = math.min(used, next)
      rounds += 1
    }
    used / 1048576.0
  }
}

/** Host-load probe, recorded and never used to correct a number: the
  * single-core chained-MD5 loop of `graft.Bench`, then the same loop on
  * `threads` threads at once (wall time). */
object Calib {
  @volatile private var sink = 0L
  private def md5Loop(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var buf = new Array[Byte](16)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { buf = md.digest(buf); i += 1 }
    sink += buf(0)
    (System.nanoTime() - t0) / 1e9
  }
  def run(threads: Int): (Double, Double) = {
    md5Loop()
    val single = md5Loop()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => { md5Loop(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (single, (System.nanoTime() - t0) / 1e9)
  }
}
