package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016; the GPT-2/tiktoken
  * merge-rank apply rule): corpus-trained merge table + distributed encode.
  *
  * The reference counts tokens with external BPE tokenizers — tiktoken
  * encodings / HuggingFace tokenizers in `TokenCountSplitter`
  * (reference python/pathway/xpacks/llm/splitters.py:104-151) — so token
  * budgeting there depends on a Python package. This module is the
  * engine-native equivalent: train a BPE vocabulary on the corpus itself and
  * encode/token-count documents with codegen-friendly distributed plumbing.
  *
  * Scale posture (the part that must survive 100 TB):
  *   - TRAIN touches the corpus exactly once: a (word, count) aggregation
  *     (one keyed shuffle with map-side combine). BPE learns from the
  *     word-frequency table — corpus size only changes the counts, not the
  *     table height, which is vocabulary-bounded (Heaps' law: ~1M distinct
  *     words per 100 GB of web text; the table is ~10 MB where the corpus is
  *     terabytes). The merge loop then runs over that table: driver-local
  *     when it fits under `maxDriverVocab` (the same bounded-collect contract
  *     as Clustering's LSH reps and Hnsw's query broadcast), distributed
  *     (one tiny job per merge, periodic localCheckpoint) above it. Both
  *     paths are pinned byte-identical by BpeSpec.
  *   - ENCODE is embarrassingly parallel: broadcast the ranked merges
  *     (a few KB), mapPartitions over documents with a per-partition
  *     word→tokens memo — Zipf makes the memo hit rate ≈ 1, so the greedy
  *     merge loop runs roughly once per DISTINCT word per partition, not once
  *     per occurrence.
  */
object Bpe {

  /** One learned merge: adjacent symbols `a`+`b` fuse into `a+b`. The rank is
    * the position in the returned sequence (earlier = higher priority). */
  final case class Merge(a: String, b: String)

  /** Pre-tokenization shared by train and encode: lower-cased whitespace
    * words (TextOps.tokens' discipline, so BPE composes with the text
    * battery and the DuckDB oracle's `string_split_regex`). Locale.ROOT so
    * JVM-side lowercasing is bit-identical to Spark/DuckDB `lower()`
    * regardless of the host's default locale (Turkish-I hazard). */
  private[graft] def words(text: String): Array[String] =
    text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Symbolize a word by Unicode CODE POINT (not UTF-16 code unit), so
    * supplementary-plane characters are whole symbols, n_tokens never exceeds
    * the code-point length bound the oracle asserts, and symbol ordering is
    * well-defined across engines. */
  private[graft] def toSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Code-point lexicographic string order — identical to UTF-8 binary order
    * (Spark's string comparison), unlike Java's UTF-16 code-unit `<` which
    * mis-sorts supplementary-plane chars below U+E000..U+FFFF. Keeps the
    * driver trainer's tie-break bit-identical to the distributed trainer. */
  private[graft] def cpLt(x: String, y: String): Boolean = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return cx < cy
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    i >= x.length && j < y.length
  }

  /** Distributed (word, count) table — the single corpus-scale pass. */
  def wordCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(filter(split(trim(lower(text)), "\\s+"), w => w =!= ""))
        .as("word"))
      .groupBy("word").count()

  /** Train `nMerges` merges from the corpus. Deterministic: the winning pair
    * maximizes (count, then lexicographically smallest (a, b)) — ties can't
    * depend on partitioning because counts are exact integers.
    *
    * minPairCount stops early once no pair repeats enough to matter. */
  def train(df: DataFrame, text: Column, nMerges: Int,
      minPairCount: Long = 2L, maxDriverVocab: Int = 2000000): Seq[Merge] =
    trainFromCounts(wordCounts(df, text), nMerges, minPairCount, maxDriverVocab)

  /** Train from a pre-computed (word, count) table — lets a pipeline that
    * also needs [[baseSymbolsFromCounts]] share ONE corpus word-count pass
    * (persist the table, consume it twice, unpersist). */
  def trainFromCounts(wc: DataFrame, nMerges: Int,
      minPairCount: Long = 2L, maxDriverVocab: Int = 2000000): Seq[Merge] = {
    val vocabSize = wc.count()
    if (vocabSize <= maxDriverVocab) {
      val local = wc.collect().map(r => (r.getString(0), r.getLong(1)))
      trainLocal(local, nMerges, minPairCount)
    } else trainDistributed(wc, nMerges, minPairCount)
  }

  /** Driver-local merge loop with incremental pair-count maintenance — the
    * classic Sennrich trainer. O(total pair updates), not O(vocab × merges):
    * each merge only re-counts the words that contain the winning pair. */
  private[graft] def trainLocal(wordCount: Array[(String, Long)], nMerges: Int,
      minPairCount: Long): Seq[Merge] = {
    // each word as a mutable symbol sequence
    val syms = wordCount.map { case (w, _) =>
      mutable.ArrayBuffer(toSymbols(w): _*)
    }
    val counts = wordCount.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCount.updateWith(p) { v => Some(v.getOrElse(0L) + c) }
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    def dropPair(p: (String, String), c: Long): Unit =
      pairCount.updateWith(p) { v =>
        val n = v.getOrElse(0L) - c; if (n <= 0) None else Some(n)
      }
    for (wi <- syms.indices; Array(a, b) <- syms(wi).toArray.sliding(2))
      addPair((a, b), wi, counts(wi))

    val merges = mutable.ArrayBuffer.empty[Merge]
    var continue = true
    while (continue && merges.length < nMerges && pairCount.nonEmpty) {
      // max by (count, then smallest (a,b)): one scan of the pair table
      var best: ((String, String), Long) = null
      for (e <- pairCount)
        if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && pairLt(e._1, best._1))) best = e
      if (best._2 < minPairCount) continue = false
      else {
        val (pa, pb) = best._1
        merges += Merge(pa, pb)
        val fused = pa + pb
        val affected = pairWords.getOrElse(best._1, mutable.Set.empty).toArray
        for (wi <- affected) {
          val s = syms(wi); val c = counts(wi)
          // remove this word's pair contributions, re-add after merging
          for (Array(a, b) <- s.toArray.sliding(2)) dropPair((a, b), c)
          var i = 0
          while (i < s.length - 1) {
            if (s(i) == pa && s(i + 1) == pb) { s(i) = fused; s.remove(i + 1) }
            i += 1
          }
          for (Array(a, b) <- s.toArray.sliding(2)) addPair((a, b), wi, c)
        }
        pairWords.remove(best._1)
      }
    }
    merges.toSeq
  }

  /** Distributed merge loop for vocabularies beyond the driver bound — the
    * merge loop BATCHED so the job count is O(superSteps), not O(merges).
    *
    * r11 ran one full pair aggregation + 1-row collect PER MERGE — a
    * driver-scheduling marathon at a production 30-50k-merge vocabulary
    * (the regime a 100 TB web corpus forces, since Heaps' law puts its
    * distinct-word table past the driver fast-path bound). This version
    * selects MANY merges per aggregation, provably byte-identical to the
    * sequential trainer:
    *
    * The exact (a, b) → count table is MAINTAINED INCREMENTALLY in the
    * cluster (trainLocal's pair maintenance, distributed): built by one
    * corpus-positions aggregation at start, then updated each super-step by
    * merging only the deltas of words the applied batch TOUCHED (retract
    * old pair bag, assert new; full-outer join on the pair key, both sides
    * already hash-partitioned at the loop width — the corpus positions are
    * never re-exploded after initialization, so per-step shuffle volume is
    * O(touched pairs), not O(corpus positions)). Each super-step then runs
    * two small jobs: (A) TakeOrdered top candidates from the maintained
    * table; (B) a narrow vocab scan computing, ONLY for those candidates,
    * `max_ctx` = the maximum count over context triples (x,a,b) / (a,b,y)
    * containing the pair. Any pair CREATED by applying the merge (a, b) —
    * (x, a+b), (a+b, y), or the overlap pair (a+b, a+b) — maps
    * occurrence-injectively into one of those triples, so its count is
    * ≤ max_ctx(a, b). The driver then takes the longest PREFIX of the
    * (count desc, pair asc) candidate list such that each accepted pair
    * (c, d)
    *   - cannot lose occurrences to any earlier accepted merge (a, b):
    *     applying (a, b) destroys only pairs (x, a) at positions where that
    *     `a` is followed by `b`, and (b, y) where that `b` is preceded by
    *     `a` — so the only interactions are d == a_j or c == b_j (or the
    *     pair itself). Pairs merely SHARING a symbol in the same position —
    *     (e, r) and (e, n) — are provably independent and batch together,
    *     which is what makes dense Zipf-tail count bands batch at all,
    *   - has count strictly above every earlier member's max_ctx (no
    *     created pair can outrank it), and
    *   - fuses to a string absent from the CURRENT symbol vocabulary
    *     (tracked exactly on the driver: base symbols + all fused outputs)
    *     — a name collision would let an existing pair GAIN count mid-batch.
    * Under those conditions, the sequential argmax at each position inside
    * the batch is exactly the prefix element: all other old pairs only lose
    * count and already ranked below, and every new pair is bounded below
    * the member's count. Prefix order = selection order, so merge RANKS
    * match too. The batch applies in one narrow map (fold over the word's
    * symbols in batch order — identical application semantics).
    *
    * Worst case (every top pair interacting) degenerates to one merge per
    * super-step — still two SMALL jobs, vs r11's full pair re-aggregation
    * per merge. Measured on a 181k-word Zipf table (BASELINE.md r12 BPE rungs):
    * batches of 3-6 across the whole 2k-merge run, 2k merges ≈ 3 min at
    * local[32], ~0.5 jobs/merge vs r11's ~2.9; at a production 20M-word
    * vocabulary the per-step win is the shuffle volume (touched-pair
    * deltas + candidate contexts ≈ 1-10M rows vs ~500M re-exploded
    * positions).
    *
    * BpeSpec pins byte-identity vs [[trainLocal]] on the worked example and
    * on randomized corpora with planted overlap/collision patterns.
    * localCheckpoint every few super-steps keeps lineage flat (Iterate's
    * rule). */
  private[graft] def trainDistributed(wc: DataFrame, nMerges: Int,
      minPairCount: Long, batchLimit: Int = 512,
      onBatch: Int => Unit = _ => (),
      debugBreaks: mutable.Map[String, Int] = null): Seq[Merge] = {
    // The multi-minute loop runs in a CLONED session (`newSession()`:
    // shared SparkContext and block manager, isolated SQLConf), so its
    // conf overrides — AQE off, vocab-sized shuffle width — cannot
    // mis-plan concurrent queries on the caller's session, and two
    // concurrent trainings cannot clobber each other's restore values.
    // AQE off for the loop: each super-step is a fixed small-table shape
    // where AQE's per-stage re-planning just multiplies scheduler round
    // trips (one job per query stage) on a latency-bound sequential loop.
    val callerParts =
      wc.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val spark = wc.sparkSession.newSession()
    // newSession() starts from SparkConf DEFAULTS, not the caller's runtime
    // conf — carry the caller's SQL settings (ANSI mode, session timezone,
    // codegen flags…) over so the loop's queries keep the caller's
    // semantics; only then apply the loop-local overrides. Static/immutable
    // entries reject the set — skip them.
    wc.sparkSession.conf.getAll.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._
    // re-bind the input under the cloned session (RDD + schema hop — the
    // rows flow through, the plan re-roots in the clone's SQLConf)
    val wcRows = wc.select(col("word"), col("count"))
    var vocab = spark.createDataFrame(wcRows.rdd, wcRows.schema)
      .as[(String, Long)]
      .map { case (w, c) => (toSymbols(w), c) }
      .toDF("syms", "cnt")
      .transform(Materialize.eager)
    // the loop's aggregations run over the vocabulary-bounded table, not
    // the corpus — size their shuffle width accordingly (the dupGroups
    // discipline: ~50k rows/partition, floor 1, cap = session setting) so
    // each latency-bound super-step doesn't schedule session-width tasks
    val loopParts = math.max(1,
      math.min(callerParts, (vocab.count() / 50000L).toInt + 1))
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    // exact driver-side symbol vocabulary: base symbols now, fused outputs
    // as merges are accepted (every cluster-side symbol is one of these)
    val symbolSet = mutable.HashSet.empty[String]
    vocab.select(explode(col("syms")).as("s")).distinct()
      .collect().foreach(r => symbolSet += r.getString(0))
    // INCREMENTALLY MAINTAINED (a, b) → exact count table — trainLocal's
    // pair-count maintenance, in the cluster. Built by ONE corpus-positions
    // aggregation here; every super-step afterwards merges only the DELTAS
    // of words the applied batch touched (full-outer join on the pair key,
    // so the maintained side keeps its hash partitioning and only the
    // delta side shuffles). Candidate selection reads THIS table — the
    // per-super-step corpus re-explode (3 rows/position, the r12-interim
    // shape) is gone; per-step shuffle volume is O(|touched pairs|), not
    // O(corpus positions).
    def adjacentPairs(s: Array[String]): Iterator[((String, String), Long)] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(i => ((s(i), s(i + 1)), 1L))
    var pairStats = vocab.as[(Array[String], Long)]
      .flatMap { case (s, c) => adjacentPairs(s).map { case (p, _) => (p._1, p._2, c) } }
      .toDF("a", "b", "cnt")
      .groupBy("a", "b").agg(sum("cnt").as("cnt"))
      .transform(Materialize.eager)
    // previous step's caches, released once the current step materializes
    var prevVocab: DataFrame = null
    var prevStats: DataFrame = null
    val merges = mutable.ArrayBuffer.empty[Merge]
    var superSteps = 0
    var continue = true
    while (continue && merges.length < nMerges) {
      // Job A: top candidates by (count desc, pair asc) from the
      // maintained pair table — a TakeOrdered over distinct pairs, no
      // corpus pass
      val top = pairStats
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(batchLimit)
        .collect()
      if (prevStats != null) { prevStats.unpersist(false); prevStats = null }
      if (top.isEmpty || top(0).getLong(2) < minPairCount) continue = false
      else {
        // Job B: per-side max context-triple counts, computed ONLY for the
        // candidate pairs — one narrow vocab scan that emits context rows
        // at candidate positions, then a candidate-bounded aggregation
        val candSetB = spark.sparkContext.broadcast(
          top.map(r => (r.getString(0), r.getString(1))).toSet)
        val ctxBounds = vocab.as[(Array[String], Long)]
          .flatMap { case (s, c) =>
            val cs = candSetB.value
            (0 until s.length - 1).iterator.flatMap { i =>
              if (!cs((s(i), s(i + 1)))) Iterator.empty
              else {
                val lft = if (i > 0)
                  Iterator((s(i), s(i + 1), 1, s(i - 1), c)) else Iterator.empty
                val rgt = if (i + 2 < s.length)
                  Iterator((s(i), s(i + 1), 2, s(i + 2), c)) else Iterator.empty
                lft ++ rgt
              }
            }
          }
          .toDF("a", "b", "k", "ctx", "c")
          .groupBy("a", "b", "k", "ctx").agg(sum("c").as("c"))
          .groupBy("a", "b")
          .agg(coalesce(max(when(col("k") === 1, col("c"))), lit(0L)).as("l"),
            coalesce(max(when(col("k") === 2, col("c"))), lit(0L)).as("r"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        // vocab_t is now materialized — release the previous step's cache
        if (prevVocab != null) { prevVocab.unpersist(false); prevVocab = null }
        val cands = top.map { r =>
          val (ml, mr) = ctxBounds.getOrElse((r.getString(0), r.getString(1)), (0L, 0L))
          (r.getString(0), r.getString(1), r.getLong(2), ml, mr)
        }
        // longest safe prefix (see scaladoc proof sketch). leftSyms = first
        // elements of accepted merges, rightSyms = second elements: a later
        // pair (c, d) is count-stable iff d ∉ leftSyms and c ∉ rightSyms.
        val batch = mutable.ArrayBuffer.empty[Merge]
        val leftSyms = mutable.HashSet.empty[String]
        val rightSyms = mutable.HashSet.empty[String]
        // per accepted member: (maxCtxL, maxCtxR, fused) — creation bounds.
        // A later candidate (c, d) with count `cnt` survives member j iff
        //   cnt > maxCtxL_j                  (created (x, fused_j): x unknown)
        //   and (cnt > maxCtxR_j, or cnt == maxCtxR_j and c lex< fused_j)
        //     (created (fused_j, y) starts with the fresh fused symbol, so
        //      an exact tie resolves by the pair order's first component)
        val bounds = mutable.ArrayBuffer.empty[(Long, Long, String)]
        var stop = false
        var i = 0
        while (!stop && i < cands.length &&
            merges.length + batch.length < nMerges) {
          val (pa, pb, cnt, mctxL, mctxR) = cands(i)
          val fused = pa + pb
          val createdBeats = bounds.exists { case (bl, br, f) =>
            cnt <= bl || cnt < br || (cnt == br && !cpLt(pa, f))
          }
          if (cnt < minPairCount) stop = true
          else if (batch.nonEmpty &&
              (createdBeats || leftSyms(pb) || rightSyms(pa))) {
            if (debugBreaks != null) debugBreaks(
              if (createdBeats) "bound"
              else if (leftSyms(pb)) "adjL" else "adjR") += 1
            stop = true
          }
          else if (symbolSet(fused)) {
            // fused-name collision with a live symbol: safe only as the
            // batch head (the global argmax applied alone is exact)
            if (batch.isEmpty) { batch += Merge(pa, pb); symbolSet += fused }
            stop = true
          } else {
            batch += Merge(pa, pb)
            leftSyms += pa; rightSyms += pb
            symbolSet += fused
            bounds += ((mctxL, mctxR, fused))
          }
          i += 1
        }
        merges ++= batch
        onBatch(batch.length)
        superSteps += 1
        val bArr = batch.toArray
        val bc = spark.sparkContext.broadcast(bArr)
        val applied = vocab.as[(Array[String], Long)]
          .map { case (s, c) =>
            (bc.value.foldLeft(s)((x, m) => applyMerge(x, m.a, m.b)), c) }
          .toDF("syms", "cnt")
        // exact pair-count deltas from TOUCHED words only (trainLocal's
        // incremental maintenance, distributed): a word changed by the fold
        // retracts its old adjacent-pair bag and asserts the new one
        val deltas = vocab.as[(Array[String], Long)]
          .flatMap { case (s, c) =>
            val ns = bc.value.foldLeft(s)((x, m) => applyMerge(x, m.a, m.b))
            // merges only fuse — equal length ⟺ untouched
            if (ns.length == s.length) Iterator.empty
            else {
              val d = mutable.HashMap.empty[(String, String), Long]
              adjacentPairs(s).foreach { case (p, _) =>
                d.updateWith(p)(v => Some(v.getOrElse(0L) - c)) }
              adjacentPairs(ns).foreach { case (p, _) =>
                d.updateWith(p)(v => Some(v.getOrElse(0L) + c)) }
              d.iterator.filter(_._2 != 0L)
                .map { case ((da, db), dc) => (da, db, dc) }
            }
          }.toDF("a", "b", "dcnt")
          .groupBy("a", "b").agg(sum("dcnt").as("dcnt"))
        // full-outer merge on the pair key: both sides are hash-partitioned
        // on (a, b) at the loop width (the maintained table by its last
        // aggregation, the delta by its own), so the merge shuffles only
        // sort-local data — never the corpus
        val mergedStats = pairStats.join(deltas, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L))).as("cnt"))
          .filter(col("cnt") > 0)
        // LAZY persist: the next super-step's Job A materializes the merged
        // stats (and with them the apply-map) — no extra action per step.
        // localCheckpoint every few steps truncates lineage (Iterate's rule).
        if (superSteps % 8 == 0) {
          // materialize BOTH checkpoints off the old caches before
          // releasing them — mergedStats' delta plan reads the old vocab
          val vcp = Materialize.eager(applied)
          val scp = Materialize.eager(mergedStats)
          vocab.unpersist(false); pairStats.unpersist(false)
          vocab = vcp; pairStats = scp
        } else {
          prevVocab = vocab
          vocab = applied.persist()
          prevStats = pairStats
          pairStats = mergedStats.persist()
        }
      }
    }
    if (prevVocab != null) prevVocab.unpersist(false)
    if (prevStats != null) prevStats.unpersist(false)
    vocab.unpersist(false)
    pairStats.unpersist(false)
    merges.toSeq
  }

  private def pairLt(x: (String, String), y: (String, String)): Boolean =
    cpLt(x._1, y._1) || (x._1 == y._1 && cpLt(x._2, y._2))

  private[graft] def applyMerge(s: Array[String], a: String, b: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Greedy BPE apply (HF `bpe` loop): repeatedly fuse the lowest-rank
    * adjacent pair until none of the pairs present is a known merge. */
  private[graft] def encodeWord(w: String,
      rank: collection.Map[(String, String), Int]): Array[String] = {
    var s = toSymbols(w)
    var done = false
    while (!done && s.length > 1) {
      var bi = -1; var br = Int.MaxValue
      var i = 0
      while (i < s.length - 1) {
        val r = rank.getOrElse((s(i), s(i + 1)), Int.MaxValue)
        if (r < br) { br = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else s = applyMerge(s, s(bi), s(bi + 1))
    }
    s
  }

  /** Encode: (id, tokens array, token count, round-trip flag). One narrow
    * mapPartitions; merges broadcast; per-partition word memo. */
  def encode(df: DataFrame, id: Column, text: Column,
      merges: Seq[Merge]): DataFrame = {
    val spark = df.sparkSession
    val rankB = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (m, i) => ((m.a, m.b), i) }.toMap)
    val in = df.select(id.cast("long").as("id"), text.cast("string").as("_t"))
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_tokens", LongType, nullable = false),
      StructField("roundtrip_ok", BooleanType, nullable = false)))
    in.mapPartitions { it =>
      val rank = rankB.value
      val memo = mutable.HashMap.empty[String, Array[String]]
      it.map { r =>
        val docId = r.getLong(0)
        val ws = words(Option(r.getString(1)).getOrElse(""))
        val toks = ws.flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, rank)))
        // round-trip: token concatenation per word reassembles the word —
        // checked against the normalized text both engines can compute
        var ok = true
        var ti = 0
        for (w <- ws) {
          val sb = new StringBuilder
          while (sb.length < w.length && ti < toks.length) { sb ++= toks(ti); ti += 1 }
          if (sb.toString != w) ok = false
        }
        if (ti != toks.length) ok = false
        Row(docId, toks.toSeq, toks.length.toLong, ok)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Token count per document under a trained vocabulary — the
    * TokenCountSplitter budget measure, engine-native. */
  def tokenCount(df: DataFrame, id: Column, text: Column,
      merges: Seq[Merge]): DataFrame =
    encode(df, id, text, merges).select(col("id"), col("n_tokens"))

  /** Base single-character symbols of the training corpus, sorted — the
    * char-level floor of the vocabulary (every encodable word decomposes
    * into these plus merge outputs). */
  def baseSymbols(df: DataFrame, text: Column): Seq[String] =
    baseSymbolsFromCounts(wordCounts(df, text))

  /** Base symbols from a pre-computed (word, count) table (see
    * [[trainFromCounts]] for the shared-pass discipline). */
  def baseSymbolsFromCounts(wc: DataFrame): Seq[String] = {
    val spark = wc.sparkSession
    import spark.implicits._
    // code-point symbols (toSymbols), sorted in code-point (= UTF-8 binary)
    // order so driver and distributed vocabularies agree
    wc.select(col("word")).as[String]
      .flatMap(toSymbols(_).toSeq)
      .distinct()
      .collect().sortWith(cpLt).toSeq
  }

  /** Token-id vocabulary: base chars first (sorted), then merge outputs in
    * rank order (duplicates keep the earlier id). Id = position. */
  def vocabulary(merges: Seq[Merge], base: Seq[String]): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    base.foreach(out += _)
    merges.foreach(m => out += (m.a + m.b))
    out.toSeq
  }

  /** Encode to integer token ids (training-tensor currency): tokens outside
    * the vocabulary (unseen characters) map to −1, the conventional UNK
    * sentinel the caller can filter or remap. */
  def encodeIds(df: DataFrame, id: Column, text: Column, merges: Seq[Merge],
      vocab: Seq[String]): DataFrame = {
    // literal-map lookup stays codegen'd (vocab is merge-bounded — a few
    // hundred entries); no UDF
    val vmap = typedLit(vocab.zipWithIndex.toMap)
    encode(df, id, text, merges)
      .select(col("id"),
        transform(col("tokens"),
          t => coalesce(element_at(vmap, t), lit(-1))).as("token_ids"),
        col("n_tokens"), col("roundtrip_ok"))
  }
}
