package graft.examples

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Bpe, Dedup, Materialize, TextOps, TrainPrep, Utils}

/** End-to-end LLM training-data curation pipeline — the composition a user
  * of the reference would run daily, expressed entirely in this library's
  * operators. Stages (each one a single declarative DataFrame transform, so
  * Catalyst fuses what it can):
  *
  *   1. analyze    — language-ID, quality score, token counts, PII audit
  *   2. filter     — keep high-quality docs in the target language
  *   3. exact dedup — one md5-fingerprint grouping keeps each group's
  *                   min-id row
  *   4. near dedup — MinHash+LSH (banded buckets + prefilter + verify),
  *                   anti-join away the larger id of every verified pair
  *   5. decontaminate — anti-join away docs sharing a token window with
  *                   the eval set
  *   6. sample     — deterministic weighted downsampling (rerun-stable)
  *   7. split      — hash-based train/val/test (leak-free by construction)
  *   8. pack       — lay docs end-to-end into fixed token-budget windows
  *
  * Each stage is computed once. The exact-deduped corpus is the one frame
  * several actions read (the minhash signature count, the verified-pairs
  * checkpoint, the caller's action), so it is the one fence; near dedup
  * and decontamination remove rows with an anti-join on the ids they
  * reject. Doc ids are the key: they are assumed unique, and a null id
  * never survives exact dedup.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 runMain
  *      graft.examples.TrainDataPipeline
  */
object TrainDataPipeline {

  /** The pipeline as a function (spec-testable): documents(doc_id, text) +
    * an eval table → packed training rows with full audit columns.
    * `c4Clean` prepends C4 line cleaning (drops lorem/brace pages, keeps
    * terminal-punctuation lines — requires punctuated multi-line input);
    * `gopherFilter` adds the Gopher document-rule battery to the filter
    * stage. Both off by default: the synthetic corpus is single-line
    * unpunctuated prose, which C4 would drop wholesale. */
  def curate(docs: DataFrame, evalSet: DataFrame, budget: Long = 2048,
      gopherFilter: Boolean = false, c4Clean: Boolean = false,
      boilerplateClean: Boolean = false, lmScoreMin: Option[Double] = None,
      bpeMerges: Option[Int] = None): DataFrame = {
    // 0a. optional corpus-level boilerplate removal (CCNet): lines repeated
    // across the corpus vanish from every page before any per-doc stage
    val deboiled = if (!boilerplateClean) docs else
      TextOps.removeBoilerplate(docs, col("doc_id"), col("text"))
        .filter(col("n_kept_lines") > 0)
        .select(col("id").as("doc_id"), col("clean_text").as("text"))
    // 0b. optional C4 page cleaning BEFORE anything reads the text
    val cleaned = if (!c4Clean) deboiled else {
      val stats = TextOps.c4Stats(col("text")).toMap
      deboiled.select(col("doc_id"), stats("clean_text").as("text"),
          stats("c4_drop").as("_drop"))
        .filter(!col("_drop")).drop("_drop")
    }
    // 0c. optional LM-score floor (CCNet perplexity-band analog): drop docs
    // whose mean conditional bigram probability under the corpus model is
    // below the floor
    val lmKept = lmScoreMin match {
      case None => cleaned
      case Some(floor) =>
        cleaned.join(
          TextOps.bigramLmScore(cleaned, col("doc_id"), col("text"))
            .filter(col("lm_score") >= floor)
            .select(col("id").as("doc_id")), "doc_id")
    }
    // 1. analyze (rowwise, codegen'd — no shuffle). Redact FIRST: lang /
    // quality / token counts must describe the text the pipeline ships,
    // not the pre-redaction original (pack offsets depend on n_tokens)
    val (redacted, nEmails, nPhones) = TrainPrep.piiRedact(col("text"))
    val analyzed0 = lmKept
      .select(col("doc_id"), redacted.as("text"), (nEmails + nPhones).as("pii_hits"))
      .select(col("doc_id"), col("text"), col("pii_hits"),
        TextOps.langId(col("text")).as("lang"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
    // optional: budget in REAL tokenizer tokens — train a BPE vocabulary on
    // the corpus the pipeline will ship (post-redaction) and replace the
    // whitespace estimate, so pack windows match what a trainer tokenizes
    val analyzed = bpeMerges match {
      case None => analyzed0
      case Some(n) =>
        val merges = Bpe.train(analyzed0, col("text"), nMerges = n)
        analyzed0.drop("n_tokens").join(
          Bpe.tokenCount(analyzed0, col("doc_id"), col("text"), merges)
            .select(col("id").as("doc_id"), col("n_tokens")), "doc_id")
    }

    // 2. filter (+ optional Gopher document rules)
    val kept0 = analyzed.filter(col("lang") === "en" && col("quality") >= 0.3)
    val kept = if (!gopherFilter) kept0
      else TextOps.gopherStats(kept0, col("text"))
        .filter(col("gopher_pass")).drop(TextOps.gopherStatNames: _*)

    // 3. exact dedup (Dedup.exact's rule): per md5 fingerprint the min-id
    // row survives whole, in one grouping that reads `kept` once. The one
    // fence: minhash's signature count, its verified-pairs checkpoint and
    // the caller's action all read this frame
    val exactDeduped = Materialize.eager(Utils.argminRows(
      kept.filter(col("doc_id").isNotNull), Seq(TextOps.fingerprintMd5(col("text"))),
      value = col("doc_id"), tieBreak = col("doc_id")))

    // 4. near dedup: minhashLsh flags a doc is_dup exactly when it is the
    // larger id of a verified pair (id1 < id2), so the pairs' id2 side is
    // the drop list
    val pairs = Dedup.minhashLshPairs(exactDeduped, col("doc_id"), col("text"))
    val nearDeduped = exactDeduped.join(
      pairs.select(col("id2").as("doc_id")), Seq("doc_id"), "left_anti")

    // 5. decontaminate: drop docs sharing any 8-token window with the eval
    // set — TrainPrep.decontaminate's flagged docs, without the audit
    // counts it would aggregate only for this path to discard
    val evalWindows = TrainPrep.tokenWindowHashes(evalSet, col("eval_id"), col("eval_text"), 8)
    val contaminated = TrainPrep.tokenWindowHashes(nearDeduped, col("doc_id"), col("text"), 8)
      .join(evalWindows.select("_h"), Seq("_h"), "left_semi")
      .select(col("id").as("doc_id"))
    val clean = nearDeduped.join(contaminated, Seq("doc_id"), "left_anti")

    // 6. deterministic weighted sampling: quality-proportional keep rate
    val sampled = TrainPrep.sampleByWeight(clean, col("doc_id"),
      least(col("quality") + 0.5, lit(1.0)))

    // 7. leak-free split on the stable id hash
    val splits = TrainPrep.splitByHash(sampled, col("doc_id"))

    // 8. pack the train split into fixed context windows. The packing
    // window is sharded by a hash bucket of the doc id (packSequences'
    // scaladoc: NEVER a single global sort partition — `split` alone would
    // be exactly that after the train filter); at real scale use a
    // date/source column so packs align with ingestion shards
    TrainPrep.packSequences(
      splits.filter(col("split") === "train")
        .withColumn("_shard", pmod(graft.functions.CrossHash.md5Long(col("doc_id")), lit(16L))),
      instance = col("_shard"), order = col("doc_id"),
      nTokens = col("n_tokens"), budget = budget)
  }

  /** The final trainer artifact: curated docs tokenized to stable BPE ids
    * and packed into exact `budget`-length context windows — the parquet a
    * data-loader reads. One extra tokenize pass over the curated survivors;
    * window offsets derive from the ACTUAL id-array sizes, so the output is
    * internally consistent whatever the curation-time token estimate was. */
  def curateToTokenWindows(docs: DataFrame, evalSet: DataFrame,
      budget: Long = 2048, nMerges: Int = 200): DataFrame = Materialize.scoped { pin =>
    // curated feeds four consumers (word counts ×1 shared, encodeIds, the
    // final join) — materialize it ONCE, and share one word-count pass
    // between train and baseSymbols, per the eager-persist discipline
    val curated = pin(curate(docs, evalSet, budget, bpeMerges = Some(nMerges)))
    curated.count()
    val wc = pin(Bpe.wordCounts(curated, col("text")))
    val merges = Bpe.trainFromCounts(wc, nMerges)
    val vocab = Bpe.vocabulary(merges, Bpe.baseSymbolsFromCounts(wc))
    val ids = Bpe.encodeIds(curated, col("doc_id"), col("text"), merges, vocab)
      .select(col("id").as("doc_id"), col("token_ids"))
    // materialized before the scope releases curated: the packed frame's
    // plan still references it
    Materialize.eager(TrainPrep.packTokenWindows(
      curated.select(col("doc_id"), col("_shard")).join(ids, "doc_id"),
      instance = col("_shard"), order = col("doc_id"),
      tokenIds = col("token_ids"), budget = budget))
  }

  /** Targeted selection ahead of curation: DSIR importance ranking toward a
    * target domain, then a budgeted mixture waterfill across sources whose
    * rates drive deterministic stratified sampling — the "which data do I
    * even feed the pipeline" stage of a 100 TB corpus build. Entirely
    * composed from TrainPrep primitives:
    *
    *   docs ── dsirWeights(target) ──┐ keep docs scoring above the
    *                                 ├ importance floor (lookalikes of the
    *                                 ┘ target domain)
    *        ── mixturePlanFilled ──── per-source keep rates for `budget`
    *                                  tokens at `mix` proportions
    *        ── sampleStratified ───── hash-deterministic selection
    *        ── curate(...) ────────── the full dedup/decontaminate pipeline
    */
  def selectAndCurate(docs: DataFrame, evalSet: DataFrame, target: DataFrame,
      source: Column, mix: DataFrame, tokenBudget: Double,
      dsirFloorMicro: Option[Long] = None, dsirBuckets: Int = 4096,
      dsirTopK: Option[Int] = None, strictMix: Boolean = false): DataFrame = {
    val words = TrainPrep.whitespaceWordCount(col("text"))
    // floor is OFF by default: an ABSOLUTE floor interacts with the bucket
    // count (dsirLogRatios inverts when buckets exceed distinct grams — all
    // weights go negative and a 0 floor silently drops the whole corpus);
    // opt in only with a floor calibrated to the corpus, or use the
    // calibration-free rank head (`dsirTopK` — the dsirSelect rule: weight
    // DESC, id ASC, distributed orderBy+limit). LEFT join so a gram-less
    // (e.g. empty-text) doc keeps an explicit sentinel weight — it ranks
    // last and an explicit floor excludes it VISIBLY — instead of
    // vanishing in an inner join.
    val scored0 = docs.join(
      TrainPrep.dsirWeights(docs, target, col("doc_id"), col("text"), dsirBuckets)
        .select(col("id").as("doc_id"), col("logw_micro")), Seq("doc_id"), "left")
      .withColumn("logw_micro", coalesce(col("logw_micro"), lit(Long.MinValue)))
    val floored = dsirFloorMicro.fold(scored0)(f => scored0.filter(col("logw_micro") >= f))
    val selected = dsirTopK.fold(floored)(kk =>
      floored.orderBy(col("logw_micro").desc, col("doc_id").asc).limit(kk))
    // the selected frame is consumed TWICE (the mixture count-agg AND the
    // stratified sample) — without a materialization the whole DSIR scoring
    // DAG evaluates once per consumer. When a selection head (floor/topK)
    // shrank it, checkpoint the survivors; with no head it is the full
    // corpus — leave it lazy rather than copy 100 TB.
    val scored =
      if (dsirFloorMicro.isDefined || dsirTopK.isDefined) Materialize.eager(selected)
      else selected
    // strictMix = exact-mixture plan (T* = min cap/w, one declarative plan,
    // bit-replayable); default = budgeted waterfill toward `tokenBudget`
    val plan =
      if (strictMix) TrainPrep.mixturePlanStrict(scored, source, words, mix)
      else TrainPrep.mixturePlanFilled(scored, source, words, mix, tokenBudget)
    val rates = plan.select(col("src"), (col("rate_micro") / lit(1e6)).as("p"))
    // the sampled corpus has one consumer: curate's exact-dedup fence is
    // its first action and the only one that reads it, so the DSIR scoring
    // + mixture DAG upstream runs once without a fence of its own, and the
    // returned frame reads the fence's checkpoint, not the scoring plan
    val sampled = TrainPrep.sampleStratified(scored, col("doc_id"), source, rates)
      .select("doc_id", "text")
    curate(sampled, evalSet)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    // stand-in eval set: a slice of the corpus guarantees contamination hits
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
    val nIn = docs.count()
    val out = curate(docs, evalSet)
    // one action for the whole summary — don't re-run the pipeline per stat
    val row = out.agg(count(lit(1)).as("n"), countDistinct(col("pack_id")).as("p")).head
    println(s"[pipeline] input=$nIn curated=${row.getLong(0)} packs=${row.getLong(1)}")
    spark.stop()
  }
}
