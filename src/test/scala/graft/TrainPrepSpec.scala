package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CrossHash
import graft.operators.TrainPrep

/** TrainPrep: substring-span dedup, decontamination, weighted sampling —
  * known-answer fixtures small enough to verify by hand. */
class TrainPrepSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 40 identical docs (one giant bucket in every band) + 2 distinct docs;
  // cap=10 forces the hot path on the pileup
  private lazy val cloneDocs =
    ((1L to 40L).map(i => (i, "the same boilerplate text repeated everywhere")) ++
      Seq((100L, "a completely different document about spark"),
          (101L, "yet another unrelated piece of writing here"))).toDF("doc_id", "text")

  test("hot-bucket guard: degenerate buckets emit star candidates, groups survive") {
    import graft.operators.Dedup
    val guarded = Dedup.minhashLsh(cloneDocs, col("doc_id"), col("text"), bucketCap = 10)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // every clone still resolves to rep 1 through the star candidates
    assert(guarded.filter(_._1 <= 40).forall { case (id, rep, dup) =>
      rep == 1L && (dup == (id != 1L)) })
    assert(guarded.filter(_._1 >= 100).forall { case (_, rep, dup) => !dup && rep >= 100 })

    // hash64DupPairs: constant signature, cap=10 → exactly m−1 star pairs
    // (all-pairs would be m(m−1)/2)
    val m = 30
    val sigs = (1L to m.toLong).map(i => (i, 0x0F0F0F0F0F0F0F0FL)).toDF("id", "_sig")
    val pairs = Dedup.hash64DupPairs(sigs, maxDist = 3, bands = 4, bucketCap = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == (2L to m.toLong).map(i => (1L, i)).toSet,
      s"expected ${m - 1} star pairs against rep 1, got ${pairs.size}")
    // and transitive grouping reconnects the full cluster
    val groups = Dedup.dupGroups(
        Dedup.hash64DupPairs(sigs, maxDist = 3, bands = 4, bucketCap = 10))
      .as[(Long, Long)].collect().toMap
    assert((1L to m.toLong).forall(groups(_) == 1L))

    // below the cap the all-pairs path is byte-identical to the unguarded form
    val small = Seq((1L, 7L), (2L, 7L), (3L, 0x7000000000000003L)).toDF("id", "_sig")
    val coldPairs = Dedup.hash64DupPairs(small, maxDist = 3, bands = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(coldPairs == Set((1L, 2L)))
  }

  test("dedupGroups: transitive chains group under one rep, sizes and flags exact") {
    import graft.operators.Dedup
    // a ~ b and b ~ c by construction, a ~ c below threshold: base text, base
    // + 40% distinct tail, base + 80% distinct tail. The md5-style tails are
    // spelled out so the jaccard ladder is deterministic.
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronauts deliberate about breakfast in the orbital cafeteria every morning"
    val t1 = " qxv1 zjw2 pmh3 krt4 bfd5 ngl6 wcy7 vsk8 djq9 hzx0 plm1 rtw2 fkc3"
    val t2 = " ybn4 muo5 gae6 xir7 ldt8 cps9 evh0 awm1 okz2 fuj3 qgs4 nib5 tyd6"
    val docs = Seq(
      (10L, base), (20L, base + t1), (30L, base + t1 + t2),
      (40L, "an entirely unrelated document that speaks of nothing similar at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupGroups(docs, col("doc_id"), col("text"),
        k = 5, numHashes = 32, bands = 8, threshold = 0.6)
      .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(10L, 20L, 30L, 40L))
    // sanity: the direct pairs the grouping is built from form a CHAIN —
    // (10,20) and (20,30) verified, (10,30) absent
    val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        k = 5, numHashes = 32, bands = 8, threshold = 0.6)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 20L), (20L, 30L)),
      s"expected a strict chain, got $pairs")
    // transitive closure: all three under rep 10, size 3; singleton untouched
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq == Seq(
      (10L, 10L, false, 3L), (20L, 10L, true, 3L),
      (30L, 10L, true, 3L), (40L, 40L, false, 1L)))
  }

  test("minhashLsh: a 2,134-doc corpus finds the 34-doc corpus's pairs, no more") {
    import graft.operators.Dedup
    val small = MinhashCorpus.small(spark)
    val big = MinhashCorpus.big(spark)
    assert(small.count() == 34L && big.count() == 2134L)

    def run(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      Dedup.minhashLsh(docs, col("doc_id"), col("text"))
        .as[(Long, Long, Boolean)].collect().toSet
    val smallOut = run(small)
    // every family member resolves to its family's smallest id
    assert(smallOut == MinhashCorpus.expected)
    val bigOut = run(big)
    assert(bigOut.filter(_._1 < 1000000L) == smallOut)
    assert(bigOut.filter(_._1 >= 1000000L).forall { case (id, rep, dup) => rep == id && !dup })
  }

  test("hot-bucket guard: embedding SRP pileup emits star candidates, pairs verify") {
    import graft.operators.Similarity
    // 30 identical embeddings (every SRP table hashes them to one bucket) +
    // 2 orthogonal-ish distinct ones; cap=8 forces the star path
    val base = Array.tabulate(8)(i => math.sin(i * 1.7) + 0.2)
    val vecs = ((1L to 30L).map(i => (i, base)) ++
      Seq((100L, Array.tabulate(8)(i => math.cos(i * 2.3))),
          (101L, Array.tabulate(8)(i => math.sin(i * 0.4) - 0.6)))).toDF("id", "v")
    val pairs = Similarity.embeddingDupPairs(vecs, col("id"), col("v"),
        dim = 8, threshold = 0.99, nPlanes = 4, nTables = 4, bucketCap = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exactly the m-1 star pairs against rep 1 (identical vectors all verify)
    assert(pairs == (2L to 30L).map(i => (1L, i)).toSet,
      s"expected 29 star pairs, got ${pairs.size}")
  }

  test("hot-cluster guard: semantic dedup pileup emits star candidates, exact below cap") {
    import graft.operators.Dedup
    // 30 identical embeddings: the assignment collapses them into one
    // cluster; clusterCap=8 forces the guarded star path. All 29 clones
    // must still resolve to rep 1 (identical vectors share the tier-1
    // sub-key, so the star IS exact here), and the two distinct vectors
    // stay non-dups.
    val base = Array.tabulate(8)(i => math.sin(i * 1.7) + 0.2)
    val vecs = ((1L to 30L).map(i => (i, base)) ++
      Seq((100L, Array.tabulate(8)(i => math.cos(i * 2.3))),
          (101L, Array.tabulate(8)(i => math.sin(i * 0.4) - 0.6)))).toDF("id", "v")
    val guarded = Dedup.semantic(vecs, col("id"), col("v"), dim = 8, k = 2,
        threshold = 0.99, clusterCap = 8)
      .select("id", "rep_id", "is_dup").as[(Long, Long, Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(guarded.filter(_._1 <= 30).forall { case (id, rep, dup) =>
      rep == 1L && (dup == (id != 1L)) }, s"star clones must rep to 1: $guarded")
    assert(guarded.filter(_._1 >= 100).forall { case (_, rep, dup) => !dup },
      s"distinct vectors must survive: $guarded")
    // below the cap the guarded path is byte-identical to the unguarded form
    val small = ((1L to 5L).map(i => (i, base)) ++
      Seq((100L, Array.tabulate(8)(i => math.cos(i * 2.3))))).toDF("id", "v")
    def run(cap: Int) = Dedup.semantic(small, col("id"), col("v"), dim = 8,
        k = 2, threshold = 0.99, clusterCap = cap)
      .select("id", "rep_id", "is_dup").as[(Long, Long, Boolean)].collect().toSet
    assert(run(Int.MaxValue) == run(3), "guarded must equal exact below/above cap here")
  }

  test("TrainDataPipeline.curate: clones and contaminated docs removed, rerun-stable") {
    import graft.examples.TrainDataPipeline
    val base = "the quick brown fox jumps over the lazy dog and then it runs away " +
      "to the forest where all of the other animals have been waiting for it since morning"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                        // near-dup of 1 -> dropped
      (3L, "this is a completely different story about a ship that sails " +
        "across the sea with a crew of twenty and a cat that they all feed daily"),
      (4L, "here we have yet another long and quite ordinary piece of english " +
        "writing about the weather in the north and the people who live there"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "a ship that sails across the sea with a crew"))
      .toDF("eval_id", "eval_text")                 // contaminates doc 3
    def run() = TrainDataPipeline.curate(docs, evalSet, budget = 64)
      .select("doc_id").as[Long].collect().toSet
    val out = run()
    assert(!out.contains(2L), "near-dup clone must be dropped")
    assert(!out.contains(3L), "eval-contaminated doc must be dropped")
    assert(out.contains(1L) || out.contains(4L), "survivors expected")
    assert(run() == out, "pipeline must be deterministic across reruns")
  }

  /** `TrainDataPipeline.curate` with its default options in its join-back
    * composition: each dedup step joins its kept-id list back onto its
    * input, decontamination goes through `TrainPrep.decontaminate`, and no
    * stage is materialized. The reference the one-pass curate must equal. */
  private def joinBackCurate(docs: DataFrame, evalSet: DataFrame, budget: Long): DataFrame = {
    import graft.operators.{Dedup, TextOps}
    val (redacted, nEmails, nPhones) = TrainPrep.piiRedact(col("text"))
    val kept = docs
      .select(col("doc_id"), redacted.as("text"), (nEmails + nPhones).as("pii_hits"))
      .select(col("doc_id"), col("text"), col("pii_hits"),
        TextOps.langId(col("text")).as("lang"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .filter(col("lang") === "en" && col("quality") >= 0.3)
    val reps = Dedup.exact(kept, col("doc_id"), TextOps.fingerprintMd5(col("text")))
    val exactDeduped = kept.join(reps.select(col("rep_id").as("doc_id")), "doc_id")
    val near = Dedup.minhashLsh(exactDeduped, col("doc_id"), col("text"))
    val nearDeduped = exactDeduped.join(
      near.filter(!col("is_dup")).select(col("id").as("doc_id")), "doc_id")
    val contaminated = TrainPrep.decontaminate(nearDeduped, col("doc_id"), col("text"),
      evalSet, col("eval_id"), col("eval_text"), k = 8)
    val clean = nearDeduped.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
    val sampled = TrainPrep.sampleByWeight(clean, col("doc_id"),
      least(col("quality") + 0.5, lit(1.0)))
    TrainPrep.packSequences(
      TrainPrep.splitByHash(sampled, col("doc_id")).filter(col("split") === "train")
        .withColumn("_shard", pmod(CrossHash.md5Long(col("doc_id")), lit(16L))),
      instance = col("_shard"), order = col("doc_id"), nTokens = col("n_tokens"),
      budget = budget)
  }

  test("TrainDataPipeline.curate == the join-back composition where near-dups verify") {
    import graft.examples.TrainDataPipeline
    // MinhashCorpus's families and singletons, led by a stopword so they
    // pass the language gate: every family member verifies against the rest
    val english = (MinhashCorpus.families ++ MinhashCorpus.singletons)
      .map { case (id, t) => (id, s"the $t") }
    val text = english.toMap
    val clones = Seq(
      2000L -> ("  " + text(1L).replace(" ", "   ")), // whitespace variant of 1: dropped
      50L -> text(1003L),                             // smaller id: 1003 drops instead
      7L -> text(202L))                               // 202 drops; 7 reps family 2
    val docs = (english ++ clones).toDF("doc_id", "text")
    def window(t: String, from: Int, n: Int) = t.split(" ").slice(from, from + n).mkString(" ")
    val evalSet = Seq(
      (1L, s"eval ${window(text(1005L), 2, 8)} end"),   // 8 shared tokens: 1005 drops
      (2L, s"eval ${window(text(300L), 1, 8)} end"),    // family 3's base: all 4 drop
      (3L, s"eval ${window(text(1006L), 2, 7)} end"))   // 7 tokens: 1006 stays
      .toDF("eval_id", "eval_text")

    def rows(df: DataFrame) = (df.columns.toSeq, df.dtypes.toSeq,
      df.collect().map(_.toString).sorted.toSeq)
    val out = TrainDataPipeline.curate(docs, evalSet, budget = 64)
    assert(rows(out) == rows(joinBackCurate(docs, evalSet, budget = 64)))

    // the output is exactly the exact reps that are also near-dup reps and
    // touch no eval window, less what the id-hash sample and split drop
    val passing = TrainPrep.splitByHash(TrainPrep.sampleByWeight(
        docs.withColumn("quality", graft.operators.TextOps.qualityScore(col("text"))),
        col("doc_id"), least(col("quality") + 0.5, lit(1.0))), col("doc_id"))
      .filter(col("split") === "train").select("doc_id").as[Long].collect().toSet
    val survivors = Set(0L, 7L, 50L, 100L, 400L, 500L) ++
      (1000L to 1009L).filterNot(Set(1003L, 1005L))
    assert(out.select("doc_id").as[Long].collect().toSet == (survivors & passing))
    // and each removal rule drops a doc the sample would have kept
    val removed = Map(
      "exact" -> Set(2000L, 1003L, 202L),
      "near" -> ((0L to 5L).flatMap(f => (1L to 3L).map(100L * f + _)).toSet - 202L + 200L),
      "decontaminate" -> Set(1005L, 300L))
    removed.foreach { case (rule, ids) =>
      assert((ids & passing).nonEmpty, s"$rule removes nothing the sample keeps") }
  }

  test("TrainDataPipeline.selectAndCurate: DSIR floor + mixture rates gate the corpus") {
    import graft.examples.TrainDataPipeline
    // two domains across two sources; the target is science-flavored
    // English-shaped (stopword-bearing) text: curate's language/quality
    // filter is part of the path under test
    val sci = (0L until 12L).map(i =>
      (i * 2, s"the physics experiment number $i measures the energy of the " +
        s"particle states and it is recorded in the journal of the lab"))
    val cook = (0L until 12L).map(i =>
      (i * 2 + 1, s"the recipe number $i simmers the onion in the butter sauce " +
        s"until it is golden and then you serve it to the guests at the table"))
    val docs = (sci ++ cook).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 2 === 0).limit(6)
    val evalSet = Seq((100L, "never matches anything here at all"))
      .toDF("eval_id", "eval_text")
    val mix = Seq((0L, 0.6), (1L, 0.4)).toDF("src", "w")
    // buckets sized to the corpus (~400 grams): with buckets >> grams the
    // Laplace smoothing crushes every weight below zero and an absolute
    // floor keeps nothing (ranking is unaffected — see the dsirSelect test)
    def run() = TrainDataPipeline.selectAndCurate(docs, evalSet, target,
      source = col("doc_id") % 2, mix = mix, tokenBudget = 120.0,
      dsirFloorMicro = Some(1L), dsirBuckets = 64)
      .select("doc_id").as[Long].collect().toSet
    val out = run()
    assert(out.nonEmpty, "selection must keep something")
    assert(out.forall(_ % 2 == 0),
      s"positive DSIR floor keeps only target lookalikes: $out")
    assert(run() == out, "hash-deterministic end to end")
  }

  test("curate with bpeMerges budgets packs in real BPE tokens") {
    import graft.examples.TrainDataPipeline
    val base = "the quick brown fox jumps over the lazy dog and then it runs away " +
      "to the forest where all of the other animals have been waiting for it since morning"
    val docs = Seq(
      (1L, base),
      (4L, "here we have yet another long and quite ordinary piece of english " +
        "writing about the weather in the north and the people who live there"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "nothing matches this eval text at all"))
      .toDF("eval_id", "eval_text")
    val out = TrainDataPipeline.curate(docs, evalSet, budget = 64,
      bpeMerges = Some(40)).select("doc_id", "n_tokens", "offset_in_pack")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, n, off) => n > 0 && off >= 0 && off < 64 })
    // same corpus through the whitespace estimator gives DIFFERENT counts —
    // the option really switched the budget currency
    val ws = TrainDataPipeline.curate(docs, evalSet, budget = 64)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(out.exists { case (id, n, _) => ws.get(id).exists(_ != n) })
  }

  test("packTokenWindows: exact budget windows, docs straddle, order kept") {
    val docs = Seq(
      (0L, 1L, Seq(1, 2, 3)), (0L, 2L, Seq(4, 5)), (0L, 3L, Seq(6, 7, 8, 9)),
      (1L, 1L, Seq(10, 11))).toDF("shard", "ord", "ids")
    val out = TrainPrep.packTokenWindows(docs.repartition(3), col("shard"),
        col("ord"), col("ids"), budget = 4)
      .select("instance", "pack_id", "token_ids", "n")
      .as[(Long, Long, Seq[Int], Long)].collect()
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (0L, 0L, Seq(1, 2, 3, 4), 4L),   // doc 2 straddles into window 0
      (0L, 1L, Seq(5, 6, 7, 8), 4L),
      (0L, 2L, Seq(9), 1L),            // final partial window
      (1L, 0L, Seq(10, 11), 2L)))
  }

  test("curateToTokenWindows emits exact-budget id windows") {
    import graft.examples.TrainDataPipeline
    val base = "the quick brown fox jumps over the lazy dog and then it runs away " +
      "to the forest where all of the other animals have been waiting for it since morning"
    val docs = Seq(
      (1L, base),
      (4L, "here we have yet another long and quite ordinary piece of english " +
        "writing about the weather in the north and the people who live there"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "nothing matches this eval text at all"))
      .toDF("eval_id", "eval_text")
    val out = TrainDataPipeline.curateToTokenWindows(docs, evalSet,
      budget = 16, nMerges = 30)
      .select("instance", "pack_id", "token_ids", "n")
      .as[(Long, Long, Seq[Int], Long)].collect()
    assert(out.nonEmpty)
    // every window is exactly the budget except each shard's last
    val byShard = out.groupBy(_._1)
    assert(byShard.values.forall { ws =>
      val sorted = ws.sortBy(_._2)
      sorted.init.forall(_._4 == 16L) && sorted.last._4 <= 16L
    })
    // ids come from a real vocabulary (no UNKs on the training corpus itself)
    assert(out.forall(_._3.forall(_ >= 0)))
  }

  test("urlStats: blocklist suffixes, banned-word score, ip hosts") {
    import graft.operators.TextOps
    val rows = Seq(
      (1L, "https://news.example.com/docs/page-1"),          // clean
      (2L, "https://ads.spamzone.net/docs/page-2"),          // blocked suffix
      (3L, "https://spamzone.net/docs/page-3"),              // blocked exact
      (4L, "https://ok.com/casino-royale/page-4"),           // strong word
      (5L, "https://ok.com/free-download/coupon-5"),         // two weak words
      (6L, "https://192.168.10.20/page-6"),                  // ip host
      (7L, "https://ok.com/free-download/page-7"))           // one weak word
      .toDF("id", "url")
    val stats = TextOps.urlStats(col("url"), blockedDomains = Seq("spamzone.net"))
    val got = rows.select(col("id") +: stats.map { case (n, c) => c.as(n) }: _*)
      .orderBy("id")
      .select("id", "blocked_domain", "url_score", "ip_host", "url_drop")
      .as[(Long, Boolean, Double, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, false, 0.0, false, false),
      (2L, true, 0.0, false, true),
      (3L, true, 0.0, false, true),
      (4L, false, 1.0, false, true),
      (5L, false, 1.0, false, true),
      (6L, false, 0.0, true, true),
      (7L, false, 0.5, false, false)))
  }

  test("duplicateSpans counts k-token windows occurring >= 2 times corpus-wide") {
    val docs = Seq(
      (1L, "a b c d e"),       // windows (k=3): "a b c","b c d","c d e"
      (2L, "x y c d e z"),     // "x y c","y c d","c d e","d e z" — shares "c d e"
      (3L, "p q p q p q"),     // "p q p","q p q","p q p","q p q" — all internal dups
      (4L, "lone pair")        // shorter than k: zero windows
    ).toDF("doc_id", "text")
    val got = TrainPrep.duplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 4L), (4L, 0L, 0L)))
  }

  test("duplicateSpans flags a verbatim copy completely") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"), // exact copy: every window duplicated
      (3L, "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val got = TrainPrep.duplicateSpans(docs, col("doc_id"), col("text"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 0L)))
  }

  test("decontaminate reports distinct hit positions and distinct eval docs") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps"),   // shares "quick brown fox" with eval 1
      (11L, "quick brown fox quick brown fox pad"), // 2 distinct hit positions
      (12L, "nothing in common here at all")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "xx quick brown fox yy"),
      (2L, "quick brown fox zz")            // same gram in a second eval doc
    ).toDF("doc_id", "text")
    val got = TrainPrep.decontaminate(corpus, col("doc_id"), col("text"),
        eval, col("doc_id"), col("text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((10L, 1L, 2L), (11L, 2L, 2L)))
  }

  test("sampleByWeight: p=1 keeps all, p=0 keeps none, sample grows with p") {
    val d = (0L until 500L).toDF("id")
    assert(TrainPrep.sampleByWeight(d, col("id"), lit(1.0)).count() == 500)
    assert(TrainPrep.sampleByWeight(d, col("id"), lit(0.0)).count() == 0)
    val at30 = TrainPrep.sampleByWeight(d, col("id"), lit(0.3)).collect().map(_.getLong(0)).toSet
    val at70 = TrainPrep.sampleByWeight(d, col("id"), lit(0.7)).collect().map(_.getLong(0)).toSet
    // hash-threshold sampling is nested: raising p only ever adds rows
    assert(at30.subsetOf(at70))
    // and roughly calibrated (md5 is uniform; 500 draws at p=0.3 → ±6σ ≈ 61)
    assert(math.abs(at30.size - 150) < 62, s"p=0.3 kept ${at30.size}/500")
    // deterministic under recomputation
    val again = TrainPrep.sampleByWeight(d, col("id"), lit(0.3)).collect().map(_.getLong(0)).toSet
    assert(again == at30)
  }

  test("sampleStratified: per-group rates, default for unlisted, consistent with sampleByWeight") {
    val d = (0L until 900L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val rates = Seq(("g0", 1.0), ("g1", 0.3)).toDF("grp", "p")
    val kept = TrainPrep.sampleStratified(d, col("id"), col("grp"), rates, defaultP = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byGrp = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byGrp.getOrElse("g0", 0) == 300)          // p=1 keeps the whole stratum
    assert(!byGrp.contains("g2"))                    // defaultP=0 drops unlisted strata
    // the g1 stratum must be EXACTLY sampleByWeight at p=0.3 on the same keys
    // (same hash-slot rule ⇒ stratified sampling composes with global sampling)
    val g1Direct = TrainPrep.sampleByWeight(
        d.filter(col("grp") === "g1"), col("id"), lit(0.3))
      .collect().map(_.getLong(0)).toSet
    assert(kept.filter(_._2 == "g1").map(_._1).toSet == g1Direct)
    // unlisted strata take defaultP instead when nonzero
    val withDefault = TrainPrep.sampleStratified(d, col("id"), col("grp"), rates, defaultP = 1.0)
    assert(withDefault.filter(col("grp") === "g2").count() == 300)
  }

  test("splitByHash partitions every row into exactly one split, stably") {
    val d = (0L until 300L).toDF("id")
    val s1 = TrainPrep.splitByHash(d, col("id"))
    assert(s1.groupBy("split").count().collect().map(_.getLong(1)).sum == 300)
    // appending new rows never moves an old row's split
    val s2 = TrainPrep.splitByHash((0L until 600L).toDF("id"), col("id"))
      .filter(col("id") < 300)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
  }

  test("gopherStats: line rules (bullets/ellipsis/dup lines) on known-answer docs") {
    // the synthetic corpus has no newlines, so the oracle query exercises the
    // word rules only — pin the line-based rules on constructed docs here
    // >50 words, stopword-rich, NON-repetitive (unique word per position —
    // "the data" * 30 would correctly fail the 2-gram repetition rule)
    val good = (0 until 60).map(i => if (i % 5 == 0) "the" else s"word$i")
      .mkString(" ") + " have that with be of and"
    val bullets = (0 until 10).map(i => s"- item $i").mkString("\n")
    val ellipsis = (0 until 10).map(i => s"line $i ...").mkString("\n")
    val dupLines = (Seq.fill(8)("same line of text") ++ Seq("one", "two")).mkString("\n")
    val df = Seq((1L, good), (2L, bullets), (3L, ellipsis), (4L, dupLines), (5L, ""))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.gopherStats(df, col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("gopher_pass"), "plain stopword-rich doc passes")
    assert(out(2L).getAs[Double]("bullet_line_frac") == 1.0)
    assert(!out(2L).getAs[Boolean]("gopher_pass"), "all-bullet doc fails")
    assert(out(3L).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(!out(3L).getAs[Boolean]("gopher_pass"), "all-ellipsis doc fails")
    assert(out(4L).getAs[Double]("dup_line_frac") == 0.7, "8 dups of 10 lines -> 7 removed")
    assert(!out(4L).getAs[Boolean]("gopher_pass"), "dup-heavy doc fails")
    assert(!out(5L).getAs[Boolean]("gopher_pass"), "empty doc fails, no div-by-zero")
    assert(out(5L).isNullAt(out(5L).fieldIndex("mean_word_len")), "empty doc nulls ratios")
  }

  test("curate with gopherFilter+c4Clean: lorem pages and repetition loops drop") {
    import graft.examples.TrainDataPipeline
    def prose(seed: Int) = (0 until 70)
      .map(i => if (i % 5 == 0) "the" else s"w${seed}x$i").mkString(" ") +
      " have that with be of and all good things end here."
    val docs = ((0 until 10).map(i => (i.toLong, prose(i))) ++ Seq(
        (100L, "Lorem ipsum dolor sit amet and then some more words here."),
        (101L, ("spam ham " * 40).trim + " the of and be have that with.")))
      .toDF("doc_id", "text")
    val evalSet = Seq((999L, "completely unrelated eval text"))
      .toDF("eval_id", "eval_text")
    val out = TrainDataPipeline.curate(docs, evalSet,
      gopherFilter = true, c4Clean = true)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty, "varied prose docs must survive the full battery")
    assert(!ids.contains(100L), "lorem page must be C4-dropped")
    assert(!ids.contains(101L), "repetition loop must fail gopher")
  }

  test("c4Stats: line filter keeps terminal-punct >=3-word lines; page flags drop") {
    val page = Seq(
      "This sentence ends properly.",
      "no terminal punctuation here",
      "Too short.",
      "Another good line stays!",
      "Quoted line works fine.\"").mkString("\n")
    val out = Seq((1L, page), (2L, "Lorem Ipsum dolor sit amet."),
        (3L, "if (x) { return y; } done here."))
      .toDF("doc_id", "text")
      .select(col("doc_id") +:
        graft.operators.TextOps.c4Stats(col("text"))
          .map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_kept_lines") == 3, "two bad lines dropped")
    assert(out(1L).getAs[String]("clean_text") ==
      "This sentence ends properly.\nAnother good line stays!\nQuoted line works fine.\"")
    assert(!out(1L).getAs[Boolean]("c4_drop"))
    assert(out(2L).getAs[Boolean]("has_lorem") && out(2L).getAs[Boolean]("c4_drop"))
    assert(out(3L).getAs[Boolean]("has_brace") && out(3L).getAs[Boolean]("c4_drop"))
  }

  test("removeBoilerplate: corpus-repeated lines drop everywhere, order survives") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "Cookie Banner\nunique alpha content\nmiddle one\nAll Rights Reserved"),
      (2L, "cookie banner\nunique beta content\nmiddle two\nall rights reserved"),
      (3L, "COOKIE BANNER\nunique gamma content\nmiddle three\nALL RIGHTS RESERVED"),
      (4L, "cookie banner\nall rights reserved")
    ).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplate(docs, col("doc_id"), col("text"), maxRepeat = 2)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // banner + footer appear 4x (case-insensitive key) -> dropped everywhere;
    // the unique and middle lines (1x each) survive in original order
    assert(out(1L).getAs[String]("clean_text") == "unique alpha content\nmiddle one")
    assert(out(2L).getAs[String]("clean_text") == "unique beta content\nmiddle two")
    assert(out(3L).getAs[String]("clean_text") == "unique gamma content\nmiddle three")
    assert(out(1L).getAs[Long]("n_lines") == 4 && out(1L).getAs[Long]("n_kept_lines") == 2)
    assert(out(1L).getAs[Double]("boiler_frac") == 0.5)
    // doc 4 is pure boilerplate: survives with empty clean_text, frac 1.0
    assert(out(4L).getAs[String]("clean_text") == "" &&
      out(4L).getAs[Long]("n_kept_lines") == 0L &&
      out(4L).getAs[Double]("boiler_frac") == 1.0)
    // exactness mode: string keys give identical output here
    val exact = TextOps.removeBoilerplate(docs, col("doc_id"), col("text"),
        maxRepeat = 2, hashKeys = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("clean_text")).toMap
    assert(exact(2L) == "unique beta content\nmiddle two")
  }

  test("bigramLmScore: exact Laplace bigram probabilities, fluent beats shuffled") {
    import graft.operators.TextOps
    // corpus: "a b" appears in both docs (c12=2), vocab = {a, b, c}
    // doc 1 = "a b a b": bigrams ab, ba, ab -> prefixes: a->2, b->1 (within
    // corpus: a->3, b->2 counting doc 2's "a b c")
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")).toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_bigrams"), Option(r.getAs[java.lang.Double]("lm_score")))).toMap
    // corpus counts: c(a,b)=3? doc1 has ab twice, doc2 once -> c12(a,b)=3;
    // c12(b,a)=1; c12(b,c)=1; prefixes: c1(a)=3, c1(b)=2; V=4 (a,b,c,z)
    val pAB = (3.0 + 1) / (3 + 4); val pBA = (1.0 + 1) / (2 + 4); val pBC = pBA
    val d1 = (pAB + pBA + pAB) / 3; val d2 = (pAB + pBC) / 2
    assert(out(1L)._1 == 3 && out(1L)._2.contains(d1))
    assert(out(2L)._1 == 2 && out(2L)._2.contains(d2))
    assert(out(3L)._1 == 0 && out(3L)._2.isEmpty, "single-token doc has no score")
    // a natural-order doc scores above its shuffled twin under its own model
    val fluent = "the cat sat on the mat and the cat ran to the mat again"
    val shuffled = "mat the to cat again and sat the ran on mat the cat the"
    val two = TextOps.bigramLmScore(
        Seq((10L, fluent), (20L, fluent), (30L, shuffled)).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("lm_score")).toMap
    assert(two(10L) > two(30L), s"fluent ${two(10L)} should beat shuffled ${two(30L)}")
  }

  test("curate with boilerplateClean+lmScoreMin: banners strip, gibberish drops") {
    import graft.examples.TrainDataPipeline
    val common = "all good things come with the usual words that people write " +
      "have that with be of and good things end here today"
    val docs = ((0 until 8).map(i =>
        (i.toLong, s"cookie banner line\n$common about topic w${i}a w${i}b\nall rights reserved")) ++ Seq(
        // gibberish: every bigram unique in the corpus, plus enough
        // stopwords to clear the lang/quality gates
        (100L, "cookie banner line\nthe of and be have that with " +
          (0 until 40).map(i => s"zq${i}v").mkString(" ") + "\nall rights reserved"),
        // pure boilerplate page: nothing survives line cleaning
        (200L, "cookie banner line\nall rights reserved")))
      .toDF("doc_id", "text")
    val evalSet = Seq((999L, "completely unrelated eval text")).toDF("eval_id", "eval_text")
    // pick the floor between the shared-prose scores and the gibberish score
    val stripped = graft.operators.TextOps.removeBoilerplate(docs, col("doc_id"), col("text"))
      .filter(col("n_kept_lines") > 0)
      .select(col("id").as("doc_id"), col("clean_text").as("text"))
    val scores = graft.operators.TextOps.bigramLmScore(stripped, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("lm_score")).toMap
    val fluentMin = (0 until 8).map(i => scores(i.toLong)).min
    assert(scores(100L) < fluentMin, "gibberish must score below every fluent doc")
    val floor = (scores(100L) + fluentMin) / 2
    val out = TrainDataPipeline.curate(docs, evalSet,
      boilerplateClean = true, lmScoreMin = Some(floor))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty && !ids.contains(100L), s"gibberish dropped, got $ids")
    assert(!ids.contains(200L), "pure-boilerplate page dropped")
    val texts = out.select("text").as[String].collect().mkString(" ")
    assert(!texts.contains("cookie banner") && !texts.contains("rights reserved"),
      "boilerplate lines stripped from survivors")
  }

  test("gopherStats: 2-gram repetition rules catch loops the other rules miss") {
    // 60 words of "foo bar" repetition: length/stopword/line rules alone
    // can't see the loop; the top-2-gram fraction is ~0.5
    val loop = ("the of and be " + ("foo bar " * 28)).trim
    val out = graft.operators.TextOps.gopherStats(
        Seq((1L, loop)).toDF("doc_id", "text"), col("text"))
      .collect().head
    assert(out.getAs[Double]("top_2gram_frac") > 0.4,
      s"loop doc top2gram = ${out.getAs[Double]("top_2gram_frac")}")
    assert(out.getAs[Double]("dup_2gram_frac") > 0.8)
    assert(!out.getAs[Boolean]("gopher_pass"), "repetition loop must fail")
  }

  test("gopherStats: extended n-gram matrix — exact known-answer fractions") {
    // period-3 word stream "a b c a b c a b c a b" (11 words):
    //   3-grams (9 windows): {abc×3, bca×3, cab×3} → top_3 = 3/9
    //   7-grams (5 windows): {w1×2, w2×2, w3×1}    → dup_7 = (5-3)/5 = 0.4
    //   10-grams (2 windows, both distinct)        → dup_10 = 0
    val periodic = ("a b c " * 3).trim + " a b"
    val tiny = "only five words right here"
    val rows = graft.operators.TextOps.gopherStats(
        Seq((1L, periodic), (2L, tiny)).toDF("doc_id", "text"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val p = rows(1L)
    assert(p.getAs[Double]("top_3gram_frac") == 3.0 / 9.0)
    assert(p.getAs[Double]("dup_7gram_frac") == 0.4)
    assert(p.getAs[Double]("dup_10gram_frac") == 0.0)
    // n-gram order longer than the doc → null fraction, no div-by-zero
    val t = rows(2L)
    assert(t.isNullAt(t.fieldIndex("dup_10gram_frac")))
    assert(t.getAs[Double]("top_4gram_frac") == 0.5, "5 words → 2 4-grams, distinct")
  }

  test("capPerGroup: at most n per group, hash-deterministic under repartitioning") {
    val df = (0 until 120).map(i => (i.toLong, s"src${i % 3}")).toDF("id", "g")
    def run(parts: Int) = graft.operators.TrainPrep
      .capPerGroup(df.repartition(parts), col("id"), col("g"), n = 7)
      .select("id", "g").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(2)
    assert(a == run(9), "kept set depends on partitioning")
    assert(a.groupBy(_._2).forall(_._2.size == 7))
    // small groups keep everything
    val small = (0 until 4).map(i => (i.toLong, "only")).toDF("id", "g")
    assert(graft.operators.TrainPrep
      .capPerGroup(small, col("id"), col("g"), n = 7).count() == 4)
  }

  test("capPerGroup: histogram hot path is bit-identical to the plain window") {
    // one dominant group (90% of rows) + cold groups; force the hot path
    // with a tiny threshold so the two-level boundary refinement actually
    // runs, and compare against the trivially-correct single-window
    // selection.
    val df = (0 until 2000).map { i =>
      (i.toLong, if (i % 10 == 0) s"cold${i % 20}" else "hotsrc")
    }.toDF("id", "g")
    def keys(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "g").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val plain = keys(graft.operators.TrainPrep
      .capPerGroup(df, col("id"), col("g"), n = 13)) // defaults: nothing hot
    val hist = keys(graft.operators.TrainPrep
      .capPerGroup(df.repartition(11), col("id"), col("g"), n = 13,
        hotThreshold = 100L))
    assert(hist == plain, "hot-path selection must match the plain window")
    assert(plain.count(_._2 == "hotsrc") == 13)
    // LARGE n (the r13 out-of-regime caveat, now in-regime): n comparable
    // to the group size still selects the bit-identical set
    for (wideN <- Seq(75, 1700, 1800, 5000)) {
      val wide = keys(graft.operators.TrainPrep
        .capPerGroup(df, col("id"), col("g"), n = wideN, hotThreshold = 100L))
      val widePlain = keys(graft.operators.TrainPrep
        .capPerGroup(df, col("id"), col("g"), n = wideN))
      assert(wide == widePlain, s"n=$wideN selection diverged")
    }
    // reserved-prefix guard: a user column colliding with the internals
    // must fail loudly, not get clobbered
    val bad = df.withColumn("_graft_cap_h", lit(1))
    intercept[IllegalArgumentException] {
      graft.operators.TrainPrep.capPerGroup(bad, col("id"), col("g"), n = 3)
    }
    // n = 0 keeps NOTHING on both paths (the hot boundary search has no
    // crossing bucket at 0 — without the guard it kept every hot row)
    assert(graft.operators.TrainPrep
      .capPerGroup(df, col("id"), col("g"), n = 0, hotThreshold = 100L).count() == 0)
    assert(graft.operators.TrainPrep
      .capPerGroup(df, col("id"), col("g"), n = 0).count() == 0)
  }

  test("keepBest: per-group argmax-score keeper, ties to smaller id") {
    val groups = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // group 1
      (4L, 4L), (5L, 4L),           // group 4: tie on score
      (6L, 6L)                      // singleton
    ).toDF("id", "rep_id")
    val scores = Seq(1L -> 0.2, 2L -> 0.9, 3L -> 0.5,
      4L -> 0.7, 5L -> 0.7, 6L -> 0.1).toDF("id", "score")
    val out = graft.operators.Dedup.keepBest(groups, scores)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true)) && out(3L) == ((2L, false)))
    assert(out(4L) == ((4L, true)) && out(5L) == ((4L, false)), "tie must keep smaller id")
    assert(out(6L) == ((6L, true)))
  }

  test("keepBest: unscored members are retained with keep=false, never dropped") {
    val groups = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // group 1: member 3 has no score row
      (7L, 7L), (8L, 7L)            // group 7: fully unscored
    ).toDF("id", "rep_id")
    val scores = Seq(1L -> 0.2, 2L -> 0.9).toDF("id", "score")
    val out = graft.operators.Dedup.keepBest(groups, scores)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size == 5, "every group member must appear in the output")
    assert(out(2L) == ((2L, true)) && out(3L) == ((2L, false)))
    assert(out(7L) == ((7L, true)) && out(8L) == ((7L, false)),
      "all-unscored group keeps its smallest id")
  }

  // ── DSIR importance resampling ──────────────────────────────────────────

  private def dsirCorpus = {
    // two "domains": science-ish docs (even ids) and cooking-ish docs (odd);
    // the target sample is science-only, so science docs must outrank
    val sci = (0L until 20L).map(i =>
      (i * 2, s"quantum physics experiment $i measures particle energy states"))
    val cook = (0L until 20L).map(i =>
      (i * 2 + 1, s"recipe $i simmer the onion butter sauce until golden"))
    (sci ++ cook).toDF("doc_id", "text")
  }

  test("dsirSelect: target-domain lookalikes outrank the other domain") {
    val raw = dsirCorpus
    val target = raw.filter(col("doc_id") % 2 === 0).limit(8) // science sample
    val top = TrainPrep.dsirSelect(raw, target, col("doc_id"), col("text"),
      buckets = 1024, k = 10).collect()
    assert(top.length == 10)
    assert(top.forall(_.getLong(0) % 2 == 0),
      s"top-10 must all be science docs: ${top.map(_.getLong(0)).mkString(",")}")
    // ranks are 1..k, descending weight, id tiebreak
    assert(top.map(_.getLong(2)).sorted.toSeq == (1L to 10L))
    val ws = top.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(ws == ws.sorted.reverse, "weights non-increasing in rank order")
  }

  test("dsirWeights: exact integers, invariant under repartitioning") {
    val raw = dsirCorpus
    val target = raw.filter(col("doc_id") % 2 === 0)
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainPrep.dsirWeights(d, target, col("doc_id"), col("text"), buckets = 512)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(raw)
    val b = run(raw.repartition(13))
    assert(a == b, "integer micro-unit weights are partition-order independent")
    assert(a.size == 40)
  }

  test("dsirLogRatios: one row per bucket, zero rows where neither corpus hits") {
    val raw = dsirCorpus
    val lr = TrainPrep.dsirLogRatios(raw, raw.limit(4), col("doc_id"), col("text"), 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lr.size == 256, "every bucket present (absent ones smoothed)")
    // a bucket no gram hashes into gets lr = ln(1/(T+B)) − ln(1/(R+B)) =
    // ln((R+B)/(T+B)) > 0 here since R > T — constant across empty buckets
    val grams = TrainPrep.hashedNgramCounts(raw, col("doc_id"), col("text"), 256)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
    val empties = (0L until 256L).filterNot(grams)
    assert(empties.nonEmpty && empties.map(lr).toSet.size == 1)
  }

  // ── mixture planning ────────────────────────────────────────────────────

  test("mixturePlanStrict: scarcest source binds T*, proportions exact") {
    // inventories: a=1000, b=400, c=100 tokens; mix 50/30/20, 1 epoch.
    // c binds: T* = 100/0.2 = 500 → sel = 250/150/100
    val corpus = Seq(("a", 1000L), ("b", 400L), ("c", 100L)).toDF("src", "nw")
    val targets = Seq(("a", 0.5), ("b", 0.3), ("c", 0.2)).toDF("src", "w")
    val plan = TrainPrep.mixturePlanStrict(corpus, col("src"), col("nw"), targets)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(5))).toMap
    assert(plan("a") == ((1000L, 250L, false)))
    assert(plan("b") == ((400L, 150L, false)))
    assert(plan("c") == ((100L, 100L, true)), "the binding source saturates")
  }

  test("mixturePlanStrict: epoch cap scales every inventory") {
    val corpus = Seq(("a", 1000L), ("c", 100L)).toDF("src", "nw")
    val targets = Seq(("a", 0.8), ("c", 0.2)).toDF("src", "w")
    val plan = TrainPrep.mixturePlanStrict(corpus, col("src"), col("nw"),
      targets, maxEpochs = 3.0)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // c caps at 300 → T* = 1500 → a takes 1200 (well under its 3000 cap)
    assert(plan("c") == 300L && plan("a") == 1200L)
  }

  test("mixturePlanFilled: saturated overflow redistributes, budget exhausted") {
    val corpus = Seq(("a", 1000L), ("b", 400L), ("c", 100L)).toDF("src", "nw")
    val targets = Seq(("a", 0.5), ("b", 0.3), ("c", 0.2)).toDF("src", "w")
    // budget 1000 at 1 epoch: c wants 200, caps at 100; the overflow
    // re-splits 5:3 between a and b → a=562, b=337 (floored), c=100
    val plan = TrainPrep.mixturePlanFilled(corpus, col("src"), col("nw"),
      targets, budget = 1000.0)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(5))).toMap
    assert(plan("c") == ((100L, true)))
    assert(plan("a")._1 == 562L && plan("b")._1 == 337L)
    assert(!plan("a")._2 && !plan("b")._2)
    // unsaturated pair keeps the 5:3 target ratio
    assert(math.abs(plan("a")._1 * 3 - plan("b")._1 * 5) <= 8)
  }

  test("mixturePlanFilled: budget above total caps saturates everything") {
    val corpus = Seq(("a", 30L), ("b", 20L)).toDF("src", "nw")
    val targets = Seq(("a", 0.9), ("b", 0.1)).toDF("src", "w")
    val plan = TrainPrep.mixturePlanFilled(corpus, col("src"), col("nw"),
      targets, budget = 1e9, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(5))).toMap
    assert(plan("a") == ((60L, true)) && plan("b") == ((40L, true)))
  }

  test("dsirSelect under persisted reruns: frozen ratios, changelog = true diff") {
    // incremental curation story: fit the ratio table ONCE, then persisted
    // reruns score the grown corpus against the FROZEN ratios — retained
    // docs keep bit-identical weights (no churn), so the changelog is only
    // the newcomers and the docs they displace from the top-k. (Refitting
    // ratios per run shifts every weight — full-table churn by design.)
    import graft.streaming.Persistence
    val store = java.nio.file.Files.createTempDirectory("graft-dsir-persist").toString
    val target = dsirCorpus.filter(col("doc_id") % 2 === 0).limit(8)
    // corpus-sized buckets: oversized smoothing turns all weights negative
    // and a doubled clone then scores 2x WORSE, not better
    val ratios = TrainPrep.dsirLogRatios(dsirCorpus, target,
      col("doc_id"), col("text"), 64).localCheckpoint(true)
    def select(raw: org.apache.spark.sql.DataFrame) = {
      val w = TrainPrep.dsirScore(raw, ratios, col("doc_id"), col("text"), 64)
        .orderBy(col("logw_micro").desc, col("id").asc).limit(6)
      w.select("id", "logw_micro")
    }
    val run1 = Persistence.runStatic(store, select(dsirCorpus))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(run1.size == 6 && run1.values.forall(_ == 1), "first run: all inserts")
    // newcomers: doubled clones of the strongest target docs -> 2x weight
    val clones = dsirCorpus.filter(col("doc_id").isin(0L, 2L, 4L))
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
    val changes = Persistence.runStatic(store, select(dsirCorpus.unionByName(clones)))
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    val adds = changes.filter(_._2 == 1).map(_._1).toSet
    val dels = changes.filter(_._2 == -1).map(_._1).toSet
    assert(adds == Set(1000L, 1002L, 1004L), s"only the newcomers enter: $adds")
    assert(dels.size == 3 && dels.subsetOf(run1.keySet),
      s"exactly the displaced three retract: $dels")
    // retained docs kept bit-identical weights -> zero churn beyond the diff
    assert(changes.length == 6)
  }

  /** The explode + Catalyst md5Long + groupBy(id, bucket) form that the
    * hashedNgramCounts kernel replaced: the equivalence reference. */
  private def explodedNgramCounts(df: DataFrame, id: Column, text: Column,
      buckets: Int): DataFrame = {
    val toks = TrainPrep.whitespaceTokens(text)
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).otherwise(array())
    df.select(id.as("id"), explode(concat(toks, bigrams)).as("gram"))
      .select(col("id"), pmod(CrossHash.md5Long(col("gram")), lit(buckets.toLong)).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("cnt"))
  }

  // a 20k-token skewed doc (cubed uniform → a few head words carry most
  // occurrences), blank and whitespace-run texts, one token, non-ASCII
  // capitals, and doc_id 8 on two rows; `row` is a unique per-row key
  private lazy val gramCorpus = {
    val rnd = new scala.util.Random(7)
    val skewed = Seq.fill(20000)(s"w${(math.pow(rnd.nextDouble(), 3) * 300).toInt}").mkString(" ")
    Seq[(Long, String)]((1L, skewed), (2L, null), (3L, ""), (4L, "   "),
      (5L, "\t\n a\t\tb\n\nc \t\n d \n"), (6L, "solitary"),
      (7L, "ÉCOLE Straße İSTANBUL ΣΟΦΟΣ"),
      (8L, "the quick brown fox"), (8L, "the lazy dog the end"))
      .toDF("doc_id", "text").withColumn("row", monotonically_increasing_id())
  }

  private def countRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("hashedNgramCounts: per-doc kernel == the explode+md5Long+groupBy form") {
    val buckets = 64
    def kernel(id: Column) = TrainPrep.hashedNgramCounts(gramCorpus, id, col("text"), buckets)
    def reference(id: Column) = explodedNgramCounts(gramCorpus, id, col("text"), buckets)
    // doc by doc (unique row key): the same (id, bucket, cnt) multiset
    val perRow = countRows(kernel(col("row")))
    assert(perRow == countRows(reference(col("row"))))
    assert(kernel(col("doc_id")).schema.map(_.dataType) ==
      reference(col("doc_id")).schema.map(_.dataType))
    // the 20k-token doc sums to 20,000 unigrams + 19,999 bigrams; blank,
    // null and whitespace-only texts emit nothing
    val docOfRow = gramCorpus.select("row", "doc_id").as[(Long, Long)].collect().toMap
    val gramsPerDoc = perRow.groupBy(t => docOfRow(t._1)).map { case (d, ts) => d -> ts.map(_._3).sum }
    assert(gramsPerDoc(1L) == 39999L)
    assert(gramsPerDoc(5L) == 7L && gramsPerDoc(6L) == 1L && gramsPerDoc(7L) == 7L)
    assert(Seq(2L, 3L, 4L).forall(d => !gramsPerDoc.contains(d)))
    // a repeated id keeps one row set per doc; summing by (id, bucket)
    // gives the reference's merged rows
    val byId = kernel(col("doc_id"))
    val twoDocRows = perRow.count(t => docOfRow(t._1) == 8L)
    assert(byId.filter(col("id") === 8L).count() == twoDocRows)
    assert(countRows(byId.groupBy("id", "bucket").agg(sum("cnt").as("cnt"))) ==
      countRows(reference(col("doc_id"))))
  }

  test("dsirWeights on the gram-count corpus: the explode-form weights, repeated id merged") {
    val target = gramCorpus.filter(col("doc_id") >= 5L)
    val w = TrainPrep.dsirWeights(gramCorpus, target, col("doc_id"), col("text"), 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    info(s"weights: ${w.toSeq.sorted.mkString(", ")}")
    assert(w == Map(1L -> -8818312385L, 5L -> 6389402L, 6L -> 1126951L,
      7L -> 4963653L, 8L -> 8643365L))
  }

  test("dsirResample: deterministic gumbel keys, biased toward target lookalikes") {
    val raw = dsirCorpus
    val target = raw.filter(col("doc_id") % 2 === 0)
    def ids(temp: Double) = TrainPrep.dsirResample(raw, target, col("doc_id"),
      col("text"), buckets = 512, k = 12, temperature = temp)
      .collect().map(_.getLong(0)).toSet
    val cold = ids(0.05) // near-argmax: should be essentially all science
    assert(cold == ids(0.05), "hash-seeded gumbel keys are rerun-stable")
    assert(cold.count(_ % 2 == 0) >= 11,
      s"low temperature concentrates on the target domain: $cold")
  }

  test("guard observability (r19 advice): a hot bucket surfaces through the " +
      "named observe metric, zero extra jobs — a production run can tell " +
      "guarded output from exact output") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.QueryExecution
    val rec = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        Dedup.guardObservations(qe).foreach { case (_, row) =>
          rec.add((row.getAs[Long]("hot_buckets"), row.getAs[Long]("max_bucket_rows")))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val buckets = (1L to 30L).map(i => (i, 1L, 1L, 1L)).toDF("id", "_key", "_subKey", "_sig")
      Dedup.guardedSelfJoin(buckets, Seq("_key"), Seq("_sig"), bucketCap = 10).count()
      val deadline = System.currentTimeMillis + 15000
      while (rec.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      assert(rec.asScala.exists { case (hot, mx) => hot == 1L && mx == 30L },
        s"expected a (1, 30) hot-bucket observation, got ${rec.asScala.toList}")
    } finally spark.listenerManager.unregister(l)
  }

  test("guard observability: full minhashLsh over a 40-clone pileup surfaces " +
      "exactly one hot-bucket observation") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.QueryExecution
    val marker = "guard_flush_marker"
    val rec = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        Dedup.guardObservations(qe).foreach { case (_, row) =>
          rec.add((row.getAs[Long]("hot_buckets"), row.getAs[Long]("max_bucket_rows")))
        }
        if (qe.analyzed.output.exists(_.name == marker)) flushed.countDown()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      // the pileup fills one bucket in each of the 8 bands: all 8 are hot
      Dedup.minhashLsh(cloneDocs, col("doc_id"), col("text"), bucketCap = 10).collect()
      // listener events arrive in order: the marker query's callback
      // follows every callback of the operator's queries
      spark.range(1).select(lit(1).as(marker)).collect()
      assert(flushed.await(15, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker query")
      import scala.jdk.CollectionConverters._
      assert(rec.asScala.toList == List((8L, 40L)),
        s"expected one (8, 40) hot-bucket observation, got ${rec.asScala.toList}")
    } finally spark.listenerManager.unregister(l)
  }
}
