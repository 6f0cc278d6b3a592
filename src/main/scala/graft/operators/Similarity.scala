package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge}
import org.apache.spark.sql.functions._

import graft.functions.{CosineSim, SrpAllBuckets}

/** Similarity search over embedding columns (reference
  * stdlib/indexing/nearest_neighbors.py:170 BruteForceKnn, :262 LshKnn).
  *
  * Scale posture: queries are assumed small relative to the corpus —
  * brute force broadcasts the query set (one corpus scan, no shuffle of the
  * corpus); the LSH variant buckets both sides so candidate generation is an
  * equi-join on (table, bucket) and the corpus never cross-joins.
  */
object Similarity {

  /** Deterministic cosine: explicit left-to-right double folds, so any engine
    * (or oracle) evaluating the same order reproduces the exact bits. Runs as
    * a native codegen'd kernel ([[graft.functions.CosineSim]]) — the
    * equivalent `aggregate(zip_with(...))` HOF form is CodegenFallback and
    * pays interpreted per-element dispatch on every corpus row. */
  def cosine(a: Column, b: Column): Column =
    GraftExprBridge.column(
      CosineSim(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))

  /** Brute-force top-k cosine: broadcast queries × corpus scan, rank per query
    * by (score desc, corpus id asc — pinned tie-break). Self-matches excluded
    * when ids collide. */
  def bruteForceKnn(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column, k: Int): DataFrame = {
    val q = queries.select(qId.as("query_id"), qVec.as("_qv"))
    val c = corpus.select(cId.as("nn_id"), cVec.as("_cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .withColumn("score", cosine(col("_qv"), col("_cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** Squared euclidean distance — the reference index default (L2SQ); native
    * codegen'd left-to-right fold ([[graft.functions.L2Sq]]). */
  def l2sq(a: Column, b: Column): Column =
    GraftExprBridge.column(
      graft.functions.L2Sq(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))

  /** The reference index-query kernel (DataIndex.query / query_as_of_now —
    * r16 decode of tests/ml/test_index.py): top-k per query by a distance
    * metric, with the three axes those fixtures pin:
    *   - `k` is PER QUERY (a column; k=0 yields no rows for that query —
    *     the reference's empty result list),
    *   - `corpusFilter` drops candidates BEFORE ranking (metadata_filter);
    *     `queryMetaFilter = Some((queryFilterStrCol, corpusMetadataMapCol))`
    *     is the PER-QUERY variant — the reference's JMESPath-subset filter
    *     strings evaluated per (query, candidate) pair before top-k
    *     (tests/external_index/test_tantivy.py, [[graft.functions.IndexFilter]]),
    *   - `asofNow = Some((qTime, cTime))` makes each query see only corpus
    *     rows that arrived STRICTLY before it (get_nearest_items_asof_now /
    *     query_as_of_now stream semantics, replayed in batch) — the
    *     update-old mode is simply None.
    * Long form out: (query_id, nn_id, dist, rank), rank 1 = nearest, ties →
    * smaller nn_id (deterministic; the reference's tie order is engine
    * internal). Scale shape: queries broadcast, one corpus scan, per-query
    * window top-k — same plan family as [[bruteForceKnn]]. */
  def knnQuery(queries: DataFrame, qId: Column, qVec: Column, k: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      metric: String = "l2sq",
      corpusFilter: Option[Column] = None,
      asofNow: Option[(Column, Column)] = None,
      queryMetaFilter: Option[(Column, Column)] = None): DataFrame = {
    val q = queries.select(Seq(qId.as("query_id"), qVec.as("_qv"), k.as("_k")) ++
      asofNow.map { case (qt, _) => qt.as("_qt") } ++
      queryMetaFilter.map { case (f, _) => f.as("_qf") }: _*)
    val base = corpusFilter.fold(corpus)(corpus.filter)
    val c = base.select(Seq(cId.as("nn_id"), cVec.as("_cv")) ++
      asofNow.map { case (_, ct) => ct.as("_ct") } ++
      queryMetaFilter.map { case (_, md) => md.as("_md") }: _*)
    val pairOk = queryMetaFilter.fold(lit(true))(_ => metaFilterUdf(col("_qf"), col("_md")))
    val joined = c.join(broadcast(q),
      asofNow.fold(lit(true))(_ => col("_ct") < col("_qt")) && pairOk)
    val dist = metric match {
      case "l2sq" => l2sq(col("_qv"), col("_cv"))
      case "cosine" => lit(1.0) - cosine(col("_qv"), col("_cv"))
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col("nn_id"))
    joined.withColumn("dist", dist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= col("_k"))
      .select(col("query_id"), col("nn_id"), col("dist"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-(query, candidate) metadata filter — the reference's per-QUERY
    * JMESPath-subset filter strings ([[graft.functions.IndexFilter]]):
    * null filter accepts, unparseable filter matches nothing. Compiled
    * per distinct string per executor; the pair path is one cache hit. */
  private val metaFilterUdf =
    udf((f: String, md: Map[String, String]) => graft.functions.IndexFilter.matches(f, md))

  /** Sign-random-projection LSH bucket for one table: `nPlanes` Rademacher (±1)
    * hyperplanes from a seeded PRNG, embedded as a literal 2-D array — zero
    * runtime hashing, identical on every executor/run, and the expression tree
    * stays O(1) in (planes × dims) (an unrolled per-term sum stalls codegen).
    * Returns the bucket as an `nPlanes`-char bitstring. */
  /** The Rademacher hyperplanes for one SRP table — exposed so the DuckDB
    * oracle generator embeds the identical constants. */
  def srpPlanes(table: Int, nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(0x5eed + 7919L * table)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  def srpBucket(vec: Column, table: Int, nPlanes: Int, dim: Int): Column =
    element_at(srpAllBuckets(vec, table + 1, nPlanes, dim), table + 1)

  /** All `nTables` SRP bucket bitstrings in one pass — a native codegen
    * kernel ([[graft.functions.SrpAllBuckets]]); `posexplode` of the result
    * yields the (_table, _bucket) pairs the per-table form produced, without
    * nTables × nPlanes interpreted HOF dot products per row. */
  def srpAllBuckets(vec: Column, nTables: Int, nPlanes: Int, dim: Int): Column =
    GraftExprBridge.column(SrpAllBuckets(GraftExprBridge.expression(vec),
      (0 until nTables).map(t => srpPlanes(t, nPlanes, dim))))

  /** LSH-bucketed ANN: candidates = corpus rows sharing ≥1 (table, bucket) with
    * the query, ranked by exact cosine. Trades recall for a corpus-side
    * equi-join; raise nTables for recall, nPlanes for precision. */
  /** Defaults tuned on weakly-clustered (near-gaussian) embeddings: SRP
    * collision prob per table is (1−θ/π)^nPlanes, so for neighbor angles
    * around 60–70° 12 planes ⇒ ~1% recall (measured); 6 planes × 12 tables
    * ⇒ ~40–60% recall at ~15–20% of the corpus as candidates. Real clustered
    * embeddings (smaller θ) can raise nPlanes for sharper buckets. */
  def lshKnn(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      k: Int, dim: Int, nPlanes: Int = 6, nTables: Int = 12): DataFrame = {
    def withBuckets(df: DataFrame, id: Column, vec: Column, idName: String): DataFrame =
      df.select(id.as(idName), vec.as(s"_v_$idName"),
        posexplode(srpAllBuckets(vec, nTables, nPlanes, dim)).as(Seq("_table", "_bucket")))
    val qB = withBuckets(queries, qId, qVec, "query_id")
    val cB = withBuckets(corpus, cId, cVec, "nn_id")
    val candidates = qB.join(cB, Seq("_table", "_bucket"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), col("_v_query_id"), col("_v_nn_id"))
      .dropDuplicates("query_id", "nn_id")
      .withColumn("score", cosine(col("_v_query_id"), col("_v_nn_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("nn_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** kNN classification (reference stdlib/ml/classifiers/_knn_lsh.py:318
    * `knn_lsh_classify`): take a knn result (`query_id`, `nn_id` — any of
    * [[bruteForceKnn]]/[[lshKnn]]/[[ivfKnn]], mirroring the reference's
    * pluggable `knn_model`), look up each neighbor's label, and
    * majority-vote per query. The reference breaks vote ties with Python
    * `statistics.mode`'s first-encountered order (insertion-order
    * dependent); here ties break deterministically (count DESC, label ASC)
    * so the result is reproducible across partitionings and
    * oracle-checkable. Queries with no retrieved neighbors surface with a
    * null label (the reference's `knns_empty` update_cells path).
    *
    * Scale posture: one shuffle on nn_id for the label lookup (broadcast if
    * the label table is a small dim), one partial-aggregated groupBy on
    * (query_id, label), one query-partitioned window over ≤ k·tables vote
    * rows per query, and a final left join on query_id — never the corpus. */
  def knnClassify(queries: DataFrame, qId: Column, knn: DataFrame,
      labels: DataFrame, lId: Column, label: Column): DataFrame = {
    val votes = knn
      .join(labels.select(lId.as("nn_id"), label.as("_label")), Seq("nn_id"))
      .groupBy(col("query_id"), col("_label")).agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_c").desc, col("_label").asc)
    val pred = votes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("_label").as("predicted_label"))
    queries.select(qId.as("query_id")).join(pred, Seq("query_id"), "left")
  }

  /** IVF-flat ANN (the classic inverted-file index, e.g. FAISS IVF): partition
    * the corpus into `nCells` Voronoi cells, probe the `nProbe` nearest cells
    * per query, exact cosine only within probed cells.
    *
    * Centroids: a deterministic uniform seed sample — the nCells smallest
    * md5(id) values (hash order ≈ random order, unbiased at any scale,
    * unlike lowest-id which inherits whatever the id sequence correlates
    * with; `orderBy.limit` is TakeOrderedAndProject, per-partition top-k +
    * driver merge, no global sort) — refined by `refineIters` synchronous
    * Lloyd passes over 2^40-quantized integer vectors, the
    * Clustering.viaLsh technique: component sums are exact Longs, so the
    * fit is order-independent and the DuckDB oracle replays every
    * comparison bit-for-bit (cosine is scale-invariant, so the un-divided
    * sum IS the mean direction; empty cells keep their previous centroid).
    * Balanced cells make per-probe recall the binding constraint, so the
    * index multi-assigns each corpus vector to its `spill` nearest cells
    * (IVF replication — `spill`× storage for a sharp recall lift; candidate
    * pairs are deduped before scoring). Every step is a broadcast join +
    * aggregation: the corpus is scanned once per pass to assign cells and
    * once per query batch via the (cell, corpus) equi-join — no cross join
    * of corpus × queries. */
  def ivfKnn(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      k: Int, nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 2,
      spill: Int = 3): DataFrame = Materialize.scoped { pin =>
    val (probed, assigned) = ivfCoarseOn(pin(ivfPrep(corpus, cId, cVec)), queries, qId, qVec,
      nCells, nProbe, refineIters, spill)
    // spill-replicated vectors can reach a query through several probed
    // cells: dedupe the (query, candidate) pair before scoring
    val scored = probed.join(assigned, Seq("_cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("_qv"), col("nn_id"), col("_cv"))
      .dropDuplicates("query_id", "nn_id")
      .withColumn("score", cosine(col("_qv"), col("_cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("nn_id"))
    // materialized (queries × k rows), so the scope can release the corpus
    // pin (r21; same leak class as VERDICT #4)
    Materialize.eager(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"),
        col("rank").cast("long").as("rank")))
  }

  /** The shared quantized-corpus projection of the IVF family. Callers pin
    * it LAZILY (the first Lloyd pass populates it sequentially; no AQE race,
    * r20). */
  private def ivfPrep(corpus: DataFrame, cId: Column, cVec: Column): DataFrame =
    corpus.select(cId.as("nn_id"), cVec.as("_cv"),
        Clustering.quantize(cVec).as("_qv"))

  /** [[ivfCoarse]] over a PREPARED corpus frame (nn_id, _cv, _qv), already
    * pinned by the caller — lets [[ivfadcKnn]] share one quantized corpus
    * scan with [[pqIndex]] instead of each building its own (r20). */
  private def ivfCoarseOn(cq: DataFrame, queries: DataFrame, qId: Column,
      qVec: Column, nCells: Int, nProbe: Int, refineIters: Int,
      spill: Int): (DataFrame, DataFrame) = {
    val seeds = cq
      .orderBy(graft.functions.CrossHash.md5Long(col("nn_id")), col("nn_id"))
      .limit(nCells)
      .select(col("nn_id").as("_cell"), col("_qv").as("_centroid"))
    // Refinement sums accumulate 2^40-quantized components in Spark's
    // sum(LongType), which wraps silently on overflow (the DuckDB oracle's
    // SUM(BIGINT) widens to HUGEINT). For unit-ish embeddings (|x| ≤ 2 →
    // |component| ≤ 2^41) the Long sum is exact while every cell holds
    // < 2^22 (~4M) members. At larger corpora keep cells under that bound
    // by scaling nCells with corpus size (cells ≈ N/nCells members), which
    // is also what keeps probe cost flat — the bound and the perf posture
    // want the same knob.
    // Each Lloyd pass is MATERIALIZED (nCells rows — one tiny job): the fold
    // references its input twice (the broadcast assignment AND the carry-over
    // join), so a lazy chain doubles the replayed subtree per iteration, and
    // the final table feeds TWO consumers (corpus assignment + query probes)
    // that would each re-run the whole chain over the cached corpus
    // (r20 — the pqIndex lesson applied to the coarse quantizer; measured
    // knn_ivf 2.8 s → see OPTIMIZATION_r20.md).
    val centroids0 = (0 until refineIters).foldLeft(seeds) { (ct, _) =>
      val a = cq.join(broadcast(ct), lit(true))
        .withColumn("_sim", cosine(col("_qv"), col("_centroid")))
        .groupBy(col("nn_id")).agg(
          max_by(col("_cell"), struct(col("_sim"), -col("_cell"))).as("_cell"),
          first(col("_qv")).as("_qv"))
      val sums = a.select(col("_cell"), posexplode(col("_qv")).as(Seq("_i", "_x")))
        .groupBy("_cell", "_i").agg(sum("_x").as("_s"))
        .groupBy("_cell").agg(
          transform(array_sort(collect_list(struct(col("_i"), col("_s")))),
            e => e("_s")).as("_nv"))
      Materialize.eager(ct.join(sums, Seq("_cell"), "left_outer")
        .select(col("_cell"), coalesce(col("_nv"), col("_centroid")).as("_centroid")))
    }
    // refineIters = 0 leaves the seed plan lazy — materialize it for the two
    // consumers below (with iterations, the last pass is already eager)
    val centroids =
      if (refineIters == 0) Materialize.eager(centroids0) else centroids0
    // cell assignment: each vector's `spill` nearest centroids by cosine
    // over the quantized view
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nn_id")).orderBy(col("_sim").desc, col("_cell"))
    val assigned = cq.join(broadcast(centroids), lit(true))
      .withColumn("_sim", cosine(col("_qv"), col("_centroid")))
      .withColumn("_ar", row_number().over(aw))
      .filter(col("_ar") <= spill)
      .select(col("_cell"), col("nn_id"), col("_cv"))
    val q = queries.select(qId.as("query_id"), qVec.as("_qv"),
      Clustering.quantize(qVec).as("_qq"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .withColumn("_sim", cosine(col("_qq"), col("_centroid")))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_sim").desc, col("_cell"))
    val probed = qCells.withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("_qv"), col("_cell"))
    (probed, assigned)
  }

  /** IVF coarse pruning only: the deduped (query_id, nn_id) candidate set
    * from the probed cells, with no exact scoring — feed to [[pqRerank]]
    * for IVFADC, or to any downstream scorer. */
  def ivfCandidates(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 2,
      spill: Int = 3): DataFrame = Materialize.scoped { pin =>
    val (probed, assigned) = ivfCoarseOn(pin(ivfPrep(corpus, cId, cVec)), queries, qId, qVec,
      nCells, nProbe, refineIters, spill)
    // narrow (query_id, nn_id) pairs, bounded by queries × probed cells —
    // materialized so the corpus cache releases (r21, as ivfKnn)
    Materialize.eager(probed.join(assigned, Seq("_cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"))
      .dropDuplicates("query_id", "nn_id"))
  }

  /** IVFADC (Jégou et al. 2011 §IV-A, the FAISS IVFPQ shape): coarse IVF
    * cells prune the corpus to nProbe cells per query, ADC scores ONLY the
    * surviving candidates from their packed PQ codes — the composition a
    * 100 TB corpus actually runs (neither a full raw-vector scan nor a full
    * code scan; candidate equi-joins all the way down). Index build
    * (codebooks + codes + coarse centroids) amortizes across query batches
    * via [[pqIndex]]/[[ivfCandidates]]; this one-shot form is the
    * oracle-checked shape. */
  def ivfadcKnn(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      k: Int, dim: Int, m: Int = 4, ksub: Int = 8,
      nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 2,
      spill: Int = 3): DataFrame = Materialize.scoped { pin =>
    // ONE quantized corpus scan shared by the PQ codebook training and the
    // IVF coarse quantizer (r20 — each previously built and persisted its
    // own (nn_id, _qv) projection: two corpus scans, two cache copies).
    // The candidate set is materialized so the prepared frame can be
    // released before the rerank executes.
    val prep = pin(ivfPrep(corpus, cId, cVec))
    prep.count()
    val index = pqIndexOn(prep, dim, m, ksub, refineIters)
    val (probed, assigned) = ivfCoarseOn(prep, queries, qId, qVec,
      nCells, nProbe, refineIters, spill)
    val cand = Materialize.eager(probed.join(assigned, Seq("_cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"))
      .dropDuplicates("query_id", "nn_id"))
    pqRerank(index, queries, qId, qVec, cand, k)
  }

  /** Embedding near-dup pairs via one shared LSH table (dedup-by-cosine):
    * verified exact cosine ≥ threshold.
    *
    * Hot-bucket guard (shared [[graft.operators.Dedup.guardedSelfJoin]]):
    * near-constant embeddings piling into one SRP bucket would make the
    * self-join quadratic; hot buckets take the two-tier star, sub-clustered
    * by a hash of the full vector so several distinct clone clusters in one
    * degenerate bucket each keep deterministic recall. */
  def embeddingDupPairs(df: DataFrame, id: Column, vec: Column,
      dim: Int, threshold: Double, nPlanes: Int = 8, nTables: Int = 8,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame = {
    val base = df.select(id.as("id"), vec.as("_v"))
    // guardedSelfJoin's materialized-deterministic input contract (advice
    // r20): its hot-key probe runs a job over `b` at call time and the
    // returned join rescans it (twice, as the self-join's two sides) — pin
    // it so the SRP bucketing subtree computes once (the probe's job
    // populates the cache sequentially) until the bounded candidate pair set
    // is materialized. Candidates stay NARROW (id1, id2): a pair can surface
    // from up to nTables buckets, so dedupe 16-byte rows first and rejoin
    // the vectors once per unique pair — not once per bucket copy.
    val uniquePairs = Materialize.scoped { pin =>
      val b = pin(base.select(col("id"), col("_v"),
        posexplode(srpAllBuckets(col("_v"), nTables, nPlanes, dim)).as(Seq("_table", "_bucket")))
        .select(col("_table"), col("_bucket"), col("id"), xxhash64(col("_v")).as("_subKey")))
      Materialize.eager(Dedup.guardedSelfJoin(b, Seq("_table", "_bucket"), Nil, bucketCap)
        .dropDuplicates("id1", "id2"))
    }
    uniquePairs
      .join(base.select(col("id").as("id1"), col("_v").as("_v1")), "id1")
      .join(base.select(col("id").as("id2"), col("_v").as("_v2")), "id2")
      .withColumn("score", cosine(col("_v1"), col("_v2")))
      .filter(col("score") >= threshold)
      .select("id1", "id2", "score")
  }

  // ── Product quantization: ANN with asymmetric distance computation ─────
  //
  // Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search" —
  // the 100 TB memory/IO path the reference's index zoo (stdlib/indexing)
  // stops short of: each corpus vector is stored as `m` small codebook
  // codes (m·log2(ksub) bits instead of dim·32), and a query scans codes
  // with per-subspace lookup tables instead of full vectors.
  //
  // Engine shape, all deterministic / oracle-replayable:
  //   - codebooks: per-subspace Lloyd over 2^40-quantized integer
  //     subvectors (ivfKnn's exact-Long-sum technique), seeds = first
  //     `ksub` corpus rows in md5 order, one (j, cell)-keyed pass chain —
  //     the m trainings ride ONE dataframe (posexplode over j), so
  //     subspace count changes the row count, not the plan.
  //   - codes: argmax per-subspace cosine, smaller-cell tie-break;
  //     packed to an m-slot array per vector (the "PQ code").
  //   - ADC: per query, a (m × ksub) table of subspace similarities against
  //     the codebooks (tiny: built from a broadcast join, collected into
  //     one array struct per query), then ONE broadcast join onto the
  //     packed codes with the score as a fixed-order m-term lookup sum —
  //     the corpus-side scan reads only the code arrays.
  //   - score = Σ_j cos(q_j, centroid_{j,code_j}) summed left-to-right
  //     (IEEE-exact twin of the oracle's ordered list_reduce).
  //
  // The `ksub` seed-cell ids are collected to freeze the code→table-index
  // mapping — bounded by ksub (same bounded-collect contract as
  // Clustering's LSH reps). Compose with ivfKnn cells for IVFADC when the
  // corpus also needs coarse pruning.

  /** A built PQ index: eagerly-materialized codebooks (m × ksub rows) and
    * packed per-vector codes; `cellIds` freezes the code → lookup-table
    * index mapping. Build once with [[pqIndex]], serve many query batches
    * with [[pqQuery]] — the DataIndex contract (index amortizes, scans pay
    * only the code read). */
  final case class PqIndex(centroids: DataFrame, codes: DataFrame,
      cellIds: Array[Long], dim: Int, m: Int, ksub: Int)

  def pqIndex(corpus: DataFrame, cId: Column, cVec: Column,
      dim: Int, m: Int = 4, ksub: Int = 8, refineIters: Int = 2): PqIndex =
    Materialize.scoped { pin =>
      // the Lloyd chain and the code assignment both scan cq: pinned and
      // counted first (the AQE cache race)
      val cq = pin(corpus.select(cId.as("nn_id"), Clustering.quantize(cVec).as("_qv")))
      cq.count()
      pqIndexOn(cq, dim, m, ksub, refineIters)
    }

  /** [[pqIndex]] over a PREPARED quantized corpus frame carrying
    * (nn_id, _qv), already pinned + materialized by the caller — lets
    * [[ivfadcKnn]] share one corpus scan with the coarse quantizer (r20). */
  private def pqIndexOn(cq: DataFrame,
      dim: Int, m: Int, ksub: Int, refineIters: Int): PqIndex = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    def subSlices(v: Column): Column =
      array((0 until m).map(j => slice(v, j * dsub + 1, dsub)): _*)
    val subs = cq.select(col("nn_id"),
      posexplode(subSlices(col("_qv"))).as(Seq("_j", "_sv")))
    val seedRows = cq
      .orderBy(graft.functions.CrossHash.md5Long(col("nn_id")), col("nn_id"))
      .limit(ksub)
      .select(col("nn_id").as("_cell"), col("_qv"))
    val seeds = seedRows.select(col("_cell"),
      posexplode(subSlices(col("_qv"))).as(Seq("_j", "_centroid")))
      .select(col("_j"), col("_cell"), col("_centroid"))
    // Lloyd, keyed by (subspace, cell); centroid = exact Long component sums
    // (cosine is scale-invariant, so sums serve as means)
    // Each Lloyd pass materialized (m × ksub rows — one tiny job): the fold
    // references its input twice per level, so a lazy chain doubles the
    // replayed subtree per iteration; the final table was already
    // materialized ONCE for its two consumers (codes + query lookup tables,
    // measured 3.5 → 1.9 s at 2k vectors) — per-pass truncation extends the
    // same discipline inside the chain (r20).
    val centroids1 = (0 until refineIters).foldLeft(seeds) { (ct, _) =>
      val a = subs.join(broadcast(ct), Seq("_j"))
        .withColumn("_sim", cosine(col("_sv"), col("_centroid")))
        .groupBy(col("nn_id"), col("_j")).agg(
          max_by(col("_cell"), struct(col("_sim"), -col("_cell"))).as("_cell"),
          first(col("_sv")).as("_sv"))
      val sums = a.select(col("_j"), col("_cell"),
          posexplode(col("_sv")).as(Seq("_i", "_x")))
        .groupBy("_j", "_cell", "_i").agg(sum("_x").as("_s"))
        .groupBy("_j", "_cell").agg(
          transform(array_sort(collect_list(struct(col("_i"), col("_s")))),
            e => e("_s")).as("_nv"))
      Materialize.eager(ct.join(sums, Seq("_j", "_cell"), "left_outer")
        .select(col("_j"), col("_cell"),
          coalesce(col("_nv"), col("_centroid")).as("_centroid")))
    }
    val centroids =
      if (refineIters == 0) Materialize.eager(centroids1) else centroids1
    // freeze the cell → lookup-table index mapping (ascending seed ids)
    val cellIds = seedRows.select(col("_cell")).collect()
      .map(_.getLong(0)).sorted
    val cellIdx = typedLit(cellIds)
    // PQ codes: per vector, the m winning cells as table indexes (1-based)
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nn_id"), col("_j")).orderBy(col("_sim").desc, col("_cell"))
    val codes = subs.join(broadcast(centroids), Seq("_j"))
      .withColumn("_sim", cosine(col("_sv"), col("_centroid")))
      .withColumn("_r", row_number().over(aw)).filter(col("_r") === 1)
      .groupBy(col("nn_id")).agg(
        transform(array_sort(collect_list(struct(col("_j"), col("_cell")))),
          e => array_position(cellIdx, e("_cell"))).as("_codes"))
    // the PQ index IS the materialized code table: one eager build, after
    // which the caller may release the raw vectors (cq)
    PqIndex(centroids, Materialize.eager(codes), cellIds, dim, m, ksub)
  }

  /** ADC query over a built [[PqIndex]]: per query, an (m × ksub) lookup
    * table of subspace similarities against the codebooks (one broadcast
    * join, collected to an array struct per query), then ONE broadcast join
    * onto the packed codes — the corpus-side scan reads only code arrays.
    * score = ordered m-term lookup sum (left fold, no 0.0 seed — bit-exact
    * vs the oracle's list_reduce). */
  /** Per-query ADC lookup tables: dtab[j+1][cellIdx] = cos(q_j, centroid). */
  private def adcTables(index: PqIndex, queries: DataFrame, qId: Column,
      qVec: Column): DataFrame = {
    val m = index.m; val dsub = index.dim / m
    val cellIdx = typedLit(index.cellIds)
    def subSlices(v: Column): Column =
      array((0 until m).map(j => slice(v, j * dsub + 1, dsub)): _*)
    val qsub = queries.select(qId.as("query_id"),
        Clustering.quantize(qVec).as("_qq"))
      .select(col("query_id"), posexplode(subSlices(col("_qq"))).as(Seq("_j", "_qs")))
    qsub.join(broadcast(index.centroids), Seq("_j"))
      .withColumn("_d", cosine(col("_qs"), col("_centroid")))
      .withColumn("_ci", array_position(cellIdx, col("_cell")))
      .groupBy(col("query_id"), col("_j")).agg(
        transform(array_sort(collect_list(struct(col("_ci"), col("_d")))),
          e => e("_d")).as("_row"))
      .groupBy(col("query_id")).agg(
        transform(array_sort(collect_list(struct(col("_j"), col("_row")))),
          e => e("_row")).as("_dtab"))
  }

  /** score = ordered m-term lookup sum (left fold, no 0.0 seed — bit-exact
    * vs the oracle's list_reduce). */
  private def adcScore(m: Int): Column = (0 until m)
    .map(j => element_at(element_at(col("_dtab"), j + 1), col("_codes")(j).cast("int")))
    .reduceLeft(_ + _)

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  def pqQuery(index: PqIndex, queries: DataFrame, qId: Column, qVec: Column,
      k: Int): DataFrame = {
    val dtab = adcTables(index, queries, qId, qVec)
    rankTopK(index.codes.join(broadcast(dtab), col("query_id") =!= col("nn_id"))
      .withColumn("score", adcScore(index.m)), k)
  }

  /** ADC rerank over an explicit candidate set (query_id, nn_id) — IVFADC
    * when candidates come from coarse cells, LSH+ADC when from SRP buckets.
    * Pure equi-joins: candidates × codes on nn_id, × lookup tables on
    * query_id — no scan of the full code table, no nested-loop join, so the
    * shape survives corpora where even the packed codes are too large to
    * scan per batch. Self-pairs are excluded like every knn here. */
  def pqRerank(index: PqIndex, queries: DataFrame, qId: Column, qVec: Column,
      candidates: DataFrame, k: Int): DataFrame = {
    val dtab = adcTables(index, queries, qId, qVec)
    val cand = candidates.select(col("query_id"), col("nn_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .dropDuplicates("query_id", "nn_id")
    rankTopK(cand.join(index.codes, Seq("nn_id"))
      .join(broadcast(dtab), Seq("query_id"))
      .withColumn("score", adcScore(index.m)), k)
  }

  /** One-shot build + query (the oracle-checked shape). */
  def pqKnn(queries: DataFrame, qId: Column, qVec: Column,
      corpus: DataFrame, cId: Column, cVec: Column,
      k: Int, dim: Int, m: Int = 4, ksub: Int = 8,
      refineIters: Int = 2): DataFrame =
    pqQuery(pqIndex(corpus, cId, cVec, dim, m, ksub, refineIters),
      queries, qId, qVec, k)

  /** Reciprocal-rank fusion of per-retriever top-k lists
    * (reference stdlib/indexing/hybrid_index.py:14). Inputs share
    * (query_id, nn_id, rank); score = Σ 1/(k0 + rank). */
  def rrfFusion(results: Seq[DataFrame], k0: Int = 60, topK: Int = 10): DataFrame = {
    val unioned = results.map(_.select(col("query_id"), col("nn_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = unioned.groupBy("query_id", "nn_id")
      .agg(sum(lit(1.0) / (lit(k0) + col("rank"))).as("rrf_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("nn_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .withColumn("rank", col("rank").cast("long"))
  }
}
