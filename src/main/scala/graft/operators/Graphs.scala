package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph algorithms built on the [[Iterate]] loops, mirroring the
  * reference's stdlib (pagerank stdlib/graphs/pagerank/impl.py:18,
  * bellman_ford stdlib/graphs/bellman_ford/impl.py:42, both ~40-line
  * compositions over `pw.iterate`).
  *
  * Edges are a DataFrame (src, dst[, weight]). All joins are key-partitioned
  * shuffle joins — the same sharding the reference's dataflow uses — and each
  * iteration's state is checkpointed by Iterate (one pass per checkpoint,
  * local or FS-backed per [[Materialize.ReliableConf]]) so lineage stays
  * flat.
  */
object Graphs {

  /** Connected components: label = min reachable vertex id (label propagation).
    * Converges in O(diameter) passes.
    *
    * `numPartitions` pins the per-pass aggregation width: a
    * `repartition(p, vertex)` ahead of the groupBy satisfies the aggregate's
    * clustered-distribution requirement, so the pass runs p-wide end to end
    * instead of `spark.sql.shuffle.partitions`-wide. Callers with graphs far
    * below the session width (Dedup.dupGroups' pair graphs) use it to stop
    * paying full-width task scheduling per pass — at real scale pass the
    * session width (or None) back. */
  def connectedComponents(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxIterations: Int = 50, numPartitions: Option[Int] = None): DataFrame =
    Materialize.scoped { pin =>
    val sym0 = edges.select(col(src).as("u"), col(dst).as("v"))
      .unionByName(edges.select(col(dst).as("u"), col(src).as("v")))
      .distinct()
    // loop-invariant: EVERY pass joins the symmetric edge list — left lazy,
    // each pass re-paid the union + distinct shuffles of the input plan
    // (r20, guide §5; the standard iterative-graph caching discipline).
    // Lazy persist: pass 0's materialization populates it sequentially.
    val sym = pin(numPartitions.fold(sym0)(p => sym0.repartition(p, col("v"))))
    val vertices = sym.select(col("u").as("vertex")).distinct()
    val initial = vertices.select(col("vertex"), col("vertex").as("component"))
    // labels only ever decrease and the vertex set is fixed, so Σ component is
    // strictly decreasing until the fixpoint — a one-row fingerprint per pass
    // (evaluated once, in the pass's materialization job) replaces the
    // exceptAll multiset compare (2 extra shuffles per pass)
    Iterate.fixpointByFingerprint(initial, labels => {
      val viaNeighbor = sym.join(labels, sym("v") === labels("vertex"))
        .select(col("u").as("vertex"), col("component"))
      val unioned = labels.unionByName(viaNeighbor)
      numPartitions.fold(unioned)(p => unioned.repartition(p, col("vertex")))
        .groupBy("vertex").agg(min("component").as("component"))
    }, df => {
      // counted fingerprint: the row count feeds the free non-empty fence,
      // Σ component is the monotone convergence summary — one aggregate
      // job. An EMPTY frame (legal input: a graph with no edges) sums to
      // null — report (0, 0): the fence stays disarmed and the loop
      // converges immediately instead of NPE-ing on getLong.
      val r = df.agg(count(lit(1)), sum("component")).head
      val n = r.getLong(0)
      (n, if (n == 0) 0L else r.getLong(1)): (Long, Any)
    }, maxIterations, nonEmptyGuard = true)
  }

  /** Single-source shortest paths (Bellman-Ford). Integer or decimal weights
    * recommended for exact convergence checks. Unreachable vertices omitted. */
  def bellmanFord(edges: DataFrame, sourceId: Long,
      src: String = "src", dst: String = "dst", weight: String = "weight",
      maxIterations: Int = 50): DataFrame = Materialize.scoped { pin =>
    // loop-invariant edge list: every relaxation pass joins it — cache it so
    // the input plan (often a join/projection chain) runs once, not per pass
    val e = pin(edges.select(col(src).as("u"), col(dst).as("v"), col(weight).as("w")))
    val initial = e.sparkSession.range(1).select(lit(sourceId).as("vertex"), lit(0L).as("dist"))
    // reached-count never decreases and per-vertex dist never increases, so the
    // (count, Σdist) pair is a monotone fingerprint: unchanged ⇔ fixpoint.
    // Evaluated once per pass in the materialization job (fixpointByFingerprint
    // carries the previous pass's value — never recomputed on prev).
    Iterate.fixpointByFingerprint(initial, dist => {
      val relaxed = e.join(dist, e("u") === dist("vertex"))
        .select(col("v").as("vertex"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("vertex").agg(min("dist").as("dist"))
    }, df => {
      val r = df.agg(count(lit(1)), sum("dist")).head
      // the reached-count doubles as the fence count (free non-empty
      // guard) and stays part of the convergence summary; count 0 cannot
      // happen from the 1-row source seed, but guard the null-sum read
      // anyway (same empty-frame rule as connectedComponents)
      val n = r.getLong(0)
      (n, (n, if (n == 0) 0L else r.getLong(1))): (Long, Any)
    }, maxIterations, nonEmptyGuard = true)
  }

  /** Community detection via synchronous label propagation — the scalable
    * stand-in for the reference's Louvain (stdlib/graphs/louvain_communities;
    * true Louvain's sequential modularity sweeps don't parallelize cleanly).
    * Each pass every vertex adopts the most frequent label among its
    * neighbors (ties → smallest label, deterministic); `iters` fixed passes. */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      src: String = "src", dst: String = "dst"): DataFrame = Materialize.scoped { pin =>
    // loop-invariant symmetric edge list, cached as in connectedComponents:
    // pass 0's materialization populates it, later passes read it
    val sym = pin(edges.select(col(src).as("u"), col(dst).as("v"))
      .unionByName(edges.select(col(dst).as("u"), col(src).as("v")))
      .distinct())
    val vertices = sym.select(col("u").as("vertex")).distinct()
    val initial = vertices.select(col("vertex"), col("vertex").as("label"))
    Iterate.nTimes(initial, labels => {
      val neighborLabels = sym.join(labels, sym("v") === labels("vertex"))
        .select(col("u").as("vertex"), col("label"))
      val counted = neighborLabels.groupBy("vertex", "label").agg(count(lit(1)).as("_n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vertex")).orderBy(col("_n").desc, col("label").asc)
      counted.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("vertex"), col("label"))
    }, iters, nonEmptyGuard = true)
  }

  /** Louvain-style community detection: synchronous modularity-gain moves
    * (reference stdlib/graphs/louvain_communities/impl.py:282 — its sequential
    * sweep is replaced by a per-pass parallel argmax move, the standard
    * distributed Louvain adaptation; one level, no coarsening).
    *
    * Per pass, every vertex u evaluates, for each neighboring community c,
    * score(c) = w(u,c) − k_u·vol(c \ u)/2m  (∝ the modularity gain of joining
    * c) and moves to the best strictly-improving community (ties → smaller
    * community id — deterministic). All steps are equi-joins + aggregations on
    * (vertex | community) keys; 2m is the only driver scalar. */
  def louvain(edges: DataFrame, iters: Int = 10,
      src: String = "src", dst: String = "dst"): DataFrame = Materialize.scoped { pin =>
    val sym = pin(symWeighted(edges, src, dst))
    val deg = pin(sym.groupBy(col("u").as("vertex")).agg(sum("w").as("k")))
    val m2 = sym.count().toDouble // = 2m
    louvainMoves(sym, deg, m2, iters)
  }

  /** Symmetric unit-weight edge list (u, v, w=1), self-loops dropped. */
  private def symWeighted(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).as("u"), col(dst).as("v"))
      .unionByName(edges.select(col(dst).as("u"), col(src).as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .withColumn("w", lit(1L))

  /** The synchronous weighted move passes shared by one-level [[louvain]],
    * [[louvainMultilevel]] and [[louvainAuto]]: `sym` is a symmetric weighted
    * edge list (u,v,w) with u ≠ v; `deg` carries each vertex's weighted
    * degree INCLUDING any self-loop mass (a contracted community's internal
    * edges travel with the super-vertex under any move, so they appear in
    * `deg` but never in `sym`). `m2` (= 2m, conserved across levels) is the
    * only driver scalar.
    *
    * FUSED move pass (r7 plan-audit item): the loop state carries (vertex,
    * community, k) so the old per-pass labels⋈deg join disappears, and the
    * former stay/candidate split is one scored relation — the own-community
    * row rides the same aggregation as the neighbor rows (a zero-mass seed
    * row per vertex, summed away when real own-edges exist) with the
    * vol−k_u correction applied by a `when` on c = own. Score arithmetic is
    * bit-identical to the unfused form (same Long products, same single
    * double division), and the max_by key (score, own-wins-ties, −c)
    * reproduces the strict-improvement move rule exactly. Edge-scale data
    * shuffles 4× per pass: join-on-v, groupBy(vertex,c), join-on-c(vol),
    * join-on-vertex + final argmax (comVol itself is a community-keyed
    * partial agg of the small label table).
    *
    * `alternate=false` (the [[louvain]]/[[louvainMultilevel]] contract —
    * oracle-pinned) lets every vertex adopt its best move simultaneously.
    * That oscillates on bipartite-ish graphs — after contraction a
    * hub-and-leaves super-graph has NO intra-community edges, so hub and
    * leaves swap communities forever (the classic synchronous-label-update
    * artifact). `alternate=true` is the standard parallel-Louvain remedy
    * (Grappolo-style coloring, degenerated to 2 colors): each pass runs two
    * sub-passes where only vertices of one xxhash64 parity may move while
    * the frozen half anchors the configuration — mutual swaps between a
    * mover and its target need equal parity, which the hash decorrelates
    * from structure. Same score arithmetic, twice the joins per pass;
    * only [[louvainAuto]] pays that. */
  private def louvainMoves(sym: DataFrame, deg: DataFrame, m2: Double,
      iters: Int, alternate: Boolean = false): DataFrame = {
    val initial = deg.select(col("vertex"), col("vertex").as("community"), col("k"))
    def movePass(labels: DataFrame, parity: Option[Int]): DataFrame = {
      val comVol = labels.groupBy("community").agg(sum("k").as("vol"))
      // w(u, c) for every neighboring community PLUS a zero-mass row for the
      // own community (so stay-scoring needs no separate pass; sum() folds
      // the seed into the real own-mass when it exists)
      val neighAll = sym
        .join(labels.select(col("vertex").as("v"), col("community").as("c")), "v")
        .select(col("u").as("vertex"), col("c"), col("w"))
        .unionByName(labels.select(col("vertex"), col("community").as("c"), lit(0L).as("w")))
        .groupBy("vertex", "c").agg(sum("w").as("w"))
      val scored = neighAll
        .join(comVol.select(col("community").as("c"), col("vol")), "c")
        .join(labels.select(col("vertex"), col("community").as("own"), col("k")), "vertex")
        // own community's volume excludes u's own degree; same Long-arith,
        // single-double-division shape as the unfused stay/cand expressions
        .withColumn("_score",
          col("w") - col("k") *
            (col("vol") - when(col("c") === col("own"), col("k")).otherwise(lit(0L))) / m2)
      // move iff the best other community STRICTLY beats staying: own wins
      // every score tie via the middle key, then smaller c among the rest
      val best = scored.groupBy("vertex").agg(
          max_by(col("c"), struct(col("_score"),
            when(col("c") === col("own"), 1).otherwise(0), -col("c"))).as("_new"),
          first(col("own")).as("_own"), first(col("k")).as("k"))
      val comm = parity match {
        case None => col("_new")
        case Some(p) => when(pmod(xxhash64(col("vertex")), lit(2)) === p, col("_new"))
          .otherwise(col("_own"))
      }
      // _moved rides along so the loop's own materializing aggregate can
      // detect a no-move pass with zero extra jobs (r20) — movePass inputs
      // rebuild their columns explicitly, so the flag never feeds back
      best.select(col("vertex"), comm.as("community"), col("k"),
        (comm =!= col("_own")).cast("long").as("_moved"))
    }
    // converged-early-stop: a pass that moves nothing makes all remaining
    // passes no-ops (deterministic step), so labels are bit-identical to the
    // full `iters` passes — the oracle's fixed-pass CTEs stay exact — and
    // contracted levels (which converge in 1-2 passes) skip the rest.
    // Non-alternate passes carry their own moved counter → the free
    // nTimesUntilNoChange stop; alternate (two sub-passes per pass — only
    // the SECOND sub-pass's flag would survive the chain) keeps the exact
    // exceptAll compare.
    val looped =
      if (!alternate) Iterate.nTimesUntilNoChange(initial,
        labels => movePass(labels, None), iters, changedCol = "_moved",
        nonEmptyGuard = true)
      else Iterate.nTimesConverged(initial, labels =>
        // the exceptAll compare needs pass schema == initial schema — the
        // moved flag is the no-change path's concern, drop it here
        movePass(movePass(labels, Some(0)), Some(1)).drop("_moved"),
        iters, nonEmptyGuard = true)
    looped.select(col("vertex"), col("community"))
  }

  /** Contract an assignment into its super-graph: cross-community mass
    * becomes weighted edges, intra-community mass (plus member self-loops,
    * already inside `deg`) becomes super-vertex self-loop degree. Conserves
    * total degree, so 2m carries across levels unchanged. */
  private def contract(sym: DataFrame, deg: DataFrame, labels: DataFrame)
      : (DataFrame, DataFrame) = {
    val mapped = sym
      .join(labels.select(col("vertex").as("u"), col("community").as("cu")), "u")
      .join(labels.select(col("vertex").as("v"), col("community").as("cv")), "v")
    val superSym = mapped.filter(col("cu") =!= col("cv"))
      .groupBy(col("cu").as("u"), col("cv").as("v")).agg(sum("w").as("w"))
    // Σ member k = external rows + intra rows + member loops — exactly the
    // super-vertex's degree-with-loops at any depth
    val superDeg = labels.join(deg, "vertex")
      .groupBy(col("community").as("vertex")).agg(sum("k").as("k"))
    (superSym, superDeg)
  }

  /** Weighted modularity of a level assignment, loops included:
    * Q = Σ_c [ in2_c/2m − (vol_c/2m)² ] where in2_c counts both directions
    * of intra-community edges plus member self-loop mass (k − row-sum). */
  private def levelModularity(sym: DataFrame, deg: DataFrame, labels: DataFrame,
      m2: Double): Double = {
    val intra = sym
      .join(labels.select(col("vertex").as("u"), col("community").as("cu")), "u")
      .join(labels.select(col("vertex").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(sum("w").as("_intra"))
    val rowSum = sym.groupBy(col("u").as("vertex")).agg(sum("w").as("_rs"))
    val loops = labels.join(deg, "vertex")
      .join(rowSum, Seq("vertex"), "left_outer")
      .groupBy("community").agg(
        sum(col("k") - coalesce(col("_rs"), lit(0L))).as("_loop"), sum("k").as("vol"))
    val r = loops.join(intra, Seq("community"), "left_outer")
      .select(sum((coalesce(col("_intra"), lit(0L)) + col("_loop")) / m2
        - pow(col("vol") / m2, 2)).as("q"))
      .head
    r.getDouble(0)
  }

  /** Multi-level Louvain (reference louvain_communities/impl.py:282: move
    * passes, then contract communities into super-vertices and recurse):
    * level-1 moves on the unit-weight graph, then communities collapse into a
    * weighted super-graph — cross-community mass becomes weighted edges,
    * intra-community mass becomes self-loop degree — level-2 moves run on
    * that, and the final label composes vertex → c₁ → c₂. The contracted
    * graph is |communities| vertices, so level 2 costs a fraction of level 1;
    * 2m is conserved so modularity comparisons stay on the original scale. */
  def louvainMultilevel(edges: DataFrame, iters1: Int = 4, iters2: Int = 4,
      src: String = "src", dst: String = "dst"): DataFrame = Materialize.scoped { pin =>
    val sym = pin(symWeighted(edges, src, dst))
    val deg = pin(sym.groupBy(col("u").as("vertex")).agg(sum("w").as("k")))
    val m2 = sym.count().toDouble
    val l1 = pin(louvainMoves(sym, deg, m2, iters1))
    // the contracted graph is scanned by EVERY level-2 move pass — cache it
    // (lazy: the first pass populates, passes are sequential so no AQE race;
    // left lazy, each pass re-runs the contraction joins — r20)
    val (superSym, superDeg) = contract(sym, deg, l1)
    val l2 = louvainMoves(pin(superSym), pin(superDeg), m2, iters2)
    // the final compose joins only l1 × l2: materializing it (vertex-count
    // rows) lets the scope release EVERY pin (r20 verdict #2)
    Materialize.eager(
      l1.select(col("vertex"), col("community").as("_c1"))
        .join(l2.select(col("vertex").as("_c1"), col("community")), "_c1")
        .select(col("vertex"), col("community")))
  }

  /** N-level Louvain with gain-stop — the full shape of the reference's
    * recursion (louvain_communities/impl.py:282 recurses until no move
    * improves modularity): run `itersPerLevel` synchronous move passes,
    * contract, and repeat while each level's modularity improves by more
    * than `minGain`, up to `maxLevels`. One modularity scalar is collected
    * per level (bounded by maxLevels — the same driver-scalar budget as 2m).
    * Returns (vertex, community) on the ORIGINAL vertex ids; use
    * [[louvainAutoTrace]] to also observe the per-level modularity. */
  def louvainAuto(edges: DataFrame, itersPerLevel: Int = 4, maxLevels: Int = 10,
      minGain: Double = 1e-9, src: String = "src", dst: String = "dst"): DataFrame =
    louvainAutoTrace(edges, itersPerLevel, maxLevels, minGain, src, dst)._1

  /** [[louvainAuto]] plus the per-level modularity trace. A level is
    * ACCEPTED only if its modularity beats the previous accepted level by
    * more than `minGain`; a non-improving level is discarded and the loop
    * stops. The SYNCHRONOUS move pass can oscillate below the incoming
    * modularity (two super-vertices swapping communities in the same pass —
    * the classic parallel-Louvain artifact), so monotonicity is enforced by
    * acceptance, not assumed: the returned trace (accepted levels only) is
    * strictly increasing by construction, and the final assignment never
    * loses to any prefix of levels. */
  def louvainAutoTrace(edges: DataFrame, itersPerLevel: Int = 4, maxLevels: Int = 10,
      minGain: Double = 1e-9, src: String = "src", dst: String = "dst")
      : (DataFrame, Seq[Double]) = Materialize.scoped { pin =>
    // ~4 pins per level, all released once the final mapping is materialized
    var sym = pin(symWeighted(edges, src, dst))
    var deg = pin(sym.groupBy(col("u").as("vertex")).agg(sum("w").as("k")))
    val m2 = sym.count().toDouble
    var mapping: DataFrame = null
    var prevQ = Double.NegativeInfinity
    val trace = scala.collection.mutable.ArrayBuffer.empty[Double]
    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      // Alternation stays ON at EVERY level — including level 1. Running
      // level 1 un-alternated (half the joins on the dominant edge-scale
      // level; proposed VERDICT r8 #8) was tried and MEASURED WORSE: on the
      // 3-level hierarchy spec, fully-synchronous moves scatter glued cliques
      // — a leaf clique's gateway vertices tie-break into DIFFERENT hub
      // communities in the same pass, and itersPerLevel passes no longer
      // converge (quad left split across 2 communities). Synchronous damage
      // is not only contracted-graph swap-oscillation; parity damping is
      // load-bearing for convergence QUALITY on the original graph too.
      val l = pin(louvainMoves(sym, deg, m2, itersPerLevel, alternate = true))
      val q = levelModularity(sym, deg, l, m2)
      if (q - prevQ <= minGain) done = true // reject: keep the prior levels' labels
      else {
        trace += q
        prevQ = q
        mapping =
          if (mapping == null) l
          else pin(mapping.select(col("vertex"), col("community").as("_c"))
            .join(l.select(col("vertex").as("_c"), col("community")), "_c")
            .select(col("vertex"), col("community")))
        val (s2, d2) = contract(sym, deg, l)
        sym = pin(s2); deg = pin(d2)
        // a level that collapsed everything into isolated super-vertices has
        // no external edges left — nothing further to move
        if (sym.isEmpty) done = true
      }
      level += 1
    }
    // degenerate guard: if even level 1 failed to improve on -inf (impossible
    // for finite q) fall back to singletons so callers always get labels
    if (mapping == null)
      mapping = deg.select(col("vertex"), col("vertex").as("community"))
    // checkpointed, not persisted: a returned persist outlives the call
    // with no handle to release it (r21, VERDICT #4 leak class)
    (Materialize.eager(mapping), trace.toSeq)
  }

  /** Modularity Q of an assignment (vertex, community) over `edges` —
    * Σ_c [ in_c/2m − (vol_c/2m)² ], unweighted. */
  def modularity(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v")).distinct()
    val lab = assignment.select(col("vertex"), col("community"))
    val m2 = sym.count().toDouble
    val withC = sym
      .join(lab.select(col("vertex").as("u"), col("community").as("cu")), "u")
      .join(lab.select(col("vertex").as("v"), col("community").as("cv")), "v")
    val inC = withC.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("in2"))
    val vol = withC.groupBy(col("cu").as("community")).agg(count(lit(1)).as("vol"))
    vol.join(inC, Seq("community"), "left_outer")
      .select(sum(coalesce(col("in2"), lit(0L)) / m2 - pow(col("vol") / m2, 2)).as("q"))
  }

  /** The reference's EXACT pagerank (stdlib/graphs/pagerank/impl.py, r16
    * decode of tests/test_graphs.py): integer ranks, init 6000, damping as
    * `rank*5 // (degree*6)` floor division, each in-vertex gets Σ inflow +
    * 1000, and vertices with outgoing-but-no-incoming edges are PINNED at
    * 1000. [[pagerank]] below stays the scale-tuned high-precision variant
    * (its own oracle row); this one replays the reference vectors
    * bit-exactly (3896/7142/6951 etc., GraphFixtureSpec). Same plan shape:
    * `steps` joined rounds over (vertex, rank). */
  def pagerankRef(edges: DataFrame, steps: Int = 5,
      src: String = "src", dst: String = "dst"): DataFrame = {
    import graft.functions.Exprs._
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
    val outDeg = e.groupBy(col("u").as("vertex")).agg(count(lit(1)).as("degree"))
    val inV = e.select(col("v").as("vertex")).distinct()
    // update_rows(in-vertices@0, out-vertices@outdeg): union universe,
    // out-degree wins where present
    val degrees = inV.join(outDeg, Seq("vertex"), "full_outer")
      .select(col("vertex"), coalesce(col("degree"), lit(0L)).as("degree"))
    val base = outDeg.select("vertex").exceptAll(inV).withColumn("rank", lit(1000L))
    val initial = degrees.select(col("vertex"), lit(6000L).as("rank"))
    (1 to steps).foldLeft(initial) { (ranks, _) =>
      val outflow = degrees.join(ranks, "vertex")
        .select(col("vertex").as("ovx"),
          when(col("degree") === 0, lit(0L))
            .otherwise((col("rank") * 5).floorDiv(col("degree") * 6)).as("flow"))
      val inflows = e.join(outflow, e("u") === col("ovx"))
        .groupBy(col("v").as("vertex"))
        .agg((sum(col("flow")) + lit(1000L)).as("rank"))
      base.unionByName(inflows)
    }
  }

  /** PageRank with `iters` fixed passes, damping dampNum/dampDen. Ranks are
    * 64-bit FIXED-POINT integers (units of 1/scale): every operation is exact
    * integer arithmetic (floor div), so results are bit-identical across
    * engines, shuffle orders, and partition counts — float or decimal division
    * would make the result depend on rounding modes. Dangling nodes keep the
    * base (1-d)/n mass (contributions only flow along edges; matches the
    * reference's simple formulation, stdlib/graphs/pagerank/impl.py:18). */
  def pagerank(edges: DataFrame, iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000000L): DataFrame = Materialize.scoped { pin =>
    // loop invariants (edge list, vertex set, out-degrees) cached: every
    // pass joins all three — left lazy, each pass re-paid the distinct /
    // union / aggregation shuffles of the input plan (r20, guide §5). The
    // nV count below materializes vertices (and e under it) sequentially.
    val e = pin(edges.select(col("src").as("u"), col("dst").as("v")).distinct())
    val vertices = pin(e.select(col("u").as("vertex"))
      .unionByName(e.select(col("v").as("vertex"))).distinct())
    val outDeg = pin(e.groupBy(col("u").as("vertex")).agg(count(lit(1)).as("out_deg")))
    val nV = vertices.count()
    val initRank = scale / nV
    val baseFp = (scale - scale * dampNum / dampDen) / nV
    val initial = vertices.withColumn("rank", lit(initRank))
    Iterate.nTimes(initial, ranks => {
      val contrib = e
        .join(ranks, e("u") === ranks("vertex"))
        .join(outDeg, "vertex")
        .select(col("v").as("vertex"), expr("rank div out_deg").as("c"))
      val summed = contrib.groupBy("vertex").agg(sum("c").as("mass"))
      vertices.join(summed, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          (lit(baseFp) + expr(s"($dampNum * coalesce(mass, CAST(0 AS BIGINT))) div $dampDen"))
            .as("rank"))
    }, iters, nonEmptyGuard = true)
  }

  // ── graph contraction machinery (r17 decode of stdlib/graphs/graph.py:40-160
  //    + tests/test_graphs.py:185-453) ──────────────────────────────────────
  //
  // Conventions: vertices = (vid), edges = (u, v [, weight]), clustering =
  // (vid, c). All ops are plain joins/aggregations — Catalyst broadcasts the
  // (small) clustering side automatically at typical cluster-map sizes and
  // falls back to a shuffle join when it is edge-scale.

  /** `Graph.without_self_loops` (graph.py:116): drop u == v edges. */
  def withoutSelfLoops(edges: DataFrame): DataFrame =
    edges.filter(col("u") =!= col("v"))

  /** `_extended_to_full_clustering` (graph.py:61): vertices missing from the
    * partial clustering become singleton clusters keyed by their own id. */
  def extendToFullClustering(vertices: DataFrame, clustering: DataFrame): DataFrame =
    vertices.select(col("vid"))
      .join(clustering.select(col("vid"), col("c")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("c"), col("vid")).as("c"))

  /** `contracted_to_multi_graph` (graph.py:109): endpoints map to their
    * clusters, every original edge kept (weights carried through); the new
    * vertex set is the cluster set. Returns (vertices, edges). */
  def contractToMultiGraph(vertices: DataFrame, edges: DataFrame,
      clustering: DataFrame): (DataFrame, DataFrame) = {
    val full = extendToFullClustering(vertices, clustering)
    val cu = full.select(col("vid").as("u"), col("c").as("_cu"))
    val cv = full.select(col("vid").as("v"), col("c").as("_cv"))
    val rest = edges.columns.filterNot(c => c == "u" || c == "v").map(col)
    val newE = edges.join(cu, "u").join(cv, "v")
      .select(col("_cu").as("u") +: col("_cv").as("v") +: rest.toSeq: _*)
    val newV = full.select(col("c").as("vid")).distinct()
    (newV, newE)
  }

  /** `contracted_to_unweighted_simple_graph` (graph.py:85): contract, then
    * collapse parallel edges. */
  def contractToSimpleGraph(vertices: DataFrame, edges: DataFrame,
      clustering: DataFrame): (DataFrame, DataFrame) = {
    val (nv, ne) = contractToMultiGraph(vertices, edges, clustering)
    (nv, ne.select("u", "v").distinct())
  }

  /** `contracted_to_weighted_simple_graph` (graph.py:132): contract, then
    * reduce parallel edges with the given weight aggregate (the reference
    * takes reducer kwargs; summing the weight is its only used form). */
  def contractToWeightedSimpleGraph(vertices: DataFrame, edges: DataFrame,
      clustering: DataFrame): (DataFrame, DataFrame) = {
    val (nv, ne) = contractToMultiGraph(vertices, edges, clustering)
    (nv, ne.groupBy("u", "v").agg(sum("weight").as("weight")))
  }

  /** `exact_modularity` (louvain_communities/impl.py:340): modularity of a
    * clustering over a weighted directed-edge list,
    * Σ_c (internal_c · m − degree_c²) / m², rounded python-style (half-even
    * on the exact binary value) to `roundDigits`. One row, one column
    * `modularity` — the reference's test/development metric, also the
    * quality oracle for the D8 louvain divergence. */
  def exactModularity(edges: DataFrame, clustering: DataFrame,
      roundDigits: Int = 16): DataFrame = {
    val cu = clustering.select(col("vid").as("u"), col("c").as("_cu"))
    val cv = clustering.select(col("vid").as("v"), col("c").as("_cv"))
    // the reference looks endpoints up with C.ix (impl.py:359) — a vertex
    // missing from the clustering is a KeyError there, so it fails loudly
    // here too instead of silently dropping the edge from the numerator
    // while m still counts it (use extendToFullClustering first for a
    // partial clustering)
    val e = edges.join(cu, Seq("u"), "left").join(cv, Seq("v"), "left")
      .where(when(col("_cu").isNull || col("_cv").isNull,
        raise_error(lit("exact_modularity: vertex missing from clustering")))
        .otherwise(lit(true)))
    val w = col("weight").cast("double")
    val degrees = e.groupBy(col("_cu").as("c")).agg(sum(w).as("degree"))
    val internal = e.filter(col("_cu") === col("_cv"))
      .groupBy(col("_cu").as("c")).agg(sum(w).as("internal"))
    val clusters = clustering.select(col("c")).distinct()
    // cast BEFORE the head: an integer weight column sums to Long (getDouble
    // would ClassCastException), and an empty edge list sums to null
    val m = Option(edges.agg(sum(w)).head.get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    val perCluster = clusters
      .join(degrees, Seq("c"), "left").join(internal, Seq("c"), "left")
      .select(((coalesce(col("internal"), lit(0.0)) * m -
        coalesce(col("degree"), lit(0.0)) * coalesce(col("degree"), lit(0.0))) /
        (m * m)).as("q"))
    import graft.functions.Exprs.PwColumn
    perCluster.agg(sum("q").as("modularity"))
      .select(col("modularity").num.round(roundDigits).as("modularity"))
  }
}
