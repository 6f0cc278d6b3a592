package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Fixed-point iteration of a DataFrame transformation (reference
  * `pw.iterate`, python/pathway/internals/common.py:39; engine loop
  * src/engine/dataflow.rs:5046 via timely Variable loops).
  *
  * Spark has no dataflow loop primitive, so the driver re-evaluates the step
  * function until a stop rule holds (or the iteration limit). Every public
  * variant is a stop rule over ONE private pass loop: each pass is
  * checkpointed through [[Materialize.pass]], so the lineage does NOT grow
  * with the iteration count — unbounded lineage is the classic Spark
  * iterative-job failure mode (stack overflows in the planner at scale).
  *
  * Per-pass job shape: the pass's summary action (row count plus the stop
  * rule's aggregate) materializes the lazily checkpointed pass as it runs —
  * the step's shuffle work runs exactly once per pass and no separate copy
  * job follows. Summaries are remembered across passes, never recomputed on
  * `prev`.
  *
  * Local vs FS-backed checkpoints is the one session switch
  * `spark.graft.reliableCheckpoint` read by [[Materialize]]: on a real
  * cluster set a checkpoint dir (`sc.setCheckpointDir`) and the conf to
  * `true`.
  *
  * Passes are never chained lazily between checkpoints: every graph step
  * here reads its input more than once (self-union, join-back), so k
  * chained passes replicate the unmaterialized subplan exponentially
  * (measured: louvain 3 s → 31 s at 2 passes per checkpoint; pagerank
  * cost-neutral, with 3× first-run codegen latency).
  *
  * Batch-only by design: the reference supports iterate over streams via
  * timely loops; we document that divergence (SURVEY.md known-hard #3).
  */
object Iterate {

  /** Loud-failure invariant for steps that preserve non-emptiness (every
    * graph algorithm here iterates a vertex-keyed table whose key set never
    * shrinks): a pass that turns a non-empty table EMPTY is a runtime fault
    * (observed once: an executor-local checkpoint under AQE returned an
    * empty frame), not a legal fixpoint — fail the job with a diagnosable
    * error instead of silently returning nothing. The row count comes from the pass's OWN
    * summary action, so the fence costs zero extra jobs. */
  private def guardCount(count: Long, enabled: Boolean, pass: Int): Unit =
    if (enabled && count == 0)
      throw new IllegalStateException(
        s"iterate pass $pass produced an EMPTY table from a non-empty input — " +
          "this step preserves cardinality, so an empty result is a " +
          "materialization fault (retry the job), not a fixpoint")

  /** A pass's (row count, stop state), from one action on the pass. */
  private type Summary = DataFrame => (Long, Any)

  /** Stop rule over (prev, prevSummary, next, nextSummary). */
  private type Stop = (DataFrame, (Long, Any), DataFrame, (Long, Any)) => Boolean

  /** Row count only: a plain RDD count is the one job that materializes a
    * lazily checkpointed pass — no aggregate shuffle behind it. */
  private val counted: Summary = df => (df.queryExecution.toRdd.count(), ())

  /** The pass loop under every public variant: checkpoint `initial` with
    * summary `first`, then up to `limit` passes of `step`, each checkpointed
    * with summary `each`; after each pass but the last, `stop` may end the
    * loop early (the final pass ends it anyway — a rule that costs a job,
    * like [[defaultConverged]], is never paid there). The non-empty fence
    * arms iff `nonEmptyGuard` and `initial` has rows. */
  private def loop(initial: DataFrame, step: DataFrame => DataFrame, limit: Int,
      nonEmptyGuard: Boolean, each: Summary, first: Summary = counted)(
      stop: Stop): DataFrame = {
    // reference pw.iterate raises ValueError on a non-positive
    // iteration_limit (tests/test_common.py test_iterate_with_wrong_limit)
    require(limit >= 1, s"iteration limit $limit must be >= 1")
    var (current, summary) = Materialize.pass(initial)(first)
    val guard = nonEmptyGuard && summary._1 > 0
    var i = 0
    var done = false
    while (i < limit && !done) {
      val (next, nextSummary) = Materialize.pass(step(current))(each)
      guardCount(nextSummary._1, guard, i)
      done = i + 1 < limit && stop(current, summary, next, nextSummary)
      current = next
      summary = nextSummary
      i += 1
    }
    current
  }

  /** Fixpoint with a per-pass COUNTED scalar fingerprint. `fingerprint`
    * returns `(rowCount, summary)` from ONE aggregate action — e.g.
    * `df.agg(count(lit(1)), sum("x")).head` — where the summary is a
    * deterministic driver-side value such that fingerprint(step(x)) ==
    * fingerprint(x) ⇔ convergence — true for any monotone state (labels
    * only decrease, distances only shrink, reach only grows). Evaluated
    * ONCE per pass, in the job that materializes it; the rowCount rides the
    * same aggregate, so the non-empty fence is free. */
  def fixpointByFingerprint(initial: DataFrame, step: DataFrame => DataFrame,
      fingerprint: DataFrame => (Long, Any), maxIterations: Int = 50,
      nonEmptyGuard: Boolean = false): DataFrame =
    loop(initial, step, maxIterations, nonEmptyGuard, fingerprint, fingerprint)(
      (_, fp, _, nfp) => nfp == fp)

  /** General fixpoint: stops when a pass leaves the table unchanged
    * ([[defaultConverged]]). Prefer `fixpointByFingerprint` when a monotone
    * one-row summary exists — this variant re-reads both passes. */
  def fixpoint(initial: DataFrame, step: DataFrame => DataFrame,
      maxIterations: Int = 50, nonEmptyGuard: Boolean = false): DataFrame =
    loop(initial, step, maxIterations, nonEmptyGuard, counted)(
      (prev, _, next, _) => defaultConverged(prev, next))

  /** Multiset equality via two anti-joins; exact but costs a shuffle. */
  def defaultConverged(prev: DataFrame, next: DataFrame): Boolean =
    next.exceptAll(prev).isEmpty && prev.exceptAll(next).isEmpty

  /** Run a fixed number of passes (no convergence check) — for algorithms with
    * a pinned iteration count (e.g. pagerank-k). */
  def nTimes(initial: DataFrame, step: DataFrame => DataFrame, n: Int,
      nonEmptyGuard: Boolean = false): DataFrame =
    loop(initial, step, n, nonEmptyGuard, counted)((_, _, _, _) => false)

  /** [[nTimes]] with a ZERO-extra-job early stop for steps that EMIT their
    * own change counter (r20): `changedCol` names a numeric column of the
    * step's output where sum(changedCol) == 0 ⇔ the pass left the iterated
    * state unchanged — e.g. louvain's per-vertex moved flag. The step is
    * deterministic, so an unchanged pass makes every remaining pass a no-op
    * and the result is bit-identical to running all `n` passes (oracles
    * unaffected). The sum rides the SAME aggregate that materializes the
    * pass, where [[nTimesConverged]]'s exceptAll check pays 1-2 extra
    * shuffle jobs per pass for the same verdict. The count in that
    * aggregate feeds the free non-empty fence. */
  def nTimesUntilNoChange(initial: DataFrame, step: DataFrame => DataFrame,
      n: Int, changedCol: String, nonEmptyGuard: Boolean = false): DataFrame =
    loop(initial, step, n, nonEmptyGuard, df => {
      val r = df.agg(count(lit(1)), sum(col(changedCol))).head
      // a null sum (empty pass, or an all-null changedCol) means no pass
      // reported a change — converged rather than NPE (advice r20)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    })((_, _, _, s) => s._2 == 0L)

  /** [[nTimes]] with a convergence early-stop — the [[fixpoint]] rule with
    * a pass count: stops as soon as a pass leaves the table UNCHANGED. The
    * step is a deterministic function of the table, so an unchanged pass
    * means every remaining pass is a no-op — the result is bit-identical to
    * running all `n` passes (oracles unaffected), only cheaper. Both
    * directions of the compare count: a one-directional next ⊆ prev would
    * declare a row-DROPPING step converged. The check is one
    * `exceptAll.isEmpty` job per pass over the (small, key-scale) iterated
    * table — trivia next to a move pass's edge-scale shuffles. */
  def nTimesConverged(initial: DataFrame, step: DataFrame => DataFrame, n: Int,
      nonEmptyGuard: Boolean = false): DataFrame =
    fixpoint(initial, step, n, nonEmptyGuard)
}
