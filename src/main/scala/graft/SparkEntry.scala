package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Keys, PwTable}
import graft.operators.{Clustering, Dedup, DocParse, Graphs, Hnsw, Materialize, Multimodal, Similarity, Temporal, TextOps, TrainPrep, Utils}
import graft.sources.Tables
import graft.functions.{Exprs, Reducers}
import graft.functions.Exprs._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 through the graft
  * library (PwTable / Exprs / operators.*), and `oracleSql` carries the equivalent
  * DuckDB SQL over the same parquet tables.
  *
  * Float-aggregate policy (oracle hash-stability): sums of non-integral doubles go
  * through `decimal` (exact, associative in BOTH engines) and the result is cast back
  * to double — bit-identical across Spark and DuckDB regardless of accumulation order.
  * Per-row double arithmetic (products, differences) is IEEE-deterministic and safe.
  * Averages are expressed as exact-decimal-sum / count in both engines.
  */
object SparkEntry {

  // exact-sum helpers (see policy above)
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private def davg(c: Column): Column =
    (sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)))
  private val D = "decimal(18,2)"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ───────────────────────────────────────────────────────────────────────────
  //  Core relational (SURVEY §2.1)
  // ───────────────────────────────────────────────────────────────────────────

  private def qQ1(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp_ntz"))
      .groupbyCols("l_returnflag", "l_linestatus")
      .reduce(
        "sum_qty"        -> sum(col("l_quantity")).cast("long"),
        "sum_base_price" -> dsum(col("l_extendedprice")),
        "sum_disc_price" -> sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(22,6)")).cast("double"),
        "avg_qty"        -> (sum(col("l_quantity")).cast("double") / count(lit(1))),
        "avg_price"      -> davg(col("l_extendedprice")),
        "count_order"    -> count(lit(1)))
      .toDf
  }

  private def qSelect(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        "c_custkey" -> col("c_custkey"),
        "name_upper" -> col("c_name").str.upper,
        "bal_sign" -> Exprs.ifElse(col("c_acctbal") < 0, lit("neg"), lit("pos")),
        "bal_rounded" -> col("c_acctbal").num.round(0))
      .toDf

  private def qFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") < 25 && col("l_returnflag") === "R")
      .select(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "l_quantity" -> col("l_quantity"))
      .toDf

  private def qSplit(s: SparkSession, dir: String): DataFrame = {
    val (hi, lo) = Tables.orders(s, dir).split(col("o_totalprice") > 100000.0)
    hi.withColumns("side" -> lit("hi")).concat(lo.withColumns("side" -> lit("lo")))
      .select("o_orderkey" -> col("o_orderkey"), "side" -> col("side")).toDf
  }

  private def qGroupby(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupbyCols("o_orderstatus", "o_orderpriority")
      .reduce(
        "n" -> count(lit(1)),
        "n_cust" -> countDistinct(col("o_custkey")),
        "min_price" -> min(col("o_totalprice")),
        "max_price" -> max(col("o_totalprice")),
        "sum_price" -> dsum(col("o_totalprice")))
      .toDf

  private def qJoinInner(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir); val c = Tables.customer(s, dir)
    o.join(c, col("l.o_custkey") === col("r.c_custkey"), "inner")
      .select(
        "o_orderkey" -> col("l.o_orderkey"),
        "c_name" -> col("r.c_name"),
        "o_totalprice" -> col("l.o_totalprice"))
      .toDf
  }

  private def qJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir); val o = Tables.orders(s, dir)
    c.join(o, col("l.c_custkey") === col("r.o_custkey"), "left")
      .select(
        "c_custkey" -> col("l.c_custkey"),
        "o_orderkey" -> col("r.o_orderkey"))
      .toDf
  }

  private def qJoinOuter(s: SparkSession, dir: String): DataFrame = {
    // synthetic key mismatch: orders with orderkey%3==0 vs lineitems with %3!=2
    val o = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
    val li = Tables.lineitem(s, dir).filter(col("l_orderkey") % 3 =!= 2)
      .groupbyCols("l_orderkey").reduce("n_lines" -> count(lit(1)))
    o.join(li, col("l.o_orderkey") === col("r.l_orderkey"), "full")
      .select(
        "o_orderkey" -> col("l.o_orderkey"),
        "l_orderkey" -> col("r.l_orderkey"),
        "n_lines" -> col("r.n_lines"))
      .toDf
  }

  private def qDifference(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.customer(s, dir)
    // keys re-derived independently (hash of the same pk value) on the rich side
    val positive = PwTable.fromPrimaryKey(
      all.df.filter(col("c_acctbal") > 0).select(col("c_custkey")), "c_custkey")
    all.difference(positive)
      .select("c_custkey" -> col("c_custkey"), "c_name" -> col("c_name")).toDf
  }

  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.customer(s, dir)
    all.intersect(all.filter(col("c_acctbal") > 0), all.filter(col("c_nationkey") < 10))
      .select("c_custkey" -> col("c_custkey"), "c_acctbal" -> col("c_acctbal")).toDf
  }

  private def qConcat(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val hi = o.filter(col("o_totalprice") > 200000.0)
    val lo = o.filter(col("o_totalprice") < 20000.0)
    hi.concat(lo).select("o_orderkey" -> col("o_orderkey"),
      "o_totalprice" -> col("o_totalprice")).toDf
  }

  private def qUpdateCells(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val patch = c.filter(col("c_acctbal") < 0).withColumns("c_acctbal" -> lit(0.0))
    c.updateCells(patch)
      .select("c_custkey" -> col("c_custkey"), "c_acctbal" -> col("c_acctbal")).toDf
  }

  private def qUpdateRows(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val repl = c.filter(col("c_nationkey") === 7)
      .withColumns("c_mktsegment" -> lit("OVERRIDDEN"))
    c.updateRows(repl)
      .select("c_custkey" -> col("c_custkey"), "c_mktsegment" -> col("c_mktsegment")).toDf
  }

  /** PollingCdc.snapshotDiff on two derived order snapshots (the SQLite-
    * connector CDC kernel, data_storage/sqlite.rs:1118): one full-outer
    * equi-join emitting −1/+1 changelog rows for disappearances, appearances
    * and in-place updates. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).toDf
    val prev = o.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val curr = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    graft.sources.PollingCdc.snapshotDiff(prev, curr, Seq("o_orderkey"))
  }

  /** StreamOps.upsertSessionToChangelog over a synthetic upsert event
    * stream derived from orders (SessionType.UPSERT expansion: add
    * retracts the previous value + inserts, remove retracts by key). */
  private def qUpsertSession(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).toDf
    val events = o.select(
      (col("o_orderkey") % 1000).as("k"),
      col("o_orderkey").as("time"),
      when(col("o_orderkey") % 7 === 0, lit("remove")).otherwise(lit("add")).as("op"),
      col("o_totalprice").as("v"))
    graft.streaming.StreamOps.upsertSessionToChangelog(events, Seq("k"))
  }

  private def qConcatReindex(s: SparkSession, dir: String): DataFrame = {
    // same source twice: concat would collide on ids; concat_reindex re-keys.
    // Observable = row multiset (ids are engine-internal): every order twice.
    val o = Tables.orders(s, dir)
    o.concatReindex(o)
      .select("o_orderkey" -> col("o_orderkey"), "o_totalprice" -> col("o_totalprice")).toDf
  }

  private def qRestrict(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    c.restrict(c.filter(col("c_mktsegment") === "BUILDING"))
      .select("c_custkey" -> col("c_custkey"), "c_mktsegment" -> col("c_mktsegment")).toDf
  }

  private def qWithUniverseOf(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val slim = c.select("c_custkey" -> col("c_custkey"), "c_acctbal" -> col("c_acctbal"))
    slim.withUniverseOf(c.filter(col("c_nationkey") < 5))
      .select("c_custkey" -> col("c_custkey"), "c_acctbal" -> col("c_acctbal")).toDf
  }

  private def qFlatten(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .withColumns("tok" -> col("p_type").str.splitBy(" "))
      .flatten("tok")
      .groupbyCols("tok").reduce("n" -> count(lit(1)))
      .toDf

  private def qIx(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    // ix: lookup the order row for each lineitem via its pointer
    li.withColumns("_optr" -> Keys.pointerFrom(col("l_orderkey")))
      .ix(o, col("_optr"))
      .select(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "o_totalprice" -> col("o_totalprice"))
      .toDf
  }

  private def qOrderedDiff(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .diff(keys = Seq(col("o_orderdate"), col("o_orderkey")),
        valueCol = col("o_totalprice"), k = 1, instance = col("o_custkey"))
      .select(
        "o_custkey" -> col("o_custkey"),
        "o_orderkey" -> col("o_orderkey"),
        "diff" -> col("diff"))
      .toDf

  private def qSortPrevNext(s: SparkSession, dir: String): DataFrame = {
    // sort: per-customer linked list over orders; emit the neighbouring *values*
    // (ids are engine-internal; the lag/lead structure is the observable)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir).df
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
  }

  // ───────────────────────────────────────────────────────────────────────────
  //  Reducers (SURVEY §2.4)
  // ───────────────────────────────────────────────────────────────────────────

  /** r16 decode of tests/test_reducers.py: multi/zero-column count_distinct
    * (test_distinct) and the sort_by custom-reducer fold
    * (test_custom_sorting) as oracle rows. */
  private def qReduceDistinctFold(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupbyCols("o_custkey")
      .reduce(
        "cd2" -> Reducers.countDistinct_(col("o_orderstatus"), col("o_orderpriority")),
        "cd0" -> Reducers.countDistinct_(),
        "decayed" -> Reducers.foldInOrder(
          struct(col("o_orderdate"), col("o_orderkey")), col("o_totalprice"))(
          identity)((acc, v) => acc / lit(2) + v))
      .toDf

  private def qReduceMinMax(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupbyCols("l_returnflag")
      .reduce(
        "min_price" -> Reducers.min_(col("l_extendedprice")),
        "max_price" -> Reducers.max_(col("l_extendedprice")),
        "min_ship" -> Reducers.min_(col("l_shipdate")),
        "max_ship" -> Reducers.max_(col("l_shipdate")))
      .toDf

  private def qReduceArgMinMax(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupbyCols("l_returnflag")
      .reduce(
        "argmax_key" -> Reducers.argmax(col("l_orderkey"), col("l_extendedprice"), col("l_orderkey")),
        "argmin_key" -> Reducers.argmin(col("l_orderkey"), col("l_extendedprice"), col("l_orderkey")))
      .toDf

  private def qReduceUniqueAny(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    li.join(o, col("l.l_orderkey") === col("r.o_orderkey"))
      .select("l_orderkey" -> col("l.l_orderkey"), "o_orderstatus" -> col("r.o_orderstatus"),
        "l_returnflag" -> col("l.l_returnflag"))
      .groupbyCols("l_orderkey")
      .reduce(
        "status" -> Reducers.unique(col("o_orderstatus")),
        "flag" -> Reducers.anyDeterministic(col("l_returnflag")))
      .toDf
  }

  private def qReduceSortedTuple(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupbyCols("o_custkey")
      .reduce("keys" -> array_join(
        transform(Reducers.sortedTuple(col("o_orderkey")), x => x.cast("string")), ","))
      .toDf

  private def qReduceTupleOrdered(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupbyCols("o_custkey")
      .reduce("keys_by_date" -> array_join(
        transform(
          Reducers.tupleInOrder(struct(col("o_orderdate"), col("o_orderkey")), col("o_orderkey")),
          x => x.cast("string")), ","))
      .toDf

  private def qReduceStats(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).groupbyCols("o_orderpriority")
      .reduce(
        "n" -> Reducers.count_(),
        "n_cust" -> Reducers.countDistinct_(col("o_custkey")),
        "avg_price" -> davg(col("o_totalprice")))
      .toDf

  /** Exact quartiles of l_quantity per return flag: values are small integral
    * doubles, and both engines interpolate with the R-7 rule at quarter-point
    * fractions — every arithmetic step is exact in binary, so the hashes
    * match without rounding. */
  private def qReduceQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupbyCols("l_returnflag")
      .reduce(
        "n" -> Reducers.count_(),
        "q25" -> Reducers.quantileCont(col("l_quantity"), 0.25),
        "median" -> Reducers.median(col("l_quantity")),
        "q75" -> Reducers.quantileCont(col("l_quantity"), 0.75))
      .toDf

  private def qReduceStateful(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupbyCols("l_returnflag")
      .reduce("sum_sq_qty" -> Reducers.sumSq(col("l_quantity")))
      .toDf

  private def qReduceEarliestLatest(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupbyCols("user_id")
      .reduce(
        "first_value" -> Reducers.earliest(col("value"), col("ts"), col("event_id")),
        "last_value" -> Reducers.latest(col("value"), col("ts"), col("event_id")))
      .toDf

  /** Exact per-group heavy hitters with planted hub keys (every 3rd order
    * folds onto a 7-key hub set, so the top-5 is dominated by real skew). */
  private def qReduceTopkFreq(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).toDf
    val v = when(col("o_orderkey") % 3 === 0, col("o_custkey") % 7)
      .otherwise(col("o_custkey"))
    Utils.topKFrequent(o.select(col("o_orderstatus"), v.as("v")),
      Seq(col("o_orderstatus")), col("v"), k = 5)
  }

  /** Misra-Gries sketch with its guarantees asserted AS DATA (the
    * approx_distinct pattern): per group, the exact heavy-hitter count both
    * engines compute, plus Spark-side booleans — every value with
    * freq·(cap+1) > n is among the sketch keys, and the sketch respects its
    * capacity — that the oracle takes as literal true. */
  /** Count-Min sketch point estimates (Cormode & Muthukrishnan 2005): the
    * sketch cells are order-independent sums over the shared md5+mix hash
    * family, so — unlike Misra-Gries — the ESTIMATES themselves replay
    * bit-exactly in the oracle. Probes = the exact top-5 values per group;
    * output pins estimate values AND the est ≥ true-count guarantee. */
  private def qReduceCountMin(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 32)
    val o = Tables.orders(s, dir).toDf
    val v = when(col("o_orderkey") % 3 === 0, col("o_custkey") % 7)
      .otherwise(col("o_custkey")).cast("string")
    val base = o.select(col("o_orderstatus"), v.as("v"))
    val sk = base.groupBy("o_orderstatus")
      .agg(Reducers.countMin(col("v"), d, w).as("sk"))
    val counted = base.groupBy("o_orderstatus", "v").agg(count(lit(1)).as("cnt"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus")).orderBy(col("cnt").desc, col("v").asc)
    val probes = counted.withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= 5)
    probes.join(sk, "o_orderstatus")
      .select(col("o_orderstatus"), col("v").as("value"), col("cnt"),
        Reducers.countMinEstimate(col("sk"), col("v"), d, w).as("est"),
        col("rank").cast("long").as("rank"))
      .withColumn("overestimates", col("est") >= col("cnt"))
  }

  private def qReduceMisraGries(s: SparkSession, dir: String): DataFrame = {
    val cap = 8
    val o = Tables.orders(s, dir).toDf
    val v = when(col("o_orderkey") % 3 === 0, col("o_custkey") % 7)
      .otherwise(col("o_custkey")).cast("string")
    val base = o.select(col("o_orderstatus"), v.as("v"))
    val mg = base.groupBy("o_orderstatus")
      .agg(Reducers.misraGries(col("v"), cap).as("mg"), count(lit(1)).as("n"))
    val counted = base.groupBy("o_orderstatus", "v").agg(count(lit(1)).as("cnt"))
    val heavy = counted.join(mg.select("o_orderstatus", "n", "mg"), "o_orderstatus")
      .filter(col("cnt") * (cap + 1) > col("n"))
      .withColumn("_in", map_contains_key(col("mg"), col("v")))
    val cov = heavy.groupBy("o_orderstatus").agg(
      count(lit(1)).as("n_heavy"), min(col("_in")).as("_cov"))
    mg.join(cov, Seq("o_orderstatus"), "left_outer")
      .select(col("o_orderstatus"),
        coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
        coalesce(col("_cov"), lit(true)).as("all_covered"),
        (size(map_keys(col("mg"))) <= cap).as("within_cap"))
  }

  private def qReduceApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // HLL++ sketches can't hash-match a DuckDB oracle directly (different
    // sketches), but Spark's estimate is deterministic for fixed input — so
    // assert the documented error bound AS DATA: emit the exact count plus
    // within_tol = |approx − exact| / exact ≤ 3·rsd, which DuckDB reproduces
    // exactly (exact count + literal true).
    val rsd = 0.02
    Tables.orders(s, dir).groupbyCols("o_orderstatus")
      .reduce(
        "approx_cust" -> Reducers.countDistinctApprox(col("o_custkey"), rsd),
        "exact_cust"  -> Reducers.countDistinct_(col("o_custkey")))
      .toDf
      .select(col("o_orderstatus"), col("exact_cust"),
        (abs(col("approx_cust") - col("exact_cust")) / col("exact_cust") <= lit(3 * rsd))
          .as("within_tol"))
  }

  // ───────────────────────────────────────────────────────────────────────────
  //  Expression namespaces (SURVEY §2.3) — rowwise goldens over real tables
  // ───────────────────────────────────────────────────────────────────────────

  private def qExprStr(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      "p_partkey" -> col("p_partkey"),
      "up" -> col("p_type").str.upper,
      "lo" -> col("p_type").str.lower,
      "len" -> col("p_type").str.len,
      "rev" -> col("p_type").str.reversed,
      "strip" -> col("p_brand").str.strip,
      "starts" -> col("p_type").str.startswith(lit("PROMO")),
      "ends" -> col("p_type").str.endswith(lit("STEEL")),
      "n_spaces" -> col("p_type").str.count(lit(" ")),
      "pos" -> col("p_type").str.find(lit("BRUSHED")),
      "noprefix" -> col("p_type").str.removeprefix(lit("STANDARD ")),
      "repl" -> col("p_type").str.replaceAll(lit(" "), lit("_")),
      "sliced" -> col("p_type").str.slice(0, 5)).toDf

  private def qExprDt(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      "o_orderkey" -> col("o_orderkey"),
      "y" -> col("o_orderdate").dt.year,
      "m" -> col("o_orderdate").dt.month,
      "d" -> col("o_orderdate").dt.day,
      "wd" -> col("o_orderdate").dt.weekday,
      "ym" -> col("o_orderdate").dt.strftime("%Y-%m"),
      "iso" -> col("o_orderdate").dt.strftime("%G-W%V-%u"),
      "rt" -> col("o_orderdate").dt.strftime("%Y-%m-%d %H:%M:%S")
        .dt.strptime("%Y-%m-%d %H:%M:%S"),
      "mon_start" -> col("o_orderdate").dt.floorTo("month"),
      "epoch_s" -> col("o_orderdate").dt.timestampSec).toDf

  /** python-semantics string kernels (r16 decode of tests/expressions/
    * test_string.py): slice-bounded count/find/rfind, char-set strip, and
    * the trim+guard parse family — each with a DuckDB replica oracle. */
  private def qExprStrPy(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      "p_partkey" -> col("p_partkey"),
      "f_bounded" -> col("p_type").str.find(lit("ED"), lit(2)),
      "rf" -> col("p_type").str.rfind(lit("ED")),
      "cnt_sliced" -> col("p_type").str.count(lit("ED"), lit(1), lit(15)),
      "strip_set" -> col("p_type").str.strip("SDN"),
      "pi" -> concat(lit(" "), col("p_size").cast("string"), lit(" ")).str.parseInt,
      "pf" -> col("p_retailprice").cast("string").str.parseFloat,
      "pb" -> when(col("p_size") % 2 === 0, lit("yes")).otherwise(lit("nope")).str.parseBool)
      .toDf

  private def qExprDtRound(s: SparkSession, dir: String): DataFrame = {
    // events.ts arrives as Long ns (parquet TIMESTAMP(NANOS) via nanosAsLong);
    // integer `div` — double division would corrupt epochs beyond 2^53 ns
    val t = timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
    Tables.events(s, dir).select(
      "event_id" -> col("event_id"),
      "t" -> t,
      "floor_h" -> t.dt.floorToNs(Exprs.Duration.hours(1)),
      "round_h" -> t.dt.roundToNs(Exprs.Duration.hours(1))).toDf
  }

  private def qExprNum(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      "l_orderkey" -> col("l_orderkey"),
      "l_linenumber" -> col("l_linenumber"),
      "qabs" -> (col("l_quantity") - 25.0).num.abs,
      "q_div" -> col("l_quantity").cast("long").floorDiv(lit(7)),
      "q_mod" -> col("l_quantity").cast("long").pyMod(lit(7)),
      "q_pow" -> (col("l_quantity") ** lit(2)),
      "disc_round" -> col("l_discount").num.round(1)).toDf

  private def qExprJson(s: SparkSession, dir: String): DataFrame = {
    // r16: strict VARIANT path (Exprs.PwJson — serde_json-faithful as_*);
    // missing key = SQL null, json text of a present value round-trips
    val v = Exprs.PwJson.parse(col("props"))
    Tables.events(s, dir).select(
      "event_id" -> col("event_id"),
      "k" -> Exprs.PwJson.asInt(Exprs.PwJson.item(v, "k")),
      "k_f" -> Exprs.PwJson.asFloat(Exprs.PwJson.item(v, "k")),
      "missing" -> to_json(Exprs.PwJson.getField(v, "nope"))).toDf
  }

  private def qExprCond(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir); val o = Tables.orders(s, dir)
    c.join(o, col("l.c_custkey") === col("r.o_custkey"), "left")
      .select(
        "c_custkey" -> col("l.c_custkey"),
        "o_orderkey" -> col("r.o_orderkey"),
        "okey_filled" -> Exprs.fillError(col("r.o_orderkey"), lit(-1L)),
        "tier" -> Exprs.ifElse(col("l.c_acctbal") > 5000, lit("gold"),
          Exprs.ifElse(col("l.c_acctbal") > 0, lit("silver"), lit("none"))),
        "req" -> Exprs.require(col("l.c_acctbal"), col("r.o_orderkey")))
      .toDf
  }

  /** pathway sequence get (r16 decode): 0-based indices, negative wraps
    * once, checked get → default on overflow. DuckDB's list indexing is
    * 1-based with negative-from-end, hence the shifted oracle indices. */
  private def qExprTuple(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      "p_partkey" -> col("p_partkey"),
      "first_tok" -> Exprs.seqGet(col("p_type").str.splitBy(" "), lit(0)),
      "third_tok" -> Exprs.seqGetChecked(col("p_type").str.splitBy(" "), lit(2), lit(null)),
      "last_tok" -> Exprs.seqGet(col("p_type").str.splitBy(" "), lit(-1)),
      "pair_second" -> Exprs.makeTuple(col("p_brand"), col("p_type")).getField("p_type")).toDf

  private def qCastRename(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .castToTypes("l_quantity" -> org.apache.spark.sql.types.LongType)
      .rename("l_quantity" -> "qty_int")
      .without("l_tax")
      .select("l_orderkey" -> col("l_orderkey"), "l_linenumber" -> col("l_linenumber"),
        "qty_int" -> col("qty_int"))
      .toDf

  // ───────────────────────────────────────────────────────────────────────────
  //  Temporal operators (SURVEY §2.2) over the events table
  // ───────────────────────────────────────────────────────────────────────────

  /** events with ts_t = TIMESTAMP_NTZ event time (ns long → µs). */
  private def eventsT(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).df.withColumn("ts_t", Temporal.nsToTs(col("ts")))

  private val H1 = Exprs.Duration.hours(1)
  private val M15 = Exprs.Duration.minutes(15)
  private val M30 = Exprs.Duration.minutes(30)
  private val M10 = Exprs.Duration.minutes(10)

  private def qWindowTumbling(s: SparkSession, dir: String): DataFrame =
    Temporal.tumble(eventsT(s, dir), col("ts_t"), H1)
      .groupBy(col("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

  private def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    Temporal.slide(eventsT(s, dir), col("ts_t"), H1, M15)
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n"))

  private def qWindowSession(s: SparkSession, dir: String): DataFrame =
    Temporal.sessionize(eventsT(s, dir), col("ts_t"), M30, Seq(col("user_id")))
      .groupBy(col("user_id"), col("_sid"))
      .agg(count(lit(1)).as("n"), min(col("ts_t")).as("s_start"), max(col("ts_t")).as("s_end"))
      .drop("_sid")

  /** common_behavior(delay, cutoff, keep_results) decode
    * (tests/temporal/test_windows_stream.py, SEMANTICS row 49): per-window
    * freeze at `w_end + cutoff ≤ running-max frontier` plus the
    * keep_results=false cleanup flag, over a deterministically scrambled
    * arrival order ((event_id % 97)-interleaved — the batch analog of the
    * fixture's second late pass over the time cycle). Sliding 12h/6h,
    * delay 3h, cutoff 12h, µs grid. */
  private def qWindowBehavior(s: SparkSession, dir: String): DataFrame = {
    val us = 1000000L
    val e = Tables.events(s, dir).df.select(
      ((col("event_id") % 97) * lit(1000000000000L) + col("event_id")).as("arrival"),
      expr("ts div 1000").as("t"), col("value"))
    Temporal.windowBehaviorSurvival(e, col("t"), col("arrival"),
        dur = 12L * 3600 * us, hop = 6L * 3600 * us,
        delay = 3L * 3600 * us, cutoff = 12L * 3600 * us)(
      count(lit(1)).as("n_rows"), max(col("t")).as("max_time"),
      max(col("value")).as("max_value"))
  }

  private def qIntervalsOver(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val at = e.filter(col("event_type") === "error")
      .select(col("event_id").as("at_id"), col("user_id").as("at_user"), col("ts_t").as("at_t"))
    Temporal.intervalsOver(at, e, col("at_t"), col("ts_t"),
        -M10, 0L, col("at_user") === col("user_id"))
      .groupBy(col("at_id"))
      .agg(count(col("event_id")).as("n"), dsum(col("value")).as("sum_value"))
  }

  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts_t").as("r_t"))
    Temporal.intervalJoin(clicks, purchases, col("l_t"), col("r_t"),
        0L, M10, col("l_user") === col("r_user"), "inner")
      .select(col("l_id"), col("r_id"))
  }

  private def qIntervalJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts_t").as("r_t"))
    Temporal.intervalJoin(clicks, purchases, col("l_t"), col("r_t"),
        0L, M10, col("l_user") === col("r_user"), "left")
      .select(col("l_id"), col("r_id"))
  }

  private def qIntervalJoinRight(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts_t").as("r_t"))
    Temporal.intervalJoin(clicks, purchases, col("l_t"), col("r_t"),
        0L, M10, col("l_user") === col("r_user"), "right")
      .select(col("l_id"), col("r_id"))
  }

  private def qIntervalJoinFull(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts_t").as("r_t"))
    Temporal.intervalJoin(clicks, purchases, col("l_t"), col("r_t"),
        0L, M10, col("l_user") === col("r_user"), "full")
      .select(col("l_id"), col("r_id"))
  }

  private def qEmbedKnn(s: SparkSession, dir: String): DataFrame = {
    // xpack pipeline: embed documents (partition-batched fake endpoint) → self-KNN
    val emb = graft.operators.Embedders.embed(
      docs(s, dir).select("doc_id", "text"), "text", dim = 32)
    val q = emb.filter(col("doc_id") < 5)
    Similarity.bruteForceKnn(q, col("doc_id"), col("embedding"),
      emb, col("doc_id"), col("embedding"), k = 3)
  }

  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = eventsT(s, dir)
    val l = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t"))
    val r = e.filter(col("event_type") === "click")
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts_t").as("r_t"), col("value").as("r_value"))
    (l, r)
  }

  private def qAsofBackward(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = asofSides(s, dir)
    Temporal.asofJoin(l, r, col("l_t"), col("r_t"), col("l_user"), col("r_user"),
        Seq("r_id" -> col("r_id"), "r_value" -> col("r_value")), "backward", "left")
      .select(col("l_id"), col("r_id"), col("r_value"))
  }

  private def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = asofSides(s, dir)
    Temporal.asofJoin(l, r, col("l_t"), col("r_t"), col("l_user"), col("r_user"),
        Seq("r_id" -> col("r_id")), "forward", "inner")
      .select(col("l_id"), col("r_id"))
  }

  /** asof_join how=FULL over the events log (reference JoinMode.OUTER,
    * tests/temporal/test_asof_joins.py test_asof_full): one row per
    * purchase (side=false, paired with the strictly-earlier click — the
    * reference's merged order puts lefts before rights at an exact tie)
    * and one per click (side=true, paired with the latest purchase at or
    * before it, tie inclusive). */
  private def qAsofFull(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = asofSides(s, dir)
    Temporal.asofJoinFull(l, r, col("l_t"), col("r_t"), col("l_user"),
        col("r_user"), Seq("l_id" -> col("l_id")), Seq("r_id" -> col("r_id")))
      .select(col("side"),
        when(col("side"), col("r_id")).otherwise(col("l_id")).as("id"),
        when(col("side"), col("l_id")).otherwise(col("r_id")).as("peer"))
  }

  private def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = asofSides(s, dir)
    Temporal.asofNearest(l, r, "l_t", "r_t", "l_user", "r_user",
        Seq("r_id" -> col("r_id")))
      .select(col("l_id"), col("r_id"))
  }

  private def qWindowJoin(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksViews(s, dir)
    Temporal.windowJoin(clicks, views, col("l_t"), col("r_t"), H1,
        col("l_user") === col("r_user"), "inner")
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def clicksViews(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = eventsT(s, dir)
    (e.filter(col("event_type") === "click")
       .select(col("event_id").as("l_id"), col("user_id").as("l_user"), col("ts_t").as("l_t")),
     e.filter(col("event_type") === "view")
       .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts_t").as("r_t")))
  }

  /** window_join over SLIDING windows (reference window_join with
    * pw.temporal.sliding; fixture-pinned in TemporalFixtureSpec): every
    * click×view pair per user counted once per shared 1h window on a 30m
    * hop — each row lands in exactly 2 windows. */
  private def qWindowJoinSliding(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksViews(s, dir)
    Temporal.slidingWindowJoin(clicks, views, col("l_t"), col("r_t"), H1, M30,
        col("l_user") === col("r_user"), "inner")
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** window_join over SESSION windows (reference _window.py:186; sessions
    * computed over the UNION of both sides per user, strict 30m gap). */
  private def qWindowJoinSession(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksViews(s, dir)
    Temporal.sessionWindowJoin(clicks, views, col("l_t"), col("r_t"), M30,
        col("l_user"), col("r_user"),
        Seq("l_id" -> col("l_id")), Seq("r_id" -> col("r_id")), "inner")
      .groupBy(col("_k").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** intervals_over(is_outer=false): probes with an empty window are
    * OMITTED (reference default keeps them — the `intervals_over` row). */
  private def qIntervalsOverInner(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
    val at = e.filter(col("event_type") === "error")
      .select(col("event_id").as("at_id"), col("user_id").as("at_user"), col("ts_t").as("at_t"))
    Temporal.intervalsOver(at, e, col("at_t"), col("ts_t"),
        -M10, 0L, col("at_user") === col("user_id"), isOuter = false)
      .groupBy(col("at_id"))
      .agg(count(col("event_id")).as("n"), dsum(col("value")).as("sum_value"))
  }

  private def qInterpolate(s: SparkSession, dir: String): DataFrame = {
    val e = eventsT(s, dir)
      .withColumn("v", when(col("event_type") === "view", col("value")))
    e.withColumn("v_interp",
        Temporal.interpolate(col("ts_t"), col("v"), Seq(col("user_id"))))
      .select(col("event_id"), col("v_interp"))
  }

  /** Input-synchronization-group batch analog (reference
    * io/_synchronization.py:59): events split into two "sources" — even
    * ids (full range) and odd ids truncated at the 80% point of the time
    * span (a source whose feed stopped early). The aligned cut holds the
    * fast source back to the slow source's max-ts frontier + 1 h, so the
    * late tail of the even source is genuinely dropped. */
  private def qSyncGroupCut(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).df.select("event_id", "ts")
    val a = e.filter(pmod(col("event_id"), lit(2)) === 0)
    // integer 80%-span cutoff (`div` = exact integer division, matching
    // DuckDB's `//` — float division would round differently on ns values)
    val cut = e.agg(min(col("ts")).as("_mn"), max(col("ts")).as("_mx"))
      .selectExpr("_mn + (_mx - _mn) * 4 div 5 AS _cut")
    val b = e.filter(pmod(col("event_id"), lit(2)) === 1)
      .crossJoin(broadcast(cut)).filter(col("ts") <= col("_cut")).drop("_cut")
    graft.sources.InputSynchronization.alignedCut(
        Seq("even" -> a, "odd" -> b), "ts", 3600L * 1000000000L)
      .select(col("source"), col("event_id"), col("ts"))
  }

  /** Batch analog of `inactivity_detection` (reference
    * stdlib/temporal/time_utils.py:72): per-user gaps > 2 h in the events
    * log, open periods cut at the global frontier. */
  private def qInactivityDetect(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Inactivity.inactivityPeriodsBatch(
      Tables.events(s, dir).df, col("ts"), 2L * 3600L * 1000000000L, col("user_id"))

  /** The STREAMING inactivity kernel replayed deterministically over the
    * same log (event-time micro-batches through the real
    * flatMapGroupsWithState path, frontier probe closes the tail) — this
    * row pins stream ≡ batch against the SAME oracle as
    * [[qInactivityDetect]]. */
  private def qInactivityStreamReplay(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Inactivity.inactivityDetectionReplay(
      Tables.events(s, dir).df, col("ts"), col("user_id"),
      allowedTicks = 2L * 3600L * 1000000000L,
      batchTicks = 0L) // auto: ~8 event-time chunks

  /** The STREAMING input-synchronization group replayed to its
    * deterministic fixed point: two [[graft.sources.SyncedReplaySource]]
    * members over derived feeds — `a` the full 500-doc feed, `b` the same
    * feed truncated at rank 400 (a source that stopped early) — run as
    * REAL micro-batch streams until stable. With dense rank-valued sync
    * columns the pending-anticipating window can never overshoot, so the
    * terminal admitted set is exactly the batch analog's aligned cut:
    * F = min of member maxes (399), every member admits sync ≤ F +
    * maxDifference (449) — `b` drains fully, `a` provably stalls there
    * (its window is pinned to the drained member's trusted frontier, 399,
    * since a drained member reports no pending head). Stream ≡ batch,
    * pinned against the alignedCut oracle formula. */
  private def qSyncGroupStream(s: SparkSession, dir: String): DataFrame = {
    val grp = s"board_sync_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = java.nio.file.Files.createTempDirectory("graft-sync-board").toString
    val d = docs(s, dir).select("doc_id").orderBy("doc_id").limit(500)
      .withColumn("t", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")).cast("long") - 1)
    // JSON-lines spools in the PRODUCTION source shape (r15: the board row
    // runs on the non-collected SyncedSpoolSource; the driver-resident
    // SyncedReplaySource is @deprecated demo surface). repartitionByRange
    // makes part-file name order == sync order, the spool contract —
    // 25-row files, so whole-FILE admission reaches the same fixed point.
    d.repartitionByRange(20, col("t")).sortWithinPartitions("t")
      .write.mode("overwrite").json(s"$tmp/a")
    d.filter(col("t") < 400).repartitionByRange(16, col("t")).sortWithinPartitions("t")
      .write.mode("overwrite").json(s"$tmp/b")
    def start(member: String, filesPerBatch: Int) = s.readStream
      .format("graft.sources.SyncedSpoolSource")
      .option("path", s"$tmp/$member")
      .option("syncCol", "t")
      .option("filesPerBatch", filesPerBatch.toString)
      .option("group", grp).option("member", member)
      .option("maxDifference", "50").option("groupSize", "2")
      .load()
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, t LONG")).as("j"))
      .select(col("j.doc_id").as("doc_id"), col("j.t").as("t"))
      .writeStream.format("memory").queryName(s"${grp}_$member")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(5))
      .start()
    // file batch sizes chosen so the fixed point needs ~5 admission rounds
    // (b: 16 files / 4 per batch; a skewed 3× faster, provably throttled
    // at the cut) — each round is a full micro-batch, so this is the board
    // row's wall-clock floor; SyncGroupSpec exercises fine-grained pacing
    val qa = start("a", 12)
    val qb = start("b", 4)
    try {
      // fixed point: a admits exactly the files with max(t) <= 399 + 50
      // (18 of 20 -> 450 rows), b drains its 400 rows.
      // Wait on SINK row counts (not frontiers) so in-flight batches are
      // fully written before collecting. processAllAvailable would hang
      // here by design: a's source still reports 50 admissible-never rows.
      val deadline = System.currentTimeMillis() + 120000
      def cnt(m: String) = s.table(s"${grp}_$m").count()
      while (System.currentTimeMillis() < deadline &&
        !(cnt("a") == 450L && cnt("b") == 400L)) Thread.sleep(50)
      // fail loudly rather than collect a partial sink: a deadline
      // fall-through would surface as a baffling oracle row-diff
      val (ca, cb) = (cnt("a"), cnt("b"))
      Predef.require(ca == 450L && cb == 400L, // graft Exprs.require shadows
        s"sync-group fixed point not reached in 120s: a=$ca/450 b=$cb/400")
      val u = s.table(s"${grp}_a").select(lit("a").as("source"), col("doc_id"), col("t"))
        .unionByName(s.table(s"${grp}_b").select(lit("b").as("source"), col("doc_id"), col("t")))
      val rows = u.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), u.schema)
    } finally {
      try qa.stop() finally try qb.stop() finally {
        graft.sources.InputSynchronization.reset(grp)
        // memory sinks pin their rows in the driver for the session's
        // lifetime; the spool parquet is run-local scratch
        s.catalog.dropTempView(s"${grp}_a"); s.catalog.dropTempView(s"${grp}_b")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
  }

  // ───────────────────────────────────────────────────────────────────────────
  //  LLM-pipeline operators: text analysis, dedup, similarity, multimodal
  // ───────────────────────────────────────────────────────────────────────────

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).toDf

  /** DocParse over per-format wrappers of the documents table, synthesized
    * deterministically (doc_id mod 3 → html with entities + script/style +
    * title, markdown with YAML front matter + heading, plain) so sniffing,
    * tag/script stripping, entity decode, and title extraction are all
    * oracle-checked on every row. */
  private def qDocParse(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val idS = col("doc_id").cast("string")
    val html = concat(lit("<html><head><title>Doc "), idS,
      lit("</title><style>p{color:red}</style></head><body><h1>Doc "), idS,
      lit("</h1><p>intro &amp; overview &lt;draft&gt;</p><script>var x = 1;</script><p>"),
      col("text"), lit("</p></body></html>"))
    val md = concat(lit("---\ntitle: Doc "), idS, lit("\nlang: en\n---\n# Doc "),
      idS, lit("\n\n"), col("text"))
    val content = when(col("doc_id") % 3 === 0, html)
      .when(col("doc_id") % 3 === 1, md)
      .otherwise(col("text"))
    DocParse.parseDocs(d.select(col("doc_id"), content.as("content")),
      col("doc_id"), col("content"))
  }

  /** Deterministic train/val/test split by cross-engine doc_id hash. */
  private def qSplitTrainTest(s: SparkSession, dir: String): DataFrame =
    TrainPrep.splitByHash(docs(s, dir).select(col("doc_id")), col("doc_id"))

  /** Concat-then-chunk sequence packing into 2048-token windows, sharded by
    * lang (never a single global window). */
  private def qDocPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.wordCount(col("text")).as("_nt"))
    TrainPrep.packSequences(d, col("lang"), col("doc_id"), col("_nt"), budget = 2048)
      .select(col("doc_id"), col("lang"), col("pack_id"), col("offset_in_pack"), col("n_tokens"))
  }

  /** Materialized fixed-length context windows (packTokenWindows — the
    * trainer-facing twin of packSequences): md5-hashed whitespace-token ids
    * laid end-to-end per doc_id%4 shard and cut into exact 512-id windows.
    * The window CONTENTS are compared (ids comma-joined — the
    * sorted_tuple string-agg idiom), so straddling, ordering, and the
    * final partial window are all pinned. */
  private def qPackTokenWindows(s: SparkSession, dir: String): DataFrame = {
    val tids = transform(TrainPrep.whitespaceTokens(col("text")),
      t => graft.functions.CrossHash.md5Long(t))
    val prepared = docs(s, dir).select(col("doc_id"),
      (col("doc_id") % 4).as("_shard"), tids.as("_tids"))
    TrainPrep.packTokenWindows(prepared, instance = col("_shard"),
      order = col("doc_id"), tokenIds = col("_tids"), budget = 512)
      .select(col("instance").cast("long").as("instance"), col("pack_id"),
        array_join(transform(col("token_ids"), t => t.cast("string")), ",")
          .as("token_str"),
        col("n"))
  }

  /** PII redaction + audit counts. The fixture corpus is synthetic/clean, so
    * deterministic PII is planted on every 7th doc before redacting. */
  private def qTextPii(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555 123-4567")))
          .otherwise(lit(""))).as("_t"))
    val (red, emails, phones) = TrainPrep.piiRedact(col("_t"))
    planted.select(col("doc_id"), red.as("text_redacted"),
      emails.as("n_emails"), phones.as("n_phones"))
  }

  private def qTextTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.wordCount(col("text")).as("n_words"),
      TextOps.charCount(col("text")).as("n_chars_m"))

  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.alphaRatio(col("text")).as("alpha_ratio"),
      TextOps.punctRatio(col("text")).as("punct_ratio"),
      TextOps.stopwordRatio(col("text")).as("stop_ratio"),
      TextOps.meanWordLen(col("text")).as("mean_wlen"),
      TextOps.qualityScore(col("text")).as("quality"))

  private def qTextGopher(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherStats(docs(s, dir).select("doc_id", "text"), col("text"))
      .select(("doc_id" +: TextOps.gopherStatNames).map(col): _*)

  private def qTextC4(s: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus is single-line and unpunctuated (every line would
    // drop), so build a 4-line page per doc — one keepable sentence, a
    // no-punctuation line, a too-short line, and a lorem-flagged tail on
    // every 7th doc — the same construction the DuckDB oracle replays
    val page = concat_ws("\n",
      concat(substring(col("text"), 1, 80), lit(".")),
      lit("no punct line"),
      lit("ok?"),
      when(col("doc_id") % 7 === 0, lit("lorem ipsum here."))
        .otherwise(lit("tail line ends well.")))
    docs(s, dir).select(col("doc_id") +:
      TextOps.c4Stats(page).map { case (n, c) => c.as(n) }: _*)
  }

  /** Corpus-level boilerplate removal over constructed 5-line pages: two
    * lines planted on EVERY page (cookie banner, rights footer), one on
    * every 3rd page (newsletter), and per-doc unique text slices — the
    * repeated lines must vanish from every document, the unique ones
    * survive in order. */
  private def qTextBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val page = concat_ws("\n",
      lit("cookie notice accept all cookies"),
      substring(col("text"), 1, 60),
      when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today"))
        .otherwise(substring(col("text"), 61, 60)),
      substring(col("text"), 121, 60),
      lit("all rights reserved"))
    TextOps.removeBoilerplate(
      docs(s, dir).select(col("doc_id"), page.as("text")),
      col("doc_id"), col("text"), maxRepeat = 2)
      .withColumnRenamed("id", "doc_id")
  }

  private def qTextLmScore(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramLmScore(docs(s, dir).select("doc_id", "text"),
        col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")

  private def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    // corpus-trained merges (vocabulary-bounded trainer), then one encode pass
    val merges = graft.operators.Bpe.train(d, col("text"), nMerges = 120)
    val enc = graft.operators.Bpe.encode(d, col("doc_id"), col("text"), merges)
      .select(col("id").as("doc_id"), col("n_tokens"), col("roundtrip_ok"))
    // BPE token sequences aren't SQL-expressible, so assert the tokenizer's
    // contracts AS DATA (the reduce_approx_distinct pattern): round-trip
    // exactness (decode∘encode = normalized text) and the count bounds
    // n_words ≤ n_tokens ≤ n_word_chars, next to exact counts both engines
    // compute from the raw text.
    val norm = trim(lower(col("text")))
    val stats = d.select(col("doc_id"),
      size(filter(split(norm, "\\s+"), w => w =!= "")).cast("long").as("n_words"),
      length(regexp_replace(norm, "\\s+", "")).cast("long").as("n_word_chars"))
    stats.join(enc, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_word_chars"),
        col("roundtrip_ok"),
        (col("n_tokens") >= col("n_words") && col("n_tokens") <= col("n_word_chars"))
          .as("tokens_in_bounds"))
  }

  /** RefinedWeb-style URL hygiene over constructed-per-doc URLs: blocked
    * domains via doc_id % 11 and the src3 source, banned path words via
    * % 7 / % 13 — a healthy mix of clean and dropped rows. */
  private def qTextUrlFilter(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"),
      when(col("doc_id") % 11 === 0, lit("ads.spamzone.net"))
        .otherwise(concat(col("source"), lit(".example.com"))),
      lit("/"),
      when(col("doc_id") % 7 === 0, lit("casino-royale/")).otherwise(lit("docs/")),
      when(col("doc_id") % 13 === 0, lit("free-download/coupon-")).otherwise(lit("page-")),
      col("doc_id").cast("string"))
    val stats = TextOps.urlStats(col("url"),
      blockedDomains = Seq("spamzone.net", "src3.example.com"))
    docs(s, dir).select(col("doc_id"), col("source"))
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id") +: col("url") +:
        stats.map { case (n, c) => c.as(n) }: _*)
  }

  /** Trained linear quality classifier (batch perceptron, all-integer):
    * label = n_chars ≥ 306 (the corpus median), hashed bag-of-words dim 32,
    * 3 passes — training AND scoring replayed exactly by the oracle. */
  private def qPerceptronQuality(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinearModel.perceptronClassify(
        docs(s, dir), col("doc_id"), col("text"),
        when(col("n_chars") >= 306, 1L).otherwise(-1L), dim = 32, iters = 3)
      .withColumnRenamed("id", "doc_id")

  private def qTextLangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))

  private def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))

  private def qDocSplit(s: SparkSession, dir: String): DataFrame =
    TextOps.splitIntoChunks(docs(s, dir).select("doc_id", "text"), col("text"), 50, 10)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("n_chunk_tokens"))

  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val copies = d.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    Dedup.exact(d.unionByName(copies), col("doc_id"), col("text"))
  }

  private def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // materialize the shingled projection (kernel form — the HOF chain is
    // interpreted): without the checkpoint BOTH join sides re-run the
    // shingling over the full corpus
    val d = Materialize.eager(Dedup.shingleSets(docs(s, dir), col("doc_id"), col("text"), 3)
      .withColumnRenamed("id", "doc_id"))
    val l = d.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val r = d.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    l.join(r, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"), Dedup.jaccard(col("sh1"), col("sh2")).as("jac"))
  }

  /** Planted near-duplicates: first 50 docs re-appear (id+20000) with one extra
    * token appended — the LSH pipeline must link each copy to its original. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val nearDups = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 20000).as("doc_id"), concat(col("text"), lit(" extra")).as("text"))
    d.unionByName(nearDups)
  }

  /** Chain-planted near-duplicates (OracleSqlGen.plantedChain twin): first 50
    * docs re-appear twice — once with a 96-char md5-derived tail (id+20000)
    * and once with that tail plus 96 more chars (id+40000). md5 hex blocks
    * maximize shingle diversity (a repeated literal would add O(1) distinct
    * shingles regardless of length). For near-average-length docs (~300
    * chars) the jaccard ladder lands a~b ≈ 0.76, b~c ≈ 0.80, a~c ≈ 0.61 —
    * above, above, BELOW the 0.7 threshold — so the triple groups only via
    * transitive closure, the case dedupGroups exists for. */
  private def plantedChainDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    def tail(parts: String*) =
      concat(parts.map(p => md5(concat(col("doc_id").cast("string"), lit(p)))): _*)
    val gen1 = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" "), tail("a1", "a2", "a3")).as("text"))
    val gen2 = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat(col("text"), lit(" "), tail("a1", "a2", "a3", "b1", "b2", "b3")).as("text"))
    d.unionByName(gen1).unionByName(gen2)
  }

  private def qDedupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupGroups(plantedChainDocs(s, dir), col("doc_id"), col("text"),
      k = 5, numHashes = 32, bands = 8, threshold = 0.7)

  /** 8 bands × 4 rows (32 hashes): planted dups sit at jaccard ≈ 0.95, so a
    * band matches with p ≈ 0.95⁴ ≈ 0.81 and all 8 miss with p ≈ 2e-6 —
    * near-perfect recall at half the aggregate fan-out of the 64-hash config
    * (the whole bench's biggest line in r2). Band width 4 admits more noise
    * candidates than 8, but the exact-jaccard verify gates them. */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(plantedDocs(s, dir), col("doc_id"), col("text"),
      k = 5, numHashes = 32, bands = 8, threshold = 0.7)

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(plantedDocs(s, dir), col("doc_id"), col("text"),
      maxDist = 3, bands = 4)

  /** Substring-level duplication signal with 8-token windows: the 50 planted
    * near-dup pairs share essentially all their windows (only the appended
    * tail differs); unplanted docs show ~no dup windows at vocab^8 odds. */
  private def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    TrainPrep.duplicateSpans(plantedDocs(s, dir), col("doc_id"), col("text"), k = 8)

  /** Decontamination: docs 0-49 are the "benchmark"; the corpus (plantedDocs)
    * contains them verbatim AND as near-dup copies (id+20000) — both must be
    * flagged via shared 8-token windows. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val eval = docs(s, dir).filter(col("doc_id") < 50)
    TrainPrep.decontaminate(plantedDocs(s, dir), col("doc_id"), col("text"),
      eval, col("doc_id"), col("text"), k = 8)
  }

  /** Graded (fuzzy) decontamination: window-hash-set Jaccard per candidate
    * (doc, eval) pair. The planted near-dups of eval docs score near 1;
    * organic partial overlaps grade lower. */
  private def qDecontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val eval = docs(s, dir).filter(col("doc_id") < 50)
    TrainPrep.decontaminateFuzzy(plantedDocs(s, dir), col("doc_id"), col("text"),
      eval, col("doc_id"), col("text"), k = 8, threshold = 0.5)
  }

  /** Deterministic quality-weighted sampling: keep each doc with probability
    * = its quality score, decided by cross-engine md5(doc_id). */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"))
    TrainPrep.sampleByWeight(d, col("doc_id"), col("quality"))
  }

  /** Deterministic stratified sampling toward a target per-source mixture
    * (data mixing): named sources keep at their listed rate, everything else
    * at the 0.1 default. */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("src1", 0.9), ("src2", 0.5), ("src3", 0.25))
      .toDF("source", "p")
    TrainPrep.sampleStratified(docs(s, dir).select("doc_id", "source"),
      col("doc_id"), col("source"), rates, defaultP = 0.1)
  }

  /** Deterministic per-source document cap (corpus-mixture budget): each
    * source keeps at most 10 docs, selected in md5(doc_id) order. */
  private def qSampleGroupCap(s: SparkSession, dir: String): DataFrame =
    TrainPrep.capPerGroup(docs(s, dir).select("doc_id", "source"),
      col("doc_id"), col("source"), n = 10)

  /** The same cap FORCED onto the hot-group threshold-selection plan
    * (tiny hotThreshold: every source runs the full two-level histogram
    * boundary refinement at sf0.01). Selection is bit-identical to
    * [[qSampleGroupCap]] by construction — this row pins that claim with
    * the SAME oracle SQL, so the scale-safe plan shape carries its own
    * correctness row. */
  private def qSampleGroupCapHot(s: SparkSession, dir: String): DataFrame =
    TrainPrep.capPerGroup(docs(s, dir).select("doc_id", "source"),
      col("doc_id"), col("source"), n = 10, hotThreshold = 20L)

  /** Best-member dedup representative: dup groups over the chain-planted
    * corpus, keeper = argmax quality score (ties → smaller id) — the
    * keep-the-clean-copy policy a real curation pipeline runs. */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val corpus = plantedChainDocs(s, dir)
    val groups = Dedup.dedupGroups(corpus, col("doc_id"), col("text"),
      k = 5, numHashes = 32, bands = 8, threshold = 0.7)
    val scores = corpus.select(col("doc_id").as("id"),
      TextOps.qualityScore(col("text")).as("score"))
    Dedup.keepBest(groups, scores)
  }

  /** The COMPOSED curation pipeline (pairs → groups → keepBest from ONE
    * minhash pass) as its own board row: dedup_groups and dedup_keep_best
    * measure the operators independently (each recomputing the signature
    * pipeline); this row measures the amortized composition the library
    * actually ships — warm time ≈ dedup_groups alone, pinned against a
    * composed oracle. */
  private def qDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val corpus = plantedChainDocs(s, dir)
    val scores = corpus.select(col("doc_id").as("id"),
      TextOps.qualityScore(col("text")).as("score"))
    Dedup.dedupPipeline(corpus, col("doc_id"), col("text"), scores,
      k = 5, numHashes = 32, bands = 8, threshold = 0.7)
  }

  private def qEmbCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val l = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
    val r = e.select(col("vec_id").as("id2"), col("embedding").as("v2"))
    l.join(r, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"), Similarity.cosine(col("v1"), col("v2")).as("score"))
  }

  private def qKnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Similarity.bruteForceKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5)
  }

  /** r16 decode of tests/ml/test_index.py (knnQuery): L2² metric, PER-QUERY
    * k (incl. k=0 → no rows), and a corpus metadata filter applied before
    * top-k. */
  private def qKnnL2K(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 4).as("k"))
    Similarity.knnQuery(q, col("vec_id"), col("embedding"), col("k"),
      e.filter(col("vec_id") >= 50), col("vec_id"), col("embedding"),
      corpusFilter = Some(col("label") % 2 === 0))
  }

  private def qKnnHnsw(s: SparkSession, dir: String): DataFrame = {
    // Deterministic construction (id-hash levels, hash-fixed shards, sorted
    // inserts) makes HNSW oracle-able at all: the output is a pure function
    // of the data. The generous beam (efSearch ≥ shard size at oracle SF)
    // makes the per-shard search exact, so the merged top-k equals brute
    // force row-for-row — realistic beams are recall-pinned in IterateSpec.
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Hnsw.knn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, dim = 64, efSearch = 512)
  }

  private def qKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Similarity.lshKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, dim = 64)
  }

  /** knn_lsh_classify (reference _knn_lsh.py:318): LSH kNN → neighbors'
    * labels → majority vote per query, deterministic (count DESC, label ASC)
    * tie-break. Labels here are the synthetic 3-class `vec_id % 3` so both
    * engines derive them from the same table. */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    val knn = Similarity.lshKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, dim = 64)
    val labels = e.select(col("vec_id"),
      (col("vec_id") % 3).cast("string").as("label"))
    Similarity.knnClassify(q, col("vec_id"), knn,
      labels, col("vec_id"), col("label"))
  }

  /** classifier_accuracy (reference ml/utils.py:13) over qKnnClassify's
    * prediction vs the same synthetic ground truth. */
  private def qClassifierAccuracy(s: SparkSession, dir: String): DataFrame = {
    val pred = qKnnClassify(s, dir)
    val truth = Tables.embeddings(s, dir).toDf
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), (col("vec_id") % 3).cast("string").as("label"))
    Utils.classifierAccuracy(pred, col("query_id"), col("predicted_label"),
      truth, col("vec_id"), col("label"))
  }

  private def qKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Similarity.ivfKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, nCells = 16, nProbe = 4)
  }

  /** PQ/ADC ANN (Jégou et al. 2011) — the compressed-code scan path for
    * corpora whose raw vectors don't fit the cluster's memory budget. */
  private def qKnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Similarity.pqKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, dim = 64, m = 4, ksub = 8)
  }

  /** IVFADC (Jégou et al. 2011 §IV-A): IVF coarse cells prune, ADC scores
    * only the candidates from packed PQ codes — the memory-bound 100 TB
    * composition (pqIndex + ivfCandidates + pqRerank). */
  private def qKnnIvfadc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val q = e.filter(col("vec_id") < 10)
    Similarity.ivfadcKnn(q, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5, dim = 64, m = 4, ksub = 8,
      nCells = 16, nProbe = 4)
  }

  /** LSH pre-clustering (reference _clustering_via_lsh.py): bucket → cluster
    * representatives (spherical k-means) → majority vote per point. */
  private def qClusteringLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    Clustering.viaLsh(e, col("vec_id"), col("embedding"),
      dim = 64, k = 3, nPlanes = 4, nTables = 4, lloydIters = 2)
  }

  /** Embedding-space diversity quota: SRP-LSH → k-means clusters, at most
    * 50 members kept per cluster by the deterministic hash-rank rule —
    * the coverage-preserving counterpart of semantic dedup. */
  private def qDiversitySample(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    TrainPrep.diversitySample(e, col("vec_id"), col("embedding"),
      dim = 64, k = 3, cap = 50)
  }

  /** SemDeDup over the embeddings table with planted exact copies
    * (vec_id+20000 for vec_id<50): cluster assignment bounds the candidate
    * joins, copies land is_dup=true with their original as rep. */
  private def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf.select(col("vec_id"), col("embedding"))
    val planted = e.unionByName(e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding")))
    Dedup.semantic(planted, col("vec_id"), col("embedding"), dim = 64, k = 3,
      threshold = 0.95, nPlanes = 4, nTables = 4, lloydIters = 2)
  }

  /** The composed selection+curation pipeline END-TO-END
    * (examples/TrainDataPipeline.selectAndCurate): DSIR top-K toward the
    * doc_id%7 target domain → strict mixture rates over doc_id%5 sources →
    * deterministic stratified sample → the full curate stack (PII redact,
    * lang/quality gate, exact + MinHash dedup, eval decontamination,
    * quality-weighted sampling, train split, sharded sequence packing).
    * Each stage is individually oracle-green; this row pins the
    * COMPOSITION's determinism — every decision is an integer/hash compare
    * or a pinned IEEE float chain, end to end. */
  private def qSelectAndCurate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select("doc_id", "text")
    val evalSet = d.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
    val mix = Seq((0L, 0.35), (1L, 0.25), (2L, 0.20), (3L, 0.15), (4L, 0.05))
      .toDF("src", "w")
    graft.examples.TrainDataPipeline.selectAndCurate(d, evalSet,
      target = d.filter(col("doc_id") % 7 === 0),
      source = col("doc_id") % 5, mix = mix, tokenBudget = 0.0,
      dsirBuckets = 8192, dsirTopK = Some(300), strictMix = true)
      .select(col("doc_id"), col("n_tokens"), col("pack_id"), col("offset_in_pack"))
  }

  /** DSIR data selection: raw = documents, target "domain" = doc_id%7==0;
    * top-100 raw docs by hashed-ngram log importance weight. Weights are
    * exact integers (micro-unit quantized log-ratios), so the rank order is
    * bit-stable on both engines. */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TrainPrep.dsirSelect(d, d.filter(col("doc_id") % 7 === 0),
      col("doc_id"), col("text"), buckets = 8192, k = 100)
  }

  /** Mixture planner: sources = doc_id%5, inventory = word counts, target
    * mix 35/25/20/15/5 at ≤2 epochs. Strict plan: T* = min cap/w — every
    * float op is an IEEE-exact /·* min floor chain, bit-identical in
    * DuckDB. */
  private def qMixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val targets = Seq((0L, 0.35), (1L, 0.25), (2L, 0.20), (3L, 0.15), (4L, 0.05))
      .toDF("src", "w")
    TrainPrep.mixturePlanStrict(docs(s, dir), col("doc_id") % 5,
      TrainPrep.whitespaceWordCount(col("text")),
      targets, maxEpochs = 2.0)
  }

  private def qRrfFusion(s: SparkSession, dir: String): DataFrame =
    Similarity.rrfFusion(Seq(qKnnBrute(s, dir), qKnnLsh(s, dir)), k0 = 60, topK = 5)

  /** Score rounded to 6 dp: DuckDB evaluates the mult/div chain with FMA-style
    * contraction, so the raw doubles differ by 1-2 ULP from any IEEE op order
    * Spark can express. BM25 magnitudes are O(0.1-10); 6 dp is far above ULP
    * noise and far below score resolution. */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25PerTerm(docs(s, dir), col("doc_id"), col("text"),
      Seq("data", "query", "window"))
      .withColumn("score", round(col("score"), 6))

  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq((1L, "data query window"), (2L, "spark join batch"),
      (3L, "hash table scan")).toDF("q_id", "q_text")
    TextOps.fuzzyJoin(docs(s, dir), col("doc_id"), col("text"),
      queries, col("q_id"), col("q_text"))
  }

  private def qRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq((0L, "data query window"), (1L, "spark join batch"),
      (2L, "hash table scan")).toDF("q_id", "q_text")
    // second-stage candidates: ~30 docs per query from a cheap routing key
    // (stands in for a first-stage retriever's output)
    val cands = docs(s, dir).filter(col("doc_id") < 90)
      .join(queries, col("doc_id") % 3 === col("q_id"))
    TextOps.rerankTopK(cands, col("q_id"), col("q_text"),
      col("doc_id"), col("text"), k = 5)
  }

  /** 2-D MatMul: reshape each embedding to 8×8, multiply by its transpose,
    * explode the Gram matrix — exact double folds, oracle-replayed. */
  private def qMatmul2d(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf.filter(col("vec_id") < 500)
    val m = Exprs.reshape(col("embedding"), 8, 8)
    val p = Exprs.matmul2d(m, Exprs.transpose2d(m))
    e.select(col("vec_id"), posexplode(p).as(Seq("i", "row")))
      .select(col("vec_id"), col("i"), posexplode(col("row")).as(Seq("j", "v")))
  }

  /** Distributed block matmul (Linalg scale path): A (64×64 from the first 64
    * embeddings) × B (64×64 from the next 64, transposed layout), entries
    * floor-quantized to integer-valued doubles so every partial-sum order —
    * Spark's block reduce and DuckDB's join-group-sum alike — is exact. */
  private def qMatmulBlock(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).toDf
    val a = e.filter(col("vec_id") < 64)
      .select(col("vec_id").as("i"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("i"), col("k").cast("long").as("k"),
        floor(col("x").cast("double") * 16).cast("double").as("v"))
    val b = e.filter(col("vec_id") >= 64 && col("vec_id") < 128)
      .select((col("vec_id") - 64).as("j"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("k").cast("long").as("k"), col("j"),
        floor(col("x").cast("double") * 16).cast("double").as("v"))
    graft.operators.Linalg.blockMatmul(a, b, blockSize = 16)
  }

  private def qDocStoreRetrieve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = graft.operators.DocumentStore.build(
      docs(s, dir), col("doc_id"), col("text"), chunkTokens = 50, overlap = 10, dim = 32)
    val queries = Seq((1L, "data query window"), (2L, "spark join batch"),
      (3L, "hash table scan")).toDF("qid", "qtext")
    graft.operators.DocumentStore.retrieve(store, queries, col("qid"), col("qtext"),
        k = 3, dim = 32)
      .select("query_id", "doc_id", "chunk_idx", "score", "rank")
  }

  /** Hybrid document store (reference HybridIndexFactory): vector KNN +
    * per-query-term BM25 over the same chunk store, fused by reciprocal
    * rank — the full two-retriever RAG path, DuckDB-replayed end to end. */
  private def qDocStoreHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = graft.operators.DocumentStore.build(
      docs(s, dir), col("doc_id"), col("text"), chunkTokens = 50, overlap = 10, dim = 32)
    val queries = Seq((1L, "data query window"), (2L, "spark join batch"),
      (3L, "hash table scan")).toDF("qid", "qtext")
    graft.operators.DocumentStore.retrieveHybrid(store, queries, col("qid"),
        col("qtext"), k = 3, dim = 32)
      .select("query_id", "doc_id", "chunk_idx", "rrf_score", "rank")
  }

  /** UdfChangelog storage policy (reference UDF-result store,
    * test_udf.py:1023/1813): a synthetic orders changelog — every key
    * inserts at t=1, keys %3==0 retract at t=2, keys %9==0 re-insert at
    * t=3 — through a PER-ARG INVOCATION COUNTER UDF (non-deterministic by
    * construction). The StoredTemporarily policy makes the output
    * deterministic anyway: retractions replay the stored value, re-inserts
    * compute fresh — which is exactly what the closed-form oracle checks. */
  private def qUdfChangelog(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(s, dir).toDf
      .select(col("o_orderkey").cast("long").as("k"))
    val ins = keys.select(col("k"), lit(1L).as("time"), lit(1).as("diff"))
    val del = keys.filter(col("k") % 3 === 0)
      .select(col("k"), lit(2L).as("time"), lit(-1).as("diff"))
    val re = keys.filter(col("k") % 9 === 0)
      .select(col("k"), lit(3L).as("time"), lit(1).as("diff"))
    // fresh per run: a per-TASK deserialized copy, so reruns (bench reps)
    // and task retries alike start from zero — deterministic under the policy
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    graft.operators.UdfChangelog(ins.unionByName(del).unionByName(re),
      "k", Seq("k"), "time", "diff",
      graft.operators.UdfChangelog.StoredTemporarily, "x",
      org.apache.spark.sql.types.LongType) { args =>
      val a = args.head.asInstanceOf[Long]
      10 * a + counts.merge(a, 1L, (x, y) => x + y)
    }
  }

  private def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.packAsMedia(docs(s, dir), col("doc_id"), col("text"), "text")
    Multimodal.byteFeatures(media).toDF()
      .select(col("media_id"), col("byte_len"), col("head_sum"), col("kind"))
  }

  /** REAL decode oracle: deterministic two-tone PNGs generated from doc_id
    * (left/right colors are closed-form functions of the id), decoded by
    * `Multimodal.decodeImages` — so dims, exact channel means, and the aHash
    * have closed-form DuckDB expectations. PNG is lossless; the 32×16 layout
    * puts the tone boundary exactly on the 8×8 aHash grid (left = grid cols
    * 0–3), making the hash one of three exact constants. */
  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (ra, ga, ba) = (((id * 37) % 256).toInt, ((id * 59) % 256).toInt,
            ((id * 83) % 256).toInt)
          val (rb, gb, bb) = (((id * 101 + 7) % 256).toInt, ((id * 131 + 11) % 256).toInt,
            ((id * 151 + 13) % 256).toInt)
          (id, Multimodal.twoTonePng(32, 16,
            (ra << 16) | (ga << 8) | ba, (rb << 16) | (gb << 8) | bb))
        }
      }.toDF("media_id", "blob")
    Multimodal.decodeImages(media).toDF()
      .select(col("media_id"), col("ok"), col("width"), col("height"),
        col("mean_r"), col("mean_g"), col("mean_b"), col("ahash"))
  }

  /** REAL audio-decode oracle: constant-amplitude 16-bit PCM WAVs generated
    * from doc_id (rate, length, amplitude all closed-form in the id; the
    * amplitude is a power of two so RMS = amp/32768 is an exact binary
    * fraction), decoded by `Multimodal.decodeAudio` via javax.sound. */
  private def qMultimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val sr = (8000 + (id % 4) * 4000).toInt
          val n = (100 + id % 50).toInt
          val amp = (1 << (9 + (id % 6)).toInt).toShort
          (id, Multimodal.pcmWav(sr, Array.fill(n)(amp)))
        }
      }.toDF("media_id", "blob")
    Multimodal.decodeAudio(media).toDF()
      .select(col("media_id"), col("ok"), col("sample_rate"), col("channels"),
        col("n_frames"), col("rms"))
  }

  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.packAsMedia(docs(s, dir), col("doc_id"), col("text"), "video")
    Multimodal.sampleFrames(media, stride = 4)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
  }

  /** REAL video decode end-to-end (r17): deterministic MJPEG-AVIs generated
    * per customer key — (key % 3 + 2) two-tone JPEG frames each — then
    * `decodeVideoFrames(stride = 2)`. Frame indices, dims and the ok flag
    * are closed-form for the oracle; the lossy JPEG payload itself is
    * asserted through the decoder (ok=true requires a successful ImageIO
    * read of every sampled frame). */
  private def qMultimodalVideo(s: SparkSession, dir: String): DataFrame = {
    val mkAvi = udf((id: Long) => {
      val n = (id % 3).toInt + 2
      val frames = (0 until n).map { i =>
        val img = new java.awt.image.BufferedImage(32, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 32) {
            img.setRGB(x, y, if (x < (i + 1) * 5) 0xffffff else 0x000000)
            x += 1
          }
          y += 1
        }
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", buf)
        buf.toByteArray
      }
      Multimodal.mjpegAvi(frames, 32, 16)
    })
    val media = Tables.customer(s, dir).toDf
      .select(col("c_custkey").cast("long").as("media_id"))
      .filter(col("media_id") <= 200)
      .withColumn("blob", mkAvi(col("media_id")))
    Multimodal.decodeVideoFrames(media, stride = 2)
      .select("media_id", "frame_idx", "ok", "width", "height")
  }

  // ───────────────────────────────────────────────────────────────────────────
  //  Iterate + graphs (SURVEY §2.1 iterate, §2.6 pagerank/bellman_ford)
  // ───────────────────────────────────────────────────────────────────────────

  /** 25-node synthetic graph derived from `nation`: ring edge k→(k+1)%25 with
    * weight k%5+1 plus chord k→(2k+3)%25 with weight 2 — small diameter, fully
    * reproducible in the oracle. */
  private def nationEdges(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir).toDf.select(col("n_nationkey").cast("long").as("k"))
    n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"),
        (col("k") % 5 + 1).as("weight"))
      .unionByName(n.select(col("k").as("src"), ((col("k") * 2 + 3) % 25).as("dst"),
        lit(2L).as("weight")))
  }

  private def qIterateCc(s: SparkSession, dir: String): DataFrame = {
    // customer→nation-hub star graph: components = nations (hub id = 100000+n)
    val edges = Tables.customer(s, dir).toDf
      .select(col("c_custkey").as("src"), (col("c_nationkey") + 100000L).as("dst"))
    Graphs.connectedComponents(edges, maxIterations = 10)
  }

  private def qBellmanFord(s: SparkSession, dir: String): DataFrame =
    Graphs.bellmanFord(nationEdges(s, dir), sourceId = 0L)

  private def qPagerank(s: SparkSession, dir: String): DataFrame =
    Graphs.pagerank(nationEdges(s, dir).select("src", "dst"), iters = 3)

  /** The reference's EXACT integer pagerank (r16 decode — see
    * Graphs.pagerankRef) over the customer→nation graph, 3 steps; DuckDB
    * replays the identical unrolled integer recursion. */
  private def qPagerankRef(s: SparkSession, dir: String): DataFrame =
    Graphs.pagerankRef(Tables.customer(s, dir).toDf
      .select(col("c_custkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst")), steps = 3)

  private def qLouvain(s: SparkSession, dir: String): DataFrame =
    Graphs.louvain(nationEdges(s, dir).select("src", "dst"), iters = 4)

  private def qLouvainMultilevel(s: SparkSession, dir: String): DataFrame =
    Graphs.louvainMultilevel(nationEdges(s, dir).select("src", "dst"),
      iters1 = 3, iters2 = 3)

  // ───────────────────────────────────────────────────────────────────────────
  //  Error-value semantics (reference Error sentinel, remove_errors, fill_error)
  // ───────────────────────────────────────────────────────────────────────────

  /** Orders with two deliberately poisoned computations: a division whose
    * denominator hits zero (o_orderkey % 97), and a cast that only succeeds on
    * every third key — one bad row must land in the error log, not kill the
    * job (reference src/engine/value.rs:228 Error; table.py:2753). */
  private def checkedOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).toDf
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val den = col("o_orderkey") % 97
    val prioNum = when(col("o_orderkey") % 3 === 0, lit("42"))
      .otherwise(col("o_orderpriority")) // '1-URGENT' etc — unparseable
    val withDiv = graft.functions.Errors.tryDiv(
      graft.functions.Errors.init(o), "price_per", col("o_totalprice"), den)
    graft.functions.Errors.tryCast(withDiv, "clerk_id", prioNum, "bigint")
  }

  /** Decoded groupby error semantics (tests/test_errors.py:858, r16):
    * `_skip_errors=True` (the reference default) — errored inputs are
    * skipped per-reducer while count(*) still counts every row. The error
    * source is a floor-div whose divisor (l_linenumber − 3) hits zero. */
  private def qErrorSkipReduce(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErrorOps
    val t = graft.functions.Errors.init(Tables.lineitem(s, dir).toDf)
    val t2 = ErrorOps.floorDivChecked(t, "x",
      col("l_quantity").cast("bigint"), col("l_linenumber") - 3)
    ErrorOps.reduceChecked(t2, Seq("l_returnflag"), Seq(
      ErrorOps.Agg("sx", sum("x"), Seq("x")),
      ErrorOps.Agg("cnt", count(lit(1)), Nil)), skipErrors = true)
      .table.select("l_returnflag", "sx", "cnt")
  }

  /** Decoded groupby error semantics (tests/test_errors.py:915, r16):
    * `_skip_errors=False` — ONE errored input poisons the reducer's output
    * for the whole group (here: exactly the l_linenumber=3 group, where
    * the divisor is zero), recovered via fill_error(−1). */
  private def qErrorPropagateReduce(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErrorOps
    val t = graft.functions.Errors.init(Tables.lineitem(s, dir).toDf)
    val t2 = ErrorOps.floorDivChecked(t, "x",
      col("l_quantity").cast("bigint"), col("l_linenumber") - 3)
    val red = ErrorOps.reduceChecked(t2, Seq("l_linenumber"), Seq(
      ErrorOps.Agg("sx", sum("x"), Seq("x")),
      ErrorOps.Agg("cnt", count(lit(1)), Nil)), skipErrors = false)
    graft.functions.Errors.fillError(red.table, "sx", lit(-1L))
      .select("l_linenumber", "sx", "cnt")
  }

  private def qErrorHandling(s: SparkSession, dir: String): DataFrame =
    graft.functions.Errors.removeErrors(
        graft.functions.Errors.fillError(checkedOrders(s, dir), "price_per", lit(-1.0)))
      .select("o_orderkey", "price_per", "clerk_id")

  private def qErrorTable(s: SparkSession, dir: String): DataFrame =
    graft.functions.Errors.errorTable(checkedOrders(s, dir), col("o_orderkey"))
      .select("o_orderkey", "err_col", "err_msg")

  /** TPC-H Q3-style shipping-priority query: 3-way join with selective
    * filters on every input + grouped revenue. Exercises the multi-join
    * Catalyst path end-to-end: both dim-side filters reach the parquet scans
    * (PushedFilters) and the customer side broadcasts; revenue follows the
    * q1 decimal-exact float policy. */
  private def qQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    val c = Tables.customer(s, dir).toDf
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, dir).toDf
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, dir).toDf
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("_rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("_rev").cast("decimal(22,6)")).cast("double").as("revenue"))
  }

  /** TPC-H Q5-style local-supplier-volume: 6-way join (region→nation→
    * customer→orders→lineitem→supplier with the local-supplier condition)
    * + grouped revenue — the deepest join tree in the suite; dims broadcast
    * down the chain, lineitem streams once. */
  private def qQ5(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    val r = Tables.region(s, dir).toDf.filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir).toDf
    val c = Tables.customer(s, dir).toDf
    val o = Tables.orders(s, dir).toDf
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, dir).toDf
    val su = Tables.supplier(s, dir).toDf
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(22,6)")).cast("double").as("revenue"))
  }

  /** HMM Viterbi decode per user over the event stream (reference
    * stdlib/ml/hmm.py create_hmm_reducer). Model scores are exact dyadic
    * doubles (-0.25, -1.5, …) so the DP sums are bit-identical in any IEEE
    * engine — the oracle replays the same recursion as a recursive CTE. */
  private def qHmmDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Hmm, HmmModel}
    val model = HmmModel(
      states = Seq("F", "H"),
      startLogProb = Map("F" -> -0.75, "H" -> -0.5),
      transLogProb = Map(
        ("F", "F") -> -1.25, ("F", "H") -> -0.5,
        ("H", "F") -> -0.5, ("H", "H") -> -1.0),
      emitLogProb = Map(
        ("F", "click") -> -1.0, ("F", "view") -> -0.25, ("F", "purchase") -> -0.5,
        ("F", "error") -> -3.0, ("F", "signup") -> -0.5,
        ("H", "click") -> -0.25, ("H", "view") -> -1.5, ("H", "purchase") -> -2.0,
        ("H", "error") -> -0.125, ("H", "signup") -> -1.0))
    val e = Tables.events(s, dir).toDf
      .select(col("user_id"), col("ts").cast("long").as("tsn"), col("event_type"))
    Hmm.decode(e, model, "user_id", "tsn", "event_type")
      .select(col("user_id").cast("long").as("user_id"),
        concat_ws("", col("path")).as("path"))
  }

  // ───────────────────────────────────────────────────────────────────────────
  //  SQL bridge, UDFs, stdlib utils
  // ───────────────────────────────────────────────────────────────────────────

  private def qSqlBridge(s: SparkSession, dir: String): DataFrame =
    graft.core.GraftSql.sql(s,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders_v WHERE o_totalprice > 150000 GROUP BY o_orderpriority""".stripMargin,
      "orders_v" -> Tables.orders(s, dir).toDf)

  /** pw.sql dialect row (r16 decode of tests/test_sql.py): the clause order
    * is sqlglot-scrambled (HAVING before GROUP BY), `DIV`/`%` are the
    * reference's floor-div / divisor-sign mod on a SIGNED derived column
    * (so trunc-semantics would hash-mismatch), and `/` + the decimal-looking
    * literal take the always-float route. The oracle spells the floor
    * formulas out for DuckDB, whose native `//`/`%` are C-style. */
  private def qSqlDialect(s: SparkSession, dir: String): DataFrame =
    graft.core.GraftSql.sql(s,
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  SUM((CAST(l_quantity AS BIGINT) - 25) DIV 7) AS fdiv,
        |  SUM((CAST(l_quantity AS BIGINT) - 25) % 7) AS fmod,
        |  SUM(l_quantity / 64.0) AS qd
        |FROM lineitem_v HAVING COUNT(*) > 1 GROUP BY l_returnflag""".stripMargin,
      "lineitem_v" -> Tables.lineitem(s, dir).toDf)

  private def qApplyUdf(s: SparkSession, dir: String): DataFrame = {
    val tier = graft.functions.Udfs.apply1[java.lang.Double, String] { bal =>
      if (bal == null) "none"
      else if (bal > 5000) "gold" else if (bal > 0) "silver" else "none"
    }
    Tables.customer(s, dir).toDf
      .select(col("c_custkey"), tier(col("c_acctbal")).as("tier"))
  }

  private def qUnpackCol(s: SparkSession, dir: String): DataFrame = {
    val packed = Tables.part(s, dir).toDf
      .select(col("p_partkey"), struct(col("p_brand"), col("p_type")).as("_s"))
    Utils.unpackCol(packed, col("_s"), "p_brand", "p_type").drop("_s")
  }

  private def qArgmaxRows(s: SparkSession, dir: String): DataFrame =
    Utils.argmaxRows(
      Tables.orders(s, dir).toDf.select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq(col("o_custkey")), col("o_totalprice"), col("o_orderkey"))

  private def qMajority(s: SparkSession, dir: String): DataFrame =
    Utils.majority(Tables.orders(s, dir).toDf, Seq(col("o_orderstatus")),
      col("o_orderpriority"))

  /** r16 decode (gradual_broadcast.rs:128): apx_value is LOWER or UPPER,
    * apportioned by the key's hash fraction vs (value−lower)/(upper−lower)
    * — never the raw value. */
  private def qGradualBroadcast(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).toDf
    val thr = orders.agg(min(col("o_totalprice")).as("lower"),
      davg(col("o_totalprice")).as("value"), max(col("o_totalprice")).as("upper"))
    Utils.gradualBroadcast(orders.select("o_orderkey"), col("o_orderkey"), thr)
      .select("o_orderkey", "apx_value")
  }

  private def qNdarraySum(s: SparkSession, dir: String): DataFrame =
    Utils.ndarraySum(
        Tables.embeddings(s, dir).toDf.select((col("vec_id") % 10).as("g"), col("embedding")),
        Seq(col("g")), col("embedding"))
      .select(col("g"), posexplode(col("array_sum")).as(Seq("i", "s")))
      .select(col("g"), col("i"), col("s").cast("double").as("s"))

  // ───────────────────────────────────────────────────────────────────────────
  //  Streaming semantics, batch-checkable slices (SURVEY §2.2)
  // ───────────────────────────────────────────────────────────────────────────

  private def qDedupAcceptor(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.deduplicateBatch(
      Tables.events(s, dir).toDf,
      Seq(col("user_id")),
      struct(col("ts"), col("event_id")),
      (n, o) => n >= o + 1,
      col("value"),
      org.apache.spark.sql.types.DoubleType)

  private def qAsofNow(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).toDf
    val left = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"))
    val rightNow = Utils.argmaxRows(
      e.filter(col("event_type") === "click")
        .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
          col("ts").as("r_ts"), col("value").as("r_value")),
      Seq(col("r_user")), col("r_ts"), col("r_id"))
    graft.streaming.StreamOps.asofNowJoin(left, rightNow,
        col("l_user") === col("r_user"), "inner")
      .select("l_id", "r_id", "r_value")
  }

  private def qStreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val changelog = Tables.events(s, dir).toDf.select(
      col("user_id"), col("value"),
      col("ts").as("time"),
      when(col("event_type") === "error", lit(-1)).otherwise(lit(1)).as("diff"))
    graft.streaming.StreamOps.streamToTable(changelog, Seq("user_id"), isUpsert = true)
  }

  /** Retraction algebra over the events-as-changelog: linear reducers via
    * diff-weighting + exact live-multiset min/max (reference reduce.rs
    * retract path; a fully-retracted value never surfaces as min). */
  private def qChangelogAgg(s: SparkSession, dir: String): DataFrame = {
    val changelog = Tables.events(s, dir).toDf.select(
      col("user_id"), col("value"),
      when(col("event_type") === "error", lit(-1)).otherwise(lit(1)).as("diff"))
    // decimal-exact float policy for the order-sensitive double sum
    val net = graft.streaming.ChangelogOps.netAggregate(
      changelog, Seq("user_id"), col("value").cast("decimal(18,6)"), col("diff"))
    val mm = graft.streaming.ChangelogOps.liveMinMax(
      changelog, Seq("user_id"), col("value"), col("diff"))
    net.join(mm, "user_id")
      .select(col("user_id"), col("net_count"),
        col("net_sum").cast("double").as("net_sum"),
        (col("net_sum").cast("double") / col("net_count")).as("net_avg"),
        col("live_min"), col("live_max"))
  }

  /** Persisted static rerun (r17 decode of tests/test_persistence.py): two
    * generations of a projected orders table committed to a snapshot store;
    * the emitted changelog is the unit-diff delta between them —
    * streaming/Persistence.runStatic end-to-end on real data. */
  private def qPersistDiff(s: SparkSession, dir: String): DataFrame = {
    val state = java.nio.file.Files.createTempDirectory("graft-persist-q").toString
    val proj = Tables.orders(s, dir).toDf
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    graft.streaming.Persistence.runStatic(state, proj.filter(col("o_orderkey") % 2 === 0))
    graft.streaming.Persistence.runStatic(state, proj.filter(col("o_orderkey") % 3 =!= 0))
  }

  /** Update-mode persistence (r18): two runs against one base+delta store —
    * run 1 inserts every per-customer order count, run 2 touches only keys
    * %5==0 (count+1). Each run's changelog is the unit diff of exactly the
    * touched keys; run 2 commits a delta generation holding only those
    * keys' rows. The returned union carries a `run` tag. */
  private def qPersistUpdateDiff(s: SparkSession, dir: String): DataFrame = {
    val state = java.nio.file.Files.createTempDirectory("graft-persist-u").toString
    val counts = Tables.orders(s, dir).toDf
      .groupBy(col("o_custkey").cast("long").as("k"))
      .agg(count(lit(1)).as("c"))
    val touched = counts.filter(col("k") % 5 === 0)
      .select(col("k"), (col("c") + 1).as("c"))
    val d1 = graft.streaming.Persistence.updateRun(state, counts, Seq("k"))
      .withColumn("run", lit(1))
    val d2 = graft.streaming.Persistence.updateRun(state, touched, Seq("k"))
      .withColumn("run", lit(2))
    d1.unionByName(d2)
  }

  private def qIgnoreLate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.ignoreLateBatch(
        eventsT(s, dir).select(col("event_id"), col("ts_t")),
        col("ts_t"), Exprs.Duration.hours(6))
      .select("event_id", "ts_t")

  // ───────────────────────────────────────────────────────────────────────────

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"          -> (qQ1 _),
    "select_project"  -> (qSelect _),
    "filter_rows"     -> (qFilter _),
    "split_two_way"   -> (qSplit _),
    "groupby_reduce"  -> (qGroupby _),
    "join_inner"      -> (qJoinInner _),
    "join_left"       -> (qJoinLeft _),
    "join_outer"      -> (qJoinOuter _),
    "difference"      -> (qDifference _),
    "intersect"       -> (qIntersect _),
    "concat"          -> (qConcat _),
    "concat_reindex"  -> (qConcatReindex _),
    "restrict"        -> (qRestrict _),
    "with_universe_of" -> (qWithUniverseOf _),
    "update_cells"    -> (qUpdateCells _),
    "update_rows"     -> (qUpdateRows _),
    "flatten"         -> (qFlatten _),
    "ix_lookup"       -> (qIx _),
    "ordered_diff"    -> (qOrderedDiff _),
    "sort_prev_next"  -> (qSortPrevNext _),
    "expr_str"        -> (qExprStr _),
    "expr_dt"         -> (qExprDt _),
    "expr_str_py"     -> (qExprStrPy _),
    "expr_dt_round"   -> (qExprDtRound _),
    "expr_num"        -> (qExprNum _),
    "expr_json"       -> (qExprJson _),
    "expr_cond"       -> (qExprCond _),
    "expr_tuple"      -> (qExprTuple _),
    "cast_rename"     -> (qCastRename _),
    "reduce_min_max"  -> (qReduceMinMax _),
    "reduce_distinct_fold" -> (qReduceDistinctFold _),
    "reduce_argminmax" -> (qReduceArgMinMax _),
    "reduce_unique_any" -> (qReduceUniqueAny _),
    "reduce_sorted_tuple" -> (qReduceSortedTuple _),
    "reduce_tuple_ordered" -> (qReduceTupleOrdered _),
    "reduce_stats"    -> (qReduceStats _),
    "reduce_quantiles" -> (qReduceQuantiles _),
    "reduce_stateful_sumsq" -> (qReduceStateful _),
    "reduce_earliest_latest" -> (qReduceEarliestLatest _),
    "reduce_approx_distinct" -> (qReduceApproxDistinct _),
    "reduce_topk_freq" -> (qReduceTopkFreq _),
    "reduce_misra_gries" -> (qReduceMisraGries _),
    "reduce_countmin" -> (qReduceCountMin _),
    "window_tumbling" -> (qWindowTumbling _),
    "window_sliding"  -> (qWindowSliding _),
    "window_session"  -> (qWindowSession _),
    "window_behavior" -> (qWindowBehavior _),
    "intervals_over"  -> (qIntervalsOver _),
    "interval_join"   -> (qIntervalJoin _),
    "interval_join_left" -> (qIntervalJoinLeft _),
    "interval_join_right" -> (qIntervalJoinRight _),
    "interval_join_full" -> (qIntervalJoinFull _),
    "embed_knn"       -> (qEmbedKnn _),
    "asof_backward"   -> (qAsofBackward _),
    "asof_forward"    -> (qAsofForward _),
    "asof_nearest"    -> (qAsofNearest _),
    "asof_full"       -> (qAsofFull _),
    "window_join"     -> (qWindowJoin _),
    "window_join_sliding" -> (qWindowJoinSliding _),
    "window_join_session" -> (qWindowJoinSession _),
    "intervals_over_inner" -> (qIntervalsOverInner _),
    "interpolate"     -> (qInterpolate _),
    "sync_group_cut"  -> (qSyncGroupCut _),
    "sync_group_stream" -> (qSyncGroupStream _),
    "inactivity_detect" -> (qInactivityDetect _),
    "inactivity_stream_replay" -> (qInactivityStreamReplay _),
    "split_train_test" -> (qSplitTrainTest _),
    "doc_pack"        -> (qDocPack _),
    "pack_token_windows" -> (qPackTokenWindows _),
    "text_pii"        -> (qTextPii _),
    "text_tokens"     -> (qTextTokens _),
    "text_quality"    -> (qTextQuality _),
    "text_gopher"     -> (qTextGopher _),
    "text_c4"         -> (qTextC4 _),
    "text_boilerplate" -> (qTextBoilerplate _),
    "text_lm_score"   -> (qTextLmScore _),
    "bpe_tokens"      -> (qBpeTokens _),
    "text_url_filter" -> (qTextUrlFilter _),
    "perceptron_quality" -> (qPerceptronQuality _),
    "text_langid"     -> (qTextLangId _),
    "text_fingerprint" -> (qTextFingerprint _),
    "snapshot_diff"   -> (qSnapshotDiff _),
    "upsert_session"  -> (qUpsertSession _),
    "doc_split_chunks" -> (qDocSplit _),
    "doc_parse"       -> (qDocParse _),
    "dedup_exact"     -> (qDedupExact _),
    "dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "dedup_minhash_lsh" -> (qDedupMinhash _),
    "dedup_groups" -> (qDedupGroups _),
    "dedup_simhash"   -> (qDedupSimhash _),
    "dedup_semantic"  -> (qDedupSemantic _),
    "diversity_sample" -> (qDiversitySample _),
    "dedup_spans"     -> (qDedupSpans _),
    "decontaminate"   -> (qDecontaminate _),
    "decontaminate_fuzzy" -> (qDecontaminateFuzzy _),
    "dsir_select"     -> (qDsirSelect _),
    "mixture_plan"    -> (qMixturePlan _),
    "sample_weighted" -> (qSampleWeighted _),
    "sample_stratified" -> (qSampleStratified _),
    "sample_group_cap" -> (qSampleGroupCap _),
    "sample_group_cap_hot" -> (qSampleGroupCapHot _),
    "dedup_keep_best" -> (qDedupKeepBest _),
    "dedup_pipeline" -> (qDedupPipeline _),
    "select_and_curate" -> (qSelectAndCurate _),
    "embedding_cosine_pairs" -> (qEmbCosinePairs _),
    "knn_brute_force" -> (qKnnBrute _),
    "knn_l2_variablek" -> (qKnnL2K _),
    "knn_hnsw"        -> (qKnnHnsw _),
    "knn_lsh"         -> (qKnnLsh _),
    "knn_classify"    -> (qKnnClassify _),
    "classifier_accuracy" -> (qClassifierAccuracy _),
    "knn_ivf"         -> (qKnnIvf _),
    "knn_pq"          -> (qKnnPq _),
    "knn_ivfadc"      -> (qKnnIvfadc _),
    "clustering_lsh"  -> (qClusteringLsh _),
    "rrf_fusion"      -> (qRrfFusion _),
    "bm25_per_term"   -> (qBm25 _),
    "fuzzy_join"      -> (qFuzzyJoin _),
    "rerank_topk"     -> (qRerank _),
    "doc_store_retrieve" -> (qDocStoreRetrieve _),
    "doc_store_hybrid" -> (qDocStoreHybrid _),
    "udf_changelog"   -> (qUdfChangelog _),
    "matmul_2d"       -> (qMatmul2d _),
    "matmul_block"    -> (qMatmulBlock _),
    "multimodal_features" -> (qMultimodalFeatures _),
    "multimodal_decode" -> (qMultimodalDecode _),
    "multimodal_audio" -> (qMultimodalAudio _),
    "multimodal_frames" -> (qMultimodalFrames _),
    "multimodal_video" -> (qMultimodalVideo _),
    "iterate_cc"      -> (qIterateCc _),
    "bellman_ford"    -> (qBellmanFord _),
    "pagerank"        -> (qPagerank _),
    "pagerank_ref"    -> (qPagerankRef _),
    "louvain"         -> (qLouvain _),
    "louvain_multilevel" -> (qLouvainMultilevel _),
    "sql_bridge"      -> (qSqlBridge _),
    "sql_dialect"     -> (qSqlDialect _),
    "apply_udf"       -> (qApplyUdf _),
    "unpack_col"      -> (qUnpackCol _),
    "argmax_rows"     -> (qArgmaxRows _),
    "majority"        -> (qMajority _),
    "gradual_broadcast" -> (qGradualBroadcast _),
    "ndarray_sum"     -> (qNdarraySum _),
    "q3_shipping"     -> (qQ3 _),
    "q5_local_supplier" -> (qQ5 _),
    "hmm_decode"      -> (qHmmDecode _),
    "error_handling"  -> (qErrorHandling _),
    "error_table"     -> (qErrorTable _),
    "error_skip_reduce" -> (qErrorSkipReduce _),
    "error_propagate_reduce" -> (qErrorPropagateReduce _),
    "dedup_acceptor"  -> (qDedupAcceptor _),
    "asof_now_join"   -> (qAsofNow _),
    "stream_upsert"   -> (qStreamUpsert _),
    "changelog_agg"   -> (qChangelogAgg _),
    "persist_diff"    -> (qPersistDiff _),
    "persist_update_diff" -> (qPersistUpdateDiff _),
    "ignore_late"     -> (qIgnoreLate _),
  )

  /** DuckDB oracle for `text_gopher`, generated from the same
    * [[TextOps.GopherGramNs]]/threshold constants the Spark kernel uses so
    * both sides extend in lockstep. `list_aggregate(g, 'histogram')` +
    * `list_distinct` keep the oracle linear per document (the old
    * per-distinct-gram rescan was O(n²) in DuckDB too). */
  private def textGopherOracle: String = {
    val gramDefs = TextOps.GopherGramNs.map { n =>
      val parts = (0 until n).map(j => if (j == 0) "words[i]" else s"words[i + $j]")
        .mkString(" || ' ' || ")
      s"list_transform(generate_series(1, len(words) - ${n - 1}), i -> $parts) AS g$n"
    }.mkString(",\n  ")
    val topNs = TextOps.GopherTopGramMax.keys.toSeq.sorted
    val dupNs = TextOps.GopherDupGramMax.keys.toSeq.sorted
    val topFracs = topNs.map { n =>
      s"CAST(list_max(map_values(list_aggregate(g$n, 'histogram'))) AS DOUBLE) / NULLIF(len(g$n), 0) AS top_${n}gram_frac"
    }
    val dupFracs = dupNs.map { n =>
      s"CAST(len(g$n) - len(list_distinct(g$n)) AS DOUBLE) / NULLIF(len(g$n), 0) AS dup_${n}gram_frac"
    }
    val fracNames = topNs.map(n => s"top_${n}gram_frac") ++ dupNs.map(n => s"dup_${n}gram_frac")
    val gramRules = (TextOps.GopherTopGramMax.toSeq.sortBy(_._1).map { case (n, t) =>
        s"top_${n}gram_frac <= $t"
      } ++ TextOps.GopherDupGramMax.toSeq.sortBy(_._1).map { case (n, t) =>
        s"dup_${n}gram_frac <= $t"
      }).mkString("\n    AND ")
    s"""WITH t AS (SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '[a-z0-9'']+') AS words,
       |    string_split_regex(text, '\\n') AS lines FROM documents),
       |s AS (SELECT doc_id,
       |  CAST(len(words) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
       |    / NULLIF(len(words), 0) AS mean_word_len,
       |  CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE)
       |    / NULLIF(len(words), 0) AS symbol_word_ratio,
       |  CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
       |    / NULLIF(len(lines), 0) AS bullet_line_frac,
       |  CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
       |    / NULLIF(len(lines), 0) AS ellipsis_line_frac,
       |  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
       |    / NULLIF(len(lines), 0) AS dup_line_frac,
       |  CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |    / NULLIF(len(words), 0) AS alpha_word_frac,
       |  CAST(len(list_filter(words, w -> list_contains(['the','be','to','of','and','that','have','with'], w))) AS BIGINT) AS stop_word_hits,
       |  $gramDefs
       |FROM t),
       |g AS (SELECT *,
       |  ${(topFracs ++ dupFracs).mkString(",\n  ")}
       |FROM s)
       |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
       |  ellipsis_line_frac, dup_line_frac, alpha_word_frac, stop_word_hits,
       |  ${fracNames.mkString(", ")},
       |  COALESCE(n_words >= 50 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
       |    AND ellipsis_line_frac <= 0.3 AND dup_line_frac <= 0.3
       |    AND alpha_word_frac >= 0.8 AND stop_word_hits >= 2
       |    AND $gramRules, FALSE) AS gopher_pass
       |FROM g""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "select_project" ->
      """SELECT c_custkey, UPPER(c_name) AS name_upper,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
        |  round_even(c_acctbal, 0) AS bal_rounded
        |FROM customer""".stripMargin,
    "filter_rows" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 25 AND l_returnflag = 'R'""".stripMargin,
    "split_two_way" ->
      """SELECT o_orderkey, CASE WHEN o_totalprice > 100000.0 THEN 'hi' ELSE 'lo' END AS side
        |FROM orders""".stripMargin,
    "groupby_reduce" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin,
    "join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "join_outer" ->
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
        |     li AS (SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem
        |            WHERE l_orderkey % 3 <> 2 GROUP BY l_orderkey)
        |SELECT o.o_orderkey, li.l_orderkey, li.n_lines
        |FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey""".stripMargin,
    "difference" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)""".stripMargin,
    "intersect" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > 0 AND c_nationkey < 10""".stripMargin,
    "concat" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 200000.0 OR o_totalprice < 20000.0""".stripMargin,
    "concat_reindex" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |UNION ALL SELECT o_orderkey, o_totalprice FROM orders""".stripMargin,
    "restrict" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "with_universe_of" ->
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_nationkey < 5""".stripMargin,
    "update_cells" ->
      """SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin,
    "update_rows" ->
      """SELECT c_custkey,
        |  CASE WHEN c_nationkey = 7 THEN 'OVERRIDDEN' ELSE c_mktsegment END AS c_mktsegment
        |FROM customer""".stripMargin,
    "upsert_session" ->
      """WITH events AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey AS time,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'remove' ELSE 'add' END AS op,
        |    o_totalprice AS v
        |  FROM orders),
        |w AS (
        |  SELECT k, time, op, v,
        |    CASE WHEN lag(op) OVER (PARTITION BY k ORDER BY time) = 'add'
        |      THEN lag(v) OVER (PARTITION BY k ORDER BY time) END AS prev_state
        |  FROM events)
        |SELECT k, prev_state AS v, time, -1 AS diff FROM w WHERE prev_state IS NOT NULL
        |UNION ALL
        |SELECT k, v AS v, time, 1 AS diff FROM w WHERE op = 'add'""".stripMargin,
    "snapshot_diff" ->
      """WITH prev AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
        |curr AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT p.o_orderkey AS o_orderkey, p.o_totalprice AS o_totalprice, -1 AS diff
        |FROM prev p LEFT JOIN curr c ON p.o_orderkey = c.o_orderkey
        |WHERE c.o_orderkey IS NULL OR p.o_totalprice IS DISTINCT FROM c.o_totalprice
        |UNION ALL
        |SELECT c.o_orderkey AS o_orderkey, c.o_totalprice AS o_totalprice, 1 AS diff
        |FROM curr c LEFT JOIN prev p ON p.o_orderkey = c.o_orderkey
        |WHERE p.o_orderkey IS NULL OR p.o_totalprice IS DISTINCT FROM c.o_totalprice""".stripMargin,
    "flatten" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT UNNEST(STRING_SPLIT(p_type, ' ')) AS tok FROM part)
        |GROUP BY tok""".stripMargin,
    "ix_lookup" ->
      """SELECT l_orderkey, l_linenumber, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "ordered_diff" ->
      """SELECT o_custkey, o_orderkey,
        |  o_totalprice - LAG(o_totalprice, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS diff
        |FROM orders""".stripMargin,
    "sort_prev_next" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_orderkey, 1)  OVER w AS prev_key,
        |  LEAD(o_orderkey, 1) OVER w AS next_key
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "expr_str" ->
      """SELECT p_partkey, UPPER(p_type) AS up, LOWER(p_type) AS lo,
        |  LENGTH(p_type) AS len, REVERSE(p_type) AS rev, TRIM(p_brand) AS strip,
        |  STARTS_WITH(p_type, 'PROMO') AS starts, ENDS_WITH(p_type, 'STEEL') AS ends,
        |  CAST((LENGTH(p_type) - LENGTH(REPLACE(p_type, ' ', ''))) / 1 AS BIGINT) AS n_spaces,
        |  INSTR(p_type, 'BRUSHED') - 1 AS pos,
        |  CASE WHEN STARTS_WITH(p_type, 'STANDARD ')
        |       THEN SUBSTRING(p_type, LENGTH('STANDARD ') + 1) ELSE p_type END AS noprefix,
        |  REPLACE(p_type, ' ', '_') AS repl,
        |  SUBSTRING(p_type, 1, 5) AS sliced
        |FROM part""".stripMargin,
    "expr_dt" ->
      """SELECT o_orderkey, YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m,
        |  DAY(o_orderdate) AS d, ISODOW(o_orderdate) - 1 AS wd,
        |  STRFTIME(o_orderdate, '%Y-%m') AS ym,
        |  STRFTIME(o_orderdate, '%G-W%V-%u') AS iso,
        |  STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S'),
        |           '%Y-%m-%d %H:%M:%S') AS rt,
        |  DATE_TRUNC('month', o_orderdate) AS mon_start,
        |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders""".stripMargin,
    "expr_str_py" ->
      """SELECT p_partkey,
        |  CASE WHEN strpos(substr(p_type, 3), 'ED') = 0 THEN -1
        |       ELSE 1 + strpos(substr(p_type, 3), 'ED') END AS f_bounded,
        |  CASE WHEN strpos(reverse(p_type), 'DE') = 0 THEN -1
        |       ELSE length(p_type) - strpos(reverse(p_type), 'DE') - 1 END AS rf,
        |  CAST((length(substr(p_type, 2, 14))
        |        - length(replace(substr(p_type, 2, 14), 'ED', ''))) // 2 AS BIGINT)
        |    AS cnt_sliced,
        |  TRIM(p_type, 'SDN') AS strip_set,
        |  CASE WHEN regexp_matches(trim(' ' || CAST(p_size AS VARCHAR) || ' '),
        |                           '^[+-]?[0-9]+$')
        |       THEN CAST(trim(' ' || CAST(p_size AS VARCHAR) || ' ') AS BIGINT)
        |  END AS pi,
        |  TRY_CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) AS pf,
        |  CASE WHEN CASE WHEN p_size % 2 = 0 THEN 'yes' ELSE 'nope' END
        |            IN ('on', 'true', 'yes', '1') THEN TRUE
        |       WHEN CASE WHEN p_size % 2 = 0 THEN 'yes' ELSE 'nope' END
        |            IN ('off', 'false', 'no', '0') THEN FALSE
        |  END AS pb
        |FROM part""".stripMargin,
    "expr_dt_round" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT event_id, make_timestamp(us) AS t,
        |  make_timestamp(us - us % 3600000000) AS floor_h,
        |  make_timestamp((us + 1800000000) - (us + 1800000000) % 3600000000) AS round_h
        |FROM e""".stripMargin,
    "expr_num" ->
      """SELECT l_orderkey, l_linenumber, ABS(l_quantity - 25.0) AS qabs,
        |  CAST(l_quantity AS BIGINT) // 7 AS q_div,
        |  CAST(l_quantity AS BIGINT) % 7 AS q_mod,
        |  POWER(l_quantity, 2) AS q_pow,
        |  ROUND(l_discount, 1) AS disc_round
        |FROM lineitem""".stripMargin,
    "expr_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_f,
        |  json_extract_string(props, '$.nope') AS missing
        |FROM events""".stripMargin,
    "expr_cond" ->
      """SELECT c_custkey, o_orderkey, COALESCE(o_orderkey, -1) AS okey_filled,
        |  CASE WHEN c_acctbal > 5000 THEN 'gold'
        |       WHEN c_acctbal > 0 THEN 'silver' ELSE 'none' END AS tier,
        |  CASE WHEN o_orderkey IS NOT NULL THEN c_acctbal END AS req
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "expr_tuple" ->
      """SELECT p_partkey, STRING_SPLIT(p_type, ' ')[1] AS first_tok,
        |  STRING_SPLIT(p_type, ' ')[3] AS third_tok,
        |  STRING_SPLIT(p_type, ' ')[-1] AS last_tok,
        |  p_type AS pair_second
        |FROM part""".stripMargin,
    "cast_rename" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty_int
        |FROM lineitem""".stripMargin,
    "reduce_min_max" ->
      """SELECT l_returnflag, MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "reduce_distinct_fold" ->
      """SELECT o_custkey,
        |  COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS cd2,
        |  CAST(1 AS BIGINT) AS cd0,
        |  list_reduce(list(o_totalprice ORDER BY o_orderdate, o_orderkey),
        |              (x, y) -> x / 2 + y) AS decayed
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "reduce_argminmax" ->
      """WITH mx AS (
        |  SELECT l_returnflag, l_orderkey AS argmax_key FROM (
        |    SELECT l_returnflag, l_orderkey, ROW_NUMBER() OVER
        |      (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey ASC) rn
        |    FROM lineitem) WHERE rn = 1),
        |mn AS (
        |  SELECT l_returnflag, l_orderkey AS argmin_key FROM (
        |    SELECT l_returnflag, l_orderkey, ROW_NUMBER() OVER
        |      (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC, l_orderkey ASC) rn
        |    FROM lineitem) WHERE rn = 1)
        |SELECT mx.l_returnflag, argmax_key, argmin_key FROM mx JOIN mn USING (l_returnflag)""".stripMargin,
    "reduce_unique_any" ->
      """SELECT l_orderkey, MIN(o_orderstatus) AS status, MIN(l_returnflag) AS flag
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey""".stripMargin,
    "reduce_sorted_tuple" ->
      """SELECT o_custkey, STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "reduce_tuple_ordered" ->
      """SELECT o_custkey, STRING_AGG(CAST(o_orderkey AS VARCHAR), ','
        |    ORDER BY o_orderdate, o_orderkey) AS keys_by_date
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "reduce_stats" ->
      """SELECT o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "reduce_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25,
        |  CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median,
        |  CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "reduce_stateful_sumsq" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_sq_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "reduce_earliest_latest" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, value FROM events),
        |fi AS (SELECT user_id, value AS first_value FROM (
        |  SELECT user_id, value, ROW_NUMBER() OVER
        |    (PARTITION BY user_id ORDER BY tns ASC, event_id ASC) rn FROM e) WHERE rn = 1),
        |la AS (SELECT user_id, value AS last_value FROM (
        |  SELECT user_id, value, ROW_NUMBER() OVER
        |    (PARTITION BY user_id ORDER BY tns DESC, event_id DESC) rn FROM e) WHERE rn = 1)
        |SELECT fi.user_id, first_value, last_value FROM fi JOIN la USING (user_id)""".stripMargin,
    "window_tumbling" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT make_timestamp(us - us % 3600000000) AS w_start, event_type,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1, 2""".stripMargin,
    "window_sliding" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS us FROM events),
        |w AS (SELECT UNNEST(generate_series(us // 900000000 * 900000000 - 2700000000,
        |                                    us // 900000000 * 900000000, 900000000)) AS st FROM e)
        |SELECT make_timestamp(st) AS w_start, COUNT(*) AS n FROM w GROUP BY 1""".stripMargin,
    "window_behavior" ->
      """WITH base AS (
        |  SELECT (event_id % 97) * 1000000000000 + event_id AS arrival,
        |         epoch_ns(ts) // 1000 AS t, value FROM events),
        |runmax AS (SELECT *, max(t) OVER (ORDER BY arrival) AS now FROM base),
        |starts AS (SELECT *,
        |  t - ((t % 21600000000) + 21600000000) % 21600000000 AS smax FROM runmax),
        |pairs AS (
        |  SELECT t, now, value, s AS w_start, s + 43200000000 AS w_end
        |  FROM starts, UNNEST([smax - 21600000000, smax]) AS u(s)
        |  WHERE t < s + 43200000000),
        |adm AS (SELECT * FROM pairs WHERE w_end + 43200000000 > now),
        |mg AS (SELECT max(greatest(t, w_start + 10800000000)) AS mg FROM adm)
        |SELECT w_start, w_end, COUNT(*) AS n_rows, max(t) AS max_time,
        |       max(value) AS max_value,
        |       (w_end + 43200000000 > mg.mg) AS kept_after_cleanup
        |FROM adm, mg GROUP BY w_start, w_end, mg.mg""".stripMargin,
    "window_session" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (SELECT user_id, us,
        |  CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, us, SUM(brk) OVER
        |  (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, COUNT(*) AS n, make_timestamp(MIN(us)) AS s_start,
        |  make_timestamp(MAX(us)) AS s_end
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "intervals_over" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |at AS (SELECT event_id AS at_id, user_id AS at_user, us AS at_us FROM e
        |       WHERE event_type = 'error')
        |SELECT at_id, COUNT(e.event_id) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM at LEFT JOIN e ON at_user = e.user_id
        |  AND e.us BETWEEN at_us - 600000000 AND at_us
        |GROUP BY at_id""".stripMargin,
    "interval_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT l.event_id AS l_id, r.event_id AS r_id
        |FROM e l JOIN e r ON l.user_id = r.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.us BETWEEN l.us AND l.us + 600000000""".stripMargin,
    "interval_join_left" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT event_id AS l_id, user_id, us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS r_id, user_id, us FROM e WHERE event_type = 'purchase')
        |SELECT c.l_id, p.r_id
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.us BETWEEN c.us AND c.us + 600000000""".stripMargin,
    "interval_join_right" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT event_id AS l_id, user_id, us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS r_id, user_id, us FROM e WHERE event_type = 'purchase')
        |SELECT c.l_id, p.r_id
        |FROM c RIGHT JOIN p ON c.user_id = p.user_id
        |  AND p.us BETWEEN c.us AND c.us + 600000000""".stripMargin,
    "interval_join_full" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT event_id AS l_id, user_id, us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS r_id, user_id, us FROM e WHERE event_type = 'purchase')
        |SELECT c.l_id, p.r_id
        |FROM c FULL JOIN p ON c.user_id = p.user_id
        |  AND p.us BETWEEN c.us AND c.us + 600000000""".stripMargin,
    "asof_backward" ->
      """WITH l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id AS r_id, user_id, ts, value AS r_value FROM events
        |           WHERE event_type = 'click')
        |SELECT l_id, r_id, r_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "asof_forward" ->
      """WITH l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id AS r_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT l_id, r_id
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,
    "asof_nearest" ->
      """WITH l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id AS r_id, user_id, ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT l_id, l.ts AS lt, r_id AS b_id, r.ts AS bt
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l_id, r_id AS f_id, r.ts AS ft
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT b.l_id,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL
        |         OR (epoch_ns(lt) - epoch_ns(bt)) < (epoch_ns(ft) - epoch_ns(lt)))
        |       THEN b_id ELSE f_id END AS r_id
        |FROM b JOIN f USING (l_id)""".stripMargin,
    // FULL/OUTER asof: the left-driven match is STRICTLY earlier (merged
    // order puts lefts before rights at an exact tie) while the
    // right-driven match is inclusive — reference test_asof_full semantics
    "asof_full" ->
      """WITH l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id AS r_id, user_id, ts FROM events WHERE event_type = 'click'),
        |ld AS (SELECT false AS side, l_id AS id, r_id AS peer
        |       FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts > r.ts),
        |rd AS (SELECT true AS side, r_id AS id, l_id AS peer
        |       FROM r ASOF LEFT JOIN l ON r.user_id = l.user_id AND r.ts >= l.ts)
        |SELECT side, id, peer FROM ld UNION ALL SELECT side, id, peer FROM rd""".stripMargin,
    "window_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT user_id, us - us % 3600000000 AS w FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, us - us % 3600000000 AS w FROM e WHERE event_type = 'view')
        |SELECT make_timestamp(c.w) AS w_start, COUNT(*) AS n_pairs
        |FROM c JOIN v ON c.user_id = v.user_id AND c.w = v.w
        |GROUP BY 1""".stripMargin,
    "window_join_sliding" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT user_id, UNNEST([us - us % 1800000000 - 1800000000,
        |                              us - us % 1800000000]) AS w
        |      FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, UNNEST([us - us % 1800000000 - 1800000000,
        |                              us - us % 1800000000]) AS w
        |      FROM e WHERE event_type = 'view')
        |SELECT make_timestamp(c.w) AS w_start, COUNT(*) AS n_pairs
        |FROM c JOIN v ON c.user_id = v.user_id AND c.w = v.w
        |GROUP BY 1""".stripMargin,
    "window_join_session" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type IN ('click', 'view')),
        |f AS (SELECT user_id, event_type, us,
        |  CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, event_type, SUM(brk) OVER
        |  (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |c AS (SELECT user_id, sid, COUNT(*) AS n FROM g
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |v AS (SELECT user_id, sid, COUNT(*) AS n FROM g
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.user_id, CAST(SUM(c.n * v.n) AS BIGINT) AS n_pairs
        |FROM c JOIN v ON c.user_id = v.user_id AND c.sid = v.sid
        |GROUP BY 1""".stripMargin,
    "intervals_over_inner" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS us FROM events),
        |at AS (SELECT event_id AS at_id, user_id AS at_user, us AS at_us FROM e
        |       WHERE event_type = 'error')
        |SELECT at_id, COUNT(e.event_id) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM at JOIN e ON at_user = e.user_id
        |  AND e.us BETWEEN at_us - 600000000 AND at_us
        |GROUP BY at_id""".stripMargin,
    "interpolate" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    CASE WHEN event_type = 'view' THEN value END AS v FROM events),
        |w AS (SELECT event_id, v, us,
        |  LAST_VALUE(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        |  FIRST_VALUE(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY us ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY us ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        |  FROM e)
        |SELECT event_id,
        |  CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * CAST(us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) END AS v_interp
        |FROM w""".stripMargin,
    "sync_group_cut" ->
      """WITH e0 AS (SELECT event_id, epoch_ns(ts) AS tns FROM events),
        |c AS (SELECT MIN(tns) + (MAX(tns) - MIN(tns)) * 4 // 5 AS cut FROM e0),
        |e AS (SELECT event_id, tns, 'even' AS source FROM e0 WHERE event_id % 2 = 0
        |      UNION ALL
        |      SELECT event_id, tns, 'odd' AS source FROM e0, c
        |      WHERE event_id % 2 = 1 AND tns <= cut),
        |f AS (SELECT MIN(mx) AS fmin FROM
        |  (SELECT source, MAX(tns) AS mx FROM e GROUP BY source))
        |SELECT source, event_id, tns AS ts FROM e, f
        |WHERE tns <= fmin + 3600000000000""".stripMargin,
    "inactivity_detect" ->
      """WITH e AS (SELECT user_id AS instance, epoch_ns(ts) AS tns FROM events),
        |f AS (SELECT MAX(tns) AS fmax FROM e),
        |g AS (SELECT instance, tns,
        |  LEAD(tns) OVER (PARTITION BY instance ORDER BY tns) AS nt FROM e)
        |SELECT instance, tns AS inactivity_ts,
        |  CASE WHEN nt - tns > 7200000000000 THEN nt END AS resumed_ts
        |FROM g, f
        |WHERE nt - tns > 7200000000000
        |   OR (nt IS NULL AND fmax - tns > 7200000000000)""".stripMargin,
    // the streaming kernel's deterministic replay must equal the batch
    // analog — SAME oracle as inactivity_detect
    "inactivity_stream_replay" ->
      """WITH e AS (SELECT user_id AS instance, epoch_ns(ts) AS tns FROM events),
        |f AS (SELECT MAX(tns) AS fmax FROM e),
        |g AS (SELECT instance, tns,
        |  LEAD(tns) OVER (PARTITION BY instance ORDER BY tns) AS nt FROM e)
        |SELECT instance, tns AS inactivity_ts,
        |  CASE WHEN nt - tns > 7200000000000 THEN nt END AS resumed_ts
        |FROM g, f
        |WHERE nt - tns > 7200000000000
        |   OR (nt IS NULL AND fmax - tns > 7200000000000)""".stripMargin,
    // the streaming admission fixed point must equal the alignedCut
    // formula over the same derived feeds (F = min of member maxes)
    "sync_group_stream" ->
      """WITH d AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS t
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 500)),
        |a AS (SELECT doc_id, t FROM d),
        |b AS (SELECT doc_id, t FROM d WHERE t < 400),
        |f AS (SELECT LEAST((SELECT MAX(t) FROM a), (SELECT MAX(t) FROM b)) AS fv)
        |SELECT 'a' AS source, doc_id, t FROM a, f WHERE t <= fv + 50
        |UNION ALL
        |SELECT 'b' AS source, doc_id, t FROM b, f WHERE t <= fv + 50""".stripMargin,
    "split_train_test" -> {
      val slot = "((" + graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("CAST(doc_id AS VARCHAR)")) +
        " % 100) + 100) % 100"
      s"""SELECT doc_id, CASE WHEN $slot < 98 THEN 'train'
         |  WHEN $slot < 99 THEN 'val' ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },
    "doc_pack" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, lang, n_tokens, COALESCE(SUM(n_tokens) OVER (
        |  PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM t)
        |SELECT doc_id, lang, CAST(off // 2048 AS BIGINT) AS pack_id,
        |  CAST(off % 2048 AS BIGINT) AS offset_in_pack, n_tokens FROM o""".stripMargin,
    "pack_token_windows" -> {
      val tok = graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("t"))
      s"""WITH tk AS (SELECT doc_id, doc_id % 4 AS shard,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
         |  FROM documents),
         |ids AS (SELECT doc_id, shard, list_transform(ts, t -> $tok) AS tids FROM tk),
         |off AS (SELECT doc_id, shard, tids,
         |    CAST(COALESCE(SUM(len(tids)) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM ids),
         |ex AS (SELECT shard, o, tids, UNNEST(generate_series(1, len(tids))) AS i FROM off),
         |pe AS (SELECT shard, o + i - 1 AS p, tids[i] AS tok FROM ex),
         |g AS (SELECT shard, CAST(p // 512 AS BIGINT) AS pack_id,
         |    string_agg(CAST(tok AS VARCHAR), ',' ORDER BY p) AS token_str,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pe GROUP BY 1, 2)
         |SELECT CAST(shard AS BIGINT) AS instance, pack_id, token_str, n FROM g""".stripMargin
    },
    "text_pii" -> {
      val em = graft.operators.TrainPrep.EmailRe
      val ph = graft.operators.TrainPrep.PhoneRe
      s"""WITH p AS (SELECT doc_id, text || CASE WHEN ((doc_id % 7) + 7) % 7 = 0
         |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1 555 123-4567'
         |    ELSE '' END AS t FROM documents),
         |e AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
         |  regexp_replace(t, '$em', '<EMAIL>', 'g') AS t2 FROM p)
         |SELECT doc_id, regexp_replace(t2, '$ph', '<PHONE>', 'g') AS text_redacted,
         |  n_emails, CAST(len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_phones
         |FROM e""".stripMargin
    },
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS BIGINT) AS n_words,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents""".stripMargin,
    "dedup_spans" -> OracleSqlGen.duplicateSpans(k = 8),
    "decontaminate" -> OracleSqlGen.decontaminate(k = 8, maxEvalId = 50),
    "decontaminate_fuzzy" -> OracleSqlGen.decontaminateFuzzy(k = 8,
      maxEvalId = 50, threshold = 0.5),
    "sample_weighted" -> {
      val slot = "((" + graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("CAST(doc_id AS VARCHAR)")) +
        " % 1000000) + 1000000) % 1000000"
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, LEAST(1.0, GREATEST(0.0,
        |    0.4 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
        |    + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','you','that'], x))) AS DOUBLE) / len(toks))
        |    + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE) / length(text)))) AS quality
        |  FROM t)
        |SELECT doc_id, quality FROM q
        |WHERE """.stripMargin + slot + " < CAST(FLOOR(quality * 1000000.0) AS BIGINT)"
    },
    "sample_stratified" -> {
      val slot = "((" + graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("CAST(doc_id AS VARCHAR)")) +
        " % 1000000) + 1000000) % 1000000"
      """WITH rates(g, p) AS (VALUES ('src1', 0.9), ('src2', 0.5), ('src3', 0.25)),
        |j AS (SELECT doc_id, source, COALESCE(p, 0.1) AS p
        |  FROM documents LEFT JOIN rates ON source = g)
        |SELECT doc_id, source FROM j
        |WHERE """.stripMargin + slot + " < CAST(FLOOR(p * 1000000.0) AS BIGINT)"
    },
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks,
        |    regexp_extract_all(lower(text), '[a-z0-9'']+') AS words FROM documents)
        |SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','you','that'], x))) AS DOUBLE) / len(toks) AS stop_ratio,
        |  CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words) AS mean_wlen,
        |  LEAST(1.0, GREATEST(0.0,
        |    0.4 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
        |    + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','you','that'], x))) AS DOUBLE) / len(toks))
        |    + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE) / length(text)))) AS quality
        |FROM t""".stripMargin,
    "text_gopher" -> textGopherOracle,
    "text_boilerplate" ->
      """WITH p AS (SELECT doc_id, concat_ws(chr(10),
        |    'cookie notice accept all cookies',
        |    substr(text, 1, 60),
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today'
        |         ELSE substr(text, 61, 60) END,
        |    substr(text, 121, 60),
        |    'all rights reserved') AS text FROM documents),
        |t AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM p),
        |e AS (SELECT doc_id, UNNEST(lines) AS line,
        |      generate_subscripts(lines, 1) AS pos FROM t),
        |c AS (SELECT trim(lower(line)) AS k, COUNT(*) AS c FROM e GROUP BY 1),
        |kept AS (SELECT doc_id, pos, line FROM e
        |  JOIN c ON c.k = trim(lower(e.line)) WHERE c.c <= 2),
        |a AS (SELECT doc_id, COUNT(*) AS n_kept,
        |      string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |      FROM kept GROUP BY doc_id)
        |SELECT t.doc_id AS doc_id, CAST(len(t.lines) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept_lines,
        |  COALESCE(a.clean_text, '') AS clean_text,
        |  CAST(len(t.lines) - COALESCE(a.n_kept, 0) AS DOUBLE) / len(t.lines) AS boiler_frac
        |FROM t LEFT JOIN a USING (doc_id)""".stripMargin,
    "text_c4" ->
      """WITH p AS (SELECT doc_id, concat_ws(chr(10),
        |    substr(text, 1, 80) || '.', 'no punct line', 'ok?',
        |    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum here.'
        |         ELSE 'tail line ends well.' END) AS text FROM documents),
        |t AS (SELECT doc_id, text, string_split_regex(text, '\n') AS lines FROM p),
        |k AS (SELECT doc_id, text, lines,
        |  list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?]["'']?$')
        |    AND len(regexp_extract_all(lower(l), '[a-z0-9'']+')) >= 3) AS kept
        |FROM t)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  (contains(lower(text), 'lorem ipsum') OR contains(text, '{')
        |    OR len(kept) = 0) AS c4_drop
        |FROM k""".stripMargin,
    // bpe_tokens: the token sequence itself isn't SQL-expressible; the oracle
    // recomputes the exact word/char counts and takes the Spark-side contract
    // booleans (round-trip, count bounds) as literal true — they only
    // hash-match if the tokenizer actually upheld them on every document.
    "bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |       x -> x <> '')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS BIGINT)
        |    AS n_word_chars,
        |  true AS roundtrip_ok, true AS tokens_in_bounds
        |FROM documents""".stripMargin,
    "text_url_filter" ->
      """WITH p AS (SELECT doc_id, 'https://' ||
        |  CASE WHEN doc_id % 11 = 0 THEN 'ads.spamzone.net'
        |       ELSE source || '.example.com' END || '/' ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'casino-royale/' ELSE 'docs/' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN 'free-download/coupon-' ELSE 'page-' END ||
        |  doc_id AS url FROM documents),
        |d AS (SELECT doc_id, url, lower(url) AS u,
        |  regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain
        |  FROM p),
        |f AS (SELECT doc_id, url, domain,
        |  (domain = 'spamzone.net' OR ends_with(domain, '.spamzone.net')
        |    OR domain = 'src3.example.com'
        |    OR ends_with(domain, '.src3.example.com')) AS blocked_domain,
        |  CAST(len(regexp_extract_all(u, 'casino')) AS DOUBLE) * 1.0
        |    + CAST(len(regexp_extract_all(u, 'viagra')) AS DOUBLE) * 1.0
        |    + CAST(len(regexp_extract_all(u, 'porn')) AS DOUBLE) * 1.0
        |    + CAST(len(regexp_extract_all(u, 'xxx')) AS DOUBLE) * 1.0
        |    + CAST(len(regexp_extract_all(u, 'free-download')) AS DOUBLE) * 0.5
        |    + CAST(len(regexp_extract_all(u, 'coupon')) AS DOUBLE) * 0.5
        |    + CAST(len(regexp_extract_all(u, 'webcam')) AS DOUBLE) * 0.5 AS url_score,
        |  regexp_matches(domain, '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$') AS ip_host
        |  FROM d)
        |SELECT doc_id, url, domain, blocked_domain, url_score, ip_host,
        |  (blocked_domain OR ip_host OR url_score >= 1.0) AS url_drop FROM f""".stripMargin,
    "text_lm_score" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9'']+') AS toks
        |      FROM documents),
        |e AS (SELECT doc_id, UNNEST(toks) AS w, generate_subscripts(toks, 1) AS pos FROM tk),
        |b AS (SELECT doc_id, pos, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |      w AS w2 FROM e),
        |bi AS (SELECT * FROM b WHERE w1 IS NOT NULL),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM e),
        |r AS (SELECT bi.doc_id, bi.pos,
        |      CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) AS r
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |      list_reduce(list(r ORDER BY pos), (p, q) -> p + q) AS s
        |      FROM r GROUP BY doc_id)
        |SELECT tk.doc_id AS doc_id,
        |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  sc.s / sc.n_bigrams AS lm_score
        |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','you','that'], x))) AS h_en,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ich','nicht','mit','ein','zu'], x))) AS h_de,
        |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est','je','ne','pas','un','pour'], x))) AS h_fr,
        |  len(list_filter(toks, x -> list_contains(['el','los','y','es','no','un','por','que','con','para'], x))) AS h_es
        |FROM t)
        |SELECT doc_id, CASE
        |  WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
        |  WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
        |  WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
        |  WHEN h_es > 0 THEN 'es'
        |  ELSE 'und' END AS pred_lang
        |FROM h""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    "doc_parse" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN '<html><head><title>Doc ' || doc_id || '</title><style>p{color:red}</style></head><body><h1>Doc ' || doc_id || '</h1><p>intro &amp; overview &lt;draft&gt;</p><script>var x = 1;</script><p>' || text || '</p></body></html>'
        |       WHEN doc_id % 3 = 1 THEN '---' || chr(10) || 'title: Doc ' || doc_id || chr(10) || 'lang: en' || chr(10) || '---' || chr(10) || '# Doc ' || doc_id || chr(10) || chr(10) || text
        |       ELSE text END AS content FROM documents),
        |p AS (SELECT doc_id, content,
        |  CASE WHEN substr(content, 1, 1) = '<' THEN 'html'
        |       WHEN substr(content, 1, 4) = '---' || chr(10) THEN 'markdown'
        |       ELSE 'plain' END AS format FROM c),
        |h AS (SELECT doc_id, content, format,
        |  regexp_replace(regexp_replace(regexp_replace(content,
        |    '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
        |    '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |    '(?s)<[^>]*>', ' ', 'g') AS detag FROM p)
        |SELECT doc_id, format,
        |  CASE WHEN format = 'html' THEN nullif(regexp_extract(content, '(?is)<title[^>]*>(.*?)</title>', 1), '')
        |       WHEN format = 'markdown' THEN nullif(regexp_extract(regexp_extract(content, '(?s)^---\n(.*?)\n---\n', 1), '(?m)^title: *(.*)$', 1), '')
        |       ELSE NULL END AS title,
        |  CASE WHEN format = 'html' THEN trim(regexp_replace(
        |         replace(replace(replace(replace(replace(replace(detag,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |         '\s+', ' ', 'g'))
        |       WHEN format = 'markdown' THEN trim(regexp_replace(replace(replace(
        |         regexp_replace(regexp_replace(regexp_replace(content,
        |           '(?s)^---\n.*?\n---\n', ''), '(?m)^#{1,6} *', '', 'g'),
        |           '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
        |         '*', ''), '`', ''), '\s+', ' ', 'g'))
        |       ELSE trim(regexp_replace(content, '\s+', ' ', 'g')) END AS text
        |FROM h""".stripMargin,
    "doc_split_chunks" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  UNNEST(generate_series(0,
        |    GREATEST(CAST(CEIL(CAST(len(toks) - 10 AS DOUBLE) / 40) AS INT), 1) - 1)) AS ci
        |  FROM d)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, ci * 40 + 1, ci * 40 + 50), ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, ci * 40 + 1, ci * 40 + 50)) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,
    "dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_copies FROM u GROUP BY text""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, GREATEST(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) - 2, 1)),
        |    i -> substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), i, 3))) AS sh
        |  FROM documents)
        |SELECT l.doc_id AS id1, r.doc_id AS id2,
        |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |  CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE) AS jac
        |FROM d l JOIN d r ON r.doc_id = l.doc_id + 1""".stripMargin,
    "embedding_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT l.vec_id AS id1, r.vec_id AS id2,
        |  list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)), (a, b) -> a + b)
        |  / (SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(l.embedding[i] AS DOUBLE) * CAST(l.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |   * SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(r.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)), (a, b) -> a + b))) AS score
        |FROM e l JOIN e r ON r.vec_id = l.vec_id + 1""".stripMargin,
    "knn_l2_variablek" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, vec_id % 4 AS k
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings
        |  WHERE vec_id >= 50 AND label % 2 = 0),
        |s AS (SELECT query_id, nn_id, k,
        |  list_reduce(list_transform(generate_series(1, 64),
        |    i -> (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |       * (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))), (a, b) -> a + b)
        |    AS dist
        |  FROM q CROSS JOIN c),
        |r AS (SELECT query_id, nn_id, dist, k,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, nn_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, nn_id, dist, rank FROM r WHERE rank <= k""".stripMargin,
    "knn_brute_force" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, nn_id,
        |  list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b)
        |  / (SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (a, b) -> a + b))
        |   * SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b))) AS score
        |  FROM q JOIN c ON query_id <> nn_id),
        |r AS (SELECT query_id, nn_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id ASC) AS rank FROM s)
        |SELECT query_id, nn_id, score, rank FROM r WHERE rank <= 5""".stripMargin,
    // knn_hnsw: deterministic construction + an exact per-shard beam at this
    // SF ⇒ output equals brute-force top-k row-for-row (same cosine fold, so
    // scores are bit-identical); the oracle IS the brute-force ranking
    "knn_hnsw" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, nn_id,
        |  list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b)
        |  / (SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (a, b) -> a + b))
        |   * SQRT(list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b))) AS score
        |  FROM q JOIN c ON query_id <> nn_id),
        |r AS (SELECT query_id, nn_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id ASC) AS rank FROM s)
        |SELECT query_id, nn_id, score, rank FROM r WHERE rank <= 5""".stripMargin,
    "bm25_per_term" ->
      """WITH base AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS dl FROM documents),
        |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base),
        |terms AS (SELECT UNNEST(['data', 'query', 'window']) AS term),
        |tdf AS (SELECT term, COUNT(*) AS df FROM base, terms WHERE list_contains(toks, term) GROUP BY term),
        |tf AS (SELECT doc_id, dl, term,
        |    CAST(len(list_filter(toks, t -> t = term)) AS BIGINT) AS tf
        |  FROM base, terms WHERE list_contains(toks, term))
        |SELECT tf.doc_id AS id, tf.term,
        |  ROUND(LN((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
        |    * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |FROM tf JOIN tdf USING (term), stats""".stripMargin,
    "fuzzy_join" ->
      """WITH q(q_id, q_text) AS (VALUES (CAST(1 AS BIGINT), 'data query window'),
        |                               (CAST(2 AS BIGINT), 'spark join batch'),
        |                               (CAST(3 AS BIGINT), 'hash table scan')),
        |lt AS (SELECT doc_id, UNNEST(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok FROM documents),
        |rt AS (SELECT q_id, UNNEST(list_distinct(string_split_regex(trim(lower(q_text)), '\s+'))) AS tok FROM q),
        |pairs AS (SELECT doc_id, q_id, COUNT(*) AS n FROM lt JOIN rt USING (tok) GROUP BY 1, 2),
        |best AS (SELECT doc_id AS l_id, q_id, n,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, q_id ASC) AS rn FROM pairs)
        |SELECT l_id, q_id AS r_id, n AS n_shared_max FROM best WHERE rn = 1""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS byte_len,
        |  CAST(list_sum(list_transform(generate_series(1, LEAST(64, length(text))),
        |    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS head_sum,
        |  'text' AS kind
        |FROM documents""".stripMargin,
    // closed-form expectations for the real decoder on two-tone PNGs: means
    // are half-sums (equal halves of a 32x16 image), the aHash is the 0x0F /
    // 0xF0 byte pattern picked by which half is brighter (gray block mean
    // vs global mean), exactly as decodeImages' integer block-sum grid
    "multimodal_decode" ->
      """WITH c AS (SELECT doc_id,
        |  (doc_id*37)%256 AS ra, (doc_id*59)%256 AS ga, (doc_id*83)%256 AS ba,
        |  (doc_id*101+7)%256 AS rb, (doc_id*131+11)%256 AS gb, (doc_id*151+13)%256 AS bb
        |  FROM documents)
        |SELECT doc_id AS media_id, TRUE AS ok, 32 AS width, 16 AS height,
        |  (ra+rb)/2.0 AS mean_r, (ga+gb)/2.0 AS mean_g, (ba+bb)/2.0 AS mean_b,
        |  CASE WHEN ra+ga+ba > rb+gb+bb THEN CAST(1085102592571150095 AS BIGINT)
        |       WHEN rb+gb+bb > ra+ga+ba THEN CAST(-1085102592571150096 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS ahash
        |FROM c""".stripMargin,
    "multimodal_audio" ->
      """SELECT doc_id AS media_id, TRUE AS ok,
        |  CAST(8000 + (doc_id%4)*4000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(100 + doc_id%50 AS BIGINT) AS n_frames,
        |  CAST(POWER(2, 9 + doc_id%6) AS DOUBLE)/32768 AS rms
        |FROM documents""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(FLOOR(GREATEST(CAST(FLOOR(length(text) / 16) AS BIGINT) - 1, 0) / 4) + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // (media % 3 + 2) MJPEG frames per AVI, stride-2 sampling; dims and
    // indices are closed-form, ok=true pins every sampled frame's ImageIO
    // decode succeeding
    "multimodal_video" ->
      """WITH m AS (SELECT CAST(c_custkey AS BIGINT) AS media_id,
        |                  (c_custkey % 3) + 2 AS nf
        |           FROM customer WHERE c_custkey <= 200),
        |f AS (SELECT media_id,
        |        UNNEST(generate_series(CAST(0 AS BIGINT), CAST(nf - 1 AS BIGINT), 2)) AS frame_idx
        |      FROM m)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx, TRUE AS ok,
        |  CAST(32 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height
        |FROM f""".stripMargin,
    "iterate_cc" ->
      """WITH m AS (SELECT c_nationkey, MIN(c_custkey) AS minc FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey AS vertex, minc AS component
        |FROM customer JOIN m USING (c_nationkey)
        |UNION ALL SELECT 100000 + c_nationkey, minc FROM m""".stripMargin,
    "bellman_ford" ->
      """WITH RECURSIVE nn AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |edges AS (SELECT k AS src, (k+1)%25 AS dst, k%5+1 AS w FROM nn
        |          UNION ALL SELECT k, (k*2+3)%25, 2 FROM nn),
        |walk(v, d, steps) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, walk.d + e.w, steps + 1
        |  FROM walk JOIN edges e ON e.src = walk.v WHERE steps < 15)
        |SELECT v AS vertex, MIN(d) AS dist FROM walk GROUP BY v""".stripMargin,
    "pagerank_ref" ->
      """WITH e AS (SELECT CAST(c_custkey AS BIGINT) AS u,
        |                  CAST(c_nationkey AS BIGINT) AS v FROM customer),
        |outdeg AS (SELECT u AS vertex, COUNT(*) AS degree FROM e GROUP BY 1),
        |inv AS (SELECT DISTINCT v AS vertex FROM e),
        |degrees AS (SELECT COALESCE(i.vertex, o.vertex) AS vertex,
        |                   COALESCE(o.degree, 0) AS degree
        |            FROM inv i FULL OUTER JOIN outdeg o ON i.vertex = o.vertex),
        |base AS (SELECT vertex, CAST(1000 AS BIGINT) AS rank FROM
        |         (SELECT vertex FROM outdeg EXCEPT ALL SELECT vertex FROM inv)),
        |r0 AS (SELECT vertex, CAST(6000 AS BIGINT) AS rank FROM degrees),
        |f1 AS (SELECT d.vertex, CASE WHEN degree = 0 THEN 0
        |         ELSE (rank * 5) // (degree * 6) END AS flow
        |       FROM degrees d JOIN r0 USING (vertex)),
        |r1 AS (SELECT * FROM base UNION ALL
        |       SELECT e.v AS vertex, SUM(flow) + 1000 AS rank
        |       FROM e JOIN f1 ON e.u = f1.vertex GROUP BY e.v),
        |f2 AS (SELECT d.vertex, CASE WHEN degree = 0 THEN 0
        |         ELSE (rank * 5) // (degree * 6) END AS flow
        |       FROM degrees d JOIN r1 USING (vertex)),
        |r2 AS (SELECT * FROM base UNION ALL
        |       SELECT e.v AS vertex, SUM(flow) + 1000 AS rank
        |       FROM e JOIN f2 ON e.u = f2.vertex GROUP BY e.v),
        |f3 AS (SELECT d.vertex, CASE WHEN degree = 0 THEN 0
        |         ELSE (rank * 5) // (degree * 6) END AS flow
        |       FROM degrees d JOIN r2 USING (vertex)),
        |r3 AS (SELECT * FROM base UNION ALL
        |       SELECT e.v AS vertex, SUM(flow) + 1000 AS rank
        |       FROM e JOIN f3 ON e.u = f3.vertex GROUP BY e.v)
        |SELECT vertex, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin,
    "pagerank" ->
      """WITH nn AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |ed0 AS (SELECT k AS src, (k+1)%25 AS dst FROM nn
        |        UNION ALL SELECT k, (k*2+3)%25 FROM nn),
        |ed AS (SELECT DISTINCT src, dst FROM ed0),
        |verts AS (SELECT DISTINCT src AS vertex FROM ed UNION SELECT DISTINCT dst FROM ed),
        |deg AS (SELECT src AS vertex, COUNT(*) AS out_deg FROM ed GROUP BY src),
        |params AS (SELECT COUNT(*) AS n, 1000000000000 // COUNT(*) AS r0,
        |  (1000000000000 - (1000000000000 * 85) // 100) // COUNT(*) AS base FROM verts),
        |p0 AS (SELECT vertex, r0 AS rank FROM verts, params),
        |p1 AS (SELECT v.vertex, base + (85 * COALESCE(m.mass, 0)) // 100 AS rank
        |       FROM verts v CROSS JOIN params LEFT JOIN (
        |         SELECT ed.dst AS vertex, SUM(p.rank // d.out_deg) AS mass
        |         FROM ed JOIN p0 p ON p.vertex = ed.src JOIN deg d ON d.vertex = ed.src
        |         GROUP BY ed.dst) m ON m.vertex = v.vertex),
        |p2 AS (SELECT v.vertex, base + (85 * COALESCE(m.mass, 0)) // 100 AS rank
        |       FROM verts v CROSS JOIN params LEFT JOIN (
        |         SELECT ed.dst AS vertex, SUM(p.rank // d.out_deg) AS mass
        |         FROM ed JOIN p1 p ON p.vertex = ed.src JOIN deg d ON d.vertex = ed.src
        |         GROUP BY ed.dst) m ON m.vertex = v.vertex),
        |p3 AS (SELECT v.vertex, base + (85 * COALESCE(m.mass, 0)) // 100 AS rank
        |       FROM verts v CROSS JOIN params LEFT JOIN (
        |         SELECT ed.dst AS vertex, SUM(p.rank // d.out_deg) AS mass
        |         FROM ed JOIN p2 p ON p.vertex = ed.src JOIN deg d ON d.vertex = ed.src
        |         GROUP BY ed.dst) m ON m.vertex = v.vertex)
        |SELECT vertex, CAST(rank AS BIGINT) AS rank FROM p3""".stripMargin,
    "sql_bridge" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice > 150000 GROUP BY o_orderpriority""".stripMargin,
    // canonical clause order; floor-div / floor-mod spelled out because
    // DuckDB's native `//` and `%` are C-style (trunc, dividend-sign)
    "sql_dialect" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(floor((CAST(l_quantity AS BIGINT) - 25) / 7.0) AS BIGINT)) AS BIGINT) AS fdiv,
        |  CAST(SUM((((CAST(l_quantity AS BIGINT) - 25) % 7) + 7) % 7) AS BIGINT) AS fmod,
        |  SUM(l_quantity / 64.0) AS qd
        |FROM lineitem GROUP BY l_returnflag HAVING COUNT(*) > 1""".stripMargin,
    "apply_udf" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal > 5000 THEN 'gold'
        |       WHEN c_acctbal > 0 THEN 'silver' ELSE 'none' END AS tier
        |FROM customer""".stripMargin,
    "unpack_col" ->
      """SELECT p_partkey, p_brand, p_type FROM part""".stripMargin,
    "argmax_rows" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER
        |    (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "majority" ->
      """SELECT o_orderstatus, majority_value, majority_count FROM (
        |  SELECT o_orderstatus, o_orderpriority AS majority_value, COUNT(*) AS majority_count,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority) WHERE rn = 1""".stripMargin,
    // the Knuth multiplicative row-hash is spelled out so DuckDB replays
    // the apportioning split bit-exactly
    "gradual_broadcast" ->
      """WITH thr AS (SELECT MIN(o_totalprice) AS lower,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS value,
        |  MAX(o_totalprice) AS upper FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN upper = lower THEN lower
        |       WHEN (((o_orderkey % 2147483648) * 506952113) % 2147483648) / 2147483648.0
        |            < (value - lower) / (upper - lower)
        |       THEN upper ELSE lower END AS apx_value
        |FROM orders, thr""".stripMargin,
    "ndarray_sum" ->
      // x widens float→double BEFORE the decimal cast: DuckDB's direct
      // float→decimal rounds differently than its double→decimal (and Spark
      // always goes through double)
      """WITH e AS (SELECT vec_id % 10 AS g,
        |    UNNEST(embedding) AS x, UNNEST(range(len(embedding))) AS i
        |  FROM embeddings)
        |SELECT g, CAST(i AS INT) AS i,
        |  CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) AS s
        |FROM e GROUP BY g, i""".stripMargin,
    "dedup_acceptor" ->
      // recursive-CTE left fold (DuckDB 1.0.0's list_reduce mis-evaluates over
      // grouped lists — verified against a manual fold of its own list output)
      """WITH RECURSIVE base AS (
        |  SELECT user_id, value, ROW_NUMBER() OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        |cnt AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
        |f(user_id, acc, rn) AS (
        |  SELECT user_id, value, 1 FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT f.user_id, CASE WHEN b.value >= f.acc + 1 THEN b.value ELSE f.acc END, f.rn + 1
        |  FROM f JOIN base b ON b.user_id = f.user_id AND b.rn = f.rn + 1)
        |SELECT f.user_id, f.acc AS accepted FROM f JOIN cnt USING (user_id)
        |WHERE f.rn = cnt.c""".stripMargin,
    "asof_now_join" ->
      """WITH l AS (SELECT event_id AS l_id, user_id FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, event_id AS r_id, value AS r_value FROM (
        |  SELECT user_id, event_id, value, ROW_NUMBER() OVER
        |    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT l_id, r_id, r_value FROM l JOIN r USING (user_id)""".stripMargin,
    "stream_upsert" ->
      """SELECT user_id, value FROM (
        |  SELECT user_id, value,
        |    CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS diff,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, CASE WHEN event_type = 'error' THEN -1 ELSE 1 END DESC,
        |               value DESC) AS rn
        |  FROM events) WHERE rn = 1 AND diff > 0""".stripMargin,
    "changelog_agg" ->
      """WITH cl AS (SELECT user_id, value,
        |    CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS diff FROM events),
        |net AS (SELECT user_id, CAST(SUM(diff) AS BIGINT) AS net_count,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * diff) AS DOUBLE) AS net_sum
        |  FROM cl GROUP BY user_id HAVING SUM(diff) > 0),
        |mm AS (SELECT user_id, MIN(v) AS live_min, MAX(v) AS live_max FROM (
        |    SELECT user_id, value AS v, SUM(diff) AS mult FROM cl GROUP BY 1, 2)
        |  WHERE mult > 0 GROUP BY user_id)
        |SELECT net.user_id, net_count, net_sum, net_sum / net_count AS net_avg,
        |  live_min, live_max
        |FROM net JOIN mm USING (user_id)""".stripMargin,
    // generation 0 = even orderkeys, generation 1 = keys not divisible by 3;
    // the changelog is the signed multiset delta between the two states
    "persist_diff" ->
      """WITH p AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |           WHERE o_orderkey % 2 = 0),
        |c AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |      WHERE o_orderkey % 3 <> 0),
        |u AS (SELECT *, CAST(1 AS BIGINT) AS d FROM c
        |      UNION ALL SELECT *, CAST(-1 AS BIGINT) AS d FROM p),
        |g AS (SELECT o_orderkey, o_custkey, o_orderstatus, SUM(d) AS net
        |      FROM u GROUP BY 1, 2, 3)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN net > 0 THEN 1 ELSE -1 END AS INTEGER) AS diff
        |FROM g WHERE net <> 0""".stripMargin,
    // update-mode store: run 1 = every count (+1 diff), run 2 touches only
    // keys %5==0 (retract old count, insert count+1)
    "persist_update_diff" ->
      """WITH c AS (SELECT CAST(o_custkey AS BIGINT) AS k, COUNT(*) AS c
        |           FROM orders GROUP BY 1)
        |SELECT k, c, CAST(1 AS INTEGER) AS diff, CAST(1 AS INTEGER) AS run FROM c
        |UNION ALL SELECT k, c, CAST(-1 AS INTEGER), CAST(2 AS INTEGER) FROM c WHERE k % 5 = 0
        |UNION ALL SELECT k, c + 1, CAST(1 AS INTEGER), CAST(2 AS INTEGER) FROM c WHERE k % 5 = 0""".stripMargin,
    "ignore_late" ->
      """WITH e AS (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts_t FROM events)
        |SELECT event_id, ts_t FROM e
        |WHERE ts_t >= (SELECT MAX(ts_t) FROM e) - INTERVAL 6 HOUR""".stripMargin,
    // Generated oracles (OracleSqlGen): the hash-family pipelines are
    // deterministic end-to-end on the CrossHash md5 family, but need per-seed
    // constants / hyperplane literals / N-way band joins — built from the SAME
    // constants the Spark operators embed.
    "reduce_topk_freq" ->
      """WITH b AS (SELECT o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_custkey % 7 ELSE o_custkey END AS v
        |  FROM orders),
        |c AS (SELECT o_orderstatus, v, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, v AS value, cnt, ROW_NUMBER() OVER (
        |  PARTITION BY o_orderstatus ORDER BY cnt DESC, v ASC) AS rank FROM c)
        |SELECT o_orderstatus, value, cnt, rank FROM r WHERE rank <= 5""".stripMargin,
    // reduce_misra_gries: the sketch's candidate SET depends on encounter
    // order, but its guarantees don't — emit the exact heavy-hitter count
    // (both engines agree) plus the coverage/capacity booleans, literal true
    // in the oracle, asserted for real on the Spark side.
    "reduce_misra_gries" ->
      """WITH b AS (SELECT o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_custkey % 7
        |       ELSE o_custkey END AS VARCHAR) AS v FROM orders),
        |t AS (SELECT o_orderstatus, COUNT(*) AS n FROM b GROUP BY 1),
        |c AS (SELECT o_orderstatus, v, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |h AS (SELECT c.o_orderstatus, COUNT(*) AS n_heavy FROM c
        |  JOIN t USING (o_orderstatus) WHERE cnt * 9 > n GROUP BY 1)
        |SELECT t.o_orderstatus, CAST(COALESCE(h.n_heavy, 0) AS BIGINT) AS n_heavy,
        |  true AS all_covered, true AS within_cap
        |FROM t LEFT JOIN h USING (o_orderstatus)""".stripMargin,
    // reduce_approx_distinct: the sketches themselves can't hash-match (Spark
    // HLL++ vs DuckDB's), so the query asserts the 3·rsd error bound as data —
    // exact count (both engines agree) + within_tol, true on both sides as long
    // as Spark's deterministic estimate stays inside the documented bound.
    "reduce_approx_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_cust, true AS within_tol
        |FROM orders GROUP BY 1""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "rerank_topk" ->
      """WITH q(q_id, q_text) AS (VALUES (CAST(0 AS BIGINT), 'data query window'),
        |                               (CAST(1 AS BIGINT), 'spark join batch'),
        |                               (CAST(2 AS BIGINT), 'hash table scan')),
        |c AS (SELECT q_id, doc_id,
        |    list_distinct(regexp_extract_all(lower(q_text), '[a-z0-9'']+')) AS qt,
        |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS dt
        |  FROM documents JOIN q ON doc_id % 3 = q_id WHERE doc_id < 90),
        |s AS (SELECT q_id, doc_id,
        |    CAST(len(list_intersect(qt, dt)) AS DOUBLE) / CAST(len(qt) AS DOUBLE) AS score
        |  FROM c),
        |r AS (SELECT q_id, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rank FROM s)
        |SELECT q_id, doc_id, score, rank FROM r WHERE rank <= 5""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2""".stripMargin,
    "hmm_decode" ->
      // Viterbi over (F, H) with exact dyadic scores; candidate scan F-first,
      // strictly-greater switches — mirrors Hmm.viterbi's deterministic
      // tie-breaks exactly
      """WITH RECURSIVE
        |ef(obs, e) AS (SELECT * FROM (VALUES ('click', -1.0::DOUBLE), ('view', -0.25::DOUBLE),
        |  ('purchase', -0.5::DOUBLE), ('error', -3.0::DOUBLE), ('signup', -0.5::DOUBLE))),
        |eh(obs, e) AS (SELECT * FROM (VALUES ('click', -0.25::DOUBLE), ('view', -1.5::DOUBLE),
        |  ('purchase', -2.0::DOUBLE), ('error', -0.125::DOUBLE), ('signup', -1.0::DOUBLE))),
        |o AS (SELECT user_id, event_type AS obs,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS rn
        |  FROM events),
        |cnt AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
        |v(user_id, rn, sf, sh, pf, ph) AS (
        |  SELECT o.user_id, 1, -0.75::DOUBLE + ef.e, -0.5::DOUBLE + eh.e, 'F', 'H'
        |  FROM o JOIN ef ON ef.obs = o.obs JOIN eh ON eh.obs = o.obs WHERE rn = 1
        |  UNION ALL
        |  SELECT v.user_id, v.rn + 1,
        |    GREATEST(v.sf + -1.25::DOUBLE, v.sh + -0.5::DOUBLE) + ef.e,
        |    GREATEST(v.sf + -0.5::DOUBLE, v.sh + -1.0::DOUBLE) + eh.e,
        |    (CASE WHEN v.sh + -0.5::DOUBLE > v.sf + -1.25::DOUBLE THEN v.ph ELSE v.pf END) || 'F',
        |    (CASE WHEN v.sh + -1.0::DOUBLE > v.sf + -0.5::DOUBLE THEN v.ph ELSE v.pf END) || 'H'
        |  FROM v JOIN o ON o.user_id = v.user_id AND o.rn = v.rn + 1
        |  JOIN ef ON ef.obs = o.obs JOIN eh ON eh.obs = o.obs)
        |SELECT v.user_id, CASE WHEN sh > sf THEN ph ELSE pf END AS path
        |FROM v JOIN cnt ON cnt.user_id = v.user_id AND v.rn = cnt.c""".stripMargin,
    "error_handling" ->
      // rows whose cast failed (o_orderkey % 3 != 0) were dropped by
      // remove_errors; division errors were filled with -1.0
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 97 = 0 THEN -1.0
        |       ELSE o_totalprice / (o_orderkey % 97) END AS price_per,
        |  CAST(42 AS BIGINT) AS clerk_id
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    "error_table" ->
      """SELECT o_orderkey, 'price_per' AS err_col, 'division by zero' AS err_msg
        |FROM orders WHERE o_orderkey % 97 = 0
        |UNION ALL
        |SELECT o_orderkey, 'clerk_id', 'invalid cast to bigint'
        |FROM orders WHERE o_orderkey % 3 <> 0""".stripMargin,
    // _skip_errors=True: errored inputs (divisor zero at l_linenumber=3)
    // vanish from the reducer, count(*) still counts them
    "error_skip_reduce" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linenumber <> 3 THEN
        |    CAST(floor(CAST(l_quantity AS BIGINT) / CAST(l_linenumber - 3 AS DOUBLE)) AS BIGINT)
        |  END) AS BIGINT) AS sx,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // _skip_errors=False: one errored input poisons the group's reducer
    // (exactly the l_linenumber=3 group), fill_error recovers with -1
    "error_propagate_reduce" ->
      """SELECT l_linenumber,
        |  CAST(CASE WHEN l_linenumber = 3 THEN -1 ELSE
        |    SUM(CAST(floor(CAST(l_quantity AS BIGINT) / CAST(l_linenumber - 3 AS DOUBLE)) AS BIGINT))
        |  END AS BIGINT) AS sx,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_linenumber""".stripMargin,
    "dedup_minhash_lsh" -> OracleSqlGen.dedupMinhashLsh(k = 5, numHashes = 32, bands = 8, threshold = 0.7),
    "dedup_groups" -> OracleSqlGen.dedupGroups(k = 5, numHashes = 32, bands = 8, threshold = 0.7),
    "dedup_keep_best" -> OracleSqlGen.dedupKeepBest(k = 5, numHashes = 32, bands = 8, threshold = 0.7),
    "dedup_pipeline" -> OracleSqlGen.dedupPipeline(k = 5, numHashes = 32, bands = 8, threshold = 0.7),
    "sample_group_cap" -> {
      val slot = graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("CAST(doc_id AS VARCHAR)"))
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY $slot ASC, doc_id ASC) AS rk
         |  FROM documents) WHERE rk <= 10""".stripMargin
    },
    // deliberately the SAME oracle as sample_group_cap: the salted two-phase
    // plan must select the bit-identical set
    "sample_group_cap_hot" -> {
      val slot = graft.functions.CrossHash.duckSigned(
        graft.functions.CrossHash.duckU64("CAST(doc_id AS VARCHAR)"))
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY $slot ASC, doc_id ASC) AS rk
         |  FROM documents) WHERE rk <= 10""".stripMargin
    },
    "dedup_simhash" -> OracleSqlGen.dedupSimhash(maxDist = 3, bands = 4),
    "knn_lsh" -> OracleSqlGen.knnLsh(k = 5, dim = 64, nPlanes = 6, nTables = 12),
    "knn_classify" -> OracleSqlGen.knnClassify(k = 5, dim = 64, nPlanes = 6,
      nTables = 12, nClasses = 3),
    "classifier_accuracy" -> OracleSqlGen.classifierAccuracy(k = 5, dim = 64,
      nPlanes = 6, nTables = 12, nClasses = 3),
    "knn_ivf" -> OracleSqlGen.knnIvf(k = 5, dim = 64, nCells = 16, nProbe = 4,
      refineIters = 2, spill = 3),
    "knn_pq" -> OracleSqlGen.knnPq(k = 5, dim = 64, m = 4, ksub = 8,
      refineIters = 2),
    "knn_ivfadc" -> OracleSqlGen.knnIvfadc(k = 5, dim = 64, m = 4, ksub = 8,
      nCells = 16, nProbe = 4, refineIters = 2, spill = 3),
    "perceptron_quality" -> OracleSqlGen.perceptron(dim = 32, iters = 3,
      threshold = 306L),
    "reduce_countmin" -> OracleSqlGen.reduceCountMin(depth = 4, width = 32,
      topK = 5),
    "clustering_lsh" -> OracleSqlGen.clusteringLsh(dim = 64, k = 3, nPlanes = 4, nTables = 4, lloydIters = 2),
    "dedup_semantic" -> OracleSqlGen.dedupSemantic(dim = 64, k = 3, nPlanes = 4,
      nTables = 4, lloydIters = 2, threshold = 0.95, copyBelow = 50, copyShift = 20000L),
    "dsir_select" -> OracleSqlGen.dsir(buckets = 8192, k = 100, targetMod = 7),
    "diversity_sample" -> OracleSqlGen.diversitySample(dim = 64, k = 3,
      nPlanes = 4, nTables = 4, lloydIters = 2, cap = 50),
    "select_and_curate" -> OracleSqlGen.selectAndCurate(buckets = 8192,
      targetMod = 7, topK = 300,
      mix = Seq(0 -> 0.35, 1 -> 0.25, 2 -> 0.20, 3 -> 0.15, 4 -> 0.05),
      evalMod = 97, k = 5, numHashes = 32, bands = 8, threshold = 0.8,
      deconK = 8, budget = 2048),
    "mixture_plan" ->
      """WITH tk AS (SELECT doc_id % 5 AS src,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS nw
        |  FROM documents),
        |counts AS (SELECT src, CAST(SUM(nw) AS BIGINT) AS tokens FROM tk GROUP BY 1),
        |t(tsrc, w0) AS (VALUES (0, 0.35), (1, 0.25), (2, 0.20), (3, 0.15), (4, 0.05)),
        |j AS (SELECT src, tokens, tokens * 2.0 AS cap, CAST(w0 AS DOUBLE) AS w
        |  FROM counts JOIN t ON src = tsrc),
        |m AS (SELECT MIN(cap / w) AS tstar FROM j)
        |SELECT src, tokens, CAST(FLOOR(cap) AS BIGINT) AS cap,
        |  CAST(FLOOR(w * tstar) AS BIGINT) AS selected,
        |  CAST(FLOOR(1000000 * w * tstar / tokens) AS BIGINT) AS rate_micro,
        |  (cap / w = tstar) AS saturated
        |FROM j, m""".stripMargin,
    "rrf_fusion" -> OracleSqlGen.rrfFusion(k = 5, dim = 64, nPlanes = 6, nTables = 12, k0 = 60, topK = 5),
    "embed_knn" -> OracleSqlGen.embedKnn(dim = 32, k = 3, maxQueryId = 5),
    "louvain" -> OracleSqlGen.louvain(iters = 4),
    "louvain_multilevel" -> OracleSqlGen.louvainMultilevel(iters1 = 3, iters2 = 3),
    "matmul_2d" ->
      """SELECT vec_id, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  list_reduce(list_transform(generate_series(1, 8),
        |    k -> CAST(embedding[i*8 + k] AS DOUBLE) * CAST(embedding[j*8 + k] AS DOUBLE)),
        |    (a, b) -> a + b) AS v
        |FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        |  generate_series(0, 7) t1(i), generate_series(0, 7) t2(j)""".stripMargin,
    "matmul_block" ->
      """WITH a AS (SELECT vec_id AS i, t.k AS k,
        |    CAST(FLOOR(CAST(embedding[t.k + 1] AS DOUBLE) * 16) AS DOUBLE) AS v
        |  FROM embeddings, generate_series(0, 63) t(k) WHERE vec_id < 64),
        |b AS (SELECT t.k AS k, vec_id - 64 AS j,
        |    CAST(FLOOR(CAST(embedding[t.k + 1] AS DOUBLE) * 16) AS DOUBLE) AS v
        |  FROM embeddings, generate_series(0, 63) t(k) WHERE vec_id >= 64 AND vec_id < 128)
        |SELECT a.i, b.j, SUM(a.v * b.v) AS v FROM a JOIN b ON a.k = b.k
        |GROUP BY a.i, b.j""".stripMargin,
    "doc_store_retrieve" -> OracleSqlGen.docStoreRetrieve(dim = 32, k = 3,
      queries = Seq(1L -> "data query window", 2L -> "spark join batch",
        3L -> "hash table scan")),
    "doc_store_hybrid" -> OracleSqlGen.docStoreHybrid(dim = 32, k = 3, k0 = 60,
      queries = Seq(1L -> "data query window", 2L -> "spark join batch",
        3L -> "hash table scan")),
    "udf_changelog" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |cl AS (SELECT k, CAST(1 AS BIGINT) AS time, 1 AS diff, 10 * k + 1 AS x FROM k
        |  UNION ALL SELECT k, CAST(2 AS BIGINT), -1, 10 * k + 1 FROM k WHERE k % 3 = 0
        |  UNION ALL SELECT k, CAST(3 AS BIGINT), 1, 10 * k + 2 FROM k WHERE k % 9 = 0)
        |SELECT k, time, diff, x FROM cl""".stripMargin,
  )
}
