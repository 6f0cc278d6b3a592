package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Keys, PwTable}
import graft.operators.Iterate
import graft.streaming.Persistence

/** Replay of `python/pathway/tests/test_persistence_iterate.py` (1,489 LoC)
  * — iterate fixpoints under persisted static reruns. The reference pins:
  * every rerun emits exactly the unit-diff delta of the converged output,
  * and accumulated diffs always leave each row at multiplicity 0 or 1
  * (the "diff amplification" regression guard, :685-713).
  *
  * The chunk-propagation pipeline ("assign each event to the chunk started
  * by the most recent flagged event", :303-331) is run in two forms:
  *  - iterate form — sort prev-pointers + `Iterate` fixpoint, the
  *    reference's own construction, for representative scenarios;
  *  - window form — `last(non-null, ignoreNulls) over (order by time)`,
  *    the Spark-first expression of the same recurrence (one window pass
  *    instead of N self-join iterations), for all 11 scenarios and for the
  *    filter→reduce / reduce pipelines stacked on top.
  * A cross-check asserts both forms agree.
  */
class PersistenceIterateFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-pit").toString

  private def fmt(v: Any): String = v match {
    case null => "None"
    case true => "True"
    case false => "False"
    case other => other.toString
  }

  private def diffSet(df: DataFrame): Set[String] =
    df.collect().map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString(",")).toSet

  private def formatDiffs(old: Set[Seq[Any]], nw: Set[Seq[Any]]): Set[String] =
    (old -- nw).map(r => (r.map(fmt) :+ "-1").mkString(",")) ++
      (nw -- old).map(r => (r.map(fmt) :+ "1").mkString(","))

  // ── basic iterate persistence (test_persistence_iterate.py:204-300) ──────

  test("persistence: iterate with iteration_limit across runs " +
      "(test_persistence_iterate.py:204,:235)") {
    val state = tmp()
    val files = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    def run(in: Seq[(String, Int)], expected: Set[String]): Unit = {
      files ++= in
      val init = files.toSeq.toDF("label", "val")
      val out = Iterate.nTimes(init,
        df => df.select(col("label"), (col("val") + 1).as("val")), 3)
      assert(diffSet(Persistence.runStatic(state, out)) == expected)
    }
    run(Seq(("a", 10), ("b", 20), ("c", 5)), Set("a,13,1", "b,23,1", "c,8,1"))
    run(Seq(("d", 100)), Set("d,103,1"))
  }

  test("persistence: iterate fixpoint with multiple columns across runs " +
      "(test_persistence_iterate.py:262)") {
    val state = tmp()
    val files = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val toZero = (c: org.apache.spark.sql.Column) =>
      when(c > 0, c - 1).when(c < 0, c + 1).otherwise(0)
    def run(in: Seq[(String, Int, Int)], expected: Set[String]): Unit = {
      files ++= in
      val init = files.toSeq.toDF("label", "a", "b")
      val out = Iterate.fixpoint(init,
        df => df.select(col("label"), toZero(col("a")).as("a"), toZero(col("b")).as("b")),
        maxIterations = 30)
      assert(diffSet(Persistence.runStatic(state, out)) == expected)
    }
    run(Seq(("p", 3, 5), ("q", -2, 1)), Set("p,0,0,1", "q,0,0,1"))
    run(Seq(("r", 10, -7)), Set("r,0,0,1"))
  }

  // ── chunk propagation (test_persistence_iterate.py:303-713) ──────────────

  type Event = (Long, Boolean, String) // (event_time, flag, data)

  /** The reference's model oracle (_compute_chunk_assignments, :354). */
  private def chunkModel(events: Map[String, Event]): Set[Seq[Any]] = {
    val sorted = events.values.toSeq.sortBy(_._1)
    var cur: Option[Long] = None
    val assign = scala.collection.mutable.Map[Long, Option[Long]]()
    for ((t, flag, _) <- sorted) {
      if (flag) cur = Some(t)
      assign(t) = cur
    }
    events.values.map { case (t, _, d) =>
      Seq[Any](t, d, assign(t).map(_.asInstanceOf[Any]).orNull)
    }.toSet
  }

  /** Window form: chunk_start = last flagged event_time at or before me. */
  private def chunkWindow(events: Seq[Event]): DataFrame = {
    val w = Window.partitionBy(lit(0)).orderBy(col("event_time"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.toDF("event_time", "flag", "data")
      .withColumn("chunk_start",
        last(when(col("flag"), col("event_time")), ignoreNulls = true).over(w))
      .select("event_time", "data", "chunk_start")
  }

  /** Iterate form — the reference's own construction: sort prev pointers +
    * fixpoint propagating chunk_start from prev (:64-77). */
  private def chunkIterate(events: Seq[Event]): DataFrame = {
    val t = PwTable.fromPrimaryKey(events.toDF("event_time", "flag", "data"), "event_time")
    val s = t.sortWithPrevNext(Seq(col("event_time")), lit(0)).df
      .withColumn("chunk_start", when(col("flag"), col("event_time")))
    def step(cur: DataFrame): DataFrame = {
      val prevTab = cur.select(col(Keys.IdCol).as("_pid"), col("chunk_start").as("_pcs"))
      cur.join(prevTab, col("prev") === col("_pid"), "left")
        .withColumn("chunk_start",
          when(col("flag"), col("event_time")).otherwise(col("_pcs")))
        .drop("_pid", "_pcs")
    }
    Iterate.nTimesConverged(s, step, math.max(events.size, 1))
      .select("event_time", "data", "chunk_start")
  }

  private val chunkScenarios: Seq[(String, Seq[Map[String, Event]])] = Seq(
    "append_after" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c"),
        "d" -> (40L, true, "d"), "e" -> (50L, false, "e"), "f" -> (60L, false, "f")),
      Map("g" -> (70L, true, "g"), "h" -> (80L, false, "h"), "i" -> (90L, false, "i"))),
    "insert_middle_with_flag" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c"),
        "d" -> (40L, false, "d")),
      Map("x" -> (25L, true, "x"))),
    "insert_middle_no_flag" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (40L, false, "c")),
      Map("x" -> (30L, false, "x"))),
    "insert_before" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c")),
      Map("x" -> (5L, true, "x"))),
    "flip_true_to_false" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, true, "c"),
        "d" -> (40L, false, "d")),
      Map("c" -> (30L, false, "c"))),
    "flip_false_to_true" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c"),
        "d" -> (40L, false, "d")),
      Map("c" -> (30L, true, "c"))),
    "split_then_rejoin" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c"),
        "d" -> (40L, false, "d")),
      Map("c" -> (30L, true, "c")),
      Map("c" -> (30L, false, "c"))),
    "split_twice" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c"),
        "d" -> (40L, false, "d"), "e" -> (50L, false, "e")),
      Map("c" -> (30L, true, "c")),
      Map("x" -> (45L, true, "x"))),
    "merge_one_split_another" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, true, "c"),
        "d" -> (40L, false, "d"), "e" -> (50L, true, "e"), "f" -> (60L, false, "f")),
      Map("c" -> (30L, false, "c")),
      Map("x" -> (55L, true, "x"))),
    "repeated_appends" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b")),
      Map("c" -> (30L, false, "c"), "d" -> (40L, true, "d")),
      Map("e" -> (50L, false, "e"), "f" -> (60L, false, "f")),
      Map("g" -> (70L, true, "g"))),
    "split_append_merge" -> Seq(
      Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c")),
      Map("b" -> (20L, true, "b")),
      Map("d" -> (40L, false, "d")),
      Map("b" -> (20L, false, "b"))))

  test("persistence: chunk-propagation diffs across runs for all 11 scenarios " +
      "(test_persistence_iterate.py:399-713, window form) with multiplicity guard") {
    for ((name, runs) <- chunkScenarios) {
      val state = tmp()
      val events = scala.collection.mutable.Map[String, Event]()
      var prev = Set.empty[Seq[Any]]
      val accumulated = scala.collection.mutable.Map[Seq[Any], Int]().withDefaultValue(0)
      for ((changes, i) <- runs.zipWithIndex) {
        events ++= changes
        val expectedRows = chunkModel(events.toMap)
        val expected = formatDiffs(prev, expectedRows)
        assert(expected.nonEmpty, s"$name run ${i + 1}: scenario must produce diffs")
        prev = expectedRows
        val diff = Persistence.runStatic(state, chunkWindow(events.values.toSeq))
        val rows = diff.collect()
        val got = rows.map(r => (0 until r.length).map(j => fmt(r.get(j))).mkString(",")).toSet
        assert(got == expected, s"$name run ${i + 1}")
        // accumulated multiplicity 0/1 guard (:685-713)
        for (r <- rows) {
          val key = (0 until r.length - 1).map(r.get(_)).toSeq
          accumulated(key) += r.getInt(r.length - 1)
        }
        assert(accumulated.values.forall(m => m == 0 || m == 1),
          s"$name run ${i + 1}: non-unit accumulated multiplicity")
        val active = accumulated.collect { case (k, 1) => k }.toSet
        assert(active == expectedRows, s"$name run ${i + 1}: accumulated state")
      }
    }
  }

  test("persistence: chunk propagation via the reference's iterate construction " +
      "matches the window form and the model (split_then_rejoin, repeated_appends)") {
    for (name <- Seq("split_then_rejoin", "repeated_appends")) {
      val runs = chunkScenarios.toMap.apply(name)
      val state = tmp()
      val events = scala.collection.mutable.Map[String, Event]()
      var prev = Set.empty[Seq[Any]]
      for ((changes, i) <- runs.zipWithIndex) {
        events ++= changes
        val expectedRows = chunkModel(events.toMap)
        val expected = formatDiffs(prev, expectedRows)
        prev = expectedRows
        val out = chunkIterate(events.values.toSeq)
        assert(diffSet(Persistence.runStatic(state, out)) == expected, s"$name run ${i + 1}")
      }
    }
  }

  test("persistence: iterate→filter→reduce and iterate→reduce pipelines across runs " +
      "(test_persistence_iterate.py:1226,:1370) for all 11 scenarios") {
    for ((name, runs) <- chunkScenarios) {
      val stateF = tmp(); val stateR = tmp()
      val events = scala.collection.mutable.Map[String, Event]()
      var prevF = Set.empty[Seq[Any]]
      var prevR = Set.empty[Seq[Any]]
      for ((changes, i) <- runs.zipWithIndex) {
        events ++= changes
        // model: count per chunk (filtered > 10 / unfiltered)
        val assignments = {
          val sorted = events.values.toSeq.sortBy(_._1)
          var cur: Option[Long] = None
          sorted.map { case (t, flag, _) =>
            if (flag) cur = Some(t); (t, cur)
          }
        }
        val countsAll = assignments.flatMap(_._2).groupBy(identity)
          .map { case (cs, xs) => Seq[Any](cs, xs.size.toLong) }.toSet
        val countsFiltered = assignments.collect { case (_, Some(cs)) if cs > 10 => cs }
          .groupBy(identity).map { case (cs, xs) => Seq[Any](cs, xs.size.toLong) }.toSet

        val base = chunkWindow(events.values.toSeq)
        val filtered = base.filter(coalesce(col("chunk_start"), lit(0L)) > 10)
          .groupBy("chunk_start").agg(count(lit(1)).as("count"))
        val reduced = base.groupBy("chunk_start").agg(count(lit(1)).as("count"))
          .filter(col("chunk_start").isNotNull)

        val gotF = diffSet(Persistence.runStatic(stateF, filtered))
        assert(gotF == formatDiffs(prevF, countsFiltered), s"$name run ${i + 1} filter_reduce")
        prevF = countsFiltered
        val gotR = diffSet(Persistence.runStatic(stateR, reduced))
        assert(gotR == formatDiffs(prevR, countsAll), s"$name run ${i + 1} reduce")
        prevR = countsAll
      }
    }
  }

  // ── iterate with extra tables (test_persistence_iterate.py:782-1030) ─────

  test("persistence: iterate with an extra (non-iterated) table across runs " +
      "(test_persistence_iterate.py:782)") {
    val state = tmp()
    val vals = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    val bonus = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    def pipeline(): DataFrame = {
      val b = bonus.toSeq.toDF("label", "add").withColumnRenamed("label", "_bl")
      Iterate.nTimes(vals.toSeq.toDF("label", "val"),
        cur => cur.join(b, col("label") === col("_bl"))
          .select(col("label"),
            when(col("val") < 100, col("val") + col("add")).otherwise(col("val")).as("val")),
        6)
    }
    def run(v: Seq[(String, Int)], b: Seq[(String, Int)], expected: Set[String]): Unit = {
      vals ++= v; bonus ++= b
      assert(diffSet(Persistence.runStatic(state, pipeline())) == expected)
    }
    run(Seq(("a", 10), ("b", 5)), Seq(("a", 30), ("b", 50)), Set("a,100,1", "b,105,1"))
    run(Seq(("c", 7)), Seq(("c", 100)), Set("c,107,1"))
    run(Nil, Nil, Set())
  }

  test("persistence: extra table row updated between runs — affected row " +
      "reconverges (test_persistence_iterate.py:869)") {
    val state = tmp()
    val bonus = scala.collection.mutable.Map[String, Int]()
    def run(expected: Set[String]): Unit = {
      val b = bonus.toSeq.toDF("label", "add").withColumnRenamed("label", "_bl")
      val out = Iterate.nTimes(Seq(("a", 10)).toDF("label", "val"),
        cur => cur.join(b, col("label") === col("_bl"))
          .select(col("label"),
            when(col("val") < 100, col("val") + col("add")).otherwise(col("val")).as("val")),
        6)
      assert(diffSet(Persistence.runStatic(state, out)) == expected)
    }
    bonus("a") = 30
    run(Set("a,100,1"))
    bonus("a") = 95
    run(Set("a,100,-1", "a,105,1"))
  }

  test("persistence: extra table fed from another iterate's output " +
      "(test_persistence_iterate.py:933)") {
    val state = tmp()
    val vals = scala.collection.mutable.ArrayBuffer[(String, String, Int)]()
    val bonusRaw = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    def run(v: Seq[(String, String, Int)], b: Seq[(String, Int)],
        expected: Set[String]): Unit = {
      vals ++= v; bonusRaw ++= b
      // iterate 1: double `add` until >= 50
      val bonus = Iterate.nTimes(bonusRaw.toSeq.toDF("label", "add"),
        cur => cur.select(col("label"),
          when(col("add") < 50, col("add") * 2).otherwise(col("add")).as("add")),
        4).withColumnRenamed("label", "_bl")
      // iterate 2: pointer lookup into the converged bonus
      val out = Iterate.nTimes(vals.toSeq.toDF("label", "ref", "val"),
        cur => cur.join(bonus, col("ref") === col("_bl"))
          .select(col("label"), col("ref"),
            when(col("val") < 100, col("val") + col("add")).otherwise(col("val")).as("val")),
        4).select("label", "val")
      assert(diffSet(Persistence.runStatic(state, out)) == expected)
    }
    run(Seq(("a", "x", 10)), Seq(("x", 30)), Set("a,130,1"))
    run(Seq(("b", "x", 5)), Nil, Set("b,125,1"))
    run(Nil, Nil, Set())
  }

  // ── iterate around aggregations (test_persistence_iterate.py:1144-1363) ──

  test("persistence: groupby→iterate(+10) diffs across runs " +
      "(test_persistence_iterate.py:1144)") {
    val state = tmp()
    val words = scala.collection.mutable.ArrayBuffer[String]()
    var prev = Set.empty[Seq[Any]]
    def run(newWords: Seq[String]): Unit = {
      words ++= newWords
      val expectedRows = words.groupBy(identity)
        .map { case (w, xs) => Seq[Any](w, xs.size.toLong + 10L) }.toSet
      val counts = words.toSeq.toDF("word").groupBy("word").agg(count(lit(1)).as("count"))
      val out = Iterate.nTimes(counts,
        cur => cur.select(col("word"), (col("count") + 1).as("count")), 10)
      assert(diffSet(Persistence.runStatic(state, out)) == formatDiffs(prev, expectedRows))
      prev = expectedRows
    }
    run((0 until 100).map(i => s"word${i % 10}"))
    run((0 until 50).map(i => s"word${i % 10}") :+ "brandnew")
  }

  test("persistence: reduce→iterate→reduce grand-total diffs across runs " +
      "(test_persistence_iterate.py:1261)") {
    val state = tmp()
    val sales = scala.collection.mutable.Map[String, (String, Int)]()
    var prev = Set.empty[Seq[Any]]
    def model(): Set[Seq[Any]] = {
      val totals = sales.values.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val discounted = totals.map { case (_, t) =>
        var v = t; while (v > 50) v = v / 2; v
      }
      Set(Seq[Any](discounted.sum.toLong))
    }
    def run(changes: Map[String, (String, Int)], expectEmpty: Boolean = false): Unit = {
      sales ++= changes
      val expectedRows = model()
      val expected = if (expectEmpty) Set.empty[String] else formatDiffs(prev, expectedRows)
      prev = expectedRows
      val sums = sales.values.toSeq.toDF("product", "amount")
        .groupBy("product").agg(sum("amount").as("total"))
      val discounted = Iterate.nTimes(sums,
        cur => cur.select(col("product"),
          when(col("total") > 50, floor(col("total") / 2)).otherwise(col("total")).as("total")),
        8)
      val grand = discounted.agg(sum("total").as("grand"))
      assert(diffSet(Persistence.runStatic(state, grand)) == expected)
    }
    run(Map("s1" -> ("widgets", 50), "s2" -> ("widgets", 30),
      "s3" -> ("gadgets", 30), "s4" -> ("gizmos", 120)))
    run(Map("s5" -> ("bolts", 200), "s6" -> ("widgets", 20)))
    run(Map.empty, expectEmpty = true)
  }

  // ── chained iterates (test_persistence_iterate.py:1412) ──────────────────

  test("persistence: two chained iterates across runs (test_persistence_iterate.py:1412)") {
    val state = tmp()
    val events = scala.collection.mutable.Map[String, Event]()
    var prev = Set.empty[Seq[Any]]
    def model(): Set[Seq[Any]] = {
      val sorted = events.values.toSeq.sortBy(_._1)
      var chunk: Option[Long] = None; var tag: Option[Long] = None
      sorted.map { case (t, flag, d) =>
        if (flag) { chunk = Some(t); tag = Some(t * 10) }
        Seq[Any](t, d, chunk.map(_.asInstanceOf[Any]).orNull,
          tag.map(_.asInstanceOf[Any]).orNull)
      }.toSet
    }
    def pipeline(): DataFrame = {
      val t = PwTable.fromPrimaryKey(
        events.values.toSeq.toDF("event_time", "flag", "data"), "event_time")
      val s = t.sortWithPrevNext(Seq(col("event_time")), lit(0)).df
        .withColumn("chunk_start", when(col("flag"), col("event_time")))
        .withColumn("tag", when(col("flag"), col("event_time") * 10))
      def mkStep(c: String): DataFrame => DataFrame = cur => {
        val prevTab = cur.select(col(Keys.IdCol).as("_pid"), col(c).as("_pv"))
        cur.join(prevTab, col("prev") === col("_pid"), "left")
          .withColumn(c, when(col("flag"),
            if (c == "tag") col("event_time") * 10 else col("event_time"))
            .otherwise(col("_pv")))
          .drop("_pid", "_pv")
      }
      val it1 = Iterate.nTimesConverged(s, mkStep("chunk_start"), math.max(events.size, 1))
      val it2 = Iterate.nTimesConverged(it1, mkStep("tag"), math.max(events.size, 1))
      it2.select("event_time", "data", "chunk_start", "tag")
    }
    def run(changes: Map[String, Event]): Unit = {
      events ++= changes
      val expectedRows = model()
      assert(diffSet(Persistence.runStatic(state, pipeline())) == formatDiffs(prev, expectedRows))
      prev = expectedRows
    }
    run(Map("a" -> (10L, true, "a"), "b" -> (20L, false, "b"), "c" -> (30L, false, "c")))
    run(Map("d" -> (40L, false, "d"), "e" -> (50L, false, "e")))
  }
}
