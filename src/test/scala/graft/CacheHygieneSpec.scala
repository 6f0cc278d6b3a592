package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Graphs, LinearModel, Similarity, TrainPrep}
import graft.streaming.Inactivity

/** No net persisted tables after each operator call (r21, VERDICT #4).
  *
  * Every operator that persists internally must release its entries once its
  * result is materialized: on a long-lived 100 TB session, dead
  * MEMORY_AND_DISK entries accumulate invisibly (the bench's clearCache
  * between queries hid the r20 louvainMultilevel/diversitySample leaks).
  * Asserted via the session CacheManager, which tracks exactly
  * `Dataset.persist` entries — `localCheckpoint` blocks are
  * ContextCleaner-managed (freed when the frame becomes unreachable) and are
  * deliberately out of scope. The assertion is a before/after delta of the
  * CacheManager's entry count, so entries other suites left on the shared
  * session neither fail this spec nor get wiped by it.
  *
  * Every in-call persist goes through `Materialize.scoped`, which releases
  * its pins in `finally` — so the failure cases below assert the same zero
  * delta for an operator that THROWS midway.
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The CacheManager's entry count (`numCachedEntries` is package-private
    * to Spark SQL in Scala, public in bytecode). */
  private def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** Run `f`, fully materialize its result, and assert the CacheManager
    * carries no more entries than before. */
  private def assertNoResidue(tag: String)(f: => DataFrame): Unit = {
    val before = cachedEntries
    val out = f
    out.write.mode("overwrite").format("noop").save()
    val after = cachedEntries
    assert(after == before,
      s"$tag left ${after - before} persisted entries behind after its result was consumed")
  }

  /** Run `f`, which must throw an `E`, and assert the CacheManager carries
    * no more entries than before. Returns the exception. */
  private def assertNoResidueOnFailure[E <: Throwable: ClassTag](tag: String)(f: => Any): E = {
    val before = cachedEntries
    val e = intercept[E](f)
    val after = cachedEntries
    assert(after == before, s"$tag left ${after - before} persisted entries behind after it threw")
    e
  }

  private lazy val docs = (0L until 60L).map { i =>
    val fam = i % 7
    (i, s"alpha beta gamma delta epsilon f$fam g$fam h$fam word${i % 3} tail common")
  }.toDF("doc_id", "text")

  private lazy val vecs = (0L until 48L).map { i =>
    (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j) * 2.0))
  }.toDF("id", "v")

  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L),
    (10L, 11L), (11L, 12L), (12L, 10L),
    (4L, 10L), (20L, 21L)).toDF("src", "dst")

  test("minhashLsh releases its signature/prefilter/candidate caches") {
    assertNoResidue("minhashLsh") {
      Dedup.minhashLsh(docs, col("doc_id"), col("text"))
    }
  }

  test("dedupGroups path (minhash + CC) releases its caches") {
    assertNoResidue("dedupGroups") {
      Dedup.dedupGroups(docs, col("doc_id"), col("text"))
    }
  }

  test("connectedComponents releases its loop-invariant edge cache") {
    assertNoResidue("connectedComponents") {
      Graphs.connectedComponents(edges)
    }
  }

  test("pagerank releases its loop-invariant caches") {
    assertNoResidue("pagerank") {
      Graphs.pagerank(edges, iters = 3)
    }
  }

  test("bellmanFord releases its loop-invariant edge cache") {
    assertNoResidue("bellmanFord") {
      Graphs.bellmanFord(
        Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 2L)).toDF("src", "dst", "weight"), 0L)
    }
  }

  test("labelPropagation leaves no loop-pass entries") {
    assertNoResidue("labelPropagation") { Graphs.labelPropagation(edges, iters = 3) }
  }

  test("a bare Iterate.fixpoint leaves no loop-pass entries") {
    assertNoResidue("fixpoint") {
      graft.operators.Iterate.fixpoint(Seq(12L, 5L, 8L).toDF("x"),
        df => df.select(when(col("x") % 2 === 0, col("x") / 2).otherwise(col("x"))
          .cast("long").as("x")))
    }
  }

  test("louvain + louvainMultilevel release every persist (r20 leak)") {
    assertNoResidue("louvain") { Graphs.louvain(edges, iters = 3) }
    assertNoResidue("louvainMultilevel") {
      Graphs.louvainMultilevel(edges, iters1 = 2, iters2 = 2)
    }
  }

  test("louvainAuto releases its pinned level caches") {
    assertNoResidue("louvainAuto") { Graphs.louvainAuto(edges, itersPerLevel = 2) }
  }

  test("diversitySample releases the cluster-assignment cache (r20 leak)") {
    assertNoResidue("diversitySample") {
      TrainPrep.diversitySample(vecs, col("id"), col("v"), dim = 8, k = 4, cap = 3)
    }
  }

  test("ivfKnn / ivfCandidates release the quantized-corpus cache") {
    val q = vecs.filter(col("id") < 4)
    assertNoResidue("ivfKnn") {
      Similarity.ivfKnn(q, col("id"), col("v"), vecs, col("id"), col("v"),
        k = 3, nCells = 4, nProbe = 2, refineIters = 1)
    }
    assertNoResidue("ivfCandidates") {
      Similarity.ivfCandidates(q, col("id"), col("v"), vecs, col("id"), col("v"),
        nCells = 4, nProbe = 2, refineIters = 1)
    }
  }

  test("pqKnn / ivfadcKnn release the quantized-corpus cache") {
    val q = vecs.filter(col("id") < 4)
    assertNoResidue("pqKnn") {
      Similarity.pqKnn(q, col("id"), col("v"), vecs, col("id"), col("v"),
        k = 3, dim = 8, m = 2, ksub = 4, refineIters = 1)
    }
    assertNoResidue("ivfadcKnn") {
      Similarity.ivfadcKnn(q, col("id"), col("v"), vecs, col("id"), col("v"),
        k = 3, dim = 8, m = 2, ksub = 4, nCells = 4, nProbe = 2, refineIters = 1)
    }
  }

  test("embeddingDupPairs releases the SRP bucket cache") {
    assertNoResidue("embeddingDupPairs") {
      Similarity.embeddingDupPairs(vecs, col("id"), col("v"), dim = 8,
        threshold = 0.95)
    }
  }

  test("dsirSelect leaves no cache entry") {
    assertNoResidue("dsirSelect") {
      TrainPrep.dsirSelect(docs, docs.filter(col("doc_id") % 7 === 0),
        col("doc_id"), col("text"), buckets = 64, k = 10)
    }
  }

  test("duplicateSpans leaves no cache entry") {
    assertNoResidue("duplicateSpans") {
      TrainPrep.duplicateSpans(docs, col("doc_id"), col("text"), k = 3)
    }
  }

  test("inactivityDetectionReplay on an empty event log releases its projection cache") {
    val e = assertNoResidueOnFailure[IllegalArgumentException]("inactivityDetectionReplay") {
      Inactivity.inactivityDetectionReplay(Seq.empty[(String, Long)].toDF("u", "t"),
        col("t"), col("u"), allowedTicks = 5L, batchTicks = 10L)
    }
    assert(e.getMessage.contains("empty event log"))
  }

  test("pagerank releases its loop-invariant caches when its edge input throws") {
    // one poisoned row: the first action over the edges (the vertex count,
    // after all three invariants are pinned) fails. The repartition keeps
    // the optimizer from folding the projection into the local relation,
    // which would raise at plan time, before anything is pinned.
    val poisoned = edges.repartition(2).withColumn("src",
      when(col("src") === 20L, raise_error(lit("poisoned edge"))).otherwise(col("src")))
    val e = assertNoResidueOnFailure[Exception]("pagerank") {
      Graphs.pagerank(poisoned, iters = 3)
    }
    assert(e.getMessage.contains("poisoned edge"))
  }

  test("semantic releases the assignment + quantized-vector cache") {
    assertNoResidue("semantic") {
      Dedup.semantic(vecs, col("id"), col("v"), dim = 8, k = 3, threshold = 0.95)
    }
  }

  test("simhashPairs releases the signature cache") {
    assertNoResidue("simhashPairs") { Dedup.simhashPairs(docs, col("doc_id"), col("text")) }
  }

  test("pqIndex releases the quantized-corpus cache") {
    assertNoResidue("pqIndex") {
      Similarity.pqIndex(vecs, col("id"), col("v"), dim = 8, m = 2, ksub = 4,
        refineIters = 1).codes
    }
  }

  test("perceptronClassify releases the feature cache") {
    assertNoResidue("perceptronClassify") {
      LinearModel.perceptronClassify(docs, col("doc_id"), col("text"),
        when(col("doc_id") % 2 === 0, 1L).otherwise(-1L), dim = 16, iters = 2)
    }
  }
}
