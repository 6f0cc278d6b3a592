package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Clustering via LSH pre-bucketing (reference
  * stdlib/ml/classifiers/_clustering_via_lsh.py: LSH-bucket the points,
  * cluster the per-bucket representatives, then each point takes the majority
  * vote over its buckets' cluster labels).
  *
  * The reference clusters bucket representatives with sklearn KMeans on the
  * driver; here the Lloyd iterations are DataFrame joins — representatives are
  * usually small enough to broadcast, but nothing collects, so the same plan
  * holds when the bucket table itself is huge.
  *
  * Determinism device (same family as pagerank's fixed-point ranks): vectors
  * are quantized to exact BIGINTs (floor(x·2^40) — float→double is exact and a
  * ×2^40 only shifts the exponent, so the floor sees exact input). Cosine is
  * scale-invariant, so bucket representatives and centroids are represented by
  * component SUMS (never divided): all state stays exact integer arithmetic,
  * and the only floating point is the final left-to-right cosine fold —
  * bit-reproducible in any IEEE engine, which is what makes the DuckDB oracle
  * (OracleSqlGen.clusteringLsh) exact.
  */
object Clustering {

  private val Q = 1099511627776L // 2^40

  /** floor-quantize a float/double array column to exact BIGINTs. */
  def quantize(vec: Column): Column = {
    import org.apache.spark.sql.GraftExprBridge
    GraftExprBridge.column(
      graft.functions.QuantizeVec(GraftExprBridge.expression(vec), Q))
  }

  /** Euclidean LSH bucketer (stdlib/ml/classifiers/_lsh.py:31
    * generate_euclidean_lsh_bucketer; r16 decode of
    * stdlib/ml/classifiers/test_lsh.py): project the point onto M×L unit
    * gaussian lines, add a uniform [0, A) shift, floor-divide by the bucket
    * length A; each band (OR) is the tuple of its M consecutive bucket
    * indices (ANDs). Returns the L band-key strings per point. Lines/shifts
    * are seeded-deterministic (partition-invariant) like [[Similarity.srpPlanes]];
    * the reference seeds numpy the same way — its tests assert the
    * STRUCTURE (L bands; close points share a band, distant ones never do),
    * which is generator-independent. */
  def euclideanLshBands(d: Int, M: Int, L: Int, A: Double,
      seed: Long = 0): Seq[Double] => Seq[String] = {
    val rnd = new scala.util.Random(0x5eed ^ seed)
    val totalLines = M * L
    val lines = Array.fill(totalLines) {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val shifts = Array.fill(totalLines)(rnd.nextDouble() * A)
    (x: Seq[Double]) => {
      val xs = x.toArray
      (0 until L).map { band =>
        (0 until M).map { m =>
          val li = band * M + m
          var dot = 0.0; var i = 0
          while (i < d) { dot += xs(i) * lines(li)(i); i += 1 }
          math.floor((dot + shifts(li)) / A).toLong
        }.mkString(",")
      }
    }
  }

  /** Cosine LSH bucketer (generate_cosine_lsh_bucketer): same band shape
    * over signed random projections (the SRP family [[Similarity.srpPlanes]]
    * uses) — bucket bit = sign of the projection. */
  def cosineLshBands(d: Int, M: Int, L: Int, seed: Long = 0): Seq[Double] => Seq[String] = {
    val rnd = new scala.util.Random(0x5eed ^ seed)
    val lines = Array.fill(M * L)(Array.fill(d)(rnd.nextGaussian()))
    (x: Seq[Double]) => {
      val xs = x.toArray
      (0 until L).map { band =>
        (0 until M).map { m =>
          val li = band * M + m
          var dot = 0.0; var i = 0
          while (i < d) { dot += xs(i) * lines(li)(i); i += 1 }
          if (dot > 0) "1" else "0"
        }.mkString
      }
    }
  }

  /** stdlib `lsh(data, bucketer)` flattening: one row per (point, band) with
    * the band index (`bucketing`, 0..L-1 — test_lsh_bucketing) and the band
    * key (`band`). Candidate generation is then a plain equi-join /
    * groupBy on (bucketing, band) — the reference's downstream shape. */
  def lshFlatten(points: DataFrame, id: Column, vec: Column,
      bucketer: Seq[Double] => Seq[String]): DataFrame = {
    val sess = points.sparkSession
    import sess.implicits._
    points.select(id.cast("long").as("data_id"), vec.cast("array<double>").as("_v"))
      .as[(Long, Seq[Double])]
      .flatMap { case (pid, v) =>
        bucketer(v).zipWithIndex.map { case (key, band) => (pid, band, key) }
      }.toDF("data_id", "bucketing", "band")
  }

  /** LSH pre-clustering: returns (id, label) with label ∈ [0, k).
    *
    * Pipeline: SRP-bucket each point into `nTables` (table, bucket) groups →
    * representative per bucket = component-sum + member count → spherical
    * k-means over representatives (init = the k lexicographically-smallest
    * buckets, `lloydIters` synchronous passes, cosine argmax with
    * (score DESC, cluster ASC) tie-break; empty clusters keep their previous
    * centroid) → each point votes with all its buckets, majority label wins
    * (ties → smaller label).
    *
    * The returned assignment is MATERIALIZED (localCheckpoint — one narrow
    * (id, label) row per point), so the scope releases the nTables×-wider
    * bucketed-corpus pin (r21) and no consumer (semanticDedup's per-cluster
    * self-join, diversitySample's two capPerGroup scans, the clustering_lsh
    * row) re-runs the vote/window plan per scan. */
  def viaLsh(points: DataFrame, id: Column, vec: Column, dim: Int, k: Int,
      nPlanes: Int = 4, nTables: Int = 4, lloydIters: Int = 2): DataFrame =
    Materialize.scoped { pin =>
    // Quantize + all nTables bucket strings in ONE mapPartitions kernel:
    // expression HOFs (aggregate/zip_with) are CodegenFallback-interpreted
    // (same lesson as the minhash gram kernel, SURVEY §8), and nTables
    // projections of them dominated this operator's cost. The kernel emits
    // the exploded (pid, qv, table, bucket) rows directly — arithmetic is
    // bit-identical to srpBucket's left-to-right double fold.
    val sess = points.sparkSession
    import sess.implicits._
    val planes: Array[Array[Array[Double]]] = Array.tabulate(nTables)(t =>
      Similarity.srpPlanes(t, nPlanes, dim).map(_.toArray).toArray)
    val b = pin(points.select(id.cast("long").as("pid"),
        vec.cast("array<double>").as("_v"))
      .as[(Long, Seq[Double])].mapPartitions { it =>
        it.flatMap { case (pid, v) =>
          val qv = new Array[Long](v.length)
          var i = 0
          while (i < v.length) { qv(i) = math.floor(v(i) * Q).toLong; i += 1 }
          (0 until nTables).iterator.map { t =>
            val sb = new java.lang.StringBuilder(nPlanes)
            var p = 0
            while (p < nPlanes) {
              var acc = 0.0; var j = 0
              val pl = planes(t)(p)
              while (j < qv.length) { acc += qv(j).toDouble * pl(j); j += 1 }
              sb.append(if (acc > 0) '1' else '0'); p += 1
            }
            (pid, qv.toSeq, t, sb.toString)
          }
        }
      }.toDF("pid", "_qv", "_table", "_bucket"))

    // representative per (table, bucket): component sums — exact, and they
    // already encode the member count (the reference's sample_weight: the
    // weighted mean's direction Σ w_b·mean_b IS the sum). explode → sum →
    // reassemble is the shuffle-shaped elementwise vector sum (map-side
    // combine on (_table,_bucket,idx)).
    val comp = b.select(col("_table"), col("_bucket"), posexplode(col("_qv")).as(Seq("_i", "_x")))
      .groupBy("_table", "_bucket", "_i").agg(sum("_x").as("_s"))
    val reps = comp.groupBy("_table", "_bucket").agg(
        transform(array_sort(collect_list(struct(col("_i"), col("_s")))), e => e("_s")).as("_rv"))

    // The representative table is bounded by nTables·2^nPlanes rows REGARDLESS
    // of corpus size — that is the whole point of LSH pre-clustering — so the
    // k-means over representatives runs on the driver (the reference clusters
    // them with driver-side sklearn KMeans too). One distributed job computes
    // the reps; everything per-point (bucketing, votes) stays distributed.
    // All arithmetic is exact Long sums; the only doubles are the cosine folds,
    // accumulated left-to-right exactly like Similarity.cosine's aggregate()
    // HOF, so the DuckDB oracle reproduces every comparison bit-for-bit.
    val repRows: Array[(Int, String, Array[Long])] = reps
      .select(col("_table"), col("_bucket"), col("_rv")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getSeq[Long](2).toArray))
      .sortBy { case (t, bkt, _) => (t, bkt) }
    def cos(a: Array[Long], bb: Array[Long]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * bb(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += bb(i).toDouble * bb(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val n = repRows.length
    // init: deterministic farthest-point traversal (greedy k-center, the
    // k-means++ max variant): c1 = lexicographically-smallest bucket, then
    // c_j = the rep minimizing its max cosine to the already-chosen set
    // (ties → smaller rep id). Spreads the seeds across the sphere so
    // well-separated cones never share all k seeds (naive first-k does).
    val chosen = scala.collection.mutable.ArrayBuffer(0) // rid-1 indexes
    for (_ <- 2 to math.min(k, n)) {
      var bestIdx = -1; var bestMs = Double.MaxValue
      for (i <- 0 until n if !chosen.contains(i)) {
        val ms = chosen.map(c => cos(repRows(i)._3, repRows(c)._3)).max
        if (ms < bestMs) { bestMs = ms; bestIdx = i } // strict < → smaller rid wins ties
      }
      chosen += bestIdx
    }
    var centroids: Array[Array[Long]] = chosen.map(i => repRows(i)._3).toArray

    // assignment: nearest centroid by cosine, (score DESC, cluster ASC)
    // tie-break — ascending scan with strict > keeps the smaller cluster.
    def assignAll(): Array[Int] = repRows.map { case (_, _, rv) =>
      var bestC = 0; var bestS = Double.MinValue
      for (c <- centroids.indices) {
        val s = cos(rv, centroids(c))
        if (s > bestS) { bestS = s; bestC = c }
      }
      bestC
    }
    // Lloyd passes: new centroid = Σ (rep sums) over members — the weighted
    // mean's direction (Σ w_b·mean_b = Σ sums_b), so no division ever happens;
    // empty clusters keep their previous centroid.
    for (_ <- 1 to lloydIters) {
      val asg = assignAll()
      centroids = centroids.indices.map { c =>
        val members = repRows.indices.filter(i => asg(i) == c)
        if (members.isEmpty) centroids(c)
        else members.map(i => repRows(i)._3)
          .reduce((x, y) => Array.tabulate(x.length)(i => x(i) + y(i)))
      }.toArray
    }

    // final rep labels → per-point majority vote over its nTables buckets
    val finalAsg = assignAll()
    val labels = repRows.indices.toList
      .map(i => (repRows(i)._1, repRows(i)._2, finalAsg(i).toLong))
      .toDF("_table", "_bucket", "_label")
    val votes = b.select(col("pid"), col("_table"), col("_bucket"))
      .join(broadcast(labels), Seq("_table", "_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("_cnt").desc, col("_label").asc)
    Materialize.eager(votes.groupBy("pid", "_label").agg(count(lit(1)).as("_cnt"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("pid").as("id"), col("_label").as("label")))
  }
}
