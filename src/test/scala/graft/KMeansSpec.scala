package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.{KMeans, Pq, VectorQueries}
import graft.sources.{Loaders, Tables}
import graft.store.VectorIndex

class KMeansSpec extends SparkSpec {

  test("kmeans inertia is non-increasing and assignment is deterministic") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val (assign, centroids, inertias) = KMeans.fit(spark, e, k = 8, iters = 5)
    assert(centroids.length == 8)
    assert(inertias.size == 5)
    inertias.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-6, s"inertia rose: $a -> $b") }
    val counts = assign.groupBy("cluster").count().collect()
    assert(counts.length <= 8 && counts.map(_.getLong(1)).sum == 500)
    val again = KMeans.e02Kmeans(spark, sf0001).collect().toSeq
    assert(again == KMeans.e02Kmeans(spark, sf0001).collect().toSeq)
  }

  test("e03 cluster-balanced sample: per-cluster quota, deterministic, skew-resistant") {
    import org.apache.spark.sql.functions._
    val sample = KMeans.e03ClusterSample(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val all = KMeans.e02Kmeans(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // Same 8-cluster geometry base (e03 refits with 3 iters, so only
    // structural properties are compared, not assignments).
    val perCluster = sample.groupBy(_._2).view.mapValues(_.length).toMap
    // QUOTA: no cluster exceeds it; clusters smaller than the quota
    // keep everything (balanced, not a uniform rate).
    assert(perCluster.values.forall(_ <= KMeans.ClusterQuota),
      s"quota exceeded: $perCluster")
    val sizes = KMeans.e03ClusterSample(spark, sf0001) // determinism
    assert(sizes.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == sample.toSeq)
    // A 500-vector corpus over 8 clusters with quota 40 keeps at most
    // 320 — dense clusters MUST have been downsampled.
    assert(sample.length <= KMeans.SampleClusters * KMeans.ClusterQuota)
    assert(sample.length < all.length, "sampling kept everything")
    // Every sampled id exists in the corpus.
    assert(sample.map(_._1).toSet.subsetOf(all.map(_._1).toSet))
  }

  test("e04 silhouette: exact on a planted 2-cluster case, near 1 when separated, lower when merged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Two tight planted clusters far apart: centroids (0,0)/(10,0),
    // each point at distance 1 from its own centroid and ~sqrt(82)
    // ... use exact coordinates so s is hand-derivable.
    val pts = Seq(
      (0L, Array(1.0, 0.0), 0), (1L, Array(-1.0, 0.0), 0),
      (2L, Array(11.0, 0.0), 1), (3L, Array(9.0, 0.0), 1))
    val df = pts.map { case (id, v, c) => (id, v, c) }.toDF("vec_id", "v", "cluster")
    val centroids = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val rows = KMeans.silhouette(spark, df, centroids).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // cluster 0: point 0 has a=1, b=9 -> s=8/9; point 1 a=1, b=11 -> 10/11
    val want0 = math.rint((8.0 / 9 + 10.0 / 11) / 2 * 1e6) / 1e6
    assert(rows(0) == ((2L, want0)), s"${rows(0)} vs $want0")
    assert(rows(1)._1 == 2L && rows(1)._2 == want0, "symmetric layout scores equal")

    // Separated beats merged: the same points against one far and
    // one ON-TOP centroid pair must score lower than the true split.
    val bad = Array(Array(0.0, 0.0), Array(0.5, 0.0))
    val badAssign = df.withColumn("cluster",
      when(col("vec_id") < 2, 0).otherwise(1))
    val badMean = KMeans.silhouette(spark, badAssign, bad).collect()
      .map(_.getDouble(2)).sum / 2
    assert(badMean < want0, s"merged centroids must score lower: $badMean")

    // The corpus entry returns one row per cluster with valid range.
    val e04 = KMeans.e04Silhouette(spark, sf0001).collect()
    assert(e04.length == 8 && e04.forall(r =>
      r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
  }

  test("e05 centroid classify: perfect on separated planted labels; smaller label wins exact ties") {
    import spark.implicits._
    // three separated label clusters: members are small perturbations
    // around orthogonal-ish anchors, so each vector's own label
    // centroid is its nearest by construction
    val anchors = Map(0 -> Array(10.0, 0.0, 0.0), 1 -> Array(0.0, 10.0, 0.0),
      2 -> Array(0.0, 0.0, 10.0))
    val planted = (0L until 60L).map { id =>
      val lbl = (id % 3).toInt
      val a = anchors(lbl)
      (id, a.zipWithIndex.map { case (x, j) => x + math.sin(id * 1.3 + j) * 0.4 }, lbl)
    }.toDF("vec_id", "v", "label")
    val out = graft.operators.ExtendedQueries.centroidClassify(spark, planted)
      .collect()
    assert(out.length == 60)
    assert(out.forall(r => r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")),
      "separated clusters must classify perfectly")
    // tie-break: a corpus where labels 1 and 2 have IDENTICAL
    // centroids (same two mirrored members) — every vector's cosine
    // ties exactly, and the SMALLER label must win
    val tied = Seq(
      (0L, Array(1.0, 1.0), 1), (1L, Array(3.0, 3.0), 1),
      (2L, Array(1.0, 1.0), 2), (3L, Array(3.0, 3.0), 2))
      .toDF("vec_id", "v", "label")
    val tiedOut = graft.operators.ExtendedQueries.centroidClassify(spark, tied).collect()
    assert(tiedOut.forall(_.getAs[Int]("pred_label") == 1),
      "exact cosine tie must resolve to the smaller label")
  }

  /** Plain driver-side Lloyd's — the exact anchor the distributed fits
    * are held to: each vector goes to its nearest centroid (the first
    * one on an exact tie), each centroid moves to its members' mean,
    * and a centroid without members stays where it is. */
  private def sq(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
  private def nearest(v: Array[Double], cs: Array[Array[Double]]): Int =
    cs.indices.minBy(i => sq(v, cs(i)))
  private def driverLloyd(vs: Array[Array[Double]], seeds: Array[Array[Double]],
      iters: Int): Array[Array[Double]] =
    (0 until iters).foldLeft(seeds) { (cs, _) =>
      val own = vs.map(nearest(_, cs))
      cs.indices.map { i =>
        val mem = vs.indices.filter(own(_) == i).map(vs)
        if (mem.isEmpty) cs(i)
        else Array.tabulate(cs(i).length)(j => mem.map(_(j)).sum / mem.length)
      }.toArray
    }

  /** (vec_id, v) of the sf0.001 corpus in hash-spread seed order —
    * ascending (xxhash64(vec_id), vec_id). */
  private def seedOrdered(): Array[(Long, Array[Double])] =
    Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private def assertClose(got: Array[Array[Double]], want: Array[Array[Double]],
      what: String): Unit = {
    assert(got.length == want.length, s"$what: ${got.length} vs ${want.length} centroids")
    got.indices.foreach { i =>
      assert(got(i).indices.forall(j => math.abs(got(i)(j) - want(i)(j)) <= 1e-9),
        s"$what: centroid $i differs from the driver-side Lloyd's")
    }
  }

  test("exact anchor: fit (literal and typed assignment), fitTwoLevel's children and Pq.train equal a driver-side Lloyd's") {
    val corpus = seedOrdered()
    val byId = corpus.toMap
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")).cache()
    try {
      val vs = corpus.map(_._2)
      // fit at k ≤ FitExprMaxK (literal argmin) and above it (typed map)
      for (k <- Seq(8, KMeans.FitExprMaxK + 8)) {
        val (assign, cs, _) = KMeans.fit(spark, e, k, 3, trackInertia = false)
        val want = driverLloyd(vs, vs.take(k), 3)
        assertClose(cs, want, s"fit k=$k")
        assign.collect().foreach { r =>
          assert(r.getInt(1) == nearest(byId(r.getLong(0)), want), s"fit k=$k: vec ${r.getLong(0)}")
        }
      }
      // fitTwoLevel: per coarse group, a Lloyd's from the group's
      // hash-spread seeds (padded with its first seed)
      val (assign, flat, coarse) = KMeans.fitTwoLevel(spark, e, nCells = 16, iters = 3)
      val k2 = flat.length / coarse.length
      val groups = corpus.groupBy { case (_, v) => nearest(v, coarse) }
      val children = coarse.indices.map { g =>
        val mem = groups.getOrElse(g, Array.empty).map(_._2) // seed order kept
        val seeds = if (mem.isEmpty) Array.fill(k2)(coarse(g))
          else mem.take(k2) ++ Array.fill(k2 - mem.take(k2).length)(mem.head)
        driverLloyd(mem, seeds, 3)
      }
      assertClose(flat, children.flatten.toArray, "fitTwoLevel")
      assign.collect().foreach { r =>
        val v = byId(r.getLong(0)); val g = nearest(v, coarse)
        assert(r.getInt(1) == g * k2 + nearest(v, children(g)), s"fitTwoLevel: vec ${r.getLong(0)}")
      }
      // Pq.train: one Lloyd's per subspace from the K hash-spread seeds
      val cb = Pq.train(spark, e)
      val sub = vs(0).length / Pq.M
      def slice(v: Array[Double], s: Int) = v.slice(s * sub, (s + 1) * sub)
      val want = Array.tabulate(Pq.M)(s =>
        driverLloyd(vs.map(slice(_, s)), vs.take(Pq.K).map(slice(_, s)), 3))
      (0 until Pq.M).foreach(s => assertClose(cb(s), want(s), s"Pq.train subspace $s"))
      Pq.encode(spark, e, cb).collect().foreach { r =>
        val v = byId(r.getLong(0))
        assert(r.getSeq[Int](1) == (0 until Pq.M).map(s => nearest(slice(v, s), want(s))),
          s"Pq codes: vec ${r.getLong(0)}")
      }
    } finally e.unpersist()
  }

  test("fits never persist their input: no cache outlives fit, fitTwoLevel, fitCells or Pq.train") {
    val sc = spark.sparkContext
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val before = sc.getPersistentRDDs.keySet
    val (a1, _, _) = KMeans.fit(spark, e, k = 8, iters = 2)
    val (a2, _, _) = KMeans.fitTwoLevel(spark, e, nCells = 16, iters = 2)
    val cells = KMeans.fitCells(spark, e, nCells = 8, iters = 2,
      twoLevelCells = Int.MaxValue, cellCap = 1000, cellTarget = 500)
    Pq.train(spark, e)
    // the returned assignments are lazy plans: reading them caches nothing
    Seq(a1, a2, cells.assign).foreach(a => assert(a.count() == 500))
    assert(sc.getPersistentRDDs.size == before.size &&
      sc.getPersistentRDDs.keySet == before, "a fit left a cache behind")
  }

  test("cell bounds: one pass — a zero vector unbounds its cell, a memberless cell gets no row; persisted fills +inf, in-entry -inf") {
    import spark.implicits._
    // cells 0, 1 and 3 hold members, cell 2 none; cell 1 holds a zero vector
    val vecs = Seq((0L, 0, Array(3.0, 4.0)), (1L, 0, Array(4.0, 3.0)),
      (2L, 1, Array(1.0, 0.0)), (3L, 1, Array(0.0, 0.0)), (4L, 3, Array(0.0, 2.0)))
      .toDF("vec_id", "cluster", "v")
    val unit = vecs.as[(Long, Int, Array[Double])].map { case (_, c, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      (c, if (n > 0) v.map(_ / n) else v)
    }
    val rows = KMeans.cellBounds(spark, unit)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 3), "one row per cell with members")
    // cell 0: x̂ = (0.6, 0.8) and (0.8, 0.6) → ĉ = (0.7, 0.7), r̂ = √0.02
    assert(rows(0)._2.zip(Seq(0.7, 0.7)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(rows(0)._3 - math.sqrt(0.02)) < 1e-12)
    assert(rows(1)._3 == Double.PositiveInfinity, "a zero vector unbounds its cell")
    assert(rows(2)._3 == 0.0 && rows(2)._2.toSeq == Seq(0.0, 1.0))

    val dir = Files.createTempDirectory("cellbounds").toString
    vecs.write.parquet(s"$dir/ivf_vectors")
    VectorIndex.buildCellBounds(spark, dir)
    val (pm, pr) = VectorIndex.loadCellBoundArrays(spark, dir, 4)
    assert(pr.toSeq.drop(1) == Seq(Double.PositiveInfinity, Double.PositiveInfinity, 0.0),
      "persisted: the zero-vector cell and the memberless cell are unbounded")
    assert(pm(2).toSeq == Seq(0.0, 0.0))
    val e = vecs.withColumn("nv", normNative(col("v")))
    val (im, ir) = VectorQueries.cellBoundStats(spark, e, vecs.select("vec_id", "cluster"), 4)
    assert(ir(1) == Double.PositiveInfinity && ir(2) == Double.NegativeInfinity && im(2) == null,
      "in-entry: the zero-vector cell is unbounded, the memberless cell can contribute nothing")
    assert(math.abs(ir(0) - pr(0)) < 1e-12 && ir(3) == 0.0)
  }

  test("loadText reads a directory of files into the documents schema") {
    val tmp = java.nio.file.Files.createTempDirectory("docs")
    java.nio.file.Files.writeString(tmp.resolve("a.txt"), "hello spark world")
    java.nio.file.Files.writeString(tmp.resolve("b.txt"), "second document text here")
    val df = Loaders.loadText(spark, s"$tmp/*.txt")
    assert(df.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 2)
    assert(rows.exists(_.getAs[String]("text").contains("hello spark")))
    assert(rows.forall(r => r.getAs[Long]("n_chars") == r.getAs[String]("text").length))
  }
}
