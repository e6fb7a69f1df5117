package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.KMeans
import graft.store.VectorIndex

/** The two-level (hierarchical) coarse quantizer — the 10⁹-vector
  * IVF build path (the r11 residue item): assignment costs k1 + k2
  * distances per vector instead of nCells, the artifact stays
  * byte-compatible with the flat build, and the quantization-error
  * premium is bounded and measured. */
class TwoLevelSpec extends SparkSpec {

  /** Deterministic corpus with REAL cluster structure (8 planted
    * centers, small noise) — the regime coarse quantizers exist for. */
  private def clustered(n: Int, dim: Int = 6) = {
    import spark.implicits._
    (0L until n.toLong).map { id =>
      val c = (id % 8).toInt
      val v = Array.tabulate(dim)(j =>
        math.cos(c * 2.4 + j * 1.3) * 4.0 + math.sin(id * 0.7 + j) * 0.3)
      (id, v)
    }.toDF("vec_id", "v")
  }

  private def inertiaOf(assigned: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]]): Double = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    e.join(assigned, "vec_id").select(col("cluster").cast("int"), col("v"))
      .as[(Int, Array[Double])]
      .map { case (cell, v) =>
        val c = bc.value(cell)
        var d = 0.0; var j = 0
        while (j < c.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        d
      }.reduce(_ + _)
  }

  test("fitTwoLevel partitions the corpus; every sub-assignment is the argmin within its coarse group") {
    import spark.implicits._
    val e = clustered(400).cache()
    try {
      val (assigned, flat, coarse) = KMeans.fitTwoLevel(spark, e, nCells = 16, iters = 3)
      val rows = assigned.as[(Long, Int)].collect()
      // a partition: every vector exactly once, cells within the flat id space
      assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
      val k1 = coarse.length
      val k2 = flat.length / k1
      assert(rows.forall { case (_, c) => c >= 0 && c < flat.length })
      // internal consistency, recomputed independently: the assigned
      // sub-cell is the argmin among the vector's OWN coarse group's
      // children (first-wins on exact ties, the padded-duplicate rule)
      val vecs = e.as[(Long, Array[Double])].collect().toMap
      def d2(a: Array[Double], b: Array[Double]) = {
        var d = 0.0; var j = 0
        while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
        d
      }
      rows.foreach { case (id, cell) =>
        val v = vecs(id)
        val g = cell / k2
        // its coarse group must be the nearest coarse centroid —
        // recomputed with PRODUCTION's float form (|c|² − 2·v·c, the
        // assignExpr argmin; the subtract-square form can disagree
        // on near-equidistant vectors by float rounding alone)
        def coarseScore(i: Int) = {
          val c = coarse(i)
          var dot = 0.0; var c2 = 0.0; var j = 0
          while (j < c.length) { dot += v(j) * c(j); c2 += c(j) * c(j); j += 1 }
          c2 - dot * 2
        }
        val gBest = coarse.indices.minBy(i => (coarseScore(i), i))
        assert(g == gBest, s"vec $id: coarse $g != recomputed $gBest")
        val children = (0 until k2).map(s => flat(g * k2 + s))
        val sBest = children.indices.minBy(s => (d2(v, children(s)), s))
        assert(cell % k2 == sBest, s"vec $id: sub ${cell % k2} != argmin $sBest")
      }
    } finally e.unpersist()
  }

  test("two-level quantization error is within 1.5x of the flat fit on a clustered corpus") {
    val e = clustered(600).cache()
    try {
      val (fa, fc, _) = KMeans.fit(spark, e, k = 16, iters = 3, trackInertia = false)
      val (ta, tc, _) = KMeans.fitTwoLevel(spark, e, nCells = 16, iters = 3)
      val flatInertia = inertiaOf(fa, e, fc)
      val twoInertia = inertiaOf(ta, e, tc)
      assert(twoInertia <= flatInertia * 1.5,
        s"two-level inertia $twoInertia vs flat $flatInertia exceeds the 1.5x premium bound")
    } finally e.unpersist()
  }

  test("buildIvfTwoLevel artifact is drop-in: all-probe == brute exactly; probe, filter, tombstones inherited") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivf2").toString
    val e = clustered(300).cache()
    try {
      VectorIndex.buildIvfTwoLevel(spark, e, tmp, nCells = 9, iters = 2)
      // byte-compatible layout: partition dirs + flat centroid rows + coarse model
      assert(new java.io.File(s"$tmp/ivf_vectors").listFiles()
        .exists(_.getName.startsWith("cluster=")), "lost the inverted-list layout")
      assert(new java.io.File(s"$tmp/ivf_coarse").exists())
      val nCentroids = VectorIndex.loadIvfCentroids(spark, tmp).length
      assert(nCentroids >= 9, s"flat id space should cover nCells, got $nCentroids")
      val qv = e.filter(col("vec_id") === 5L).select("v")
        .head().getSeq[Double](0).toArray
      // all-probe serving through the two-level artifact == brute force
      val got = VectorIndex.annIvf(spark, tmp, qv, 7, nCentroids, Some(5L))
        .select("vec_id").as[Long].collect().toSeq
      val brute8 = e.filter(col("vec_id") =!= 5L)
        .select(col("vec_id"),
          cosineNative6(col("v"), array(qv.toIndexedSeq.map(lit): _*)).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(8)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == brute8.take(7),
        "all-probe through the two-level artifact must equal brute")
      // partial probe returns a subset of the corpus without error
      assert(VectorIndex.annIvf(spark, tmp, qv, 7, 2, Some(5L)).count() <= 7)
      // tombstones: inherited unchanged (shared serving scan)
      VectorIndex.tombstone(spark, tmp, Seq(brute8.head).toDF("vec_id"))
      val after = VectorIndex.annIvf(spark, tmp, qv, 7, nCentroids, Some(5L))
        .select("vec_id").as[Long].collect().toSeq
      assert(after == brute8.tail,
        "tombstoned id must vanish and the next-best fill in")
    } finally e.unpersist()
  }

  test("degenerate corpora: fewer vectors than coarse seeds still partition and serve") {
    import spark.implicits._
    // 3 vectors, nCells = 4 (k1 = 2 wanted, only what exists seeds)
    val tiny = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (2L, Array(5.0, 5.0)))
      .toDF("vec_id", "v")
    val (assigned, flat, coarse) = KMeans.fitTwoLevel(spark, tiny, nCells = 4, iters = 2)
    val rows = assigned.as[(Long, Int)].collect()
    assert(rows.length == 3 && rows.map(_._1).distinct.length == 3)
    assert(coarse.nonEmpty && flat.nonEmpty && flat.length % coarse.length == 0)
    assert(rows.forall { case (_, c) => c >= 0 && c < flat.length })
    // and the artifact form serves: all-probe == brute on the tiny set
    val tmp = Files.createTempDirectory("ivf2tiny").toString
    VectorIndex.buildIvfTwoLevel(spark, tiny, tmp, nCells = 4, iters = 1)
    val n = VectorIndex.loadIvfCentroids(spark, tmp).length
    val got = VectorIndex.annIvf(spark, tmp, Array(1.0, 0.1), 3, n, None)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.length == 3 && got.head == 0L) // nearest to (1, 0.1) is vec 0
  }

  test("cellStats: shifted appends surface as imbalance; tombstoned rows don't count") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("cellstats").toString
    val e = clustered(240).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 6, iters = 2)
      val (cells0, imb0) = VectorIndex.cellStats(spark, tmp)
      assert(cells0.agg(org.apache.spark.sql.functions.sum("n"))
        .head().getLong(0) == 240L)
      assert(imb0 >= 1.0 && imb0 < 4.0,
        s"the planted 8-cluster corpus should start roughly balanced, got $imb0")
      // a SHIFTED arrival: 300 copies of one planted anchor region —
      // frozen-model assignment piles them into one cell
      val shifted = (1000L until 1300L).map { id =>
        (id, Array.tabulate(6)(j => math.cos(2.4 + j * 1.3) * 4.0 + 0.01 * (id % 7)))
      }.toDF("vec_id", "v")
      VectorIndex.appendIvf(spark, tmp, shifted)
      val (cells1, imb1) = VectorIndex.cellStats(spark, tmp)
      assert(imb1 > imb0 * 1.5, s"shifted appends must raise imbalance: $imb0 -> $imb1")
      val hot = cells1.head()
      assert(hot.getAs[Long]("n") >= 300L, "the hot cell should hold the shifted batch")
      // tombstoning the shifted batch restores the reading
      VectorIndex.tombstone(spark, tmp,
        (1000L until 1300L).toDF("vec_id"))
      val (_, imb2) = VectorIndex.cellStats(spark, tmp)
      assert(math.abs(imb2 - imb0) < 0.3,
        s"tombstoned rows must not count: $imb2 vs pre-append $imb0")
      // a FULLY tombstoned artifact (legal: every doc deleted) must
      // report, not crash — the dashboard's own heavy-deletion state
      VectorIndex.tombstone(spark, tmp, (0L until 1000L).toDF("vec_id"))
      val (emptyCells, imbEmpty) = VectorIndex.cellStats(spark, tmp)
      assert(emptyCells.count() == 0 && imbEmpty == 0.0)
    } finally e.unpersist()
  }

  test("flat rebuild over a two-level dir clears the stale hierarchical artifacts") {
    val tmp = Files.createTempDirectory("ivf2stale").toString
    val e = clustered(200).cache()
    try {
      VectorIndex.buildIvfTwoLevel(spark, e, tmp, nCells = 9, iters = 1)
      assert(new java.io.File(s"$tmp/ivf_coarse").exists())
      assert(new java.io.File(s"$tmp/ivf_two_level.json").exists())
      // ops rebuilds FLAT into the same dir (the cellStats/drift
      // rebuild trigger); a stale coarse model + stale k2 would map
      // two-level probes onto the new unrelated flat ids
      VectorIndex.buildIvf(spark, e, tmp, nCells = 6, iters = 1)
      assert(!new java.io.File(s"$tmp/ivf_coarse").exists(),
        "stale coarse model survived the flat rebuild")
      assert(!new java.io.File(s"$tmp/ivf_two_level.json").exists(),
        "stale two-level metadata survived the flat rebuild")
      // the two-level probe now fails loudly instead of serving wrong
      intercept[Exception] {
        VectorIndex.annIvf(spark, tmp, Array.fill(6)(0.0), 3, 2, coarseProbe = 2).collect()
      }
    } finally e.unpersist()
  }

  test("two-level probe: all-coarse equals the flat probe exactly; partial coarse bounds the model read") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivf2probe").toString
    val e = clustered(300).cache()
    try {
      VectorIndex.buildIvfTwoLevel(spark, e, tmp, nCells = 12, iters = 2)
      val meta = spark.read.json(s"$tmp/ivf_two_level.json").head()
      val k1 = meta.getAs[Long]("k1").toInt
      val k2 = meta.getAs[Long]("k2").toInt
      assert(k1 >= 2 && k1 * k2 >= 12)
      val qv = e.filter(col("vec_id") === 17L).select("v")
        .head().getSeq[Double](0).toArray
      // coarseProbe = k1: the candidate cell set is the full model, so
      // the two-level serving path == the flat one, row for row
      for (nProbe <- Seq(2, 4)) {
        val flat = VectorIndex.annIvf(spark, tmp, qv, 6, nProbe, Some(17L))
          .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val two = VectorIndex.annIvf(spark, tmp, qv, 6, nProbe, Some(17L), coarseProbe = k1)
          .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(two == flat, s"nProbe=$nProbe: two-level $two != flat $flat")
      }
      // partial coarseProbe: every served row comes from a cell inside
      // the probed coarse groups (recomputed independently)
      val coarse = VectorIndex.loadIvfCentroids(spark, s"$tmp") // flat model for ground truth
      def d2(a: Array[Double], b: Array[Double]) = {
        var d = 0.0; var j = 0
        while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
        d
      }
      val coarseModel = {
        val rows = spark.read.parquet(s"$tmp/ivf_coarse").collect()
        val k = rows.map(_.getInt(0)).max + 1
        val dim = rows.map(_.getInt(1)).max + 1
        val cs = Array.fill(k)(new Array[Double](dim))
        rows.foreach(r => cs(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        cs
      }
      val topGroups = coarseModel.indices
        .sortBy(g => (d2(qv, coarseModel(g)), g)).take(2).toSet
      val partial = VectorIndex.annIvf(spark, tmp, qv, 6, 3, Some(17L), coarseProbe = 2)
      val assignOf = spark.read.parquet(s"$tmp/ivf_vectors")
        .select(col("vec_id"), col("cluster").cast("int"))
        .as[(Long, Int)].collect().toMap
      partial.select("vec_id").as[Long].collect().foreach { id =>
        assert(topGroups.contains(assignOf(id) / k2),
          s"vec $id served from outside the probed coarse groups")
      }
      assert(coarse.length == k1 * k2) // the flat model the partial probe avoided loading
    } finally e.unpersist()
  }

  test("two-level probe with candidates: full probe equals the brute filtered top-k") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivf2cands").toString
    val e = clustered(300).cache()
    try {
      VectorIndex.buildIvfTwoLevel(spark, e, tmp, nCells = 12, iters = 2)
      val k1 = spark.read.json(s"$tmp/ivf_two_level.json").head().getAs[Long]("k1").toInt
      val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
      val cands = (0L until 300L).filter(_ % 3 == 1).toDF("vec_id")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      for (qid <- Seq(4L, 17L)) {
        val qv = e.filter(col("vec_id") === qid).select("v").head().getSeq[Double](0).toArray
        val brute = rows(e.join(cands, Seq("vec_id"), "left_semi")
          .filter(col("vec_id") =!= qid)
          .select(col("vec_id"), cosineNative6(col("v"), array(qv.toIndexedSeq.map(lit): _*)).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(6))
        val two = rows(VectorIndex.annIvf(spark, tmp, qv, 6, nCells, Some(qid),
          candidates = Some(cands), coarseProbe = k1))
        assert(brute.nonEmpty && two == brute, s"query $qid: two-level $two vs brute $brute")
      }
    } finally e.unpersist()
  }

  test("exact centroid ties: the flat and the two-level probe pick the same cells and rows") {
    import spark.implicits._
    // a hand-written two-level index (k1 = 2 groups of k2 = 2 cells)
    // whose cells 1 (group 0) and 2 (group 1) share one centroid, so
    // a query between them ties exactly; the tie goes to the lower
    // cell id whichever group the coarse probe ranks first
    val tmp = Files.createTempDirectory("ivf2ties").toString
    val cents = Seq(Array(1.0, 0.0), Array(0.5, 0.5), Array(0.5, 0.5), Array(0.0, 1.0))
    def centroidRows(cs: Seq[Array[Double]]) =
      cs.zipWithIndex.flatMap { case (c, i) => c.indices.map(d => (i, d, c(d))) }
        .toDF("c", "dim", "x")
    centroidRows(cents).write.parquet(s"$tmp/ivf_centroids")
    centroidRows(Seq(Array(0.75, 0.25), Array(0.25, 0.75))).write.parquet(s"$tmp/ivf_coarse")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/ivf_two_level.json"),
      """{"format": "graft-ivf2-v1", "k1": 2, "k2": 2}""")
    (0 until 40).map { i =>
      val cell = i % 4
      val c = cents(cell)
      (i.toLong, Array(c(0) + 0.01 * (i / 4), c(1) + 0.02 * (i % 3)), cell)
    }.toDF("vec_id", "v", "cluster")
      .write.partitionBy("cluster").parquet(s"$tmp/ivf_vectors")
    val cellOf = (0 until 40).map(i => i.toLong -> i % 4).toMap
    for (qv <- Seq(Array(0.6, 0.4), Array(0.4, 0.6)); nProbe <- 1 to 3) {
      val flat = VectorIndex.probedScan(spark, tmp, qv, nProbe)
        .select("vec_id").as[Long].collect().toSet
      val two = VectorIndex.probedScan(spark, tmp, qv, nProbe, coarseProbe = 2)
        .select("vec_id").as[Long].collect().toSet
      assert(two == flat, s"q=${qv.toSeq} nProbe=$nProbe: cells ${two.map(cellOf)} vs ${flat.map(cellOf)}")
      if (nProbe == 1) assert(flat.map(cellOf) == Set(1), "an exact tie goes to the lower cell id")
      val rows = (df: org.apache.spark.sql.DataFrame) => df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows(VectorIndex.annIvf(spark, tmp, qv, 5, nProbe, coarseProbe = 2)) ==
        rows(VectorIndex.annIvf(spark, tmp, qv, 5, nProbe)))
    }
  }

  test("rangeSearch through the index: all-probe == brute ball exactly; partial probe is a subset") {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosineNative6
    val tmp = Files.createTempDirectory("ivfrange").toString
    val e = clustered(250).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8, iters = 2)
      val n = VectorIndex.loadIvfCentroids(spark, tmp).length
      val qv = e.filter(col("vec_id") === 11L).select("v")
        .head().getSeq[Double](0).toArray
      val tau = 0.9
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "cos").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = rows(e.filter(col("vec_id") =!= 11L)
        .select(col("vec_id"),
          cosineNative6(col("v"), array(qv.toIndexedSeq.map(lit): _*)).as("cos"))
        .filter(col("cos") >= tau)
        .orderBy(col("cos").desc, col("vec_id")))
      assert(brute.nonEmpty, "the planted cluster must put neighbours in the ball")
      val got = rows(VectorIndex.rangeSearch(spark, tmp, qv, tau, n, Some(11L)))
      assert(got == brute, "all-probe range search must equal the brute ball")
      val partial = rows(VectorIndex.rangeSearch(spark, tmp, qv, tau, 2, Some(11L)))
      assert(partial.toSet.subsetOf(brute.toSet),
        "partial probe must return a subset of the exact ball")
    } finally e.unpersist()
  }

  test("appendIvf: frozen-cell append serves exactly; assignment is the recomputed nearest cell") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivfapp").toString
    val e = clustered(200).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 6, iters = 2)
      // a later batch (same planted geometry, new ids)
      val batch = clustered(240).filter(col("vec_id") >= 200L).cache()
      try {
        assert(VectorIndex.appendIvf(spark, tmp, batch) == 40L)
        // every appended row landed in its RECOMPUTED nearest cell —
        // partition pruning stays honest for the new rows
        val centroids = VectorIndex.loadIvfCentroids(spark, tmp)
        def d2(a: Array[Double], b: Array[Double]) = {
          var d = 0.0; var j = 0
          while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
          d
        }
        spark.read.parquet(s"$tmp/ivf_vectors")
          .filter(col("vec_id") >= 200L)
          .select(col("vec_id"), col("v"), col("cluster").cast("int"))
          .as[(Long, Array[Double], Int)].collect()
          .foreach { case (id, v, cell) =>
            val best = centroids.indices.minBy(i => (d2(v, centroids(i)), i))
            assert(cell == best, s"appended vec $id in cell $cell, nearest is $best")
          }
        // all-probe serving over old + new == brute over the union
        val all = e.union(batch)
        val qv = all.filter(col("vec_id") === 210L).select("v")
          .head().getSeq[Double](0).toArray
        val got = VectorIndex.annIvf(spark, tmp, qv, 6, centroids.length, Some(210L))
          .select("vec_id").as[Long].collect().toSeq
        val brute = all.filter(col("vec_id") =!= 210L)
          .select(col("vec_id"),
            graft.functions.VectorFunctions.cosineNative6(col("v"),
              array(qv.toIndexedSeq.map(lit): _*)).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(6)
          .select("vec_id").as[Long].collect().toSeq
        assert(got == brute, "all-probe over old+new must equal brute over the union")
        // an appended id is servable by id AND deletable by tombstone
        VectorIndex.tombstone(spark, tmp, Seq(210L).toDF("vec_id"))
        assert(!VectorIndex.annIvf(spark, tmp, qv, 6, centroids.length, None)
          .select("vec_id").as[Long].collect().contains(210L))
      } finally batch.unpersist()
    } finally e.unpersist()
  }
}
