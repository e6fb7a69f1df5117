package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.VectorIndex

/** Adaptive-nProbe IVF serving (VERDICT r11 #3): probe the nearest
  * cells, then ONLY the cells whose per-cell cosine bound could still
  * tie or beat the pooled k-th. The contract under test is strict —
  * the adaptive result must EQUAL the all-cells probe row for row
  * (the bound is sound, not heuristic), while scanning measurably
  * fewer cells on a corpus with real cluster structure. */
class AdaptiveProbeSpec extends SparkSpec {

  /** Eight DIRECTIONALLY separated clusters (cluster c points along
    * axis c with small off-axis jitter) — the premise regime
    * (production embedding spaces) where nearby cells hold all the
    * cosine neighbours and far cells' bounds exclude them. Clusters
    * that differ only in MAGNITUDE along a shared ray would all look
    * alike to cosine and the bound could prune nothing. */
  private def clustered(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val c = i % 8
      (i.toLong,
        Array.tabulate(8)(j =>
          (if (j == c) 4.0 else 0.0) + 0.3 * math.sin(i * 2.3 + j * 1.1)))
    }.toDF("vec_id", "v")
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("adaptive probe returns EXACTLY the all-cells result while scanning fewer cells") {
    val tmp = Files.createTempDirectory("adaptive").toString
    val e = clustered(400).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
      VectorIndex.buildCellBounds(spark, tmp)
      val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
      var totalProbed = 0
      var totalCells = 0
      (0 until 12).foreach { qi =>
        val qv = e.filter(col("vec_id") === qi.toLong)
          .select("v").head().getSeq[Double](0).toArray
        val full = rows(VectorIndex.annIvf(spark, tmp, qv, 10, nCells,
          Some(qi.toLong)))
        val ad = VectorIndex.annIvfAdaptive(spark, tmp, qv, 10,
          initialProbe = 2, excludeVecId = Some(qi.toLong))
        assert(rows(ad.result) == full,
          s"adaptive rows diverged from the full probe for query $qi")
        totalProbed += ad.probedCells.size
        totalCells += ad.nCells
      }
      info(s"adaptive probed $totalProbed / $totalCells cells across 12 queries")
      assert(totalProbed < totalCells,
        "adaptive probe never skipped a cell on the clustered corpus")
      // the win should be substantial where the premise holds
      assert(totalProbed.toDouble / totalCells <= 0.75,
        s"adaptive probe scanned ${totalProbed.toDouble / totalCells} of cells")
      // and the scan stays partition-pruned: the probe set reaches
      // the parquet reader as a PartitionFilters clause, not a row
      // filter over a full scan
      val qv0 = e.filter(col("vec_id") === 0L)
        .select("v").head().getSeq[Double](0).toArray
      val plan = VectorIndex.annIvfAdaptive(spark, tmp, qv0, 10,
        initialProbe = 2, excludeVecId = Some(0L))
        .result.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PartitionFilters: [cluster"),
        "adaptive probe scan lost partition pruning")
    } finally e.unpersist()
  }

  test("FILTERED adaptive probe == all-cells filtered probe exactly, fewer cells, partition-pruned") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("adaptive-filtered").toString
    val e = clustered(400).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
      VectorIndex.buildCellBounds(spark, tmp)
      val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
      // a selective candidate filter (every third vector): the bound
      // is filter-oblivious, so pruning stays sound under the
      // semi-join — rows must EQUAL the all-cells filtered probe
      val cands = (0 until 400).filter(_ % 3 == 0)
        .map(_.toLong).toDF("vec_id")
      var probed = 0; var total = 0
      (0 until 8).foreach { qi =>
        val qv = e.filter(col("vec_id") === qi.toLong)
          .select("v").head().getSeq[Double](0).toArray
        val full = rows(VectorIndex.annIvf(spark, tmp, qv, 5, nCells,
          candidates = Some(cands)))
        val ad = VectorIndex.annIvfAdaptive(spark, tmp, qv, 5,
          initialProbe = 2, candidates = Some(cands))
        assert(rows(ad.result) == full,
          s"filtered adaptive diverged from the all-cells filtered probe for query $qi")
        probed += ad.probedCells.size
        total += ad.nCells
      }
      info(s"filtered adaptive probed $probed / $total cells across 8 queries")
      assert(probed < total, "filtered adaptive never skipped a cell")
      // partition pruning survives the candidate semi-join
      val qv0 = e.filter(col("vec_id") === 0L)
        .select("v").head().getSeq[Double](0).toArray
      val plan = VectorIndex.annIvfAdaptive(spark, tmp, qv0, 5,
          initialProbe = 2, candidates = Some(cands))
        .result.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PartitionFilters: [cluster"),
        "filtered adaptive scan lost partition pruning")
    } finally e.unpersist()
  }

  test("underfilled first batch falls back to probing every remaining cell (k > pool)") {
    val tmp = Files.createTempDirectory("adaptive-small").toString
    val e = clustered(40).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
      VectorIndex.buildCellBounds(spark, tmp)
      val qv = e.filter(col("vec_id") === 0L)
        .select("v").head().getSeq[Double](0).toArray
      // k = 39 > any single batch: the pool cannot fill from the
      // initial probe, so every cell must be scanned and the result
      // equals the full probe trivially.
      val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
      val full = rows(VectorIndex.annIvf(spark, tmp, qv, 39, nCells, Some(0L)))
      val ad = VectorIndex.annIvfAdaptive(spark, tmp, qv, 39,
        initialProbe = 1, excludeVecId = Some(0L))
      assert(rows(ad.result) == full)
      assert(ad.probedCells.size == ad.nCells,
        "an underfilled pool must probe everything")
    } finally e.unpersist()
  }

  test("append EXTENDS the bounds under the frozen mean — adaptive stays live and exact; tombstones respected") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("adaptive-extend").toString
    val e = clustered(400).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
      VectorIndex.buildCellBounds(spark, tmp)
      val qv = e.filter(col("vec_id") === 3L)
        .select("v").head().getSeq[Double](0).toArray
      // tombstoned ids never serve through the adaptive path either
      VectorIndex.tombstone(spark, tmp, Seq(11L).toDF("vec_id"))
      val got = VectorIndex.annIvfAdaptive(spark, tmp, qv, 10,
        initialProbe = 2, excludeVecId = Some(3L))
        .result.collect().map(_.getLong(0)).toSet
      assert(!got.contains(11L), "adaptive probe leaked a tombstoned id")
      def radii(): Map[Int, Double] = spark.read
        .parquet(s"$tmp/ivf_cellbounds").collect()
        .map(r => r.getInt(0) -> r.getDouble(2)).toMap
      val before = radii()
      // The worst case for a stale bound: an appended OUTLIER far
      // outside its cell's recorded radius (equidistant from every
      // axis cluster) that is the TRUE top-1 for a query aimed at it.
      // Without the r̂ extension the adaptive probe could prune its
      // cell and silently miss it — with the extension, serving stays
      // live (no rebuild) and still row-equal to the all-cells probe.
      val outlier = Array.tabulate(8)(_ => 2.0)
      VectorIndex.appendIvf(spark, tmp, Seq((1000L, outlier)).toDF("vec_id", "v"))
      assert(new java.io.File(s"$tmp/ivf_cellbounds").exists(),
        "appendIvf must keep the bounds live (extended), not invalidate them")
      val after = radii()
      assert(after.keySet == before.keySet, "append must not add/drop bound rows")
      assert(after.exists { case (c, r) => r > before(c) },
        "the outlier append must have extended its cell's radius")
      assert(after.forall { case (c, r) => r >= before(c) },
        "extension may only grow radii under the frozen mean")
      val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
      // adaptive == all-cells probe, both for the original query ...
      val full3 = rows(VectorIndex.annIvf(spark, tmp, qv, 10, nCells, Some(3L)))
      val ad3 = VectorIndex.annIvfAdaptive(spark, tmp, qv, 10,
        initialProbe = 2, excludeVecId = Some(3L))
      assert(rows(ad3.result) == full3, "post-append adaptive lost exactness")
      // ... and for the outlier-aimed query whose true top-1 is the
      // appended row itself
      val fullO = rows(VectorIndex.annIvf(spark, tmp, outlier, 10, nCells, None))
      val adO = VectorIndex.annIvfAdaptive(spark, tmp, outlier, 10,
        initialProbe = 1)
      assert(rows(adO.result) == fullO,
        "adaptive missed the appended outlier a stale bound would hide")
      assert(fullO.head._1 == 1000L, "the outlier must be its own top-1")
      // a maintenance buildCellBounds only TIGHTENS the extended radii
      VectorIndex.buildCellBounds(spark, tmp)
      val rebuilt = radii()
      assert(rebuilt.forall { case (c, r) => r <= after(c) + 1e-12 },
        "recomputed radii must be at most the extended over-cover")
      val ad3b = VectorIndex.annIvfAdaptive(spark, tmp, qv, 10,
        initialProbe = 2, excludeVecId = Some(3L))
      assert(rows(ad3b.result) == full3, "post-maintenance adaptive lost exactness")
    } finally e.unpersist()
  }

  test("zero vectors: the adaptive outcome equals the probe-all outcome under ANSI on and off") {
    import spark.implicits._
    import scala.util.Try
    /** Rows with their nullable cos, or the failure's error condition. */
    def outcome(df: => DataFrame): Either[String, Seq[(Long, Option[Double])]] =
      Try(df.collect().map(r => (r.getLong(0), Option.when(!r.isNullAt(1))(r.getDouble(1)))).toSeq)
        .toEither.left.map { t =>
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
            case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
          }.getOrElse(t.getClass.getName)
        }
    val corpus = clustered(200)
    val zero = Seq((200L, Array.fill(8)(0.0))).toDF("vec_id", "v")
    val zeroQuery = Array.fill(8)(0.0)
    val aimed = zeroQuery +: (0 until 8).map(a => Array.tabulate(8)(j => if (j == a) 4.0 else 0.1))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // (corpus, appended after the bounds, queries): a zero query; a
      // stored zero vector, built or appended, wherever a query aims
      for ((e, appended, queries) <- Seq(
          (corpus, None, Seq(zeroQuery)),
          (corpus.union(zero), None, aimed),
          (corpus, Some(zero), aimed))) {
        val tmp = Files.createTempDirectory("adaptive-zero").toString
        VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
        VectorIndex.buildCellBounds(spark, tmp)
        appended.foreach(VectorIndex.appendIvf(spark, tmp, _))
        val nCells = VectorIndex.loadIvfCentroids(spark, tmp).length
        for (on <- Seq("false", "true"); qv <- queries) {
          spark.conf.set("spark.sql.ansi.enabled", on)
          val full = outcome(VectorIndex.annIvf(spark, tmp, qv, 5, nCells))
          val ad = outcome(VectorIndex.annIvfAdaptive(spark, tmp, qv, 5,
            initialProbe = 2).result)
          assert(ad == full, s"ansi=$on query=${qv.toSeq}: adaptive $ad vs probe-all $full")
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("rebuilding the index clears stale cell bounds") {
    val tmp = Files.createTempDirectory("adaptive-rebuild").toString
    val e = clustered(200).cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 8)
      VectorIndex.buildCellBounds(spark, tmp)
      assert(new java.io.File(s"$tmp/ivf_cellbounds").exists())
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      assert(!new java.io.File(s"$tmp/ivf_cellbounds").exists(),
        "rebuild must clear bounds computed over the previous cell layout")
    } finally e.unpersist()
  }
}
