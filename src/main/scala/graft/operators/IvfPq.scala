package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVFADC — the combined coarse-quantizer + product-quantization ANN
  * index (SURVEY.md §2 v10), after Jégou et al. 2011 §IV ("Product
  * Quantization for Nearest Neighbor Search"): the billion-scale
  * structure FAISS calls IVFx,PQy and the natural completion of the
  * strategy set here (v05 LSH = candidate pruning, v07 IVF = scan
  * pruning, v09 PQ = byte pruning). IVF alone still reads full
  * vectors in the probed cells; PQ alone still scans every vector's
  * codes. IVFADC composes both: a k-means coarse quantizer routes
  * each vector to a cell, and PQ encodes the RESIDUAL v − c(cell)
  * (residuals concentrate near 0, so the same codebook budget
  * quantizes them with far less error than raw vectors — the paper's
  * central observation). A query probes nProbe cells and ADC-scores
  * only those cells' codes:
  *
  *   q·v ≈ q·c(cell) + q·r̂   (r̂ = PQ reconstruction of the residual)
  *
  * where q·c(cell) is one driver-side double per probed cell and q·r̂
  * is the usual M-lookup ADC sum. Cosine ranking divides by the
  * STORED norm |v| (quantization loses it, exactly as in v09).
  *
  * Scale shape at 100 TB: the persisted artifact
  * (graft.store.VectorIndex.buildIvfPq) writes codes PARTITIONED BY
  * cell, so a probe is a partition-pruned scan of M bytes + one
  * double per vector over nProbe/nCells of the corpus — both
  * pruning levers at once (file-level via the directory layout,
  * byte-level via the codes). Train cost is one KMeans.fit plus one
  * Pq.train over residuals (each a handful of keyed aggs; models are
  * driver-side KBs); encode is one narrow typed map; nothing
  * corpus-sized is ever collected. The exact re-rank tail is shared
  * with flat PQ (Pq.exactRerank) so approximation error only steers
  * pool membership, never final ordering.
  */
object IvfPq {

  val Cells = VectorQueries.IvfCells // coarse cells (16)
  val Probe = VectorQueries.IvfProbe // cells probed per query (4)
  // Measured routing (SURVEY §8k): at 200k near-random/dim-64 the
  // shipped density holds IVFADC at recall@10 0.40 (0.60 at a 2.5%
  // pool); SQ8 holds 1.00 untuned at 72 B — see Pq.RoutingNote.

  /** Assign + residual in ONE narrow typed map against frozen coarse
    * centroids: (vec_id, cluster, v = v − c(cluster), norm = |v|).
    * This is THE assignment rule — shared by the initial build, the
    * one-shot operator, and APPEND (VectorIndex.appendIvfPq encodes
    * new arrivals against frozen models, so the rule must depend on
    * the model alone, never on a training run's internal state):
    * argmin cell by full L2, ties to the lowest cell id. The stored
    * norm is the ORIGINAL vector's (cosine needs |v|; the residual's
    * norm is useless after reconstruction). */
  private[graft] def assignResiduals(spark: SparkSession, e: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        require(v.length == cs(0).length,
          s"vector dim ${v.length} != index dim ${cs(0).length}")
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val cc = cs(c)
          var d = 0.0; var j = 0
          while (j < cc.length) { val t = v(j) - cc(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val cc = cs(best)
        val r = new Array[Double](v.length)
        var n2 = 0.0; var j = 0
        while (j < v.length) { n2 += v(j) * v(j); r(j) = v(j) - cc(j); j += 1 }
        (id, best, r, math.sqrt(n2))
      }
      .toDF("vec_id", "cluster", "v", "norm")
  }

  /** Encode residuals against the trained codebooks:
    * (vec_id, cluster, codes array<int>[M], norm) — the persisted
    * scoring artifact. Narrow typed map, no shuffle. */
  private[graft] def encodeResiduals(spark: SparkSession, res: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val m = cb.length
    res.select(col("vec_id"), col("cluster"), col("v"), col("norm"))
      .as[(Long, Int, Array[Double], Double)]
      .map { case (id, cell, r, norm) =>
        val sl = r.length / m
        (id, cell, Array.tabulate(m)(s => Pq.argmin(bc.value(s), r, s * sl)), norm)
      }
      .toDF("vec_id", "cluster", "codes", "norm")
  }

  /** Per-cell QUANTIZATION-ERROR stats of residuals under frozen
    * codebooks: (cluster, n, sum_err), err = ||r − r̂||² — the exact
    * distance the encode argmin minimizes, so the stat measures what
    * serving actually loses. One narrow typed map + a map-side-
    * combining agg over nCells rows; run at BUILD (baseline) and
    * APPEND (drift sample) time only — maintenance cost, never
    * query cost. The drift story: appends encode against centroids
    * trained on the ORIGINAL corpus, so a shifted arrival
    * distribution grows this error (recall degrades gracefully —
    * the exact re-rank still orders the pool truly, but the pool
    * fills with mis-scored members); VectorIndex.driftReport
    * compares append-time stats against the build baseline. */
  private[graft] def codeErrorStats(spark: SparkSession, res: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val m = cb.length
    res.select(col("cluster"), col("v"))
      .as[(Int, Array[Double])]
      .map { case (cell, r) =>
        val cbl = bc.value
        val sl = r.length / m
        var err = 0.0; var s = 0
        while (s < m) {
          val cents = cbl(s)
          var best = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val cc = cents(c)
            var d = 0.0; var j = 0
            while (j < sl) { val t = r(s * sl + j) - cc(j); d += t * t; j += 1 }
            if (d < best) best = d
            c += 1
          }
          err += best; s += 1
        }
        (cell, err)
      }
      .toDF("cluster", "err")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("err").as("sum_err"))
  }

  /** ADC scoring over an already-encoded (vec_id, cluster, codes,
    * norm) table — the query half shared by the in-memory annIvfPq
    * and the persisted index (graft.store.VectorIndex.annIvfPq), so
    * the two paths cannot drift. The cell filter sits directly on
    * `enc` BEFORE any typed work: on the persisted path it becomes a
    * partition filter and non-probed cells never open a file. */
  def adcCellTopK(spark: SparkSession, enc: DataFrame,
      cb: Array[Array[Array[Double]]], centroids: Array[Array[Double]],
      emb: DataFrame, qv: Array[Double], excludeVecId: Option[Long],
      k: Int, nProbe: Int, rerank: Int = Pq.Rerank,
      candidates: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val m = cb.length
    val sub = qv.length / m
    var qn2 = 0.0; qv.foreach(x => qn2 += x * x)
    val qn = math.sqrt(qn2)
    require(qn > 0, "zero-norm query vector — cosine undefined")
    val probeCells = KMeans.nearestCells(centroids, qv, nProbe)
    // Driver-side query model: the M×K residual inner-product table
    // (8 KB) plus one q·c(cell) offset per cell.
    val tab = Array.tabulate(m, cb(0).length) { (s, c) =>
      var d = 0.0; var j = 0
      while (j < sub) { d += qv(s * sub + j) * cb(s)(c)(j); j += 1 }
      d
    }
    val cellOff = centroids.map { c =>
      var d = 0.0; var j = 0
      while (j < c.length) { d += qv(j) * c(j); j += 1 }
      d
    }
    val bcTab = spark.sparkContext.broadcast(tab)
    val bcOff = spark.sparkContext.broadcast(cellOff)
    val probed0 = enc.filter(col("cluster").isin(probeCells: _*))
    // The hybrid filter (VectorIndex.annIvfPq's `candidates`): the
    // bounded candidate id relation broadcasts into a semi-join against
    // the partition-pruned sliver BEFORE any typed ADC work — the
    // storage.py:304-337 filter-inside-the-index shape at the
    // compressed rung.
    val probed = candidates.foldLeft(probed0)((df, c) =>
      df.join(broadcast(c.select("vec_id")), Seq("vec_id"), "left_semi"))
    // density-scaled pool over what the ADC pass RANKS — the probed
    // sliver (Pq.scaledPool). Counted BEFORE the candidate semi-join:
    // on the persisted path that keeps the count a partition-pruned
    // metadata read (no broadcast-join re-execution per query), and a
    // filtered stream only ever needs a SMALLER pool, so sizing from
    // the unfiltered sliver over-covers (conservative).
    val poolN = Pq.scaledPool(probed0.count(), k, rerank)
    val pool = excludeVecId
      .foldLeft(probed)((df, id) => df.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("cluster").cast("int"), col("codes"), col("norm"))
      .as[(Long, Int, Array[Int], Double)]
      .map { case (id, cell, codes, n) =>
        var dot = bcOff.value(cell); var s = 0
        while (s < codes.length) { dot += bcTab.value(s)(codes(s)); s += 1 }
        // Zero-norm corpus vectors rank LAST (the v09 guard): an
        // unguarded /0 floats ±Infinity/NaN to the pool's top.
        (id, if (n > 0) dot / (qn * n) else Double.NegativeInfinity)
      }
      .toDF("vec_id", "approx_cos")
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(poolN)
    Pq.exactRerank(pool, emb, qv, k)
  }

  /** One-shot IVFADC: coarse-cluster + train + encode inline, then
    * probe/score/re-rank. Convenient as the oracle anchor; repeated
    * queries should BUILD the persisted index once
    * (VectorIndex.buildIvfPq) and query its codes. Result is
    * materialized driver-side (k rows) so both corpus caches drop
    * before returning — the annPq cache-release contract. */
  def annIvfPq(spark: SparkSession, e: DataFrame, queryVecId: Long,
      k: Int, nCells: Int = Cells, nProbe: Int = Probe, m: Int = Pq.M,
      nCent: Int = Pq.K, rerank: Int = Pq.Rerank): DataFrame = {
    val cached = e.select(col("vec_id"), col("v")).cache()
    try {
      val (_, centroids, _) =
        KMeans.fit(spark, cached, nCells, 2, trackInertia = false)
      val res = assignResiduals(spark, cached, centroids).cache()
      try {
        val cb = Pq.train(spark, res, m, nCent)
        // The IVFADC pool sizes on the PROBED sliver (query-dependent
        // — no build metadata can replace it), so the kernel's count
        // job stays; cache the codes so the count doesn't re-encode,
        // and release only AFTER the collect materializes the plan
        // (the r13 ADVICE ordering hole).
        val enc = encodeResiduals(spark, res, cb).cache()
        try {
          val qv = cached.filter(col("vec_id") === queryVecId)
            .select("v").head().getSeq[Double](0).toArray
          val out = adcCellTopK(spark, enc, cb, centroids, cached, qv,
            Some(queryVecId), k, nProbe, rerank)
          spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(out.collect(): _*)),
            out.schema)
        } finally enc.unpersist()
      } finally res.unpersist()
    } finally cached.unpersist()
  }

  /** v10 entry (*rows-only*; VectorSpec: all-probe + full-pool ==
    * brute exactly, default probes keep recall, per-cell codes
    * bounded). Same output shape as v05/v07/v09. */
  def v10AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.toDouble
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    annIvfPq(spark, e, queryVecId = 0, k = 10)
  }
}
