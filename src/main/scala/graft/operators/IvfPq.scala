package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.IvfSnapshot.dot

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
        val best = KMeans.nearestIndex(v, cs)
        val cc = cs(best)
        (id, best, Array.tabulate(v.length)(j => v(j) - cc(j)), math.sqrt(dot(v, v)))
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
        (id, cell, Array.tabulate(m)(s => KMeans.nearestIndex(r, bc.value(s), s * sl)), norm)
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
        val sl = r.length / m
        var err = 0.0; var s = 0
        while (s < m) {
          val cents = bc.value(s)
          err += KMeans.sqDist(r, cents(KMeans.nearestIndex(r, cents, s * sl)), s * sl); s += 1
        }
        (cell, err)
      }
      .toDF("cluster", "err")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("err").as("sum_err"))
  }

  /** The IVFADC codec: a coarse cell per vector plus PQ codes of its
    * residual; the model is (residual codebooks, coarse centroids). A
    * query ranks only its nProbe nearest cells — the cell filter sits
    * directly on the code table BEFORE any typed work, so on the
    * persisted path it becomes a partition filter and non-probed cells
    * never open a file — and scores q·c(cell) + the flat PQ ADC sum. */
  private[graft] def codec(nCells: Int = Cells, nProbe: Int = Probe,
      m: Int = Pq.M, nCent: Int = Pq.K)
      : Codec[(Array[Array[Array[Double]]], Array[Array[Double]])] =
    new Codec[(Array[Array[Array[Double]]], Array[Array[Double]])] {
      val name = "ivfpq"
      val codes = "ivfpq_codes"
      def train(spark: SparkSession, e: DataFrame) = {
        val (_, centroids, _) = KMeans.fit(spark, e, nCells, 2, trackInertia = false)
        val res = assignResiduals(spark, e, centroids).cache()
        try (Pq.train(spark, res, m, nCent), centroids) finally res.unpersist()
      }
      def encode(spark: SparkSession, e: DataFrame,
          model: (Array[Array[Array[Double]]], Array[Array[Double]])) =
        encodeResiduals(spark, assignResiduals(spark, e, model._2), model._1)
      def writeModel(spark: SparkSession,
          model: (Array[Array[Array[Double]]], Array[Array[Double]]), dir: String) = {
        Pq.writeCodebook(spark, model._1, s"$dir/ivfpq_codebook")
        graft.store.VectorIndex.writeCentroidRows(spark, model._2, s"$dir/ivfpq_centroids")
      }
      def readModel(spark: SparkSession, dir: String) =
        (Pq.readCodebook(spark, s"$dir/ivfpq_codebook"),
          graft.store.VectorIndex.loadCentroidsAt(spark, s"$dir/ivfpq_centroids"))
      def meta(model: (Array[Array[Array[Double]]], Array[Array[Double]])) =
        s""""format": "graft-ivfpq-v1", "nCells": $nCells, "m": $m, "k": $nCent, "dim": ${
          model._1(0)(0).length * m}"""
      override def probe(enc: DataFrame,
          model: (Array[Array[Array[Double]]], Array[Array[Double]]), qv: Array[Double]) =
        enc.filter(col("cluster").isin(KMeans.nearestCells(model._2, qv, nProbe): _*))
      def score(spark: SparkSession, scan: DataFrame,
          model: (Array[Array[Array[Double]]], Array[Array[Double]]),
          qv: Array[Double], qn: Double) = {
        import spark.implicits._
        val bcTab = spark.sparkContext.broadcast(Pq.adcTable(model._1, qv))
        val bcOff = spark.sparkContext.broadcast(model._2.map(dot(qv, _)))
        scan.select(col("vec_id"), col("cluster").cast("int"), col("codes"), col("norm"))
          .as[(Long, Int, Array[Int], Double)]
          .map { case (id, cell, codes, n) =>
            val dot = Pq.adcDot(bcOff.value(cell), bcTab.value, codes)
            // zero-norm corpus vectors rank LAST (the v09 guard)
            (id, if (n > 0) dot / (qn * n) else Double.NegativeInfinity)
          }
          .toDF("vec_id", "approx_cos")
      }
    }

  /** One-shot IVFADC: coarse-cluster + train + encode inline, then
    * probe/score/re-rank (the [[Codec.oneShot]] contract). Convenient
    * as the oracle anchor; repeated queries should BUILD the persisted
    * index once (VectorIndex.buildIvfPq) and query its codes. */
  def annIvfPq(spark: SparkSession, e: DataFrame, queryVecId: Long,
      k: Int, nCells: Int = Cells, nProbe: Int = Probe, m: Int = Pq.M,
      nCent: Int = Pq.K, rerank: Int = Pq.Rerank): DataFrame =
    Codec.oneShot(spark, codec(nCells, nProbe, m, nCent), e, queryVecId, k, rerank)

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
