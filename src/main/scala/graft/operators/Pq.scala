package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.store.IvfSnapshot.dot

/** Product Quantization ANN (SURVEY.md §2 v09) — the MEMORY
  * compression scale path next to LSH (v05) and IVF (v07), after
  * Jégou et al. 2011 ("Product Quantization for Nearest Neighbor
  * Search"): vectors split into M subvectors, each quantized against
  * its own K-centroid codebook, so a 64-dim float vector (512 B as
  * doubles, 256 B as floats) becomes M=8 codes of log2(16)=4 bits —
  * 8 int codes here, 4 PACKED bytes of information. At 100 TB the
  * point is that the SCORING pass streams the code table (M bytes +
  * one norm per vector), not the embeddings: queries score
  * asymmetrically (ADC) via an M×K lookup table computed once per
  * query on the driver, O(M) adds per corpus vector instead of
  * O(dim) multiplies over 64× more bytes.
  *
  * Scale shape:
  *  - TRAIN: one distributed Lloyd's pass over ALL subspaces at once
  *    (KMeans.lloyd keyed by subspace, so M codebooks train in ONE
  *    job per iteration, not M); the model (M×K×subDim doubles, 8 KB)
  *    lives on the driver, the corpus is never collected.
  *  - ENCODE: one narrow typed map → (vec_id, codes, norm); no
  *    shuffle. The stored norm is what makes COSINE ranking work on
  *    inner-product ADC (|v| is lost in quantization).
  *  - SCORE: narrow map over codes with the broadcast table, top
  *    rerank×k by approximate cosine via TakeOrderedAndProject, then
  *    EXACT re-rank of that tiny pool (equi-join back to the
  *    embeddings on vec_id) — the standard ADC + exact-rerank
  *    pipeline; approximation error only affects which candidates
  *    reach the pool, not their final ordering.
  */
object Pq {

  val M = 8        // subspaces
  val K = 16       // centroids per subspace (4-bit codes)
  val Rerank = 8   // rerank pool FLOOR = Rerank × k (see scaledPool)

  /** Density-scaled exact-rerank pool (VERDICT r12 #3): a FIXED
    * rerank×k pool is regime-bound in corpus size — code
    * approximation rank-noise puts true neighbours anywhere in a
    * band of the approximate ranking whose width grows with the
    * number of candidates ranked, so a pool that was 4% of a 2k
    * corpus is 0.04% of 200k and recall collapses (measured at the
    * old fixed dials: PQ 0.00, IVFADC 0.40, BQ 0.20 recall@10 at
    * 200k, while SQ8's 8-bit codes held 1.00). The pool therefore
    * GROWS with the ranked stream: max(rerank·k, streamN /
    * [[PoolDensity]]) — the V15CellTarget convention applied to the
    * rerank stage (a fixed FRACTION per decade instead of a fixed
    * count). The exact re-rank stays bounded (pool = streamN/256 ≪
    * streamN), and below the crossover (streamN ≤ rerank·k·256 —
    * the whole ≤20k decade at the defaults) the floor makes
    * behavior byte-identical to the historical dial, so every
    * small-SF anchor and oracle entry is unchanged. For IVFADC the
    * stream is the PROBED sliver, not the corpus — the pool tracks
    * what the ADC pass actually ranks. */
  val PoolDensity = 256
  def scaledPool(streamN: Long, k: Int, rerank: Int): Int =
    math.max(rerank.toLong * k, streamN / PoolDensity).toInt

  /** MEASURED ROUTING (the 200k/2M ladder + pool sweep, SURVEY §8k):
    * on a near-random corpus at dim=64 the 8-byte code rungs are
    * information-limited — at 200k the shipped density holds PQ at
    * recall@10 0.20 (pool 5120 ≈ 2.5% of corpus buys 0.70) while
    * **SQ8 holds 1.00 at every measured decade at 72 B/vec with no
    * tuning**: when the corpus regime is unknown, route to
    * Sq/VectorIndex.annSq and spend PQ/BQ's 16 B only where the
    * corpus (or a budgeted pool from the sweep curve) cooperates. */
  val RoutingNote = "SQ8 is the fixed-dial rung that holds every measured decade"

  /** Train the M per-subspace codebooks: codebooks(s)(c) is centroid
    * c of subspace s — one [[KMeans.lloyd]] loop keyed by subspace
    * over [[subspaceRows]], so the M codebooks train in ONE job per
    * iteration. Deterministic init: HASH-SPREAD seeding (the
    * KMeans.fit rationale — smallest xxhash64(vec_id) rows are a
    * deterministic uniform sample regardless of storage order;
    * first-k seeds on a source-sorted corpus co-locate and degrade
    * codebook coverage), one global TakeOrdered top-k sliced per
    * subspace. `e` SHOULD be cached by the caller (annPq does) —
    * train itself never persists so a cached caller dataframe is not
    * held twice. */
  def train(spark: SparkSession, e: DataFrame, m: Int = M, k: Int = K,
      iters: Int = 3): Array[Array[Array[Double]]] = {
    val seed = e.select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(seed.length >= k,
      s"PQ train needs at least k=$k vectors to seed codebooks, got ${seed.length}")
    val dim = seed(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cb = KMeans.lloyd(spark, subspaceRows(spark, e, m),
      (0 until m).map(s => s -> seed.map(_.slice(s * sub, (s + 1) * sub))).toMap, iters)
    Array.tabulate(m)(cb)
  }

  /** (subspace, subvector) rows of (vec_id, v) rows — m per vector. */
  private[graft] def subspaceRows(spark: SparkSession, e: DataFrame,
      m: Int): Dataset[(Int, Array[Double])] = {
    import spark.implicits._
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .flatMap { case (_, v) =>
        val sl = v.length / m
        Iterator.tabulate(m)(s => (s, v.slice(s * sl, (s + 1) * sl)))
      }
  }

  /** Encode: (vec_id, codes: array<int> of length M, norm). One
    * narrow typed map — the 100 TB artifact this writes is M codes +
    * one double per vector (the ONLY thing the scoring pass reads). */
  def encode(spark: SparkSession, e: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val m = cb.length
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        val sl = v.length / m
        (id, Array.tabulate(m)(s => KMeans.nearestIndex(v, bc.value(s), s * sl)), math.sqrt(dot(v, v)))
      }
      .toDF("vec_id", "codes", "norm")
  }

  /** The driver-side M×K inner-product table of a query against the
    * codebooks (8 KB at the defaults) — ONE per query, shared by flat
    * PQ and IVFADC (whose residual codes add a q·c(cell) offset). */
  private[operators] def adcTable(cb: Array[Array[Array[Double]]],
      qv: Array[Double]): Array[Array[Double]] = {
    val sub = qv.length / cb.length
    Array.tabulate(cb.length, cb(0).length)((s, c) =>
      dot(qv.slice(s * sub, (s + 1) * sub), cb(s)(c)))
  }

  /** from + Σ_s tab(s)(code_s) — the ADC inner product of one code row. */
  private[operators] def adcDot(from: Double, tab: Array[Array[Double]],
      codes: Array[Int]): Double = {
    var d = from; var s = 0
    while (s < codes.length) { d += tab(s)(codes(s)); s += 1 }
    d
  }

  /** (vec_id, approx_cos) over a flat (vec_id, codes, norm) code scan:
    * one narrow typed map. Zero-norm corpus vectors rank LAST (cosine
    * undefined), not first: an unguarded /0 yields ±Infinity/NaN,
    * which a descending sort floats to the TOP of the pool. */
  private[operators] def approxCos(spark: SparkSession, scan: DataFrame,
      qn: Double)(dotOf: Array[Int] => Double): DataFrame = {
    import spark.implicits._
    scan.select(col("vec_id"), col("codes"), col("norm"))
      .as[(Long, Array[Int], Double)]
      .map { case (id, codes, n) =>
        (id, if (n > 0) dotOf(codes) / (qn * n) else Double.NegativeInfinity)
      }
      .toDF("vec_id", "approx_cos")
  }

  /** The codebook as flat (s, c, dim, x) rows and back — m×k×subDim
    * doubles, one small parquet file. */
  private[graft] def writeCodebook(spark: SparkSession,
      cb: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- cb.indices; c <- cb(s).indices; d <- cb(s)(c).indices
    } yield (s, c, d, cb(s)(c)(d))
    rows.toDF("s", "c", "dim", "x")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  private[graft] def readCodebook(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val sub = rows.map(_.getInt(2)).max + 1
    val cb = Array.fill(m, k)(new Array[Double](sub))
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    cb
  }

  /** The PQ codec: M codes of the nearest per-subspace centroid,
    * scored by ADC (Σ_s table(s)(code_s) / (|q|·|v|)). */
  private[graft] def codec(m: Int = M, nCent: Int = K,
      iters: Int = 3): Codec[Array[Array[Array[Double]]]] =
    new Codec[Array[Array[Array[Double]]]] {
      val name = "pq"
      val codes = "pq_codes"
      def train(spark: SparkSession, e: DataFrame) = Pq.train(spark, e, m, nCent, iters)
      def encode(spark: SparkSession, e: DataFrame, cb: Array[Array[Array[Double]]]) =
        Pq.encode(spark, e, cb)
      def writeModel(spark: SparkSession, cb: Array[Array[Array[Double]]], dir: String) =
        writeCodebook(spark, cb, s"$dir/pq_codebook")
      def readModel(spark: SparkSession, dir: String) = readCodebook(spark, s"$dir/pq_codebook")
      def meta(cb: Array[Array[Array[Double]]]) =
        s""""format": "graft-pq-v1", "m": $m, "k": $nCent, "dim": ${cb(0)(0).length * m}"""
      def score(spark: SparkSession, scan: DataFrame, cb: Array[Array[Array[Double]]],
          qv: Array[Double], qn: Double) = {
        val bcTab = spark.sparkContext.broadcast(adcTable(cb, qv))
        approxCos(spark, scan, qn)(codes => adcDot(0.0, bcTab.value, codes))
      }
    }

  /** The exact re-rank tail shared by every coded rung: equi-join the
    * bounded pool back to the embeddings by vec_id and order by TRUE
    * cosine. The query vector is already on the driver (qv) — rebuilt
    * as a literal column instead of re-filtering `emb`, which on the
    * persisted serving path would cost a SECOND full embeddings scan
    * per query just to re-fetch one row. */
  private[operators] def exactRerank(pool: DataFrame, emb: DataFrame,
      qv: Array[Double], k: Int): DataFrame = {
    val qCol = array(qv.toIndexedSeq.map(lit): _*)
    pool.join(emb.select(col("vec_id"), col("v")), "vec_id")
      .select(col("vec_id"), cosineNative6(col("v"), qCol).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** ADC top-k with train+encode inline: approximate cosine over the
    * code stream, exact re-rank of the density-scaled pool (the
    * [[Codec.oneShot]] contract). Repeated queries should BUILD the
    * index once (VectorIndex.buildPq) and query the persisted codes
    * instead of re-training per call. */
  def annPq(spark: SparkSession, e: DataFrame, queryVecId: Long, k: Int,
      m: Int = M, nCent: Int = K, rerank: Int = Rerank): DataFrame =
    Codec.oneShot(spark, codec(m, nCent), e, queryVecId, k, rerank)

  /** v09 entry (*rows-only*; VectorSpec: full-pool == brute exactly,
    * default-pool recall vs brute, code width == M). Same output
    * shape as v05/v07. */
  def v09AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    annPq(spark, e, queryVecId = 0, k = 10)
  }
}

/** A coded rung's codec — ONLY what differs between PQ, SQ8, BQ and
  * IVFADC: training, encoding, the model's parquet rows, the artifact
  * names, and the per-row approximate score. Everything else is the
  * one filter-then-verify pipeline in [[Codec$]]: an approximate pool
  * over the codes, then an exact re-rank of that pool. A new codec
  * plugs in by implementing this trait; the one-shot, the persisted
  * build/probe (graft.store.VectorIndex) and the query panel
  * (AnnPanel) then serve it unchanged. `M` is the driver-side model. */
private[graft] trait Codec[M] {
  /** Artifact stem: `<name>.json` is the persisted metadata echo. */
  def name: String
  /** The persisted code table under an index dir. */
  def codes: String
  /** Model from (vec_id, v) rows — the caller caches them. */
  def train(spark: SparkSession, e: DataFrame): M
  /** (vec_id, codes…, norm) rows of (vec_id, v) rows; narrow, 1:1. */
  def encode(spark: SparkSession, e: DataFrame, model: M): DataFrame
  def writeModel(spark: SparkSession, model: M, dir: String): Unit
  def readModel(spark: SparkSession, dir: String): M
  /** The metadata echo's fields (format and dials, JSON members). */
  def meta(model: M): String
  /** The part of the code table a query ranks — all of it, except
    * where the codec prunes by cell (IVFADC). */
  def probe(enc: DataFrame, model: M, qv: Array[Double]): DataFrame = enc
  /** (vec_id, score) over a code scan, ranked by [[rank]] then vec_id. */
  def score(spark: SparkSession, scan: DataFrame, model: M,
      qv: Array[Double], qn: Double): DataFrame
  def rank: Column = col("approx_cos").desc
}

private[graft] object Codec {

  /** The query vector of corpus row `vecId` — the one fetch every
    * by-id door makes. */
  def vectorOf(emb: DataFrame, vecId: Long): Array[Double] =
    emb.filter(col("vec_id") === vecId).select("v").head().getSeq[Double](0).toArray

  /** THE coded-rung query half: approximate scores over the code table
    * `enc` (minus `exclude`, semi-joined to `candidates` when given),
    * the top density-scaled pool of them (Pq.scaledPool) by
    * TakeOrderedAndProject, then the exact re-rank of that pool against
    * `emb` (vec_id, v) — so approximation error steers pool membership,
    * never the final ordering. `streamN` is enc's row count when the
    * caller knows it (the corpus count of a one-shot, the build count
    * of a persisted rung: a tombstoned stream is only ever SMALLER, so
    * the pool over-covers), sparing a count job per query; a codec
    * that prunes enc (IVFADC's probed cells) counts what it kept. The
    * count is taken BEFORE the candidate semi-join: on the persisted
    * path that keeps it a partition-pruned metadata read, and a
    * filtered stream only ever needs a SMALLER pool. */
  def topK[M](spark: SparkSession, codec: Codec[M], model: M, enc: DataFrame,
      emb: DataFrame, qv: Array[Double], exclude: Option[Long], k: Int,
      rerank: Int, streamN: Option[Long] = None,
      candidates: Option[DataFrame] = None): DataFrame = {
    import graft.store.VectorIndex.{excluded, within}
    val qn = math.sqrt(dot(qv, qv))
    require(qn > 0, s"zero-norm query vector${exclude.fold("")(" " + _)} — cosine undefined")
    val sliver = codec.probe(enc, model, qv)
    val poolN = Pq.scaledPool(
      (if (sliver eq enc) streamN else None).getOrElse(sliver.count()), k, rerank)
    val pool = codec.score(spark, excluded(within(sliver, candidates), exclude),
        model, qv, qn)
      .orderBy(codec.rank, col("vec_id"))
      .limit(poolN)
    Pq.exactRerank(pool, emb, qv, k)
  }

  /** THE one-shot: train + encode inline over the cached corpus, rank
    * through [[topK]], and return the k rows materialized ON THE
    * DRIVER (not localCheckpoint: its executor-stored blocks have no
    * lineage, so an executor loss after return would break the frame)
    * — so every cache this call made drops before it returns. The
    * corpus count doubles as the pool-sizing streamN (encode is 1:1),
    * so the code stream is consumed once by the scoring pass. */
  def oneShot[M](spark: SparkSession, codec: Codec[M], e: DataFrame,
      queryVecId: Long, k: Int, rerank: Int): DataFrame = {
    val cached = e.select(col("vec_id"), col("v")).cache()
    try {
      val n = cached.count()
      val model = codec.train(spark, cached)
      val res = topK(spark, codec, model, codec.encode(spark, cached, model),
        cached, vectorOf(cached, queryVecId), Some(queryVecId), k, rerank, Some(n))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(res.collect(): _*)),
        res.schema)
    } finally cached.unpersist()
  }
}
