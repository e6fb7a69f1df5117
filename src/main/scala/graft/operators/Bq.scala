package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Binary Quantization ANN (SURVEY.md §2 v14) — the most aggressive
  * point on the compression ladder (BQ 1 bit/dim → SQ8 8 → PQ ~0.5
  * byte/subvector → IVFADC), the scheme modern vector stores ship as
  * "binary quantization": each dimension contributes ONE bit (sign
  * versus the per-dimension corpus MEAN — mean-centering, not raw
  * sign, so skewed dimensions still split ~50/50), a 64-dim vector
  * becomes a single 64-bit long, and candidate scoring is ONE xor +
  * popcount per corpus vector. 64× smaller than float32 at recall
  * recovered by a wider exact re-rank pool — the right lever when
  * the code table must live in RAM at 100 TB corpus scale.
  *
  * Scale shape: train = one dim-keyed avg (model = dim doubles);
  * encode = one narrow map to (vec_id, sig: long, norm); score =
  * codegen'd `bit_count(sig ^ querySig)` over the longs — the whole
  * candidate pass is ONE xor+popcount column expression, no typed
  * object pipeline at all — then the SHARED exact re-rank tail
  * (Pq.exactRerank) on the rerank×k pool.
  */
object Bq {

  val Rerank = 16 // 1 bit/dim needs a wider pool than SQ8's 4×
  // Measured routing (SURVEY §8k): at 200k near-random/dim-64 the
  // shipped density holds BQ at recall@10 0.60 (a 2.5% pool buys
  // 1.00); SQ8 holds 1.00 untuned at 72 B — see Pq.RoutingNote.

  /** Per-dimension mean — the centering model (dim doubles): the
    * unkeyed [[KMeans.keyedMeans]]. */
  def train(spark: SparkSession, e: DataFrame): Array[Double] =
    KMeans.keyedMeans(e).getOrElse(Nil, Array.emptyDoubleArray)

  /** Encode: (vec_id, sig = sign bits vs the mean, norm). Dims past
    * 64 would need a long array; the contract is dim ≤ 64 (the test
    * corpus is 64-dim — a production variant packs ceil(dim/64)
    * longs with the same xor+popcount sum). */
  def encode(spark: SparkSession, e: DataFrame, means: Array[Double]): DataFrame = {
    import spark.implicits._
    require(means.length <= 64, s"dim ${means.length} > 64: pack multiple longs")
    val bc = spark.sparkContext.broadcast(means)
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        val m = bc.value
        require(v.length == m.length, s"vector dim ${v.length} != index dim ${m.length}")
        var sig = 0L; var n2 = 0.0
        var j = 0
        while (j < v.length) {
          n2 += v(j) * v(j)
          if (v(j) >= m(j)) sig |= (1L << j)
          j += 1
        }
        (id, sig, math.sqrt(n2))
      }
      .toDF("vec_id", "sig", "norm")
  }

  /** The BQ codec: sign bits vs the per-dimension mean. The pool pass
    * is a pure codegen'd column expression — `bit_count(sig XOR
    * querySig)`, ascending — with no typed map at all. */
  private[graft] val codec: Codec[Array[Double]] = new Codec[Array[Double]] {
    val name = "bq"
    val codes = "bq_sigs"
    def train(spark: SparkSession, e: DataFrame) = Bq.train(spark, e)
    def encode(spark: SparkSession, e: DataFrame, means: Array[Double]) =
      Bq.encode(spark, e, means)
    def writeModel(spark: SparkSession, means: Array[Double], dir: String) = {
      import spark.implicits._
      means.indices.map(i => (i, means(i))).toDF("dim", "m")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/bq_model")
    }
    def readModel(spark: SparkSession, dir: String) = {
      val rows = spark.read.parquet(s"$dir/bq_model").collect()
      val means = new Array[Double](rows.map(_.getInt(0)).max + 1)
      rows.foreach(r => means(r.getInt(0)) = r.getDouble(1))
      means
    }
    def meta(means: Array[Double]) = s""""format": "graft-bq-v1", "dim": ${means.length}"""
    def score(spark: SparkSession, scan: DataFrame, means: Array[Double],
        qv: Array[Double], qn: Double) = {
      var qSig = 0L
      var j = 0
      while (j < qv.length) { if (qv(j) >= means(j)) qSig |= (1L << j); j += 1 }
      scan.select(col("vec_id"), bit_count(col("sig").bitwiseXOR(lit(qSig))).as("hamming"))
    }
    override def rank = col("hamming")
  }

  /** One-shot BQ ANN (train + encode inline; the [[Codec.oneShot]]
    * contract). */
  def annBq(spark: SparkSession, e: DataFrame, queryVecId: Long, k: Int,
      rerank: Int = Rerank): DataFrame =
    Codec.oneShot(spark, codec, e, queryVecId, k, rerank)

  /** v14 entry (*rows-only*; VectorSpec: full-pool == brute exactly,
    * recall floor at the default pool, signature balance). */
  def v14AnnBinary(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    annBq(spark, e, queryVecId = 0, k = 10)
  }
}
