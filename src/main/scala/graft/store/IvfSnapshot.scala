package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** A persisted IVF index held in the driver JVM, for single-query
  * serving without a Spark plan ([[VectorIndex.open]] builds it).
  *
  * It holds the flat centroids and the live vectors grouped by cell,
  * with tombstoned ids already removed, plus the index's version
  * token (`dir/_version`) at the time it was read. [[topK]] returns
  * the rows [[VectorIndex.annIvf]] returns, bit for bit: the same
  * probed cells, the same sequential dot products and round-6 cosine
  * as `cosineNative6`, and the same order as Spark's sort (cos
  * descending with NaN greatest and -0.0 = 0.0, then vec_id
  * ascending). */
final class IvfSnapshot private[store] (
    val version: String,
    centroids: Array[Array[Double]],
    cellIds: Array[Array[Long]],
    cellVecs: Array[Array[Array[Double]]],
    cellNorms: Array[Array[Double]]) {

  def nCells: Int = centroids.length

  /** Top-k (vec_id, cos) over the nProbe nearest cells. None when the
    * Spark plan must decide: a probed row whose cosine denominator is
    * zero (a zero query or stored vector) fails under ANSI and is
    * null otherwise, a null vector scores null, and a negative k is
    * an analysis error. */
  def topK(queryVec: Array[Double], k: Int, nProbe: Int): Option[IndexedSeq[(Long, Double)]] = {
    if (k < 0) return None
    val cells = VectorIndex.nearestCells(centroids, queryVec, nProbe)
    val qNorm = math.sqrt(IvfSnapshot.dot(queryVec, queryVec))
    val n = cells.iterator.map(cellIds(_).length).sum
    val ids = new Array[Long](n)
    val cos = new Array[Double](n)
    var m = 0
    var p = 0
    while (p < cells.length) {
      val c = cells(p)
      val cIds = cellIds(c)
      val cVecs = cellVecs(c)
      val cNorms = cellNorms(c)
      var i = 0
      while (i < cIds.length) {
        val v = cVecs(i)
        val den = cNorms(i) * qNorm
        if (v == null || den == 0.0) return None
        ids(m) = cIds(i)
        cos(m) = IvfSnapshot.round6(IvfSnapshot.dot(v, queryVec) / den)
        m += 1
        i += 1
      }
      p += 1
    }
    val order = (0 until n).toArray
      .sortWith((a, b) => IvfSnapshot.ranksBefore(cos(a), ids(a), cos(b), ids(b)))
    Some(order.iterator.take(k).map(i => (ids(i), cos(i))).toIndexedSeq)
  }
}

object IvfSnapshot {

  /** `DotProduct`'s loop: a sequential sum over the shorter length. */
  private[store] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark's `ORDER BY cos DESC, id` on doubles: NaN ranks first,
    * -0.0 ties 0.0, ties go to the smaller id. */
  private[graft] def ranksBefore(cosA: Double, idA: Long, cosB: Double, idB: Long): Boolean = {
    val byCos = SQLOrderingUtil.compareDoubles(cosB, cosA)
    if (byCos != 0) byCos < 0 else idA < idB
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest
    * decimal form; NaN and infinities pass through. */
  private[store] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** (cluster, vec_id, v) rows of live vectors into a snapshot over
    * `centroids`; rows of a cell no centroid names are never probed,
    * so they are dropped. */
  private[store] def apply(version: String, centroids: Array[Array[Double]],
      rows: Array[(Int, Long, Array[Double])]): IvfSnapshot = {
    val byCell = rows.filter(r => r._1 >= 0 && r._1 < centroids.length).groupBy(_._1)
    def cell[T: scala.reflect.ClassTag](c: Int)(f: ((Int, Long, Array[Double])) => T): Array[T] =
      byCell.get(c).fold(Array.empty[T])(_.map(f))
    new IvfSnapshot(version, centroids,
      Array.tabulate(centroids.length)(c => cell(c)(_._2)),
      Array.tabulate(centroids.length)(c => cell(c)(_._3)),
      Array.tabulate(centroids.length)(c =>
        cell(c)(r => if (r._3 == null) 0.0 else math.sqrt(dot(r._3, r._3)))))
  }
}

/** The snapshots one `Graft` instance serves from, keyed by index
  * dir: small (at most `capacity` dirs, least recently used dropped
  * first) and thread-safe. Each lookup reads the dir's version token
  * and reopens the snapshot when the token has changed; a dir without
  * a token is served by the Spark plan. An index over the heap budget
  * is remembered as such for its version, so it is not sized again on
  * every call.
  *
  * This is the only state serving keeps, and it lives on the `Graft`
  * instance, not in the session: no cached RDD, broadcast, temp view
  * or conf change. */
private[graft] final class IvfSnapshots(capacity: Int = 4) {

  /** Test seam: the heap bytes one snapshot may take. */
  @volatile private[graft] var budgetBytes: Long = VectorIndex.snapshotBudgetBytes

  /** dir -> (token, what `open` returned for it) */
  private val byDir = new java.util.LinkedHashMap[String, (String, Option[IvfSnapshot])](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (String, Option[IvfSnapshot])]): Boolean =
      size() > capacity
  }

  def apply(spark: SparkSession, dir: String): Option[IvfSnapshot] =
    VectorIndex.versionToken(spark, dir) match {
      case None =>
        synchronized(byDir.remove(dir))
        None
      case Some(token) =>
        synchronized(Option(byDir.get(dir))).filter(_._1 == token) match {
          case Some((_, s)) => s
          case None =>
            val s = VectorIndex.open(spark, dir, budgetBytes)
            if (s.forall(_.version == token)) synchronized(byDir.put(dir, (token, s)))
            s
        }
    }
}
