package graft.operators

import graft.plans.Pins.Pinned

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Distributed Lloyd's k-means over an embedding column (SURVEY.md §2
  * e02) — the clustering step of a training-data curation pipeline
  * (stratified sampling, dedup-by-cluster, diversity balancing).
  *
  * Scale design: the MODEL (k×dim centroids) lives on the driver and
  * is broadcast into the assignment expression as literals — the
  * data-side work per iteration is one narrow map (argmin over k
  * codegen'd dot products; |v|² drops out of the argmin) plus one
  * aggregation keyed by (cluster, dim) with map-side partial
  * aggregation. The corpus is never collected; per-iteration driver
  * traffic is k×dim doubles.
  *
  * Every vector model graft fits or summarises goes through this
  * object's four kernels: [[keyedMeans]] (the keyed mean: centroids,
  * PQ codebooks, BQ means, Rocchio centroids), [[lloyd]] (the keyed
  * Lloyd's loop of the two-level children, cell splits and PQ),
  * [[spreadSeeds]] (its per-key seeds) and [[cellBounds]] (the
  * per-cell cosine bounds), with [[nearestIndex]]/[[sqDist]] as the
  * one assignment rule and metric.
  */
object KMeans {

  /** Above this k the fit's per-iteration assignment routes through
    * a BROADCAST-MODEL typed map (nearestIndex) instead of the
    * literal argmin expression: the expression path recompiles its
    * k×dim literals through janino EVERY iteration (no cache — new
    * centroid literals each time) and its compile + eval cost is the
    * measured wall, not the FLOPs — AnnLadder at 200k: flat fit
    * 138.7 s at 64 cells / 571.8 s at 256, where the typed-map form
    * of the same arithmetic runs the 2M corpus at 90 centroids in
    * under a minute. The two paths share the argmin semantics and
    * the first-index tie rule (assignExpr's array_min struct ties to
    * the lowest i; nearestIndex keeps the first strict minimum) —
    * float-rounding of |v−c|² vs c²−2v·c can differ at the last ulp,
    * which is a TRAINING-trajectory detail (the frozen-model serving
    * rule is nearestIndex everywhere); below the threshold the
    * literal path runs byte-identically to every prior round.
    * Was 64 through r15 (the historical-trajectory pin); the r15
    * ADVICE re-based it to 32 so the hot k=64 fits (e01c's flat-
    * routing maximum, the ladder's 64-cell sweep point — the
    * measured 138.7 s/200k janino wall) take the fast path. The
    * shipped sf-scale entries fit k ≤ 8 cells (untouched); the
    * 33–64 band's trajectories shift by ulp-level rounding only. */
  val FitExprMaxK = 32

  /** Returns (assignments (vec_id, cluster), centroids, inertia per
    * iteration). Deterministic: init = HASH-SPREAD seeding (r10,
    * VERDICT r9 #4) — the k vectors with the smallest
    * xxhash64(vec_id), i.e. a deterministic uniform sample over the
    * corpus independent of storage order. First-k-by-vec_id seeding
    * is a trap on real corpora, which arrive SORTED (by source, by
    * crawl date, by z-order): the first k rows then land in one
    * region of embedding space, Lloyd's starts with k co-located
    * centroids, and most clusters begin empty (SkewCorpusSpec pins
    * the planted case where spread seeding strictly beats first-k
    * inertia). One TakeOrdered top-k — never a full sort. Each
    * iteration assigns (the literal argmin up to [[FitExprMaxK]], the
    * typed [[nearestIndex]] map above it) and updates through
    * [[keyedMeans]] keyed by cluster; an empty cluster keeps its
    * centroid. trackInertia=false skips the per-iteration inertia
    * action (halves the Spark jobs — assignment+centroid-update
    * only); the convergence trace is a diagnostics concern, not a
    * fit one.
    *
    * The fit reads `emb` once per iteration and never persists it:
    * the CALLER caches a corpus it fits more than once (the builds
    * and one-shots do). The returned assignment is a lazy plan over
    * `emb`. */
  def fit(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
      trackInertia: Boolean = true)
      : (DataFrame, Array[Array[Double]], Seq[Double]) = {
    val e = emb.select(col("vec_id"), col("v"))
    var centroids: Array[Array[Double]] =
      e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
        .collect().map(_.getSeq[Double](1).toArray) // k rows only
    val inertias = scala.collection.mutable.ListBuffer.empty[Double]

    def assignExpr(cs: Array[Array[Double]]) = {
      // argmin_i |v - c_i|² == argmin_i (|c_i|² - 2 v·c_i)
      val scored = cs.zipWithIndex.map { case (c, i) =>
        val cCol = array(c.map(lit): _*)
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - dotNative(col("v"), cCol) * 2).as("d"), lit(i).as("i"))
      }
      array_min(array(scored: _*)).getField("i")
    }

    def assign(cs: Array[Array[Double]]): DataFrame =
      // <= so k == FitExprMaxK keeps the HISTORICAL literal path (the
      // scaladoc's "above this k" reading): the typed map's |v−c|²
      // and the expression's c²−2v·c can differ at the last ulp,
      // which would silently move a pinned training trajectory
      // between rounds — the boundary is k=32 since the r15 rebase
      // (33–64 trajectories DELIBERATELY moved to the typed-map path
      // then; every k ≤ 32 trajectory is pinned to the literal path).
      if (k <= FitExprMaxK) e.withColumn("cluster", assignExpr(cs))
      else {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(cs)
        e.as[(Long, Array[Double])]
          .map { case (id, v) => (id, v, nearestIndex(v, bc.value)) }
          .toDF("vec_id", "v", "cluster")
      }

    for (_ <- 0 until iters) {
      val assigned = assign(centroids)
      val means = keyedMeans(assigned, "cluster")
      centroids = centroids.indices
        .map(i => means.getOrElse(Seq(i), centroids(i))).toArray
      if (trackInertia) {
        val distToOwn = centroids.indices.foldLeft(lit(0.0)) { (acc, i) =>
          val cCol = array(centroids(i).map(lit): _*)
          val c2 = centroids(i).map(x => x * x).sum
          when(col("cluster") === i,
            dotNative(col("v"), col("v")) - dotNative(col("v"), cCol) * 2 + c2)
            .otherwise(acc)
        }
        inertias += assigned.select(sum(distToOwn)).head().getDouble(0)
      }
    }
    val finalAssign = assign(centroids)
      .select("vec_id", "cluster")
    (finalAssign, centroids, inertias.toSeq)
  }

  /** THE keyed mean every vector model here is summarised by — k-means
    * centroids, PQ codebooks, BQ's per-dimension mean, e05's Rocchio
    * centroids and the cell bounds' normalised means. `rows` carries
    * int key columns `keys` and an array<double> column `v`; one
    * (keys…, dim)-keyed aggregation with map-side partials sums and
    * counts the components, the keys × dim result is collected and
    * divided on the driver. Returns each key's mean; a key with no
    * rows has no entry (a Lloyd's update keeps its previous value). */
  private[graft] def keyedMeans(rows: DataFrame,
      keys: String*): Map[Seq[Int], Array[Double]] = {
    val nk = keys.length
    rows.select(keys.map(col) :+ posexplode(col("v")).as(Seq("dim", "x")): _*)
      .groupBy((keys :+ "dim").map(col): _*)
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .collect() // keys × dim rows only
      .groupBy(r => (0 until nk).map(r.getInt))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getInt(nk)).map(r => r.getDouble(nk + 1) / r.getLong(nk + 2))
      }
  }

  /** THE keyed Lloyd's loop: each row (key, v) belongs to group `key`,
    * and every group fits its own centroids (`seeds(key)`) in the same
    * pass — one narrow typed map assigns each row to its group's
    * nearest centroid ([[nearestIndex]] against the broadcast per-key
    * models), one (key, sub)-keyed [[keyedMeans]] updates them, and a
    * centroid that drew no rows keeps its position. Driver state is
    * the models (Σ k·dim doubles); the rows are never collected and
    * never persisted here (the caller caches rows it derives).
    * fitTwoLevel's children (key = coarse group), splitOversized's
    * sub-cells (key = hot cell) and PQ's codebooks (key = subspace,
    * v = that subvector) are all this loop. */
  private[graft] def lloyd(spark: SparkSession, rows: Dataset[(Int, Array[Double])],
      seeds: Map[Int, Array[Array[Double]]], iters: Int): Map[Int, Array[Array[Double]]] = {
    import spark.implicits._
    var model = seeds
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(model)
      val means = keyedMeans(
        rows.map { case (g, v) => (g, nearestIndex(v, bc.value(g)), v) }.toDF("key", "sub", "v"),
        "key", "sub")
      model = model.map { case (g, cs) =>
        g -> Array.tabulate(cs.length)(s => means.getOrElse(Seq(g, s), cs(s)))
      }
    }
    model
  }

  /** Per-key HASH-SPREAD seeds for [[lloyd]]: each key's k(key)
    * members with the smallest xxhash64(vec_id) (the [[fit]] seeding,
    * per key) — one window over the key, never a sort of the corpus.
    * A key with fewer members pads with its first seed (an
    * empty-but-positioned centroid [[nearestIndex]]'s tie rule never
    * assigns at init); a key with none takes `fallback(key)`. `rows`
    * is (vec_id, key, v). */
  private[graft] def spreadSeeds(rows: DataFrame, k: Map[Int, Int],
      fallback: Int => Array[Double]): Map[Int, Array[Array[Double]]] = {
    import org.apache.spark.sql.expressions.Window
    import rows.sparkSession.implicits._
    val got = rows.toDF("vec_id", "key", "v")
      .withColumn("rk", row_number().over(
        Window.partitionBy("key").orderBy(xxhash64(col("vec_id")), col("vec_id"))))
      .filter(col("rk") <= k.values.max)
      .select(col("key"), (col("rk") - 1).cast("int").as("sub"), col("v"))
      .as[(Int, Int, Array[Double])].collect() // ≤ keys · max k rows
      .filter { case (g, s, _) => k.get(g).exists(s < _) }
      .groupBy(_._1)
    k.map { case (g, kg) =>
      val seeds = got.get(g).fold(Array.empty[Array[Double]])(_.sortBy(_._2).map(_._3))
      g -> (seeds ++ Array.fill(kg - seeds.length)(seeds.headOption.getOrElse(fallback(g))))
    }
  }

  /** Per-cell COSINE BOUNDS over unit rows (cluster, x̂): the mean ĉ
    * of each cell's x̂ ([[keyedMeans]]) and the max residual radius
    * r̂ ([[boundRadius]]), so for any member x and unit query q̂:
    * cos(q, x) = q̂·ĉ + q̂·(x̂ − ĉ) ≤ q̂·ĉ + r̂ (Cauchy-Schwarz on the
    * residual). A zero vector arrives as zeros and makes its cell's
    * r̂ = +∞. One row (cluster, ĉ, r̂) per cell WITH members, in cell
    * order — what a memberless cell means is the reader's call
    * ([[boundArrays]]). Two passes over `unit`, which this caches for
    * their duration; driver state is cells × (dim + 1) doubles. The
    * persisted bounds (VectorIndex.buildCellBounds) and v15's in-entry
    * top-up (VectorQueries.cellBoundStats) both come from here. */
  private[graft] def cellBounds(spark: SparkSession,
      unit: Dataset[(Int, Array[Double])]): Array[(Int, Array[Double], Double)] = {
    import spark.implicits._
    val xh = unit.cache()
    try {
      val means = keyedMeans(xh.toDF("cluster", "v"), "cluster")
        .map { case (c, m) => c.head -> m }
      val bc = spark.sparkContext.broadcast(means)
      val radii = xh.map { case (c, x) => (c, boundRadius(x, bc.value(c))) }
        .toDF("cluster", "d")
        .groupBy("cluster").agg(max("d"))
        .as[(Int, Double)].collect().toMap // cells rows only
      means.toArray.sortBy(_._1).map { case (c, m) => (c, m, radii(c)) }
    } finally xh.unpersist()
  }

  /** A unit row's distance to its cell mean — the radius the cell
    * bound must cover. A zero vector has no direction, so no radius
    * covers it: +∞ (its cell is always probed, as the all-cells
    * probe would). */
  private[graft] def boundRadius(xhat: Array[Double], mean: Array[Double]): Double =
    if (xhat.forall(_ == 0.0)) Double.PositiveInfinity
    else math.sqrt(sqDist(xhat, mean))

  /** [[cellBounds]] rows as (means, radii) arrays indexed by cell id.
    * A cell without a row gets a null mean and radius `missing`: +∞
    * for a persisted index (appends may have filled the cell since,
    * so it must be probed) and −∞ in-entry (the cell is memberless,
    * so it can contribute nothing). */
  private[graft] def boundArrays(rows: Array[(Int, Array[Double], Double)],
      nCells: Int, missing: Double): (Array[Array[Double]], Array[Double]) = {
    val means = new Array[Array[Double]](nCells)
    val radii = Array.fill(nCells)(missing)
    rows.foreach { case (c, m, r) => means(c) = m; radii(c) = r }
    (means, radii)
  }

  /** Nearest centroid by squared L2 ([[sqDist]] of v's subvector at
    * `off`); the FIRST index wins an exact tie. This is THE
    * frozen-model assignment rule — the Lloyd's loops, PQ's encode,
    * VectorIndex.appendIvf and IVFADC's residuals share this kernel
    * so the tie-break (which the padded-duplicate design depends on)
    * cannot drift between paths. */
  private[graft] def nearestIndex(v: Array[Double],
      cs: Array[Array[Double]], off: Int = 0): Int = {
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cs.length) {
      val d = sqDist(v, cs(i), off)
      if (d < bd) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** Squared L2 distance of centroid `c` to v's subvector at `off`
    * (the whole vector at 0) — the one metric kernel [[nearestIndex]],
    * [[probeCells]], [[silhouette]], PQ's codes and v15's bounded
    * re-probe share. */
  private[graft] def sqDist(v: Array[Double], c: Array[Double], off: Int = 0): Double = {
    var d = 0.0; var j = 0
    while (j < c.length) { val t = v(off + j) - c(j); d += t * t; j += 1 }
    d
  }

  /** The `nProbe` cells nearest `q` by [[sqDist]], ties to the lower
    * cell id — the one single-query cell choice: the persisted IVF
    * probes, the in-JVM snapshot, IVFADC, v07 and the ladder's panel
    * all call it. `among` restricts the choice to those cell ids (the
    * two-level probe's candidate children); centroids outside it may
    * be null. */
  private[graft] def nearestCells(centroids: Array[Array[Double]],
      q: Array[Double], nProbe: Int, among: Seq[Int] = null): IndexedSeq[Int] =
    Option(among).getOrElse(centroids.indices)
      .map(c => (sqDist(q, centroids(c)), c)).sorted
      .take(nProbe).map(_._2).toIndexedSeq

  /** The uniform contiguous group→children index fitTwoLevel's flat
    * id space implies (group g owns cells g·k2 until (g+1)·k2) —
    * what every caller probed with before cell splitting made the
    * layout explicit. `null` coarse (flat model) has no groups. */
  private[graft] def uniformChildren(nFlat: Int,
      coarse: Array[Array[Double]]): Array[Array[Int]] =
    if (coarse == null) null
    else {
      val k2 = nFlat / coarse.length
      Array.tabulate(coarse.length)(g =>
        Array.range(g * k2, math.min((g + 1) * k2, nFlat)))
    }

  /** The candidate cells a query may probe — THE one definition the
    * probe ([[probeCells]]) and v15's bounded re-probe both use, so
    * "which cells were reachable" can never drift between round one
    * and the re-probe round. Flat model (coarse == null): every
    * cell. Two-level: the `coarseProbe` nearest groups' children per
    * the EXPLICIT children index (uniform before any split; split
    * cells stay listed under their parent's group). */
  private[graft] def candidateCells(v: Array[Double],
      cs: Array[Array[Double]], coarse: Array[Array[Double]],
      children: Array[Array[Int]], coarseProbe: Int): Array[Int] =
    candidateCellsExtended(v, cs, coarse, children, coarseProbe, _ => false)

  /** [[candidateCells]] plus ADMITTED STRADDLE GROUPS (r16, VERDICT
    * r15 #2 — the cross-coarse-group scope hole): beyond the
    * `coarseProbe` nearest groups, up to `maxAdmitted` further groups
    * `groupAdmit` accepts are included too — nearest (by coarse
    * distance, the probe order's continuation) first. The adaptive
    * top-up passes a per-group cosine upper bound (q̂·ĝ + R̂g, the
    * cell bound one level up) ≥ θk, so a query whose true neighbour
    * sits in the 5th-nearest coarse group becomes REACHABLE exactly
    * when that group could still beat the pooled k-th. The CAP is the
    * cost bound: derived group bounds are LOOSE on spread-out groups
    * (R̂g covers the whole group's directional spread — measured at
    * clustered-2M: uncapped admission let ~every group in and the
    * re-probe flatMap sqDist-ranked all 8000 cells per query, v15
    * 42 → 122 s), so admission is budget-shaped like the re-probe
    * itself: the common case pays k1 bound evaluations + ranking
    * (coarseProbe + maxAdmitted)·k2 cells, never the full flat space.
    * ONE definition with the fixed-scope rule so the two cannot
    * drift. */
  private[graft] def candidateCellsExtended(v: Array[Double],
      cs: Array[Array[Double]], coarse: Array[Array[Double]],
      children: Array[Array[Int]], coarseProbe: Int,
      groupAdmit: Int => Boolean, maxAdmitted: Int = Int.MaxValue): Array[Int] =
    if (coarse == null) Array.range(0, cs.length)
    else {
      val gds = new Array[(Double, Int)](coarse.length)
      var g = 0
      while (g < coarse.length) { gds(g) = (sqDist(v, coarse(g)), g); g += 1 }
      val ranked = gds.sortBy(_._1)
      (ranked.take(coarseProbe) ++
        ranked.drop(coarseProbe).filter { case (_, grp) => groupAdmit(grp) }
          .take(maxAdmitted))
        .flatMap { case (_, grp) => children(grp) }
    }

  /** Coarse-first probe-cell selection — THE shared probe kernel for
    * every cell-blocked batch path (e01c's knnClassifyCellBlocked and
    * v15's knnBatchIvf call this; the [[nearestIndex]] convention:
    * one definition so the two-level probe rule cannot drift between
    * paths). For each query row (id, v): with `coarse == null` every
    * centroid is ranked (the flat small-corpus path, byte-identical
    * to the pre-two-level rounds); otherwise only the `coarseProbe`
    * nearest coarse groups' children (per the explicit `children`
    * index — see [[CellModel]]) are ranked — k1 + coarseProbe·k2
    * ≈ (1+coarseProbe)·√nCells distances per query instead of nCells.
    * Emits the `nProbe` nearest cells as narrow (qid, cluster) rows
    * against the broadcast model (the assignResiduals convention).
    *
    * `children` is REQUIRED alongside a two-level model (pass
    * [[CellModel.children]], or [[uniformChildren]] for a fresh
    * un-split fitTwoLevel layout): silently synthesizing the uniform
    * index here was the r15 ADVICE footgun — on a post-split model
    * (centroids grown past k1·k2) the synthesized k2 = nFlat/k1
    * regroups appended split-cell ids into the WRONG coarse groups.
    * A flat model (coarse == null) takes children == null. */
  private[graft] def probeCells(spark: SparkSession, queries: DataFrame,
      centroids: Array[Array[Double]], coarse: Array[Array[Double]],
      nProbe: Int, coarseProbe: Int,
      children: Array[Array[Int]]): DataFrame = {
    import spark.implicits._
    require(coarse == null || children != null,
      "probeCells: a two-level model needs its explicit children index " +
      "(CellModel.children, or KMeans.uniformChildren for an un-split " +
      "fitTwoLevel layout) — synthesizing it here mis-groups split cells")
    val bc = spark.sparkContext.broadcast(centroids)
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcChildren = spark.sparkContext.broadcast(children)
    queries.as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cs = bc.value
        val cand = candidateCells(v, cs, bcCoarse.value, bcChildren.value,
          coarseProbe)
        val ds = new Array[(Double, Int)](cand.length)
        var i = 0
        while (i < cand.length) {
          ds(i) = (sqDist(v, cs(cand(i))), cand(i)); i += 1
        }
        ds.sortBy(_._1).take(nProbe).map { case (_, cell) => (id, cell) }
      }
      .toDF("qid", "cluster")
  }

  /** TWO-LEVEL (hierarchical) coarse quantizer — the standard
    * scale form of the IVF cell assignment (the residue item e01c's
    * scaladoc named): a flat k-means at nCells costs every vector
    * nCells distance evaluations PER ITERATION, which at 10⁹ vectors
    * × 10⁶ cells is 10¹⁵ distances; splitting the codebook into
    * k1 ≈ √nCells coarse centroids with k2 = ⌈nCells/k1⌉ children
    * EACH costs k1 + k2 per vector instead (~500× fewer at those
    * dials) at a modest quantization-error premium (each vector only
    * sees its own coarse group's children).
    *
    * Spark shape: level 1 is [[fit]]; level 2 runs ALL k1 child
    * fits simultaneously as one [[lloyd]] loop keyed by coarse group
    * (≤ k1·k2·dim rows collected per iteration), seeded per group by
    * [[spreadSeeds]]. Like [[fit]], it never persists `emb` (the
    * caller caches it) and returns a lazy assignment.
    *
    * Returns (assignments (vec_id, cluster) with FLAT cell ids
    * coarse·k2 + sub, flat centroids indexed by that id, coarse
    * centroids). The flat id space is k1·k2 ≥ nCells; groups with
    * fewer vectors than k2 pad unused slots with their group's first
    * seed. At INIT a padded duplicate is never argmin-assigned
    * (strict `<` keeps the first); after the first centroid UPDATE
    * the real cell moves to its member mean while the pad keeps the
    * stale seed position, so a later iteration may legitimately
    * assign members to the pad — it then just becomes another real
    * cell. Either way every cell's centroid is positioned and the
    * assignment stays a partition; truly-empty cells cost a probe
    * slot at most (their partition scans nothing). Downstream
    * consumers (buildIvf layout, [[nearestCells]] probe, silhouette) are
    * agnostic: the flat (assignments, centroids) pair is drop-in. */
  def fitTwoLevel(spark: SparkSession, emb: DataFrame, nCells: Int,
      iters: Int, branch: Int = 0)
      : (DataFrame, Array[Array[Double]], Array[Array[Double]]) = {
    import spark.implicits._
    require(nCells >= 4, s"fitTwoLevel wants nCells >= 4, got $nCells (use fit)")
    val k1 = if (branch > 0) branch
      else math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(nCells.toDouble / k1).toInt)
    val e = emb.select(col("vec_id"), col("v"))
    val (coarseAssign, coarse, _) = fit(spark, e, k1, iters, trackInertia = false)
    // a corpus smaller than k1 seeds fewer coarse centroids than
    // requested — every structure below sizes to what EXISTS
    val k1e = coarse.length
    val withCoarse = e.join(coarseAssign, "vec_id")
      .select(col("vec_id"), col("v"), col("cluster").as("coarse"))
      .as[(Long, Array[Double], Int)]
    val children = {
      val rows = withCoarse.cache()
      try lloyd(spark, rows.map { case (_, v, g) => (g, v) },
        spreadSeeds(rows.select(col("vec_id"), col("coarse"), col("v")),
          (0 until k1e).map(_ -> k2).toMap, coarse(_)), iters)
      finally rows.unpersist()
    }
    val bc = spark.sparkContext.broadcast(children)
    val assign = withCoarse
      .map { case (id, v, g) => (id, g * k2 + nearestIndex(v, bc.value(g))) }
      .toDF("vec_id", "cluster")
    (assign, Array.tabulate(k1e * k2)(i => children(i / k2)(i % k2)), coarse)
  }

  /** A fitted cell model for the cell-blocked batch kernels (e01c /
    * v15): flat assignment + centroids, the optional coarse level
    * (null = flat probe), and the EXPLICIT group→children index
    * (null when coarse is null) that [[probeCells]] and the v15
    * re-probe route through — uniform g·k2 blocks straight out of
    * [[fitTwoLevel]], extended in place by [[splitOversized]] when a
    * hot cell splits (children stay under their parent's group, so
    * the coarse-first probe reaches them without re-fitting level 1). */
  private[graft] final case class CellModel(assign: DataFrame,
      centroids: Array[Array[Double]], coarse: Array[Array[Double]],
      children: Array[Array[Int]],
      // the PRE-split uniform block size (flat cells per coarse group
      // straight out of fitTwoLevel) — what persisted metadata must
      // record as k2: splits APPEND flat ids, so deriving k2 as
      // centroids.length / k1 after a split mis-groups every cell
      // (r16 ADVICE). 0 when there is no coarse level.
      baseK2: Int = 0)

  /** Hot cells split into ceil(members/target) children, but never
    * more: a degenerate fit that dumped the corpus into one cell
    * must not demand a million-child sub-fit in one round (the next
    * round splits the still-hot children recursively). */
  val SplitMaxChildren = 256

  /** Split rounds before [[splitOversized]] stops chasing stragglers:
    * each round splits at target granularity, so 3 rounds bound the
    * residual at cap·(cap/target)⁻ᵏ — in practice one round clears
    * real corpora and round 2 the Lloyd's-collapse stragglers. */
  val SplitMaxRounds = 3

  /** THE routed fit for the cell-blocked batch entries — flat below
    * `twoLevelCells` (byte-identical to every prior round), two-level
    * above (the r13 scale routing), then [[splitOversized]] caps
    * member counts at `cellCap`. Callers probe via [[probeCells]]
    * with the model's children index, and cache `emb` (the fits read
    * it once per iteration). */
  private[graft] def fitCells(spark: SparkSession, emb: DataFrame,
      nCells: Int, iters: Int, twoLevelCells: Int,
      cellCap: Int, cellTarget: Int): CellModel = {
    val base =
      if (nCells >= twoLevelCells) {
        val (a, flat, c) = fitTwoLevel(spark, emb, nCells, iters)
        CellModel(a, flat, c, uniformChildren(flat.length, c),
          baseK2 = flat.length / c.length)
      } else {
        val (a, cs, _) = fit(spark, emb, nCells, iters, trackInertia = false)
        CellModel(a, cs, null, null)
      }
    if (cellCap <= 0) base
    else splitOversized(spark, emb, base, cellCap, cellTarget, iters)
  }

  /** CELL-SIZE CAP (VERDICT r14 #3 — the clustered hot-cell wall):
    * nCells ∝ n makes cells AVERAGE `target` members, but on real
    * (clustered) corpora k-means concentrates mass — a cell that
    * captures several dense clusters holds thousands of members, and
    * since probe frequency rises with the same density, hot cells
    * are probed MOST exactly where scans are LONGEST (the measured
    * 2.4× clustered-vs-stress premium at 2M: 688 vs 284 s). This
    * post-pass bounds probe cost by the CAP, not by the hottest
    * cluster's density: any cell above `cap` members splits into
    * ceil(members/target) children via one [[lloyd]] loop keyed by
    * hot cell over ALL hot cells simultaneously (per-cell
    * [[spreadSeeds]] — never a per-cell driver loop), recursively up
    * to [[SplitMaxRounds]].
    * Child 0 reuses the parent's flat id (its centroid moves);
    * children 1.. append new flat ids REGISTERED UNDER THE PARENT'S
    * COARSE GROUP, so the coarse-first probe reaches split cells
    * without touching level 1. Corpora whose cells all fit under
    * `cap` (every sf-scale test corpus) return the input model
    * UNTOUCHED — plans, trajectories and pinned bands stay
    * byte-identical below the decade scales. */
  private[graft] def splitOversized(spark: SparkSession, emb: DataFrame,
      model: CellModel, cap: Int, target: Int, iters: Int,
      maxRounds: Int = SplitMaxRounds): CellModel = {
    import spark.implicits._
    require(cap >= target, s"splitOversized wants cap >= target, got $cap < $target")
    var cur = model
    var round = 0
    var stable = false
    // NO-PROGRESS cells (r15 ADVICE): a hot cell whose largest child
    // kept EVERY member (e.g. > cap exact duplicates — identical
    // seeds → identical child centroids → the strict-< tie sends all
    // members to the first child) cannot be shrunk by re-splitting;
    // freeze it so later rounds don't burn their budget re-proving it.
    var frozen = Set.empty[Int]
    while (round < maxRounds && !stable) {
      val hot = cur.assign.groupBy("cluster")
        .agg(count(lit(1)).as("n")).filter(col("n") > cap)
        .as[(Int, Long)].collect().sortBy(_._1) // ≤ nCells rows
        .filterNot { case (c, _) => frozen(c) }
      if (hot.isEmpty) stable = true
      else {
        val kSub: Map[Int, Int] = hot.map { case (c, n) =>
          c -> math.min(SplitMaxChildren,
            math.max(2, math.ceil(n.toDouble / target).toInt))
        }.toMap
        val hotIds = hot.map(_._1)
        val members = emb.select(col("vec_id"), col("v"))
          .join(cur.assign.filter(col("cluster").isin(hotIds: _*)), "vec_id")
          .select(col("vec_id"), col("v"), col("cluster"))
          .as[(Long, Array[Double], Int)].cache()
        try {
          // a hot cell has > cap ≥ target members, so kSub real seeds
          // always exist — the parent-centroid fallback is only the guard
          val children = lloyd(spark, members.map { case (_, v, c) => (c, v) },
            spreadSeeds(members.select(col("vec_id"), col("cluster"), col("v")),
              kSub, cur.centroids(_)), iters)
          // FINAL sub-assignment, materialized ONCE (it feeds both the
          // child-count pass and the flat-id mapping — the
          // twice-consumed-subtree convention): narrow (id, cell, sub)
          // rows, pinned executor-side.
          val subAssign = {
            val bcModel = spark.sparkContext.broadcast(children)
            members.map { case (id, v, c) =>
              (id, c, nearestIndex(v, bcModel.value(c)))
            }.toDF("vec_id", "cell", "sub").pinned
          }
          // member counts per child: MEMBERLESS children are pruned
          // BEFORE any flat id is allocated (r15 ADVICE — un-pruned
          // clone centroids of a duplicate-heavy cell would silently
          // break the cap accounting AND tie with the real cell in
          // probeCells' sqDist ranking, filling probe slots with
          // cells whose partitions scan nothing while genuinely-near
          // cells wait outside the nProbe budget).
          val childCounts = subAssign.groupBy("cell", "sub").count()
            .as[(Int, Int, Long)].collect() // ≤ Σ kSub rows
          val liveSubs: Map[Int, Array[Int]] = childCounts.groupBy(_._1)
            .map { case (c, rows) => c -> rows.map(_._2).sorted }
          val maxChild: Map[Int, Long] = childCounts.groupBy(_._1)
            .map { case (c, rows) => c -> rows.map(_._3).max }
          val prevN = hot.toMap
          frozen ++= hotIds.filter(c => maxChild.getOrElse(c, 0L) >= prevN(c))
          // flat-id allocation: the FIRST live sub reuses the parent
          // slot, later live subs append (deterministic: parents in id
          // order, subs in index order)
          var nextId = cur.centroids.length
          val newIds: Map[Int, Map[Int, Int]] = hotIds.map { c =>
            c -> liveSubs(c).zipWithIndex.map { case (s, i) =>
              s -> (if (i == 0) c else { val id = nextId; nextId += 1; id })
            }.toMap
          }.toMap
          val newCentroids = new Array[Array[Double]](nextId)
          cur.centroids.copyToArray(newCentroids)
          hotIds.foreach { c =>
            newIds(c).foreach { case (s, id) => newCentroids(id) = children(c)(s) }
          }
          val newChildren =
            if (cur.children == null) null
            else {
              val groupOf = cur.children.zipWithIndex.flatMap {
                case (cs, g) => cs.map(_ -> g)
              }.toMap
              val grown = cur.children.map(
                scala.collection.mutable.ArrayBuffer.from(_))
              hotIds.foreach { c =>
                newIds(c).values.filter(_ != c).toArray.sorted
                  .foreach(grown(groupOf(c)) += _)
              }
              grown.map(_.toArray)
            }
          val bcIds = spark.sparkContext.broadcast(newIds)
          val reassigned = subAssign.as[(Long, Int, Int)]
            .map { case (id, c, s) => (id, bcIds.value(c)(s)) }
            .toDF("vec_id", "cluster")
          // pin each round's assignment so rounds don't stack lazy
          // union/typed-map lineage over the scoped caches (the
          // fitTwoLevel convention)
          val newAssign = cur.assign
            .filter(!col("cluster").isin(hotIds: _*))
            .unionAll(reassigned)
            .pinned
          cur = CellModel(newAssign, newCentroids, cur.coarse, newChildren,
            cur.baseK2)
        } finally members.unpersist()
      }
      round += 1
    }
    // Surface the residual (maintenance-path only — a clean split
    // never pays this action): the cap is BEST-EFFORT, bounded by
    // SplitMaxRounds and Lloyd's separability, so operators leaning
    // on the indexHealth rebuild-with-split lever must know when the
    // dial stayed tripped.
    if (!stable || frozen.nonEmpty) {
      val resid = cur.assign.groupBy("cluster")
        .agg(count(lit(1)).as("n")).filter(col("n") > cap)
        .as[(Int, Long)].collect()
      if (resid.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"splitOversized: ${resid.length} cell(s) still above cap=$cap " +
          s"after $round round(s) (max members ${resid.map(_._2).max}; " +
          s"${frozen.size} frozen as unsplittable, e.g. exact-duplicate " +
          "mass) — probe cost in those cells is bounded by their size, " +
          "not the cap")
    }
    cur
  }

  /** e02 query entry (*rows-only*; KMeansSpec asserts convergence). */
  def e02Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val (assign, _, _) = fit(spark, e, k = 8, iters = 5, trackInertia = false)
    assign.orderBy("vec_id")
  }

  /** Simplified (centroid-based) SILHOUETTE per cluster — the
    * clustering-quality diagnostic that says whether e02's k was
    * sane before e03/d15 build curation decisions on the clusters:
    * s(x) = (b − a) / max(a, b) with a = |x − c_own| and b = min
    * over OTHER centroids |x − c_k| (the O(n·k) centroid form MLlib's
    * ClusteringEvaluator also uses — the classic O(n²) pairwise form
    * is the exact anchor this approximates, intractable at 100 TB by
    * design, not implementation). One narrow map over broadcast
    * centroids + one k-keyed agg; nothing corpus-sized collected. */
  def silhouette(spark: SparkSession, assigned: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    require(centroids.length >= 2, "silhouette needs k >= 2")
    val bc = spark.sparkContext.broadcast(centroids)
    assigned.select(col("vec_id"), col("cluster").cast("int"), col("v"))
      .as[(Long, Int, Array[Double])]
      .map { case (_, own, v) =>
        val cs = bc.value
        var a = 0.0; var b = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val dist = math.sqrt(sqDist(v, cs(i)))
          if (i == own) a = dist else if (dist < b) b = dist
          i += 1
        }
        val s = if (math.max(a, b) > 0) (b - a) / math.max(a, b) else 0.0
        (own, s)
      }
      .toDF("cluster", "s")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg("s"), 6).as("mean_s"))
      .orderBy("cluster")
  }

  /** e04 entry (*rows-only*; KMeansSpec: planted separated clusters
    * score near 1, exact two-point case, overlap scores lower). */
  def e04Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val (assign, centroids, _) = fit(spark, e, k = 8, iters = 5, trackInertia = false)
    silhouette(spark, assign.join(e, "vec_id"), centroids)
  }

  val SampleClusters = 8
  val ClusterQuota = 40

  /** e03: CLUSTER-BALANCED diversity sampling — the SemDeDup-family
    * curation step: cluster the embedding space, then keep a
    * deterministic per-cluster QUOTA (not a per-cluster rate — a
    * uniform rate per cluster is just a global uniform sample).
    * Dense regions downsample hard, sparse regions keep everything
    * ≤ quota, so every region of embedding space stays represented
    * regardless of corpus skew.
    *
    * Selection within a cluster orders by the md5 nibble-hash of the
    * id (t10's engine-reproducible coin) and takes the first `quota`
    * — a per-cluster window whose state is bounded by the quota
    * after the rank filter; the shuffle is keyed by cluster (k
    * partitions of work, each independent). *rows-only*: k-means is
    * not SQL-expressible; KMeansSpec pins quota/determinism/balance. */
  def e03ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val (assign, _, _) = fit(spark, e, k = SampleClusters, iters = 3, trackInertia = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("coin"), col("vec_id"))
    assign
      .withColumn("coin", md5(col("vec_id").cast("string")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ClusterQuota)
      .select("vec_id", "cluster")
      .orderBy("vec_id")
  }
}
