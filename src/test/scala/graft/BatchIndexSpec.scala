package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.normNative
import graft.operators.VectorQueries
import graft.store.VectorIndex

/** Batch k-NN over the PERSISTED IVF index (r16, VERDICT r15 #1) —
  * VectorIndex.annIvfBatch is the serving twin of v15: same kernel
  * (VectorQueries.batchIvfCore), but cells + bounds + tombstones come
  * from the artifact instead of an in-entry fit. Also pins the
  * cross-coarse-group straddle extension (VERDICT r15 #2): the
  * adaptive top-up's candidate scope now reaches groups past the
  * coarseProbe nearest when their derived group bound could still
  * beat the pooled k-th. */
class BatchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** 3000 vectors in 12 directional clusters of 250 (dim 16), every
    * 5th row a query — big enough that v15 takes the cell-blocked
    * path (nCells = 12 > probe + budget) and stays flat (< 64). */
  private def clustered3k = (0 until 3000).map { i =>
    val c = i % 12
    (i.toLong,
      Array.tabulate(16)(j =>
        (if (j == c) 4.0 else 0.0) + 0.3 * math.sin(i * 2.3 + j * 1.1)),
      if (i % 5 == 0) 0 else 1)
  }.toDF("vec_id", "v", "label")

  /** Build the dir with v15's EXACT fit dials (nCells = n/250, iters
    * 2, cap 500 → target 250, same repartition shape) so the two
    * forms share one model and rows can be compared 1:1. */
  private def buildMatchedDir(e0: DataFrame, n: Int): String = {
    val dir = Files.createTempDirectory("graft_batchivf").toString
    VectorIndex.buildIvf(spark,
      e0.withColumn("nv", normNative(col("v")))
        .repartition(spark.sparkContext.defaultParallelism),
      dir, nCells = math.max(8, n / VectorQueries.V15CellTarget),
      iters = 2, cellCap = VectorQueries.V15CellCap,
      twoLevelCells = VectorQueries.V15TwoLevelCells)
    VectorIndex.buildCellBounds(spark, dir)
    dir
  }

  test("buildIvf(cellCap, twoLevelCells): a split two-level build persists ivf_children; the batch probe reaches split cells") {
    // CellCapSpec's hot corpus: a 1000-member dense cluster forces
    // splits UNDER a coarse group — the persisted children index is
    // what keeps the coarse-first probe correct (uniform g·k2
    // metadata alone would mis-group the appended ids)
    val e0 = (0 until 1200).map { i =>
      val axisOf = if (i < 1000) 0 else 2 + (i % 4)
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == axisOf) 4.0 else 0.0) + 0.4 * math.sin(i * 2.3 + j * 1.1)))
    }.toDF("vec_id", "v").cache()
    try {
      val dir = Files.createTempDirectory("graft_batchivf_split").toString
      VectorIndex.buildIvf(spark, e0, dir, nCells = 8, iters = 2,
        cellCap = 150, twoLevelCells = 4)
      VectorIndex.buildCellBounds(spark, dir)
      assert(new java.io.File(s"$dir/ivf_children").exists(),
        "split two-level build must persist the explicit children index")
      assert(new java.io.File(s"$dir/ivf_coarse").exists())
      val q = e0.filter(col("vec_id") % 40 === 0).select("vec_id", "v")
      val adaptive = VectorIndex.annIvfBatch(spark, dir, q, k = 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // probe-all reference: k1 ≈ 3 ≤ coarseProbe (4) → full scope;
      // nProbe covers every flat cell → exact by construction
      val nFlat = VectorIndex.loadIvfCentroids(spark, dir).length
      val all = VectorIndex.annIvfBatch(spark, dir, q, k = 3,
          nProbe = nFlat, reprobeMax = 0)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adaptive == all,
        "split-layout adaptive batch must equal the probe-all reference")
    } finally e0.unpersist()
  }

  test("annIvfPqBatch (r17): probe-all + pool-covering equals the brute batch top-k; serving dials hold a clustered recall band; codes scan partition-prunes") {
    // HIERARCHICAL clusters (the GenClustered premise shape): 12
    // directional clusters × 10 subgroups — true neighbours are
    // subgroup mates, separated by a 1.5-unit subgroup axis the
    // residual codes must resolve. A FLAT cluster (uniform jitter)
    // would decouple pair recall from usefulness here — top-k
    // identity inside a tight uniform ball is noise-driven, the
    // documented §8l finding — so the band is pinned on the regime
    // the rung exists for.
    val e0 = (0 until 3000).map { i =>
      val c = i % 12
      val s = (i / 12) % 10
      (i.toLong, Array.tabulate(16)(j =>
        (if (j == c) 4.0 else 0.0) +
        (if (j == (c + 1 + s) % 16) 1.5 else 0.0) +
        0.05 * math.sin(i * 2.3 + j * 1.1)),
        if (i % 5 == 0) 0 else 1)
    }.toDF("vec_id", "v", "label").cache()
    try {
      val dir = Files.createTempDirectory("graft_batchadc").toString
      VectorIndex.buildIvfPq(spark, e0.select("vec_id", "v"), dir,
        nCells = 12)
      val q = e0.filter(col("label") === 0).select("vec_id", "v")
      // brute truth: every label-0 query's exact round-6 top-3 with
      // the vec_id tiebreak (v02's semantics)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      val brute = e0.withColumn("nv", normNative(col("v")))
        .crossJoin(broadcast(e0.filter(col("label") === 0)
          .withColumn("nq", normNative(col("v")))
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nq"))))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosinePreRaw(
            col("v"), col("qv"), col("nv"), col("nq")), 6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // EXACT regime: every cell probed, pool covering the corpus —
      // approximation can only live in pool membership, so this must
      // equal brute row-for-row
      val exact = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3,
        nProbe = 12, rerank = 1200)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact == brute,
        s"probe-all + covering pool must equal brute (diff ${(exact diff brute).size}/${(brute diff exact).size})")
      // SERVING dials: clustered corpus, default probe/rerank — the
      // premise regime must hold a high pair-recall band
      val served = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = brute.intersect(served).size.toDouble / brute.size
      assert(recall >= 0.9, s"clustered serving recall $recall below 0.9")
      // every query answered with k rows
      assert(served.groupBy(_._1).forall(_._2.size == 3))
      // the codes scan must partition-prune (the rung's point: probed
      // cells' code files only)
      val plan = physicalPlan(VectorIndex.annIvfPqBatch(spark, dir, e0,
        q.limit(5), k = 3))
      assert(plan.contains("PartitionFilters: [cluster"),
        "the ivfpq_codes scan must carry the probe as a partition filter")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "no all-pairs shape anywhere in the compressed batch plan")
      // CANDIDATE filter (r17): the entity-filtered batch hybrid's
      // contract at the compressed rung — the filter semi-joins the
      // CODE scan before scoring, so ranking happens within the
      // candidate set, and probe-all + covering pool must equal the
      // brute FILTERED batch top-k exactly
      val candCorpus = e0.filter(col("vec_id") % 3 === 0)
      val bruteF = candCorpus.withColumn("nv", normNative(col("v")))
        .crossJoin(broadcast(e0.filter(col("label") === 0)
          .withColumn("nq", normNative(col("v")))
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nq"))))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosinePreRaw(
            col("v"), col("qv"), col("nv"), col("nq")), 6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val filteredAdc = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3,
        nProbe = 12, rerank = 1200,
        candidates = Some(candCorpus.select("vec_id")))
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(filteredAdc == bruteF,
        s"filtered probe-all + covering pool must equal brute filtered " +
        s"(diff ${(filteredAdc diff bruteF).size}/${(bruteF diff filteredAdc).size})")
    } finally e0.unpersist()
  }

  test("buildIvfPq(twoLevelCells): the routed coarse fit serves exactly like the flat one at probe-all + covering pool (r17)") {
    // the fit ROUTE must not change the serving contract: layout
    // assignment (assignResiduals' flat argmin) and the query probe
    // assign against the same centroid array regardless of how the
    // centroids were fitted, so probe-all + covering pool == brute
    // holds through the two-level-routed build too (the route exists
    // for the 2M × 8000-cell fit wall, not for different answers)
    val e0 = (0 until 600).map { i =>
      val c = i % 12
      (i.toLong, Array.tabulate(16)(j =>
        (if (j == c) 4.0 else 0.0) + 0.05 * math.sin(i * 2.3 + j * 1.1)),
        if (i % 5 == 0) 0 else 1)
    }.toDF("vec_id", "v", "label").cache()
    try {
      val dir = Files.createTempDirectory("graft_adc2l").toString
      VectorIndex.buildIvfPq(spark, e0.select("vec_id", "v"), dir,
        nCells = 12, twoLevelCells = 8) // 12 >= 8 → fitTwoLevel route
      val q = e0.filter(col("label") === 0).select("vec_id", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      val brute = e0.withColumn("nv", normNative(col("v")))
        .crossJoin(broadcast(e0.filter(col("label") === 0)
          .withColumn("nq", normNative(col("v")))
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nq"))))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosinePreRaw(
            col("v"), col("qv"), col("nv"), col("nq")), 6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3,
        nProbe = 12, rerank = 300)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact == brute,
        s"two-level-routed buildIvfPq must serve brute at probe-all + covering pool " +
        s"(diff ${(exact diff brute).size}/${(brute diff exact).size})")
    } finally e0.unpersist()
  }

  test("split two-level dir: SINGLE-QUERY coarse-first serving reaches split cells; metadata k2 is the true pre-split block (r17, ADVICE)") {
    // the r16 hole: the coarse-first probe derived group membership
    // as c / k2 from metadata whose k2 was centroids.length / k1 —
    // wrong after any split — so appended split-cell ids mapped to
    // groups ≥ k1 and their vectors were UNREACHABLE through the
    // two-level annIvf even at coarseProbe = k1. Same hot corpus as
    // the batch round-trip test above.
    val e0 = (0 until 1200).map { i =>
      val axisOf = if (i < 1000) 0 else 2 + (i % 4)
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == axisOf) 4.0 else 0.0) + 0.4 * math.sin(i * 2.3 + j * 1.1)))
    }.toDF("vec_id", "v").cache()
    try {
      val dir = Files.createTempDirectory("graft_two_split").toString
      VectorIndex.buildIvf(spark, e0, dir, nCells = 8, iters = 2,
        cellCap = 150, twoLevelCells = 4)
      val meta = spark.read.json(s"$dir/ivf_two_level.json").head()
      val k1 = meta.getAs[Long]("k1").toInt
      val k2 = meta.getAs[Long]("k2").toInt
      val nFlat = VectorIndex.loadIvfCentroids(spark, dir).length
      assert(nFlat > k1 * k2,
        s"the corpus must actually split (nFlat $nFlat vs k1*k2 ${k1 * k2}) " +
        "or this test pins nothing")
      // metadata k2 must be the TRUE pre-split block: every ORIGINAL
      // cell id (< k1*k2) groups as id / k2 in the explicit index
      val children = spark.read.parquet(s"$dir/ivf_children").collect()
        .map(r => (r.getInt(1), r.getInt(0))).toMap // cell -> grp
      (0 until k1 * k2).foreach { c =>
        assert(children(c) == c / k2,
          s"original cell $c must group as ${c / k2} under the true k2=$k2")
      }
      // and split ids (>= k1*k2) stay under their parent's group
      assert((k1 * k2 until nFlat).forall(c => children(c) < k1),
        "split cells must register under a real coarse group")
      // serving: a dense-cluster query's exact top-3 (flat all-probe
      // is exact by construction) must be reachable through the
      // coarse-first path at full scope — on the r16 derivation the
      // split cells were filtered out of the child-centroid read
      val qv = e0.filter(col("vec_id") === 500L).head().getSeq[Double](1).toArray
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "cos").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val flatAll = rows(VectorIndex.annIvf(spark, dir, qv, 3,
        nProbe = nFlat, excludeVecId = Some(500L)))
      val twoAll = rows(VectorIndex.annIvf(spark, dir, qv, 3,
        nProbe = nFlat, coarseProbe = k1, excludeVecId = Some(500L)))
      assert(twoAll == flatAll,
        s"coarse-first serving at full scope must equal the flat probe: $twoAll vs $flatAll")
    } finally e0.unpersist()
  }

  test("annIvfBatch == in-memory v15 rows on a matched model (the serving-twin contract)") {
    val e0 = clustered3k.cache()
    try {
      val dir = buildMatchedDir(e0, 3000)
      val inMem = VectorQueries.knnBatchIvf(spark, e0, k = 3)
        .collect().map(_.toString).sorted
      val persisted = VectorIndex.annIvfBatch(spark, dir,
          e0.filter(col("label") === 0).select("vec_id", "v"), k = 3)
        .collect().map(_.toString).sorted
      assert(persisted.length == inMem.length,
        s"row counts differ: persisted ${persisted.length} vs in-memory ${inMem.length}")
      assert(persisted.sameElements(inMem),
        "persisted batch must equal the in-memory v15 rows on a matched model")
    } finally e0.unpersist()
  }

  test("annIvfBatch: probed cells become a PARTITION filter; non-probed cells never open") {
    val e0 = clustered3k.cache()
    try {
      val dir = buildMatchedDir(e0, 3000)
      // one query cluster, fixed dial → single partition-pruned scan
      val q = e0.filter(col("label") === 0 && col("vec_id") % 12 === 0)
        .select("vec_id", "v").limit(5)
      val df = VectorIndex.annIvfBatch(spark, dir, q, k = 3, nProbe = 2,
        reprobeMax = 0)
      val plan = physicalPlan(df)
      assert(plan.contains("PartitionFilters: [cluster"),
        s"probe must prune at the partition level:\n${plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")}")
      // and the result is sane: every query answered with k rows
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.groupBy(_._1).forall(_._2.length == 3))
    } finally e0.unpersist()
  }

  test("annIvfBatch: tombstoned ids vanish from results (serving hygiene inherited)") {
    val e0 = clustered3k.cache()
    try {
      val dir = buildMatchedDir(e0, 3000)
      val q = e0.filter(col("vec_id") === 0).select("vec_id", "v")
      val before = VectorIndex.annIvfBatch(spark, dir, q, k = 3)
        .collect().map(_.getLong(1))
      val victim = before.head
      VectorIndex.tombstone(spark, dir, Seq(victim).toDF("vec_id"))
      val after = VectorIndex.annIvfBatch(spark, dir, q, k = 3)
        .collect().map(_.getLong(1))
      assert(!after.contains(victim), s"tombstoned $victim still served")
      assert(after.length == 3, "pool must refill after the tombstone")
    } finally e0.unpersist()
  }

  test("annIvfPqBatch lifecycle: frozen-model appends are reachable; tombstoned ids vanish and the pool refills (r17)") {
    // the batch twin of the single-query artifact-lifecycle pins:
    // probe-all + covering pool make reachability DETERMINISTIC, so
    // a missed append or a served tombstone cannot hide in recall
    val e0 = clustered3k.cache()
    try {
      val dir = Files.createTempDirectory("graft_adclife").toString
      val held = e0.filter(col("vec_id") >= 2900) // 100 late arrivals
      VectorIndex.buildIvfPq(spark,
        e0.filter(col("vec_id") < 2900).select("vec_id", "v"), dir,
        nCells = 12)
      VectorIndex.appendIvfPq(spark, dir, held.select("vec_id", "v"))
      // a query right next to a held-out vector: its subgroup mates
      // include appended ids, and probe-all + covering pool MUST
      // return the true top-3 — appended codes serve like built ones
      val q = e0.filter(col("vec_id") === 2900).select("vec_id", "v")
      val got = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3,
        nProbe = 12, rerank = 1000).collect().map(_.getLong(1))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      val truth = e0.withColumn("nv", normNative(col("v")))
        .crossJoin(broadcast(q
          .withColumn("nq", normNative(col("v")))
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nq"))))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosinePreRaw(
            col("v"), col("qv"), col("nv"), col("nq")), 6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).collect().map(_.getLong(1))
      assert(got.toSet == truth.toSet,
        s"appended vectors must serve exactly at probe-all + covering pool: ${got.toSeq} vs ${truth.toSeq}")
      // tombstone the top hit → it vanishes and the pool refills
      val victim = got.head
      VectorIndex.tombstone(spark, dir, Seq(victim).toDF("vec_id"))
      val after = VectorIndex.annIvfPqBatch(spark, dir, e0, q, k = 3,
        nProbe = 12, rerank = 1000).collect().map(_.getLong(1))
      assert(!after.contains(victim), s"tombstoned $victim still served")
      assert(after.length == 3, "pool must refill after the tombstone")
    } finally e0.unpersist()
  }

  test("annIvfBatch: reprobeMax > 0 without cell bounds fails fast naming buildCellBounds") {
    val e0 = clustered3k.cache()
    try {
      val dir = Files.createTempDirectory("graft_batchivf_nb").toString
      VectorIndex.buildIvf(spark, e0.select("vec_id", "v"), dir,
        nCells = 12, iters = 2)
      val ex = intercept[IllegalStateException] {
        VectorIndex.annIvfBatch(spark, dir,
          e0.filter(col("label") === 0).select("vec_id", "v"), k = 3)
      }
      assert(ex.getMessage.contains("buildCellBounds"))
      assert(ex.getMessage.contains("reprobeMax = 0"))
      // the fixed-dial form runs fine without bounds
      val rows = VectorIndex.annIvfBatch(spark, dir,
        e0.filter(col("vec_id") === 0).select("vec_id", "v"),
        k = 3, reprobeMax = 0).collect()
      assert(rows.length == 3)
    } finally e0.unpersist()
  }

  test("annIvfBatch: bound-filtered top-up near-recovers brute under a binding budget") {
    // TWO-SHELL corpus — the probe-metric/result-metric mismatch
    // made systematic: 8 axes × 2 magnitude shells (4 and 40). Same-
    // axis members have cosine ≈ 1 across BOTH shells (the top-k
    // freely crosses shells), but the other shell's cell is L2-FAR
    // (|4ê − 40ê| = 36 » the 5.7 to every same-shell cross-axis
    // cell), so a fixed L2 probe structurally misses cross-shell
    // neighbours while cross-axis cells (bound ≈ 0 « θk ≈ 1) are
    // provably useless — exactly the choice the bound filter exists
    // to make inside a budget smaller than the unprobed cell count.
    val e0 = (0 until 4000).map { i =>
      val axisOf = i % 8
      val mag = if ((i / 8) % 2 == 0) 4.0 else 40.0
      (i.toLong,
        Array.tabulate(16)(j =>
          (if (j == axisOf) mag else 0.0) + 0.3 * math.sin(i * 2.3 + j * 1.1)),
        if (i % 10 == 0) 0 else 1)
    }.toDF("vec_id", "v", "label").cache()
    try {
      val dir = buildMatchedDir(e0, 4000)
      def pairs(reprobeMax: Int) = VectorIndex.annIvfBatch(spark, dir,
          e0.filter(col("label") === 0).select("vec_id", "v"),
          k = 3, nProbe = 2, reprobeMax = reprobeMax)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(3)
      val rows = e0.select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      // brute truth under the CONTRACT's ranking: round-6 HALF_UP
      // cosine, vec_id tie-break (raw-cosine ranking differs exactly
      // at round-6 ties and would mislabel them as recall misses)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < a.length) { s += a(j)*b(j); na += a(j)*a(j); nb += b(j)*b(j); j += 1 }
        BigDecimal(s / math.sqrt(na * nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val qs = rows.filter(_._1 % 10 == 0)
      val exact = qs.flatMap { case (qid, qv) =>
        rows.filter(_._1 != qid).map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(3)
          .map { case (id, _) => (qid, id) }
      }.toSet
      val recall = exact.intersect(got).size.toDouble / exact.size
      val fixed = pairs(0)
      val fixedRecall = exact.intersect(fixed).size.toDouble / exact.size
      info(s"annIvfBatch recall vs brute: top-up $recall, fixed dial $fixedRecall")
      assert(recall >= 0.95, s"top-up recall $recall < 0.95 on the premise corpus")
      assert(recall > fixedRecall,
        s"top-up ($recall) must strictly beat the fixed dial ($fixedRecall)")
    } finally e0.unpersist()
  }

  test("straddle (VERDICT r15 #2): a neighbour past the coarseProbe scope is recovered by the group bound") {
    // HAND-BUILT two-level model (no fit nondeterminism): 6 groups of
    // one cell each — five origin groups along axes 1..5 (coarse L2
    // distance to the query ≈ 4.1) and one FAR group along the
    // query's own axis at magnitude 50 (coarse distance 49, ranked
    // LAST of 6, outside coarseProbe = 4). Cosine ignores magnitude,
    // so the far cell holds the TRUE top-k — the exact probe-metric/
    // result-metric mismatch that makes cross-group straddles real.
    val dim = 8
    def axis(j: Int, scale: Double) =
      Array.tabulate(dim)(t => if (t == j) scale else 0.0)
    val members = (0 until 5).flatMap { g =>
      (0 until 20).map { m =>
        val id = (g * 20 + m).toLong
        val v = Array.tabulate(dim)(t =>
          (if (t == g + 1) 4.0 else 0.0) + 0.1 * math.sin(id * 2.3 + t))
        (id, v, g) // cell id == group id (one cell per group)
      }
    } ++ (0 until 20).map { m =>
      val id = (100 + m).toLong
      val v = Array.tabulate(dim)(t =>
        (if (t == 0) 50.0 else 0.0) + 0.1 * math.sin(id * 2.3 + t))
      (id, v, 5)
    }
    val centroids = Array.tabulate(6)(g =>
      if (g < 5) axis(g + 1, 4.0) else axis(0, 50.0))
    val coarse = centroids // one cell per group: cell centroid == group centroid
    val children = Array.tabulate(6)(g => Array(g))
    // honest cell bounds: mean of normalized members + max residual
    val byCell = members.groupBy(_._3)
    val means = Array.tabulate(6) { c =>
      val xs = byCell(c).map { case (_, v, _) =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      Array.tabulate(dim)(t => xs.map(_(t)).sum / xs.length)
    }
    val radii = Array.tabulate(6) { c =>
      byCell(c).map { case (_, v, _) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        val xh = v.map(_ / n)
        math.sqrt(xh.zip(means(c)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.max
    }
    val corpusCells = members.map { case (id, v, c) =>
      (id, v, math.sqrt(v.map(x => x * x).sum), c)
    }.toDF("vec_id", "v", "nv", "cluster")
    val queries = Seq((9999L, axis(0, 1.0))).toDF("vec_id", "v")
    val qPayload = queries.select(col("vec_id").as("query_id"),
      col("v").as("qv"), normNative(col("v")).as("nq"))
    def run(reprobeMax: Int) = VectorQueries.batchIvfCore(spark,
        _ => corpusCells, queries, qPayload, centroids, coarse, children,
        k = 3, nProbe = 4, reprobeMax = reprobeMax, nQueries = 1L,
        bounds = () => (means, radii), pruneScan = false)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // CONTROL — the fixed dial misses: scope = 4 nearest groups, all
    // origin, so the far cell's members are unreachable
    val fixed = run(reprobeMax = 0)
    assert(fixed.forall(_._1 < 100),
      s"control broken: fixed dial reached the far cell (${fixed.mkString(",")})")
    // the planted straddle: with the group-bound extension the far
    // group admits (q̂·ĝ + R̂g ≈ 1 ≥ θk), its cell re-probes, and the
    // TRUE top-3 (all far-cell members) comes back
    val got = run(reprobeMax = 2)
    assert(got.length == 3 && got.forall(_._1 >= 100),
      s"straddle not recovered: got ${got.mkString(",")} (want far-cell ids >= 100)")
  }

  test("annIvfBatch over a persisted TWO-LEVEL dir equals its own probe-all reference") {
    import graft.operators.KMeans
    val e0 = (0 until 1600).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 4.0 else 0.0) + 0.3 * math.sin(i * 2.3 + j * 1.1)))
    }.toDF("vec_id", "v").cache()
    try {
      val dir = Files.createTempDirectory("graft_batchivf2l").toString
      VectorIndex.buildIvfTwoLevel(spark, e0, dir, nCells = 16, iters = 2)
      VectorIndex.buildCellBounds(spark, dir)
      val q = e0.filter(col("vec_id") % 100 === 0).select("vec_id", "v")
      val adaptive = VectorIndex.annIvfBatch(spark, dir, q, k = 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // probe-all reference: every cell scanned (k1 = 4 = coarseProbe,
      // nProbe = 16 covers the full flat space), exact by construction
      val all = VectorIndex.annIvfBatch(spark, dir, q, k = 3,
          nProbe = 16, reprobeMax = 0)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adaptive == all,
        "two-level adaptive batch must equal the probe-all reference on the premise corpus")
    } finally e0.unpersist()
  }
}
