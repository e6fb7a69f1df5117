package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.VectorQueries
import graft.sources.Tables

class VectorSpec extends SparkSpec {

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = spark.range(1).select(
      cosine(array(lit(1.0), lit(2.0)), array(lit(1.0), lit(2.0))).as("same"),
      cosine(array(lit(1.0), lit(0.0)), array(lit(0.0), lit(3.0))).as("orth"))
    val r = df.head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("v01 brute-force knn returns k rows ordered by cosine desc") {
    val rows = VectorQueries.v01KnnFacts(spark, sf0001).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Double]("cos"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("LSH ANN recall@10 >= 0.5 vs brute force") {
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val ann = VectorQueries.v05AnnLsh(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(ann.nonEmpty, "LSH returned no candidates")
    val recall = brute.intersect(ann).size.toDouble / brute.size
    info(s"LSH recall@10 = $recall (candidates: ${ann.size})")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("lshSweep: more tables buy recall with more candidates (the dial is real)") {
    import graft.functions.VectorFunctions.toDouble
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val n = e.count()
    val rows = VectorQueries.lshSweep(spark, e,
      graft.operators.DedupQueries.CosineThreshold, Seq((8, 4), (32, 4)))
    val Seq((_, _, cand8, _, rec8), (_, _, cand32, _, rec32)) = rows
    assert(cand8 <= cand32, s"more tables must not shrink the candidate union: $cand8 vs $cand32")
    assert(rec8 <= rec32, s"more tables must not lose recall: $rec8 vs $rec32")
    assert(cand32 <= n * (n - 1) / 2)
    assert(rows.forall { case (_, _, cand, found, _) => found <= cand })
  }

  test("PQ serving plan: the persisted-index query pools via TakeOrderedAndProject") {
    import graft.functions.VectorFunctions.toDouble
    val dir = java.nio.file.Files.createTempDirectory("pqplan").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    graft.store.VectorIndex.buildPq(spark, e, dir)
    // the serving path stays LAZY (unlike the one-shot annPq, whose
    // result is checkpointed for cache release) — its plan must show
    // the bounded ADC pool: a TakeOrderedAndProject over the code
    // scan, never a full sort of the corpus
    val df = graft.store.VectorIndex.annPq(spark, dir, e, queryVecId = 0, k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"ADC pool must be top-k, plan:\n$plan")
  }

  test("scaledPool: floor below the crossover (historical dial intact), density-fraction above") {
    import graft.operators.Pq
    // floor regime: everything up to rerank*k*density streams the
    // historical rerank*k pool byte-identically
    assert(Pq.scaledPool(500L, 10, Pq.Rerank) == 80)
    assert(Pq.scaledPool(20000L, 10, Pq.Rerank) == 80)
    assert(Pq.scaledPool(Pq.Rerank.toLong * 10 * Pq.PoolDensity, 10, Pq.Rerank) == 80)
    // density regime: the pool is a fixed FRACTION of the ranked
    // stream — the dial that held SQ8 at 1.0 recall while the fixed
    // pools collapsed a decade up
    assert(Pq.scaledPool(200000L, 10, Pq.Rerank) == 200000 / Pq.PoolDensity)
    assert(Pq.scaledPool(2000000L, 10, Pq.Rerank) == 2000000 / Pq.PoolDensity)
    // monotone in the stream, floor respected at tiny k
    assert(Pq.scaledPool(0L, 3, 4) == 12)
  }

  test("v05: the occupancy regime bound is ENFORCED — fails fast above it naming v07/v13, runs at it") {
    // VERDICT r14 #7: the 2M panel skipped v05 at ~10^6 candidates/
    // query with nothing refusing — the same unguarded-regime smell
    // v08 had before its fail-fast.
    import graft.functions.VectorFunctions.toDouble
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val n = e.count() // 100 vectors / 2^4 buckets = 6 occupancy
    val ex = intercept[IllegalArgumentException] {
      VectorQueries.annLsh(e, queryVecId = 0, k = 10,
        maxOccupancy = n / 16 - 1)
    }
    assert(ex.getMessage.contains("annIvf") && ex.getMessage.contains("annSq"),
      s"guard must name the rungs that hold at scale, got: ${ex.getMessage}")
    assert(ex.getMessage.contains(n.toString), "guard must report the corpus size")
    val ok = VectorQueries.annLsh(e, queryVecId = 0, k = 10,
      maxOccupancy = n / 16)
    assert(ok.count() == 10, "at the bound the query must still answer")
  }

  test("LSH buckets are deterministic across invocations") {
    val a = VectorQueries.v05AnnLsh(spark, sf0001).collect().toSeq
    val b = VectorQueries.v05AnnLsh(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("IVF at scale: cluster-partitioned parquet layout prunes probes at the file level") {
    // The 100 TB claim in v07's scaladoc, executed: inverted lists
    // written partitionBy(cluster) make a probe a PARTITION-PRUNED
    // scan — only the probed cells' files are read.
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")).cache()
    val (assigned, _, _) = graft.operators.KMeans.fit(spark, e, 8, 2, trackInertia = false)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-layout").toString
    e.join(assigned, "vec_id").write.partitionBy("cluster").parquet(s"$tmp/ivf")
    val probed = spark.read.parquet(s"$tmp/ivf")
      .filter(col("cluster").isin(0, 1))
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster"),
      s"probe does not partition-prune:\n$scan")
    // and the pruned read returns exactly the probed cells' rows
    val direct = e.join(assigned, "vec_id").filter(col("cluster").isin(0, 1)).count()
    assert(probed.count() == direct && direct > 0)
  }

  test("IVF ANN: probing all cells == brute force; partial probe keeps recall") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0))
    // probing every cell degenerates to exact brute force — the
    // machinery (train/assign/probe) must lose nothing
    val allCells = VectorQueries.annIvf(spark, e, queryVecId = 0, k = 10,
      nCells = VectorQueries.IvfCells, nProbe = VectorQueries.IvfCells)
      .collect().map(_.getLong(0))
    assert(allCells.sameElements(brute), "all-cells IVF differs from brute force")
    val partial = VectorQueries.annIvf(spark, e, queryVecId = 0, k = 10,
      nCells = VectorQueries.IvfCells, nProbe = VectorQueries.IvfProbe)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(partial).size.toDouble / brute.length
    info(s"IVF recall@10 (probe ${VectorQueries.IvfProbe}/${VectorQueries.IvfCells}) = $recall")
    // Floor note (r10 seeding swap): under first-k seeding query 0
    // WAS seed 0, so its cell was centered on it and its "recall"
    // was inflated (measured 0.9 then, ~0.5 for non-seed queries —
    // the same corpus truth hash-spread seeding now reports for
    // every query). 0.4 is the honest single-query floor on this
    // near-random corpus at 4/16 probes; clustered corpora (the
    // SkewCorpusSpec regime) probe far better.
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("indexed hybrid (v03b/v04b): all-probe == brute hybrid exactly; default probe keeps recall and partition-prunes") {
    for (intersect <- Seq(false, true)) {
      val brute = (if (intersect) VectorQueries.v04HybridIntersection(spark, sf0001)
        else VectorQueries.v03HybridUnion(spark, sf0001))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // probing every cell degenerates to the brute hybrid — same
      // filter relation, same rounding, same tiebreak
      val all = VectorQueries.hybridIndexed(spark, sf0001, intersect,
          nProbe = VectorQueries.IvfCells)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(all == brute, s"intersect=$intersect: all-probe $all vs brute $brute")
      // the serving shape: default probes, entity filter applied to
      // the PARTITION-PRUNED sliver (the storage.py:304-337 shape)
      val deflt = VectorQueries.hybridIndexed(spark, sf0001, intersect,
        nProbe = VectorQueries.IvfProbe)
      val plan = deflt.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
        s"indexed hybrid probe must partition-prune:\n$plan")
      val got = deflt.collect().map(_.getLong(0)).toSet
      val recall = brute.map(_._1).toSet.intersect(got).size.toDouble / brute.size
      info(s"indexed hybrid recall@5 (probe ${VectorQueries.IvfProbe}/${VectorQueries.IvfCells}, intersect=$intersect) = $recall")
      assert(recall >= 0.6, s"recall $recall too low")
    }
  }

  test("annIvfFiltered: empty candidate set yields empty, disjoint candidates yield nothing extra") {
    import graft.store.VectorIndex
    val dir = java.nio.file.Files.createTempDirectory("ivf_filt_degen").toString
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildIvf(spark, e, dir)
    val qv = e.filter(col("vec_id") === 0).select("v").head().getSeq[Double](0).toArray
    import spark.implicits._
    // empty candidates -> empty result (the hybrid edge where no fact
    // carries any probe entity), never a crash or a full scan result
    val none = VectorIndex.annIvf(spark, dir, qv, k = 5,
      nProbe = VectorQueries.IvfCells, candidates = Some(Seq.empty[Long].toDF("vec_id")))
    assert(none.count() == 0)
    // candidates outside the corpus id space -> also empty
    val ghost = VectorIndex.annIvf(spark, dir, qv, k = 5,
      nProbe = VectorQueries.IvfCells, candidates = Some(Seq(-1L, Long.MaxValue).toDF("vec_id")))
    assert(ghost.count() == 0)
    // a 1-candidate set returns exactly that vector
    val one = VectorIndex.annIvf(spark, dir, qv, k = 5,
        nProbe = VectorQueries.IvfCells, candidates = Some(Seq(7L).toDF("vec_id")))
      .collect().map(_.getLong(0)).toSeq
    assert(one == Seq(7L))
  }

  test("PQ ANN: full-pool re-rank == brute force; default pool keeps recall; codes bounded") {
    import graft.operators.Pq
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0))
    // Pool = whole corpus → the exact re-rank degenerates to brute
    // force regardless of quantization error (pins the re-rank tail).
    val n = e.count().toInt
    val full = Pq.annPq(spark, e, queryVecId = 0, k = 10, rerank = n / 10 + 1)
      .collect().map(_.getLong(0))
    assert(full.sameElements(brute), "full-pool PQ differs from brute force")
    // Default pool (Rerank × k of the corpus): ADC must steer enough
    // true neighbours into the pool on this near-random corpus.
    val ann = Pq.v09AnnPq(spark, sf0001).collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(ann).size.toDouble / brute.length
    info(s"PQ recall@10 (pool ${Pq.Rerank}×10 of $n) = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
    // Compression contract: M codes per vector, each within [0, K).
    val enc = Pq.encode(spark, e, Pq.train(spark, e))
    val codes = enc.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == Pq.M && c.forall(x => x >= 0 && x < Pq.K)))
    assert(enc.count() == n)
  }

  test("SQ8 ANN: full-pool re-rank == brute force; default pool recall beats PQ's floor; codes bounded; constant dim exact") {
    import graft.operators.Sq
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0))
    val n = e.count().toInt
    // Pool = whole corpus → exact re-rank degenerates to brute force
    // regardless of quantization error (pins the shared re-rank tail).
    val full = Sq.annSq(spark, e, queryVecId = 0, k = 10, rerank = n / 10 + 1)
      .collect().map(_.getLong(0))
    assert(full.sameElements(brute), "full-pool SQ8 differs from brute force")
    // Default pool (Rerank × k, SMALLER than PQ's): a byte per dim is
    // accurate enough that recall must clear a HIGHER floor than the
    // 4-bit/8-dim PQ codes get with twice the pool.
    val ann = Sq.v13AnnSq(spark, sf0001).collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(ann).size.toDouble / brute.length
    info(s"SQ8 recall@10 (pool ${Sq.Rerank}×10 of $n) = $recall")
    assert(recall >= 0.9, s"recall $recall below the SQ8 floor")
    // Compression contract: dim codes per vector, each within [0,255].
    val (mins, maxs) = Sq.train(spark, e)
    val enc = Sq.encode(spark, e, mins, maxs)
    val codes = enc.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == mins.length && c.forall(x => x >= 0 && x <= 255)))
    assert(enc.count() == n)
    // Degenerate dimension: constant value trains max == min, encodes
    // 0, decodes exactly — and an out-of-range append value clamps.
    import spark.implicits._
    val tiny = Seq((0L, Array(1.5, -2.0)), (1L, Array(1.5, 2.0)),
      (2L, Array(1.5, 0.0))).toDF("vec_id", "v")
    val (tmn, tmx) = Sq.train(spark, tiny)
    assert(tmn(0) == 1.5 && tmx(0) == 1.5)
    val tcodes = Sq.encode(spark, tiny, tmn, tmx).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(tcodes(0L)(0) == 0 && tcodes(0L)(1) == 0 && tcodes(1L)(1) == 255)
    val appended = Seq((9L, Array(99.0, 99.0))).toDF("vec_id", "v")
    val ac = Sq.encode(spark, appended, tmn, tmx).collect().head.getSeq[Int](1)
    assert(ac(0) == 0 && ac(1) == 255, s"out-of-range appends must clamp: $ac")
  }

  test("BQ ANN: full-pool re-rank == brute force; recall floor at 1 bit/dim; mean-centered bits balance") {
    import graft.operators.Bq
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0))
    val n = e.count().toInt
    val full = Bq.annBq(spark, e, queryVecId = 0, k = 10, rerank = n / 10 + 1)
      .collect().map(_.getLong(0))
    assert(full.sameElements(brute), "full-pool BQ differs from brute force")
    // Default pool: 1 bit/dim is the lossiest rung on the ladder —
    // the floor is LOWER than SQ8's but must still beat chance by far
    // (10 of 500 at random ≈ recall 0.02 for a 160-candidate pool).
    val ann = Bq.v14AnnBinary(spark, sf0001).collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(ann).size.toDouble / brute.length
    info(s"BQ recall@10 (pool ${Bq.Rerank}×10 of $n) = $recall")
    assert(recall >= 0.5, s"recall $recall below the BQ floor")
    // Mean-centering contract: each dimension's bit splits the corpus
    // roughly in half (raw sign would collapse a skewed dimension).
    val means = Bq.train(spark, e)
    val sigs = Bq.encode(spark, e, means).select("sig").collect().map(_.getLong(0))
    val dim = means.length
    (0 until dim).foreach { d =>
      val ones = sigs.count(s => (s & (1L << d)) != 0)
      assert(ones > n / 5 && ones < 4 * n / 5,
        s"dim $d bit unbalanced: $ones of $n")
    }
  }

  test("coded one-shots (PQ, SQ8, BQ, IVFADC): rows collect the same twice; no cache outlives the call") {
    import graft.operators.{Bq, IvfPq, Pq, Sq}
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val sc = spark.sparkContext
    val oneShots: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "PQ" -> (() => Pq.annPq(spark, e, queryVecId = 0, k = 10)),
      "SQ8" -> (() => Sq.annSq(spark, e, queryVecId = 0, k = 10)),
      "BQ" -> (() => Bq.annBq(spark, e, queryVecId = 0, k = 10)),
      "IVFADC" -> (() => IvfPq.annIvfPq(spark, e, queryVecId = 0, k = 10)))
    for ((rung, run) <- oneShots) {
      val before = sc.getPersistentRDDs.size
      val df = run()
      assert(sc.getPersistentRDDs.size <= before, s"$rung: a cache outlived the call")
      val first = df.collect().toSeq
      assert(first.length == 10, s"$rung: ${first.length} rows")
      assert(df.collect().toSeq == first, s"$rung: rows changed between collects")
    }
  }

  test("IVFADC: all-probe full-pool == brute force; default probes keep recall; residual codes cover the corpus") {
    import graft.operators.IvfPq
    import graft.operators.Pq
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val brute = VectorQueries.v01KnnFacts(spark, sf0001)
      .collect().map(_.getLong(0))
    // Probing every cell with a corpus-sized pool degenerates to
    // exact brute force: the coarse routing loses nothing and the
    // exact re-rank erases quantization error — pins the whole
    // residual + cell-offset arithmetic at once (a wrong q·c(cell)
    // offset or residual table would mis-steer SOME pool).
    val n = e.count().toInt
    val full = IvfPq.annIvfPq(spark, e, queryVecId = 0, k = 10,
        nProbe = IvfPq.Cells, rerank = n / 10 + 1)
      .collect().map(_.getLong(0))
    assert(full.sameElements(brute), "all-probe full-pool IVFADC differs from brute force")
    // Defaults (4/16 cells probed, pool Rerank×k): both pruning
    // levers on — recall floor matches the component indexes'.
    val ann = IvfPq.v10AnnIvfPq(spark, sf0001).collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(ann).size.toDouble / brute.length
    info(s"IVFADC recall@10 (probe ${IvfPq.Probe}/${IvfPq.Cells}, pool ${Pq.Rerank}x10) = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
    // Encoding contract: every corpus vector carries M in-range codes
    // and its ORIGINAL norm (not the residual's — cosine needs |v|).
    val (_, centroids, _) =
      graft.operators.KMeans.fit(spark, e, IvfPq.Cells, 2, trackInertia = false)
    val res = IvfPq.assignResiduals(spark, e, centroids)
    val enc = IvfPq.encodeResiduals(spark, res, Pq.train(spark, res))
    assert(enc.count() == n)
    val rows = enc.select("vec_id", "codes", "norm").collect()
    assert(rows.forall(r => r.getSeq[Int](1).length == Pq.M &&
      r.getSeq[Int](1).forall(x => x >= 0 && x < Pq.K)))
    val norms = e.select(col("vec_id"),
        sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.forall(r => math.abs(r.getDouble(2) - norms(r.getLong(0))) < 1e-9),
      "stored norm must be the original vector's, not the residual's")
  }
}
