package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.toDouble
import graft.operators.{AnnPanel, IvfPq, Pq, VectorQueries}

/** The ANN LADDER in one measured table — recall@10 vs the per-vector
  * bytes the candidate pass streams, for every strategy the engine
  * ships, on the same corpus and a HASH-SPREAD QUERY PANEL (the
  * lshSweep convention: measured numbers, not asserted ones; SURVEY
  * quotes the output).
  *
  * Panel, not a single query (VERDICT r13 #2): recall of query 0
  * alone is the repo's own documented seed-query-bias trap — the
  * panel is ≥16 queries drawn from a SALTED hash stream independent
  * of the model-seeding order, and every rung reports MEAN and MIN
  * recall@10 (see AnnPanel's scaladoc for the bias argument).
  *
  * "cand bytes/vec" is what the SCORING pass reads per corpus vector
  * before the exact re-rank: the memory-bandwidth lever that decides
  * which rung a 100 TB deployment can keep resident.
  *
  * Usage: runMain graft.AnnLadder [sfDir]
  */
object AnnLadder {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(logLevel = "ERROR")

    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v")).cache()
    val n = e.count()
    val dim = e.select(size(col("v"))).head().getInt(0)
    val k = 10
    val panel = AnnPanel.panelQueries(spark, e)
    val truth = AnnPanel.bruteTruth(spark, e, panel, k)

    println(f"[ladder] corpus n=$n dim=$dim panel=${panel.length} (hash-spread, seeding-independent) k=$k")
    println(f"[ladder] ${"strategy"}%-12s ${"cand bytes/vec"}%-34s ${"mean"}%-6s min")
    println(f"[ladder] ${"v01 brute"}%-12s ${s"${8 * dim} (full f64)"}%-34s ${1.0}%-6.2f ${1.0}%.2f")
    AnnPanel.measureRungs(spark, e, panel, truth, k, dim, n).foreach { r =>
      println(f"[ladder] ${r.name}%-12s ${r.bytes}%-34s ${r.mean}%-6.2f ${r.min}%.2f")
    }

    // POOL SWEEP (LADDER_POOLSWEEP=1): the rerank-pool/recall curve
    // for the three code rungs most exposed to rank noise — the
    // measured basis for Pq.PoolDensity (the shipped dial) and for
    // the capacity-planner trade the scaladocs document: pool is the
    // recall lever, the exact re-rank pays pool×dim per query. Same
    // panel; mean/min per point.
    if (sys.env.get("LADDER_POOLSWEEP").contains("1")) {
      println(f"[ladder] pool sweep (rerank floor multiplier -> effective pool = max(r*k, n/${Pq.PoolDensity}))")
      for (r <- Seq(8, 32, 128, 512)) {
        val pool = Pq.scaledPool(n, k, r)
        val rs = AnnPanel.measureRungs(spark, e, panel, truth, k, dim, n,
          only = Set("pq", "adc", "bq"),
          rerankPq = r, rerankBq = r, rerankAdc = r)
        val by = rs.map(x => x.name -> x).toMap
        def mm(name: String) = by.get(name)
          .map(x => f"${x.mean}%.2f/${x.min}%.2f").getOrElse("-")
        println(f"[ladder] pool sweep: rerank=$r%-4d pool=$pool%-7d " +
          f"PQ ${mm("v09 PQ")}  IVFADC ${mm("v10 IVFADC")}  BQ ${mm("v14 BQ")}")
      }
    }

    // FILTERED (hybrid) serving forms (r11): the same top-10 under a
    // candidate predicate (vec_id % 3 == 0 standing in for the
    // entity semi-join), through the shapes a deployment chooses
    // between — brute filtered scan, IVF-filtered probe, IVFADC-
    // filtered code probe. Panel-measured vs the exact filtered
    // ranking; all-probe rows print "(== exact)" when every panel
    // query matches exactly. The panel is REDUCED above 500k (logged
    // — never silent): the ADC all-probe row's covering pool
    // re-ranks the whole candidate set per query by design.
    import graft.store.VectorIndex
    // 8 queries by design (the section certifies EXACTNESS of the
    // all-probe forms and prices fixed probes — 8 spread queries
    // certify both); reduced to 4 above 500k, logged, never silent.
    val fPanel = panel.take(if (n > 500000) 4 else 8)
    if (n > 500000)
      println(s"[ladder] filtered panel reduced to ${fPanel.length}/${panel.length}" +
        s" queries at n=$n (ADC all-probe covering pools dominate)")
    val fCorpus = e.filter(col("vec_id") % 3 === 0)
    val nCand = fCorpus.count().toInt
    val fTruth = VectorQueries
      .bruteTopK(spark, fCorpus.withColumn("label", lit(0)), fPanel, 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivfDir = java.nio.file.Files.createTempDirectory("ladder_ivf").toString
    VectorIndex.buildIvf(spark, e, ivfDir)
    val adcDir = java.nio.file.Files.createTempDirectory("ladder_adc").toString
    VectorIndex.buildIvfPq(spark, e, adcDir)
    def candOf(qid: Long) =
      e.select("vec_id").filter(col("vec_id") % 3 === 0 && col("vec_id") =!= qid)
    val filteredRungs: Seq[(String, String, Long => Seq[Long])] = Seq(
      ("IVF all-probe", s"${8 * dim} in probed cells & filter",
        qid => fPanel.find(_._1 == qid).map { case (q, qv) =>
          VectorIndex.annIvf(spark, ivfDir, qv, 10, VectorQueries.IvfCells,
            candidates = Some(candOf(q))).collect().map(_.getLong(0)).toSeq
        }.get),
      ("IVF probe=4", s"${8 * dim} in 4/16 cells & filter",
        qid => fPanel.find(_._1 == qid).map { case (q, qv) =>
          VectorIndex.annIvf(spark, ivfDir, qv, 10, VectorQueries.IvfProbe,
            candidates = Some(candOf(q))).collect().map(_.getLong(0)).toSeq
        }.get),
      ("ADC all-probe", s"${Pq.M} codes + 8 norm & filter, covering pool",
        qid => fPanel.find(_._1 == qid).map { case (q, qv) =>
          VectorIndex.annIvfPq(spark, adcDir, e, qv, 10, IvfPq.Cells, rerank = nCand,
            candidates = Some(candOf(q))).collect().map(_.getLong(0)).toSeq
        }.get),
      ("ADC probe=4", s"${Pq.M} codes + 8 norm in 4/16 cells & filter",
        qid => fPanel.find(_._1 == qid).map { case (q, qv) =>
          VectorIndex.annIvfPq(spark, adcDir, e, qv, 10, IvfPq.Probe,
            candidates = Some(candOf(q))).collect().map(_.getLong(0)).toSeq
        }.get))
    println(f"[ladder] filtered panel: |candidates|=$nCand of $n, ${fPanel.length} queries")
    filteredRungs.foreach { case (name, bytes, run) =>
      val per = fPanel.map { case (qid, _) =>
        val got = run(qid)
        val t = fTruth(qid)
        (t.intersect(got.toSet).size.toDouble / t.size, got.toSet == t)
      }
      val mean = per.map(_._1).sum / per.length
      val eq = if (per.forall(_._2)) " (== exact)" else ""
      println(f"[ladder] $name%-14s $bytes%-44s ${mean}%-6.2f ${per.map(_._1).min}%.2f$eq")
    }

    // TWO-LEVEL coarse quantizer (r12): the flat build's scale wall
    // is the n × nCells assignment; fitTwoLevel pays k1 + k2 ≈
    // 2√nCells per vector. Build wall-clock measured at growing
    // nCells on the same corpus, with the quantization-error premium
    // (two-level inertia / flat inertia) beside it — the trade a
    // 10⁹-vector deployment is buying.
    {
      import graft.operators.KMeans
      import spark.implicits._
      def inertiaOf(assigned: org.apache.spark.sql.DataFrame,
          cs: Array[Array[Double]]): Double = {
        val bc = spark.sparkContext.broadcast(cs)
        e.join(assigned, "vec_id").select(col("cluster").cast("int"), col("v"))
          .as[(Int, Array[Double])]
          .map { case (cell, v) =>
            val c = bc.value(cell)
            var d = 0.0; var j = 0
            while (j < c.length) { val t = v(j) - c(j); d += t * t; j += 1 }
            d
          }.reduce(_ + _)
      }
      // the 1024-cell point only makes sense on corpora big enough to
      // populate the cells (and the flat side is the expensive one).
      // LADDER_SWEEP=two skips the flat fits (the 2M decade: a flat
      // 256-cell fit was already 572 s at 200k — measuring it once
      // more a decade up would be hours spent re-proving the known
      // wall); LADDER_SWEEP=none skips the sweep entirely.
      val sweepMode = sys.env.getOrElse("LADDER_SWEEP", "full")
      val cellsSweep =
        if (sweepMode == "none") Seq.empty[Int]
        else if (n >= 10000) Seq(64, 256, 1024)
        else Seq(64, 256)
      if (cellsSweep.nonEmpty)
        println(f"[ladder] two-level build: ${"nCells"}%-7s ${"flat s"}%-8s ${"two s"}%-8s ${"dist/vec flat"}%-14s ${"dist/vec two"}%-13s inertia ratio")
      for (nCells <- cellsSweep) {
        val (tFlat, flatInertia) =
          if (sweepMode == "two") (Double.NaN, Double.NaN)
          else {
            val t0 = System.nanoTime()
            val (fa, fc, _) = KMeans.fit(spark, e, nCells, 2, trackInertia = false)
            fa.count()
            ((System.nanoTime() - t0) / 1e9, inertiaOf(fa, fc))
          }
        val t1 = System.nanoTime()
        val (ta, tc, _) = KMeans.fitTwoLevel(spark, e, nCells, 2)
        ta.count()
        val tTwo = (System.nanoTime() - t1) / 1e9
        val k1 = math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)
        val k2 = math.max(1, math.ceil(nCells.toDouble / k1).toInt)
        val ratio = inertiaOf(ta, tc) / flatInertia
        println(f"[ladder] two-level build: $nCells%-7d $tFlat%-8.1f $tTwo%-8.1f ${nCells}%-14d ${k1 + k2}%-13d $ratio%.3f")
      }
    }
    spark.stop()
  }
}
