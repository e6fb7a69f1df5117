package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{DedupQueries, VectorQueries}

/** Planted-SKEW hardening for the dedup/ANN suite — the opposite of
  * DegenerateInputSpec's tiny inputs: boilerplate-heavy and
  * duplicate-heavy corpora, the shapes that turn candidate generation
  * quadratic on real data (license headers shared by thousands of
  * documents, crawler mega-duplicate clusters). The driver corpus
  * never exercises these, so they are planted here with ASSERTED
  * row-count bounds.
  *
  * Layout: every boilerplate doc is a fixed-length unique filler
  * (aligned so d08's stride-16 windows coincide across docs) followed
  * by one shared boilerplate span. */
class SkewCorpusSpec extends SparkSpec {

  private val FillerLen = 64
  private val BoilerA1 = // 96 chars >= WinnowGram + WinnowWindow - 1
    "All rights reserved under the license terms stated herein; see the accompanying notice file. "
      .padTo(96, 'x').mkString
  private val NBoiler = 80 // > WinnowMaxDf(64): the default cap must bind
  private val NPlain = 48

  private def randText(seed: Int, len: Int): String = {
    val r = new scala.util.Random(seed)
    val sb = new StringBuilder(len)
    while (sb.length < len) sb.append(('a' + r.nextInt(26)).toChar)
    sb.toString
  }

  /** Corpus A1: 80 docs sharing one 96-char boilerplate span at a
    * window-aligned offset + 48 fully-unique docs (all 160 chars). */
  private lazy val dirA1: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skewA1").toString
    val docs =
      (0 until NBoiler).map(i => (i.toLong, randText(1000 + i, FillerLen) + BoilerA1)) ++
      (0 until NPlain).map(i => ((NBoiler + i).toLong, randText(2000 + i, FillerLen + 96)))
    docs.map { case (id, t) => (id, t, "en", "skew", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Corpus A2 (word-level boilerplate for d02): 80 docs = 48 unique
    * words + 12 shared words (pairwise Jaccard ~0.09, far below the
    * 0.8 near-dup bar) + 48 fully-unique docs. */
  private lazy val dirA2: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skewA2").toString
    val boilerWords = (0 until 12).map(i => s"boiler$i").mkString(" ")
    def words(seed: Int, n: Int) =
      (0 until n).map(i => randText(seed * 100 + i, 7)).mkString(" ")
    val docs =
      (0 until NBoiler).map(i => (i.toLong, words(3000 + i, 48) + " " + boilerWords)) ++
      (0 until NPlain).map(i => ((NBoiler + i).toLong, words(4000 + i, 60)))
    docs.map { case (id, t) => (id, t, "en", "skew", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Corpus B: one MEGA duplicate cluster (100 identical docs) + 20
    * unique docs. */
  private lazy val dirB: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skewB").toString
    val mega = (0 until 30).map(i => s"megaword$i").mkString(" ")
    def words(seed: Int, n: Int) =
      (0 until n).map(i => randText(seed * 100 + i, 7)).mkString(" ")
    val docs =
      (0 until 100).map(i => (i.toLong, mega)) ++
      (0 until 20).map(i => ((100 + i).toLong, words(5000 + i, 30)))
    docs.map { case (id, t) => (id, t, "en", "skew", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Corpus C: CLUSTERED embeddings — 10 well-separated (orthogonal
    * one-hot-block) centers × 12 members with tiny noise. The shape
    * real (non-synthetic-random) embedding corpora have, where LSH
    * blocking is supposed to pay off. */
  private lazy val dirC: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skewC").toString
    val r = new scala.util.Random(42)
    val vecs = for (c <- 0 until 10; m <- 0 until 12) yield {
      val v = Array.tabulate(64)(d =>
        (if (d >= c * 6 && d < c * 6 + 6) 1.0f else 0.0f) + (r.nextFloat() - 0.5f) * 0.002f)
      ((c * 12 + m).toLong, v, c)
    }
    vecs.toSeq.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  // ---------------------------------------------------------------- d10

  test("d10: the default hot-fingerprint cap keeps boilerplate pairs bounded") {
    // 80 docs share one span; the fingerprints selected by every doc
    // have df=80 > 64 and are dropped, so the quadratic bulk
    // (80·79/2 = 3160 pairs) never materializes. Boundary windows
    // (where per-doc filler grams compete with the span's grams)
    // select some span fingerprints in only a small SUBSET of docs —
    // those have df below the cap and survive, which is the desired
    // behavior: the cap suppresses the blowup without erasing all
    // evidence of the shared span. Bound: well under one pair per
    // boilerplate doc, vs 39.5 per doc uncapped.
    val capped = DedupQueries.d10WinnowPairs(spark, dirA1).collect()
    assert(capped.length < NBoiler,
      s"capped d10 must stay near-linear (got ${capped.length} pairs vs $NBoiler docs)")
    assert(capped.forall(r => r.getLong(0) < NBoiler && r.getLong(1) < NBoiler),
      "surviving pairs all stem from the genuinely-shared span")
    // Uncapped (the r7 shape) explodes quadratically on the same
    // corpus — the failure mode the cap exists for.
    val uncapped = DedupQueries.d10WinnowPairsCapped(spark, dirA1, Int.MaxValue).count()
    assert(uncapped == NBoiler.toLong * (NBoiler - 1) / 2,
      s"uncapped winnowing emits all ${NBoiler * (NBoiler - 1) / 2} pairs, got $uncapped")
  }

  test("d10: the cap is NOT binding on the driver corpus (oracle unaffected)") {
    val capped = DedupQueries.d10WinnowPairs(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val uncapped = DedupQueries.d10WinnowPairsCapped(spark, sf0001, Int.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(capped == uncapped,
      "WinnowMaxDf must not bind at driver SF — the oracle pins capped semantics either way")
    assert(capped.nonEmpty)
  }

  // ---------------------------------------------------------------- d08

  test("d08: span rows stay LINEAR in boilerplate occurrences (never pairs)") {
    // Aligned stride-16 windows fully inside the shared span: offsets
    // 64/80/96 of the 160-char docs → exactly 3 multi-doc hashes,
    // one row per occurrence = 80 × 3. Per-occurrence output is what
    // keeps d08 linear under hot-span skew.
    val rows = DedupQueries.d08SpanDedup(spark, dirA1).collect()
    assert(rows.length == NBoiler * 3, s"expected ${NBoiler * 3} occurrence rows, got ${rows.length}")
    assert(rows.map(_.getLong(0)).distinct.length == NBoiler)
  }

  // ---------------------------------------------------------------- d11

  test("d11: apply removes every non-canonical boilerplate occurrence, canonical survives") {
    val rows = DedupQueries.d11SpanDedupApply(spark, dirA1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows.size == NBoiler + NPlain, "every doc appears in the applied output")
    // doc 0 is the canonical occurrence of the shared span: untouched
    assert(rows(0L)._2 == 0L && rows(0L)._1.length == FillerLen + 96)
    // every other boilerplate doc loses the merged [64, 160) cut —
    // its three aligned windows (64/80/96) coalesce into ONE splice
    (1L until NBoiler).foreach { id =>
      val (nt, removed) = rows(id)
      assert(removed == 96L, s"doc $id removed $removed")
      assert(nt.length == FillerLen && !nt.contains("rights reserved"),
        s"doc $id must keep only its unique filler")
    }
    // unique docs pass through verbatim
    (NBoiler.toLong until (NBoiler + NPlain)).foreach(id => assert(rows(id)._2 == 0L))
  }

  // ---------------------------------------------------------------- d12

  test("d12: bloom-prefiltered incremental check flags exactly the contaminated batch docs") {
    val rows = DedupQueries.d12BloomSpanIncremental(spark, dirA1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch = doc_id%10==0: boilerplate members 0,10,...,70 share the
    // three aligned span hashes with the history's 72 boilerplate
    // docs; the plain batch docs (80, 90, ..., 120) share nothing.
    assert(rows.keySet == (0L until NBoiler by 10).toSet, rows.toString)
    assert(rows.values.forall(_ == 3L), rows.toString)
  }

  test("d12: the bloom prefilter actually prunes (bloom-positive spans << batch spans)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Rebuild the operator's two sides through the same kernel and
    // measure the prefilter alone: only the true shared spans (8
    // boiler batch docs x 3 windows) plus ~1% fpp noise may pass —
    // the whole point of the sketch is that the verify join sees a
    // sliver, not the batch.
    val w = spark.read.parquet(s"$dirA1/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        DedupQueries.spanWindowHashes(t, DedupQueries.SpanWindow, DedupQueries.SpanStride)
          .map { case (_, h) => (id, h) }
      }.toDF("doc_id", "whash")
    val hist = w.filter(col("doc_id") % 10 =!= 0)
    val batch = w.filter(col("doc_id") % 10 === 0)
    val bloom = hist.stat.bloomFilter("whash", expectedNumItems = hist.count(), 0.01)
    val total = batch.count()
    val positive = batch.as[(Long, Long)].filter(r => bloom.mightContainLong(r._2)).count()
    assert(positive >= 8 * 3, s"every true shared span must pass the bloom: $positive")
    assert(positive <= 8 * 3 + total / 20,
      s"prefilter must prune: $positive bloom-positive of $total batch spans")
  }

  // ---------------------------------------------------------------- d02

  test("d02: LSH candidate volume stays near-linear under word boilerplate") {
    // Driver-side re-derivation through the SAME kernels (seed 7 =
    // d02's): band-bucket collisions are the candidate volume the
    // shuffle carries. J≈0.09 between boilerplate docs → per-band
    // collision ≈ J⁴ ≈ 8e-5; bound generously at 64 (vs 3160 pairs).
    val params = DedupQueries.hashParams(DedupQueries.NumHashes, seed = 7L)
    val docs = spark.read.parquet(s"$dirA2/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> DedupQueries.minhashSig(
        DedupQueries.wordShingles(r.getString(1).split(" ")), params))
    val buckets = scala.collection.mutable.Map.empty[(Int, String), List[Long]]
    for ((id, sig) <- docs; b <- 0 until DedupQueries.Bands) {
      val key = (b, (0 until DedupQueries.RowsPerBand)
        .map(r => sig(b * DedupQueries.RowsPerBand + r)).mkString(":"))
      buckets(key) = id :: buckets.getOrElse(key, Nil)
    }
    val candidates = buckets.valuesIterator
      .flatMap(ids => ids.combinations(2)).map(_.sorted).toSet
    assert(candidates.size <= 64,
      s"boilerplate must not flood LSH buckets: ${candidates.size} candidate pairs")
    // And the verified output is empty — no pair crosses J >= 0.8.
    assert(DedupQueries.d02MinhashLsh(spark, dirA2).collect().isEmpty)
  }

  // ---------------------------------------------------------------- d06 dial

  test("d06 dial: more-bits-fewer-tables collapses candidate volume on clustered vectors") {
    import graft.functions.VectorFunctions._
    val e = spark.read.parquet(s"$dirC/embeddings.parquet")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    def candCount(tables: Int, bits: Int, seed: Long): Long = {
      val planes = VectorQueries.lshPlanes(tables * bits, 64, seed)
      val cells = e.select(col("vec_id"),
        explode(VectorQueries.cellStructs(planes, tables, bits)(col("v"))).as("cell"))
      cells.as("l").join(cells.as("r"),
          col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id"), col("r.vec_id")).distinct().count()
    }
    val intraPairs = 10L * (12 * 11 / 2) // 660 true near-dup pairs
    // The d06 default dial (16×4 bits): orthogonal clusters collide at
    // ~(1/2)⁴ per table → the candidate set is quadratic-ish noise.
    val wide = candCount(16, 4, 77L)
    // The production dial the d06 scaladoc names (4×12 bits): same
    // intra-cluster recall, inter-cluster collisions ~(1/2)¹² → the
    // candidate set is the true pair set + epsilon.
    val narrow = candCount(4, 12, 77L)
    assert(narrow >= intraPairs, s"narrow dial must keep every intra-cluster pair: $narrow")
    assert(narrow <= intraPairs + 66, s"narrow dial candidates must stay near-linear: $narrow")
    assert(wide > narrow * 3,
      s"the dial must matter: wide=$wide narrow=$narrow")
  }

  test("k-means seeding: hash-spread strictly beats first-k on the cluster-SORTED corpus (inertia)") {
    import graft.functions.VectorFunctions._
    // Corpus C is sorted by planted cluster (vec_id = c*12 + m) — the
    // exact trap real source-/date-sorted corpora set: first-k seeds
    // (vec_ids 0..9) are ALL members of planted cluster 0, so Lloyd's
    // starts with 10 co-located centroids and most stay stuck in that
    // ball (the empty-cluster keep rule). Hash-spread seeds sample
    // uniformly over vec_ids, landing across the planted clusters.
    val e = spark.read.parquet(s"$dirC/embeddings.parquet")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    import spark.implicits._
    import graft.operators.KMeans
    val (_, _, iSpread) = KMeans.fit(spark, e, 10, 3, trackInertia = true)
    // the first-k baseline: the same Lloyd's loop from the 10 lowest
    // vec_ids, with fit's tracked inertia — the third update's
    // centroids against the second update's assignment
    val firstK = e.orderBy("vec_id").limit(10).collect().map(_.getSeq[Double](1).toArray)
    val keyed = e.select(lit(0), col("v")).as[(Int, Array[Double])]
    val c2 = KMeans.lloyd(spark, keyed, Map(0 -> firstK), 2)
    val c3 = KMeans.lloyd(spark, keyed, c2, 1)(0)
    val iFirst = Seq(e.collect().map(_.getSeq[Double](1).toArray)
      .map(v => KMeans.sqDist(v, c3(KMeans.nearestIndex(v, c2(0))))).sum)
    info(s"final inertia: spread=${iSpread.last} first-k=${iFirst.last}")
    assert(iSpread.last < iFirst.last,
      s"spread seeding must beat first-k on a sorted clustered corpus: ${iSpread.last} vs ${iFirst.last}")
  }

  test("PQ codebooks: hash-spread seeding not worse than first-k on the cluster-sorted corpus (distortion)") {
    import graft.functions.VectorFunctions._
    val e = spark.read.parquet(s"$dirC/embeddings.parquet")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val rows = e.collect().map(_.getSeq[Double](1).toArray) // 120 test vectors
    def distortion(cb: Array[Array[Array[Double]]]): Double = {
      val m = cb.length; val sub = rows(0).length / m
      rows.map { v =>
        (0 until m).map { s =>
          cb(s).map { c =>
            var d = 0.0; var j = 0
            while (j < sub) { val t = v(s * sub + j) - c(j); d += t * t; j += 1 }
            d
          }.min
        }.sum
      }.sum
    }
    import graft.operators.{KMeans, Pq}
    val dSpread = distortion(Pq.train(spark, e))
    // the first-k baseline: the same keyed Lloyd's loop from the K
    // lowest vec_ids, sliced per subspace
    val firstK = e.orderBy("vec_id").limit(Pq.K).collect().map(_.getSeq[Double](1).toArray)
    val sub = rows(0).length / Pq.M
    val cbFirst = KMeans.lloyd(spark, Pq.subspaceRows(spark, e, Pq.M),
      (0 until Pq.M).map(s => s -> firstK.map(_.slice(s * sub, (s + 1) * sub))).toMap, 3)
    val dFirst = distortion(Array.tabulate(Pq.M)(cbFirst))
    info(s"PQ distortion: spread=$dSpread first-k=$dFirst")
    assert(dSpread <= dFirst * 1.001,
      s"spread-seeded codebooks must not be worse: $dSpread vs $dFirst")
  }

  test("AQE splits a planted hot-key sort-merge join (the skew doctrine's runtime backstop, no manual salting)") {
    import spark.implicits._
    // The engine's skew answers are structural: partial-aggregating
    // shapes (TopKAgg, map-side combines), bounded-output caps
    // (d10/q15/h17), broadcast for small sides. For a genuinely
    // skewed SHUFFLE join, the remaining lever is AQE's
    // OptimizeSkewedJoin — this pins that the lever actually fires
    // on a planted 75%-hot-key join and that the split changes
    // nothing about the answer (so no operator here needs manual
    // salting, which would poison equi-join keys for Catalyst).
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ
      // test-scale thresholds: the 150k-row hot key must read as skew
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val left = spark.range(200000).select(
        when(col("id") < 150000, lit(0L)).otherwise(col("id") % 1000).as("k"),
        concat(lit("payload_payload_payload_payload_"), col("id")).as("p"))
      val right = spark.range(1000).select(col("id").as("k"))
        .select(col("k"), concat(lit("dim_"), col("k")).as("d"))
      val agg = left.join(right, "k").agg(sum(length(col("p"))), count(lit(1)))
      val row = agg.collect().head
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE must mark the hot partition skewed:\n${plan.linesIterator.filter(_.contains("Join")).mkString("\n")}")
      // the split is pure scheduling: the answer equals the
      // broadcast-join (shuffle-free) computation exactly
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760)
      val bRow = left.join(broadcast(right), "k")
        .agg(sum(length(col("p"))), count(lit(1))).collect().head
      assert(row == bRow, s"skew-split answer drifted: $row vs $bRow")
      assert(row.getLong(1) == 200000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---------------------------------------------------------------- d07/d09

  test("d07: one mega-cluster of 100 identical docs converges to one canonical") {
    val rows = DedupQueries.d07DedupClusters(spark, dirB).collect()
    assert(rows.length == 100, s"the 100 duplicates cluster, singletons stay out: ${rows.length}")
    assert(rows.forall(_.getLong(0) == 0L), "every member labels to the min id")
    assert(rows.count(_.getInt(2) == 1) == 1, "exactly one canonical")
  }

  test("d09: applying the mega-cluster dedup keeps 1 canonical + 20 singletons") {
    val kept = DedupQueries.d09DedupApply(spark, dirB).collect().map(_.getLong(0)).toSet
    assert(kept == (Set(0L) ++ (100L until 120L)), s"survivors: $kept")
  }

  // ---------------------------------------------------------------- q15

  /** Corpus D: an ERROR STORM for q15 — 10⁴ same-type events inside
    * one 5s bucket (uncapped pairs ≈ 5·10⁷ on one join key), flanked
    * by light same-type neighbours and an unrelated type with known
    * exact pairs. */
  private lazy val dirD: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("skewD").toString
    val base = 10000000000L // bucket 2000 boundary (base / 5e6 = 2000)
    val events: Seq[(Long, Long, String)] =
      // clicks: pairs (1,2) (1,3) (2,3) (3,4) — (3,4) crosses buckets
      Seq((1L, 0L, "click"), (2L, 1000000L, "click"), (3L, 3000000L, "click"),
        (4L, 7000000L, "click"), (5L, 20000000L, "click"),
        // light errs in bucket 1999: pairs (100,101) (100,102) (101,102)
        (100L, base - 3000L, "err"), (101L, base - 2000L, "err"), (102L, base - 1000L, "err"),
        // light errs in bucket 2001: pair (200,201); 102→200 gap is
        // 5001500us > Δ, so no cross pair survives on time alone
        (200L, base + 5000500L, "err"), (201L, base + 5001500L, "err")) ++
      // the storm: 10⁴ errs inside bucket 2000
      (0 until 10000).map(i => ((1000 + i).toLong, base + i * 100L, "err"))
    events.toDF("event_id", "us", "event_type")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        col("event_type"))
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  test("q15: a 10⁴-event burst degrades to ONE rollup row, light pairs exact") {
    val rows = graft.operators.ExtendedQueries.q15TimeProximityJoin(spark, dirD).collect()
    assert(rows.length == 9,
      s"guarded output must stay bounded (8 light pairs + 1 rollup), got ${rows.length}")
    val rollups = rows.filter(!_.isNullAt(5))
    assert(rollups.length == 1, "exactly one burst rollup row")
    val r = rollups.head
    assert(r.getString(0) == "err" && r.getLong(4) == 2000L && r.getLong(5) == 10000L,
      s"rollup must name the burst key and its population: $r")
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3), "rollup has null pair columns")
    val pairs = rows.filter(_.isNullAt(5))
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    val expected = Set(
      ("click", 1L, 2L, 1000000L), ("click", 1L, 3L, 3000000L),
      ("click", 2L, 3L, 2000000L), ("click", 3L, 4L, 4000000L),
      ("err", 100L, 101L, 1000L), ("err", 100L, 102L, 2000L),
      ("err", 101L, 102L, 1000L), ("err", 200L, 201L, 1000L))
    assert(pairs == expected, s"exact light pairs: $pairs")
  }

  test("q15: the guard DIAL, not the corpus, bounds the output (d10 symmetry)") {
    import spark.implicits._
    // a 200-event mini-burst under the default dial: unguarded emits
    // the full quadratic pair set, a tightened dial rolls it up
    val tmp = java.nio.file.Files.createTempDirectory("skewD2").toString
    (0 until 200).map(i => ((1000 + i).toLong, 10000000000L + i * 100L, "err"))
      .toDF("event_id", "us", "event_type")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"), col("event_type"))
      .write.parquet(s"$tmp/events.parquet")
    val unguarded = graft.operators.ExtendedQueries
      .q15TimeProximityJoinGuarded(spark, tmp, Long.MaxValue).count()
    assert(unguarded == 200L * 199 / 2,
      s"without the guard every ordered pair materializes: $unguarded")
    val guarded = graft.operators.ExtendedQueries
      .q15TimeProximityJoinGuarded(spark, tmp, 50L).collect()
    assert(guarded.length == 1 && guarded.head.getLong(5) == 200L,
      s"the tightened dial must collapse the burst to one rollup: ${guarded.length}")
  }

  test("q15: the burst guard is NOT binding on the driver corpus (no rollup rows)") {
    import org.apache.spark.sql.functions.col
    // sf0.01: the smallest SF where same-type events actually fall
    // within 5s of each other (sf0.001's 1000 events are too sparse)
    val out = graft.operators.ExtendedQueries.q15TimeProximityJoin(spark, sf001)
    assert(out.filter(col("n_events").isNotNull).count() == 0,
      "real test data peaks at 3 events per (type, bucket) — far under the dial")
    assert(out.count() > 0)
  }

  test("d17: a 100-doc mega-cluster reports 100 ROWS, never 4950 pairs") {
    // dirB's identical docs: every member's strongest partner is the
    // cluster min (J = 1.0 ties break to the lowest id; doc 0 itself
    // pairs with doc 1). Output is one row per AFFECTED doc — the
    // argmax bound the §2 line claims — not the quadratic pair set
    // d02 carries internally.
    val rows = DedupQueries.d17NearestDup(spark, dirB).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 100, s"one row per clustered doc: ${rows.length}")
    assert(rows.forall(_._3 == 1.0))
    assert(rows.filter(_._1 != 0L).forall(_._2 == 0L),
      "every member's best partner is the min id")
    assert(rows.find(_._1 == 0L).get._2 == 1L, "the min pairs with its first copy")
  }

  test("q20: a hyperactive user inflates NO key — output stays |types|² regardless") {
    import spark.implicits._
    import graft.operators.AnalyticsQueries
    val tmp = java.nio.file.Files.createTempDirectory("skewQ20").toString
    // one user with 20k events (cycling 3 types), 9 normal users with
    // 3 each: the window partitions by user (one long partition is
    // linear work), and the transition tally lands on <= 9 keys.
    val types = Array("view", "click", "purchase")
    val ev = (0 until 20000).map(i =>
        (i.toLong, 1L, i.toLong * 1000000L, types(i % 3))) ++
      (0 until 9).flatMap(u => (0 until 3).map(j =>
        ((30000 + u * 3 + j).toLong, (10 + u).toLong, j.toLong * 1000000L, types(j))))
    ev.toDF("event_id", "user_id", "us", "event_type")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(us)").as("ts"), col("event_type"))
      .write.parquet(s"$tmp/events.parquet")
    val rows = AnalyticsQueries.q20PathTransitions(spark, tmp).collect()
    assert(rows.length <= 9, s"output keys bounded by types², got ${rows.length}")
    // the hyperactive user's 19,999 transitions all count — bounded
    // OUTPUT, not dropped input
    val total = rows.map(_.getLong(2)).sum
    assert(total == 19999L + 9 * 2, s"total transitions: $total")
  }

  test("d13: mega-cluster rollup stays bounded by the batch, not the pair count") {
    // batch members of the 100-identical cluster: ids 0,10,...,90 —
    // each duplicates all 90 history members (J = 1.0), which would
    // be 900 pair rows; the rollup emits exactly ONE row per
    // contaminated batch doc. Unique batch docs (100, 110) absent.
    val rows = DedupQueries.d13IncrementalNeardup(spark, dirB).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.keySet == (0L until 100L by 10).toSet, rows.toString)
    assert(rows.values.forall { case (n, j) => n == 90L && j == 1.0 }, rows.toString)
  }
}
