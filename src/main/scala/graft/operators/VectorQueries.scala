package graft.operators

import graft.plans.Pins.Pinned

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.plans.HippoGraph
import graft.sources.Tables

/** Vector-store / similarity-search queries (SURVEY.md §2 v01–v05) —
  * the ChromaDB surface of the reference (storage.py:255-337)
  * re-expressed as Spark relational plans over an embeddings table.
  *
  * Scale notes: the QUERY side of every k-NN is tiny and broadcast;
  * the corpus side streams map-side — brute-force top-k is a narrow
  * scan + TakeOrderedAndProject (no full sort, no corpus shuffle).
  * Batch k-NN (v02) windows over query_id, whose cardinality bounds
  * the shuffle. v05 is the 100 TB path: random-hyperplane LSH
  * buckets both sides so candidate generation is an equi-join on
  * (bucket) instead of a cross product.
  */
object VectorQueries {

  /** Embeddings with double-precision vectors. */
  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))

  private val embSql =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings"

  /** v01: top-10 nearest facts to one query vector (storage.py:266
    * get_closest_facts). Query row broadcast; corpus never shuffled. */
  def v01KnnFacts(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosineNative6(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** v11 radius: chosen above the random-cosine noise floor of the
    * synthetic embeddings (top-1 cosine ≈ 0.33–0.41 across SFs) so
    * the result set is nonempty yet selective at every SF. */
  val RangeTau = 0.25

  /** v11: RANGE (radius) SEARCH — every corpus vector with cosine ≥
    * [[RangeTau]] to the query, the "ALL sufficiently similar" form
    * top-k cannot express (dedup thresholds, compliance sweeps,
    * near-dup audits want the whole ball, and its size is
    * data-dependent). Same scan shape as v01: the one query row
    * broadcasts, the corpus never shuffles, and the threshold
    * filter runs in the same codegen'd pass as the native cosine —
    * output rows are the only thing the predicate's selectivity
    * changes. For selective τ at 100 TB the ANN escape is the same
    * as top-k's: LSH/IVF cells bound the candidates (v05/v07),
    * then this exact predicate verifies. */
  def v11RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosineNative6(col("v"), col("qv")).as("cos"))
      .filter(col("cos") >= RangeTau)
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** v02: batch k-NN — every label-0 vector gets its top-3 neighbours.
    *
    * CONTRACT: the query side must be a BOUNDED batch (it is
    * broadcast — executor memory bounds it at ~10⁵–10⁶ vectors; the
    * driver orchestrating an unbounded query stream submits it in
    * batches of that size). For a query set that grows with the
    * corpus, broadcasting is the wrong shape regardless of batching —
    * use v08KnnBatchAnn, the shipped LSH cell-equi-join form that
    * shuffles narrow (vec_id, cell) keys instead. Rank window
    * partitioned by query_id so it parallelizes by query. */
  def v02KnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("nv", normNative(col("v")))
    val q = e.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePre6(col("v"), col("qv"), col("nv"), col("nq")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("query_id", "rk")
  }

  /** Facts joined to their embedding (deterministic fact_id→vec_id
    * assignment so graph and vector sides are linked, as the reference
    * links fact ids to chroma ids — storage.py:240). */
  private def factEmb(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // |embeddings| as a LAZY 1-row broadcast (no eager count() action:
    // plan construction stays free and the scalar is computed inside
    // the same job as the query itself).
    val nVec = e.groupBy().agg(count(lit(1)).as("n_vec"))
    HippoGraph.facts(spark, dir)
      .crossJoin(broadcast(nVec))
      .withColumn("vec_id", col("fact_id") % col("n_vec"))
      .drop("n_vec")
      .join(e.select("vec_id", "v"), "vec_id")
  }

  private def factEmbSql = // nVec inlined as subquery on the oracle side
    s"""SELECT f.fact_id, f.doc_id, f.fact_text, e.v
       |FROM (${HippoGraph.factsSql}) f
       |JOIN ($embSql) e
       |  ON e.vec_id = f.fact_id % (SELECT count(*) FROM embeddings)""".stripMargin

  /** v03: hybrid retrieval — top-5 facts by cosine among facts having
    * ANY probe entity (storage.py:325). Graph filter is a semi-join
    * against a broadcast fact-id set, THEN vector scoring — the
    * vector side only scores the filtered subset. */
  def v03HybridUnion(spark: SparkSession, dir: String): DataFrame =
    hybrid(spark, dir, intersect = false)

  /** v04: hybrid with ALL probe entities (storage.py:332). */
  def v04HybridIntersection(spark: SparkSession, dir: String): DataFrame =
    hybrid(spark, dir, intersect = true)

  /** The hybrid ops' graph half: fact ids having ANY (union) / ALL
    * (intersect) probe entities — a bounded, probe-filtered edge
    * aggregation, shared by the brute and the indexed vector halves
    * so the filter semantics cannot drift. */
  private def hybridMatching(spark: SparkSession, dir: String,
      intersect: Boolean): DataFrame = {
    val m = HippoGraph.edges(spark, dir)
      .filter(col("entity").isin(GraphQueries.ProbeUnion: _*))
    if (intersect)
      m.groupBy("fact_id").agg(countDistinct("entity").as("n"))
        .filter(col("n") === GraphQueries.ProbeUnion.size).select("fact_id")
    else m.select("fact_id").distinct()
  }

  private def hybrid(spark: SparkSession, dir: String, intersect: Boolean): DataFrame = {
    val matching = hybridMatching(spark, dir, intersect)
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    factEmb(spark, dir)
      .join(matching, Seq("fact_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("fact_id"), cosineNative6(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("fact_id"))
      .limit(5)
  }

  /** v03b/v04b: HYBRID RETRIEVAL THROUGH THE PERSISTED INDEX — the
    * r9 verdict's top item and the reference's own architecture
    * (storage.py:304-337 runs the entity-filtered vector lookup
    * INSIDE the Chroma index, never as a corpus scan): v03/v04's
    * graph half (shared hybridMatching) broadcasts into a semi-join
    * against the IVF artifact's partition-pruned probe sliver
    * (VectorIndex.annIvf's candidates), so at 100 TB a hybrid query reads
    * ~nProbe/nCells of the corpus where the brute form pays the full
    * cosine pass. The entry builds the artifact per call (the oracle
    * anchor's one-shot convention, v07/v09 precedent); a serving
    * deployment builds once per corpus version. *rows-only*
    * (VectorSpec: nProbe == nCells equals v03/v04 EXACTLY; default
    * probes overlap ≥ 0.9 with brute; PartitionFilters plan-pinned
    * via EXPLAIN needles). */
  def v03bHybridUnionIndexed(spark: SparkSession, dir: String): DataFrame =
    hybridIndexed(spark, dir, intersect = false, nProbe = IvfProbe)

  def v04bHybridIntersectionIndexed(spark: SparkSession, dir: String): DataFrame =
    hybridIndexed(spark, dir, intersect = true, nProbe = IvfProbe)

  // One artifact per corpus dir per JVM — "build once per corpus
  // version, query many times" IS the serving contract (the brief's
  // v03b/v04b rationale); rebuilding per query would charge every
  // hybrid call the train+write cost the index exists to amortize.
  private val hybridIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def hybridIndexed(spark: SparkSession, dir: String, intersect: Boolean,
      nProbe: Int): DataFrame = {
    val idx = hybridIdxCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_hybrid_ivf").toString
      graft.store.VectorIndex.buildIvf(spark,
        factEmb(spark, dir).select(col("fact_id").as("vec_id"), col("v")), p)
      p
    })
    val qv = emb(spark, dir).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toArray
    graft.store.VectorIndex.annIvf(spark, idx, qv, 5, nProbe, candidates =
        Some(hybridMatching(spark, dir, intersect).withColumnRenamed("fact_id", "vec_id")))
      .withColumnRenamed("vec_id", "fact_id")
  }

  /** v05: ANN via multi-table random-hyperplane LSH (the scale path —
    * *rows-only*, recall vs brute force asserted in LshSpec).
    *
    * L=8 tables of b=4 bits: each vector lands in 8 (table, bucket)
    * cells; candidates = vectors sharing ANY cell with the query, so
    * candidate generation is an equi-join on (table, bucket) — at
    * 100 TB only same-bucket pairs shuffle, never the cross product.
    * Collision probability per table (1 - θ/π)^b rises steeply with
    * similarity, so true near-neighbours survive with high recall. */
  val LshTables = 8
  val LshBits = 4

  /** v05's ENFORCED regime bound (VERDICT r14 #7 — the v08
    * precedent): one-shot LSH bucket occupancy grows ∝ n at fixed
    * bits, so the per-query candidate set does too — the 2M panel
    * measured ~10⁶ candidates/query and skipped the rung. 32k
    * occupancy (n ≈ 524k at 4 bits) keeps the candidate union in
    * the low-10⁵ range; larger corpora fail fast naming the rungs
    * whose candidate volume does NOT grow with n. */
  val V05MaxBucketOccupancy = 32768L

  def v05AnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(emb(spark, dir), queryVecId = 0, k = 10)

  /** Reusable ANN operator over (vec_id, v) rows. Fails fast above
    * its enforced regime bound (see [[V05MaxBucketOccupancy]]) —
    * `maxOccupancy` is a test dial, not a user lever. */
  def annLsh(e: DataFrame, queryVecId: Long, k: Int,
      maxOccupancy: Long = V05MaxBucketOccupancy): DataFrame = {
    val n = e.count()
    val occupancy = n / (1L << LshBits)
    if (occupancy > maxOccupancy)
      throw new IllegalArgumentException(
        s"annLsh (v05): corpus of $n vectors puts ~$occupancy in each " +
        s"$LshBits-bit LSH bucket (> $maxOccupancy) — the one-shot candidate " +
        s"set grows linearly with the corpus at fixed bits ($LshTables " +
        "tables; measured ~10^6 candidates/query at 2M). Use the persisted " +
        "IVF index (v07 annIvf / VectorIndex.annIvfAdaptive), whose cells " +
        "grow with the corpus, or the SQ8 rung (v13 annSq) at panel recall " +
        "1.00 every measured decade.")
    val planes = lshPlanes(LshTables * LshBits, 64, seed = 42L)
    val cells = e.select(col("vec_id"), col("v"),
      explode(cellStructs(planes, LshTables, LshBits)(col("v"))).as("cell"))
    val qCells = cells.filter(col("vec_id") === queryVecId)
      .select(col("cell").as("qcell"), col("v").as("qv"))
    cells.join(broadcast(qCells), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("v"), col("qv"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"), cosineNative6(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** v07: ANN via IVF (inverted-file) coarse quantization — the
    * second classic ANN scale path next to LSH (v05), completing the
    * brute/LSH/IVF strategy triple (*rows-only*; VectorSpec asserts
    * all-cells probing reproduces brute force exactly and partial
    * probing keeps recall).
    *
    *  1. TRAIN: distributed Lloyd's k-means (e02's kernel) learns
    *     nCells coarse centroids — the model is k×dim on the driver,
    *     the corpus never collected;
    *  2. ASSIGN: every vector to its nearest centroid via the
    *     codegen'd argmin expression — a narrow map; the inverted
    *     lists ARE a partitioning of the corpus (at 100 TB: write
    *     partitioned by cell so probes prune at the FILE level);
    *  3. PROBE: score only vectors in the query's nProbe nearest
    *     cells — the scan reads |corpus|·nProbe/nCells instead of
    *     everything, and the top-k is TakeOrderedAndProject over that
    *     slice. */
  val IvfCells = 16
  val IvfProbe = 4

  def v07AnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, emb(spark, dir), queryVecId = 0, k = 10,
      nCells = IvfCells, nProbe = IvfProbe)

  /** Reusable IVF operator over (vec_id, v) rows. */
  def annIvf(
      spark: SparkSession, e: DataFrame, queryVecId: Long, k: Int,
      nCells: Int, nProbe: Int, trainIters: Int = 2): DataFrame = {
    import graft.store.VectorIndex.{excluded, ranked}
    val cached = e.select(col("vec_id"), col("v")).cache()
    val (assigned, centroids, _) =
      KMeans.fit(spark, cached, nCells, trainIters, trackInertia = false)
    val qv = Codec.vectorOf(cached, queryVecId)
    ranked(excluded(cached.join(assigned, "vec_id")
        .filter(col("cluster").isin(KMeans.nearestCells(centroids, qv, nProbe): _*)),
      Some(queryVecId)), qv).limit(k)
  }

  /** Scalable brute-force batch k-NN kernel: the CORPUS streams
    * (never collected, never shuffled wide) while the bounded QUERY
    * set is broadcast; each partition keeps a per-query top-k buffer
    * and emits at most queries×k rows, re-ranked once at the end over
    * partitions×queries×k rows (tiny). This is the 100 TB shape of
    * get_closest_facts for a batch of queries — no cross join, no
    * corpus-sized window sort.
    *
    * Returns (qid, vec_id, label, cos) for the k nearest per query
    * (self-matches excluded). Cosine = dot of pre-normalized vectors
    * computed in one sequential loop (bit-identical to the HOF and
    * DuckDB formulations after round(6)).
    */
  def bruteTopK(
      spark: SparkSession,
      corpus: DataFrame, // (vec_id, label, v: array<double>)
      queries: Array[(Long, Array[Double])],
      k: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    val partial = corpus.select(col("vec_id"), col("label"), col("v"))
      .as[(Long, Int, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        // per-query bounded buffers of (negCos, vecId, label)
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)](
            Ordering.by[(Double, Long, Int), (Double, Long)](t => (t._1, t._2))))
        it.foreach { case (id, label, v) =>
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (qid != id) {
              var s = 0.0; var na = 0.0; var nb = 0.0
              var d = 0
              while (d < v.length) {
                s += v(d) * qv(d); na += v(d) * v(d); nb += qv(d) * qv(d); d += 1
              }
              val cos = s / (math.sqrt(na) * math.sqrt(nb))
              // max-heap on (-cos, id): root = worst kept. Keep a few
              // extra so round(6) boundary ties re-rank exactly.
              heaps(qi).enqueue((-cos, id, label))
              if (heaps(qi).size > k + 8) heaps(qi).dequeue()
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (negCos, id, label) => (qs(qi)._1, id, label, -negCos) }
        }
      }
      .toDF("qid", "vec_id", "label", "rawcos")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    partial
      .select(col("qid"), col("vec_id"), col("label"), round(col("rawcos"), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** v06: batch k-NN through the TYPED AGGREGATION path — scoring as
    * in v02, but ranking via TopKAggregator, which partial-aggregates
    * map-side so only k entries per query cross the shuffle (the
    * window form sorts every scored row). Same oracle shape as v02:
    * identical results through a different physical plan. Same
    * bounded-query-batch CONTRACT as v02 (see there). */
  def v06KnnAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir).withColumn("nv", normNative(col("v")))
    val q = e.filter(col("label") === 1)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv").as("nq"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        cosinePre6(col("v"), col("qv"), col("nv"), col("nq")).as("cos"), col("vec_id"))
    val top = new graft.functions.TopKAggregator(5).toColumn
    scored.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(top.name("top"))
      .flatMap { case (qid, tops) =>
        tops.zipWithIndex.map { case ((cos, vid), i) => (qid, vid, cos, i + 1) }
      }
      .toDF("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** v08: LSH-BLOCKED batch k-NN — the UNBOUNDED-query-set path that
    * v02/v06's bounded-batch contract only names (*rows-only*; spec
    * asserts pair recall ≥ 0.9 vs v02's exact top-k at sf0.01).
    *
    * Same semantics as v02 (every label-0 vector gets its top-3
    * neighbours) but NOTHING is broadcast-O(corpus) and nothing is
    * all-pairs: queries and corpus both explode into 16×4-bit LSH
    * cells (the d06 blocking), candidate generation is an equi-join
    * on the packed cell key, and ranking partial-aggregates map-side
    * via the native TopKAgg so only k entries per query cross the
    * shuffle. The query side here may grow WITH the corpus — both
    * sides shuffle narrow (id, cell) rows, so the plan scales like
    * d06, not like a broadcast.
    *
    * 16 tables × 4 bits: per-table collision (1-θ/π)^4 ≈ 0.2 at the
    * typical top-k neighbour angle of this corpus (synthetic, cos ≈
    * 0.5), so 16 independent tables give ≈ 0.97 per-pair recall —
    * the bits/tables dial trades candidate volume for recall exactly
    * as in d06.
    *
    * REGIME BOUND, ENFORCED: at fixed bits the expected bucket holds
    * n/2^bits vectors, so candidate pairs grow ∝ tables·n²/2^bits —
    * MEASURED at 200k vectors: ~12.5k/bucket → ~4×10⁹ candidate
    * pairs → >40 GB shuffle spill → disk exhaustion. knnBatchAnn
    * therefore fails fast when expected bucket occupancy exceeds
    * [[V08MaxBucketOccupancy]] (double the measured-safe 20k decade's
    * ~1.25k, a decade under the measured failure), naming the rung
    * that holds at scale: [[knnBatchIvf]], whose cells ∝ n keep
    * occupancy constant. */
  val BatchAnnTables = 16
  val BatchAnnBits = 4

  /** Max expected vectors per LSH bucket (n / 2^bits) before
    * knnBatchAnn refuses to run — the enforcement of v08's measured
    * regime bound (safe at 20k: ~1.25k/bucket; disk-exhausting at
    * 200k: ~12.5k/bucket). 2500 ⇒ corpus bound 40k at the shipped
    * 4-bit dial. */
  val V08MaxBucketOccupancy = 2500L

  def v08KnnBatchAnn(spark: SparkSession, dir: String): DataFrame =
    knnBatchAnn(spark, emb(spark, dir), k = 3)

  /** Reusable LSH-blocked batch k-NN over (vec_id, v, label) rows;
    * queries = label-0 rows (v02's query set). Fails fast above its
    * enforced regime bound (see the v08 scaladoc) — `maxOccupancy`
    * is a test dial, not a user lever. */
  def knnBatchAnn(spark: SparkSession, e0: DataFrame, k: Int,
      maxOccupancy: Long = V08MaxBucketOccupancy): DataFrame = {
    // one parquet split at test SF — parallelize the cell hashing and
    // the scored verify (the e01 note; conditional, skipped at scale)
    val e = graft.plans.Par.ensureParallelism(
        e0.withColumn("nv", normNative(col("v"))))
      .cache()
    val n = e.count()
    val occupancy = n / (1L << BatchAnnBits)
    if (occupancy > maxOccupancy) {
      e.unpersist()
      throw new IllegalArgumentException(
        s"knnBatchAnn (v08): corpus of $n vectors puts ~$occupancy in each " +
        s"${BatchAnnBits}-bit LSH bucket (> $maxOccupancy) — candidate pairs " +
        s"grow quadratically in occupancy ($BatchAnnTables tables), measured " +
        "disk-exhausting at 200k vectors. Use knnBatchIvf (v15) or the " +
        "persisted VectorIndex.annIvfBatch, whose cells grow with the corpus " +
        "and keep per-query candidates constant — " +
        "VectorIndex.recommendBatchRung prices every batch rung on a sample " +
        "of your corpus.")
    }
    val scored = lshScored(e, col("label") === 0, BatchAnnTables, BatchAnnBits, seed = 99L)
      .withColumnRenamed("qid", "query_id")
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    scored.groupBy("query_id")
      .agg(org.apache.spark.sql.graft.TopKAgg.topK(col("rawcos"), col("vec_id"), k + 8).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), round(col("t.cos"), 6).as("cos"), col("t.vec_id").as("vec_id"))
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Partition count for a qid-keyed pool aggregation over a pair
    * stream (the e01c/v15 TopKAgg stages): partitions grow with the
    * query count so each holds ≤ qidsPerPartition queries' buffers —
    * bounding the ObjectHashAggregate map (keys × buffer size) AND
    * any sort-based fallback (partition-local, never the whole pair
    * stream; the measured 2M-decade failure mode: a cluster-
    * partitioned pair stream put ~250k pool buffers in one partition,
    * fell back, and externally sorted 2×10⁹ rows to disk
    * exhaustion). Clamped to [defaultParallelism, 4096] so small
    * corpora keep their historical plan shape. */
  private[graft] def poolAggPartitions(spark: SparkSession, nQids: Long,
      qidsPerPartition: Long): Int =
    math.min(4096L, math.max(spark.sparkContext.defaultParallelism.toLong,
      (nQids + qidsPerPartition - 1) / qidsPerPartition)).toInt

  /** e01c pool-stage queries per partition: E01bPool(320)-entry
    * buffers ≈ 10 KB each → ~160 MB of agg map per partition. */
  val E01cPoolQidsPerPartition = 16384L

  /** v15 pool-stage queries per partition: (k+8)-entry buffers are
    * ~200 B each → a few MB of agg map per partition even here. */
  val V15PoolQidsPerPartition = 262144L

  /** v15 dials: the IVF twin of v08's LSH dial — cells GROW with the
    * corpus (target members per cell fixed), probes per query fixed,
    * so candidate volume per query is probe × target = CONSTANT and
    * total work linear in n. This is the rung that survived the
    * second scale decade: v08's fixed 4-bit LSH cells hold n/16
    * vectors each (~12.5k at 200k — the measured >40 GB spill), while
    * these cells hold ~[[V15CellTarget]] at every n. */
  val V15CellTarget = 250
  val V15Probe = 4
  val V15TwoLevelCells = 64

  /** v15 cell-size cap — shared rationale with
    * [[graft.operators.ExtendedQueries.E01cCellCap]] (VERDICT r14
    * #3): bound probe cost by the cap, not the densest cluster. */
  val V15CellCap = 500

  /** Re-probe budget for v15's BOUNDED ADAPTIVE TOP-UP (VERDICT r14
    * #2 — the clustered-2M min-recall 0.00 miss): after the fixed
    * nProbe pool, each query re-probes up to this many additional
    * candidate cells, chosen as the best cells by per-cell cosine
    * UPPER BOUND (q̂·ĉ + r̂ — annIvfAdaptive's bound, batched) among
    * those that could still beat its pooled k-th. On clustered
    * corpora the bound is tight, so almost every query re-probes
    * ZERO cells while the straddle query re-probes exactly the cell
    * it missed; on near-random corpora the bound is loose and every
    * query pays the full budget — the cap is what keeps the stress
    * decade at ≤ (1 + budget/nProbe)× the fixed-probe work instead
    * of degenerating to brute force. 0 disables (the fixed-dial
    * measurement baseline the band specs pin). */
  val V15ReprobeMax = 4

  /** Straddle-group admission cap for the top-up's candidate-scope
    * extension (VERDICT r15 #2): at most this many groups past the
    * coarseProbe scope join the re-probe candidate set, nearest
    * first among those whose group bound could still beat θk. The
    * cap is the COST bound — see KMeans.candidateCellsExtended's
    * measured loose-bound regime. */
  val V15StraddleGroups = 2

  /** v15: IVF-CELL-BLOCKED batch k-NN — v08's semantics (every
    * label-0 vector gets its top-k neighbours) with the LSH blocking
    * replaced by the e01c cell blocking, because the LSH dial is
    * REGIME-BOUND in corpus size (bucket occupancy ∝ n at fixed
    * bits; measured: v08 fine at 20k, 4×10⁹ candidate pairs and a
    * disk-exhausting shuffle spill at 200k) while cells ∝ n keep the
    * per-query candidate count constant. Fit is scale-routed like
    * e01c (two-level above [[V15TwoLevelCells]]); scoring inside
    * probed cells is the EXACT raw cosine (the cells already bound
    * the candidates — no signature pass needed), pooled map-side by
    * TopKAgg, round-6 re-ranked. Same premise note as e01c/v07:
    * cell pruning rests on neighbour concentration — near-exact on
    * clustered corpora (the spec's planted regime), a pinned
    * recall band on this synthetic near-random stress corpus where
    * v08's multi-table LSH is the better small-n tool. The two forms
    * are complements: v08 for ≤~20k-per-shard near-random regimes,
    * v15 for the 100 TB corpus sizes where v08's dial explodes.
    * *rows-only* (VectorSpec: planted-clustered recall, stress band,
    * plan needles, every-query coverage). */
  def v15KnnBatchIvf(spark: SparkSession, dir: String): DataFrame =
    knnBatchIvf(spark, emb(spark, dir), k = 3)

  /** Reusable IVF-cell-blocked batch k-NN over (vec_id, v, label)
    * rows; queries = label-0 rows (v02/v08's query set).
    *
    * Durability: the returned frame is pinned via
    * [[graft.plans.Pins.pin]] — executor blocks (no lineage; an
    * executor loss after return breaks the frame on a real cluster,
    * harmless under local masters) by default, a RELIABLE checkpoint
    * when `spark.graft.checkpointDir` is set. A deployment that must
    * survive executor churn sets the dial (or writes the result out)
    * instead of holding the volatile handle. */
  def knnBatchIvf(spark: SparkSession, e0: DataFrame, k: Int,
      nProbe: Int = V15Probe,
      twoLevelCells: Int = V15TwoLevelCells,
      reprobeMax: Int = V15ReprobeMax,
      cellCap: Int = V15CellCap): DataFrame = {
    val e = graft.plans.Par.ensureParallelism(
        e0.withColumn("nv", normNative(col("v"))))
      .cache()
    // queries × k rows out — the cache-release contract pins them
    // EXECUTOR-side (localCheckpoint cuts the lineage off the scoped
    // cache as executor blocks; the d07/h16 precedent), not with a
    // driver collect() that would OOM at the 100 TB target. Plan-shape
    // audit lives on knnBatchIvfLazy (the checkpoint truncates the
    // visible plan to its RDD scan).
    try knnBatchIvfLazy(e0.sparkSession, e, k, nProbe, reprobeMax, twoLevelCells, cellCap)
      .orderBy("query_id", "rk").pinned
    finally e.unpersist()
  }

  /** SMALL-MODEL DEGENERATION of the adaptive top-up (VERDICT r15
    * #3): when the flat model's whole cell count fits inside
    * probe + budget, the adaptive round could only ever re-probe
    * "all remaining cells" — every (query, vector) pair gets scored
    * regardless, so the cell machinery (fit + probe join + cell
    * equi-join + bound stats) computes what IS a brute scan. Route
    * straight to the v02/v06 TopKAgg brute kernel instead: same rows
    * (cells partition the corpus, so probing all of them enumerates
    * exactly the non-self pairs the cross join does; pooling and
    * re-rank are the SAME code), minus the fit — measured at sf0.1
    * as most of v15's 2.76 s. Decided on the PRE-split cell count:
    * a cap-split can only grow a tiny flat model, and where it would
    * have (rare: a clustered sub-2k corpus), brute is EXACT, which
    * dominates the budgeted top-up it replaces. In this regime the
    * query side is bounded by the corpus (≤ (nProbe + reprobeMax) ×
    * cellTarget vectors), so the broadcast cross join is exactly
    * v02/v06's sanctioned bounded-batch shape — never the unbounded
    * regime, which keeps the cell-blocked plan. */
  private[graft] def smallModelExhaustive(nCells: Int, nProbe: Int,
      reprobeMax: Int, twoLevelCells: Int): Boolean =
    reprobeMax > 0 && nCells < twoLevelCells && nCells <= nProbe + reprobeMax

  /** The v06 TopKAgg brute kernel in v15's column contract — the
    * exhaustive small-model arm (see [[smallModelExhaustive]]):
    * corpus streams, bounded queries broadcast, TopKAgg pools
    * map-side, shared round-6 re-rank. */
  private def bruteBatchPlan(spark: SparkSession, e: DataFrame,
      k: Int): DataFrame = {
    val q = e.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val pooled = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosinePreRaw(col("v"), col("qv"), col("nv"), col("nq")).as("rawcos"),
        col("vec_id"))
      .groupBy("query_id")
      .agg(org.apache.spark.sql.graft.TopKAgg.topK(
        col("rawcos"), col("vec_id"), k + 8).as("top"))
    rerankPools(pooled, k)
  }

  /** The shared v15 final re-rank: explode the pooled top structs,
    * round(6), rank with the vec_id tie-break — one definition so the
    * brute and cell-blocked arms cannot drift. */
  private def rerankPools(merged: DataFrame, k: Int): DataFrame = {
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    merged
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), round(col("t.cos"), 6).as("cos"), col("t.vec_id").as("vec_id"))
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
  }

  /** The LAZY v15 plan over a prepped (vec_id, v, label, nv) relation
    * with a flat fit — the audit hook (the cellBlockedLazy
    * convention): the entry's driver-side pin hides the shape behind
    * a LocalTableScan. Routes exactly like the entry (brute kernel in
    * the exhaustive small-model regime, cell-blocked otherwise). */
  private[graft] def knnBatchIvfLazy(spark: SparkSession,
      e: DataFrame, k: Int, nProbe: Int = V15Probe,
      reprobeMax: Int = V15ReprobeMax, twoLevelCells: Int = Int.MaxValue,
      cellCap: Int = V15CellCap): DataFrame = {
    val n = e.count()
    val nCells = math.max(8, (n / V15CellTarget).toInt)
    if (smallModelExhaustive(nCells, nProbe, reprobeMax, twoLevelCells))
      bruteBatchPlan(spark, e, k)
    else {
      val model = KMeans.fitCells(spark, e.select(col("vec_id"), col("v")),
        nCells, 2, twoLevelCells, cellCap, V15CellTarget)
      batchIvfPlan(spark, e, model, k, nProbe, reprobeMax, n)
    }
  }

  /** Per-cell cosine-bound stats over the IN-ENTRY fit — the batched
    * twin of VectorIndex.buildCellBounds, the same KMeans.cellBounds
    * pass over this entry's (cluster, v/nv) rows: for cell c, the
    * mean ĉ of its NORMALIZED members and the max residual radius r̂
    * (+∞ for a cell holding a zero vector), so for any member x and
    * unit query q̂: cos(q, x) ≤ q̂·ĉ + r̂. Memberless cells get radius
    * −∞ (they can contribute nothing, so the re-probe must never pick
    * them). Driver state is nCells × (dim + 1) doubles. */
  private[graft] def cellBoundStats(spark: SparkSession, e: DataFrame,
      assign: DataFrame, nCellsFlat: Int)
      : (Array[Array[Double]], Array[Double]) = {
    import spark.implicits._
    val unit = e.select(col("vec_id"),
        when(col("nv") > 0, transform(col("v"), x => x / col("nv")))
          .otherwise(col("v")).as("xhat"))
      .join(assign, "vec_id")
      .select(col("cluster"), col("xhat"))
      .as[(Int, Array[Double])]
    KMeans.boundArrays(KMeans.cellBounds(spark, unit), nCellsFlat,
      Double.NegativeInfinity)
  }

  /** Margin under the pooled k-th below which a cell's upper bound
    * must fall before the re-probe skips it: the final ordering
    * rounds to 6 decimals with vec_id tie-break, so a bound within
    * 1e-6 of θk could still round-tie into the top-k. */
  private val ReprobeMargin = 1e-6

  /** The shared v15 plan body: coarse-first probe (coarse == null →
    * full-model probe), exact cosine inside probed cells only
    * (probe × cellCap candidates per query, never all-pairs),
    * TopKAgg partials, then — with `reprobeMax > 0` — the BOUNDED
    * ADAPTIVE TOP-UP (VERDICT r14 #2): each query's pooled k-th
    * cosine θk joins back to its vector, the shared candidate-cell
    * rule re-derives which cells it COULD have probed, and the
    * unprobed ones whose bound q̂·ĉ + r̂ ≥ θk − margin re-probe in
    * bound order up to the budget — one extra keyed join round, the
    * batched form of annIvfAdaptive's loop. A query whose pool
    * already provably dominates every unprobed cell (the clustered
    * common case) re-probes nothing; the straddle query re-probes
    * exactly the cell it missed. Final round-6 re-rank over the
    * union. reprobeMax = 0 is the fixed-dial baseline plan,
    * byte-identical to r14. */
  private def batchIvfPlan(spark: SparkSession, e: DataFrame,
      model: KMeans.CellModel, k: Int, nProbe: Int,
      reprobeMax: Int, knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0) knownN else e.count()
    val corpusCellsLazy = e.select(col("vec_id"), col("v"), col("nv"))
      .join(model.assign, "vec_id")
    // Both scoring rounds join the assigned corpus — left lazy, the
    // corpus⋈assignment shuffle join executes once per round. Above
    // the decade crossover pin it once (the e01c signature-relation
    // lesson, same round); below it the recompute is cheaper than
    // the barrier and the audited small-SF plan shape is preserved.
    // NOTE: the small-model exhaustive regime never reaches here —
    // the entry routes it to the brute kernel PRE-fit (see
    // [[smallModelExhaustive]]); a post-split flat model that shrank
    // back under probe + budget cannot exist (splits only grow).
    val corpusCells =
      if (reprobeMax > 0 && n >= graft.operators.ExtendedQueries.SqCutMinVectors)
        corpusCellsLazy.pinned
      else corpusCellsLazy
    val queries = e.filter(col("label") === 0).select(col("vec_id"), col("v"))
    val qPayload = e.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nv").as("nq"))
    batchIvfCore(spark, _ => corpusCells, queries, qPayload,
      model.centroids, model.coarse, model.children, k, nProbe, reprobeMax,
      nQueries = e.filter(col("label") === 0).count(),
      bounds = () => cellBoundStats(spark, e, model.assign,
        model.centroids.length),
      pruneScan = false)
  }

  /** Per-GROUP cosine bounds DERIVED driver-side from the cell bounds
    * (r16, VERDICT r15 #2) — zero extra distributed passes: with ĝ
    * any fixed reference (here the unweighted mean of the group's
    * bounded child means) and R̂g = max over bounded children c of
    * (r̂c + |ĉc − ĝ|), every member x of any child satisfies
    * |x̂ − ĝ| ≤ |x̂ − ĉc| + |ĉc − ĝ| ≤ r̂c + |ĉc − ĝ| ≤ R̂g, so
    * cos(q, x) ≤ q̂·ĝ + R̂g — the cell bound's Cauchy-Schwarz argument
    * one level up, sound for ANY reference point (no member counts
    * needed). Unbounded children (+∞ radius — persisted appends into
    * cells without a build-time bound row) make their group
    * unbounded (must-probe); groups with no bounded children get
    * (null, −∞) — nothing to gain. */
  private[graft] def groupBoundsFromCells(children: Array[Array[Int]],
      means: Array[Array[Double]], radii: Array[Double])
      : (Array[Array[Double]], Array[Double]) = {
    val gMeans = new Array[Array[Double]](children.length)
    val gRadii = Array.fill(children.length)(Double.NegativeInfinity)
    var g = 0
    while (g < children.length) {
      val live = children(g).filter(c => means(c) != null &&
        radii(c) != Double.NegativeInfinity)
      if (live.nonEmpty) {
        val dim = means(live(0)).length
        val m = new Array[Double](dim)
        live.foreach { c =>
          var j = 0
          while (j < dim) { m(j) += means(c)(j); j += 1 }
        }
        var j = 0
        while (j < dim) { m(j) /= live.length; j += 1 }
        gMeans(g) = m
        gRadii(g) = live.map { c =>
          if (radii(c) == Double.PositiveInfinity) Double.PositiveInfinity
          else {
            var d = 0.0; var t = 0
            while (t < dim) { val x = means(c)(t) - m(t); d += x * x; t += 1 }
            radii(c) + math.sqrt(d)
          }
        }.max
      }
      g += 1
    }
    (gMeans, gRadii)
  }

  /** THE shared cell-blocked batch k-NN kernel — v15's in-entry form
    * ([[batchIvfPlan]]) and the persisted serving twin
    * (VectorIndex.annIvfBatch) both route here, so probe rule,
    * scoring, pooling, top-up and re-rank CANNOT drift between them.
    *
    *  - `cellScan(cells)` returns the (vec_id, v, nv, cluster) corpus
    *    rows for the given cells. The in-entry form ignores the list
    *    (its assignment join restricts per-query anyway); the
    *    persisted form turns it into a `cluster IN (...)` PARTITION
    *    filter, so non-probed cells never open a file. When
    *    `pruneScan` is set the probe/re-probe relations are pinned
    *    first (each feeds both the distinct-cell collect — bounded by
    *    nCells — and the scoring join).
    *  - coarse-first probe via the ONE shared kernel
    *    (KMeans.probeCells — also e01c's), exact cosine inside probed
    *    cells only, TopKAgg partials, per-query θk, then the BOUNDED
    *    ADAPTIVE TOP-UP (VERDICT r14 #2): unprobed candidate cells
    *    whose bound q̂·ĉ + r̂ ≥ θk − margin re-probe in centroid-
    *    distance order up to `reprobeMax`.
    *  - On TWO-LEVEL models the top-up's candidate scope now extends
    *    past the coarseProbe nearest groups (r16, VERDICT r15 #2):
    *    groups whose DERIVED group bound ([[groupBoundsFromCells]])
    *    could still beat θk admit their children — a cross-coarse-
    *    group straddle is reachable exactly when it could matter,
    *    within the same re-probe budget. reprobeMax = 0 is the
    *    fixed-dial single-stage plan, byte-identical to r14. */
  private[graft] def batchIvfCore(spark: SparkSession,
      cellScan: Seq[Int] => DataFrame, queries: DataFrame,
      qPayload: DataFrame, centroids: Array[Array[Double]],
      coarse: Array[Array[Double]], children: Array[Array[Int]],
      k: Int, nProbe: Int, reprobeMax: Int, nQueries: Long,
      bounds: () => (Array[Array[Double]], Array[Double]),
      pruneScan: Boolean,
      // the coarse-level probe width — every serving entry keeps the
      // shared e01c dial; Int.MaxValue (with nProbe likewise) is the
      // PROBE-ALL exactness anchor (v16b — probeCells take()s clamp)
      coarseProbe: Int = graft.operators.ExtendedQueries.E01cCoarseProbe)
      : DataFrame = {
    import spark.implicits._
    val topUp = reprobeMax > 0
    // per-query probe cells via the ONE shared coarse-first kernel
    val probes0 = KMeans.probeCells(spark, queries,
        centroids, coarse, nProbe, coarseProbe, children)
      .withColumnRenamed("qid", "query_id")
    val probes = if (pruneScan) probes0.pinned else probes0
    def scanFor(cellPairs: DataFrame): DataFrame =
      if (!pruneScan) cellScan(Nil)
      else cellScan(cellPairs.select(col("cluster")).distinct()
        .as[Int].collect().toSeq.sorted) // ≤ nCells ints
    def scoreCells(cellPairs: DataFrame, scan: DataFrame): DataFrame = cellPairs
      .join(qPayload, "query_id")
      .join(scan, "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosinePreRaw(col("v"), col("qv"), col("nv"), col("nq")).as("rawcos"),
        col("vec_id"))
    val scored = scoreCells(probes, scanFor(probes))
    // qid-repartition before the pool agg: bounds the agg map and
    // any sort fallback to a partition's slice of the pair stream
    // (see poolAggPartitions). BIG-decade lever only — when the
    // count clamps to defaultParallelism the raised fallback
    // threshold already keeps the agg hashed and the extra exchange
    // is pure overhead (measured +23 s at 200k).
    val poolParts = poolAggPartitions(spark, nQueries, V15PoolQidsPerPartition)
    def pool(pairs: DataFrame): DataFrame = {
      val pre =
        if (poolParts > spark.sparkContext.defaultParallelism)
          pairs.repartition(poolParts, col("query_id"))
        else pairs
      pre.groupBy("query_id")
        .agg(org.apache.spark.sql.graft.TopKAgg.topK(
          col("rawcos"), col("vec_id"), k + 8).as("top"))
    }
    val merged =
      if (!topUp) pool(scored)
      else {
        // The round-1 pool feeds BOTH θk and the final union — left
        // lazy, the whole pair-stream aggregation would execute twice
        // in one action (exchange reuse dedups the shuffle, not the
        // agg above it; measured as v15's 2× wall at the 2M decades).
        // Its rows are bounded (queries × (k+8) narrow structs), so
        // pin it executor-side once, the repo's cache-release
        // convention.
        val top1 = pool(scored).pinned
        val (bMeans, bRadii) = bounds()
        val (gMeans, gRadii) =
          if (coarse == null) (null, null)
          else groupBoundsFromCells(children, bMeans, bRadii)
        val bcCs = spark.sparkContext.broadcast(centroids)
        val bcCoarse = spark.sparkContext.broadcast(coarse)
        val bcChildren = spark.sparkContext.broadcast(children)
        val bcMeans = spark.sparkContext.broadcast(bMeans)
        val bcRadii = spark.sparkContext.broadcast(bRadii)
        val bcGMeans = spark.sparkContext.broadcast(gMeans)
        val bcGRadii = spark.sparkContext.broadcast(gRadii)
        // θk per query: the pooled k-th's raw cosine; a pool shorter
        // than k (or a query with no pool rows at all) means nothing
        // is provably dominated yet → θ = −∞, re-probe fills the
        // budget with the best-bound cells.
        val theta = top1.select(col("query_id"),
          when(size(col("top")) >= k,
            element_at(col("top"), k).getField("cos"))
            .otherwise(lit(Double.NegativeInfinity)).as("theta"))
        val reprobes0 = queries
          .withColumnRenamed("vec_id", "query_id")
          .join(theta, Seq("query_id"), "left")
          .select(col("query_id"), col("v"),
            coalesce(col("theta"), lit(Double.NegativeInfinity)).as("theta"))
          .as[(Long, Array[Double], Double)]
          .flatMap { case (id, v, th) =>
            val cs = bcCs.value
            var qn = 0.0; var j = 0
            while (j < v.length) { qn += v(j) * v(j); j += 1 }
            val inv = if (qn > 0) 1.0 / math.sqrt(qn) else 0.0
            // the straddle extension: admit groups past the
            // coarseProbe scope whose GROUP bound could beat θk
            val gms = bcGMeans.value; val grs = bcGRadii.value
            val admit: Int => Boolean =
              if (gms == null) _ => false
              else g => {
                val m = gms(g)
                m != null && {
                  var s = 0.0; var t = 0
                  while (t < m.length) { s += v(t) * inv * m(t); t += 1 }
                  s + grs(g) >= th - ReprobeMargin
                }
              }
            val cand = KMeans.candidateCellsExtended(v, cs, bcCoarse.value,
              bcChildren.value, coarseProbe, admit, V15StraddleGroups)
            val ds = new Array[(Double, Int)](cand.length)
            var i = 0
            while (i < cand.length) {
              ds(i) = (KMeans.sqDist(v, cs(cand(i))), cand(i)); i += 1
            }
            val ranked = ds.sortBy(_._1)
            val ms = bcMeans.value; val rs = bcRadii.value
            // Rank the survivors by CENTROID DISTANCE — the probe
            // order's continuation — and use the bound only as the
            // sound FILTER. Ranking by the bound itself is a trap on
            // the premise regime (found at clustered-2M): many cells'
            // q̂·ĉ + r̂ exceeds 1 and any clipped/loose bound TIES,
            // so a budget ranked on it picks arbitrary cells while
            // the straddled next-nearest cell waits outside the
            // budget.
            ranked.drop(nProbe).map { case (d, c) =>
              val m = ms(c)
              val ub =
                if (m == null) Double.NegativeInfinity
                else {
                  var s = 0.0; var t = 0
                  while (t < m.length) { s += v(t) * inv * m(t); t += 1 }
                  s + rs(c)
                }
              (d, c, ub)
            }.filter(_._3 >= th - ReprobeMargin)
              .sortBy { case (d, c, _) => (d, c) }
              .take(reprobeMax)
              .map { case (_, c, _) => (id, c) }
          }.toDF("query_id", "cluster")
        val reprobes = if (pruneScan) reprobes0.pinned else reprobes0
        val round1 = top1.select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.cos").as("rawcos"),
            col("t.vec_id").as("vec_id"))
        pool(round1.unionAll(scoreCells(reprobes, scanFor(reprobes))))
      }
    rerankPools(merged, k)
  }

  /** The shared LSH cell-blocked SCORING kernel of v08/e01b: rows
    * matching `isQuery` become queries, every row is corpus, and the
    * result is (qid, rawcos, vec_id) for each candidate pair sharing
    * at least one of the nTables×bits cells.
    *
    *  - Candidates: equi-join on the packed cell key (NO broadcast
    *    hint — AQE picks the build side from runtime sizes; at scale
    *    both sides shuffle on the cell key).
    *  - Multi-table collisions are NOT pre-deduplicated: a
    *    dropDuplicates here is a full shuffle of the candidate
    *    stream (its dominant cost), while TopKAgg's buffer drops
    *    exact (score, id) duplicates at insert — collisions cost
    *    only their recomputed map-side cosines and the partial agg
    *    absorbs them before any exchange.
    *  - Vector payloads re-attach via narrow equi-joins (the d06
    *    shape); consumers rank on the RAW cosine and round(6) only
    *    the survivors.
    *
    * `e` must carry (vec_id, v, nv) and SHOULD be cached — it is
    * scanned three times (cells + both payload re-attach joins).
    * `dim` must equal the length of the `v` arrays (defaults to the
    * shipped corpus' 64): hyperplanes shorter than the vectors would
    * silently score only their first `dim` components. */
  def lshScored(
      e: DataFrame, isQuery: Column, nTables: Int, bits: Int, seed: Long,
      dim: Int = 64): DataFrame = {
    val planes = lshPlanes(nTables * bits, dim, seed)
    val cells = e.select(col("vec_id"), isQuery.as("is_q"),
      explode(cellStructs(planes, nTables, bits)(col("v"))).as("cell"))
    val qcells = cells.filter(col("is_q"))
      .select(col("vec_id").as("qid"), col("cell"))
    val cand = cells.select(col("vec_id"), col("cell")).join(qcells, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"), col("nv").as("nq")), "qid")
      .join(e.select(col("vec_id"), col("v"), col("nv")), "vec_id")
      .select(col("qid"),
        cosinePreRaw(col("v"), col("qv"), col("nv"), col("nq")).as("rawcos"), col("vec_id"))
  }

  /** LSH (tables × bits) TUNING SWEEP — the dial d06/e01b's scaladocs
    * name, made measurable: for each setting, the candidate-pair
    * volume (what the blocking equi-join shuffles) and the recall of
    * exact-verified pairs against the brute-force truth at
    * `threshold`. Returns one (tables, bits, candidates, found,
    * recall) row per grid point; counts only cross the driver, and
    * the brute truth is computed once. A real-corpus user runs this
    * on a SAMPLE to pick the dial before the full job — on clustered
    * embeddings more bits collapse candidates at held recall, while
    * on near-random vectors (this synthetic corpus) no dial is
    * selective near the random-pair cosine (SkewCorpusSpec shows
    * both regimes). */
  def lshSweep(spark: SparkSession, e: DataFrame, threshold: Double,
      grid: Seq[(Int, Int)], seed: Long = 77L): Seq[(Int, Int, Long, Long, Double)] = {
    val cached = graft.plans.Par.ensureParallelism(
      e.select(col("vec_id"), col("v"))
        .withColumn("nv", normNative(col("v")))).cache()
    try {
      val dim = cached.select("v").head().getSeq[Double](0).length
      val exact = cached.as("l").join(cached.as("r"), col("l.vec_id") < col("r.vec_id"))
        .select(cosinePreRaw(col("l.v"), col("r.v"), col("l.nv"), col("r.nv")).as("rawcos"))
        .filter(col("rawcos") >= threshold - 1e-6)
        .filter(round(col("rawcos"), 6) >= threshold).count()
      grid.map { case (tables, bits) =>
        val planes = lshPlanes(tables * bits, dim, seed)
        val cells = cached.select(col("vec_id"),
          explode(cellStructs(planes, tables, bits)(col("v"))).as("cell"))
        val cand = cells.as("l").join(cells.as("r"),
            col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
          .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
          .distinct().cache()
        val nCand = cand.count()
        val found = cand
          .join(cached.select(col("vec_id").as("a"), col("v").as("va"), col("nv").as("na")), "a")
          .join(cached.select(col("vec_id").as("b"), col("v").as("vb"), col("nv").as("nb")), "b")
          .select(cosinePreRaw(col("va"), col("vb"), col("na"), col("nb")).as("rawcos"))
          .filter(col("rawcos") >= threshold - 1e-6)
          .filter(round(col("rawcos"), 6) >= threshold).count()
        cand.unpersist()
        (tables, bits, nCand, found, if (exact == 0) 1.0 else found.toDouble / exact)
      }
    } finally { cached.unpersist(); () }
  }

  /** Deterministic hyperplanes (seeded), broadcast as literals. */
  def lshPlanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** The L per-table (table, bucket) cells of a vector column as one
    * array column — the shared blocking primitive of v05/d06/entity
    * resolution (explode it for the narrow (id, cell) rows). Each
    * cell is PACKED into one long (table in the high bits, bucket in
    * the low `bits`): equi-joins hash/sort a primitive key instead of
    * a two-field struct, which is measurably cheaper on the
    * million-row candidate joins. */
  def cellStructs(planes: Array[Array[Double]], nTables: Int, bits: Int)(v: Column): Column =
    array((0 until nTables).map { t =>
      signature(planes.slice(t * bits, (t + 1) * bits))(v) + lit(t.toLong << 32)
    }: _*)

  /** Column fn: 16-bit LSH signature of a double-array column. The
    * planes are compile-time literals, so the whole signature is one
    * codegen'd expression tree — no UDF. */
  def signature(planes: Array[Array[Double]])(v: Column): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** v12 dials: candidate-pool size (the distributed top-P cut),
    * picks, and the relevance weight λ. μ is its OWN literal, not
    * 1−λ: `1 - 0.7` is 0.30000000000000004 in IEEE — writing `0.3`
    * on both engines is what keeps the scores bit-identical. */
  val MmrPool = 16
  val MmrK = 5
  val MmrLambda = 0.7
  val MmrMu = 0.3

  /** v12: DIVERSIFIED top-k via MAXIMAL MARGINAL RELEVANCE
    * (Carbonell & Goldstein 1998) — greedily pick k results
    * maximizing λ·rel(d) − μ·max_{s∈picked} sim(d, s): the
    * fix for top-k's redundancy failure (a plain cosine top-5 over
    * a corpus with near-duplicates returns five copies of the same
    * fact; a RAG context window wants coverage). The standard
    * re-rank between retrieval and prompt assembly.
    *
    * Scale shape: the DISTRIBUTED stage is the pool cut — the v01
    * scan shape (query broadcast, corpus streams, round-6 cosine,
    * TakeOrderedAndProject) reduces 100 TB to [[MmrPool]] rows; the
    * greedy is inherently sequential in k but touches only the
    * bounded pool (P rows + P² round-6 sims — driver-side like the
    * PQ ADC tables, never O(corpus)). Parity: pool relevances and
    * pairwise sims are round-6 BY SPARK/DuckDB respectively
    * (identical doubles), selection compares the raw λ/μ
    * combination of those identical inputs (same IEEE op order, ties
    * to the smaller vec_id), and the emitted score is round-6 of the
    * identical raw — the oracle unrolls the same k greedy steps as
    * chained CTEs. */
  def v12Mmr(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    mmrTopK(spark,
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q)), MmrPool, MmrK)
  }

  /** The v12 kernel over (vec_id, v, qv) rows — SHARED with
    * `Graft.closestFactsDiverse` (the serving-path form over a
    * store's fact embeddings) so entry and facade cannot drift. */
  def mmrTopK(spark: SparkSession, scored: DataFrame,
      poolSize: Int, k: Int): DataFrame = {
    val pool = scored
      .select(col("vec_id"), col("v"), cosineNative6(col("v"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(poolSize)
      .cache()
    try {
      // bounded collects: P (vec_id, rel) rows + P·(P−1) sims
      val rels = pool.select("vec_id", "rel").orderBy(col("rel").desc, col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val sims = pool.select(col("vec_id").as("a"), col("v").as("va"))
        .join(pool.select(col("vec_id").as("b"), col("v").as("vb")), col("a") =!= col("b"))
        .select(col("a"), col("b"), cosineNative6(col("va"), col("vb")).as("s"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
      var remaining = rels.toList
      while (picked.size < k && remaining.nonEmpty) {
        val scored = remaining.map { case (id, rel) =>
          val ms = if (picked.isEmpty) 0.0
            else picked.map { case (_, s, _, _) => sims((id, s)) }.max
          (id, rel, MmrLambda * rel - MmrMu * ms)
        }
        val (id, rel, raw) = scored.minBy { case (id, _, sc) => (-sc, id) }
        picked += ((picked.size + 1, id, rel, raw))
        remaining = remaining.filterNot(_._1 == id)
      }
      spark.createDataFrame(picked.toSeq).toDF("rk", "vec_id", "rel", "raw")
        .select(col("rk"), col("vec_id"), col("rel"),
          round(col("raw"), 6).as("mmr_score"))
        .orderBy("rk")
    } finally { pool.unpersist(); () }
  }

  // One persisted-batch artifact per corpus dir per JVM (the
  // hybridIdxCache convention): "build once per corpus version,
  // query many times" IS the serving contract the entry demonstrates.
  private val batchIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** v16: v15's batch-k-NN semantics THROUGH THE PERSISTED INDEX
    * (VERDICT r15 #1) — the serving twin: the artifact builds once
    * per corpus version (cached per JVM here, the v03b precedent)
    * and every batch call pays only the partition-pruned probe + the
    * bounded top-up, never the fit. Same fit dials as v15, so the
    * rows match the in-entry form on a shared model. *rows-only*
    * (BatchIndexSpec: persisted == in-memory v15 rows; PartitionFilters
    * needle; tombstone hygiene; straddle recovery). */
  def v16KnnBatchIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    graft.store.VectorIndex.annIvfBatch(spark, batchIdx(spark, dir, e),
        e.filter(col("label") === 0).select("vec_id", "v"), k = 3)
      .orderBy("query_id", "rk")
  }

  /** The ONE per-dir persisted batch artifact v16/v16b serve from —
    * built with v15's fit dials (so the rows match the in-entry form
    * on a shared model) + cell bounds, cached per JVM. */
  private def batchIdx(spark: SparkSession, dir: String,
      e: DataFrame): String =
    batchIdxCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_v16_ivf").toString
      val n = e.count()
      graft.store.VectorIndex.buildIvf(spark,
        graft.plans.Par.ensureParallelism(
          e.withColumn("nv", normNative(col("v")))),
        p, nCells = math.max(8, (n / V15CellTarget).toInt), iters = 2,
        cellCap = V15CellCap, twoLevelCells = V15TwoLevelCells)
      graft.store.VectorIndex.buildCellBounds(spark, p)
      p
    })

  /** v16b: the persisted batch path's ORACLE ANCHOR (r17, VERDICT r16
    * #5) — the SAME per-JVM artifact as v16, served PROBE-ALL at the
    * fixed dial (nProbe = coarseProbe = MaxValue, reprobeMax = 0):
    * cells partition the corpus, so probing every cell enumerates
    * exactly the non-self pairs v02's broadcast cross join does, and
    * scoring/pooling/re-rank are the one shared kernel — the rows
    * hash-match v02's DuckDB oracle end-to-end THROUGH the disk
    * artifact (build → partitioned read → tombstone filter → kernel),
    * making this the first ANN rung with a rows+schema+hash anchor on
    * its persisted path, not just spec-pinned row equality. The
    * pruning/regime story stays on v16's line; this entry's partition
    * filter degenerates to all-partitions BY CONSTRUCTION. */
  def v16bKnnBatchIvfProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    graft.store.VectorIndex.annIvfBatch(spark, batchIdx(spark, dir, e),
        e.filter(col("label") === 0).select("vec_id", "v"), k = 3,
        nProbe = Int.MaxValue, reprobeMax = 0, coarseProbe = Int.MaxValue)
      .orderBy("query_id", "rk")
  }

  // one persisted IVFADC artifact per corpus dir per JVM (the
  // batchIdxCache convention, compressed rung)
  private val adcIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** v17: BATCH k-NN at the COMPRESSED rung (r17) — annIvfBatch's
    * IVFADC twin (VectorIndex.annIvfPqBatch) served from a
    * buildIvfPq artifact: the scan streams M ints + one norm per
    * corpus vector from the partition-pruned code layout, ADC
    * scoring against the broadcast codebook, TopKAgg pools, exact
    * re-rank of the pooled ids only — the batch rung for the 10⁹+
    * decade where even the probed cells' FLOAT vectors (v16's scan)
    * are too many bytes. Same per-JVM build-once cadence as v16.
    * *rows-only* (BatchIndexSpec: probe-all + pool-covering == the
    * brute batch top-k exactly; clustered-corpus recall band at
    * serving dials; PartitionFilters needle on ivfpq_codes). */
  def v17KnnBatchIvfAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    graft.store.VectorIndex.annIvfPqBatch(spark, adcIdx(spark, dir, e), e,
      e.filter(col("label") === 0).select("vec_id", "v"), k = 3)
  }

  /** The ONE per-dir persisted IVFADC artifact v17/v17b serve from
    * (the batchIdx convention at the compressed rung). */
  private def adcIdx(spark: SparkSession, dir: String,
      e: DataFrame): String =
    adcIdxCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_v17_ivfpq").toString
      val n = e.count()
      graft.store.VectorIndex.buildIvfPq(spark,
        e.select(col("vec_id"), col("v")), p,
        nCells = math.max(8, (n / V15CellTarget).toInt))
      p
    })

  /** v17b: the COMPRESSED batch path's ORACLE ANCHOR (r17) — v16b's
    * treatment extended down the ladder: the SAME per-JVM IVFADC
    * artifact as v17, served PROBE-ALL (cells partition the corpus,
    * so every non-self pair is enumerated) with the re-rank pool
    * covering the corpus (rerank·k ≥ n), so ADC error can only
    * reorder POOL MEMBERSHIP — which the covering pool makes total —
    * and the exact round-6 re-rank restores brute ordering: the rows
    * hash-match v02's DuckDB oracle end-to-end THROUGH the coded disk
    * artifact (build → partition-pruned code read → tombstone filter
    * → ADC → exact re-rank). The compression/regime story stays on
    * v17's line; this entry's partition filter and pool degenerate BY
    * CONSTRUCTION — it anchors correctness of the persisted coded
    * path, not its serving shape. */
  def v17bKnnBatchIvfAdcProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val idx = adcIdx(spark, dir, e)
    val n = e.count()
    graft.store.VectorIndex.annIvfPqBatch(spark, idx, e,
      e.filter(col("label") === 0).select("vec_id", "v"), k = 3,
      nProbe = Int.MaxValue, rerank = (n / 3 + 3).toInt)
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "v16_knn_batch_ivf_persisted" -> (v16KnnBatchIvfPersisted _),
    "v16b_knn_batch_ivf_probeall" -> (v16bKnnBatchIvfProbeAll _),
    "v17_knn_batch_ivfadc" -> (v17KnnBatchIvfAdc _),
    "v17b_knn_batch_ivfadc_probeall" -> (v17bKnnBatchIvfAdcProbeAll _),
    "v12_mmr" -> (v12Mmr _),
    "v01_knn_facts" -> (v01KnnFacts _),
    "v02_knn_batch" -> (v02KnnBatch _),
    "v03_hybrid_union" -> (v03HybridUnion _),
    "v03b_hybrid_union_indexed" -> (v03bHybridUnionIndexed _),
    "v04_hybrid_intersection" -> (v04HybridIntersection _),
    "v04b_hybrid_intersection_indexed" -> (v04bHybridIntersectionIndexed _),
    "v05_ann_lsh" -> (v05AnnLsh _),
    "v06_knn_agg" -> (v06KnnAgg _),
    "v07_ann_ivf" -> (v07AnnIvf _),
    "v08_knn_batch_ann" -> (v08KnnBatchAnn _),
    "v15_knn_batch_ivf" -> (v15KnnBatchIvf _),
    "v11_range_search" -> (v11RangeSearch _))

  private val probeList = GraphQueries.ProbeUnion.map(e => s"'$e'").mkString(", ")

  /** One MMR greedy step as SQL: candidates = pool minus `sel`,
    * scored 0.7·rel − 0.3·max(sim to sel), argmax with vec_id ties.
    * The same raw-score-selection / round-on-emit split as the Spark
    * side. */
  private def mmrStepSql(cand: String, sel: String): String =
    s"""$cand AS (SELECT p.vec_id, p.rel,
       |    $MmrLambda * p.rel - $MmrMu * max(s.s) AS raw
       |  FROM pool p JOIN sim s ON s.a = p.vec_id
       |  WHERE s.b IN (SELECT vec_id FROM picked)
       |    AND p.vec_id NOT IN (SELECT vec_id FROM picked)
       |  GROUP BY p.vec_id, p.rel)""".stripMargin
      .replace("picked", sel)

  /** The batch-k-NN oracle (every label-0 vector's top-3 non-self
    * neighbours, round-6 cosine, vec_id ties) — v02's brute form AND
    * v16b's persisted probe-all serve these identical semantics, so
    * ONE SQL anchors both. */
  private def batchKnnOracleSql: String =
    s"""WITH e AS ($embSql),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE label = 0),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, cos, rk FROM ranked WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin

  val oracles: Map[String, String] = Map(
    // v12: the same greedy unrolled — pool and pairwise sims are
    // round-6 (identical doubles to the Spark side), each step
    // selects on the RAW λ/μ combination, and only the emitted
    // score rounds.
    "v12_mmr" ->
      s"""WITH e AS ($embSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |pool AS (SELECT vec_id, v, round(list_cosine_similarity(v, qv), 6) AS rel
         |         FROM e, q WHERE vec_id <> 0
         |         ORDER BY rel DESC, vec_id LIMIT $MmrPool),
         |sim AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |          round(list_cosine_similarity(a.v, b.v), 6) AS s
         |        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         |s1 AS (SELECT vec_id, rel, $MmrLambda * rel AS raw FROM pool
         |       ORDER BY raw DESC, vec_id LIMIT 1),
         |${mmrStepSql("c2", "s1")},
         |s2 AS (SELECT vec_id, rel, raw FROM c2 ORDER BY raw DESC, vec_id LIMIT 1),
         |p2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
         |${mmrStepSql("c3", "p2")},
         |s3 AS (SELECT vec_id, rel, raw FROM c3 ORDER BY raw DESC, vec_id LIMIT 1),
         |p3 AS (SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM s3),
         |${mmrStepSql("c4", "p3")},
         |s4 AS (SELECT vec_id, rel, raw FROM c4 ORDER BY raw DESC, vec_id LIMIT 1),
         |p4 AS (SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM s4),
         |${mmrStepSql("c5", "p4")},
         |s5 AS (SELECT vec_id, rel, raw FROM c5 ORDER BY raw DESC, vec_id LIMIT 1)
         |SELECT CAST(rk AS INT) AS rk, vec_id, rel, round(raw, 6) AS mmr_score
         |FROM (
         |  SELECT 1 AS rk, * FROM s1
         |  UNION ALL SELECT 2, * FROM s2
         |  UNION ALL SELECT 3, * FROM s3
         |  UNION ALL SELECT 4, * FROM s4
         |  UNION ALL SELECT 5, * FROM s5)
         |ORDER BY rk""".stripMargin,
    // v11: threshold instead of LIMIT — the round-6 cosine is the
    // SAME value both engines filter on, so the ball is identical.
    "v11_range_search" ->
      s"""WITH e AS ($embSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos
         |FROM e, q WHERE vec_id <> 0
         |  AND round(list_cosine_similarity(v, qv), 6) >= $RangeTau
         |ORDER BY cos DESC, vec_id""".stripMargin,
    "v01_knn_facts" ->
      s"""WITH e AS ($embSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos
         |FROM e, q WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "v02_knn_batch" -> batchKnnOracleSql,
    // v16b serves the SAME semantics through the persisted artifact
    // probe-all (exact by construction — see the entry's scaladoc),
    // so v02's oracle IS its oracle: the first hash anchor through a
    // persisted ANN path (r17, VERDICT r16 #5).
    "v16b_knn_batch_ivf_probeall" -> batchKnnOracleSql,
    // v17b: probe-all + a corpus-covering re-rank pool make the coded
    // path exact by construction (ADC error only permutes pool
    // membership, which the covering pool makes total; the re-rank is
    // exact round-6 cosine) — v02's oracle anchors the COMPRESSED
    // persisted path too (r17).
    "v17b_knn_batch_ivfadc_probeall" -> batchKnnOracleSql,
    "v06_knn_agg" ->
      s"""WITH e AS ($embSql),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE label = 1),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, vec_id, cos, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    "v03_hybrid_union" ->
      s"""WITH fe AS ($factEmbSql),
         |e2 AS (${HippoGraph.edgesSql}),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT fact_id, round(list_cosine_similarity(fe.v, q.qv), 6) AS cos
         |FROM fe, q
         |WHERE fact_id IN (SELECT fact_id FROM e2 WHERE entity IN ($probeList))
         |ORDER BY cos DESC, fact_id LIMIT 5""".stripMargin,
    "v04_hybrid_intersection" ->
      s"""WITH fe AS ($factEmbSql),
         |e2 AS (${HippoGraph.edgesSql}),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT fact_id, round(list_cosine_similarity(fe.v, q.qv), 6) AS cos
         |FROM fe, q
         |WHERE fact_id IN (
         |  SELECT fact_id FROM e2 WHERE entity IN ($probeList)
         |  GROUP BY fact_id HAVING count(DISTINCT entity) = ${GraphQueries.ProbeUnion.size})
         |ORDER BY cos DESC, fact_id LIMIT 5""".stripMargin)
}
