package graft

import org.apache.spark.sql.SparkSession

/** Example driver for the user-facing facade: annotate a corpus, run
  * the retrieval surface, and show that the native dot-product
  * expression participates in the physical plan.
  *
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {

  /** One end-to-end run's observable outcomes — what the DemoSpec
    * user-acceptance test asserts on and main prints. */
  final case class Story(
      nLoaded: Long, nCurated: Long,
      nFacts: Long, nEntities: Long, integrity: (Long, Long, Long),
      annFactIds: Seq[Long], bruteFactIds: Seq[Long],
      hybridRows: Long, hybridIndexedMatches: Boolean,
      bpeTokens: Long, viewJson: String,
      passRate: Double, meanNovelty: Double,
      funnel: Map[String, Long], topTransition: (String, String, Long),
      takedownFacts: Long, takedownClean: Boolean,
      healthBefore: graft.store.VectorIndex.IndexHealth,
      healthAfter: graft.store.VectorIndex.IndexHealth)

  /** THE FULL USER STORY as one callable tour — load → curate →
    * annotate (store build + save/load round-trip) → index (persisted
    * IVF over the fact embeddings) → retrieve (ANN serving path AND
    * the hybrid entity-filtered form) → GraftView JSON payload.
    * Every stage runs the same public surface a user would; the spec
    * treats this as the user-acceptance test. */
  def fullStory(spark: SparkSession, dir: String,
      query: String = "stream processing window"): Story = {
    import org.apache.spark.sql.functions._
    val api = new graft.api.Graft(spark)

    // LOAD: the corpus as the loaders surface it.
    val docs = graft.sources.Tables.documents(spark, dir)
    val nLoaded = docs.count()

    // CURATE: the five-stage pipeline picks the training slice; the
    // survivors join back to full docs (p01 emits scores, not text).
    val survivors = graft.operators.PipelineQueries
      .p01CurationPipeline(spark, dir).select("doc_id")
    val curated = docs.join(survivors, "doc_id")
    val nCurated = curated.count()

    // ANNOTATE: curated docs → graph+vector store, persisted and
    // reloaded (the serving processes are not the build process).
    val built = api.annotate(curated)
    val storeDir = java.nio.file.Files.createTempDirectory("story_store").toString
    built.save(storeDir)
    val db = graft.store.HippoDb.load(spark, storeDir)

    // INDEX: a persisted IVF over the fact embeddings — probes are
    // partition-pruned scans, no retrain per query.
    val idxDir = java.nio.file.Files.createTempDirectory("story_idx").toString
    val nCells = 8
    graft.store.VectorIndex.buildIvf(spark,
      db.factEmb.select(col("fact_id").as("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v")),
      idxDir, nCells = nCells, iters = 2)

    // RETRIEVE: the ANN serving path (query vector against the
    // persisted index; all cells probed here so the result is
    // exactly the brute ranking)...
    val qv = new graft.functions.HashEmbedder(64).embed(query).map(_.toDouble)
    val annFactIds = graft.store.VectorIndex
      .annIvf(spark, idxDir, qv, k = 3, nProbe = nCells, excludeVecId = None)
      .collect().map(_.getLong(0)).toSeq
    val bruteFactIds = api.closestFacts(db, query, k = 3)
      .collect().map(_.getLong(0)).toSeq
    // ...and the hybrid entity-filtered form, brute AND through the
    // persisted index (r11: the storage.py filter-inside-the-index
    // architecture — at all-probe the two must agree row-for-row).
    val hybridBrute = api.closestFactsWithEntities(
      db, query, Seq(graft.operators.GraphQueries.ProbeEntity),
      union = true, k = 5).collect().map(_.toSeq).toSeq
    val hybridRows = hybridBrute.length.toLong
    val hybridIndexedMatches = api.closestFactsWithEntities(
      db, query, Seq(graft.operators.GraphQueries.ProbeEntity),
      union = true, k = 5, indexDir = Some(idxDir), nProbe = nCells)
      .collect().map(_.toSeq).toSeq == hybridBrute

    // BUDGET: the token meter a training-data pipeline reads before
    // shipping the curated slice (r11's trained-BPE encode).
    val bpeTokens = graft.operators.Bpe
      .encode(curated, graft.operators.Bpe.T25Merges)
      .agg(sum(col("n_bpe"))).head().getLong(0)

    // VIEW: the hippoview payload over the same store.
    val view = new graft.api.GraftView(spark, api)
    val viewJson = view.toJson(db, view.entityGraph(db, query, k = 2, depth = 1))

    // GOVERN: the corpus report card + the event-lake analytics a
    // data/product team runs beside the store (p02 / q24 / q20).
    val report = graft.operators.PipelineQueries.p02CorpusReport(spark, dir)
      .collect().head
    val passRate = report.getAs[Double]("pass_rate")
    val meanNovelty = report.getAs[Double]("mean_novelty")
    val funnel = graft.operators.CoreQueries.q24WindowFunnel(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val top = graft.operators.AnalyticsQueries.q20PathTransitions(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("n").desc).limit(1)
      .collect().head
    val topTransition = (top.getString(0), top.getString(1), top.getLong(2))

    // Snapshot the pre-takedown store gauges NOW: deleteDocuments
    // swaps the live directories, and a lazy count taken after the
    // swap would read the post-delete store.
    val nFacts = db.facts.count()
    val nEntities = db.entities.count()
    val integrity = db.integrity

    // TAKEDOWN: the erasure verb a production store runs (GDPR /
    // DMCA / contaminated-source pulls) — delete the document behind
    // the TOP retrieved fact and prove nothing serves it afterwards:
    // store cascade + index tombstones, integrity still green.
    val victimDoc = db.facts.filter(col("fact_id") === annFactIds.head)
      .select("doc_id").head().getLong(0)
    val victimFacts = db.facts.filter(col("doc_id") === victimDoc)
      .select("fact_id").collect().map(_.getLong(0)).toSet
    // The maintenance read an operator does around a takedown: one
    // indexHealth call before (fresh index: healthy) and after (the
    // tombstones register as debt; compaction is the prescribed verb
    // once debt crosses its line).
    val healthBefore = graft.store.VectorIndex.indexHealth(spark, idxDir)
    val delReport = graft.store.HippoDb.deleteDocuments(
      spark, storeDir, Seq(victimDoc), indexDirs = Seq(idxDir))
    val healthAfter = graft.store.VectorIndex.indexHealth(spark, idxDir)
    val db2 = graft.store.HippoDb.load(spark, storeDir)
    val postAnn = graft.store.VectorIndex
      .annIvf(spark, idxDir, qv, k = 3, nProbe = nCells, excludeVecId = None)
      .collect().map(_.getLong(0)).toSet
    val (pF, pE, pMissing) = db2.integrity
    val takedownClean =
      delReport.factsDeleted == victimFacts.size &&
        db2.facts.filter(col("doc_id") === victimDoc).count() == 0 &&
        postAnn.intersect(victimFacts).isEmpty &&
        pF == pE && pMissing == 0

    Story(nLoaded, nCurated, nFacts, nEntities,
      integrity, annFactIds, bruteFactIds, hybridRows,
      hybridIndexedMatches, bpeTokens, viewJson,
      passRate, meanNovelty, funnel, topTransition,
      delReport.factsDeleted, takedownClean, healthBefore, healthAfter)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSpark.session(logLevel = "ERROR")

    val api = new graft.api.Graft(spark)
    val db = api.annotate(graft.sources.Tables.documents(spark, dir))
    println(s"[demo] store: ${db.facts.count()} facts, ${db.entities.count()} entities")

    println("[demo] closestFacts('spark window join', k=3):")
    api.closestFacts(db, "spark window join", 3).show(3, truncate = 60)

    println("[demo] hybrid closestFactsWithEntities(query='stream', entities=[window]):")
    api.closestFactsWithEntities(db, "stream", Seq("window"), union = true, k = 3)
      .show(3, truncate = 60)

    val (_, prompt) = api.retrieve(db, "stream processing", 2)
    println(s"[demo] RAG prompt:\n${prompt.linesIterator.take(4).mkString("\n")}")

    val deduped = api.annotateDeduped(graft.sources.Tables.documents(spark, dir))
    println(s"[demo] annotateDeduped: ${deduped.facts.count()} facts kept of ${db.facts.count()}")

    val tmp = java.nio.file.Files.createTempDirectory("demo_corpus")
    java.nio.file.Files.writeString(tmp.resolve("c.jsonl"),
      """{"text": "loaded via jsonl", "lang": "en"}
        |{"text": "second jsonl row"}""".stripMargin)
    val loaded = graft.sources.Loaders.loadJsonl(spark, s"$tmp/*.jsonl")
    println(s"[demo] loadJsonl: ${loaded.count()} docs, schema ${loaded.columns.mkString(",")}")

    val (_, centroids, inertias) = graft.operators.KMeans.fit(spark,
      graft.sources.Tables.embeddings(spark, dir)
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v"),
      k = 4, iters = 3)
    println(s"[demo] kmeans: ${centroids.length} centroids, inertia ${inertias.map(i => f"$i%.1f").mkString(" -> ")}")

    // Streaming ingest: documents arriving as files -> incremental store
    val inDir = java.nio.file.Files.createTempDirectory("stream_in")
    val storeDir = java.nio.file.Files.createTempDirectory("stream_store").toString
    val docsStream = spark.readStream
      .option("wholetext", "true").text(inDir.toString)
      .selectExpr("abs(xxhash64(input_file_name())) AS doc_id", "value AS text")
    val sq = graft.streaming.StreamOps.annotateStream(spark, docsStream, api, storeDir)
    java.nio.file.Files.writeString(inDir.resolve("d1.txt"), "stream one arrives with window and spark words")
    sq.processAllAvailable()
    java.nio.file.Files.writeString(inDir.resolve("d2.txt"), "stream two arrives later with stream batch words")
    sq.processAllAvailable()
    sq.stop()
    val streamed = graft.store.HippoDb.load(spark, storeDir)
    println(s"[demo] streaming ingest: ${streamed.facts.count()} facts from 2 file arrivals, integrity=${streamed.integrity}")

    val d = spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d").head().getDouble(0)
    println(s"[demo] SQL graft_dot(1,2 · 3,4) = $d")
    val arityErr = try { spark.sql("SELECT graft_dot(array(1.0d))"); "NO ERROR" }
      catch { case e: Exception => e.getMessage.linesIterator.next().take(80) }
    println(s"[demo] graft_dot wrong arity -> $arityErr")

    val plan = graft.operators.DedupQueries
      .d05EmbedNeardup(spark, dir).queryExecution.executedPlan.toString
    // codegen stages print as "*(n)" prefixes in the plan string;
    // count DISTINCT stage ids
    println(s"[demo] d05 WholeStageCodegen spans: ${
      "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size}")
    println(s"[demo] d05 plan uses native dotproduct: ${plan.toLowerCase.contains("dotproduct")}")

    // The end-to-end curation pipeline + the native NFC expression
    val curated = graft.operators.PipelineQueries.p01CurationPipeline(spark, dir)
    println(s"[demo] p01 curation pipeline survivors: ${curated.count()} docs")
    val folded = spark.sql("SELECT graft_nfc('Cafe\u0301') = 'Caf\u00e9' AS ok").head().getBoolean(0)
    println(s"[demo] SQL graft_nfc folds decomposed accents: $folded")

    // The capacity planner: which quantization rung fits a memory
    // budget at a recall floor, measured on THIS corpus (panel
    // ladder over a deterministic sample — VERDICT r13 #4).
    locally {
      import org.apache.spark.sql.functions.col
      import graft.functions.VectorFunctions.toDouble
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val (pick, rows) = graft.store.VectorIndex.recommendRung(spark, emb,
        memoryBudgetBytes = 1L << 30, recallFloor = 0.9)
      rows.foreach(p => println(
        f"[demo] rung ${p.rung}%-12s ${p.bytesPerVec}%4d B/vec resident=${p.residentBytes}%8d " +
        f"fits=${p.fitsBudget} recall mean=${p.meanRecall}%.2f min=${p.minRecall}%.2f"))
      println(s"[demo] recommendRung(1 GiB, floor 0.9) -> ${pick.map(_.rung).getOrElse("NONE")}")
      // the dir form (VERDICT r14 #8): plan where the artifacts live,
      // persist the evidence beside them, read it back like a console
      val idx = java.nio.file.Files.createTempDirectory("demo-rungplan").toString
      graft.store.VectorIndex.buildIvf(spark, emb, idx)
      val (dirPick, _) = graft.store.VectorIndex.recommendRung(spark, idx,
        memoryBudgetBytes = 1L << 30, recallFloor = 0.9)
      val persisted = graft.store.VectorIndex.loadRungPlan(spark, idx)
        .filter(col("recommended")).select("rung").collect().map(_.getString(0))
      println(s"[demo] recommendRung(dir) -> ${dirPick.map(_.rung).getOrElse("NONE")}; " +
        s"persisted rung_plan flags ${persisted.mkString(",")}")
    }

    val story = fullStory(spark, dir)
    println(s"[demo] full story: ${story.nLoaded} loaded -> ${story.nCurated} curated -> " +
      s"${story.nFacts} facts / ${story.nEntities} entities (integrity ${story.integrity})")
    println(s"[demo] full story: ANN top-3 ${story.annFactIds} == brute ${story.bruteFactIds}; " +
      s"hybrid rows ${story.hybridRows}; view payload ${story.viewJson.length} chars")
    println(s"[demo] full story: corpus pass rate ${story.passRate}, " +
      s"mean novelty ${story.meanNovelty}; 48h funnel ${story.funnel.toSeq.sorted.mkString(" ")}; " +
      s"top transition ${story.topTransition}")
    println(s"[demo] full story: takedown erased ${story.takedownFacts} facts, " +
      s"clean=${story.takedownClean}")
    println(s"[demo] index health before takedown: healthy=${story.healthBefore.healthy}; " +
      s"after: debt=${story.healthAfter.tombstoneDebt}, " +
      s"compact=${story.healthAfter.needsCompact}")
    spark.stop()
  }
}
