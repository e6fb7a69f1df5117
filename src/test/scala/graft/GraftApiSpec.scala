package graft

import org.apache.spark.sql.DataFrame

import graft.api.Graft
import graft.sources.Tables

/** End-to-end facade behaviors mirroring reference test_storage.py's
  * retrieval assertions. */
class GraftApiSpec extends SparkSpec {

  private lazy val api = new Graft(spark)
  private lazy val db = {
    val d = api.annotate(Tables.documents(spark, sf0001))
    d.facts.cache(); d.edges.cache(); d.factEmb.cache()
    d
  }

  test("annotate builds a consistent graph+vector store") {
    val (nF, nE, missing) = db.integrity
    assert(nF > 0 && nF == nE && missing == 0)
    assert(db.entities.count() > 0)
  }

  test("closestFacts returns k facts ordered by similarity") {
    val rows = api.closestFacts(db, "spark window join", k = 5).collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getAs[Double]("cos"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("hybrid retrieval only returns facts with the probe entity") {
    val rows = api.closestFactsWithEntities(db, "query", Seq("window"), union = true, k = 5)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[String]("fact_text").contains("window")))
  }

  test("graph-boosted retrieval: λ=1 degenerates to cosine, λ=0 to graph mass, default mixes exactly") {
    import org.apache.spark.sql.functions._
    val q = "spark window join"
    // λ = 1: pure cosine — must equal closestFacts' ids in order.
    val pure = api.closestFactsGraphRanked(db, q, Seq("window"), k = 5, lambda = 1.0, mu = 0.0)
      .collect().map(_.getAs[Long]("fact_id")).toSeq
    val cosOnly = api.closestFacts(db, q, k = 5)
      .collect().map(_.getAs[Long]("fact_id")).toSeq
    assert(pure == cosOnly, s"$pure vs $cosOnly")
    // λ = 0: pure graph mass — every returned fact must carry PPR
    // boost, ordered descending (the pool still gates membership).
    val graphOnly = api.closestFactsGraphRanked(db, q, Seq("window"), k = 5, lambda = 0.0, mu = 1.0)
      .collect()
    val boosts = graphOnly.map(_.getAs[Double]("boost"))
    assert(boosts.head > 0.0, "top graph-ranked fact must touch the seed's ball")
    assert(boosts.sameElements(boosts.sorted.reverse), boosts.toSeq.toString)
    // default λ: the emitted score is exactly the documented mix of
    // the emitted components, and ordering follows it.
    val mixed = api.closestFactsGraphRanked(db, q, Seq("window"), k = 5).collect()
    mixed.foreach { r =>
      // Spark's round() is HALF_UP over BigDecimal.valueOf (the
      // SHORTEST decimal repr of the double, not its exact binary
      // expansion — the st15 roundLikeSpark finding)
      val want = java.math.BigDecimal
        .valueOf(0.7 * r.getAs[Double]("cos") + 0.3 * r.getAs[Double]("boost"))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getAs[Double]("score") == want, s"$r")
    }
    val scores = mixed.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
    // the boost is live and DISCRIMINATES: on this dense corpus every
    // pooled fact touches the seed's ball (no zeros), but the spread
    // must be real — a constant shift would leave ordering == cosine
    val allBoosts = api.closestFactsGraphRanked(db, q, Seq("window"), k = 32)
      .collect().map(_.getAs[Double]("boost"))
    assert(allBoosts.max > 2 * allBoosts.min && allBoosts.distinct.length > 4,
      s"boost must discriminate within the pool: ${allBoosts.toSeq}")
  }

  test("intersection retrieval is a subset of union retrieval") {
    val u = api.factsByEntities(db, Seq("window", "stream"), union = true).count()
    val i = api.factsByEntities(db, Seq("window", "stream"), union = false).count()
    assert(i <= u && u > 0)
  }

  test("neighbours finds co-occurring entities") {
    val n = api.neighbours(db, "window").collect()
    assert(n.nonEmpty)
    assert(!n.map(_.getString(0)).contains("window"))
  }

  test("annotateDeduped drops NLI-entailed duplicate facts, keeps integrity") {
    val deduped = api.annotateDeduped(Tables.documents(spark, sf0001))
    val full = db.facts.count()
    val kept = deduped.facts.count()
    assert(kept < full, s"expected dedup to drop facts ($kept vs $full)")
    val (nF, nE, missing) = deduped.integrity
    assert(nF == kept && nE == kept && missing == 0)
    assert(deduped.edges.select("fact_id").distinct().count() <= kept)
  }

  test("dedup accumulates dropped facts' sources onto survivors") {
    val (deduped, sources) = api.annotateDedupedWithSources(
      Tables.documents(spark, sf0001))
    import org.apache.spark.sql.functions._
    // every original fact contributes exactly one source span
    assert(sources.count() == db.facts.count())
    // all source rows point at surviving facts
    assert(sources.join(deduped.facts.select("fact_id"), Seq("fact_id"), "left_anti")
      .count() == 0)
    // at least one survivor carries more than one source (a dup was merged)
    assert(sources.groupBy("fact_id").count().filter(col("count") > 1).count() > 0)
    // provenance: every span carries its ORIGINATING doc — the full
    // original (doc_id, start, end) span set is reproduced exactly
    // (survivor redirection changes fact_id, never the span fields)
    assert(sources.select("doc_id", "start", "end").except(
      db.facts.select("doc_id", "start", "end")).count() == 0)
    assert(db.facts.select("doc_id", "start", "end").except(
      sources.select("doc_id", "start", "end")).count() == 0)
  }

  test("facts carry context and confidence; entities carry description") {
    import org.apache.spark.sql.functions._
    assert(db.facts.columns.contains("context"))
    assert(db.facts.columns.contains("confidence"))
    // every fact has its doc's context and the reference's 1.0 confidence
    assert(db.facts.filter(col("context").isNull || col("confidence") =!= 1.0).count() == 0)
    assert(db.entities.columns.toSet == Set("entity", "description"))
  }

  test("entity resolution merges case/containment variants onto a canonical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Einstein developed general relativity theory principles"),
      (2L, "einstein published papers about photon physics"),
      (3L, "Quantum mechanics matured through decades of experiments"))
      .toDF("doc_id", "text")
    val resolved = api.annotateResolved(docs)
    val mapping = api.resolveEntities(api.annotate(docs).entities)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the case variants collapse to one canonical form...
    assert(mapping("einstein") == mapping("Einstein"))
    // ...and unrelated entities stay themselves
    assert(mapping("Quantum") == "Quantum")
    val ents = resolved.entities.select("entity").as[String].collect().toSet
    assert(ents.count(_.toLowerCase == "einstein") == 1)
    // every edge points at a canonical entity
    assert(resolved.edges.select("entity").distinct().count() == ents.size)
  }

  // ---------------------------------------------- probe-all parity table

  private val parityQuery = "spark window join"
  // user query ids DELIBERATELY collide with live fact ids — the batch
  // facades' surrogate-id contract: a collision must never trigger the
  // index's self-exclusion and silently drop that fact
  private val parityBatch = Seq(0L -> "spark window join", 2L -> "query", 1L -> "stream state")
  private val parityFilters = Seq((Seq("window"), true), (Seq("window"), false),
    (Seq("window", "spark"), false))

  /** The indexes the parity table serves from, built once, 8 cells
    * each: flat IVF (with cell bounds, for the adaptive rungs),
    * two-level IVF (byte-compatible artifact; no bounds) and IVFADC. */
  private lazy val parityIdx: Map[String, String] = {
    def dir(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    val idx = Map("ivf" -> dir("api_ivf"), "ivf2" -> dir("api_ivf2"), "adc" -> dir("api_adc"))
    api.buildFactIndex(db, idx("ivf"), nCells = 8)
    graft.store.VectorIndex.buildCellBounds(spark, idx("ivf"))
    api.buildFactIndex(db, idx("ivf2"), nCells = 8, twoLevel = true)
    api.buildFactIndexPq(db, idx("adc"), nCells = 8)
    idx
  }

  private def rowsOf(df: DataFrame, cols: Seq[String] = Seq("fact_id", "fact_text", "cos")) =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toSeq).toSeq

  /** A batch frame's (query_id, fact_id, fact_text, cos) rows in query
    * order, then rank. */
  private def perQuery(df: DataFrame): Seq[Seq[Any]] = {
    val byQuery = df.collect().groupBy(_.getAs[Long]("query_id"))
    parityBatch.flatMap { case (qid, _) =>
      byQuery.getOrElse(qid, Array.empty).sortBy(_.getAs[Int]("rk"))
        .map(r => Seq(qid, r.getAs[Long]("fact_id"), r.getAs[String]("fact_text"),
          r.getAs[Double]("cos")))
    }
  }

  /** One probe-all parity row: a facade call through `index` with
    * probes covering every cell, and the brute call it must equal. */
  private case class Parity(form: String, index: String, filter: Option[(Seq[String], Boolean)],
      served: () => Seq[Seq[Any]], brute: () => Seq[Seq[Any]])

  /** form × index × filter, through the folded signatures. */
  private lazy val parityTable: Seq[Parity] = {
    val q = parityQuery
    val ix = parityIdx
    val all2 = graft.store.VectorIndex.loadIvfCentroids(spark, ix("ivf2")).length
    val topK = Seq(
      Parity("top-k", "ivf", None,
        () => rowsOf(api.closestFactsIndexed(db, ix("ivf"), q, 5, 8)),
        () => rowsOf(api.closestFacts(db, q, 5))),
      Parity("top-k", "ivf2", None,
        () => rowsOf(api.closestFactsIndexed(db, ix("ivf2"), q, 5, all2)),
        () => rowsOf(api.closestFacts(db, q, 5))),
      Parity("top-k", "adaptive", None,
        () => rowsOf(api.closestFactsAdaptive(db, ix("ivf"), q, 5, initialProbe = 2)),
        () => rowsOf(api.closestFacts(db, q, 5))))
    val hybrid = for ((ents, union) <- parityFilters;
        index <- Seq("ivf", "ivf2", "adaptive", "adc")) yield {
      val n = api.factsByEntities(db, ents, union).count().toInt
      val k = math.min(3, n) // stay on the RANKED branch
      Parity("top-k", index, Some((ents, union)), () => rowsOf(index match {
        case "ivf" => api.closestFactsWithEntities(db, q, ents, union, k, Some(ix("ivf")), 8)
        case "ivf2" => api.closestFactsWithEntities(db, q, ents, union, k, Some(ix("ivf2")), all2)
        case "adaptive" =>
          api.closestFactsWithEntitiesAdaptive(db, ix("ivf"), q, ents, union, k, initialProbe = 2)
        case "adc" => api.closestFactsWithEntitiesIndexedAdc(db, ix("adc"), q, ents, union, k,
          nProbe = 8, rerank = n + 8)
      }), () => rowsOf(api.closestFactsWithEntities(db, q, ents, union, k)))
    }
    val mmrCols = Seq("rk", "fact_id", "fact_text", "rel", "mmr_score")
    val graphCols = Seq("fact_id", "fact_text", "cos", "boost", "score")
    val pools = for ((index, probes) <- Seq("ivf" -> 8, "ivf2" -> all2)) yield Seq(
      Parity("range", index, None,
        () => rowsOf(api.closestFactsRange(db, q, tau = 0.2, Some(ix(index)), probes)),
        () => rowsOf(api.closestFactsRange(db, q, tau = 0.2))),
      Parity("diverse", index, None,
        () => rowsOf(api.closestFactsDiverse(db, q, k = 4,
          indexDir = Some(ix(index)), nProbe = probes), mmrCols),
        () => rowsOf(api.closestFactsDiverse(db, q, k = 4), mmrCols)),
      Parity("graph-ranked", index, None,
        () => rowsOf(api.closestFactsGraphRanked(db, q, Seq("window"), k = 4,
          indexDir = Some(ix(index)), nProbe = probes), graphCols),
        () => rowsOf(api.closestFactsGraphRanked(db, q, Seq("window"), k = 4), graphCols)))
    val nFacts = db.facts.count().toInt
    val batch = for (f <- None +: parityFilters.map(Some(_));
        index <- Seq("ivf", "ivf2", "adc")) yield {
      val k = f.fold(5) { case (ents, union) =>
        math.min(3, api.factsByEntities(db, ents, union).count().toInt) }
      val all = Int.MaxValue
      Parity("batch", index, f, () => perQuery((index, f) match {
        case ("adc", None) =>
          api.closestFactsBatchAdc(db, ix("adc"), parityBatch, k, all, rerank = nFacts + 8)
        case ("adc", Some((ents, union))) => api.closestFactsWithEntitiesBatchAdc(db, ix("adc"),
          parityBatch, ents, union, k, all, rerank = nFacts + 8)
        case (_, None) => api.closestFactsBatch(db, ix(index), parityBatch, k, all, coarseProbe = all)
        case (_, Some((ents, union))) => api.closestFactsWithEntitiesBatch(db, ix(index),
          parityBatch, ents, union, k, all, coarseProbe = all)
      }), () => parityBatch.flatMap { case (qid, text) =>
        rowsOf(f.fold(api.closestFacts(db, text, k)) { case (ents, union) =>
          api.closestFactsWithEntities(db, text, ents, union, k) }).map(qid +: _)
      })
    }
    topK ++ hybrid ++ pools.flatten ++ batch
  }

  /** Runs the parity rows `pick` selects; each must be non-empty and
    * equal its brute form row for row. */
  private def assertParity(pick: Parity => Boolean): Unit = {
    val rows = parityTable.filter(pick)
    assert(rows.nonEmpty)
    rows.foreach { p =>
      val (served, brute) = (p.served(), p.brute())
      assert(served.nonEmpty && served == brute,
        s"${p.form} via ${p.index}, filter ${p.filter}: $served vs brute $brute")
    }
  }

  test("indexed retrieval: all-probe equals brute closestFacts; partial probe stays ranked") {
    assertParity(p => Set("top-k", "range")(p.form) && p.filter.isEmpty)
    // the RADIUS form's ball is the cosine superlevel set
    val ball = api.closestFactsRange(db, parityQuery, tau = 0.2).collect()
    assert(ball.nonEmpty && ball.forall(_.getAs[Double]("cos") >= 0.2))
    // partial probe: still k rows, ranked, carrying fact payloads
    val partial = api.closestFactsIndexed(db, parityIdx("ivf"), parityQuery, k = 5, nProbe = 2)
      .collect()
    assert(partial.length == 5)
    val scores = partial.map(_.getAs[Double]("cos"))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(partial.forall(r => r.getAs[String]("fact_text") != null))
    // the ADAPTIVE probe fails fast while the bounds artifact is absent
    intercept[IllegalStateException] {
      api.closestFactsAdaptive(db, parityIdx("ivf2"), parityQuery, k = 5).collect()
    }
  }

  test("batch retrieval facade: per-query rows equal brute closestFacts / brute hybrid exactly at all-probe (r17, VERDICT r16 #4)") {
    assertParity(p => p.form == "batch" && p.index != "adc")
    val idx = parityIdx("ivf")
    val qs = parityBatch
    // retrieveBatch: the reference's retrieval loop at batch shape —
    // each query's prompt must equal the per-query retrieve's prompt
    val (_, prompts) = api.retrieveBatch(db, idx, qs, k = 5, nProbe = 8)
    qs.foreach { case (qid, text) =>
      val (_, single) = api.retrieve(db, text, k = 5, Some(idx), nProbe = 8)
      assert(prompts(qid) == single,
        s"batched prompt must equal per-query retrieve's for '$text'")
    }
    // the k > candidates edge: every candidate returns UNRANKED for
    // EVERY query (the reference's storage.py:308-309 rule, batched)
    val nCand = api.factsByEntities(db, Seq("window"), union = true).count()
    val unranked = api.closestFactsWithEntitiesBatch(db, idx, qs,
      Seq("window"), union = true, k = nCand.toInt + 1).collect()
    assert(unranked.length == qs.size * nCand,
      s"unranked fallback must emit every candidate per query: ${unranked.length}")
    assert(unranked.forall(r => r.isNullAt(3) && r.isNullAt(4)),
      "unranked rows carry null cos and null rk")
  }

  test("compressed-rung batch hybrid == brute hybrid at probe-all + covering pool; answerBatch == per-query answer (r17)") {
    assertParity(p => p.form == "batch" && p.index == "adc")
    val qs = parityBatch
    // the k > candidates unranked edge is shared with the float form —
    // pin the branch fires at the compressed rung too
    val nCand = api.factsByEntities(db, Seq("window"), union = true).count()
    val unranked = api.closestFactsWithEntitiesBatchAdc(db, parityIdx("adc"), qs,
      Seq("window"), union = true, k = nCand.toInt + 1).collect()
    assert(unranked.length == qs.size * nCand &&
      unranked.forall(r => r.isNullAt(3) && r.isNullAt(4)),
      "compressed-rung unranked fallback must emit every candidate per query")
    // answerBatch: the QA loop's batch twin — prompt AND stub-LLM
    // answer equal the single-query answer's at matching dials
    val idx = parityIdx("ivf")
    val (_, answers) = api.answerBatch(db, idx, qs, k = 5, nProbe = 8)
    qs.foreach { case (qid, text) =>
      val (_, singlePrompt, singleAnswer) =
        api.answer(db, text, k = 5, Some(idx), nProbe = 8)
      assert(answers(qid)._1 == singlePrompt,
        s"batched QA prompt must equal per-query answer's for '$text'")
      assert(answers(qid)._2 == singleAnswer,
        s"batched QA answer must equal per-query answer's for '$text'")
    }
  }

  test("indexed hybrid facade: all-probe == brute hybrid exactly (both modes), fallback byte-shared, partial probe prunes") {
    assertParity(p => p.form == "top-k" && p.filter.nonEmpty)
    val idx = parityIdx("ivf")
    val q = parityQuery
    // small-k fallback: k > candidates returns ALL candidates
    // unranked through the shared unranked branch — identical rows,
    // vector side never touched
    val cnt = api.factsByEntities(db, Seq("window"), union = true).count().toInt
    val bruteAll = api.closestFactsWithEntities(db, q, Seq("window"),
      union = true, k = cnt + 100).collect().map(_.toSeq).toSeq
    val servedAll = api.closestFactsWithEntities(db, q, Seq("window"),
      union = true, k = cnt + 100, indexDir = Some(idx)).collect().map(_.toSeq).toSeq
    assert(servedAll == bruteAll && servedAll.length == cnt)
    assert(servedAll.forall(_(2) == null))
    // partial probe stays on the index's partition-pruned scan
    val part = api.closestFactsWithEntities(db, q, Seq("window"),
      union = true, k = 1, indexDir = Some(idx), nProbe = 2)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"facade hybrid probe must partition-prune:\n$plan")
  }

  test("indexed pool cuts: diverse and graph-ranked through the index == brute at all-probe; partial probe prunes") {
    assertParity(p => Set("diverse", "graph-ranked")(p.form))
    val idx = parityIdx("ivf")
    val q = parityQuery
    // the serving shape keeps the partition-pruned probe scan — pin
    // the sliver the facades pool from (mmrTopK materializes its
    // bounded pool eagerly, so the FINAL frame's plan starts at a
    // LocalTableScan; the scan to audit is the probedScan input)
    val qv = new graft.functions.HashEmbedder(64).embed(q).map(_.toDouble)
    val sliver = graft.store.VectorIndex.probedScan(spark, idx, qv, nProbe = 2)
    val plan = sliver.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"indexed pool cut must partition-prune:\n$plan")
    // and partial-probe calls still return k ranked rows
    assert(api.closestFactsDiverse(db, q, k = 2, indexDir = Some(idx), nProbe = 2).count() == 2)
  }

  test("batch facades reject a query_id used twice, naming it") {
    // two questions under one id would share one prompt listing both
    // questions' facts, and one of their answers would be dropped
    val idx = parityIdx("ivf")
    val dup = Seq(7L -> "spark window join", 8L -> "query", 7L -> "stream state")
    val calls = Seq[(String, () => Any)](
      "closestFactsBatch" -> (() => api.closestFactsBatch(db, idx, dup)),
      "closestFactsWithEntitiesBatch" ->
        (() => api.closestFactsWithEntitiesBatch(db, idx, dup, Seq("window"))),
      "retrieveBatch" -> (() => api.retrieveBatch(db, idx, dup)),
      "answerBatch" -> (() => api.answerBatch(db, idx, dup)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("query_id 7 "), s"$name: ${e.getMessage}")
    }
  }

  test("the facade's eager jobs carry graft.serve labels: candidates, pool, context") {
    val sc = spark.sparkContext
    val idx = parityIdx("ivf")
    val q = parityQuery
    sc.setJobDescription("caller.phase")
    try {
      // hybrid: the candidate count (brute) or collect (adaptive rung)
      val (_, count) = jobsOf(api.closestFactsWithEntities(db, q, Seq("window")))
      assert(count.nonEmpty && count.forall(_ == "graft.serve.candidates"), count)
      val (_, collect) = jobsOf(api.closestFactsWithEntitiesAdaptive(db, idx, q, Seq("window")))
      assert(collect.contains("graft.serve.candidates"), collect)
      // the MMR and graph-ranked pool collects
      val (_, mmr) = jobsOf(api.closestFactsDiverse(db, q, k = 3))
      assert(mmr.nonEmpty && mmr.forall(_ == "graft.serve.pool"), mmr)
      val (_, graph) = jobsOf(api.closestFactsGraphRanked(db, q, Seq("window"), k = 3))
      assert(graph.contains("graft.serve.pool"), graph)
      // the batch RAG loops' context collect
      val qs = parityBatch
      val (_, rb) = jobsOf(api.retrieveBatch(db, idx, qs, k = 3))
      assert(rb.contains("graft.serve.context"), rb)
      val (_, ab) = jobsOf(api.answerBatch(db, idx, qs, k = 3))
      assert(ab.contains("graft.serve.context"), ab)
      assert(sc.getLocalProperty("spark.job.description") == "caller.phase")
    } finally sc.setJobDescription(null)
  }

  test("structural candidates resolve a renamed entity that name-LSH misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A renamed entity: the two names share ONE token buried in
    // disjoint multi-token descriptions, so their stored-repr
    // embeddings sit far apart (cosine << 0.5) and name-LSH never
    // proposes the pair — but they hang off the SAME three facts, so
    // fact-Jaccard (J = 1.0) does. NLI then confirms ("albert
    // einstein" covers 100% of "einstein"'s content tokens).
    val entities = Seq(
      ("albert einstein", "relativity physics nobel laureate patent clerk"),
      ("einstein", "quantum photon papers brownian motion heuristics"),
      ("gravity", "universal attraction between masses curvature"))
      .toDF("entity", "description")
    val edges = Seq(
      (1L, "albert einstein"), (1L, "einstein"),
      (2L, "albert einstein"), (2L, "einstein"),
      (3L, "albert einstein"), (3L, "einstein"), (3L, "gravity"))
      .toDF("fact_id", "entity")
    // Baseline: LSH-only resolution leaves every entity its own
    // canonical (the planted miss is real, not vacuous).
    val lshOnly = api.resolveEntities(entities)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lshOnly("einstein") == "einstein" &&
      lshOnly("albert einstein") == "albert einstein",
      s"name-LSH alone must miss the renamed pair: $lshOnly")
    // With the structural source the pair resolves onto the
    // lexicographic-min canonical; the 1-shared-fact neighbour does
    // not (under MinSharedFacts — and NLI would reject it anyway).
    val both = api.resolveEntities(entities, Some(edges))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(both("einstein") == "albert einstein" &&
      both("albert einstein") == "albert einstein",
      s"fact-Jaccard + NLI must merge the renamed entity: $both")
    assert(both("gravity") == "gravity")
    // The same union strategy through the store-level entry point.
    val docs = Seq((1L, "alberta einsteinia alberta einsteinia theory"),
      (2L, "alberta einsteinia alberta einsteinia papers")).toDF("doc_id", "text")
    val resolved = api.annotateResolved(docs, structural = true)
    assert(resolved.edges.join(resolved.entities.select("entity"),
      Seq("entity"), "left_anti").count() == 0,
      "every rewritten edge points at a canonical entity")
  }

  test("hybrid retrieval with k > candidates returns ALL candidates unranked") {
    val candidates = api.factsByEntities(db, Seq("window"), union = true).count()
    val all = api.closestFactsWithEntities(db, "query", Seq("window"),
      union = true, k = candidates.toInt + 100).collect()
    assert(all.length == candidates)
    // the reference skips the vector lookup entirely: no ranking
    assert(all.forall(_.isNullAt(2)))
  }

  test("neighboursWithFacts returns the shared-fact id lists") {
    import org.apache.spark.sql.functions._
    val withFacts = api.neighboursWithFacts(db, "window")
      .select(col("entity"), size(col("fact_ids")).as("n"))
    val counts = api.neighbours(db, "window")
    val joined = withFacts.join(counts, "entity")
    assert(joined.count() > 0)
    assert(joined.filter(col("n") =!= col("n_shared_facts")).count() == 0)
  }

  test("retrieve returns a bounded RAG context") {
    val (top, prompt) = api.retrieve(db, "stream processing", k = 3)
    assert(top.count() == 3)
    assert(prompt.contains("Question: stream processing"))
    assert(prompt.linesIterator.count(_.startsWith("- ")) == 3)
  }

  test("retrieve/answer through the index: all-probe == brute prompt-for-prompt") {
    val idx = java.nio.file.Files.createTempDirectory("api_rag_ivf").toString
    api.buildFactIndex(db, idx, nCells = 8)
    val (bruteTop, brutePrompt) = api.retrieve(db, "stream processing", k = 3)
    val (idxTop, idxPrompt) = api.retrieve(db, "stream processing", k = 3,
      indexDir = Some(idx), nProbe = 8)
    assert(idxPrompt == brutePrompt, "RAG context must be identical at all-probe")
    assert(idxTop.collect().map(_.toSeq).toSeq == bruteTop.collect().map(_.toSeq).toSeq)
    val (_, bp, ba) = api.answer(db, "what joins windows", k = 3)
    val (_, ip, ia) = api.answer(db, "what joins windows", k = 3,
      indexDir = Some(idx), nProbe = 8)
    assert(ip == bp && ia == ba, "answer loop must be identical at all-probe")
  }

  test("reference test_storage.py hybrid scenario on a hand-built store") {
    import spark.implicits._
    import graft.functions.HashEmbedder
    val emb = new HashEmbedder(16)
    val facts = Seq(
      (1L, 0L, 0, "Paris is the capital of France", 0, 30),
      (2L, 1L, 0, "London is the capital of the UK", 0, 31))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((1L, "Paris"), (1L, "France"), (2L, "London"), (2L, "UK"))
      .toDF("fact_id", "entity")
    val entities = Seq(
      ("Paris", "Capital of France"), ("London", "Capital of the UK"),
      ("France", "Country in Europe"), ("UK", "Country in Europe"))
      .toDF("entity", "description")
    val factEmb = Seq(
      (1L, emb.embed("Paris is the capital of France")),
      (2L, emb.embed("London is the capital of the UK")))
      .toDF("fact_id", "embedding")
    val store = graft.store.HippoDb(facts, edges, entities, factEmb)
    // mirrors test_storage.py test_hybrid_retrieval_facts exactly:
    assert(api.closestFactsWithEntities(store, "Capital", Seq("Paris"), union = true, k = 2)
      .collect().map(_.getString(1)).toSeq == Seq("Paris is the capital of France"))
    assert(api.closestFactsWithEntities(store, "Capital", Seq("Paris", "London"), union = true, k = 2)
      .count() == 2)
    assert(api.closestFactsWithEntities(store, "Capital", Seq("Paris", "London"), union = false, k = 2)
      .count() == 0)
    assert(api.closestFactsWithEntities(store, "Capital", Seq("Paris", "France"), union = false, k = 2)
      .collect().map(_.getString(1)).toSeq == Seq("Paris is the capital of France"))
    // test_add_retrieve_entities: the closest entity to a related query
    assert(api.closestEntities(store, "Paris Capital of France", k = 1)
      .head().getString(0) == "Paris")
  }

  test("answer numbers the retrieved facts and invokes the LLM (question_prompt)") {
    val (top, prompt, response) = api.answer(db, "what is a window", k = 4)
    assert(top.count() == 4)
    assert(prompt.contains("what is a window"))
    (1 to 4).foreach(i => assert(prompt.contains(s"$i. "), s"fact $i not numbered"))
    assert(response.nonEmpty)
  }

  test("annotate(cfg) honors every split strategy; config round-trips via params") {
    import graft.api.AnnotatorConfig
    val docs = Tables.documents(spark, sf0001).limit(20).cache()
    val counts = Seq("naive", "paragraph", "recursive", "semantic").map { s =>
      val store = api.annotate(docs, AnnotatorConfig(splitStrategy = s, chunkSize = 120))
      val n = store.facts.count()
      assert(n > 0, s"strategy $s produced no facts")
      assert(store.factEmb.count() == n, s"strategy $s: emb/fact count mismatch")
      s -> n
    }.toMap
    // strategies genuinely differ on this corpus (no silent fallback)
    assert(counts.values.toSet.size > 1, s"all strategies identical: $counts")
    intercept[IllegalArgumentException](
      api.annotate(docs, AnnotatorConfig(splitStrategy = "nope")))
    // defaults mirror annotator.py:32-34; params round-trip
    val cfg = AnnotatorConfig()
    assert(cfg.splitStrategy == "recursive" && cfg.chunkSize == 1000 && cfg.ctxSize == 5000)
    assert(AnnotatorConfig.fromParams(cfg.asParams) == cfg)
    assert(AnnotatorConfig.fromParams(Map.empty) == cfg)
  }

  test("TemplateLlm enforces the Yes/No grammar and stop sequences (llm_backend.py surface)") {
    import graft.functions.{Grammars, TemplateLlm}
    val llm = new TemplateLlm
    assert(llm.handlesGrammars)
    val yn = llm.invoke("is this a duplicate?", grammar = Some(Grammars.YesNo))
    assert(yn == "Yes" || yn == "No")
    // deterministic per prompt
    assert(yn == llm.invoke("is this a duplicate?", grammar = Some(Grammars.YesNo)))
    assert(llm.invoke("a line. another line.", stop = Seq(" another")).startsWith("- a line."))
    assert(!llm.invoke("a line. another line.", stop = Seq(" another")).contains("another"))
  }

  test("entity extraction runs the entity_extraction prompt → parse_bullet_points(only_first) path") {
    import graft.functions.{Grammars, Prompts, TemplateLlm, TextHelpers}
    import org.apache.spark.sql.functions._
    val llm = new TemplateLlm
    // annotator.py:148-152: the ACTUAL extraction prompt; the stub
    // answers the fact's long words as bullets (deterministic).
    val ext = llm.invoke(Prompts.entityExtraction("alpha beta gamma-ray tiny of", "ctx"))
    assert(ext == "- alpha\n- gamma-ray")
    assert(TextHelpers.parseBulletPoints(ext, onlyFirstBullets = true)
      == List("alpha", "gamma-ray"))
    assert(llm.invoke(Prompts.entityExtraction("of a to", "ctx")) == "None")
    // The new_entities/entity_selection VARIANT (prompts.py:51/66 —
    // defined by the reference but unwired, mirrored as such): same
    // stub answer, selection = token membership under Yes/No grammar.
    val ans = llm.invoke(Prompts.newEntities("alpha beta gamma-ray tiny of", "ctx", Nil))
    assert(ans == "- alpha\n- gamma-ray")
    assert(TextHelpers.parseBulletPoints(ans) == List("alpha", "gamma-ray"))
    assert(llm.invoke(Prompts.newEntities("of a to", "ctx", Nil)) == "None")
    assert(TextHelpers.isYes(llm.invoke(
      Prompts.entitySelection("alpha beta", "alpha"), grammar = Some(Grammars.YesNo))))
    assert(!TextHelpers.isYes(llm.invoke(
      Prompts.entitySelection("alpha beta", "omega"), grammar = Some(Grammars.YesNo))))
    // Reformulation stage: the stub's rewrite is the identity (multi-
    // line facts included), so stored fact text is stable.
    assert(llm.invoke(Prompts.reformulation("alpha beta.", "ctx", "alpha beta.")) == "alpha beta.")
    assert(llm.invoke(Prompts.reformulation("line one\nline two", "ctx", "src")) == "line one\nline two")
    // Anchoring is defensive: a source text that CONTAINS the header
    // line (annotate passes the fact as the source text) must not
    // capture the decoy occurrence, and a header with no trailing
    // newline (empty fact) yields "" instead of garbage indices.
    assert(llm.invoke(Prompts.reformulation(
      "THE FACT.", "ctx",
      "Rewrite this fact as a single self-contained sentence:\nnested decoy")) == "THE FACT.")
    assert(llm.invoke(
      "Context: c\nSource text: s\nRewrite this fact as a single self-contained sentence:") == "")
    // Newline-containing facts tokenize on ANY whitespace (a bullet
    // list cannot round-trip a token with an embedded newline) —
    // both extraction variants agree.
    assert(llm.invoke(Prompts.newEntities("alpha one\nbeta gamma", "ctx", Nil))
      == "- alpha\n- gamma")
    assert(llm.invoke(Prompts.entityExtraction("alpha one\nbeta gamma", "ctx"))
      == "- alpha\n- gamma")
    // End to end: annotate's edge set through the prompt path equals
    // the documented long-word heuristic (what the stub encodes),
    // with whitespace tokenization.
    val heuristic = db.facts
      .select(col("fact_id"), explode(split(col("fact_text"), "\\s+")).as("entity"))
      .filter(length(col("entity")) >= 5)
      .distinct()
    assert(db.edges.exceptAll(heuristic).isEmpty && heuristic.exceptAll(db.edges).isEmpty)
  }

  test("closestFactsDiverse: MMR coverage where closestFacts returns near-copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // query embeds to e0; planted fact embeddings control the
    // geometry exactly (the v12 planted corpus at the facade level):
    // f1/f2 near-copies of the best match, f3 equally relevant but
    // diverse, f4 orthogonal, f5 anti-relevant
    val qEmb = new graft.functions.Embedder {
      def dim: Int = 64
      def embed(text: String): Array[Float] = {
        val v = Array.fill(64)(0.0f); v(0) = 1.0f; v
      }
    }
    def vec(parts: (Int, Float)*) = {
      val v = Array.fill(64)(0.0f); parts.foreach { case (i, x) => v(i) = x }; v
    }
    val facts = Seq((1L, 10L, "copy one"), (2L, 10L, "copy two"),
      (3L, 11L, "diverse"), (4L, 12L, "orthogonal"), (5L, 13L, "anti"))
      .toDF("fact_id", "doc_id", "fact_text")
    val fe = Seq(
      (1L, vec(0 -> 1f, 1 -> 1f)), (2L, vec(0 -> 1f, 1 -> 0.999f)),
      (3L, vec(0 -> 1f, 2 -> 1f)), (4L, vec(3 -> 1f)), (5L, vec(0 -> -1f)))
      .toDF("fact_id", "embedding")
    val db2 = graft.store.HippoDb(facts,
      Seq((1L, "alpha")).toDF("fact_id", "entity"),
      Seq(("alpha", "")).toDF("entity", "description"), fe)
    val g = new Graft(spark, embedder = qEmb)
    // plain top-2: both near-copies (f2's slightly smaller norm wins)
    val plain = g.closestFacts(db2, "q", k = 2).collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L), s"plain top-2: $plain")
    // diverse top-2: the second pick is the coverage fact, not the copy
    val div = g.closestFactsDiverse(db2, "q", k = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(div.toSeq == Seq((1, 2L, "copy two"), (2, 3L, "diverse")), div.mkString("; "))
    // full greedy order, and k past the pool emits what exists
    val all = g.closestFactsDiverse(db2, "q", k = 9).collect().map(_.getLong(1))
    assert(all.toSeq == Seq(2L, 3L, 1L, 4L, 5L), all.mkString(","))
  }

  test("resolveEntities cache hygiene: only the returned frame stays cached (r18, VERDICT r17 #6)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val entities = Seq(
      ("albert einstein", "father of relativity"),
      ("einstein", "the relativity physicist"),
      ("gravity", "a force")).toDF("entity", "description")
    val out = api.resolveEntities(entities)
    // the embedding cache inside the call must have been released;
    // the eagerly-materialized result is the ONE retained entry
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the returned frame itself is cached by contract")
    out.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "after releasing the returned frame no internal cache may remain")
  }
}
