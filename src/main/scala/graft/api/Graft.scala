package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.{Embedder, Grammars, HashEmbedder, LlmBackend, NliModel, HeuristicNli, Prompts, TemplateLlm, TextHelpers, VectorFunctions}
import graft.operators.{DedupQueries, GraphQueries, Splitters, VectorQueries}
import graft.store.HippoDb

/** User-facing facade — the complete hippollm surface, Spark-first.
  *
  * Reference mapping:
  *   annotate           ~ annotator.py:221 annotate() (batch, corpus-wide)
  *   annotateResolved   ~ + annotator.py:156 _find_equivalent_entity
  *   closestFacts       ~ storage.py:266 get_closest_facts
  *   closestEntities    ~ storage.py:255 get_closest_entities
  *   neighbours         ~ storage.py:213 get_neighbours
  *   factsByEntities    ~ storage.py:286/299 union/intersection
  *   closestFactsWith   ~ storage.py:325/332 hybrid retrieval
  *   retrieve           ~ retrieval.py query loop (top-k + context)
  *
  * The embedding/NLI/LLM models are injected traits (deterministic
  * stubs by default — no model runtimes in this container); every
  * query is a declarative Spark plan: query vectors broadcast, corpus
  * never collected, top-k via TakeOrderedAndProject. The one exception
  * is single-query indexed retrieval over an index that fits a heap
  * budget, probed from an in-JVM snapshot ([[closestFactsIndexed]]).
  */
final class Graft(
    spark: SparkSession,
    embedder: Embedder = new HashEmbedder(64),
    nli: NliModel = new HeuristicNli,
    llm: LlmBackend = new TemplateLlm) extends Serializable {

  import VectorFunctions._

  /** Batch annotation: documents(doc_id, text) → graph+vector store.
    * Facts come from the recursive splitter (annotator.py's chunk
    * loop); entities from the long-word heuristic (LLM stub);
    * near-identical facts are deduplicated by NLI entailment against
    * their exact-duplicate group (the batch analog of
    * annotator.py:126 _compare_fact).
    *
    * Reference parity carried on the schemas:
    *  - every doc gets a CONTEXT (annotator.py:228 contextualization
    *    prompt → first_sentence), computed partition-wise and joined
    *    onto its facts as a `context` column;
    *  - facts carry `confidence` (storage.py:237 sets 1.0 at
    *    add_fact);
    *  - entities carry `description` (storage.py:183 add_entity —
    *    the annotator inserts with an empty description). */
  def annotate(docs: DataFrame, chunkSize: Int = 100): HippoDb =
    // ctxSize 200 preserves this method's established contract (and
    // every oracle/spec hash built on it); the cfg overload defaults
    // to the reference's 1000/5000.
    annotate(docs, AnnotatorConfig(chunkSize = chunkSize, ctxSize = 200))

  /** get_splitter dispatch (splitters.py:122) with the uniform
    * (doc_id, chunk_idx, chunk, start, end) schema. */
  private def splitDf(docs: DataFrame, cfg: AnnotatorConfig): DataFrame =
    (cfg.splitStrategy match {
      case "naive" => Splitters.naive(docs, cfg.chunkSize)
      case "paragraph" => Splitters.paragraph(docs, "\n\n")
      case "recursive" => Splitters.recursiveDf(spark, docs, cfg.chunkSize)
      case "semantic" => Splitters.semanticDf(spark, docs, embedder)
      case s => throw new IllegalArgumentException(
        s"Unknown split strategy: $s (splitters.py:135)")
    }).select(col("doc_id").cast("long"), col("chunk_idx").cast("int"),
      col("chunk"), col("start").cast("long"), col("end").cast("long"))

  /** Config-driven annotate — AnnotatorConfig mirrors the reference's
    * annotator section (split_strategy/chunk_size/ctx_size —
    * annotator.py:32-34 and the configs yaml files). */
  def annotate(docs: DataFrame, cfg: AnnotatorConfig): HippoDb = {
    import spark.implicits._
    val emb = embedder
    val llmLocal = llm
    val ctxSize = cfg.ctxSize
    // Per-doc contextualization (annotator.py:228): prompt the LLM
    // with content[:min(ctx_size, len)], keep the first sentence.
    // Narrow map-side pass; re-attached to facts by a doc_id
    // equi-join (co-partitioned with the splitter output at scale).
    val ctx = docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val ans = llmLocal.invoke(
          Prompts.contextualization(t.take(math.min(ctxSize, t.length))))
        (id, TextHelpers.firstSentence(ans))
      })
      .toDF("doc_id", "context")
    val rawFacts = splitDf(docs, cfg)
      .select(
        // hash-derived: stable, collision-safe for ARBITRARY doc ids
        // (a doc_id*k+i scheme overflows for hash-derived doc ids)
        xxhash64(col("doc_id"), col("chunk_idx")).as("fact_id"),
        col("doc_id"), col("chunk_idx"),
        col("chunk").as("fact_text"), col("start"), col("end"))
      .join(ctx, "doc_id")
    // Reformulation (annotator.py's reformulation_prompt step: make
    // each fact self-contained before storing) — partition-wise LLM
    // pass, re-attached by the fact_id equi-join. The stub's rewrite
    // is the identity, so stored text is unchanged until a real
    // backend is injected; entity extraction below then runs on the
    // REFORMULATED text, as the reference does.
    val reformed = rawFacts
      .select(col("fact_id"), col("fact_text"), col("context"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, t, cx) =>
        (id, llmLocal.invoke(Prompts.reformulation(t, cx, t)))
      })
      .toDF("fact_id", "reformulated")
    // cache(): facts feed edges, factEmb AND the caller's actions
    // (HippoDb.save is four writes) — without it every action re-runs
    // the contextualization + reformulation LLM passes, and the
    // rawFacts⋈reformed join evaluates the splitter subtree twice.
    // Identity-stub cost hides that; a real backend would pay 4-8×.
    // (Same precedent as HippoDb.build's facts.cache().)
    val facts = rawFacts
      .join(reformed, "fact_id")
      .drop("fact_text")
      .withColumnRenamed("reformulated", "fact_text")
      .select(col("fact_id"), col("doc_id"), col("chunk_idx"),
        col("fact_text"), col("start"), col("end"), col("context"))
      .withColumn("confidence", lit(1.0))
      .cache()
    // Entity extraction matches the reference's ACTUAL pipeline
    // (annotator.py:148-152 _extract_entities): entity_extraction
    // prompt → LLM → parse_bullet_points(only_first_bullets=True),
    // NO selection filter — the new_entities/entity_selection
    // prompts (prompts.py:51/66) are a variant the reference defines
    // but never wires up, and we mirror that exactly (builders +
    // stub branches exist, spec-tested, unwired here). One
    // partition-wise pass over the facts, no shuffle; the
    // TemplateLlm stub answers the fact's long words, so the
    // resulting entity set is the documented deterministic heuristic
    // — swap a real backend in and the same plan runs real
    // extraction.
    val edges = facts
      .select(col("fact_id"), col("fact_text"), col("context"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, t, cx) =>
        TextHelpers.parseBulletPoints(
          llmLocal.invoke(Prompts.entityExtraction(t, cx)),
          onlyFirstBullets = true)
          .map(e => (id, e))
      })
      .toDF("fact_id", "entity")
      .distinct()
    val entities = edges.select("entity").distinct()
      .withColumn("description", lit(""))
    val factEmb = facts.select(col("fact_id"), col("fact_text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, emb.embed(t)) })
      .toDF("fact_id", "embedding")
    HippoDb(facts, edges, entities, factEmb)
  }

  /** annotate + NLI dedup-on-ingest (batch analog of annotator.py:126
    * _compare_fact): facts are blocked by a text prefix, and within a
    * block a fact entailed by an earlier-id fact is dropped (its
    * sources would merge onto the survivor in the reference). The NLI
    * call runs inside flatMapGroups — distributed, per-block. */
  def annotateDeduped(docs: DataFrame, chunkSize: Int = 100): HippoDb =
    annotateDedupedWithSources(docs, chunkSize)._1

  /** Like annotateDeduped, but also returns the SOURCES table with
    * the FULL storage.py:32-59 Source fields —
    * (fact_id, doc_id, name, description, url, date, start, end):
    * every original fact — including the dropped duplicates —
    * contributes one source span, attached to its surviving fact
    * (storage.py:250 add_fact_source). Source fields mirror
    * Source.from_document (storage.py:46): name/url from the doc's
    * `source` column when present, description = the doc context,
    * date = null (the reference also sets None). `doc_id` is the
    * ORIGINATING document of the span (the dropped duplicate's doc,
    * not the survivor's) — the provenance column that lets
    * HippoDb.deleteDocuments erase a deleted document's spans even
    * when dedup accumulated them onto a surviving fact from another
    * document (the reference keeps the same link as Source objects
    * inside the doc-derived fact, storage.py:46-59). */
  def annotateDedupedWithSources(
      docs: DataFrame, chunkSize: Int = 100): (HippoDb, DataFrame) = {
    import spark.implicits._
    val full = annotate(docs, chunkSize)
    val nliLocal = nli
    val maxSurvivors = Graft.MaxBlockSurvivors
    // (survivor_id, original_id): identity rows for survivors, and a
    // redirect row for every dropped duplicate. Survivor candidates
    // per block are CAPPED: a block whose prefix is common boilerplate
    // would otherwise do |block|² NLI calls on one task (the skew the
    // reference avoids implicitly by comparing only its top-5 vector
    // hits); past the cap, facts survive uncompared — bounded work,
    // conservative (never merges wrongly, may miss tail dups).
    val mapping = full.facts
      .select(col("fact_id"), col("fact_text"),
        substring(col("fact_text"), 1, 40).as("blk"))
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val sorted = it.toSeq.sortBy(_._1)
        val survivors = scala.collection.mutable.ListBuffer.empty[(Long, String)]
        val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        sorted.foreach { case (id, text, _) =>
          survivors.find { case (_, s) => nliLocal.entails(s, text) } match {
            case Some((sid, _)) => out += ((sid, id))
            case None =>
              if (survivors.size < maxSurvivors) survivors += ((id, text))
              out += ((id, id))
          }
        }
        out.iterator
      }
      .toDF("survivor_id", "original_id")
    val kept = mapping.filter(col("survivor_id") === col("original_id"))
      .select(col("survivor_id").as("fact_id"))
    val docMeta =
      if (docs.columns.contains("source"))
        docs.select(col("doc_id"), col("source").as("name"),
          col("source").as("url"))
      else docs.select(col("doc_id"), lit(null).cast("string").as("name"),
        lit(null).cast("string").as("url"))
    val sources = mapping
      .join(full.facts.select(col("fact_id").as("original_id"), col("doc_id"),
        col("context").as("description"), col("start"), col("end")), "original_id")
      .join(docMeta, "doc_id")
      .select(col("survivor_id").as("fact_id"), col("doc_id"), col("name"),
        col("description"), col("url"),
        lit(null).cast("timestamp").as("date"),
        col("start"), col("end"))
    val db = HippoDb(
      facts = full.facts.join(kept, Seq("fact_id"), "left_semi"),
      edges = full.edges.join(kept, Seq("fact_id"), "left_semi"),
      entities = full.edges.join(kept, Seq("fact_id"), "left_semi")
        .select("entity").distinct().withColumn("description", lit("")),
      factEmb = full.factEmb.join(kept, Seq("fact_id"), "left_semi"),
      sources = Some(sources))
    (db, sources)
  }

  /** Distributed entity resolution — annotator.py:156-182
    * _find_equivalent_entity re-expressed as one batch pass instead
    * of a per-fact loop:
    *
    *  1. embed each distinct entity (its STORED repr, the
    *     unconditional "name (description)" text — storage.py:191 —
    *     lowercased so the stub hash-embedder sees case variants as
    *     identical tokens, the role the real sentence embedder
    *     plays);
    *  2. candidate pairs via multi-table LSH cell-blocking over those
    *     embeddings (equi-join on (table, bucket) — NEVER the n²
    *     cross product; the get_closest_entities(k=10) analog);
    *  3. confirm candidates with the NLI entailment stub in either
    *     direction (entailment_classify + the yes/no equivalence
    *     prompt of the reference, collapsed into the injected stub);
    *  4. canonicalize: min-label propagation over the equivalence
    *     graph ITERATED TO FIXPOINT (each round one join + one keyed
    *     agg; O(component diameter) rounds, 32-round runaway guard);
    *  5. rewrite edges onto canonical entities.
    *
    * Returns (entity, canonical) — identity rows included.
    *
    * `structuralEdges`: optionally a (fact_id, entity) adjacency —
    * when given, FACT-JACCARD similarity (the h14 kernel,
    * GraphQueries.entityJaccardPairs) proposes candidates ALONGSIDE
    * name-LSH. The two signals are complementary: LSH sees token
    * overlap in stored reprs but is blind to a renamed entity
    * ("einstein" vs "albert einstein" with disjoint descriptions),
    * while fact-Jaccard sees that both names hang off the same facts
    * regardless of wording. Candidates from either source still pass
    * the same NLI confirmation gate, so the union can only improve
    * recall, never precision. Scale shape unchanged: the Jaccard
    * kernel is fact_id-keyed (bounded per-key fan-out, linear in
    * facts) and its dial-filtered pairs are few. */
  def resolveEntities(entities: DataFrame,
      structuralEdges: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val emb = embedder
    val nliLocal = nli
    val hasDesc = entities.columns.contains("description")
    val named = (
      if (hasDesc) entities.select(col("entity"), col("description"))
      else entities.select(col("entity"), lit("").as("description"))
    ).as[(String, String)]
    // Lowercased STORED repr (the unconditional "name (description)"
    // text add_entity embeds — storage.py:191): the stub
    // hash-embedder only sees exact token matches, so case variants
    // must normalize BEFORE embedding — the role a real sentence
    // embedder's robustness plays. (closestEntities embeds the raw
    // stored repr, un-lowercased, exactly as the reference stores it.)
    val entEmb = named
      .mapPartitions(_.map { case (e, d) =>
        (e, emb.embed(Graft.entityStoredRepr(e, d).toLowerCase).map(_.toDouble))
      })
      .toDF("entity", "v")
      .cache()
    val planes = VectorQueries.lshPlanes(
      VectorQueries.LshTables * VectorQueries.LshBits, embedder.dim, seed = 42L)
    // Narrow (entity, cell) rows block the self-join; vector payloads
    // re-attach afterwards via the candidate-pair join (same shape as
    // d06 — nothing O(|entities|) broadcasts, AQE picks the build
    // side).
    val cells = entEmb.select(col("entity"),
      explode(VectorQueries.cellStructs(
        planes, VectorQueries.LshTables, VectorQueries.LshBits)(col("v"))).as("cell"))
    val cand = cells.as("l").join(cells.as("r"),
        col("l.cell") === col("r.cell") && col("l.entity") < col("r.entity"))
      .select(col("l.entity").as("a"), col("r.entity").as("b"))
      .join(entEmb.select(col("entity").as("a"), col("v").as("va")), "a")
      .join(entEmb.select(col("entity").as("b"), col("v").as("vb")), "b")
      .select(col("a"), col("b"), cosineNative6(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.5)
      .select("a", "b")
      .distinct()
    // Structural candidates: fact-set Jaccard pairs over the supplied
    // adjacency, unioned with the LSH pairs (both emit a < b).
    val allCand = structuralEdges.fold(cand) { ed =>
      val structural = GraphQueries.entityJaccardPairs(
          ed.select(col("fact_id"), col("entity")).distinct())
        .select("a", "b")
      cand.unionAll(structural).distinct()
    }
    // NLI confirmation (the stub stands in for NLI classify + LLM
    // equivalence): either direction suffices, as the reference takes
    // the first yes among top matches.
    val confirmed = allCand.as[(String, String)]
      .filter { case (a, b) =>
        nliLocal.entails(a.toLowerCase, b.toLowerCase) ||
          nliLocal.entails(b.toLowerCase, a.toLowerCase)
      }
      .toDF("a", "b")
    // Canonicalize: connected components over the confirmed
    // equivalence pairs — the ONE shared fixpoint implementation
    // (DedupQueries.connectedComponents: min-label propagation with
    // pointer jumping and per-round localCheckpoint lineage cuts;
    // least/min order strings lexicographically, so canonical = the
    // component's lexicographic min). Entities in no confirmed pair
    // are their own canonical (left join + coalesce).
    val comp = DedupQueries.connectedComponents(confirmed)
      .withColumnsRenamed(Map("id" -> "entity", "comp" -> "canon"))
    val out = entEmb.select(col("entity"))
      .join(comp, Seq("entity"), "left")
      .select(col("entity"), coalesce(col("canon"), col("entity")).as("canonical"))
      .cache()
    out.count() // materialize before releasing the embedding cache
    entEmb.unpersist()
    out
  }

  /** annotate + entity resolution applied: edges rewritten onto
    * canonical entities, the entity dim collapsed to canonicals.
    * `structural = true` additionally feeds the store's own adjacency
    * to the fact-Jaccard candidate source. */
  def annotateResolved(docs: DataFrame, chunkSize: Int = 100,
      structural: Boolean = false): HippoDb = {
    val full = annotate(docs, chunkSize)
    val mapping = resolveEntities(full.entities,
      if (structural) Some(full.edges) else None)
    val edges = full.edges
      .join(mapping, "entity")
      .select(col("fact_id"), col("canonical").as("entity"))
      .distinct()
    val entities = edges.select("entity").distinct()
      .withColumn("description", lit(""))
    full.copy(edges = edges, entities = entities)
  }

  private def queryVec(text: String) =
    array(embedder.embed(text).map(x => lit(x.toDouble)): _*)

  /** Build the persisted IVF serving index over a store's fact
    * embeddings (store.VectorIndex layout: cell-partitioned vectors
    * + centroid rows). Build once per corpus version; queries then
    * pay a partition-pruned scan instead of the full-corpus cosine
    * pass [[closestFacts]] makes. */
  def buildFactIndex(db: HippoDb, indexDir: String,
      nCells: Int = VectorQueries.IvfCells,
      twoLevel: Boolean = false): Unit = {
    val e = db.factEmb.select(col("fact_id").as("vec_id"),
      VectorFunctions.toDouble(col("embedding")).as("v"))
    // twoLevel: the 10⁹-fact build path — k1 + k2 ≈ 2√nCells
    // assignment distances per vector instead of nCells; the artifact
    // (and thus every serving path below) is byte-compatible.
    if (twoLevel)
      graft.store.VectorIndex.buildIvfTwoLevel(spark, e, indexDir, nCells = nCells)
    else
      graft.store.VectorIndex.buildIvf(spark, e, indexDir, nCells = nCells)
  }

  /** The COMPRESSED serving index (IVFADC) over the fact embeddings —
    * the rung for stores whose probed cells' float vectors are
    * themselves too many bytes (10⁹+ facts): residual PQ codes
    * partitioned by coarse cell, ~M bytes/vector streamed per probe. */
  def buildFactIndexPq(db: HippoDb, indexDir: String,
      nCells: Int = graft.operators.IvfPq.Cells): Unit =
    graft.store.VectorIndex.buildIvfPq(spark,
      db.factEmb.select(col("fact_id").as("vec_id"),
        VectorFunctions.toDouble(col("embedding")).as("v")),
      indexDir, nCells = nCells)

  /** Top-k facts via the PERSISTED index — the serving-path twin of
    * [[closestFacts]]: the query embeds driver-side, probe cells are
    * chosen against the centroids, and only the probed cells are
    * scored. With nProbe = nCells the ranking equals [[closestFacts]]
    * exactly (same rounding, same tiebreak — DemoSpec pins it); fewer
    * probes trade recall for reading ~nProbe/nCells of the index.
    *
    * An index with a version marker that fits the heap budget is
    * probed in this JVM from its [[graft.store.IvfSnapshot]], reopened
    * whenever the marker changes; the call then runs one Spark job
    * (`graft.serve.lookup`), which fetches the hits' facts, and
    * returns them as a local frame. Any other index runs the
    * `cluster IN (...)` partition-pruned Spark plan. Both give the
    * same rows, schema and order. */
  def closestFactsIndexed(db: HippoDb, indexDir: String, query: String,
      k: Int = 5, nProbe: Int = VectorQueries.IvfProbe): DataFrame = {
    val q = embedder.embed(query).map(_.toDouble)
    snapshots(spark, indexDir).flatMap(_.topK(q, k, nProbe)) match {
      case Some(hits) => factsOf(db, hits)
      case None =>
        graft.store.VectorIndex.annIvf(spark, indexDir, q, k, nProbe, excludeVecId = None)
          .withColumnRenamed("vec_id", "fact_id")
          .join(db.facts, "fact_id")
          .orderBy(col("cos").desc, col("fact_id"))
    }
  }

  /** The index snapshots this instance serves single queries from —
    * its only state besides the models (IvfSnapshots). */
  @transient private[graft] lazy val snapshots = new graft.store.IvfSnapshots

  /** `(fact_id, cos)` hits joined to their facts in one job over
    * `db.facts` pre-filtered to the hit ids, as the Spark plan would:
    * facts missing from `db` drop out, columns are fact_id, cos, then
    * the facts' own, ordered by cos descending then fact_id. */
  private def factsOf(db: HippoDb, hits: Seq[(Long, Double)]): DataFrame = {
    val cosOf = hits.groupMap(_._1)(_._2)
    val fields = db.facts.schema.fields
    val idAt = fields.indexWhere(_.name == "fact_id")
    val found =
      if (cosOf.isEmpty) Array.empty[Row]
      else graft.plans.Phase(spark, "graft.serve.lookup") {
        db.facts.filter(org.apache.spark.sql.graft.InSetColumn(col("fact_id"), cosOf.keys))
          .collect()
      }
    val rows = for {
      f <- found.toSeq
      id = f.getLong(idAt)
      c <- cosOf(id)
    } yield (id, c, f.toSeq.patch(idAt, Nil, 1))
    val sorted = rows.sortWith((a, b) =>
      graft.store.IvfSnapshot.ranksBefore(a._2, a._1, b._2, b._1))
    spark.createDataFrame(
      java.util.Arrays.asList(sorted.map { case (id, c, rest) => Row.fromSeq(id +: c +: rest) }: _*),
      StructType(StructField("fact_id", LongType) +: StructField("cos", DoubleType) +:
        fields.patch(idAt, Nil, 1)))
  }

  /** [[closestFactsIndexed]] through the ADAPTIVE probe
    * (VectorIndex.annIvfAdaptive): probes the nearest cells, then
    * only the cells whose per-cell cosine bound could still change
    * the top-k — the rows EQUAL the all-cells probe exactly at a
    * fraction of the partitions scanned. Requires
    * VectorIndex.buildCellBounds for the current index version
    * (appends invalidate the bounds; the call fails fast rather than
    * pruning unsoundly). */
  def closestFactsAdaptive(db: HippoDb, indexDir: String, query: String,
      k: Int = 5, initialProbe: Int = VectorQueries.IvfProbe): DataFrame =
    graft.store.VectorIndex.annIvfAdaptive(spark, indexDir,
        embedder.embed(query).map(_.toDouble), k, initialProbe).result
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts, "fact_id")
      .orderBy(col("cos").desc, col("fact_id"))

  /** Top-k facts by cosine to a natural-language query. */
  def closestFacts(db: HippoDb, query: String, k: Int = 5): DataFrame =
    db.factEmb
      .select(col("fact_id"), cosine6(toDouble(col("embedding")), queryVec(query)).as("cos"))
      .orderBy(col("cos").desc, col("fact_id"))
      .limit(k)
      .join(db.facts, "fact_id")
      .select("fact_id", "fact_text", "cos")
      .orderBy(col("cos").desc, col("fact_id"))

  /** ALL facts inside the cosine ball — the RADIUS form of
    * [[closestFacts]] (v11's semantics on the store: dedup sweeps,
    * compliance pulls, "everything sufficiently similar"; output
    * size is data-dependent, no k). */
  def closestFactsRange(db: HippoDb, query: String, tau: Double): DataFrame =
    db.factEmb
      .select(col("fact_id"), cosine6(toDouble(col("embedding")), queryVec(query)).as("cos"))
      .filter(col("cos") >= tau)
      .join(db.facts, "fact_id")
      .select("fact_id", "fact_text", "cos")
      .orderBy(col("cos").desc, col("fact_id"))

  /** The radius form through the PERSISTED index — VectorIndex
    * .rangeSearch over the partition-pruned probe; at nProbe =
    * nCells equals [[closestFactsRange]] exactly (spec-pinned),
    * fewer probes trade far-ball recall for scan bytes. */
  def closestFactsRangeIndexed(db: HippoDb, indexDir: String, query: String,
      tau: Double, nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    graft.store.VectorIndex.rangeSearch(spark, indexDir,
        embedder.embed(query).map(_.toDouble), tau, nProbe)
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts, "fact_id")
      .select("fact_id", "fact_text", "cos")
      .orderBy(col("cos").desc, col("fact_id"))

  /** Top-k facts by MAXIMAL MARGINAL RELEVANCE — [[closestFacts]]
    * with v12's diversification: a store grown by annotate-with-dedup
    * still holds near-paraphrase facts, and a RAG context window
    * wants coverage, not five copies of the strongest match. The
    * pool cut is the same distributed scan shape as closestFacts;
    * the greedy re-rank runs on the bounded pool via the SHARED
    * VectorQueries.mmrTopK kernel (entry and facade cannot drift). */
  def closestFactsDiverse(db: HippoDb, query: String, k: Int = 5,
      pool: Int = VectorQueries.MmrPool): DataFrame =
    mmrTail(db,
      db.factEmb.select(col("fact_id").as("vec_id"),
        toDouble(col("embedding")).as("v"), queryVec(query).as("qv")),
      pool, k)

  /** [[closestFactsDiverse]] with the POOL CUT through the persisted
    * index: the MMR pool's relevance scan runs over the
    * partition-pruned IVF probe sliver (VectorIndex.probedScan)
    * instead of the full corpus — at nProbe == nCells the sliver IS
    * the corpus, so the result equals the brute form exactly
    * (GraftApiSpec pins it). The greedy re-rank is the same shared
    * mmrTopK kernel. */
  def closestFactsDiverseIndexed(db: HippoDb, indexDir: String,
      query: String, k: Int = 5, pool: Int = VectorQueries.MmrPool,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    mmrTail(db,
      graft.store.VectorIndex
        .probedScan(spark, indexDir, embedder.embed(query).map(_.toDouble), nProbe)
        .select(col("vec_id"), col("v"), queryVec(query).as("qv")),
      pool, k)

  /** MMR pool + greedy re-rank + fact payload join — shared by the
    * scan-pooled and index-pooled diverse forms. */
  private def mmrTail(db: HippoDb, e: DataFrame, pool: Int, k: Int): DataFrame =
    VectorQueries.mmrTopK(spark, e, pool, k)
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts.select("fact_id", "fact_text"), "fact_id")
      .select("rk", "fact_id", "fact_text", "rel", "mmr_score")
      .orderBy("rk")

  /** GRAPH-BOOSTED retrieval: [[closestFacts]]'s cosine pool
    * re-ranked by personalized-PageRank mass flowing from the given
    * probe entities (the h19 kernel on the store's OWN edge table —
    * shared, so facade and entry cannot drift). A fact whose
    * entities sit graph-close to the query's entities outranks an
    * equally-similar but graph-distant one — the GraphRAG
    * re-ranking step between vector recall and prompt assembly,
    * and the natural composition of this store's two halves.
    * score = λ·cos + μ·Σ ppr(fact's entities), λ and μ both LITERAL
    * parameters (the v12 convention: `1.0 − 0.7` is
    * 0.30000000000000004, a DIFFERENT double than 0.3 — computing μ
    * would shift round-6 boundaries against any mirror). The PPR
    * runs once per query over the edge relation; the boost
    * aggregation touches only the bounded pool's edges — the edge
    * table is semi-joined against the broadcast pool ids BEFORE the
    * groupBy, so the agg is pool-sized, not corpus-edge-sized
    * (ADVICE r9). */
  def closestFactsGraphRanked(db: HippoDb, query: String,
      probeEntities: Seq[String], k: Int = 5, pool: Int = 32,
      lambda: Double = 0.7, mu: Double = 0.3): DataFrame =
    graphRankedTail(db,
      db.factEmb
        .select(col("fact_id"), cosine6(toDouble(col("embedding")), queryVec(query)).as("cos"))
        .orderBy(col("cos").desc, col("fact_id"))
        .limit(pool),
      probeEntities, k, lambda, mu)

  /** [[closestFactsGraphRanked]] with the POOL CUT through the
    * persisted index: the cosine pool comes from the partition-pruned
    * IVF probe (VectorIndex.annIvf) instead of the full-corpus scan —
    * at nProbe == nCells the pool, and therefore the whole ranking,
    * equals the brute form exactly (GraftApiSpec pins it). The PPR
    * boost tail is byte-shared. */
  def closestFactsGraphRankedIndexed(db: HippoDb, indexDir: String,
      query: String, probeEntities: Seq[String], k: Int = 5,
      pool: Int = 32, lambda: Double = 0.7, mu: Double = 0.3,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    graphRankedTail(db,
      graft.store.VectorIndex.annIvf(spark, indexDir,
          embedder.embed(query).map(_.toDouble), pool, nProbe,
          excludeVecId = None)
        .withColumnRenamed("vec_id", "fact_id"),
      probeEntities, k, lambda, mu)

  /** The PPR-boosted re-rank over a bounded cosine pool — shared by
    * the scan-pooled and index-pooled graph-ranked forms so the two
    * cannot drift. */
  private def graphRankedTail(db: HippoDb, cand0: DataFrame,
      probeEntities: Seq[String], k: Int,
      lambda: Double, mu: Double): DataFrame = {
    // `pool` rows is human-scale: materialize on the driver (the
    // annPq contract) so the corpus cosine scan runs ONCE even
    // though the pool feeds both the semi-join and the final score.
    val cand = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(cand0.collect(): _*)),
      cand0.schema)
    val ppr = graft.operators.GraphQueries
      .personalizedRankOn(spark, db.edges, probeEntities, release = true)
      .withColumnRenamed("rank", "ppr")
    val boost = db.edges
      .join(broadcast(cand.select("fact_id")), Seq("fact_id"), "left_semi")
      .join(ppr, "entity")
      .groupBy("fact_id").agg(sum("ppr").as("boost"))
    cand.join(boost, Seq("fact_id"), "left")
      .withColumn("boost", round(coalesce(col("boost"), lit(0.0)), 6))
      .withColumn("score",
        round(lit(lambda) * col("cos") + lit(mu) * col("boost"), 6))
      .orderBy(col("score").desc, col("fact_id"))
      .limit(k)
      .join(db.facts.select("fact_id", "fact_text"), "fact_id")
      .select("fact_id", "fact_text", "cos", "boost", "score")
      .orderBy(col("score").desc, col("fact_id"))
  }

  /** Top-k entities by cosine of their STORED-repr embedding — the
    * unconditional "name (description)" text add_entity writes to
    * the vector collection (storage.py:191), "name ()" when the
    * description is empty. */
  def closestEntities(db: HippoDb, query: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = embedder
    val hasDesc = db.entities.columns.contains("description")
    val named = (
      if (hasDesc) db.entities.select(col("entity"), col("description"))
      else db.entities.select(col("entity"), lit("").as("description"))
    ).as[(String, String)]
    val entEmb = named
      .mapPartitions(_.map { case (e, d) => (e, emb.embed(Graft.entityStoredRepr(e, d))) })
      .toDF("entity", "embedding")
    entEmb.select(col("entity"), cosine6(toDouble(col("embedding")), queryVec(query)).as("cos"))
      .orderBy(col("cos").desc, col("entity"))
      .limit(k)
  }

  /** Entities sharing a fact with `entity`, with shared-fact counts. */
  def neighbours(db: HippoDb, entity: String): DataFrame = {
    val probe = db.edges.filter(col("entity") === entity).select(col("fact_id").as("pf"))
    db.edges.join(broadcast(probe), col("fact_id") === col("pf"))
      .filter(col("entity") =!= entity)
      .groupBy("entity").agg(countDistinct("fact_id").as("n_shared_facts"))
  }

  /** get_neighbours(return_facts=True) (storage.py:213-224): each
    * neighbour with the SORTED LIST of shared fact ids, not just the
    * count. collect_list stays bounded by the neighbour's true fact
    * fan-in (the same payload the reference materializes). */
  def neighboursWithFacts(db: HippoDb, entity: String): DataFrame = {
    val probe = db.edges.filter(col("entity") === entity).select(col("fact_id").as("pf"))
    db.edges.join(broadcast(probe), col("fact_id") === col("pf"))
      .filter(col("entity") =!= entity)
      .groupBy("entity")
      .agg(sort_array(collect_set("fact_id")).as("fact_ids"))
  }

  /** Facts involving ANY (union=true) or ALL of the given entities. */
  def factsByEntities(db: HippoDb, entities: Seq[String], union: Boolean = true): DataFrame = {
    val m = db.edges.filter(col("entity").isin(entities: _*))
    val ids =
      if (union) m.select("fact_id").distinct()
      else m.groupBy("fact_id").agg(countDistinct("entity").as("n"))
        .filter(col("n") === entities.size).select("fact_id")
    db.facts.join(ids, Seq("fact_id"), "left_semi")
  }

  /** Hybrid retrieval: top-k by cosine among facts passing the
    * entity filter (graph semi-join first, then vector scoring).
    *
    * Edge semantics mirrored from storage.py:308-309: when k exceeds
    * the candidate count, ALL candidate facts return UNRANKED (cos
    * null, ordered by fact_id) — the reference skips the vector
    * lookup entirely in that case. The candidate count is one scalar
    * action over the semi-joined id set (bounded, never the corpus). */
  def closestFactsWithEntities(
      db: HippoDb, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5): DataFrame = {
    // The id set feeds both the count() branch decision and the
    // chosen branch's semi-join, so the entity-filter subtree runs
    // twice per call — DELIBERATE: it is a cheap probe-filtered edges
    // aggregation, and caching it here would leak one pinned
    // DataFrame per call with no unpersist path the caller could
    // reach.
    val filtered = factsByEntities(db, entities, union).select("fact_id")
    if (k > filtered.count()) {
      hybridUnranked(db, filtered)
    } else {
      db.factEmb.join(filtered, Seq("fact_id"), "left_semi")
        .select(col("fact_id"), cosine6(toDouble(col("embedding")), queryVec(query)).as("cos"))
        .orderBy(col("cos").desc, col("fact_id"))
        .limit(k)
        .join(db.facts, "fact_id")
        .select("fact_id", "fact_text", "cos")
        .orderBy(col("cos").desc, col("fact_id"))
    }
  }

  /** The reference's k > candidates edge (storage.py:308-309): every
    * candidate fact returns UNRANKED, the vector side never runs.
    * Shared by the brute and indexed hybrid paths. */
  private def hybridUnranked(db: HippoDb, filtered: DataFrame): DataFrame =
    db.facts.join(filtered, Seq("fact_id"), "left_semi")
      .select(col("fact_id"), col("fact_text"),
        lit(null).cast("double").as("cos"))
      .orderBy("fact_id")

  /** Hybrid retrieval THROUGH THE PERSISTED INDEX — the serving-path
    * twin of [[closestFactsWithEntities]] and the reference's own
    * architecture (storage.py:304-337 runs the entity-filtered
    * vector lookup INSIDE the Chroma index): the entity semi-join
    * applies to the IVF artifact's partition-pruned probe sliver
    * (VectorIndex.annIvfFiltered), so a hybrid query reads
    * ~nProbe/nCells of the corpus instead of the full-scan cosine
    * pass. With nProbe == nCells the ranking equals the brute form
    * EXACTLY (same filter relation, same rounding, same tiebreak —
    * GraftApiSpec pins it, both union modes, plus the small-k
    * unranked fallback which is byte-shared). Requires
    * [[buildFactIndex]] to have written `indexDir`. */
  def closestFactsWithEntitiesIndexed(
      db: HippoDb, indexDir: String, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame = {
    val filtered = factsByEntities(db, entities, union).select("fact_id")
    if (k > filtered.count()) {
      hybridUnranked(db, filtered)
    } else {
      graft.store.VectorIndex.annIvfFiltered(spark, indexDir,
          embedder.embed(query).map(_.toDouble), k, nProbe,
          filtered.withColumnRenamed("fact_id", "vec_id"))
        .withColumnRenamed("vec_id", "fact_id")
        .join(db.facts, "fact_id")
        .select("fact_id", "fact_text", "cos")
        .orderBy(col("cos").desc, col("fact_id"))
    }
  }

  /** [[closestFactsWithEntitiesIndexed]] with the probe depth chosen
    * by PROOF instead of a fixed nProbe (the r12 SURVEY measured a
    * 0.6 recall floor at default probes on a selective entity
    * filter): VectorIndex.annIvfFilteredAdaptive probes until every
    * unprobed cell's cosine bound provably cannot reach the pooled
    * k-th, so the ranking equals the all-cells filtered probe — i.e.
    * the brute [[closestFactsWithEntities]] — EXACTLY, at whatever
    * probe depth the filter's selectivity demands. Requires
    * VectorIndex.buildCellBounds to have run on `indexDir` (the
    * [[closestFactsAdaptive]] convention — adaptive serving fails
    * fast without bounds; appends keep live bounds extended).
    * Small-k unranked fallback byte-shared with the other hybrid
    * forms. */
  def closestFactsWithEntitiesAdaptive(
      db: HippoDb, indexDir: String, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      initialProbe: Int = VectorQueries.IvfProbe): DataFrame = {
    // Materialized ONCE, driver-side: the adaptive loop scores cells
    // in (at least) two batches, each semi-joining the candidates —
    // without a pin the entity-filter aggregation subtree would
    // execute three times per call (count + both batches). The
    // relation is broadcast-bounded by construction, so it collects
    // to a local relation instead of localCheckpoint(true), which
    // would LEAK one pinned executor block per call for the session
    // lifetime (the sibling closestFactsWithEntities documents
    // exactly this hazard — r13 ADVICE).
    val factIds = factsByEntities(db, entities, union).select("fact_id")
      .collect().map(_.getLong(0)).toIndexedSeq
    val filtered = {
      import spark.implicits._
      factIds.toDF("fact_id")
    }
    if (k > factIds.length) {
      hybridUnranked(db, filtered)
    } else {
      graft.store.VectorIndex.annIvfFilteredAdaptive(spark, indexDir,
          embedder.embed(query).map(_.toDouble), k,
          filtered.withColumnRenamed("fact_id", "vec_id"), initialProbe)
        .result
        .withColumnRenamed("vec_id", "fact_id")
        .join(db.facts, "fact_id")
        .select("fact_id", "fact_text", "cos")
        .orderBy(col("cos").desc, col("fact_id"))
    }
  }

  /** [[closestFactsWithEntitiesIndexed]] at the COMPRESSED rung: the
    * vector half probes a [[buildFactIndexPq]] IVFADC artifact
    * (VectorIndex.annIvfPqFiltered — candidate semi-join on the
    * partition-pruned CODE scan, ~M bytes/vector, then the exact
    * re-rank of the filtered pool only). The candidate relation and
    * the small-k unranked fallback are byte-shared with the other
    * two hybrid forms. At nProbe == nCells with a pool covering the
    * candidates the ranking equals the brute hybrid exactly
    * (GraftApiSpec pins it). */
  def closestFactsWithEntitiesIndexedAdc(
      db: HippoDb, indexDir: String, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame = {
    val filtered = factsByEntities(db, entities, union).select("fact_id")
    if (k > filtered.count()) {
      hybridUnranked(db, filtered)
    } else {
      graft.store.VectorIndex.annIvfPqFiltered(spark, indexDir,
          db.factEmb.select(col("fact_id").as("vec_id"),
            toDouble(col("embedding")).as("v")),
          embedder.embed(query).map(_.toDouble), k, nProbe,
          filtered.withColumnRenamed("fact_id", "vec_id"), rerank)
        .withColumnRenamed("vec_id", "fact_id")
        .join(db.facts, "fact_id")
        .select("fact_id", "fact_text", "cos")
        .orderBy(col("cos").desc, col("fact_id"))
    }
  }

  /** BATCH retrieval facade (r17, VERDICT r16 #4) — the reference's
    * retrieval loop (retrieval.py:15-78) runs MANY queries against
    * the persisted store index (storage.py:266-337), but this facade
    * served one query per call while the index layer already had the
    * batched kernel: this is annIvfBatch over [[buildFactIndex]]'s
    * artifact with the fact payload joined back — ONE bulk
    * partition-pruned job for the whole query batch instead of
    * |queries| driver round-trips.
    *
    * `queries` are (query_id, text) pairs, embedded driver-side (the
    * bounded-batch contract; the embed is the same per-text call the
    * single-query facade pays). Internally the batch runs under
    * NEGATIVE surrogate ids so a user query_id can never collide
    * with a fact_id — annIvfBatch excludes vec_id == query_id rows,
    * a self-exclusion that is meaningless for text queries and must
    * never silently drop a fact. Returns (query_id, fact_id,
    * fact_text, cos, rk), ≤ k rows per query. With nProbe and
    * coarseProbe covering the model, each query's rows equal
    * [[closestFacts]] EXACTLY (same round-6 cosine, same fact_id
    * tiebreak — GraftApiSpec pins it); serving probe depths trade
    * recall for scan bytes, and reprobeMax > 0 (requires
    * VectorIndex.buildCellBounds on `indexDir`) buys the bounded
    * adaptive top-up. */
  def closestFactsBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 5,
      nProbe: Int = VectorQueries.IvfProbe, reprobeMax: Int = 0,
      coarseProbe: Int = graft.operators.ExtendedQueries.E01cCoarseProbe)
      : DataFrame = {
    import spark.implicits._
    val qdf = queries.zipWithIndex
      .map { case ((_, text), i) =>
        (-(i + 1).toLong, embedder.embed(text).map(_.toDouble)) }
      .toDF("vec_id", "v")
    val ids = queries.zipWithIndex
      .map { case ((qid, _), i) => (-(i + 1).toLong, qid) }
      .toDF("query_id", "user_query_id")
    graft.store.VectorIndex.annIvfBatch(spark, indexDir, qdf, k,
        nProbe, reprobeMax, coarseProbe)
      .join(broadcast(ids), "query_id")
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts, "fact_id")
      .select(col("user_query_id").as("query_id"), col("fact_id"),
        col("fact_text"), col("cos"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** The ENTITY-FILTERED twin of [[closestFactsBatch]] — the batch
    * form of [[closestFactsWithEntitiesIndexed]] (the reference's
    * entity-filtered lookup, storage.py:304-337, at batch shape):
    * the graph semi-join relation is computed ONCE for the whole
    * batch and applied INSIDE the index scan (annIvfBatch's
    * candidate filter — ranking happens within the filtered set,
    * never post-hoc), and the reference's k > candidates edge
    * (storage.py:308-309) returns every candidate UNRANKED for every
    * query — the filter is query-independent, so the branch is too.
    * Same exactness contract as the single-query hybrid: with probes
    * covering the model, each query's rows equal
    * [[closestFactsWithEntities]] exactly (GraftApiSpec pins both
    * union modes). */
  def closestFactsWithEntitiesBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = VectorQueries.IvfProbe, reprobeMax: Int = 0,
      coarseProbe: Int = graft.operators.ExtendedQueries.E01cCoarseProbe)
      : DataFrame = {
    import spark.implicits._
    val filtered = factsByEntities(db, entities, union).select("fact_id")
    if (k > filtered.count()) {
      val ids = queries.map(_._1).toDF("query_id")
      broadcast(ids).crossJoin(hybridUnranked(db, filtered))
        .withColumn("rk", lit(null).cast("int"))
        .select("query_id", "fact_id", "fact_text", "cos", "rk")
        .orderBy("query_id", "fact_id")
    } else {
      val qdf = queries.zipWithIndex
        .map { case ((_, text), i) =>
          (-(i + 1).toLong, embedder.embed(text).map(_.toDouble)) }
        .toDF("vec_id", "v")
      val ids = queries.zipWithIndex
        .map { case ((qid, _), i) => (-(i + 1).toLong, qid) }
        .toDF("query_id", "user_query_id")
      graft.store.VectorIndex.annIvfBatch(spark, indexDir, qdf, k,
          nProbe, reprobeMax, coarseProbe,
          candidates = Some(filtered.withColumnRenamed("fact_id", "vec_id")))
        .join(broadcast(ids), "query_id")
        .withColumnRenamed("vec_id", "fact_id")
        .join(db.facts, "fact_id")
        .select(col("user_query_id").as("query_id"), col("fact_id"),
          col("fact_text"), col("cos"), col("rk"))
        .orderBy("query_id", "rk")
    }
  }

  /** [[closestFactsBatch]] at the COMPRESSED rung — the unfiltered
    * batch retrieval that holds at 10⁹+ facts: annIvfPqBatch over a
    * [[buildFactIndexPq]] artifact streams ~M ints + a norm per
    * probed fact instead of the float embedding, the exact re-rank
    * touches only the pooled ids, and the same surrogate-id contract
    * keeps user query ids from tripping the self-exclusion. At
    * probe-all with a pool covering the corpus each query's rows
    * equal [[closestFacts]] exactly (GraftApiSpec pins it); serving
    * dials trade recall for scanned code bytes. */
  def closestFactsBatchAdc(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame = {
    import spark.implicits._
    val qdf = queries.zipWithIndex
      .map { case ((_, text), i) =>
        (-(i + 1).toLong, embedder.embed(text).map(_.toDouble)) }
      .toDF("vec_id", "v")
    val ids = queries.zipWithIndex
      .map { case ((qid, _), i) => (-(i + 1).toLong, qid) }
      .toDF("query_id", "user_query_id")
    graft.store.VectorIndex.annIvfPqBatch(spark, indexDir,
        db.factEmb.select(col("fact_id").as("vec_id"),
          toDouble(col("embedding")).as("v")),
        qdf, k, nProbe, rerank)
      .join(broadcast(ids), "query_id")
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts, "fact_id")
      .select(col("user_query_id").as("query_id"), col("fact_id"),
        col("fact_text"), col("cos"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** [[closestFactsWithEntitiesBatch]] at the COMPRESSED rung — the
    * batch hybrid that holds at 10⁹+ facts where even the probed
    * cells' float vectors are too many bytes: the graph semi-join is
    * computed once for the batch and applied INSIDE the partition-
    * pruned CODE scan (annIvfPqBatch's candidate filter — ~M bytes
    * per candidate fact streamed, ranking within the filtered set),
    * the exact re-rank touches only the pooled ids. Candidate
    * relation and the k > candidates unranked edge byte-shared with
    * the float-rung batch form. At probe-all with a pool covering
    * the candidates each query's rows equal
    * [[closestFactsWithEntities]] exactly (GraftApiSpec pins it). */
  def closestFactsWithEntitiesBatchAdc(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame = {
    import spark.implicits._
    val filtered = factsByEntities(db, entities, union).select("fact_id")
    if (k > filtered.count()) {
      val ids = queries.map(_._1).toDF("query_id")
      broadcast(ids).crossJoin(hybridUnranked(db, filtered))
        .withColumn("rk", lit(null).cast("int"))
        .select("query_id", "fact_id", "fact_text", "cos", "rk")
        .orderBy("query_id", "fact_id")
    } else {
      val qdf = queries.zipWithIndex
        .map { case ((_, text), i) =>
          (-(i + 1).toLong, embedder.embed(text).map(_.toDouble)) }
        .toDF("vec_id", "v")
      val ids = queries.zipWithIndex
        .map { case ((qid, _), i) => (-(i + 1).toLong, qid) }
        .toDF("query_id", "user_query_id")
      graft.store.VectorIndex.annIvfPqBatch(spark, indexDir,
          db.factEmb.select(col("fact_id").as("vec_id"),
            toDouble(col("embedding")).as("v")),
          qdf, k, nProbe, rerank,
          candidates = Some(filtered.withColumnRenamed("fact_id", "vec_id")))
        .join(broadcast(ids), "query_id")
        .withColumnRenamed("vec_id", "fact_id")
        .join(db.facts, "fact_id")
        .select(col("user_query_id").as("query_id"), col("fact_id"),
          col("fact_text"), col("cos"), col("rk"))
        .orderBy("query_id", "rk")
    }
  }

  /** The reference's retrieval LOOP (retrieval.py:15-78 iterates
    * [[retrieve]] over a query file) at batch shape — the last piece
    * of VERDICT r16 #4: ONE [[closestFactsBatch]] job serves every
    * query's top-k, then the bounded |queries| × k result builds the
    * same per-query context blobs retrieve emits. Returns the batch
    * frame plus query_id → prompt. The collect is ≤ |queries| × k
    * narrow rows — bounded by the batch contract, never the corpus. */
  def retrieveBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 10,
      nProbe: Int = VectorQueries.IvfProbe)
      : (DataFrame, Map[Long, String]) = {
    val top = closestFactsBatch(db, indexDir, queries, k, nProbe)
    val byQuery = top.select("query_id", "rk", "fact_text").collect()
      .groupBy(_.getLong(0))
    val prompts = queries.map { case (qid, text) =>
      val context = byQuery.getOrElse(qid, Array.empty)
        .sortBy(_.getInt(1))
        .map(r => s"- ${r.getAs[String]("fact_text")}").mkString("\n")
      qid -> s"Facts:\n$context\nQuestion: $text"
    }.toMap
    (top, prompts)
  }

  /** retrieval.py's loop body: top-k facts + an answer-context blob
    * (the RAG prompt the reference would send to an LLM). */
  def retrieve(db: HippoDb, query: String, k: Int = 10,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): (DataFrame, String) = {
    // indexDir set = the serving configuration (r11): the RAG loop's
    // vector lookup pays the partition-pruned probe instead of the
    // full-corpus cosine scan; at nProbe == nCells the two are
    // row-identical (closestFactsIndexed's pinned contract).
    val top = indexDir match {
      case Some(d) => closestFactsIndexed(db, d, query, k, nProbe)
        .select("fact_id", "fact_text", "cos")
      case None => closestFacts(db, query, k)
    }
    val context = top.collect() // k rows only — bounded by k, not corpus
      .map(r => s"- ${r.getAs[String]("fact_text")}").mkString("\n")
    (top, s"Facts:\n$context\nQuestion: $query")
  }

  /** NLI-based fact comparison (annotator.py:126): does an existing
    * fact entail the candidate? Used for dedup-on-ingest. */
  def entails(existing: String, candidate: String): Boolean =
    nli.entails(existing, candidate)

  /** The question-answering loop over NUMBERED facts (prompts.py:86
    * question_prompt, the hippoview QA path): top-k retrieval, facts
    * enumerated so the model can cite them, then one LLM call.
    * Returns (facts, prompt, model answer). */
  def answer(db: HippoDb, question: String, k: Int = 10,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): (DataFrame, String, String) = {
    val top = indexDir match {
      case Some(d) => closestFactsIndexed(db, d, question, k, nProbe)
        .select("fact_id", "fact_text", "cos")
      case None => closestFacts(db, question, k)
    }
    val numbered = top.collect() // k rows only — bounded by k, not corpus
      .zipWithIndex
      .map { case (r, i) => s"${i + 1}. ${r.getAs[String]("fact_text")}" }
      .mkString("\n")
    val prompt = Prompts.question(question, numbered)
    (top, prompt, llm.invoke(prompt))
  }

  /** [[answer]] at batch shape — the QA loop's missing batch twin
    * (r17): ONE [[closestFactsBatch]] job retrieves every question's
    * top-k (partition-pruned, never |queries| driver round-trips),
    * then the bounded |queries| × k collect builds the same NUMBERED
    * per-question prompt [[answer]] sends (Prompts.question — facts
    * enumerated so the model can cite them) and the LLM is invoked
    * once per question (the unavoidable per-call surface; everything
    * retrieval-shaped is batched). Returns the batch frame plus
    * question_id → (prompt, model answer). With probes covering the
    * model each question's prompt equals the single-query
    * [[answer]]'s verbatim (GraftApiSpec pins parity). */
  def answerBatch(db: HippoDb, indexDir: String,
      questions: Seq[(Long, String)], k: Int = 10,
      nProbe: Int = VectorQueries.IvfProbe)
      : (DataFrame, Map[Long, (String, String)]) = {
    val top = closestFactsBatch(db, indexDir, questions, k, nProbe)
    val byQuery = top.select("query_id", "rk", "fact_text").collect()
      .groupBy(_.getLong(0))
    val out = questions.map { case (qid, text) =>
      val numbered = byQuery.getOrElse(qid, Array.empty)
        .sortBy(_.getInt(1))
        .zipWithIndex
        .map { case (r, i) => s"${i + 1}. ${r.getAs[String]("fact_text")}" }
        .mkString("\n")
      val prompt = Prompts.question(text, numbered)
      qid -> (prompt, llm.invoke(prompt))
    }.toMap
    (top, out)
  }
}

object Graft {
  /** Per-block survivor cap for dedup-on-ingest (bounds a prefix
    * block's NLI comparisons at |block| × this). */
  val MaxBlockSurvivors = 1024

  /** The entity repr the reference DISPLAYS — "name (description)"
    * when a description exists, bare name otherwise
    * (Entity.__repr__, storage.py:24). */
  def entityRepr(name: String, description: String): String =
    if (description == null || description.isEmpty) name
    else s"$name ($description)"

  /** The text the reference actually STORES in the entity vector
    * collection: `name + " (" + description + ")"` UNCONDITIONALLY
    * (storage.py:191 add_entity) — i.e. "name ()" for the empty
    * description every annotator-added entity has. Embedding paths
    * use this form so similarity scores match the reference's stored
    * vectors even for empty-description entities. */
  def entityStoredRepr(name: String, description: String): String =
    s"$name (${Option(description).getOrElse("")})"
}
