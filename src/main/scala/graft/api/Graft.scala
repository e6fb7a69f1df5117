package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.{Embedder, Grammars, HashEmbedder, LlmBackend, NliModel, HeuristicNli, Prompts, TemplateLlm, TextHelpers, VectorFunctions}
import graft.operators.{DedupQueries, ExtendedQueries, GraphQueries, Splitters, VectorQueries}
import graft.plans.Phase
import graft.store.{HippoDb, VectorIndex}

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

  import Graft._
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
    // Lowercased STORED repr (the unconditional "name (description)"
    // text add_entity embeds — storage.py:191): the stub
    // hash-embedder only sees exact token matches, so case variants
    // must normalize BEFORE embedding — the role a real sentence
    // embedder's robustness plays. (closestEntities embeds the raw
    // stored repr, un-lowercased, exactly as the reference stores it.)
    val entEmb = named(entities)
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

  /** Build the persisted IVF serving index over a store's fact
    * embeddings (store.VectorIndex layout: cell-partitioned vectors
    * + centroid rows). Build once per corpus version; queries then
    * pay a partition-pruned scan instead of the full-corpus cosine
    * pass [[closestFacts]] makes. */
  def buildFactIndex(db: HippoDb, indexDir: String,
      nCells: Int = VectorQueries.IvfCells,
      twoLevel: Boolean = false): Unit = {
    // twoLevel: the 10⁹-fact build path — k1 + k2 ≈ 2√nCells
    // assignment distances per vector instead of nCells; the artifact
    // (and thus every serving path below) is byte-compatible.
    if (twoLevel) VectorIndex.buildIvfTwoLevel(spark, vectors(db), indexDir, nCells = nCells)
    else VectorIndex.buildIvf(spark, vectors(db), indexDir, nCells = nCells)
  }

  /** The COMPRESSED serving index (IVFADC) over the fact embeddings —
    * the rung for stores whose probed cells' float vectors are
    * themselves too many bytes (10⁹+ facts): residual PQ codes
    * partitioned by coarse cell, ~M bytes/vector streamed per probe. */
  def buildFactIndexPq(db: HippoDb, indexDir: String,
      nCells: Int = graft.operators.IvfPq.Cells): Unit =
    VectorIndex.buildIvfPq(spark, vectors(db), indexDir, nCells = nCells)

  // ------------------------------------------------------- retrieval
  //
  // Every public retrieval method below is one call into [[plan]].
  // The index forms take `indexDir = Some(dir)` (and `nProbe`) on the
  // brute method's signature; with nProbe covering every cell each
  // equals its brute form exactly (same round-6 cosine, same fact_id
  // tiebreak — GraftApiSpec's parity table pins them), and fewer
  // probes trade recall for reading ~nProbe/nCells of the index.

  /** Top-k facts by cosine to a natural-language query. */
  def closestFacts(db: HippoDb, query: String, k: Int = 5): DataFrame =
    plan(db, Left(query), Scan, k)

  /** Top-k facts via the PERSISTED index ([[buildFactIndex]]): the
    * query embeds driver-side, probe cells are chosen against the
    * centroids, and only the probed cells are scored. Returns
    * (fact_id, fact_text, cos), like every top-k door.
    *
    * An index with a version marker that fits the heap budget is
    * probed in this JVM from its [[graft.store.IvfSnapshot]], reopened
    * whenever the marker changes; the call then runs one Spark job
    * (`graft.serve.lookup`), which fetches the hits' facts, and
    * returns them as a local frame. Any other index runs the
    * `cluster IN (...)` partition-pruned Spark plan. Both give the
    * same rows, schema and order. */
  def closestFactsIndexed(db: HippoDb, indexDir: String, query: String,
      k: Int = 5, nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), Ivf(indexDir, nProbe), k)

  /** [[closestFactsIndexed]] through the ADAPTIVE probe
    * (VectorIndex.annIvfAdaptive): probes the nearest cells, then
    * only the cells whose per-cell cosine bound could still change
    * the top-k — the rows EQUAL the all-cells probe exactly at a
    * fraction of the partitions scanned. Requires
    * VectorIndex.buildCellBounds on `indexDir` (the call fails fast
    * rather than pruning unsoundly). */
  def closestFactsAdaptive(db: HippoDb, indexDir: String, query: String,
      k: Int = 5, initialProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), Bounded(indexDir, initialProbe), k)

  /** ALL facts inside the cosine ball — the RADIUS form of
    * [[closestFacts]] (v11's semantics on the store: dedup sweeps,
    * compliance pulls, "everything sufficiently similar"; output
    * size is data-dependent, no k). Through an index it is
    * VectorIndex.rangeSearch over the probed cells: fewer probes
    * trade far-ball recall for scan bytes. */
  def closestFactsRange(db: HippoDb, query: String, tau: Double,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), rung(indexDir, nProbe), 0, shape = Ball(tau))

  /** Top-k facts by MAXIMAL MARGINAL RELEVANCE — [[closestFacts]]
    * with v12's diversification: a store grown by annotate-with-dedup
    * still holds near-paraphrase facts, and a RAG context window
    * wants coverage, not five copies of the strongest match. The
    * `pool` most relevant facts (from the corpus scan, or from the
    * index's probed cells) are re-ranked greedily by the SHARED
    * VectorQueries.mmrTopK kernel (entry and facade cannot drift). */
  def closestFactsDiverse(db: HippoDb, query: String, k: Int = 5,
      pool: Int = VectorQueries.MmrPool, indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), rung(indexDir, nProbe), k, shape = Diverse(pool))

  /** GRAPH-BOOSTED retrieval: [[closestFacts]]'s cosine pool
    * re-ranked by personalized-PageRank mass flowing from the given
    * probe entities (the h19 kernel on the store's OWN edge table —
    * shared, so facade and entry cannot drift). A fact whose
    * entities sit graph-close to the query's entities outranks an
    * equally-similar but graph-distant one — the GraphRAG
    * re-ranking step between vector recall and prompt assembly.
    * score = λ·cos + μ·Σ ppr(fact's entities), λ and μ both LITERAL
    * parameters (the v12 convention: `1.0 − 0.7` is
    * 0.30000000000000004, a DIFFERENT double than 0.3 — computing μ
    * would shift round-6 boundaries against any mirror). The pool is
    * the `pool`-deep cosine top-k, from the corpus scan or the index
    * probe. */
  def closestFactsGraphRanked(db: HippoDb, query: String,
      probeEntities: Seq[String], k: Int = 5, pool: Int = 32,
      lambda: Double = 0.7, mu: Double = 0.3,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), rung(indexDir, nProbe), k,
      shape = GraphBoost(probeEntities, pool, lambda, mu))

  /** Hybrid retrieval: top-k by cosine among facts involving ANY
    * (union) or ALL of `entities` — graph semi-join first, then
    * vector scoring. Through an index the candidate filter applies
    * INSIDE the probed cells (the reference's own architecture:
    * storage.py:304-337 runs the entity-filtered lookup inside the
    * Chroma index).
    *
    * Edge semantics mirrored from storage.py:308-309: when k exceeds
    * the candidate count, ALL candidate facts return UNRANKED (cos
    * null, ordered by fact_id) — the reference skips the vector
    * lookup entirely in that case. */
  def closestFactsWithEntities(
      db: HippoDb, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5, indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), rung(indexDir, nProbe), k, Some((entities, union)))

  /** [[closestFactsWithEntities]] with the probe depth chosen by
    * PROOF instead of a fixed nProbe (the r12 SURVEY measured a 0.6
    * recall floor at default probes on a selective entity filter):
    * the adaptive probe runs until every unprobed cell's cosine bound
    * provably cannot reach the pooled k-th, so the ranking equals the
    * brute hybrid EXACTLY. Requires VectorIndex.buildCellBounds on
    * `indexDir` (appends keep live bounds extended). */
  def closestFactsWithEntitiesAdaptive(
      db: HippoDb, indexDir: String, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      initialProbe: Int = VectorQueries.IvfProbe): DataFrame =
    plan(db, Left(query), Bounded(indexDir, initialProbe), k, Some((entities, union)))

  /** [[closestFactsWithEntities]] at the COMPRESSED rung: the vector
    * half probes a [[buildFactIndexPq]] IVFADC artifact (candidate
    * semi-join on the partition-pruned CODE scan, ~M bytes/vector,
    * then the exact re-rank of the filtered pool only). At nProbe ==
    * nCells with a pool covering the candidates the ranking equals
    * the brute hybrid exactly. */
  def closestFactsWithEntitiesIndexedAdc(
      db: HippoDb, indexDir: String, query: String, entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame =
    plan(db, Left(query), Adc(indexDir, nProbe, rerank), k, Some((entities, union)))

  /** BATCH retrieval — the reference's retrieval loop
    * (retrieval.py:15-78) runs MANY queries against the persisted
    * store index: annIvfBatch over [[buildFactIndex]]'s artifact, ONE
    * bulk partition-pruned job for the whole batch instead of
    * |queries| driver round-trips. `queries` are (query_id, text)
    * pairs with distinct ids, embedded driver-side. Returns
    * (query_id, fact_id, fact_text, cos, rk), ≤ k rows per query,
    * each query's rows equal to [[closestFacts]] when the probes
    * cover the model. reprobeMax > 0 (requires
    * VectorIndex.buildCellBounds on `indexDir`) buys the bounded
    * adaptive top-up. */
  def closestFactsBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 5,
      nProbe: Int = VectorQueries.IvfProbe, reprobeMax: Int = 0,
      coarseProbe: Int = graft.operators.ExtendedQueries.E01cCoarseProbe)
      : DataFrame =
    plan(db, Right(queries), Ivf(indexDir, nProbe, reprobeMax, coarseProbe), k)

  /** The entity-filtered [[closestFactsBatch]] — the batch form of
    * [[closestFactsWithEntities]]: the candidate relation is computed
    * ONCE for the batch and applied INSIDE the index scan, and the
    * k > candidates edge returns every candidate UNRANKED (cos and rk
    * null) for every query — the filter is query-independent, so the
    * branch is too. */
  def closestFactsWithEntitiesBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = VectorQueries.IvfProbe, reprobeMax: Int = 0,
      coarseProbe: Int = graft.operators.ExtendedQueries.E01cCoarseProbe)
      : DataFrame =
    plan(db, Right(queries), Ivf(indexDir, nProbe, reprobeMax, coarseProbe), k,
      Some((entities, union)))

  /** [[closestFactsBatch]] at the COMPRESSED rung: annIvfPqBatch over
    * a [[buildFactIndexPq]] artifact streams ~M ints + a norm per
    * probed fact instead of the float embedding, and the exact
    * re-rank touches only the pooled ids. */
  def closestFactsBatchAdc(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame =
    plan(db, Right(queries), Adc(indexDir, nProbe, rerank), k)

  /** [[closestFactsWithEntitiesBatch]] at the COMPRESSED rung. */
  def closestFactsWithEntitiesBatchAdc(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], entities: Seq[String],
      union: Boolean = true, k: Int = 5,
      nProbe: Int = graft.operators.IvfPq.Probe,
      rerank: Int = graft.operators.Pq.Rerank): DataFrame =
    plan(db, Right(queries), Adc(indexDir, nProbe, rerank), k, Some((entities, union)))

  /** retrieval.py's loop body: top-k facts + an answer-context blob
    * (the RAG prompt the reference would send to an LLM). With
    * `indexDir` set the lookup is [[closestFactsIndexed]]'s. */
  def retrieve(db: HippoDb, query: String, k: Int = 10,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): (DataFrame, String) = {
    val (top, facts) = ragTop(db, query, k, indexDir, nProbe)
    (top, prompt(query, facts, numbered = false))
  }

  /** The question-answering loop over NUMBERED facts (prompts.py:86
    * question_prompt, the hippoview QA path): top-k retrieval, facts
    * enumerated so the model can cite them, then one LLM call.
    * Returns (facts, prompt, model answer). */
  def answer(db: HippoDb, question: String, k: Int = 10,
      indexDir: Option[String] = None,
      nProbe: Int = VectorQueries.IvfProbe): (DataFrame, String, String) = {
    val (top, facts) = ragTop(db, question, k, indexDir, nProbe)
    val p = prompt(question, facts, numbered = true)
    (top, p, llm.invoke(p))
  }

  /** [[retrieve]] at batch shape: ONE [[closestFactsBatch]] job serves
    * every query's top-k, then one bounded |queries| × k collect
    * builds the per-query prompts retrieve emits. Returns the batch
    * frame plus query_id → prompt. */
  def retrieveBatch(db: HippoDb, indexDir: String,
      queries: Seq[(Long, String)], k: Int = 10,
      nProbe: Int = VectorQueries.IvfProbe)
      : (DataFrame, Map[Long, String]) = {
    val top = closestFactsBatch(db, indexDir, queries, k, nProbe)
    (top, prompts(top, queries, numbered = false).toMap)
  }

  /** [[answer]] at batch shape: one batch retrieval, the numbered
    * prompt [[answer]] sends per question, and one LLM call per
    * question. Returns the batch frame plus question_id → (prompt,
    * model answer). */
  def answerBatch(db: HippoDb, indexDir: String,
      questions: Seq[(Long, String)], k: Int = 10,
      nProbe: Int = VectorQueries.IvfProbe)
      : (DataFrame, Map[Long, (String, String)]) = {
    val top = closestFactsBatch(db, indexDir, questions, k, nProbe)
    (top, prompts(top, questions, numbered = true)
      .map { case (qid, p) => qid -> (p, llm.invoke(p)) }.toMap)
  }

  /** Top-k entities by cosine of their STORED-repr embedding — the
    * unconditional "name (description)" text add_entity writes to
    * the vector collection (storage.py:191), "name ()" when the
    * description is empty. */
  def closestEntities(db: HippoDb, query: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = embedder
    val entEmb = named(db.entities)
      .mapPartitions(_.map { case (e, d) => (e, emb.embed(Graft.entityStoredRepr(e, d))) })
      .toDF("entity", "embedding")
    entEmb.select(col("entity"), cosine6(toDouble(col("embedding")), lits(embed(query))).as("cos"))
      .orderBy(col("cos").desc, col("entity"))
      .limit(k)
  }

  /** (entity, description) pairs, the description "" when absent. */
  private def named(entities: DataFrame): Dataset[(String, String)] = {
    import spark.implicits._
    entities.select(col("entity"),
      if (entities.columns.contains("description")) col("description")
      else lit("").as("description")).as[(String, String)]
  }

  /** Entities sharing a fact with `entity`, with shared-fact counts. */
  def neighbours(db: HippoDb, entity: String): DataFrame =
    sharingFacts(db, entity).groupBy("entity").agg(countDistinct("fact_id").as("n_shared_facts"))

  /** get_neighbours(return_facts=True) (storage.py:213-224): each
    * neighbour with the SORTED LIST of shared fact ids, not just the
    * count. collect_list stays bounded by the neighbour's true fact
    * fan-in (the same payload the reference materializes). */
  def neighboursWithFacts(db: HippoDb, entity: String): DataFrame =
    sharingFacts(db, entity).groupBy("entity")
      .agg(sort_array(collect_set("fact_id")).as("fact_ids"))

  /** The edges of other entities on `entity`'s facts. */
  private def sharingFacts(db: HippoDb, entity: String): DataFrame = {
    val probe = db.edges.filter(col("entity") === entity).select(col("fact_id").as("pf"))
    db.edges.join(broadcast(probe), col("fact_id") === col("pf"))
      .filter(col("entity") =!= entity)
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

  /** NLI-based fact comparison (annotator.py:126): does an existing
    * fact entail the candidate? Used for dedup-on-ingest. */
  def entails(existing: String, candidate: String): Boolean =
    nli.entails(existing, candidate)

  // ------------------------------------------------- the plan builder

  /** The index snapshots this instance serves single queries from —
    * its only state besides the models (IvfSnapshots). */
  @transient private[graft] lazy val snapshots = new graft.store.IvfSnapshots

  /** The one retrieval plan builder behind every public retrieval
    * method. `queries` is one text (Left) or a batch of
    * (query_id, text) pairs with distinct ids (Right); `rung` is where
    * the vector half runs; `filter` is the (entities, union) candidate
    * filter; `shape` is what a single query ranks and returns (a batch
    * returns top-k rows). */
  private def plan(db: HippoDb, queries: Either[String, Seq[(Long, String)]],
      rung: Rung, k: Int, filter: Option[(Seq[String], Boolean)] = None,
      shape: Shape = TopK): DataFrame = {
    // One id's rows would merge into one prompt and one answer.
    for (qs <- queries; id <- qs.map(_._1).diff(qs.map(_._1).distinct).headOption)
      throw new IllegalArgumentException(
        s"query_id $id appears more than once in the batch; query ids must be distinct")
    val cands = filter.map { case (entities, union) => candidates(db, entities, union, rung) }
    cands match {
      case Some((ids, n)) if k > n => unranked(db, ids, queries)
      case _ => queries.fold(
        one(db, _, rung, k, cands.map(_._1), shape),
        many(db, _, rung, k, cands.map(_._1)))
    }
  }

  /** The filter's fact ids and their count. The adaptive rung scores
    * the candidates in two passes, so it gets them as a local relation
    * (one collect, nothing pinned); the other rungs re-run the cheap
    * edge aggregation in the chosen branch rather than cache a frame
    * the caller could never release. */
  private def candidates(db: HippoDb, entities: Seq[String], union: Boolean,
      rung: Rung): (DataFrame, Long) = Phase(spark, "graft.serve.candidates") {
    val ids = factsByEntities(db, entities, union).select("fact_id")
    rung match {
      case _: Bounded =>
        import spark.implicits._
        val local = ids.collect().map(_.getLong(0)).toIndexedSeq
        (local.toDF("fact_id"), local.length.toLong)
      case _ => (ids, ids.count())
    }
  }

  /** The reference's k > candidates edge (storage.py:308-309): every
    * candidate fact returns UNRANKED (cos null, by fact_id) and the
    * vector side never runs — for every query of a batch (rk null). */
  private def unranked(db: HippoDb, ids: DataFrame,
      queries: Either[String, Seq[(Long, String)]]): DataFrame = {
    val facts = db.facts.join(ids, Seq("fact_id"), "left_semi")
      .select(col("fact_id"), col("fact_text"), lit(null).cast("double").as("cos"))
      .orderBy("fact_id")
    queries.fold(_ => facts, { qs =>
      import spark.implicits._
      broadcast(qs.map(_._1).toDF("query_id")).crossJoin(facts)
        .withColumn("rk", lit(null).cast("int"))
        .select("query_id", "fact_id", "fact_text", "cos", "rk")
        .orderBy("query_id", "fact_id")
    })
  }

  /** One query's plan, ranked within the candidate facts `within`
    * when given. */
  private def one(db: HippoDb, text: String, rung: Rung, k: Int,
      within: Option[DataFrame], shape: Shape): DataFrame = {
    val q = embed(text)
    shape match {
      case TopK =>
        val snapshot = rung match {
          case Ivf(dir, nProbe, _, _) if within.isEmpty =>
            snapshots(spark, dir).flatMap(_.topK(q, k, nProbe))
          case _ => None
        }
        snapshot.fold(payload(db, hits(db, q, rung, k, within)))(factsOf(db, _))
      case Ball(tau) => payload(db, rung match {
        case Ivf(dir, nProbe, _, _) =>
          VectorIndex.rangeSearch(spark, dir, q, tau, nProbe).withColumnRenamed("vec_id", "fact_id")
        case _ => scored(db.factEmb, q).filter(col("cos") >= tau)
      })
      case Diverse(pool) =>
        val scan = rung match {
          case Ivf(dir, nProbe, _, _) => VectorIndex.probedScan(spark, dir, q, nProbe)
            .select(col("vec_id"), col("v"), lits(q).as("qv"))
          case _ => db.factEmb.select(col("fact_id").as("vec_id"),
            toDouble(col("embedding")).as("v"), lits(q).as("qv"))
        }
        Phase(spark, "graft.serve.pool")(VectorQueries.mmrTopK(spark, scan, pool, k))
          .withColumnRenamed("vec_id", "fact_id")
          .join(db.facts.select("fact_id", "fact_text"), "fact_id")
          .select("rk", "fact_id", "fact_text", "rel", "mmr_score")
          .orderBy("rk")
      case GraphBoost(entities, pool, lambda, mu) =>
        graphBoosted(db, hits(db, q, rung, pool, None), entities, k, lambda, mu)
    }
  }

  /** A batch's plan: the queries run under NEGATIVE surrogate ids, so
    * the index's self-exclusion (vec_id == query_id) can never drop a
    * fact whose id equals a user query_id; the user ids join back. */
  private def many(db: HippoDb, queries: Seq[(Long, String)], rung: Rung, k: Int,
      within: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val surrogates = queries.indices.map(i => -(i + 1).toLong)
    val qdf = surrogates.zip(queries).map { case (s, (_, text)) => (s, embed(text)) }
      .toDF("vec_id", "v")
    val ids = surrogates.zip(queries.map(_._1)).toDF("query_id", "user_query_id")
    val ranked = rung match {
      case Ivf(dir, nProbe, reprobeMax, coarseProbe) =>
        VectorIndex.annIvfBatch(spark, dir, qdf, k, nProbe, reprobeMax, coarseProbe,
          candidates = within.map(_.withColumnRenamed("fact_id", "vec_id")))
      case Adc(dir, nProbe, rerank) =>
        VectorIndex.annIvfPqBatch(spark, dir, vectors(db), qdf, k, nProbe, rerank,
          candidates = within.map(_.withColumnRenamed("fact_id", "vec_id")))
      case other => throw new IllegalArgumentException(s"no batch plan on $other")
    }
    ranked.join(broadcast(ids), "query_id")
      .withColumnRenamed("vec_id", "fact_id")
      .join(db.facts, "fact_id")
      .select(col("user_query_id").as("query_id"), col("fact_id"),
        col("fact_text"), col("cos"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** The vector half: the (fact_id, cos) top-k of `q` on `rung`. */
  private def hits(db: HippoDb, q: Array[Double], rung: Rung, k: Int,
      within: Option[DataFrame]): DataFrame = {
    val ids = within.map(_.withColumnRenamed("fact_id", "vec_id"))
    def byFact(df: DataFrame) = df.withColumnRenamed("vec_id", "fact_id")
    rung match {
      case Scan =>
        scored(within.foldLeft(db.factEmb)(_.join(_, Seq("fact_id"), "left_semi")), q)
          .orderBy(col("cos").desc, col("fact_id"))
          .limit(k)
      case Ivf(dir, nProbe, _, _) =>
        byFact(VectorIndex.annIvf(spark, dir, q, k, nProbe, candidates = ids))
      case Bounded(dir, initialProbe) =>
        byFact(VectorIndex.annIvfAdaptive(spark, dir, q, k, initialProbe, candidates = ids).result)
      case Adc(dir, nProbe, rerank) =>
        byFact(VectorIndex.annIvfPq(spark, dir, vectors(db), q, k, nProbe,
          rerank = rerank, candidates = ids))
    }
  }

  /** The payload tail: hits joined to their facts as
    * (fact_id, fact_text, cos), ordered by cos descending then
    * fact_id. */
  private def payload(db: HippoDb, hits: DataFrame): DataFrame =
    hits.join(db.facts, "fact_id").select("fact_id", "fact_text", "cos")
      .orderBy(col("cos").desc, col("fact_id"))

  /** [[payload]] for snapshot hits: one job collects the hit ids'
    * (fact_id, fact_text) from `db.facts`, joined in the driver as the
    * Spark plan would — facts missing from `db` drop out, ordered by
    * cos descending then fact_id. */
  private def factsOf(db: HippoDb, hits: Seq[(Long, Double)]): DataFrame = {
    val cosOf = hits.groupMap(_._1)(_._2)
    val facts = db.facts.select("fact_id", "fact_text")
    val found =
      if (cosOf.isEmpty) Array.empty[Row]
      else Phase(spark, "graft.serve.lookup") {
        facts.filter(org.apache.spark.sql.graft.InSetColumn(col("fact_id"), cosOf.keys))
          .collect()
      }
    val rows = for {
      f <- found.toSeq
      id = f.getLong(0)
      c <- cosOf(id)
    } yield Row(id, f.get(1), c)
    val sorted = rows.sortWith((a, b) =>
      graft.store.IvfSnapshot.ranksBefore(a.getDouble(2), a.getLong(0), b.getDouble(2), b.getLong(0)))
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*),
      StructType(Seq(StructField("fact_id", LongType), facts.schema("fact_text"),
        StructField("cos", DoubleType))))
  }

  /** The PPR-boosted re-rank over a bounded cosine pool. The PPR runs
    * once per query over the edge relation; the boost aggregation
    * touches only the pool's edges — the edge table is semi-joined
    * against the broadcast pool ids BEFORE the groupBy (ADVICE r9). */
  private def graphBoosted(db: HippoDb, pool: DataFrame,
      probeEntities: Seq[String], k: Int,
      lambda: Double, mu: Double): DataFrame = {
    // `pool` rows is human-scale: materialize on the driver (the
    // annPq contract) so the cosine scan runs ONCE even though the
    // pool feeds both the semi-join and the final score.
    val cand = spark.createDataFrame(java.util.Arrays.asList(
      Phase(spark, "graft.serve.pool")(pool.collect()): _*), pool.schema)
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

  /** retrieve/answer's top-k — the brute scan or the index — and its
    * fact texts in order (one collect of k rows, bounded by k, not
    * the corpus). */
  private def ragTop(db: HippoDb, query: String, k: Int,
      indexDir: Option[String], nProbe: Int): (DataFrame, Seq[String]) = {
    val top = indexDir.fold(closestFacts(db, query, k))(
      closestFactsIndexed(db, _, query, k, nProbe))
    (top, top.collect().map(_.getAs[String]("fact_text")).toSeq)
  }

  /** Each batch query's prompt, from one collect of the ≤ |queries| × k
    * batch rows (bounded by the batch, never the corpus). */
  private def prompts(top: DataFrame, queries: Seq[(Long, String)],
      numbered: Boolean): Seq[(Long, String)] = {
    val byQuery = Phase(spark, "graft.serve.context") {
      top.select("query_id", "rk", "fact_text").collect()
    }.groupBy(_.getLong(0))
    queries.map { case (qid, text) =>
      qid -> prompt(text, byQuery.getOrElse(qid, Array.empty[Row])
        .sortBy(_.getInt(1)).map(_.getString(2)).toSeq, numbered)
    }
  }

  /** The RAG context of retrieve ("- fact" lines), or answer's
    * question prompt over NUMBERED facts (prompts.py:86). */
  private def prompt(question: String, facts: Seq[String], numbered: Boolean): String =
    if (numbered) Prompts.question(question,
      facts.zipWithIndex.map { case (t, i) => s"${i + 1}. $t" }.mkString("\n"))
    else s"Facts:\n${facts.map(t => s"- $t").mkString("\n")}\nQuestion: $question"

  private def embed(text: String): Array[Double] = embedder.embed(text).map(_.toDouble)

  private def lits(q: Array[Double]) = array(q.toIndexedSeq.map(lit): _*)

  /** (fact_id, cos) of every fact embedding in `emb` against `q`. */
  private def scored(emb: DataFrame, q: Array[Double]): DataFrame =
    emb.select(col("fact_id"), cosine6(toDouble(col("embedding")), lits(q)).as("cos"))

  /** The fact embeddings as an index's (vec_id, v) rows. */
  private def vectors(db: HippoDb): DataFrame =
    db.factEmb.select(col("fact_id").as("vec_id"), toDouble(col("embedding")).as("v"))
}

object Graft {
  /** Where a retrieval's vector half runs: the brute scan of the fact
    * embeddings, or a persisted index rung (the batch dials reprobeMax
    * and coarseProbe are read by the batch path only). */
  private sealed trait Rung
  private case object Scan extends Rung
  private final case class Ivf(dir: String, nProbe: Int, reprobeMax: Int = 0,
      coarseProbe: Int = ExtendedQueries.E01cCoarseProbe) extends Rung
  private final case class Bounded(dir: String, initialProbe: Int) extends Rung
  private final case class Adc(dir: String, nProbe: Int, rerank: Int) extends Rung

  private def rung(indexDir: Option[String], nProbe: Int): Rung =
    indexDir.fold[Rung](Scan)(Ivf(_, nProbe))

  /** What a single query ranks and returns: the cos-ordered top-k
    * (fact_id, fact_text, cos), the cosine ball, the MMR re-rank of a
    * pool, or the PPR-boosted re-rank of a pool. */
  private sealed trait Shape
  private case object TopK extends Shape
  private final case class Ball(tau: Double) extends Shape
  private final case class Diverse(pool: Int) extends Shape
  private final case class GraphBoost(entities: Seq[String], pool: Int,
      lambda: Double, mu: Double) extends Shape

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
