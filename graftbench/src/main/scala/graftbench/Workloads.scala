package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.Graft
import graft.functions.VectorFunctions
import graft.operators.VectorQueries
import graft.store.{HippoDb, VectorIndex}

/** Generated inputs of the memory loop, loaded as a caller would hold
  * them: the bulk corpus spread over the session's cores, the
  * micro-batches as they arrive, the takedown as doc ids. */
final case class MemoryInputs(bulk: DataFrame, batches: Seq[DataFrame], takedown: Seq[Long])

object MemoryInputs {
  private val DocSchema = "doc_id LONG, text STRING, source STRING"

  def load(r: Run): MemoryInputs = {
    val docs = r.readJsonl("corpus.jsonl", DocSchema)
      .repartition(r.spark.sparkContext.defaultParallelism).cache()
    docs.count()
    val b = r.readJsonl("batches.jsonl", s"batch INT, $DocSchema").cache()
    val n = b.agg(max("batch")).head().getInt(0) + 1
    val batches = (0 until n).map(i => b.filter(col("batch") === i).drop("batch"))
    val takedown = r.readJsonl("takedown.jsonl", "doc_id LONG").collect().map(_.getLong(0)).toSeq
    MemoryInputs(docs, batches, takedown)
  }

  /** The warm-up corpus split the same way as the measured inputs. */
  def warmup(r: Run): MemoryInputs = {
    val w = r.readJsonl("warmup.jsonl", DocSchema).orderBy("doc_id").cache()
    val ids = w.select("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length * 4 / 5)
    MemoryInputs(w.filter(col("doc_id") < cut), Seq(w.filter(col("doc_id") >= cut)),
      ids.take(2).toSeq)
  }

  def vectors(db: HippoDb): DataFrame =
    db.factEmb.select(col("fact_id").as("vec_id"),
      VectorFunctions.toDouble(col("embedding")).as("v"))
}

/** memory-loop: the hippollm memory loop, write side then read side,
  * in one session. The write side annotates, stores, resolves and
  * indexes a seeded corpus, appends micro-batches and takes documents
  * down; the read side then serves a seeded closed-loop request mix
  * from that appended, tombstoned store. */
final class MemoryLoopWorkload(r: Run) {
  import r.spark

  private val off = new Tracer(spark, enabled = false)

  final case class Request(kind: String, query: String, questions: Seq[String],
      entities: Seq[String], union: Boolean)

  private val script: IndexedSeq[Request] =
    r.readJsonl("script.jsonl",
        "i INT, type STRING, query STRING, questions ARRAY<STRING>, entities ARRAY<STRING>, union BOOLEAN")
      .orderBy("i").collect().toIndexedSeq.map { x =>
        Request(x.getAs[String]("type"), x.getAs[String]("query"),
          Option(x.getAs[collection.Seq[String]]("questions")).map(_.toSeq).getOrElse(Nil),
          Option(x.getAs[collection.Seq[String]]("entities")).map(_.toSeq).getOrElse(Nil),
          Option(x.getAs[java.lang.Boolean]("union")).forall(_.booleanValue))
      }

  private def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getAs[Long]("fact_id")).toSeq

  /** Probe-all top-10 for a fact's own text holds the fact (or ten
    * exact ties of its score, when its text repeats). */
  private def checkRetrievable(db: HippoDb, index: String, id: Long, text: String): Unit =
    r.check(s"appended fact $id is retrievable at probe-all") {
      val rows = r.graft.closestFactsIndexed(db, index, text, 10, VectorQueries.IvfCells).collect()
      ids(rows).contains(id) ||
        (rows.length == 10 && rows.map(_.getAs[Double]("cos")).distinct.length == 1)
    }

  /** Fact ids and texts of the documents about to be taken down. */
  private def victims(store: String, docIds: Seq[Long]): Array[(Long, String)] =
    spark.read.parquet(s"$store/facts").filter(col("doc_id").isin(docIds: _*))
      .select("fact_id", "fact_text").collect().map(x => (x.getLong(0), x.getString(1)))

  /** A store left by the write side, ready to serve. */
  final case class Store(store: String, index: String, victims: Set[Long])

  /** The write side, into fresh directories; returns the store and
    * the work seconds (checks excluded). */
  private def ingest(g: Graft, tr: Tracer, in: MemoryInputs, name: String,
      record: Boolean, checks: Boolean): (Store, Double) = {
    val store = r.dir(s"$name/store")
    val index = r.dir(s"$name/index")
    def rec(metric: String, v: Double): Unit = if (record) r.sample(metric, v)

    val (_, bulkS) = r.timed {
      tr.span("ingest.annotate_save") {
        r.op("annotateDedupedWithSources+save") {
          g.annotateDedupedWithSources(in.bulk)._1.save(store)
        }
      }
      tr.span("ingest.load") {
        r.op("load+integrity") {
          val (_, _, missing) = HippoDb.load(spark, store).integrity
          if (checks) r.check("integrity reports no missing embeddings")(missing == 0)
        }
      }
      tr.span("ingest.resolve") {
        r.op("resolveEntities") {
          val m = g.resolveEntities(HippoDb.load(spark, store).entities)
          val merges = m.filter(col("entity") =!= col("canonical")).count()
          m.unpersist()
          if (tr.enabled) r.layer("ingest.resolve.merges", merges.toDouble)
        }
      }
      tr.span("ingest.index_build") {
        r.op("buildFactIndex")(g.buildFactIndex(HippoDb.load(spark, store), index))
      }
    }
    rec("ingest_s", bulkS)
    if (tr.enabled) {
      // Every extracted fact leaves one source span; kept facts are
      // the distinct survivors those spans point at.
      val sources = spark.read.parquet(s"$store/sources")
      val extracted = sources.count().toDouble
      r.layer("ingest.dedup.facts_extracted", extracted)
      r.layer("ingest.dedup.kept_ratio", sources.select("fact_id").distinct().count() / extracted)
    }

    var appendS = 0.0
    var lastDelta: Option[HippoDb] = None
    in.batches.foreach { batch =>
      val t0 = System.nanoTime()
      lastDelta = tr.span("ingest.append") {
        r.op("annotate+append") {
          val d = g.annotate(batch)
          HippoDb.append(d, store)
          d
        }
      }
      tr.span("ingest.append_ivf") {
        lastDelta.foreach(d => r.op("appendIvf")(VectorIndex.appendIvf(spark, index, MemoryInputs.vectors(d))))
      }
      val s = Main.secondsSince(t0)
      appendS += s
      rec("append_s", s)
    }
    if (checks) lastDelta.foreach { d =>
      val x = d.facts.select("fact_id", "fact_text").orderBy("fact_id").head()
      checkRetrievable(HippoDb.load(spark, store), index, x.getLong(0), x.getString(1))
    }

    val taken = victims(store, in.takedown)
    val (_, deleteS) = r.timed {
      tr.span("ingest.delete") {
        r.op("deleteDocuments") {
          HippoDb.deleteDocuments(spark, store, in.takedown, indexDirs = Seq(index))
        }
      }
    }
    rec("delete_s", deleteS)
    val victimIds = taken.map(_._1).toSet
    if (checks) {
      val db = HippoDb.load(spark, store)
      r.check("no fact of a deleted document is stored") {
        db.facts.filter(col("doc_id").isin(in.takedown: _*)).isEmpty
      }
      taken.take(1).foreach { case (_, text) =>
        r.check(s"no deleted fact served for '$text'") {
          ids(r.graft.closestFactsIndexed(db, index, text, 10, VectorQueries.IvfCells).collect())
            .forall(id => !victimIds.contains(id))
        }
      }
    }

    val (_, compactS) = r.timed {
      tr.span("ingest.compact")(r.op("compactEntities")(HippoDb.compactEntities(spark, store)))
    }
    if (record) r.sample("store_bytes", (Run.bytesUnder(store) + Run.bytesUnder(index)).toDouble)
    (Store(store, index, victimIds), bulkS + appendS + deleteS + compactS)
  }

  /** Sends one request; returns how many queries it answered. */
  private def send(g: Graft, tr: Tracer, db: HippoDb, index: String, q: Request,
      record: Boolean): Int = {
    def numbered(qs: Seq[String]) = qs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val t0 = System.nanoTime()
    val (metric, answered) = q.kind match {
      case "retrieve" =>
        tr.span("serve.retrieve")(r.op("retrieve")(g.retrieve(db, q.query, 10, Some(index))))
        ("retrieve_ms", 1)
      case "batch" =>
        tr.span("serve.answer_batch")(r.op("answerBatch")(g.answerBatch(db, index, numbered(q.questions), 10)))
        ("batch_ms", q.questions.size)
      case "hybrid" =>
        tr.span("serve.hybrid_batch") {
          r.op("closestFactsWithEntitiesBatch") {
            g.closestFactsWithEntitiesBatch(db, index, numbered(q.questions), q.entities,
              q.union, 10).collect()
          }
        }
        ("hybrid_ms", q.questions.size)
    }
    if (record) r.sample(metric, (System.nanoTime() - t0) / 1e6)
    answered
  }

  /** Read-side checks on the fixed query sample, outside the timed
    * loop: recall@10 of the serving probe depth against probe-all,
    * which must equal brute force; no deleted fact is served. */
  private def serveChecks(db: HippoDb, st: Store): Unit = {
    val g = r.graft
    val sample = r.readJsonl("checks.jsonl", "kind STRING, query STRING").collect()
      .map(_.getString(1)).toSeq
    val qs = sample.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    def top(df: DataFrame) = df.select("query_id", "fact_id", "cos").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(x => (x.getLong(1), x.getDouble(2))).toSeq }
    val served = top(g.closestFactsBatch(db, st.index, qs, 10))
    val exact = top(g.closestFactsBatch(db, st.index, qs, 10, nProbe = VectorQueries.IvfCells))
    val recalls = qs.map { case (q, text) =>
      val got = served.getOrElse(q, Nil)
      r.check(s"no deleted fact served for '$text'")(got.forall(x => !st.victims.contains(x._1)))
      val want = exact.getOrElse(q, Nil).map(_._1)
      got.count(x => want.contains(x._1)).toDouble / math.max(1, want.size)
    }
    r.value("recall_at_10", recalls.sum / recalls.size)
    qs.take(1).foreach { case (q, text) =>
      r.check(s"probe-all equals brute force for '$text'") {
        val brute = g.closestFacts(db, text, 10).select("fact_id", "cos").collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
        exact.getOrElse(q, Nil) == brute
      }
    }
  }

  /** One request of each kind, so the read side is measured warm. */
  private def warmServe(db: HippoDb, index: String): Unit =
    (script.filter(_.kind == "retrieve").take(3) ++ script.filter(_.kind != "retrieve").take(2))
      .foreach(send(r.graft, off, db, index, _, record = false))

  def run(): Unit = {
    val (in, loadS) = r.timed(MemoryInputs.load(r))
    r.setup("load_s", loadS)
    r.markInputs()
    if (!r.traced) {
      // The write side runs once per process, cold, as a batch ingest
      // job does; the read side is measured warm, as a long-lived
      // server is.
      val (st, _) = ingest(r.graft, off, in, "pass", record = true, checks = true)
      val db = HippoDb.load(spark, st.store)
      r.setup("warmup_s", r.timed(warmServe(db, st.index))._2)
      System.gc() // the write side's garbage is not the read side's cost
      val t0 = System.nanoTime()
      var i = 0
      var answered = 0L
      // Measure for the run's seconds, and until every request kind
      // has been timed at least once.
      val kinds = script.map(_.kind).toSet
      var sent = Set.empty[String]
      while (Main.secondsSince(t0) < r.seconds || sent != kinds) {
        val q = script(i % script.size)
        answered += send(r.graft, off, db, st.index, q, record = true)
        sent += q.kind
        i += 1
      }
      r.value("serve_qps", answered / Main.secondsSince(t0))
      r.sample("heap_mb", r.heapMb())
      serveChecks(db, st)
    } else {
      // Both sides of the traced pair run warm: the whole loop runs
      // once first on the small warm-up corpus.
      val (warm, _) = ingest(r.graft, off, MemoryInputs.warmup(r), "warmup", record = false, checks = false)
      warmServe(HippoDb.load(spark, warm.store), warm.index)
      r.releaseLeaks()
      // The fixed work of the pair: the write side, then the first
      // ten requests of the script on its store.
      val fixed = script.take(10)
      var last: Option[Store] = None
      def work(g: Graft, tr: Tracer, name: String, checks: Boolean): Double = {
        val (st, ingestS) = ingest(g, tr, in, name, record = false, checks)
        val db = HippoDb.load(spark, st.store)
        last = Some(st)
        ingestS + r.timed(fixed.foreach(send(g, tr, db, st.index, _, record = false)))._2
      }
      val tracer = r.tracedPair(() => work(r.graft, off, "untraced", checks = true),
        tr => work(r.countingGraft, tr, "traced", checks = false))
      val counters = Seq("wall_s", "driver_s", "tasks", "task_wait_s", "executor_cpu_s",
        "shuffle_write_mb")
      r.exportLayers(tracer, Seq("annotate_save", "load", "resolve", "index_build", "append",
        "append_ivf", "delete", "compact").map("ingest." + _), counters)
      val serveSpans = Seq("retrieve", "answer_batch", "hybrid_batch").map("serve." + _)
      r.exportLayers(tracer, serveSpans, counters)
      val annotate = tracer.model("ingest.annotate_save")
      val resolve = tracer.model("ingest.resolve")
      r.layer("ingest.annotate_save.llm_calls", annotate.llm.toDouble)
      r.layer("ingest.annotate_save.embed_calls", annotate.embed.toDouble)
      r.layer("ingest.annotate_save.nli_calls", annotate.nli.toDouble)
      r.layer("ingest.resolve.nli_calls", resolve.nli.toDouble)
      r.layer("ingest.resolve.embed_calls", resolve.embed.toDouble)
      r.layer("ingest.resolve.merges_per_nli_call",
        r.layerValue("ingest.resolve.merges") / math.max(1L, resolve.nli))
      r.layer("ingest.append.llm_calls", tracer.model("ingest.append").llm.toDouble)
      serveSpans.foreach(s => r.layer(s"$s.embed_calls", tracer.model(s).embed.toDouble))
      last.foreach(st => serveChecks(HippoDb.load(spark, st.store), st))
    }
  }
}

/** query-suite: a fixed list of SparkEntry.queries, one per query
  * family, each fully materialized through the noop sink. */
final class SuiteWorkload(r: Run) {
  import r.spark

  private def run1(name: String): Unit =
    SparkEntry.queries(name)(spark, r.in).write.format("noop").mode("overwrite").save()

  /** One pass over the list; returns its work seconds. */
  private def pass(tr: Tracer, record: Boolean): Double =
    SuiteWorkload.Queries.map { name =>
      val (_, s) = r.timed(tr.span(s"suite.${name.take(1)}")(r.op(name)(run1(name))))
      if (record) r.sample(s"query_ms.$name", s * 1e3)
      r.releaseLeaks()
      s
    }.sum

  /** The warm-up pass: every listed query once, those with a DuckDB
    * oracle written as parquet for run.py to compare, the rest through
    * the noop sink. */
  private def warmupWithOracleDump(): Unit = {
    val out = s"${r.work}/oracle"
    SuiteWorkload.Queries.foreach { name =>
      r.op(s"$name (warm-up)") {
        val df = SparkEntry.queries(name)(spark, r.in)
        if (SparkEntry.oracleSql.contains(name))
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        else df.write.format("noop").mode("overwrite").save()
      }
      r.releaseLeaks()
    }
    val json = SuiteWorkload.Queries.filter(SparkEntry.oracleSql.contains)
      .map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json.value(json))
  }

  def run(): Unit = {
    val off = new Tracer(spark, enabled = false)
    val (_, loadS) = r.timed(SuiteWorkload.Tables.foreach(t => spark.read.parquet(s"${r.in}/$t.parquet").schema))
    r.setup("load_s", loadS)
    r.markInputs()
    val (_, warmS) = r.timed(warmupWithOracleDump())
    r.setup("warmup_s", warmS)
    if (!r.traced) {
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || Main.secondsSince(t0) < r.seconds) {
        pass(off, record = true)
        r.sample("heap_mb", r.heapMb())
        i += 1
      }
    } else {
      val tracer = r.tracedPair(() => pass(off, record = false), tr => pass(tr, record = false))
      r.exportLayers(tracer, SuiteWorkload.Families.map("suite." + _),
        Seq("wall_s", "tasks", "executor_cpu_s", "shuffle_write_mb"))
    }
  }
}

object SuiteWorkload {
  /** One query per family, each with a DuckDB oracle cheap enough to
    * check on every run: winnowing near-dup pairs (d10), kNN
    * classification (e01), the connected-components fixpoint that
    * entity resolution shares (h16), media hashing (m05), the corpus
    * report pipeline (p02), the two aggregates whose cost count() hid
    * (q13, t04), token-window splitting (s05) and a persisted IVF index
    * probed in full (v16b). */
  val Queries: Seq[String] = Seq("d10_winnow_pairs", "e01_knn_classify", "h16_components",
    "m05_phash", "p02_corpus_report", "q13_group_stats", "s05_split_token_window",
    "t04_fingerprint", "v16b_knn_batch_ivf_probeall")
  val Families: Seq[String] = Seq("d", "e", "h", "m", "p", "q", "s", "t", "v")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
