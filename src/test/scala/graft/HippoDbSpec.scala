package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.{HashEmbedder, HeuristicNli}
import graft.store.HippoDb

/** EntityStore-equivalent behaviors: build, save/load round-trip,
  * integrity (mirrors reference test_storage.py). */
class HippoDbSpec extends SparkSpec {

  test("build + save + load round-trips all four components") {
    val tmp = Files.createTempDirectory("hippodb").toString
    val db = HippoDb.build(spark, sf0001, new HashEmbedder(16))
    db.save(tmp, Map("embedding_model" -> "hash-16"))
    val back = HippoDb.load(spark, tmp)
    assert(back.facts.count() == db.facts.count())
    assert(back.edges.count() == db.edges.count())
    assert(back.entities.count() == db.entities.count())
    assert(back.factEmb.count() == db.facts.count())
    assert(Files.readString(java.nio.file.Paths.get(s"$tmp/parameters.json"))
      .contains("hash-16"))
    val (nF, nE, missing) = back.integrity
    assert(nF == nE && missing == 0L)
  }

  test("restoreIntegrity drops vector-side orphans (storage.py _restore_integrity)") {
    import spark.implicits._
    val db = HippoDb.build(spark, sf0001, new HashEmbedder(16))
    // corrupt: vector side has rows whose facts are gone from the graph
    val orphans = Seq((-1L, Array(1f, 0f)), (-2L, Array(0f, 1f)))
      .toDF("fact_id", "embedding")
    val corrupted = db.copy(factEmb = db.factEmb.union(orphans))
    val (nF0, nE0, _) = corrupted.integrity
    assert(nE0 == nF0 + 2)
    val restored = corrupted.restoreIntegrity
    val (nF, nE, missing) = restored.integrity
    assert(nF == nE && missing == 0L)
  }

  test("sources component + escaped params round-trip through save/load") {
    val tmp = Files.createTempDirectory("hipposrc").toString
    val api = new graft.api.Graft(spark)
    val (db, sources) = api.annotateDedupedWithSources(
      graft.sources.Tables.documents(spark, sf0001))
    assert(sources.columns.toSeq ==
      Seq("fact_id", "doc_id", "name", "description", "url", "date", "start", "end"))
    // params with JSON-hostile chars must survive (escaping, not raw interpolation)
    db.save(tmp, Map("note" -> "line1\nline\"2\"\\end"))
    val back = HippoDb.load(spark, tmp)
    assert(back.sources.isDefined)
    assert(back.sources.get.count() == sources.count())
    // the written parameters.json is valid JSON
    val parsed = spark.read.json(s"$tmp/parameters.json").collect()
    assert(parsed.length == 1)
  }

  test("bucketed edges: entity-keyed aggregation plans with no shuffle") {
    val db = HippoDb.build(spark, sf0001, new HashEmbedder(16))
    db.saveEdgesBucketed("edges_bucketed", nBuckets = 4)
    try {
      val agg = spark.table("edges_bucketed")
        .groupBy("entity").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed read still shuffles:\n$plan")
      // and the answer matches the unbucketed source
      val expected = db.edges.groupBy("entity").count().count()
      assert(agg.count() == expected)
      // CO-LOCATED JOIN (r11): two tables bucketed on the same key
      // and count join WITHOUT any exchange — the bucket layout IS
      // the shuffle, paid once at write time. Broadcast disabled so
      // the test-scale tables can't cheat the pin.
      db.saveEdgesBucketed("edges_bucketed_b", nBuckets = 4)
      val savedBjt = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        val j = spark.table("edges_bucketed")
          .join(spark.table("edges_bucketed_b"), "entity")
          .groupBy("entity").agg(count(lit(1)).as("pairs"))
        val jPlan = j.queryExecution.executedPlan.toString
        assert(!jPlan.contains("Exchange"),
          s"co-bucketed join still shuffles:\n$jPlan")
        // fan-out arithmetic: pairs per entity == n(entity)^2
        val n = db.edges.groupBy("entity").count()
          .select(sum(col("count") * col("count"))).head().getLong(0)
        assert(j.select(sum("pairs")).head().getLong(0) == n)
      } finally {
        savedBjt match {
          case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
        spark.sql("DROP TABLE IF EXISTS edges_bucketed_b")
      }
    } finally spark.sql("DROP TABLE IF EXISTS edges_bucketed")
  }

  test("embedder is deterministic and normalized") {
    val e = new HashEmbedder(32)
    val a = e.embed("spark join window")
    val b = e.embed("spark join window")
    assert(a.toSeq == b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.embed("totally different text").toSeq != a.toSeq)
  }

  test("heuristic NLI stub entails supersets, rejects disjoint") {
    val nli = new HeuristicNli
    assert(nli.entails("Paris is the capital of France", "Paris capital France"))
    assert(!nli.entails("Paris is the capital of France", "London rules Denmark"))
  }

  test("compactEntities dedupes the appended entity dim in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString
    val api = new graft.api.Graft(spark)
    // three micro-batches sharing entities across batches (the st03
    // accumulation shape: one entity row per batch it appears in)
    val batches = Seq(
      Seq((1L, "alpha shares tokens batch")),
      Seq((2L, "alpha shares tokens again batch")),
      Seq((3L, "gamma shares tokens batch")))
    batches.foreach { docs =>
      HippoDb.append(api.annotate(docs.toDF("doc_id", "text")), dir)
    }
    val before = spark.read.parquet(s"$dir/entities").count()
    val distinct = spark.read.parquet(s"$dir/entities")
      .select("entity").distinct().count()
    assert(before > distinct, "appended batches must accumulate duplicate entity rows")
    val after = HippoDb.compactEntities(spark, dir)
    assert(after == distinct)
    assert(spark.read.parquet(s"$dir/entities").count() == distinct)
    // store still load-round-trips with the compacted dim
    val loaded = HippoDb.load(spark, dir)
    assert(loaded.entities.count() == distinct)
    assert(loaded.entities.columns.contains("description"))
    val (nF, nE, missing) = loaded.integrity
    assert(nF == nE && missing == 0L)
  }

  test("compactFiles rewrites a many-small-files dir into few files, rows intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("filecompact").toString
    val path = s"$dir/docs"
    // the incremental-ingest shape: many tiny part files
    (0L until 240L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .repartition(24).write.parquet(path)
    val beforeRows = spark.read.parquet(path).collect().map(_.getLong(0)).toSet
    val (before, after) = HippoDb.compactFiles(spark, path)
    assert(before == 24, s"planted 24 files, saw $before")
    assert(after < before && after >= 1, s"compaction left $after files")
    // identical content, readable through the same path
    assert(spark.read.parquet(path).collect().map(_.getLong(0)).toSet == beforeRows)
    // idempotent-ish: compacting a compacted dir keeps it small
    val (b2, a2) = HippoDb.compactFiles(spark, path)
    assert(b2 == after && a2 <= b2)
  }

  test("VectorIndex PQ: build -> persist -> query == in-memory annPq (v09 contract)") {
    import graft.functions.VectorFunctions._
    import graft.operators.Pq
    import graft.store.VectorIndex
    val dir = Files.createTempDirectory("pqindex").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildPq(spark, e, dir)
    // the persisted artifacts exist and have the scale shapes: codes
    // are M ints + a norm per vector, the codebook is m*k*subDim rows
    val codes = spark.read.parquet(s"$dir/pq_codes")
    assert(codes.count() == e.count())
    assert(codes.select(max(size(col("codes")))).head().getInt(0) == Pq.M)
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/pq.json")).contains("graft-pq-v1"))
    // query through the persisted index == the in-memory one-shot
    // (both score through Codec.topK; train is deterministic)
    val fromIndex = VectorIndex.annPq(spark, dir, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Pq.annPq(spark, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == inMemory, s"index: $fromIndex vs in-memory: $inMemory")
  }

  test("VectorIndex SQ8: build -> persist -> query == in-memory annSq (v13 contract)") {
    import graft.functions.VectorFunctions._
    import graft.operators.Sq
    import graft.store.VectorIndex
    val dir = Files.createTempDirectory("sqindex").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildSq(spark, e, dir)
    // artifacts: dim byte-range codes + a norm per vector, the model
    // is 2×dim doubles
    val codes = spark.read.parquet(s"$dir/sq_codes")
    assert(codes.count() == e.count())
    val dim = e.select(size(col("v"))).head().getInt(0)
    assert(codes.select(max(size(col("codes")))).head().getInt(0) == dim)
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/sq.json")).contains("graft-sq8-v1"))
    val (mins, maxs) = Sq.codec.readModel(spark, dir)
    assert(mins.length == dim && maxs.length == dim)
    assert(mins.indices.forall(i => mins(i) <= maxs(i)))
    // query through the persisted index == the in-memory one-shot
    // (both score through Codec.topK; train is deterministic min/max)
    val fromIndex = VectorIndex.annSq(spark, dir, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Sq.annSq(spark, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == inMemory, s"index: $fromIndex vs in-memory: $inMemory")
  }

  test("VectorIndex BQ: build -> persist -> query == in-memory annBq (v14 contract)") {
    import graft.functions.VectorFunctions._
    import graft.operators.Bq
    import graft.store.VectorIndex
    val dir = Files.createTempDirectory("bqindex").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildBq(spark, e, dir)
    val sigs = spark.read.parquet(s"$dir/bq_sigs")
    assert(sigs.count() == e.count())
    assert(sigs.columns.toSeq == Seq("vec_id", "sig", "norm"))
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/bq.json")).contains("graft-bq-v1"))
    val fromIndex = VectorIndex.annBq(spark, dir, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Bq.annBq(spark, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == inMemory, s"index: $fromIndex vs in-memory: $inMemory")
  }

  test("VectorIndex IVF: persisted inverted lists prune at the partition level") {
    import graft.functions.VectorFunctions._
    import graft.operators.VectorQueries
    import graft.store.VectorIndex
    val dir = Files.createTempDirectory("ivfindex").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildIvf(spark, e, dir)
    // the query vector as the index stores it
    val stored = spark.read.parquet(s"$dir/ivf_vectors").filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toArray
    val fromIndex = VectorIndex.annIvf(spark, dir, stored, k = 10,
      nProbe = VectorQueries.IvfProbe, excludeVecId = Some(0L))
    // the probe filter must reach the scan as a PARTITION filter —
    // that is the file-level pruning the inverted-file layout buys
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"IVF probe must prune partitions, plan:\n$plan")
    // query through the persisted index == the in-memory one-shot
    val got = fromIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = VectorQueries.annIvf(spark, e, queryVecId = 0, k = 10,
        nCells = VectorQueries.IvfCells, nProbe = VectorQueries.IvfProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == inMemory, s"index: $got vs in-memory: $inMemory")
    // the source embedding serves the same rows as the stored vector
    val qv = e.filter(col("vec_id") === 0).select("v").head().getSeq[Double](0).toArray
    val byVec = VectorIndex.annIvf(spark, dir, qv, k = 10,
        nProbe = VectorQueries.IvfProbe, excludeVecId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(byVec == got)
  }

  test("VectorIndex IVFADC filtered probe: all-probe full-pool == brute filtered cosine; empty candidates empty") {
    import graft.functions.VectorFunctions._
    import graft.operators.{IvfPq, VectorQueries}
    import graft.store.VectorIndex
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfpq_filt").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildIvfPq(spark, e, dir)
    val qv = e.filter(col("vec_id") === 0).select("v").head().getSeq[Double](0).toArray
    val qCol = array(qv.toIndexedSeq.map(lit): _*)
    val cand = e.select("vec_id").filter(col("vec_id") % 7 === 0 && col("vec_id") =!= 0)
    // brute filtered: exact cosine over ONLY the candidate slice
    val brute = e.join(cand, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), cosineNative6(col("v"), qCol).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // filtered IVFADC at all cells + a pool wider than the candidate
    // slice: the approximate stage can drop nothing, so the exact
    // re-rank must reproduce the brute filtered ranking exactly
    val served = VectorIndex.annIvfPq(spark, dir, e, qv, k = 5,
        nProbe = IvfPq.Cells, rerank = 40, candidates = Some(cand))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == brute, s"filtered IVFADC: $served vs brute $brute")
    // the code scan stays partition-pruned at partial probe
    val part = VectorIndex.annIvfPq(spark, dir, e, qv, k = 5,
      nProbe = 2, candidates = Some(cand))
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"filtered IVFADC must partition-prune:\n$plan")
    // hybrid edge: no candidate at all -> empty, not a crash
    assert(VectorIndex.annIvfPq(spark, dir, e, qv, k = 5,
      nProbe = IvfPq.Cells, candidates = Some(Seq.empty[Long].toDF("vec_id"))).count() == 0)
    // unfiltered path unchanged by the new parameter (regression pin)
    val unf = VectorIndex.annIvfPq(spark, dir, e, qv, k = 5, nProbe = IvfPq.Cells)
    assert(unf.count() == 5)
  }

  test("VectorIndex IVFADC: build -> persist -> query == in-memory; probe prunes partitions; pool is top-k") {
    import graft.functions.VectorFunctions._
    import graft.operators.{IvfPq, Pq}
    import graft.store.VectorIndex
    val dir = Files.createTempDirectory("ivfpqindex").toString
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    VectorIndex.buildIvfPq(spark, e, dir)
    // artifact shapes: one code row per vector with M codes, the
    // directory partitioned by coarse cell, metadata echo present
    val codes = spark.read.parquet(s"$dir/ivfpq_codes")
    assert(codes.count() == e.count())
    assert(codes.select(max(size(col("codes")))).head().getInt(0) == Pq.M)
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/ivfpq.json"))
      .contains("graft-ivfpq-v1"))
    // the serving query: partition-pruned scan + bounded ADC pool
    val qv = e.filter(col("vec_id") === 0).select("v").head().getSeq[Double](0).toArray
    val fromIndex = VectorIndex.annIvfPq(spark, dir, e, qv, 10, excludeVecId = Some(0L))
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"IVFADC probe must prune partitions, plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ADC pool must be top-k, never a full sort, plan:\n$plan")
    // persisted == in-memory (KMeans + Pq.train are deterministic and
    // both paths score through Codec.topK)
    val got = fromIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = IvfPq.annIvfPq(spark, e, queryVecId = 0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == inMemory, s"index: $got vs in-memory: $inMemory")
  }

  test("SketchIndex: persisted span bloom reproduces the inline d12 output") {
    import graft.operators.DedupQueries
    import graft.store.SketchIndex
    val dir = Files.createTempDirectory("spanbloom").toString
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val n = SketchIndex.buildSpanBloom(spark, hist, dir)
    assert(n > 0)
    // artifacts exist under the atomically-swapped span_index dir
    assert(new java.io.File(s"$dir/span_index/span_bloom").isFile)
    // rebuilding swaps cleanly over the live artifact (the crash-safe
    // backup-rename path) and leaves no tmp/backup residue
    assert(SketchIndex.buildSpanBloom(spark, hist, dir) == n)
    assert(!new java.io.File(s"$dir/span_index_tmp").exists)
    assert(!new java.io.File(s"$dir/span_index_bak").exists)
    assert(SketchIndex.loadSpanHashes(spark, dir).count() == n)
    // the loaded bloom answers for every indexed hash (no false negatives)
    val bloom = SketchIndex.loadSpanBloom(spark, dir)
    val sample = SketchIndex.loadSpanHashes(spark, dir).limit(50)
      .collect().map(_.getLong(0))
    assert(sample.forall(bloom.mightContainLong))
    // checking the batch against the ARTIFACT == the inline entry
    // (exact verify makes bloom-bit differences unobservable)
    val viaIndex = SketchIndex.checkBatch(spark, dir, batch)
      .collect().map(_.toSeq).toSeq
    val inline = DedupQueries.d12BloomSpanIncremental(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == inline)
  }

  test("SketchIndex: persisted near-dup cell index reproduces the inline d13 rollup") {
    import graft.operators.DedupQueries
    import graft.store.SketchIndex
    val dir = Files.createTempDirectory("cellindex").toString
    val docs = graft.sources.Tables.documents(spark, sf001)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val n = SketchIndex.buildCellIndex(spark, hist, dir)
    assert(n > 0)
    // rebuild swaps cleanly over the live artifact, no residue
    assert(SketchIndex.buildCellIndex(spark, hist, dir) == n)
    assert(!new java.io.File(s"$dir/cell_index_tmp").exists)
    assert(!new java.io.File(s"$dir/cell_index_bak").exists)
    // the batch checked against the ARTIFACT == the inline d13 entry
    // (the batch hashes only itself; history comes from parquet)
    val viaIndex = SketchIndex.checkBatchNeardup(spark, dir, batch)
      .collect().map(_.toSeq).toSeq
    val inline = DedupQueries.d13IncrementalNeardup(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == inline && viaIndex.nonEmpty)
  }

  test("csv and json round-trip a query result (sinks)") {
    val tmp = Files.createTempDirectory("sinks").toString
    val df = graft.operators.CoreQueries.q01PricingSummary(spark, sf0001)
    df.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    df.write.mode("overwrite").json(s"$tmp/json")
    val csv = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$tmp/csv")
    val json = spark.read.json(s"$tmp/json")
    assert(csv.count() == df.count() && json.count() == df.count())
    assert(json.select(sum("count_order")).head().getLong(0) ==
      df.select(sum("count_order")).head().getLong(0))
  }
}
