package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.store.{HippoDb, VectorIndex}

/** Deletion propagation (takedown / GDPR erasure): the
  * HippoDb.deleteDocuments cascade over the persisted store, the
  * serving tombstones on every VectorIndex query path, and the
  * compaction rewrite that reclaims them (VERDICT r10 #1). */
class DeleteSpec extends SparkSpec {

  // ------------------------------------------------------ cascade

  test("deleteDocuments cascades doc -> facts/edges/sources/embeddings and prunes lone entities, exactly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hippodel").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (102L, 1L, 1, "beta fact two", 0, 13),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (102L, "beta"), (103L, "beta"))
      .toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq(
      (101L, Array(1f, 0f)), (102L, Array(0f, 1f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    // the fourth source row is the ACCUMULATED-SPAN case: a span that
    // dedup contributed FROM doc 1 onto the SURVIVING fact 103 (doc 2)
    // — erasing doc 1 must erase it too (doc provenance), while fact
    // 103's own doc-2 span survives.
    val sources = Seq(
      (101L, 1L, "src-a"), (102L, 1L, "src-a"),
      (103L, 2L, "src-b"), (103L, 1L, "src-a"))
      .toDF("fact_id", "doc_id", "name")
    HippoDb(facts, edges, entities, factEmb, Some(sources)).save(tmp)

    val r = HippoDb.deleteDocuments(spark, tmp, Seq(1L))
    assert(r == HippoDb.DeleteReport(1L, 2L, 2L, 3L, 2L, 1L, 0L))

    val back = HippoDb.load(spark, tmp)
    assert(back.facts.select("doc_id").as[Long].collect().toSet == Set(2L))
    assert(back.edges.select("fact_id").as[Long].collect().toSet == Set(103L))
    assert(back.entities.select("entity").as[String].collect().toSet == Set("beta"))
    assert(back.factEmb.select("fact_id").as[Long].collect().toSet == Set(103L))
    // only fact 103's OWN doc-2 span remains: the accumulated doc-1
    // span on the surviving fact was erased by provenance
    assert(back.sources.get.select("fact_id", "doc_id").as[(Long, Long)]
      .collect().toSet == Set((103L, 2L)))
    val (nF, nE, missing) = back.integrity
    assert(nF == 1 && nE == 1 && missing == 0)
    // the victim scratch dir is cleaned up
    assert(!new java.io.File(s"$tmp/_delete_victims_tmp").exists())

    // deleting the LAST doc legitimately empties every component —
    // the exact-count guard must allow it (the hadRows guard alone
    // would refuse an empty rewrite).
    val r2 = HippoDb.deleteDocuments(spark, tmp, Seq(2L))
    assert(r2 == HippoDb.DeleteReport(1L, 1L, 1L, 1L, 1L, 1L, 0L))
    val empty = HippoDb.load(spark, tmp)
    assert(empty.facts.count() == 0 && empty.edges.count() == 0 &&
      empty.entities.count() == 0 && empty.factEmb.count() == 0)
  }

  test("a NULL doc_id source row (legacy row under the new schema) survives unrelated takedowns") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hippodel-null").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (103L, "beta")).toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq((101L, Array(1f, 0f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    // the sources table HAS the doc_id column, but one row predates
    // it (appended legacy data reads back as NULL): `!isin` alone is
    // NULL for that row — it must be KEPT, not silently erased, on a
    // takedown of an unrelated doc
    val sources = Seq(
      (101L, Some(1L), "src-a"), (103L, Some(2L), "src-b"),
      (103L, None, "src-legacy"))
      .toDF("fact_id", "doc_id", "name")
    HippoDb(facts, edges, entities, factEmb, Some(sources)).save(tmp)
    val r = HippoDb.deleteDocuments(spark, tmp, Seq(1L))
    assert(r.sourcesDeleted == 1L, s"only doc 1's span dies, got $r")
    val back = HippoDb.load(spark, tmp).sources.get
      .select("fact_id", "name").as[(Long, String)].collect().toSet
    assert(back == Set((103L, "src-b"), (103L, "src-legacy")),
      s"the NULL-provenance legacy span must survive: $back")
  }

  test("legacy sources without doc_id still cascade by fact_id (documented fallback)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hippodel-legacy").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (103L, "beta")).toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq((101L, Array(1f, 0f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    // pre-provenance schema: no doc_id column; the accumulated span
    // (103 from doc 1) OUTLIVES its doc — the documented legacy limit
    val legacySources = Seq((101L, "src-a"), (103L, "src-a"))
      .toDF("fact_id", "name")
    HippoDb(facts, edges, entities, factEmb, Some(legacySources)).save(tmp)
    val r = HippoDb.deleteDocuments(spark, tmp, Seq(1L))
    assert(r.sourcesDeleted == 1L) // fact-keyed only
    assert(HippoDb.load(spark, tmp).sources.get
      .select("fact_id").as[Long].collect().toSet == Set(103L))
  }

  // ------------------------------------- tombstones on every path

  /** Deterministic non-degenerate vectors; vec 7 is an exact copy of
    * vec 3, so a by-id query for 3 must rank 7 first on EVERY rung
    * (cos = 1) until 7 is tombstoned. */
  private def plantedVectors = {
    import spark.implicits._
    (0L until 60L).map { id =>
      val src = if (id == 7L) 3L else id
      (id, Array.tabulate(8)(j => math.sin(src * 1.7 + j * 0.9) + 0.1))
    }.toDF("vec_id", "v")
  }

  test("tombstoned ids vanish from every persisted serving path; compaction reclaims and clears") {
    val tmp = Files.createTempDirectory("vecdel").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildPq(spark, e, tmp)
      VectorIndex.buildSq(spark, e, tmp)
      VectorIndex.buildBq(spark, e, tmp)
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildIvfPq(spark, e, tmp, nCells = 4)
      val qv = e.filter(col("vec_id") === 3L).select("v")
        .head().getSeq[Double](0).toArray
      val cands = e.select("vec_id")
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      def allPaths(): Map[String, Set[Long]] = Map(
        "pq" -> ids(VectorIndex.annPq(spark, tmp, e, 3L, 5, rerank = 60)),
        "sq" -> ids(VectorIndex.annSq(spark, tmp, e, 3L, 5, rerank = 60)),
        "bq" -> ids(VectorIndex.annBq(spark, tmp, e, 3L, 5, rerank = 60)),
        "ivf" -> ids(VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(3L))),
        "ivf_filtered" -> ids(VectorIndex.annIvf(spark, tmp, qv, 5, 4, candidates = Some(cands))),
        "ivfpq" -> ids(VectorIndex.annIvfPq(spark, tmp, e, qv, 5, 4, Some(3L), rerank = 60)),
        "ivfpq_filtered" -> ids(VectorIndex.annIvfPq(spark, tmp, e, qv, 5, 4,
          rerank = 60, candidates = Some(cands))))

      // pre-delete: the exact copy ranks on every rung
      allPaths().foreach { case (path, got) =>
        assert(got.contains(7L), s"$path should return the exact copy pre-delete") }

      import spark.implicits._
      val n = VectorIndex.tombstone(spark, tmp, Seq(7L).toDF("vec_id"))
      assert(n == 1L)
      allPaths().foreach { case (path, got) =>
        assert(!got.contains(7L), s"$path leaked a tombstoned id")
        assert(got.size == 5, s"$path should still fill k from live vectors") }

      val removed = VectorIndex.compactTombstones(spark, tmp)
      assert(removed == Map("pq_codes" -> 1L, "sq_codes" -> 1L,
        "bq_sigs" -> 1L, "ivf_vectors" -> 1L, "ivfpq_codes" -> 1L))
      assert(!new java.io.File(s"$tmp/tombstones").exists())
      // physically gone from every artifact
      Seq("pq_codes", "sq_codes", "bq_sigs", "ivf_vectors", "ivfpq_codes")
        .foreach { a =>
          assert(spark.read.parquet(s"$tmp/$a")
            .filter(col("vec_id") === 7L).count() == 0, s"$a still holds the id") }
      // the inverted-list DIRECTORY layout survives the rewrite —
      // a flat rewrite would demote probe-time partition pruning
      Seq("ivf_vectors", "ivfpq_codes").foreach { a =>
        assert(new java.io.File(s"$tmp/$a").listFiles()
          .exists(_.getName.startsWith("cluster=")), s"$a lost its partition dirs") }
      // and serving stays clean on the tombstone-free fast path
      allPaths().foreach { case (path, got) =>
        assert(!got.contains(7L), s"$path resurrected a compacted id") }
      // re-compaction with no tombstones is a no-op
      assert(VectorIndex.compactTombstones(spark, tmp).isEmpty)
    } finally e.unpersist()
  }

  test("rebuild after takedown clears stale tombstones — rebuilt rows serve again") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecrebuild").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildBq(spark, e, tmp)
      VectorIndex.tombstone(spark, tmp, Seq(7L).toDF("vec_id"))
      val qv = e.filter(col("vec_id") === 3L).select("v")
        .head().getSeq[Double](0).toArray
      assert(!VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(3L))
        .collect().map(_.getLong(0)).contains(7L), "tombstone not serving")
      // REBUILD in the same dir — a fresh id space. Id 7 is live in
      // the new build; the stale tombstone must not filter it (and
      // the next compaction must not permanently delete it).
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildBq(spark, e, tmp)
      assert(!new java.io.File(s"$tmp/tombstones").exists(),
        "rebuild must clear the stale tombstone set")
      assert(VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(3L))
        .collect().map(_.getLong(0)).contains(7L),
        "rebuilt live row filtered by a stale tombstone")
      assert(VectorIndex.annBq(spark, tmp, e, 3L, 5, rerank = 60)
        .collect().map(_.getLong(0)).contains(7L))
      // compaction is now a no-op — nothing to permanently delete
      assert(VectorIndex.compactTombstones(spark, tmp).isEmpty)
      assert(spark.read.parquet(s"$tmp/ivf_vectors")
        .filter(col("vec_id") === 7L).count() == 1)
    } finally e.unpersist()
  }

  test("single-family rebuild over a post-delete corpus must NOT resurrect the id in co-located families") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecpartial").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildBq(spark, e, tmp)
      VectorIndex.tombstone(spark, tmp, Seq(7L).toDF("vec_id"))
      // operator refreshes ONLY the BQ family, over the corpus the
      // takedown left (id 7 excluded) — the tombstone protects the
      // untouched ivf_vectors, which still physically holds row 7,
      // and must survive this rebuild
      VectorIndex.buildBq(spark, e.filter(col("vec_id") =!= 7L), tmp)
      val qv = e.filter(col("vec_id") === 3L).select("v")
        .head().getSeq[Double](0).toArray
      assert(!VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(3L))
        .collect().map(_.getLong(0)).contains(7L),
        "partial-family rebuild resurrected a taken-down id in the IVF family")
      // and compaction still physically removes it everywhere
      val removed = VectorIndex.compactTombstones(spark, tmp)
      assert(removed("ivf_vectors") == 1L)
      assert(removed("bq_sigs") == 0L, "the refreshed family never held the id")
    } finally e.unpersist()
  }

  test("re-adding a taken-down id via single-family rebuild PURGES the stale row from sibling families") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecrevive").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildBq(spark, e, tmp)
      VectorIndex.tombstone(spark, tmp, Seq(7L).toDF("vec_id"))
      // content RE-ADDED: the BQ family alone rebuilds WITH id 7 in
      // its input. Reviving the (dir-wide) tombstone must not let the
      // untouched ivf_vectors — still physically holding the old,
      // taken-down row 7 — serve it again: the revive purges the
      // stale row from every non-rebuilt family first.
      VectorIndex.buildBq(spark, e, tmp)
      assert(!new java.io.File(s"$tmp/tombstones").exists(),
        "the revived id was the only tombstone — the set must clear")
      assert(spark.read.parquet(s"$tmp/ivf_vectors")
        .filter(col("vec_id") === 7L).count() == 0,
        "stale pre-takedown row survived in the sibling family")
      val qv = e.filter(col("vec_id") === 3L).select("v")
        .head().getSeq[Double](0).toArray
      assert(!VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(3L))
        .collect().map(_.getLong(0)).contains(7L),
        "IVF serves a stale row the takedown erased")
      // the REBUILT family serves the re-added content
      assert(VectorIndex.annBq(spark, tmp, e, 3L, 5, rerank = 60)
        .collect().map(_.getLong(0)).contains(7L),
        "the rebuilt family must serve the re-added id")
    } finally e.unpersist()
  }

  test("a fully compacted (flat-empty) partitioned artifact accepts appends and serves again") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecflatappend").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.tombstone(spark, tmp, (0L until 60L).toDF("vec_id"))
      VectorIndex.compactTombstones(spark, tmp)
      // the empty artifact was rewritten FLAT (schema-only); a
      // partitioned append beside the root-level file would leave a
      // mixed layout every later read rejects — the append must
      // restore the partitioned layout instead
      val batch = (100L until 120L).map(id =>
        (id, Array.tabulate(8)(j => math.sin(id * 1.7 + j * 0.9) + 0.1)))
        .toDF("vec_id", "v")
      assert(VectorIndex.appendIvf(spark, tmp, batch) == 20L)
      val back = spark.read.parquet(s"$tmp/ivf_vectors")
      assert(back.count() == 20L, "mixed flat+partitioned layout broke the read")
      assert(new java.io.File(s"$tmp/ivf_vectors").listFiles()
        .exists(_.getName.startsWith("cluster=")),
        "append did not restore the partitioned layout")
      val qv = batch.filter(col("vec_id") === 100L).select("v")
        .head().getSeq[Double](0).toArray
      val got = VectorIndex.annIvf(spark, tmp, qv, 5, 4, Some(100L))
        .collect().map(_.getLong(0))
      assert(got.nonEmpty && got.forall(_ >= 100L))
    } finally e.unpersist()
  }

  test("appends refuse batches that re-ingest tombstoned ids (deleted stays deleted)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecreappend").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildIvfPq(spark, e, tmp, nCells = 4)
      VectorIndex.tombstone(spark, tmp, Seq(7L).toDF("vec_id"))
      val batch = Seq((7L, Array.tabulate(8)(_ => 1.0)))
        .toDF("vec_id", "v")
      val ex = intercept[IllegalArgumentException] {
        VectorIndex.appendIvf(spark, tmp, batch)
      }
      assert(ex.getMessage.contains("7"), s"opaque error: ${ex.getMessage}")
      intercept[IllegalArgumentException] {
        VectorIndex.appendIvfPq(spark, tmp, batch)
      }
      // a clean batch still appends
      val clean = Seq((100L, Array.tabulate(8)(_ => 1.0)))
        .toDF("vec_id", "v")
      assert(VectorIndex.appendIvf(spark, tmp, clean) == 1L)
    } finally e.unpersist()
  }

  test("compacting a FULLY tombstoned index empties every artifact without losing schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vecall").toString
    val e = plantedVectors.cache()
    try {
      VectorIndex.buildIvf(spark, e, tmp, nCells = 4)
      VectorIndex.buildIvfPq(spark, e, tmp, nCells = 4)
      VectorIndex.buildPq(spark, e, tmp)
      VectorIndex.tombstone(spark, tmp, (0L until 60L).toDF("vec_id"))
      val removed = VectorIndex.compactTombstones(spark, tmp)
      assert(removed == Map("pq_codes" -> 60L, "ivf_vectors" -> 60L,
        "ivfpq_codes" -> 60L))
      assert(!new java.io.File(s"$tmp/tombstones").exists())
      // every artifact reads back empty WITH its schema intact —
      // including the partitioned layouts' cluster column (an empty
      // partitionBy write would emit no data files at all)
      Seq("pq_codes", "ivf_vectors", "ivfpq_codes").foreach { a =>
        val back = spark.read.parquet(s"$tmp/$a")
        assert(back.count() == 0, s"$a not emptied")
        assert(back.columns.contains("vec_id"), s"$a lost its schema") }
      Seq("ivf_vectors", "ivfpq_codes").foreach { a =>
        val back = spark.read.parquet(s"$tmp/$a")
        assert(back.columns.contains("cluster"), s"$a lost the cluster column")
        assert(back.filter(col("cluster") === 0).count() == 0) }
    } finally e.unpersist()
  }

  test("a crashed takedown resumes from the durable victim snapshot (no orphaned derivatives)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hipporesume").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (102L, 1L, 1, "beta fact two", 0, 13),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (102L, "beta"), (103L, "beta"))
      .toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq(
      (101L, Array(1f, 0f)), (102L, Array(0f, 1f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    HippoDb(facts, edges, entities, factEmb, None).save(tmp)
    // Simulate the crash window the snapshot exists for: the victim
    // snapshot is staged and the FACTS swap landed, then the process
    // died before the edge/embedding cascade. A naive re-run would
    // compute an empty victim set from the already-filtered facts
    // and orphan 101/102's edges + embeddings forever.
    facts.filter(col("doc_id") === 1L)
      .select(col("fact_id"), lit(null).cast("long").as("victim_doc"))
      .unionByName(Seq(1L).toDF("victim_doc")
        .select(lit(null).cast("long").as("fact_id"), col("victim_doc")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/_delete_victims_tmp")
    facts.filter(col("doc_id") =!= 1L)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/facts")
    // a fresh deleteDocuments must refuse while the snapshot exists
    val ex = intercept[IllegalStateException] {
      HippoDb.deleteDocuments(spark, tmp, Seq(2L))
    }
    assert(ex.getMessage.contains("resumeDeleteDocuments"))
    // resume finishes the cascade from the SELF-DESCRIBING snapshot —
    // no caller-supplied doc list to mistype
    val r = HippoDb.resumeDeleteDocuments(spark, tmp)
    assert(r.factsDeleted == 0L, "facts were already swapped pre-crash")
    assert(r.edgesDeleted == 2L && r.embeddingsDeleted == 2L &&
      r.entitiesPruned == 1L, s"resume left orphans: $r")
    assert(!new java.io.File(s"$tmp/_delete_victims_tmp").exists())
    val back = HippoDb.load(spark, tmp)
    assert(back.edges.select("fact_id").as[Long].collect().toSet == Set(103L))
    assert(back.factEmb.select("fact_id").as[Long].collect().toSet == Set(103L))
    assert(back.entities.select("entity").as[String].collect().toSet == Set("beta"))
    val (nF, nE, missing) = back.integrity
    assert(nF == 1 && nE == 1 && missing == 0)
    // with the snapshot cleared, resume has nothing to do
    intercept[IllegalStateException] {
      HippoDb.resumeDeleteDocuments(spark, tmp)
    }
  }

  test("the victim snapshot records indexDirs — resume tombstones the index without the caller re-typing dirs") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hipporesumeix").toString
    val ix = Files.createTempDirectory("hipporesumeix-vec").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (103L, "beta")).toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq((101L, Array(1f, 0f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    HippoDb(facts, edges, entities, factEmb, None).save(tmp)
    VectorIndex.buildIvf(spark,
      Seq((101L, Array(1.0, 0.0)), (103L, Array(1.0, 1.0))).toDF("vec_id", "v"),
      ix, nCells = 4)
    // Crash window: deleteDocuments(docIds=1, indexDirs=ix) staged its
    // snapshot and swapped facts, then died BEFORE index tombstoning.
    // The snapshot (new format) carries the dirs the call named.
    val snapRows: Seq[(Option[Long], Option[Long], Option[String], Option[String])] =
      Seq((Some(101L), None, None, None), // victim fact
        (None, Some(1L), None, None),     // victim doc
        (None, None, Some(ix), None))     // recorded index dir
    snapRows.toDF("fact_id", "victim_doc", "index_dir", "sketch_dir")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/_delete_victims_tmp")
    facts.filter(col("doc_id") =!= 1L)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/facts")
    // a resume with DISAGREEING dirs must fail fast before any step
    val ex = intercept[IllegalArgumentException] {
      HippoDb.resumeDeleteDocuments(spark, tmp, indexDirs = Seq("/somewhere/else"))
    }
    assert(ex.getMessage.contains("disagree"), s"got: ${ex.getMessage}")
    assert(new java.io.File(s"$tmp/_delete_victims_tmp").exists(),
      "a refused resume must leave the snapshot in place")
    // default resume reads the RECORDED dirs — the index gets its
    // tombstone without the caller knowing the original call's args
    val r = HippoDb.resumeDeleteDocuments(spark, tmp)
    assert(r.tombstonesAppended == 1L,
      s"recorded indexDir was not tombstoned on resume: $r")
    assert(spark.read.parquet(s"$ix/tombstones")
      .as[Long].collect().toSet == Set(101L),
      "the victim fact's vector must be tombstoned in the recorded index")
  }

  test("a crash during the snapshot write itself leaves a recoverable state (staging is cleared on retry)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hippostaging").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (103L, 2L, 0, "beta fact three", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (103L, "beta")).toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta").toDF("entity")
    val factEmb = Seq((101L, Array(1f, 0f)), (103L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    HippoDb(facts, edges, entities, factEmb, None).save(tmp)
    // a prior run died mid-snapshot-write: only the UNCOMMITTED
    // staging dir exists (facts untouched). A retry must not be
    // wedged by it — the rename commit point means a half-written
    // staging dir is garbage, not a takedown record.
    new java.io.File(s"$tmp/_delete_victims_tmp.staging").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$tmp/_delete_victims_tmp.staging/part-junk.parquet"), "not parquet")
    val r = HippoDb.deleteDocuments(spark, tmp, Seq(1L))
    assert(r.factsDeleted == 1L)
    assert(!new java.io.File(s"$tmp/_delete_victims_tmp.staging").exists(),
      "retry must clear the stale staging dir")
    assert(!new java.io.File(s"$tmp/_delete_victims_tmp").exists(),
      "committed takedown must clear the snapshot")
  }

  test("migrateSourcesProvenance backfills derivable legacy rows; migrated store erases like a new-schema store") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("hippomigrate").toString
    val facts = Seq(
      (101L, 1L, 0, "alpha fact one", 0, 14),
      (103L, 2L, 0, "beta fact three", 0, 15),
      (105L, 3L, 0, "gamma fact five", 0, 15))
      .toDF("fact_id", "doc_id", "chunk_idx", "fact_text", "start", "end")
    val edges = Seq((101L, "alpha"), (103L, "beta"), (105L, "gamma"))
      .toDF("fact_id", "entity")
    val entities = Seq("alpha", "beta", "gamma").toDF("entity")
    val factEmb = Seq(
      (101L, Array(1f, 0f)), (103L, Array(0f, 1f)), (105L, Array(1f, 1f)))
      .toDF("fact_id", "embedding")
    // LEGACY sources: NO doc_id column at all. Fact 101 and 103 carry
    // their self-spans (derivable: unique span match against the
    // fact's own start/end). Fact 105 carries its self-span TWICE —
    // the exact-duplicate accumulation shape where lineage cannot say
    // which row is the original — plus one off-span accumulated row:
    // all three underivable.
    val legacySources = Seq(
      (101L, "src-a", "ctx", 0, 14),
      (103L, "src-b", "ctx", 0, 15),
      (105L, "src-c", "ctx", 0, 15),
      (105L, "src-c", "ctx", 0, 15),
      (105L, "src-d", "ctx", 3, 9))
      .toDF("fact_id", "name", "description", "start", "end")
    HippoDb(facts, edges, entities, factEmb, Some(legacySources)).save(tmp)

    val r = HippoDb.migrateSourcesProvenance(spark, tmp)
    assert(r == HippoDb.MigrateReport(2L, 3L), s"got $r")
    val migrated = spark.read.parquet(s"$tmp/sources")
    assert(migrated.columns.contains("doc_id"), "schema upgrade missing")
    assert(migrated.filter(col("fact_id") === 101L).head()
      .getAs[Long]("doc_id") == 1L)
    assert(migrated.filter(col("fact_id") === 103L).head()
      .getAs[Long]("doc_id") == 2L)
    assert(migrated.filter(col("fact_id") === 105L && col("doc_id").isNotNull)
      .count() == 0, "ambiguous rows must stay null, never guessed")
    // idempotent: a second run has nothing derivable left
    assert(HippoDb.migrateSourcesProvenance(spark, tmp) ==
      HippoDb.MigrateReport(0L, 3L))

    // the migrated store now erases doc 1's span by PROVENANCE, like
    // a store born with the new schema (pre-migration the legacy
    // fallback would only erase it because fact 101 died — the
    // distinction matters for spans accumulated onto survivors, which
    // the null-kept rows of fact 105 represent: they survive
    // unrelated takedowns, the documented legacy behavior)
    val rep = HippoDb.deleteDocuments(spark, tmp, Seq(1L))
    assert(rep.sourcesDeleted == 1L)
    val after = spark.read.parquet(s"$tmp/sources")
    assert(after.filter(col("fact_id") === 101L).count() == 0)
    assert(after.count() == 4L, "unrelated + underivable spans survive")
  }

  // --------------------------- sketch artifacts: ghost matches

  test("SketchIndex.deleteDocs removes ghost matches from the doc-keyed artifacts; span index rebuilds") {
    import spark.implicits._
    import graft.store.SketchIndex
    val tmp = Files.createTempDirectory("sketchdel").toString
    val rnd = new scala.util.Random(41)
    def randText(k: Int) = (0 until k).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def randWords(k: Int) = (0 until k).map(_ => randText(6)).mkString(" ")
    // history: victim doc 7 + 19 others (word docs for minhash,
    // long char runs double as phash payloads)
    val victimText = randWords(80)
    val hist = (0L until 20L).map(i =>
      (i, if (i == 7L) victimText else randWords(80)))
    SketchIndex.buildCellIndex(spark, hist.toDF("doc_id", "text"), tmp)
    SketchIndex.buildPhashIndex(spark, hist.toDF("doc_id", "text"), tmp)
    SketchIndex.buildSpanBloom(spark, hist.toDF("doc_id", "text"), tmp)
    // an arriving batch that duplicates ONLY the victim
    val batch = Seq((100L, victimText)).toDF("doc_id", "text")
    assert(SketchIndex.checkBatchNeardup(spark, tmp, batch).count() == 1,
      "pre-delete: the near-dup ghost should flag")
    assert(SketchIndex.checkBatchPhash(spark, tmp, batch).count() == 1,
      "pre-delete: the phash ghost should flag")
    assert(SketchIndex.checkBatch(spark, tmp, batch).count() > 0,
      "pre-delete: the span ghost should flag")

    val removed = SketchIndex.deleteDocs(spark, tmp, Seq(7L))
    assert(removed == Map("cell_index" -> 1L, "phash_index" -> 1L))
    // ghost matches gone from both doc-keyed serving paths
    assert(SketchIndex.checkBatchNeardup(spark, tmp, batch).count() == 0)
    assert(SketchIndex.checkBatchPhash(spark, tmp, batch).count() == 0)
    // and physically gone from every table of both artifacts
    Seq("cell_index/cells", "cell_index/shingles",
      "phash_index/cells", "phash_index/sigs").foreach { t =>
      assert(spark.read.parquet(s"$tmp/$t")
        .filter(col("doc_id") === 7L).count() == 0, s"$t still holds doc 7") }
    // span_index: hash-only (no doc key, bloom can't unlearn) — the
    // takedown path is the per-version REBUILD over survivors
    SketchIndex.buildSpanBloom(spark,
      hist.filter(_._1 != 7L).toDF("doc_id", "text"), tmp)
    assert(SketchIndex.checkBatch(spark, tmp, batch).count() == 0,
      "post-rebuild: the span ghost should be gone")
    // deleting an id the artifacts never held is a no-op
    assert(SketchIndex.deleteDocs(spark, tmp, Seq(999L)) ==
      Map("cell_index" -> 0L, "phash_index" -> 0L))
  }

  // ------------------------------------ end-to-end via the facade

  test("planted-then-deleted fact is unfindable through the indexed retrieval facade") {
    val tmp = Files.createTempDirectory("graftdel").toString
    import spark.implicits._
    val docs = Seq(
      (1L, "zanzibar quixotic verbosity paragraph about forbidden content"),
      (2L, "ordinary paragraph discussing window aggregation strategies"),
      (3L, "another ordinary paragraph about broadcast join planning"))
      .toDF("doc_id", "text")
    val api = new Graft(spark)
    api.annotate(docs).save(tmp)
    val db = HippoDb.load(spark, tmp)
    api.buildFactIndex(db, tmp, nCells = 4)
    // pre-delete: the planted fact is the top hit for its own words
    val pre = api.closestFactsIndexed(db, tmp, "zanzibar quixotic verbosity", k = 10, nProbe = 4)
      .collect()
    assert(pre.exists(_.getAs[String]("fact_text").contains("zanzibar")))

    val r = HippoDb.deleteDocuments(spark, tmp, Seq(1L), indexDirs = Seq(tmp))
    assert(r.factsDeleted > 0 && r.tombstonesAppended == r.factsDeleted)

    val db2 = HippoDb.load(spark, tmp)
    val (nF, nE, missing) = db2.integrity
    assert(nF == nE && missing == 0)
    assert(db2.facts.filter(col("doc_id") === 1L).count() == 0)
    // all-probe query over the deleted fact's own words returns nothing of it
    val post = api.closestFactsIndexed(db2, tmp, "zanzibar quixotic verbosity", k = 10, nProbe = 4)
      .collect()
    assert(post.nonEmpty, "live facts should still serve")
    assert(!post.exists(_.getAs[String]("fact_text").contains("zanzibar")))
    // compaction: bytes reclaimed, serving unchanged
    val removed = VectorIndex.compactTombstones(spark, tmp)
    assert(removed("ivf_vectors") == r.factsDeleted)
    val postCompact = api.closestFactsIndexed(db2, tmp, "zanzibar quixotic verbosity", k = 10, nProbe = 4)
      .collect()
    assert(postCompact.map(_.getAs[Long]("fact_id")).toSet ==
      post.map(_.getAs[Long]("fact_id")).toSet)
  }
}
