package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.api.Graft
import graft.functions.{Embedder, HashEmbedder}
import graft.sources.Tables
import graft.store.{HippoDb, VectorIndex}

/** Single-query serving from the in-JVM IVF snapshot: the same rows as
  * the Spark plan, reopened on every index change, one labelled job
  * per warm call and no session state left behind. */
class IvfSnapshotSpec extends SparkSpec {

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Bit-level view of (vec_id, cos) rows: NaN and -0.0 compare
    * exactly. */
  private def bits(rows: Seq[(Long, Double)]) =
    rows.map { case (id, c) => (id, java.lang.Double.doubleToRawLongBits(c)) }

  private def sparkRows(dir: String, q: Array[Double], k: Int, nProbe: Int) =
    VectorIndex.annIvf(spark, dir, q, k, nProbe, excludeVecId = None)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def writeIndex(vecs: Seq[(Long, Array[Double])], nCells: Int): String = {
    import spark.implicits._
    val dir = tmp("snap_ivf")
    VectorIndex.buildIvf(spark, vecs.toDF("vec_id", "v"), dir, nCells = nCells)
    dir
  }

  /** Jobs a block starts, as their descriptions (null when unset). */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftBus.drain(sc)
      (out, seen.synchronized(seen.toList))
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark plan, forced through the budget seam. */
  private def sparkOnly(g: Graft): Graft = { g.snapshots.budgetBytes = 0L; g }

  private lazy val docs = Tables.documents(spark, sf0001)

  test("snapshot topK equals annIvf bit for bit: random queries, every probe depth, ties, NaN, tombstones") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = (0 until 300).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // tied cosines: exact copies and positive rescalings under new ids
    val copies = base.take(20).map { case (i, v) => (1000L + i, v.clone()) }
    val scaled = base.slice(20, 40).map { case (i, v) => (2000L + i, v.map(_ * 3.0)) }
    val dir = writeIndex(base ++ copies ++ scaled, nCells = 8)
    import spark.implicits._
    VectorIndex.tombstone(spark, dir, Seq(3L, 1004L, 2025L, 150L).toDF("vec_id"))
    val snap = VectorIndex.open(spark, dir).get
    assert(snap.nCells == 8 && snap.topK(Array.fill(dim)(1.0), 1000, 8).get.length == 336)
    val queries =
      Seq.fill(6)(Array.fill(dim)(rnd.nextGaussian())) ++
        Seq(base(5)._2, base(25)._2.map(_ * 0.5), // exact ties at cos 1
          Array.fill(dim)(1e-3), Array.tabulate(dim)(j => if (j == 0) Double.NaN else 1.0))
    for (q <- queries; nProbe <- Seq(0, 1, 4, snap.nCells, snap.nCells + 5)) {
      val k = if (nProbe == 4) 400 else 10
      val got = snap.topK(q, k, nProbe).get
      val want = sparkRows(dir, q, k, nProbe)
      assert(bits(got) == bits(want),
        s"nProbe=$nProbe q=${q.take(3).mkString(",")}: $got vs $want")
    }
    // the NaN query scores NaN everywhere: ordered by vec_id alone
    val nan = snap.topK(queries.last, 5, snap.nCells).get
    assert(nan.forall(_._2.isNaN) && nan.map(_._1) == nan.map(_._1).sorted)
  }

  test("zero vectors defer to the Spark plan: a stored zero vector, an empty-text query") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian()))) :+
      (999L -> Array.fill(8)(0.0))
    val dir = writeIndex(vecs, nCells = 4)
    val snap = VectorIndex.open(spark, dir).get
    val q = Array.fill(8)(rnd.nextGaussian())
    for (nProbe <- 0 to 4) {
      val want = Try(sparkRows(dir, q, 5, nProbe))
      snap.topK(q, 5, nProbe) match {
        case Some(got) => assert(want.toOption.map(bits).contains(bits(got)), s"nProbe=$nProbe")
        // the zero vector's cell is probed: Spark divides by zero
        case None => assert(want.isFailure, s"nProbe=$nProbe: $want")
      }
    }
    assert(snap.topK(Array.fill(8)(0.0), 5, 1).isEmpty)
    // through the facade, with an embedder that maps empty text to the
    // zero vector: the snapshot-served instance fails or answers
    // exactly as the Spark plan does, with ANSI on and off
    val zeroEmpty = new Embedder {
      private val h = new HashEmbedder(64)
      def dim: Int = 64
      def embed(t: String): Array[Float] = if (t.isEmpty) new Array[Float](64) else h.embed(t)
    }
    val served = new Graft(spark, zeroEmpty)
    val planned = sparkOnly(new Graft(spark, zeroEmpty))
    val db = served.annotate(docs)
    val idx = tmp("snap_zero")
    served.buildFactIndex(db, idx, nCells = 4)
    def outcome(g: Graft) = Try(g.closestFactsIndexed(db, idx, "", 5, 4).collect().toSeq)
      .toEither.left.map(_.getClass)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (mode <- Seq("true", "false")) {
        spark.conf.set("spark.sql.ansi.enabled", mode)
        val (a, b) = (outcome(served), outcome(planned))
        assert(a == b, s"ansi=$mode: $a vs $b")
        assert(a.isLeft == (mode == "true"), s"ansi=$mode: $a")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("facade parity: closestFactsIndexed, retrieve and answer through the snapshot equal the Spark plan") {
    val served = new Graft(spark)
    val planned = sparkOnly(new Graft(spark))
    val db = served.annotate(docs)
    db.facts.cache(); db.factEmb.cache()
    val idx = tmp("snap_api")
    served.buildFactIndex(db, idx, nCells = 8)
    val texts = Seq("spark window join", "stream processing", "", "what joins windows")
    for (text <- texts; nProbe <- Seq(0, 1, 4, 8, 13)) {
      val a = served.closestFactsIndexed(db, idx, text, 5, nProbe)
      val b = planned.closestFactsIndexed(db, idx, text, 5, nProbe)
      assert(a.schema == b.schema, s"${a.schema} vs ${b.schema}")
      assert(a.collect().toSeq == b.collect().toSeq, s"'$text' nProbe=$nProbe")
    }
    // probe-all equals brute closestFacts
    val brute = served.closestFacts(db, "spark window join", 5)
      .select("fact_id", "cos").collect().toSeq
    assert(served.closestFactsIndexed(db, idx, "spark window join", 5, 8)
      .select("fact_id", "cos").collect().toSeq == brute)
    // facts missing from db drop out of both
    val top = served.closestFactsIndexed(db, idx, "spark window join", 5, 8)
      .head().getLong(0)
    val partial = db.copy(facts = db.facts.filter(col("fact_id") =!= top))
    val a = served.closestFactsIndexed(partial, idx, "spark window join", 5, 8).collect().toSeq
    assert(a.length == 4 && !a.exists(_.getLong(0) == top))
    assert(a == planned.closestFactsIndexed(partial, idx, "spark window join", 5, 8).collect().toSeq)
    // retrieve/answer prompts are the same strings
    for (text <- texts) {
      assert(served.retrieve(db, text, 5, Some(idx))._2 == planned.retrieve(db, text, 5, Some(idx))._2)
      val (_, pa, aa) = served.answer(db, text, 5, Some(idx), 8)
      val (_, pb, ab) = planned.answer(db, text, 5, Some(idx), 8)
      assert(pa == pb && aa == ab)
    }
    db.facts.unpersist(); db.factEmb.unpersist()
  }

  test("staleness: appends, deletes, compaction and rebuilds are served at once; the marker gates the snapshot") {
    val g = new Graft(spark)
    val st = tmp("snap_store")
    val ix = tmp("snap_index")
    g.annotate(docs).save(st)
    g.buildFactIndex(HippoDb.load(spark, st), ix, nCells = 8)
    val q = "spark window join"
    def ids(db: HippoDb, text: String) =
      g.closestFactsIndexed(db, ix, text, 10, 8).collect().map(_.getLong(0)).toSeq
    /** The call after a reopen reuses the snapshot: one lookup job. */
    def reused(db: HippoDb): Unit = {
      val (_, jobs) = jobsOf(g.retrieve(db, q, 10, Some(ix), 8))
      assert(jobs == Seq("graft.serve.lookup"), jobs)
    }
    val db0 = HippoDb.load(spark, st)
    ids(db0, q)
    reused(db0)

    // append: the new fact is retrievable at probe-all
    import spark.implicits._
    val text = "zanzibar quixotic verbosity xylophone narwhal"
    val delta = g.annotate(Seq((900001L, text)).toDF("doc_id", "text"))
    HippoDb.append(delta, st)
    VectorIndex.appendIvf(spark, ix,
      delta.factEmb.select(col("fact_id").as("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")))
    val db1 = HippoDb.load(spark, st)
    val newId = delta.facts.select("fact_id").head().getLong(0)
    assert(ids(db1, text).head == newId)
    reused(db1)

    // delete: the deleted fact is not served, not even by the index
    HippoDb.deleteDocuments(spark, st, Seq(900001L), indexDirs = Seq(ix))
    val db2 = HippoDb.load(spark, st)
    assert(!ids(db2, text).contains(newId))
    val qv = new HashEmbedder(64).embed(text).map(_.toDouble)
    assert(!g.snapshots(spark, ix).get.topK(qv, 10, 8).get.exists(_._1 == newId))
    reused(db2)

    // compaction: the same ids as before it
    val before = ids(db2, q)
    assert(VectorIndex.compactTombstones(spark, ix)("ivf_vectors") == 1L)
    assert(ids(db2, q) == before)
    reused(db2)

    // rebuild: a tombstoned live fact is revived by the build
    val live = before.head
    VectorIndex.tombstone(spark, ix, Seq(live).toDF("vec_id"))
    assert(!ids(db2, q).contains(live))
    g.buildFactIndex(db2, ix, nCells = 8)
    assert(ids(db2, q).contains(live))
    reused(db2)

    // no marker: the Spark plan serves, with the same rows
    val served = ids(db2, q)
    Files.delete(java.nio.file.Paths.get(ix, "_version"))
    val (planned, jobs) = jobsOf(ids(db2, q))
    assert(planned == served)
    assert(jobs.size > 1 && !jobs.exists(d => d != null && d.startsWith("graft.serve")), jobs)
  }

  test("mechanism: one labelled job per warm call, the Spark plan over budget, no persisted RDDs left") {
    val sc = spark.sparkContext
    val g = new Graft(spark)
    val db = g.annotate(docs)
    val idx = tmp("snap_jobs")
    g.buildFactIndex(db, idx, nCells = 8)
    val rdds = sc.getPersistentRDDs.keySet
    sc.setJobDescription("caller.phase")
    try {
      val (_, cold) = jobsOf(g.retrieve(db, "stream processing", 10, Some(idx)))
      assert(cold.count(_ == "graft.serve.lookup") == 1 && cold.contains("graft.serve.open"), cold)
      assert(cold.forall(Set("graft.serve.open", "graft.serve.lookup")), cold)
      for (text <- Seq("spark window join", "what joins windows", "")) {
        val (_, warm) = jobsOf(g.answer(db, text, 10, Some(idx)))
        assert(warm == Seq("graft.serve.lookup"), warm)
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller.phase")
      // over the budget: today's plan, same rows; sizing the index
      // (parquet schema inference) runs once per version
      val over = sparkOnly(new Graft(spark))
      val (_, first) = jobsOf(over.retrieve(db, "stream processing", 10, Some(idx)))
      assert(!first.contains("graft.serve.lookup") && first.contains("caller.phase"), first)
      val (rows, planned) = jobsOf(over.retrieve(db, "stream processing", 10, Some(idx))._1.collect())
      assert(planned.size > 1 && planned.forall(_ == "caller.phase"), planned)
      assert(rows.toSeq == g.retrieve(db, "stream processing", 10, Some(idx))._1.collect().toSeq)
    } finally sc.setJobDescription(null)
    assert(sc.getPersistentRDDs.keySet == rdds)
  }
}
