package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.store.{HippoDb, SketchIndex, VectorIndex}
import graft.streaming.StreamOps

/** Streaming CRASH-RECOVERY evidence (VERDICT r10 #5): the
  * checkpointed foreachBatch ingests (st03 annotation, st11 IVFADC
  * append, st12 phash check) claim restart-stability — here a query
  * actually stops mid-stream, data arrives while it is down, and a
  * NEW query resumes from the checkpoint. The contract under test:
  * committed batches never re-deliver (their side effects are
  * append-mode — a replay would DUPLICATE store rows), pending data
  * processes exactly once, and the resumed batchId sequence
  * continues (st03's compaction cadence keys on it). */
class CrashRecoverySpec extends SparkSpec {

  test("st03: restart from checkpoint — no re-append of committed batches, compaction cadence survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val live = java.nio.file.Files.createTempDirectory("st03crash").toString
    val ref = java.nio.file.Files.createTempDirectory("st03ref").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st03ckpt").toString
    val docs = Tables.documents(spark, sf0001).limit(32)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val chunks = docs.grouped(8).toSeq // batches 0..3
    val api = new graft.api.Graft(spark)

    // --- run with a mid-stream stop/restart -------------------------
    val s1 = MemoryStream[(Long, String)]
    val q1 = StreamOps.annotateStream(spark, s1.toDF().toDF("doc_id", "text"),
      api, live, compactEvery = 2, minSmallFiles = 2, checkpoint = Some(ckpt))
    try {
      s1.addData(chunks(0).toSeq); q1.processAllAvailable()
      s1.addData(chunks(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // the query is DOWN; a batch arrives meanwhile
    s1.addData(chunks(2).toSeq)
    val factsAtStop = HippoDb.load(spark, live).facts.count()
    // resume from the SAME checkpoint over the same source
    val q2 = StreamOps.annotateStream(spark, s1.toDF().toDF("doc_id", "text"),
      api, live, compactEvery = 2, minSmallFiles = 2, checkpoint = Some(ckpt))
    try {
      q2.processAllAvailable() // drains the pending chunk exactly once
      s1.addData(chunks(3).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    // --- single-run reference over the same batch sequence ----------
    val s2 = MemoryStream[(Long, String)]
    val qr = StreamOps.annotateStream(spark, s2.toDF().toDF("doc_id", "text"),
      api, ref, compactEvery = 2, minSmallFiles = 2)
    try chunks.foreach { c => s2.addData(c.toSeq); qr.processAllAvailable() }
    finally qr.stop()

    val dbLive = HippoDb.load(spark, live)
    val dbRef = HippoDb.load(spark, ref)
    // no committed batch re-delivered: fact ids unique, counts equal
    assert(dbLive.facts.count() == dbRef.facts.count())
    assert(dbLive.facts.select("fact_id").distinct().count() == dbLive.facts.count(),
      "restart re-appended a committed batch (duplicate fact ids)")
    assert(dbLive.facts.count() > factsAtStop, "pending chunk was never processed")
    // row-for-row store parity with the uninterrupted run
    def factSet(db: HippoDb) = db.facts
      .select("fact_id", "doc_id", "fact_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(factSet(dbLive) == factSet(dbRef))
    assert(dbLive.factEmb.count() == dbRef.factEmb.count())
    assert(dbLive.edges.count() == dbRef.edges.count())
    val (nF, nE, missing) = dbLive.integrity
    assert(nF == nE && missing == 0L)
    // compaction cadence survived the restart: batchId resumed at 2
    // (batchId % 2 == 0 fires the pass), so the facts dir is bounded
    // like the reference — a reset sequence would skip the pass
    // (batch 0 is guarded) and leave one+ file per micro-batch.
    def partFiles(dir: String): Int = {
      val d = new java.io.File(s"$dir/facts")
      d.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
    }
    assert(partFiles(live) <= partFiles(ref) + 2,
      s"facts files ${partFiles(live)} vs reference ${partFiles(ref)} — did compaction skip after restart?")
  }

  test("st11: restart from checkpoint — appendIvfPq side effects are effectively-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.toDouble
    val dir = java.nio.file.Files.createTempDirectory("st11crash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st11ckpt").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val n = e.count()
    val half = n / 2
    VectorIndex.buildIvfPq(spark, e.filter(col("vec_id") < half), dir)
    val rest = e.filter(col("vec_id") >= half).as[(Long, Seq[Double])].collect()
    val (c1, c2) = rest.splitAt(rest.length / 2)

    val stream = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamOps.ivfPqIngestStream(
      stream.toDF().toDF("vec_id", "v"), dir, checkpoint = Some(ckpt))
    try { stream.addData(c1.toSeq); q1.processAllAvailable() } finally q1.stop()
    stream.addData(c2.toSeq) // arrives while the query is down
    val q2 = StreamOps.ivfPqIngestStream(
      stream.toDF().toDF("vec_id", "v"), dir, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    val codes = spark.read.parquet(s"$dir/ivfpq_codes")
    // a replayed batch would duplicate code rows — appendIvfPq is
    // at-least-once; the CHECKPOINT is what makes it effectively-once
    assert(codes.count() == n, s"codes ${codes.count()} != corpus $n")
    assert(codes.select(countDistinct(col("vec_id"))).head().getLong(0) == n)
    // streamed-through-restart rows serve like built rows
    val qv = e.filter(col("vec_id") === n - 1).select("v").head().getSeq[Double](0).toArray
    val got = VectorIndex.annIvfPq(spark, dir, e, qv, 5, excludeVecId = Some(n - 1))
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.size == 5)
  }

  test("st11b: plain-IVF ingest restart — appended vectors exactly once, served like built ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.toDouble
    val dir = java.nio.file.Files.createTempDirectory("st11bcrash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st11bckpt").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val n = e.count()
    val half = n / 2
    VectorIndex.buildIvf(spark, e.filter(col("vec_id") < half), dir)
    val rest = e.filter(col("vec_id") >= half).as[(Long, Seq[Double])].collect()
    val (c1, c2) = rest.splitAt(rest.length / 2)

    val stream = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamOps.ivfIngestStream(
      stream.toDF().toDF("vec_id", "v"), dir, checkpoint = Some(ckpt))
    try { stream.addData(c1.toSeq); q1.processAllAvailable() } finally q1.stop()
    stream.addData(c2.toSeq) // arrives while the query is down
    val q2 = StreamOps.ivfIngestStream(
      stream.toDF().toDF("vec_id", "v"), dir, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    val vecs = spark.read.parquet(s"$dir/ivf_vectors")
    assert(vecs.count() == n, s"vectors ${vecs.count()} != corpus $n")
    assert(vecs.select(countDistinct(col("vec_id"))).head().getLong(0) == n,
      "restart duplicated an appended batch")
    // streamed-through-restart rows serve exactly: all-probe over the
    // artifact == brute over the full corpus
    val nCells = VectorIndex.loadIvfCentroids(spark, dir).length
    val qv = e.filter(col("vec_id") === (n - 1)).select("v")
      .head().getSeq[Double](0).toArray
    val got = VectorIndex.annIvf(spark, dir, qv, 5, nCells, Some(n - 1))
      .select("vec_id").as[Long].collect().toSeq
    val brute = e.filter(col("vec_id") =!= (n - 1))
      .select(col("vec_id"), graft.functions.VectorFunctions.cosineNative6(
        col("v"), array(qv.toIndexedSeq.map(lit): _*)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == brute, "all-probe after streamed ingest must equal brute")
  }

  // ---------------- fMGWS state-store recovery (second session) ----
  // The stateful operators (st02 sessionize, st13 funnel) carry
  // OPEN sessions / partial funnels in the state store. Here a
  // session/funnel deliberately SPANS the stop point: its first
  // events arrive before the stop, its completion after the restart
  // — only a restored state store can stitch them into the single
  // session/conversion the uninterrupted run emits.

  /** Drive `mk(stream)` over the chunk sequence to a parquet sink
    * with `ckpt`, stopping+restarting after `stopAfter` chunks (or
    * uninterrupted when stopAfter < 0). Returns the sink dir. */
  private def runChunked[T: org.apache.spark.sql.Encoder](
      chunks: Seq[Seq[T]], stopAfter: Int,
      mk: MemoryStream[T] => org.apache.spark.sql.DataFrame): String = {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("fmgws_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fmgws_ckpt").toString
    val stream = MemoryStream[T]
    def start() = mk(stream).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    var q = start()
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        if (i == stopAfter) {
          q.stop() // crash point: the next chunk arrives while down
          stream.addData(c)
          q = start() // resumes from the checkpointed offsets + state
          q.processAllAvailable()
        } else {
          stream.addData(c); q.processAllAvailable()
        }
      }
    } finally q.stop()
    out
  }

  test("st02 fMGWS: an open session spanning the restart is stitched by the restored state store") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 10_000_000_000_000L // epoch ms base
    def ev(u: Long, offMin: Long) =
      StreamOps.Ev(u, new Timestamp(t0 + offMin * 60_000L), 1.0)
    val chunks: Seq[Seq[StreamOps.Ev]] = Seq(
      Seq(ev(1, 0), ev(1, 5), ev(2, 1)), // sessions OPEN here
      Seq(ev(1, 10), ev(2, 120)), // arrives while DOWN: u1 extends, u2 gap-closes
      Seq(ev(9, 6000)), // watermark mover: times out everything open
      Seq(ev(9, 12000))) // one more batch so armed timeouts fire
    def mk(s: MemoryStream[StreamOps.Ev]) =
      StreamOps.sessionize(spark, s.toDS()).toDF()
    val live = runChunked(chunks, stopAfter = 1, mk)
    val ref = runChunked(chunks, stopAfter = -1, mk)
    def rows(dir: String) = spark.read.parquet(dir)
      .select("user_id", "session_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(live) == rows(ref),
      s"restarted sessions ${rows(live)} != uninterrupted ${rows(ref)}")
    // the session spanning the crash is ONE 3-event session — a lost
    // state store would have split it (2 then 1) and changed u2's
    // counts too
    assert(rows(live).contains((1L, t0, 3L)),
      s"u1's crash-spanning session missing/split: ${rows(live)}")
    // u2's single pre-crash event closed as its own session when the
    // post-restart event arrived 2h later (gap > 30m)
    assert(rows(live).exists { case (u, sid, n) => u == 2L && n == 1L && sid == t0 + 60_000L },
      s"u2's gap-closed pre-crash session lost: ${rows(live)}")
  }

  test("st13 fMGWS: a funnel whose stages straddle the restart still converts") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 10_000_000_000_000L
    def fe(u: Long, offMin: Long, t: String) =
      StreamOps.FEv(u, new Timestamp(t0 + offMin * 60_000L), t)
    val chunks: Seq[Seq[StreamOps.FEv]] = Seq(
      Seq(fe(1, 0, "view")), // funnel OPENS pre-crash
      Seq(fe(1, 1, "click")), // arrives while DOWN
      Seq(fe(1, 2, "purchase"), fe(7, 60, "view"))) // completes after restart
    def mk(s: MemoryStream[StreamOps.FEv]) =
      StreamOps.funnelStream(spark, s.toDS()).toDF()
    val live = runChunked(chunks, stopAfter = 1, mk)
    val ref = runChunked(chunks, stopAfter = -1, mk)
    def rows(dir: String) = spark.read.parquet(dir)
      .select("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(live) == rows(ref),
      s"restarted funnel ${rows(live)} != uninterrupted ${rows(ref)}")
    // full conversion across the crash: a lost state store would have
    // dropped the click (stage -1 + click is not a valid step) and
    // the purchase with it
    assert(Set("1_view", "2_click", "3_purchase")
      .forall(s => rows(live).contains((1L, s))),
      s"u1's straddling funnel did not convert: ${rows(live)}")
  }

  test("st12: restart from checkpoint — sink rows match the uninterrupted run, batch ids keep climbing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("st12crash").toString
    val rnd = new scala.util.Random(7)
    def randText(k: Int) = (0 until k).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val hist = (0L until 20L).map(i => (i, randText(600)))
    // one planted dup per chunk so every micro-batch emits rows
    val arrivals = Seq((100L, hist(3)._2), (101L, randText(640)),
      (102L, hist(9)._2), (103L, randText(640)))
    SketchIndex.buildPhashIndex(spark, hist.toDF("doc_id", "text"), dir)

    def run(out: String, ckpt: Option[String], restart: Boolean): Unit = {
      val stream = MemoryStream[(Long, String)]
      val chunks = arrivals.grouped(2).toSeq
      val q1 = StreamOps.phashCheckStream(
        stream.toDF().toDF("doc_id", "text"), dir, out, ckpt)
      try { stream.addData(chunks(0)); q1.processAllAvailable() } finally if (restart) q1.stop()
      stream.addData(chunks(1))
      if (restart) {
        val q2 = StreamOps.phashCheckStream(
          stream.toDF().toDF("doc_id", "text"), dir, out, ckpt)
        try q2.processAllAvailable() finally q2.stop()
      } else {
        try q1.processAllAvailable() finally q1.stop()
      }
    }
    val outA = java.nio.file.Files.createTempDirectory("st12outA").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st12ckptA").toString
    run(outA, Some(ckpt), restart = true)
    val outB = java.nio.file.Files.createTempDirectory("st12outB").toString
    run(outB, None, restart = false)

    def rows(out: String) = spark.read.parquet(out)
      .select("batch_doc", "n_hist_dups", "best_hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(outA) == rows(outB),
      s"restarted sink ${rows(outA)} != uninterrupted sink ${rows(outB)}")
    // batchId continuity across the restart: the post-restart batch
    // carries a HIGHER id than the pre-stop one (a reset sequence
    // would re-number from 0)
    val byBatch = spark.read.parquet(outA)
      .groupBy("batch_id").agg(min("batch_doc").as("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byBatch.size == 2 && byBatch.keys.max > byBatch.keys.min,
      s"expected two distinct climbing batch ids, got $byBatch")
    val preStopBatch = byBatch.filter(_._2 == 100L).keys.head
    val postRestartBatch = byBatch.filter(_._2 == 102L).keys.head
    assert(postRestartBatch > preStopBatch,
      s"batch ids did not climb across the restart: $byBatch")
  }
}
