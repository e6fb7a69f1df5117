package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.CoreQueries
import graft.sources.Tables
import graft.streaming.StreamOps

/** st01/st02: streaming forms must agree with their batch mirrors
  * (q08/q09) on the same data. */
class StreamingSpec extends SparkSpec {

  private def eventsBatch = Tables.events(spark, sf0001).limit(400).cache()

  test("st01 streaming windowed counts == batch q08 on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.windowedCounts(sdf)
      .writeStream.format("memory").queryName("st01_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("st01_out")
      .select("hour", "event_type", "n", "total_value")
    val batch = StreamOps.windowedCounts(eventsBatch)
      .select("hour", "event_type", "n", "total_value")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming and batch windowed counts differ")
    assert(streamed.count() > 0)
  }

  test("st20 streaming windowed HLL cardinality == batch sketch exactly; estimates near exact distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("ts").cast("timestamp"), col("event_type"), col("user_id"))
      .as[(Timestamp, String, Long)].collect().toSeq.sortBy(_._1.getTime)

    val stream = MemoryStream[(Timestamp, String, Long)]
    // two chunks: the sketch must MERGE across micro-batches in the
    // state store, not just aggregate one batch
    val (c1, c2) = rows.splitAt(rows.length / 2)
    stream.addData(c1)
    val sdf = stream.toDF().toDF("ts", "event_type", "user_id")
    val q = StreamOps.cardinalityStream(sdf)
      .writeStream.format("memory").queryName("st20_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(c2)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st20_out")
    val batch = StreamOps.cardinalityStream(
      eventsBatch.select(col("ts"), col("event_type"), col("user_id")))
    // the sketch is a deterministic function of the value SET —
    // stream == batch EXACTLY, no tolerance, any chunking
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream HLL estimate differs from batch on identical windows")
    // and the estimate tracks the exact distinct count
    val exact = eventsBatch
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("user_id"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(countDistinct("user_id").as("exact_users"))
      .select(col("w.start").as("hour"), col("event_type"), col("exact_users"))
    val joined = streamed.join(exact, Seq("hour", "event_type")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (est, ex) = (r.getAs[Long]("approx_users"), r.getAs[Long]("exact_users"))
      assert(math.abs(est - ex) <= math.max(1L, math.round(0.05 * ex)),
        s"estimate $est too far from exact $ex at ${r.getAs[Any]("hour")}")
    }
  }

  test("st14 streaming sliding-window counts == batch q18 kernel on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.slidingCounts(sdf)
      .writeStream.format("memory").queryName("st14_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val cols = Seq("win_start", "event_type", "n", "total_value")
    val streamed = spark.table("st14_out").select(cols.map(col): _*)
    val batch = StreamOps.slidingCounts(eventsBatch).select(cols.map(col): _*)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming and batch sliding-window counts differ")
    // every event lands in exactly length/slide = 4 hop cells
    val nEvents = eventsBatch.count()
    val cellTotal = streamed.agg(sum("n")).head().getLong(0)
    assert(cellTotal == 4 * nEvents,
      s"hop fan-out: expected ${4 * nEvents} cell-events, got $cellTotal")
  }

  test("st15 streaming anomaly rows == batch q19 kernel, bit-exact incl. rounding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // alternating 8/12 events per hour for 14 hours, then a 30-event
    // spike; a far-future sentinel type advances the watermark so
    // every real bucket closes (the sentinel's own bucket stays open
    // and emits nothing on either side: its history is empty)
    val base = 1700002800000L // hour-aligned epoch ms
    def hour(h: Int, i: Int) = new Timestamp(base + h * 3600000L + i * 1000L)
    def bucket(h: Int, n: Int) = (0 until n).map(i => StreamOps.AEv("tickk", hour(h, i)))
    val counts = (0 until 14).map(h => if (h % 2 == 0) 12 else 8) :+ 30
    val evs = counts.zipWithIndex.flatMap { case (n, h) => bucket(h, n) }
    val sentinel = StreamOps.AEv("zzmark", hour(50, 0))

    val stream = MemoryStream[StreamOps.AEv]
    val q = StreamOps.anomalyStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st15_out")
      .outputMode("append").start()
    try {
      val (c1, c2) = evs.splitAt(evs.length / 2)
      stream.addData(c1); q.processAllAvailable()
      stream.addData(c2 :+ sentinel); q.processAllAvailable()
      // one more batch so the sentinel-advanced watermark fires timeouts
      stream.addData(Seq(StreamOps.AEv("zzmark", hour(51, 0)))); q.processAllAvailable()
    } finally q.stop()

    def key(typ: String, ms: Long) = (typ, ms)
    val streamed = spark.table("st15_out").collect().map { r =>
      key(r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)), r.getInt(7)))
    }.toMap
    val batchDf = (evs :+ sentinel).toDS()
      .select(col("event_type"), col("ts"))
    val batch = CoreQueries.rollingAnomaly(batchDf).collect().map { r =>
      key(r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)), r.getInt(7)))
    }.toMap
    assert(streamed == batch,
      s"stream vs batch anomaly rows:\n$streamed\nvs\n$batch")
    // the planted spike is present, flagged, and the only anomaly
    val spike = streamed(key("tickk", base + 14 * 3600000L))
    assert(spike._1 == 30L && spike._6 == 1, spike.toString)
    assert(streamed.values.count(_._6 == 1) == 1)
    assert(streamed.nonEmpty && streamed.keys.forall(_._1 == "tickk"))
  }

  test("st01 watermark drops events later than 1 hour behind the max ts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t5h = java.sql.Timestamp.valueOf("2024-01-01 05:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 00:20:00") // 4h40m late

    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.windowedCounts(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("st01_late")
      .outputMode("append").start() // append emits only FINALIZED windows
    try {
      stream.addData(Seq((t0, "click", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq((t5h, "click", 1.0))) // advances watermark to 04:00
      q.processAllAvailable()
      stream.addData(Seq((late, "click", 99.0))) // behind watermark -> dropped
      q.processAllAvailable()
      stream.addData(Seq((java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "click", 1.0)))
      q.processAllAvailable() // finalize the 05:00 window too
      val rows = spark.table("st01_late").collect()
      val hour0 = rows.filter(_.getAs[java.sql.Timestamp]("hour").toString.startsWith("2024-01-01 00:"))
      assert(hour0.length == 1 && hour0.head.getAs[Long]("n") == 1,
        s"late event leaked into finalized window: ${hour0.mkString(";")}")
    } finally q.stop()
  }

  test("st03 incremental annotation appends micro-batches into the store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("hippostream").toString
    val docs = Tables.documents(spark, sf0001).limit(40)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(20)

    val stream = MemoryStream[(Long, String)]
    val api = new graft.api.Graft(spark)
    val q = StreamOps.annotateStream(spark,
      stream.toDF().toDF("doc_id", "text"), api, tmp)
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      val after1 = graft.store.HippoDb.load(spark, tmp).facts.count()
      stream.addData(b2.toSeq); q.processAllAvailable()
      val db = graft.store.HippoDb.load(spark, tmp)
      assert(db.facts.count() > after1, "second batch appended nothing")
      // matches a one-shot batch annotate over the same 40 docs
      val batchDb = api.annotate(
        Tables.documents(spark, sf0001).limit(40))
      assert(db.facts.count() == batchDb.facts.count())
      assert(db.factEmb.count() == db.facts.count())
      assert(db.facts.select("fact_id").distinct().count() == db.facts.count())
    } finally q.stop()
  }

  test("st03 scheduled compaction bounds file counts across 10 micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("hippocompactstream").toString
    val docs = Tables.documents(spark, sf0001).limit(40)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val batches = docs.grouped(4).toSeq // 10 micro-batches of 4 docs

    def partFiles(c: String): Int = {
      val d = new java.io.File(s"$tmp/$c")
      if (!d.isDirectory) 0
      else d.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
    }

    val stream = MemoryStream[(Long, String)]
    val api = new graft.api.Graft(spark)
    // minSmallFiles = 2: at this toy scale every component stays
    // under the default trigger; production keeps the default 8 so
    // passes stay rare (see the write-amplification contract).
    val q = StreamOps.annotateStream(spark,
      stream.toDF().toDF("doc_id", "text"), api, tmp,
      compactEvery = 3, minSmallFiles = 2)
    try {
      var maxFactFiles = 0
      batches.foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
        maxFactFiles = math.max(maxFactFiles, partFiles("facts"))
        // queries stay correct mid-stream, including right after a
        // compaction swap: the store loads and its graph/vector
        // sides agree.
        val db = graft.store.HippoDb.load(spark, tmp)
        val (nF, nE, missing) = db.integrity
        assert(nF == nE && missing == 0L, s"integrity broke mid-stream: $nF/$nE/$missing")
      }
      // without compaction, facts would end at >= 10 files (one+ per
      // micro-batch); compaction at batches 3/6/9 keeps the count at
      // the cadence bound, and the observed max never reaches the
      // uncompacted accumulation.
      val end = partFiles("facts")
      assert(end <= 5, s"facts dir ended with $end part files — compaction never ran?")
      assert(maxFactFiles < 10, s"file count grew unbounded mid-stream ($maxFactFiles)")
      // and the store still matches the one-shot batch annotate
      val db = graft.store.HippoDb.load(spark, tmp)
      val batchDb = api.annotate(Tables.documents(spark, sf0001).limit(40))
      assert(db.facts.count() == batchDb.facts.count())
      assert(db.facts.select("fact_id").distinct().count() == db.facts.count())
    } finally q.stop()
  }

  test("st04 streaming dedup keeps first occurrence per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val stream = MemoryStream[(Timestamp, String)]
    stream.addData(Seq(
      (t, "alpha text"), (t, "beta text"), (t, "alpha text"),
      (new Timestamp(t.getTime + 60000), "alpha text"),
      (new Timestamp(t.getTime + 60000), "gamma text")))
    val q = StreamOps.dedupStream(stream.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("st04_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val texts = spark.table("st04_out").select("text").collect().map(_.getString(0))
    assert(texts.length == 3, s"expected 3 unique texts, got ${texts.toSeq}")
    assert(texts.toSet == Set("alpha text", "beta text", "gamma text"))
  }

  test("st13 streaming funnel == batch q16 stage rows on same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventsBatch
      .select(col("user_id"), col("ts").cast("timestamp"), col("event_type"))
      .as[StreamOps.FEv].collect().toSeq.sortBy(_.ts.getTime)

    val stream = MemoryStream[StreamOps.FEv]
    // two chunks: funnel progress must survive the cross-batch state
    // round-trip, not just a single-batch replay
    val (first, second) = evs.splitAt(evs.length / 2)
    stream.addData(first)
    val q = StreamOps.funnelStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st13_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st13_out").select("user_id", "stage", "ts")
    val batch = graft.operators.CoreQueries.funnelStageRows(
      eventsBatch.select(col("user_id"), col("event_type"), col("ts").cast("timestamp")))
    val extra = streamed.exceptAll(batch).collect()
    val missing = batch.exceptAll(streamed).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()} " +
      s"dupGroups=${streamed.groupBy("user_id", "stage").count().filter(col("count") > 1).count()} " +
      s"stream-only rows: ${extra.take(5).mkString("; ")} | batch-only rows: ${missing.take(5).mkString("; ")}")
    // all three stages occur, and stages per user arrive at most once
    assert(streamed.select("stage").distinct().count() == 3)
    assert(streamed.groupBy("user_id", "stage").count().filter(col("count") > 1).count() == 0)
  }

  test("st13 same-batch disorder repairs; an equal-ts next stage does NOT advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val stream = MemoryStream[StreamOps.FEv]
    // u1 arrives shuffled within one batch (click before view) but
    // event-times order view(10) < click(20) < purchase(30): all
    // three stages must emit. u2's click shares the view's timestamp
    // -> strictly-after fails, funnel stalls at 1_view.
    stream.addData(Seq(
      StreamOps.FEv(1L, ts(20), "click"), StreamOps.FEv(1L, ts(10), "view"),
      StreamOps.FEv(1L, ts(30), "purchase"),
      StreamOps.FEv(2L, ts(10), "view"), StreamOps.FEv(2L, ts(10), "click")))
    val q = StreamOps.funnelStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st13_edge")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("st13_edge").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "1_view"), (1L, "2_click"), (1L, "3_purchase"),
      (2L, "1_view")), rows.toString)
  }

  test("st13 late-data contract: events older than the watermark DROP, in-horizon progress continues") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(min * 60000)
    val stream = MemoryStream[StreamOps.FEv]
    // batch 1: u1's view at t=100min pushes the watermark to 70min
    stream.addData(Seq(StreamOps.FEv(1L, ts(100), "view")))
    val q = StreamOps.funnelStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st13_late")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: u2's view at t=30min is behind the 70min watermark
      // (dropped per the documented contract — replay belongs on the
      // batch mirror); u1's click at t=101min is live and advances
      stream.addData(Seq(
        StreamOps.FEv(2L, ts(30), "view"), StreamOps.FEv(1L, ts(101), "click")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("st13_late").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "1_view"), (1L, "2_click")),
      s"late view must drop, live progress must emit: $rows")
  }

  test("st02 stateful sessionization == batch lag-window q09 on same users") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventsBatch
      .select(col("user_id"), col("ts").cast("timestamp"), col("value"))
      .as[StreamOps.Ev].collect().toSeq.sortBy(_.ts.getTime)

    val stream = MemoryStream[StreamOps.Ev]
    stream.addData(evs)
    // AvailableNow: consumes what's there and terminates, which also
    // bounds the run if a timeout config ever regresses to
    // ProcessingTimeTimeout (under which the engine always schedules
    // another batch and processAllAvailable never latches).
    val q = StreamOps.sessionize(spark, stream.toDS())
      .writeStream.format("memory").queryName("st02_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()

    // Streaming emits every GAP-closed session, plus (via event-time
    // timeout) the final session of any user idle past the watermark
    // when the run ends. So: closed ⊆ streamed ⊆ all, with exact
    // (user, session_id, n_events, start) rows in both directions.
    val streamed = spark.table("st02_out")
      .select("user_id", "session_id", "n_events", "session_start")
    val all = StreamOps.openSessions(spark,
      eventsBatch.select(col("user_id"), col("ts").cast("timestamp"), col("value")).as[StreamOps.Ev])
    val lastPerUser = all.groupBy("user_id").agg(max("session_id").as("last_sid"))
    val closedBatch = all.join(lastPerUser, "user_id")
      .filter(col("session_id") =!= col("last_sid"))
      .select("user_id", "session_id", "n_events", "session_start")
    assert(closedBatch.exceptAll(streamed).isEmpty,
      "a gap-closed session is missing from the stream output")
    assert(streamed.exceptAll(all.select("user_id", "session_id", "n_events", "session_start")).isEmpty,
      "stream emitted a session the batch mirror does not contain")
    assert(streamed.count() >= closedBatch.count() && closedBatch.count() > 0)
  }

  test("st05 stream-stream interval join == batch ranged join on same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsBatch
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"), col("event_type"))
      .as[(Long, Timestamp, Long, String)].collect().toSeq

    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    stream.addData(rows)
    val q = StreamOps.purchaseViewJoin(
        stream.toDF().toDF("event_id", "ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("st05_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("st05_out")
    val batch = StreamOps.purchaseViewJoin(
      eventsBatch.select("event_id", "ts", "user_id", "event_type"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-stream interval join differs from the batch ranged join")
    assert(streamed.count() > 0, "no purchase-view matches in the sample")
  }

  test("st06 stream-static decontamination flags shared grams per finalized doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val evalDocs = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val stream = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.decontaminateStream(
        stream.toDF().toDF("ts", "doc_id", "text"), evalDocs, gramSize = 3)
      .writeStream.format("memory").queryName("st06_out")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (t0, 1L, "x alpha beta gamma y"),        // shares "alpha beta gamma"
        (t0, 2L, "no shared grams here at all"), // clean
        (t0, 3L, "alpha beta gamma delta zz")))  // shares two 3-grams
      q.processAllAvailable()
      // Advance the watermark past t0 so those rows finalize.
      stream.addData(Seq((new Timestamp(t0.getTime + 3 * 3600 * 1000), 4L, "also clean text here")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st06_out")
      .select("doc_id", "n_shared_grams", "n_eval_docs").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == Map(1L -> ((1, 1)), 3L -> ((2, 1))),
      s"streamed contamination rows $got differ from the batch semantics")
  }

  test("st21 streaming retrieval serving: each micro-batch equals the one-shot batch k-NN on the persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a small clustered corpus + its persisted IVF artifact
    val corpus = (0 until 600).map { i =>
      val c = i % 6
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 3.0 else 0.0) + 0.1 * math.sin(i * 1.7 + j)))
    }.toDF("vec_id", "v")
    val dir = java.nio.file.Files.createTempDirectory("st21idx").toString
    graft.store.VectorIndex.buildIvf(spark, corpus, dir, nCells = 6, iters = 2)
    val outDir = java.nio.file.Files.createTempDirectory("st21out").toString

    val stream = MemoryStream[(Long, Array[Double])]
    val q = StreamOps.retrievalServeStream(
      stream.toDF().toDF("vec_id", "v"), dir, outDir,
      k = 3, nProbe = Int.MaxValue)
    try {
      // two micro-batches of queries drawn from the corpus
      val b0 = corpus.filter(col("vec_id") < 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val b1 = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 302)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      stream.addData(b0); q.processAllAvailable()
      stream.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val served = spark.read.parquet(outDir)
    // per batch id, the rows equal the one-shot annIvfBatch on the
    // same queries at the same dials — the plumbing adds NOTHING
    for ((ids, bid) <- Seq((Seq(0L, 1L, 2L), 0), (Seq(300L, 301L), 1))) {
      val oneShot = graft.store.VectorIndex.annIvfBatch(spark, dir,
          corpus.filter(col("vec_id").isin(ids: _*)), k = 3,
          nProbe = Int.MaxValue, reprobeMax = 0)
        .select("query_id", "vec_id", "cos", "rk")
        .collect().map(_.toString).sorted
      val got = served.filter(col("batch_id") === bid)
        .select("query_id", "vec_id", "cos", "rk")
        .collect().map(_.toString).sorted
      assert(got.sameElements(oneShot),
        s"batch $bid served rows must equal the one-shot batch k-NN")
    }
    // probe-all over a cell-partitioned corpus is exact: spot-check
    // a served neighbour is the true subgroup mate
    val top0 = served.filter(col("batch_id") === 0 &&
        col("query_id") === 0 && col("rk") === 1)
      .select("vec_id").head().getLong(0)
    assert(top0 % 6 == 0, s"query 0's top hit $top0 should share its cluster axis")
  }

  test("st08 streaming span dedup checks micro-batches against the persisted history bloom") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val boiler = "All rights reserved under the license terms stated herein; see the accompanying notice. "
      .padTo(96, 'x').mkString
    def filler(seed: Int) = {
      val r = new scala.util.Random(seed)
      (0 until 64).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // history: 8 docs carrying the boilerplate span at aligned offset 64
    val hist = (0 until 8).map(i => (i.toLong, filler(i) + boiler))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("st08bloom").toString
    graft.store.SketchIndex.buildSpanBloom(spark, hist, dir)
    val bloom = graft.store.SketchIndex.loadSpanBloom(spark, dir)
    val histHashes = graft.store.SketchIndex.loadSpanHashes(spark, dir)

    val stream = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.spanDedupStream(
        stream.toDF().toDF("ts", "doc_id", "text"), histHashes, bloom)
      .writeStream.format("memory").queryName("st08_out")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (t0, 100L, filler(900) + boiler),    // repeats the indexed span
        (t0, 101L, filler(901) + filler(902) + filler(903)))) // clean, same length
      q.processAllAvailable()
      // advance the watermark so the t0 rows finalize
      stream.addData(Seq((new Timestamp(t0.getTime + 3 * 3600 * 1000), 102L, "tiny")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st08_out").select("doc_id", "n_shared_spans").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 100 shares the three aligned boilerplate windows (64/80/96);
    // the clean doc and the short doc never appear. LONG tally — the
    // d12 schema contract.
    assert(got == Map(100L -> 3L), s"streamed span dedup rows: $got")
    // batch/stream parity: the same batch through the shared verify
    // stage gives the same tally
    val batchForm = graft.operators.DedupQueries.bloomSpanCheck(
        graft.operators.DedupQueries.spanHashRows(
          Seq((100L, filler(900) + boiler)).toDF("doc_id", "text")),
        histHashes, bloom)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchForm == Map(100L -> 3L))
  }

  test("st19 streaming BPE token counting == batch t25 kernel; wordless docs absent on the stream too") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq :+ ((99999L, "")) // a wordless arrival
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val q = StreamOps.bpeStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("st19_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st19_out")
    val batch = graft.operators.Bpe.encode(
      docs.toDF("doc_id", "text"), graft.operators.Bpe.T25Merges)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"stream=${streamed.count()} batch=${batch.count()}")
    // the wordless doc is absent (the t25/oracle contract), and the
    // stream matches the t25 ENTRY on the real corpus slice
    assert(streamed.filter(col("doc_id") === 99999L).count() == 0)
    val entry = graft.operators.Bpe.t25BpeEncode(spark, sf0001)
    assert(streamed.filter(col("doc_id") =!= 99999L).exceptAll(entry).isEmpty)
  }

  test("st09 streaming curation == batch stateless subset, incl. NFC fold on the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    // doc 4 passes everything (nibble 'a' < 'c'); doc 14 is its
    // DECOMPOSED spelling (dedup is NOT this op's job — both pass,
    // proving the stream normalizes before scoring: unnormalized,
    // doc 14's doubled spaces add a phantom empty token); doc 7
    // fails the quality band; doc 5 fails the sample coin ('e').
    val docs = Seq(
      (4L, "en", "café " + words("w", 59)),
      (14L, "en", "cafe\u0301  " + words("w", 59)),
      (7L, "en", words("w", 10)),
      (5L, "en", words("v", 60)))
    val stream = MemoryStream[(Long, String, String)]
    stream.addData(docs)
    val q = StreamOps.curationStream(
        stream.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("st09_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st09_out")
    assert(streamed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(4L, 14L))
    // both spellings score IDENTICALLY post-normalization
    assert(streamed.select("n_tokens", "stop_ratio", "quality").distinct().count() == 1)
    // exact batch/stream parity: same rows through the same function
    val batch = graft.operators.PipelineQueries.curateStateless(
      docs.toDF("doc_id", "lang", "text"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("st10 streaming bigram scoring == batch form; OOV bigrams excluded but counted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // history LM: a cyclic phrase, fully predictive
    val hist = Seq((100L, "alpha beta gamma alpha beta gamma alpha beta"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextQueries.bigramModel(hist).cache()
    // batch arrivals: one in-domain doc, one with a NOVEL bigram
    val arrivals = Seq(
      (t0, 1L, "alpha beta gamma alpha"),  // 3 bigrams, all known
      (t0, 2L, "alpha beta zeta alpha"))   // "beta zeta"/"zeta alpha" OOV
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    stream.addData(arrivals)
    val q = StreamOps.bigramScoreStream(
        stream.toDF().toDF("ts", "doc_id", "text"), model)
      .writeStream.format("memory").queryName("st10_out")
      .outputMode("append").start()
    try {
      // advance the watermark so t0's rows finalize in append mode —
      // the advancing doc needs >= 2 tokens: wordGramRows' size
      // filter is pushed BELOW the watermark node (the st08 lesson),
      // so a sub-gram doc would never reach the event-time stats
      stream.addData(Seq((java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 9L, "late probe")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st10_out")
      .select("doc_id", "n_bigrams", "n_known", "logprob").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: P(beta|alpha)=1, P(gamma|beta)=1, P(alpha|gamma)=1 -> mean ln P = 0
    assert(got(1L) == ((3L, 3L, 0.0)))
    // doc 2: 3 bigrams, only "alpha beta" known (ln 1 = 0); 2 OOV excluded
    assert(got(2L) == ((3L, 1L, 0.0)))
    // exact batch/stream parity: same function over the same rows
    val batch = StreamOps.bigramScoreStream(
        arrivals.toDF("ts", "doc_id", "text"), model)
      .select("doc_id", "n_bigrams", "n_known", "logprob").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(batch == got)
    model.unpersist()
  }

  test("st07 streaming stratified sample == batch t10 predicate on same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf0001).limit(100)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val q = StreamOps.stratifiedSampleStream(stream.toDF().toDF("doc_id", "lang"))
      .writeStream.format("memory").queryName("st07_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st07_out").select("doc_id", "lang", "bucket")
    val batch = StreamOps.stratifiedSampleStream(
      Tables.documents(spark, sf0001).limit(100).select("doc_id", "lang"))
      .select("doc_id", "lang", "bucket")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream and batch samples differ — the coin is not a pure row function")
    assert(streamed.count() > 0 && streamed.count() < 100)
  }

  test("st02 in-watermark event older than the gap becomes its OWN session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    // A watermark delay LONGER than the session gap (here 2h vs 30min
    // — the disorder-tolerant configuration) admits events that
    // predate an open session by more than the gap. Folding such an
    // event into the open state via min(startTs, t) would emit a
    // merged 2-event session the batch mirror never produces; it must
    // become its OWN closed session.
    val stream = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionize(spark, stream.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("st02_late")
      .outputMode("append").start()
    try {
      stream.addData(StreamOps.Ev(1L, ts("16:00"), 1.0)); q.processAllAvailable()
      // 60 min before user 1's open session start, inside the 2h
      // horizon (watermark 14:00) — batch mirror: a separate session.
      stream.addData(StreamOps.Ev(1L, ts("15:00"), 1.0)); q.processAllAvailable()
      // A YET LATER batch extends that earlier chain (within its
      // 30-min gap): the chain must still be open in state — flushing
      // it at batch end would emit (15:00,1)+(15:10,1) where the
      // batch mirror has ONE session (15:00, n=2).
      stream.addData(StreamOps.Ev(1L, ts("15:10"), 1.0)); q.processAllAvailable()
      // Advance the watermark past 16:30 so user 1's chains time out
      // and flush on the following batches.
      stream.addData(StreamOps.Ev(2L, ts("21:00"), 1.0)); q.processAllAvailable()
      stream.addData(StreamOps.Ev(2L, ts("22:00"), 1.0)); q.processAllAvailable()
      stream.addData(StreamOps.Ev(2L, ts("23:00"), 1.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st02_late").filter(col("user_id") === 1L)
      .select("session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // The batch mirror over the three user-1 events.
    val mirror = Set(ts("15:00").getTime -> 2L, ts("16:00").getTime -> 1L)
    assert(got == mirror,
      s"streamed user-1 sessions $got differ from the batch mirror $mirror")
  }

  test("st11: streamed appends serve identically to built vectors (frozen-model encode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.toDouble
    import graft.operators.IvfPq
    import graft.store.VectorIndex
    val dir = java.nio.file.Files.createTempDirectory("st11").toString
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val n = e.count()
    val half = n / 2
    VectorIndex.buildIvfPq(spark, e.filter(col("vec_id") < half), dir)
    // stream the second half of the corpus in three micro-batches
    val rest = e.filter(col("vec_id") >= half).as[(Long, Seq[Double])].collect()
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.ivfPqIngestStream(stream.toDF().toDF("vec_id", "v"), dir)
    try {
      rest.grouped(rest.length / 3 + 1).foreach { g =>
        stream.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val codes = spark.read.parquet(s"$dir/ivfpq_codes")
    assert(codes.count() == n, "appended index must cover the whole corpus")
    assert(codes.select(countDistinct(col("vec_id"))).head().getLong(0) == n)
    // Persisted queries == the SAME frozen models applied in memory
    // to the full corpus: an appended row is indistinguishable from
    // a built one. Query id n-1 lives in the STREAMED half — serving
    // it proves appends are immediately queryable.
    for (qid <- Seq(0L, n - 1)) {
      val qv = e.filter(col("vec_id") === qid)
        .select("v").head().getSeq[Double](0).toArray
      val got = VectorIndex.annIvfPq(spark, dir, e, qv, 10, excludeVecId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val codec = IvfPq.codec()
      val model = codec.readModel(spark, dir)
      val want = graft.operators.Codec.topK(spark, codec, model,
          codec.encode(spark, e, model), e, qv, Some(qid), k = 10,
          rerank = graft.operators.Pq.Rerank)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"query $qid: persisted $got != frozen-model in-memory $want")
    }
  }

  test("st12: streaming phash check matches the batch API and phashPairs truth") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.MultimodalQueries
    import graft.store.SketchIndex
    val dir = java.nio.file.Files.createTempDirectory("st12").toString
    val rnd = new scala.util.Random(23)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // history: 30 docs; arrivals: 2 perceptual dups of history docs
    // (one exact, one lightly edited) + 8 fresh randoms
    val hist = (0L until 30L).map(i => (i, randText(600 + rnd.nextInt(100))))
    val arrivals = Seq((100L, hist(4)._2), (101L, hist(7)._2.updated(50, 'z'))) ++
      (102L until 110L).map(i => (i, randText(650)))
    val nIndexed = SketchIndex.buildPhashIndex(spark, hist.toDF("doc_id", "text"), dir)
    assert(nIndexed == 30)

    // batch API answer
    val batchWant = SketchIndex.checkBatchPhash(spark, dir, arrivals.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // ground truth from the lossless pair kernel over history + arrivals
    val truth = MultimodalQueries.phashPairs(spark,
        (hist ++ arrivals).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => a < 100 && b >= 100 } // history × arrival only
      .groupBy(_._2).map { case (bd, ps) => (bd, ps.length.toLong, ps.map(_._3).min) }
      .toSeq.sorted
    assert(batchWant == truth, s"batch check $batchWant != pair truth $truth")
    assert(batchWant.map(_._1).toSet == Set(100L, 101L), s"planted dups: $batchWant")

    // the stream in two micro-batches must emit exactly the same rows
    val out = java.nio.file.Files.createTempDirectory("st12out").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.phashCheckStream(stream.toDF().toDF("doc_id", "text"), dir, out)
    try {
      arrivals.grouped(5).foreach { g => stream.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("batch_doc", "n_hist_dups", "best_hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(streamed == batchWant, s"stream $streamed != batch $batchWant")
  }

  test("st17 streaming novelty == batch t23 on the same history/batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = Tables.documents(spark, sf0001)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (t0, r.getLong(0), r.getString(1))).toSeq

    val stream = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.noveltyStream(
        stream.toDF().toDF("ts", "doc_id", "text"), hist)
      .writeStream.format("memory").queryName("st17_out")
      .outputMode("append").start()
    try {
      stream.addData(batchDocs)
      q.processAllAvailable()
      // advance the watermark so the t0 docs finalize
      stream.addData(Seq((new Timestamp(t0.getTime + 3 * 3600 * 1000),
        999999L, "watermark pusher text row")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st17_out")
      .filter(col("doc_id") =!= 999999L)
      .select("doc_id", "n_grams", "n_new", "novelty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val batch = graft.operators.QualityQueries
      .t23IncrementalNovelty(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(streamed == batch,
      s"stream ${streamed.take(3)}... != batch ${batch.take(3)}... " +
      s"(${streamed.length} vs ${batch.length} rows)")
  }

  test("st18 streaming quality report == batch Gopher rollup on the same hours") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def h(hours: Int) = new Timestamp(t0.getTime + hours * 3600L * 1000)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .limit(60).collect().map(r => (r.getLong(0), r.getString(1)))
    // spread the docs over two hours; a third-hour row pushes the
    // watermark so both close
    val batch1 = docs.take(30).map { case (id, t) => (h(0), id, t) }.toSeq
    val batch2 = docs.drop(30).map { case (id, t) => (h(1), id, t) }.toSeq

    val stream = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.qualityReportStream(
        stream.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("st18_out")
      .outputMode("append").start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
      stream.addData(Seq((h(4), 999999L, "watermark pusher text")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st18_out")
      .filter(col("hour") < h(4)).orderBy("hour").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // batch truth through the SAME kernel on the same (hour, text) rows
    val batchDf = (batch1 ++ batch2).toDF("ts", "doc_id", "text")
    val want = graft.operators.QualityQueries.withGopherCols(batchDf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(when(col("pass"), 1.0).otherwise(0.0)), 4).as("pass_rate"),
        round(avg(col("n_words")), 4).as("mean_words"))
      .orderBy("hour").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(streamed.toSeq == want.toSeq,
      s"stream ${streamed.toSeq} != batch ${want.toSeq}")
    assert(streamed.length == 2 && streamed.forall(_._2 == 30L))
  }

  test("st16 streaming transitions == batch q20 kernel rows on same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventsBatch
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"),
        col("event_type"))
      .as[StreamOps.TEv].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))

    val stream = MemoryStream[StreamOps.TEv]
    // two chunks: the last-event state must survive the cross-batch
    // round-trip, emitting the transition that straddles the split
    val (first, second) = evs.splitAt(evs.length / 2)
    stream.addData(first)
    val q = StreamOps.transitionStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st16_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st16_out")
      .select("user_id", "from_type", "to_type", "to_ts")
    val batch = graft.operators.AnalyticsQueries.transitionRows(
      eventsBatch.select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp"), col("event_type")))
    val extra = streamed.exceptAll(batch).collect()
    val missing = batch.exceptAll(streamed).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()} " +
      s"stream-only: ${extra.take(5).mkString("; ")} | batch-only: ${missing.take(5).mkString("; ")}")
  }

  test("st16 same-batch disorder repairs; equal-ts pairs break on event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val stream = MemoryStream[StreamOps.TEv]
    // u1 arrives shuffled (click before view) but event-time orders
    // view(10) < click(20) < purchase(30): path must repair to
    // view→click→purchase. u2's two events share ts=10 — event_id
    // 7 < 8 orders signup→error, exactly the batch lead() tie-break.
    stream.addData(Seq(
      StreamOps.TEv(1L, 2L, ts(20), "click"), StreamOps.TEv(1L, 1L, ts(10), "view"),
      StreamOps.TEv(1L, 3L, ts(30), "purchase"),
      StreamOps.TEv(2L, 8L, ts(10), "error"), StreamOps.TEv(2L, 7L, ts(10), "signup")))
    val q = StreamOps.transitionStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("st16_edge")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("st16_edge").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "view", "click"), (1L, "click", "purchase"),
      (2L, "signup", "error")), rows.toString)
  }

  test("st16 horizon eviction: a post-horizon event starts a FRESH path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(min * 60000)
    val stream = MemoryStream[StreamOps.TEv]
    val q = {
      // 60-minute horizon so the corpus's own gaps exercise eviction
      val s = StreamOps.transitionStream(spark, stream.toDS(),
        watermarkDelay = "1 minute", horizonMs = 60L * 60000)
      s.writeStream.format("memory").queryName("st16_evict")
        .outputMode("append").start()
    }
    try {
      // u1: view at t=0; u2's event at t=100 drives the watermark to
      // 99min, past u1's 60min timeout → u1's state evicts
      stream.addData(Seq(StreamOps.TEv(1L, 1L, ts(0), "view"),
        StreamOps.TEv(2L, 2L, ts(100), "view")))
      q.processAllAvailable()
      // u1 returns at t=110: beyond the horizon — NO view→click edge,
      // the click opens a fresh path; its next event pairs normally
      stream.addData(Seq(StreamOps.TEv(1L, 3L, ts(110), "click")))
      q.processAllAvailable()
      stream.addData(Seq(StreamOps.TEv(1L, 4L, ts(115), "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("st16_evict").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "click", "purchase")),
      s"pre-eviction view must NOT pair with the post-horizon click: $rows")
  }
}
