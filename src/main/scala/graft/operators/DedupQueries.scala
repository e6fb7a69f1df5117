package graft.operators

import graft.plans.Pins.Pinned

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.HippoGraph
import graft.sources.Tables

/** Deduplication suite for the LLM-data pipeline (SURVEY.md §2
  * d01–d05).
  *
  * Scale design:
  *  - d01 exact: hash-groupBy — one shuffle on the text hash, fully
  *    map-side-combinable.
  *  - d02 MinHash+LSH: signatures are map-side; only (band, sig)
  *    buckets shuffle; candidate pairs (a tiny fraction of n²) are
  *    verified with exact Jaccard. This is THE 100 TB near-dup path.
  *  - d04 char-n-gram Jaccard: PPJoin-style prefix + size +
  *    positional filtering — exact, with candidate generation joining
  *    only rare prefix grams (never the n² cross product).
  *  - d05 embedding cosine: brute all-pairs (exact); the approximate
  *    scale path is VectorQueries.annLsh cell-blocking.
  *  - d03 SimHash: map-side 64-bit signatures; near-dup = low Hamming
  *    distance (rows-only; DedupSpec asserts planted pairs separate).
  */
object DedupQueries {

  val MinhashPrime = 1000000007L
  val NumHashes = 64 // 16 bands x 4 rows
  val Bands = 16
  val RowsPerBand = 4
  val WordJaccardThreshold = 0.8
  val CharJaccardThreshold = 0.8
  val CosineThreshold = 0.45

  /** Size-routed payload-attach budget (r17, the e01c
    * SqCutBroadcastMaxBytes convention): candidate-verify joins
    * broadcast the per-doc payload table (gram hashes / shingles)
    * only while its measured bytes fit under this; above it the
    * un-hinted join stays and AQE broadcasts the pair side — the
    * 100 TB regime, where candidates ≪ corpus. 256 MB ≈ a few
    * hundred MB resident per executor at the flip point, the
    * documented broadcast comfort zone (guide §3.1). */
  val GramBroadcastMaxBytes = 256L * 1024 * 1024

  /** Deterministic (a, b) pairs for the universal hash family
    * h_j(x) = (a_j * x + b_j) mod p. */
  def hashParams(n: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Word 3-gram shingles as DuckDB SQL (the oracle's formulation of
    * the same set wordShingles() builds in the JVM kernel). */
  private val wordShinglesSql =
    """list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 2),
      |  i -> string_split(text, ' ')[CAST(i AS INT) + 1] || '_' ||
      |       string_split(text, ' ')[CAST(i AS INT) + 2] || '_' ||
      |       string_split(text, ' ')[CAST(i AS INT) + 3]))""".stripMargin

  private val charShinglesSql =
    """list_distinct(list_transform(range(0, length(text) - 4),
      |  i -> substr(text, CAST(i AS INT) + 1, 5)))""".stripMargin

  /** d01: exact duplicate chunks — hash-groupBy on fact text;
    * groups with >1 member are the duplicates. */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    HippoGraph.facts(spark, dir)
      .groupBy(col("fact_text"))
      .agg(count(lit(1)).as("n"), min("fact_id").as("canonical_id"))
      .filter(col("n") > 1)
      .orderBy("canonical_id")

  /** Polynomial string hash, base 131 mod 1e9+7 — the minhash kernel
    * is tight numeric looping, so it runs as a typed map (plain JVM
    * code, still a narrow map-side transform) while candidate
    * generation and verification stay relational. */
  def polyHashJvm(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 131 + s.charAt(i)) % MinhashPrime; i += 1 }
    h
  }

  def minhashSig(shingles: Seq[String], params: Array[(Long, Long)]): Array[Long] = {
    // Primitive arrays end-to-end: the signature loop runs
    // |params| × |shingles| times per doc, so boxed Seq[Long] hashing
    // costs more than the arithmetic.
    val hs = new Array[Long](shingles.length)
    var i = 0
    shingles.foreach { s => hs(i) = polyHashJvm(s); i += 1 }
    val out = new Array[Long](params.length)
    var j = 0
    while (j < params.length) {
      val (a, b) = params(j)
      var m = MinhashPrime
      var k = 0
      while (k < hs.length) {
        val v = (a * hs(k) + b) % MinhashPrime
        if (v < m) m = v
        k += 1
      }
      out(j) = m
      j += 1
    }
    out
  }

  /** Word 3-gram shingles in the JVM kernel (distinct, order of first
    * appearance — same set as wordShinglesExpr/wordShinglesSql). */
  def wordShingles(words: Array[String]): Seq[String] = {
    val n = math.max(words.length - 2, 0)
    val out = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i < n) { out += s"${words(i)}_${words(i + 1)}_${words(i + 2)}"; i += 1 }
    out.toSeq
  }

  def d02MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    d02Pairs(spark, dir).orderBy("doc_a", "doc_b")

  /** Shared MinHash blocking tables (d02/d13): the narrow
    * (doc_id, band-cell) rows that shuffle for candidate joins, and
    * the (doc_id, shingles) payload table for verification — both
    * cached, since candidates and verify each read them. */
  private def minhashTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    // one parquet split at test SF — without this the 64-hash
    // signature map runs on one core; conditional so a many-split
    // scan at scale is NOT funneled through a full-width exchange
    minhashTablesOf(graft.plans.Par.ensureParallelism(
      Tables.documents(spark, dir)))

  /** Band-cell projection of a signature frame — split out so the
    * SketchIndex builder can derive cells from a PERSISTED signature
    * pass (hashing once) with the SAME banding rule the inline
    * operators use. */
  private[graft] def bandCells(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => expr(s"mh[${b * RowsPerBand + r}]"))
      struct(lit(b).as("band"), concat_ws(":", rows: _*).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("cell"))
  }

  /** The UNCACHED signature stage over ANY (doc_id, text) frame:
    * (doc_id, shingles, mh) — the one expensive pass (wordShingles +
    * NumHashes universal hashes per doc). */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = hashParams(NumHashes, seed = 7L)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .as[(Long, Array[String])]
      .map { case (id, ws) =>
        val sh = wordShingles(ws)
        (id, sh, minhashSig(sh, params))
      }
      // Sub-3-word docs have NO shingles: they can never reach J ≥
      // 0.8 (the oracle's J over an empty set is NaN → excluded), but
      // minhashSig over nothing is the all-MinhashPrime signature, so
      // every pair of them would collide in all 16 bands — a
      // guaranteed quadratic candidate blowup — and their exact-J
      // division (0/0) THROWS under Spark 4's default ANSI mode.
      // Drop them before banding: no signature rows, no candidates,
      // no division.
      .filter(_._2.nonEmpty)
      .toDF("doc_id", "shingles", "mh")
  }

  /** The banded-signature pair over ANY (doc_id, text) frame — the
    * multi-read inline form (d02/d13): both frames cached because
    * the candidate self-join and the verify step each re-read them.
    * Write-once callers (SketchIndex.buildCellIndex) use minhashSigs
    * + bandCells directly and persist instead of caching. */
  private[graft] def minhashTablesOf(docs: DataFrame): (DataFrame, DataFrame) = {
    // ONE eagerly-filled cache of the signature pass (r18): the r17
    // form cached the two DERIVED tables, but both subtrees read the
    // UNCACHED sigs — so the 64-hash map ran once per cache fill, and
    // with the candidate/verify consumers racing inside one action DAG
    // it ran up to 4× (the d14 lesson; the "Block already exists"
    // BlockManager warnings are that race). Cache the expensive pass
    // itself, fill it with one tiny job, and serve banding/payloads
    // as cheap projections of the cached rows.
    val sigs = minhashSigs(docs).cache()
    sigs.count()
    (bandCells(sigs), sigs.select(col("doc_id"), col("shingles")))
  }

  /** Exact-Jaccard verification of a candidate pair set (columns
    * `a`, `b` are doc ids): shingle payloads re-attach by joining the
    * TINY pair set against the cached per-doc table — no hints: at
    * runtime AQE broadcasts the genuinely small side (the pairs), so
    * the payload table is never broadcast and never shuffled, and
    * the expensive candidate subtree appears exactly once in the DAG
    * (a nest of eager broadcast builds over a shared uncached
    * subtree recomputes it concurrently — measured 5x wall-clock at
    * sf0.1). */
  private[graft] def verifyJaccard(candidates: DataFrame, docShingles: DataFrame,
      a: String, b: String): DataFrame =
    verifyJaccard2(candidates, docShingles, docShingles, a, b)

  /** Two-sided form: side `a` and side `b` resolve their shingle
    * payloads from DIFFERENT tables (batch vs persisted history in
    * SketchIndex.checkBatchNeardup — joining a union there would
    * scan the 100 TB history side for batch ids too, and would
    * double-count a re-ingested doc_id present in both). */
  private[graft] def verifyJaccard2(candidates: DataFrame,
      aShingles: DataFrame, bShingles: DataFrame,
      a: String, b: String): DataFrame =
    candidates
      .join(aShingles.select(col("doc_id").as(a), col("shingles").as("sa")), a)
      .join(bShingles.select(col("doc_id").as(b), col("shingles").as("sb")), b)
      .withColumn("j", round(
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))), 4))
      .filter(col("j") >= WordJaccardThreshold)
      .select(col(a), col(b), col("j"))

  /** The d02 near-dup pair set WITHOUT the presentation sort (d07
    * consumes it as a graph edge list; sorting there would be wasted
    * work under the join). */
  def d02Pairs(spark: SparkSession, dir: String): DataFrame = {
    val (cells, docShingles) = minhashTables(spark, dir)
    // Narrow (doc_id, cell) rows shuffle for the self-join; shingle
    // payloads re-attach afterwards via the tiny candidate-pair join.
    val candidates = cells.as("l").join(cells.as("r"),
        col("l.cell") === col("r.cell") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, docShingles, "doc_a", "doc_b")
  }

  /** d17: NEAREST-DUPLICATE REPORT — for every document in a ≥ 0.8
    * near-dup pair, its single STRONGEST partner (argmax exact J,
    * ties to the lowest partner id). The dedup-explainability view:
    * d07 says "these 40 docs are one cluster", d09 says "drop these";
    * d17 answers the reviewer's question "duplicate OF WHAT?" one
    * row per affected doc. Reuses d02's banded candidates + exact
    * verify unchanged; the per-doc argmax pushes into the window
    * operator (WindowGroupLimit — tasks emit one row per doc), so
    * the addition over d02 is one narrow rank on the bounded pair
    * set. Output is bounded by the number of AFFECTED docs even when
    * a k-member boilerplate cluster holds k·(k−1)/2 pairs. */
  def d17NearestDup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = d02Pairs(spark, dir)
    val sym = p.select(col("doc_a").as("doc_id"), col("doc_b").as("partner"), col("j"))
      .unionAll(p.select(col("doc_b").as("doc_id"), col("doc_a").as("partner"), col("j")))
    val w = Window.partitionBy("doc_id").orderBy(col("j").desc, col("partner"))
    sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .orderBy("doc_id")
  }

  /** d13: INCREMENTAL near-dup — d02's semantics for the [history
    * corpus, new ingest batch] split (the d12 incremental pattern at
    * whole-document granularity): which NEW documents are ≥ 0.8-
    * Jaccard near-duplicates of something the corpus already holds.
    * History = doc_id%10≠0, batch = doc_id%10=0 (the t09/d12 slice
    * precedent).
    *
    * Candidates are batch cells ⋈ history cells on the narrow packed
    * band-cell key — never batch × history — and verification keeps
    * exact J ≥ 0.8 on the tiny candidate set (shared d02 stages). At
    * 100 TB the history's (doc_id, cell) table is a PERSISTED
    * artifact built once per corpus version (the SketchIndex
    * precedent; band cells are exactly what saveEdgesBucketed-style
    * bucketing stores pre-shuffled), so each ingest batch pays its
    * own signatures + a sliver-sized join — both sides derive inline
    * here so the oracle can restate the whole operator.
    *
    * Output is the per-batch-doc ROLLUP (how many history dups, best
    * J) rather than raw pairs: a new doc duplicating a k-member
    * history cluster would emit k pair rows (quadratic under
    * mega-clusters — the d10 lesson), while the rollup is bounded by
    * the batch size and is the actionable answer ("drop/keep this
    * new doc"). The map-side-combining agg keeps the pair stream
    * from ever collecting anywhere. */
  def d13IncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val (cells, docShingles) = minhashTables(spark, dir)
    val bCells = cells.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("batch_doc"), col("cell"))
    val hCells = cells.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("hist_doc"), col("cell"))
    val candidates = bCells.join(hCells, "cell")
      .select("batch_doc", "hist_doc")
      .distinct()
    verifyJaccard(candidates, docShingles, "batch_doc", "hist_doc")
      .groupBy("batch_doc")
      .agg(count(lit(1)).as("n_hist_dups"), max("j").as("best_j"))
      .orderBy("batch_doc")
  }

  /** d03: 64-bit SimHash per doc (*rows-only*; DedupSpec asserts
    * planted near-dups land at low Hamming distance). Bit i of the
    * signature is the sign of sum over words of ±1 weighted by bit i
    * of the word's i-th universal hash. */
  /** SimHash kernel (typed map, same rationale as minhashSig): bit i
    * of the signature is the sign of the sum over words of ±1 votes,
    * the vote being bit-set-ness of the i-th universal hash. */
  def simhashSig(words: Seq[String], params: Array[(Long, Long)]): Long = {
    val hs = words.map(polyHashJvm)
    var sig = 0L
    var i = 0
    while (i < params.length) {
      val (a, b) = params(i)
      var vote = 0
      hs.foreach { h => vote += (if ((a * h + b) % MinhashPrime >= MinhashPrime / 2) 1 else -1) }
      if (vote > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  def d03Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val params = hashParams(62, seed = 11L) // 62 bits keeps the long positive
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .as[(Long, Seq[String])]
      .map { case (id, ws) => (id, simhashSig(ws, params)) }
      .toDF("doc_id", "simhash")
      .orderBy("doc_id")
  }

  /** 64-bit gram hash (wraparound polynomial — collision probability
    * ~n²/2^64, negligible even at 100 TB universes). */
  def gramHash64(s: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < s.length) { h = h * 31 + s.charAt(i); i += 1 }
    h
  }

  /** Sorted distinct 5-gram hashes + two-pointer intersection — the
    * verification kernel (tight JVM loops, map-side). The gram hash
    * is computed in place from the chars (same value as
    * gramHash64(text.substring(i, i+5)) without allocating a String
    * per position) and deduped after a primitive sort — the
    * corpus-scale map stage allocates only the output array. */
  def charGramHashes(text: String): Array[Long] = {
    val n = math.max(text.length - 4, 0)
    if (n == 0) return Array.emptyLongArray
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 1125899906842597L
      var j = i
      while (j < i + 5) { h = h * 31 + text.charAt(j); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < n) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == n) hs else java.util.Arrays.copyOf(hs, w)
  }

  def sortedIntersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1 else j += 1
    }
    n
  }

  /** Early-exit merge: returns the exact intersection size if it can
    * still reach `alpha`, or -1 the moment it provably cannot
    * (n + remaining_min < alpha). Near-threshold joins reject most
    * candidates within a few steps instead of merging both arrays to
    * the end — the verify-stage analog of PPJoin's positional prune. */
  def sortedIntersectionAtLeast(a: Array[Long], b: Array[Long], alpha: Int): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (n + math.min(a.length - i, b.length - j) < alpha) return -1
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1 else j += 1
    }
    if (n >= alpha) n else -1
  }

  /** d04: exact char-5-gram Jaccard pairs >= 0.8 via PPJoin-style
    * prefix + size + positional filtering:
    *  - prefix: under a global gram order (rarest first), a pair with
    *    J >= t shares a gram within each doc's first
    *    floor((1-t)*|g|)+1 grams — join only on those;
    *  - size: J >= t needs t*|B| <= |A| <= |B|/t — inline predicate;
    *  - positional: a match at ordered positions (pa, pb) bounds the
    *    intersection by 1 + min(|A|-pa, |B|-pb), which must reach
    *    ceil(t/(1+t) * (|A|+|B|)) — prunes late-prefix collisions.
    * Verification is an exact two-pointer merge over sorted 64-bit
    * gram hashes (primitive arrays, no boxing); gram payloads
    * re-attach by joining the tiny candidate-pair set against the
    * per-doc gram table (AQE broadcasts the pair side — the payload
    * table is never broadcast). */
  def d04NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val t = CharJaccardThreshold
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, tx) => (id, charGramHashes(tx)) }
      .toDF("doc_id", "grams")
      .select(col("doc_id"), size(col("grams")).as("sz"), col("grams"))
      .cache()
    val inv = g.select(col("doc_id"), col("sz"), explode(col("grams")).as("gram"))
    val df = inv.groupBy("gram").agg(count(lit(1)).as("gram_df"))
    // Singleton grams (df == 1) can never match another doc, so they
    // are dropped BEFORE ranking: the filtered rank is <= the true
    // global-order rank, hence the first p positions of the filtered
    // list contain every matchable gram of the true first-p prefix —
    // candidate generation stays COMPLETE (the filtered rank in the
    // positional bound only under-counts positions, loosening the
    // prune, never tightening it) and the window sorts only the
    // multi-doc grams.
    // The candidate self-join consumes `prefix` on BOTH sides, and
    // exchange reuse does not dedup the subtree above the shuffle:
    // without a cache the whole explode → df-join → window pipeline
    // (2 exchanges + 2 sorts) runs twice per action (r17 plan audit:
    // nodes 10-28 duplicated at 32-50). Narrow rows (two longs + two
    // ints) × prefix length — bounded, same convention as d14/d16.
    val prefix = inv.join(df, "gram")
      .filter(col("gram_df") > 1)
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("gram_df", "gram")))
      .filter(col("rk") <= floor(col("sz") * (1 - t)) + 1)
      .select("doc_id", "sz", "gram", "rk")
      .pinned
    // NOTE (r18 negative result, VERDICT r17 #3): PPJoin's aggregated
    // overlap ubound — count shared prefix grams per pair and prune
    // when cnt + min(fsz - rk_max) misses alpha — prunes ZERO of the
    // 1.53M sf0.1 candidates (measured, ProfD04): this corpus has NO
    // singleton grams (fsz/sz = 1.0 for every doc) and matches sit
    // early in the short prefixes, so the bound always clears alpha.
    // The distinct() stays; the win moved to the verify stage below.
    val candidates = prefix.as("l").join(prefix.as("r"),
        col("l.gram") === col("r.gram") && col("l.doc_id") < col("r.doc_id") &&
          col("l.sz") >= col("r.sz") * t && col("r.sz") >= col("l.sz") * t &&
          (least(col("l.sz") - col("l.rk"), col("r.sz") - col("r.rk")) + 1) >=
            ceil((col("l.sz") + col("r.sz")) * (t / (1 + t))))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // Pre-distinct stays (unlike d06): the candidate stream carries a
    // ~2× multi-gram multiplicity, and deferring its dedup makes the
    // payload re-attach join size borderline for AQE's broadcast
    // decision — measured 4× run-to-run swings when deferred. One
    // stable shuffle of the narrow pair set is the better trade here.
    //
    // SIZE-ROUTED payload attach (r17→r18, guide §3.1/§8 + the e01c
    // sqCutPool convention): this corpus' 0.8 threshold over short
    // synthetic docs admits a candidate set ~300× the doc count
    // (sf0.1: 1.53M pairs from 5k docs), so "AQE broadcasts the small
    // pair side" inverts — the pair side is the BIG side, Catalyst
    // picks sort-merge, and the second attach shuffles every pair
    // WITH its first ~2.3 KB gram array attached (measured 16-46 s at
    // sf0.1, 5-10× run-to-run swings as the borderline AQE decision
    // flips). When the whole per-doc gram table fits the broadcast
    // budget, ship IT once as a keyed broadcast map and verify the
    // naked pair stream against it (r18 — see `verified` below; the
    // r17 form broadcast-JOINED it, which still re-deserialized both
    // arrays per pair: sf0.1 median 48 s → ~4 s → ~2 s). Above the
    // budget (the 100 TB regime, where a production threshold makes
    // candidates ≪ corpus) the un-hinted form stays: AQE broadcasts
    // the genuinely small pair side and the payload table never
    // moves. sum(sz) reads off the cached g — one tiny job that also
    // fills the cache before the two consumers race it.
    // coalesce: sum over an EMPTY corpus is null (VERDICT r17 #3's
    // noted NPE) — route the empty case through the broadcast arm.
    // The sz×8 estimate ignores row/array overhead (~1.5-2× light),
    // tolerable under the budget's comfort margin.
    val gramBytes = g.agg(coalesce(sum(col("sz")), lit(0L)))
      .head.getLong(0) * 8L
    val verified =
      if (gramBytes <= GramBroadcastMaxBytes) {
        // BROADCAST-MAP verify (r18, guide §2.3/§8 "move the heavy
        // bytes once"): the r17 broadcast-JOIN arm already shipped
        // the whole gram table to every executor, but each of the
        // 1.53M sf0.1 candidate rows still DESERIALIZED both ~4 KB
        // UnsafeArrayData payloads into fresh Array[Long]s inside the
        // typed map (~16 µs/pair — the measured 24 CPU-s bulk of
        // d04). Ship the table once as a keyed map instead (same
        // bytes, same budget gate): each doc's array materializes
        // ONCE at broadcast read, and the pair stream stays two naked
        // longs wide end to end. sz == grams.length (distinct hashes),
        // so the merge needs no side columns.
        val bc = spark.sparkContext.broadcast(
          g.select(col("doc_id"), col("grams"))
            .as[(Long, Array[Long])].collect().toMap)
        candidates.as[(Long, Long)]
          .mapPartitions { it =>
            val m = bc.value
            val tEff = t - 1e-4
            it.map { case (a, b) =>
              val ga = m(a); val gb = m(b)
              // Required overlap for round(j,4) >= t, with a 1e-4
              // slack so a raw j that ROUNDS UP across the threshold
              // is never cut: the early-exit merge rejects most
              // candidates in a few steps.
              val alpha = math.ceil((ga.length + gb.length) * tEff / (1 + tEff)).toInt
              val inter = sortedIntersectionAtLeast(ga, gb, alpha)
              if (inter < 0) (a, b, 0.0)
              else (a, b, inter.toDouble / (ga.length + gb.length - inter))
            }
          }
      } else {
        // Above the budget (the 100 TB regime, where a production
        // threshold makes candidates ≪ corpus): the un-hinted join
        // form stays — AQE broadcasts the genuinely small pair side
        // and the payload table never moves.
        candidates
          .join(g.select(col("doc_id").as("doc_a"), col("grams").as("ga"), col("sz").as("sza")), "doc_a")
          .join(g.select(col("doc_id").as("doc_b"), col("grams").as("gb"), col("sz").as("szb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("ga"), col("sza"), col("gb"), col("szb"))
          .as[(Long, Long, Array[Long], Int, Array[Long], Int)]
          .map { case (a, b, ga, sza, gb, szb) =>
            val tEff = t - 1e-4
            val alpha = math.ceil((sza + szb) * tEff / (1 + tEff)).toInt
            val inter = sortedIntersectionAtLeast(ga, gb, alpha)
            if (inter < 0) (a, b, 0.0)
            else (a, b, inter.toDouble / (sza + szb - inter))
          }
      }
    verified
      .toDF("doc_a", "doc_b", "jraw")
      .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("j"))
      .filter(col("j") >= t) // Spark round == DuckDB round (half-up)
      .orderBy("doc_a", "doc_b")
  }

  /** d05: embedding-cosine near-dup pairs (exact all-pairs — the
    * oracle anchor; the shipped scale path with the same semantics
    * is d06EmbedNeardupAnn's cell-blocking). */
  def d05EmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = graft.plans.Par.ensureParallelism(Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nv", normNative(col("v")))) // norm hoisted out of the pair loop
      // ^ one parquet split at test SF would serialize the pair loop
      // on one core; conditional repartition (Par) keeps it parallel
      // without coalescing a many-split scan at scale
    // Prefilter on the RAW score with a 1e-6 slack margin (any pair
    // whose ROUNDED cos passes the threshold certainly passes raw
    // >= t - 1e-6), then round(6) only the tiny survivor set —
    // round()'s per-value BigDecimal is deadly at all-pairs scale.
    e.as("l").join(e.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        cosinePreRaw(col("l.v"), col("r.v"), col("l.nv"), col("r.nv")).as("rawcos"))
      .filter(col("rawcos") >= CosineThreshold - 1e-6)
      .select(col("vec_a"), col("vec_b"), round(col("rawcos"), 6).as("cos"))
      .filter(col("cos") >= CosineThreshold)
      .orderBy("vec_a", "vec_b")
  }

  /** d06: ANN-BLOCKED embedding near-dup — the 100 TB path for d05's
    * semantics. Multi-table random-hyperplane LSH cells block the
    * corpus (candidate generation is an equi-join on (table, bucket),
    * never the n² cross product); candidates verify with the exact
    * cosine and the same threshold as d05. More tables than v05's ANN
    * top-k (16×4 bits) because pair RECALL at cos≈0.45 needs the
    * union of more independent blockings (per-table collision
    * p=(1-θ/π)^4 ≈ 0.18 at the threshold → 16 tables ≈ 0.96 recall).
    * *rows-only*; DedupSpec asserts recall ≥ 0.9 of d05's exact pairs
    * at sf0.01.
    *
    * Tuning note: this corpus' 0.45 threshold sits close to the
    * random-pair cosine (synthetic embeddings — a stress case for
    * LSH selectivity), so 4-bit tables admit a large candidate
    * fraction. A production near-dup threshold (cos ≥ 0.8, θ ≤ 37°,
    * per-bit p ≥ 0.8) uses MORE bits per table (8–16) and fewer
    * tables: candidates then shrink by 10²–10³× while recall holds —
    * the bits/tables trade is the operator's scale dial. */
  val AnnTables = 16
  val AnnBits = 4

  def d06EmbedNeardupAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val planes = VectorQueries.lshPlanes(AnnTables * AnnBits, 64, seed = 77L)
    val e = graft.plans.Par.ensureParallelism(Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nv", normNative(col("v"))))
      .cache()
    // Eager fill + conditional parallelize (r18, the d05/d14
    // lessons): the four consumers below race the lazy cache inside
    // one action, and a one-split scan ran the decode+norm+hash map
    // serially (the two measured ~1 s single-task stages of d06).
    e.count()
    // Narrow (vec_id, cell) rows for blocking; vector payloads
    // re-attach afterwards via the tiny candidate-pair join (same
    // shape as d04 — nothing O(corpus) broadcasts).
    val cells = e.select(col("vec_id"),
      explode(VectorQueries.cellStructs(planes, AnnTables, AnnBits)(col("v"))).as("cell"))
    // NO pre-distinct on the candidate stream: deduplicating multi-
    // table collisions up front is a full extra shuffle of the
    // candidate set, while the duplicate cosines it would save are
    // map-side-cheap (mean multiplicity ≈ 1 + L·p per colliding
    // pair). Score everything, filter, THEN distinct the tiny
    // survivor set.
    val cand = cells.as("l").join(cells.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nv").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nv").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosinePreRaw(col("va"), col("vb"), col("na"), col("nb")).as("rawcos"))
      .filter(col("rawcos") >= CosineThreshold - 1e-6)
      .select(col("vec_a"), col("vec_b"), round(col("rawcos"), 6).as("cos"))
      .filter(col("cos") >= CosineThreshold)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** Connected components over an undirected edge list (two long
    * columns) by min-label propagation TO FIXPOINT: each round is one
    * join + one keyed agg, labels only decrease, so O(component
    * diameter) rounds with the moved-label count as the convergence
    * action. Near-dup clusters have small diameters (stars/short
    * chains), which makes this the right shape; a graph with
    * continent-sized components would want the alternating
    * large-star/small-star contraction (O(log n) rounds) instead —
    * same relational primitives, more bookkeeping. 64-round runaway
    * guard, warned loudly.
    *
    * Returns (id, comp) for every vertex IN the edge list. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // Iterative plans MUST truncate lineage each round with an EAGER
    // localCheckpoint: a cache() does not cut the LOGICAL plan, and
    // this loop references lab/hop twice per round — the analyzed
    // plan (and every explain/listener stringification of it) grows
    // 4^rounds and the driver hangs stringifying it long before any
    // executor works. localCheckpoint also evaluates the (possibly
    // expensive) edge subtree exactly once. In a fault-tolerant
    // production run, checkpoint() to reliable storage instead —
    // same lineage cut, plus recoverability.
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.toDF("u", "v").pinned
    val both = sym.union(sym.select(col("v"), col("u"))).pinned
    var lab = both.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")).pinned
    var moved = 1L
    var round = 0
    while (moved > 0 && round < 64) {
      val viaN = both
        .join(lab.select(col("id").as("v"), col("comp").as("ncomp")), "v")
        .groupBy(col("u").as("id"))
        .agg(min("ncomp").as("ncomp"))
      // ONE fused job per round (r18 — was pin(hop) + pin(next) +
      // count, 3 jobs): the neighbour-min AND the pointer jump
      // (comp := min(comp, comp(comp)) — halves remaining chain
      // length, O(log diameter) rounds) both read the ROUND-START
      // labels, so they fuse into a single plan over the pinned
      // leaf `lab` (referenced three times — scans of cached
      // blocks, no recompute). Jumping on the round-start label
      // instead of the freshly-hopped one is a WEAKER per-round
      // update, but labels still only decrease and the unique
      // fixpoint (constant = component-min per component: at a
      // fixpoint comp_u <= comp_v <= comp_u across every edge, and
      // a non-min constant c > m contradicts comp_m <= m) is
      // unchanged — at worst a round more on deep chains (measured:
      // round counts identical on the sf graphs). Labels are always
      // vertex ids, so the jump self-join always finds its row.
      //
      // Convergence detection rides the SAME job: a LongAccumulator
      // incremented where comp != prev while the pin materializes —
      // no separate count job. Task retries and checkpoint
      // recompute can only over-count, never turn a nonzero count
      // into zero (a re-run task re-adds the same nonnegative
      // contribution), so `moved` is an upper bound and the
      // `moved > 0` test is retry-safe.
      val step = lab.join(viaN, Seq("id"), "left")
        .join(lab.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"),
            coalesce(col("ncomp"), col("comp")),
            coalesce(col("ccomp"), col("comp"))).as("comp"))
      val acc = spark.sparkContext.longAccumulator("cc-moved")
      // Row-encoded map: vertex ids are type-generic (h16 components
      // run over STRING entity names, d07/d09 over long doc ids).
      val next = step
        .mapPartitions(_.map { r =>
          if (r.get(2) != r.get(1)) acc.add(1L); r
        })(org.apache.spark.sql.Encoders.row(step.schema))
        .pinned
      moved = acc.value
      lab = next.select("id", "comp")
      round += 1
      org.slf4j.LoggerFactory.getLogger(getClass).debug(
        s"connectedComponents round $round: moved <= $moved (an upper bound " +
        "— retries and checkpoint recompute re-count a round's moves)")
    }
    if (moved > 0)
      System.err.println(s"[graft] connectedComponents: NOT converged after " +
        s"$round rounds (at most $moved labels still moving)")
    lab.select("id", "comp")
  }

  /** d07: near-dup CLUSTERS + canonical selection — the "keep one
    * copy per duplicate group" pipeline op: connected components over
    * the d02 MinHash/LSH pair graph, canonical = the cluster's min
    * doc_id (the survivor a keep-one filter would retain). Only docs
    * that participate in at least one near-dup pair appear (singleton
    * docs are their own trivial cluster and are left untouched by a
    * keep-one pass). Oracle: DuckDB recursive-CTE transitive closure
    * over the exact all-pairs Jaccard graph. */
  def d07DedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir, CanonicalMinId)

  /** Canonical-selection policies for dedupClusters: real pipelines
    * rarely keep the min-id copy — they keep the longest or the
    * highest-quality one and drop the rest. */
  val CanonicalMinId = "min_id"
  val CanonicalLongest = "longest"
  val CanonicalBestQuality = "best_quality"

  /** d07 with a canonical-selection POLICY dial. All policies share
    * the cluster computation (components over the d02 pair graph)
    * and output schema; only the per-cluster survivor changes:
    *
    *  - min_id:       the cluster's smallest doc_id (== cluster_id —
    *                  free, no extra join; the oracle-anchored form);
    *  - longest:      max n_chars, ties to the smaller doc_id;
    *  - best_quality: max t02 quality score, ties to the smaller
    *                  doc_id.
    *
    * The metric joins are narrow per-doc lookups against the TINY
    * cluster membership (AQE broadcasts it); the per-cluster pick is
    * a rank window partitioned by cluster — bounded by cluster
    * sizes, which near-dup graphs keep small. */
  def dedupClusters(spark: SparkSession, dir: String, policy: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(d02Pairs(spark, dir).select("doc_a", "doc_b"))
      .select(col("comp").as("cluster_id"), col("id").as("doc_id"))
    if (policy == CanonicalMinId)
      comp.select(col("cluster_id"), col("doc_id"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical"))
        .orderBy("cluster_id", "doc_id")
    else {
      val metric = policy match {
        case CanonicalLongest =>
          Tables.documents(spark, dir).select(col("doc_id"), col("n_chars").as("metric"))
        case CanonicalBestQuality =>
          TextQueries.t02QualityScore(spark, dir).select(col("doc_id"), col("quality").as("metric"))
        case p => throw new IllegalArgumentException(
          s"Unknown canonical policy: $p (min_id | longest | best_quality)")
      }
      val w = Window.partitionBy("cluster_id").orderBy(col("metric").desc, col("doc_id"))
      comp.join(metric, "doc_id")
        .withColumn("is_canonical", (row_number().over(w) === 1).cast("int"))
        .select("cluster_id", "doc_id", "is_canonical")
        .orderBy("cluster_id", "doc_id")
    }
  }

  /** d09: APPLY the dedup — the corpus filter every pipeline runs
    * after clustering: drop each near-dup cluster's non-canonical
    * members, keep canonicals and all singleton docs. One anti-join
    * of the corpus against the (tiny) non-canonical member set — the
    * cluster table is bounded by docs-in-pairs, so at 100 TB the
    * corpus streams against a small build side and nothing else
    * moves. Policy-parameterized like dedupClusters; the shipped
    * entry uses min_id (the oracle-anchored policy). */
  def d09DedupApply(spark: SparkSession, dir: String): DataFrame =
    dedupApply(spark, dir, CanonicalMinId)

  def dedupApply(spark: SparkSession, dir: String, policy: String): DataFrame = {
    val drop = dedupClusters(spark, dir, policy)
      .filter(col("is_canonical") === 0)
      .select("doc_id")
    Tables.documents(spark, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  val SpanWindow = 64
  val SpanStride = 16

  /** Fixed-stride code-point window hashes — the same quantity the
    * oracle restates with substr + unicode() (code points, not UTF-16
    * chars, so astral text agrees cross-engine). Tight JVM loop over
    * a precomputed code-point array; ~len/stride windows per doc. */
  def spanWindowHashes(text: String, w: Int, stride: Int): Array[(Long, Long)] = {
    val cps = text.codePoints().toArray
    val n = cps.length - w + 1
    if (n <= 0) return Array.empty
    val out = new Array[(Long, Long)]((n + stride - 1) / stride)
    var pos = 0
    var k = 0
    while (pos < n) {
      var h = 0L
      var j = pos
      while (j < pos + w) { h = (h * 131 + cps(j)) % 1000000007L; j += 1 }
      out(k) = (pos.toLong, h)
      pos += stride; k += 1
    }
    out
  }

  /** d08: repeated-SPAN detection — the exact-substring training-data
    * dedup primitive (the "long common span" pass of
    * deduplicate-text-datasets pipelines, distinct from whole-doc
    * near-dup): every 64-code-point window (stride 16) whose hash
    * appears in MORE than one document, with its positions. Window
    * hashing is a narrow map; the multi-doc filter is one
    * map-side-combinable groupBy on the hash; the re-join is on the
    * narrow hash key — nothing all-pairs, nothing broadcast-O(corpus),
    * linear at 100 TB. Overlapping/extended spans reconstruct
    * downstream by coalescing adjacent positions. */
  /** (doc_id, pos, whash) window-occurrence rows — the position-
    * bearing shared kernel of d08 (detect) and d11 (apply); the
    * position-free d12/SketchIndex form derives from it
    * (spanHashRows). ONE window rule, so detect, apply, incremental
    * and streaming agree by construction. */
  def spanOccurrenceRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        spanWindowHashes(t, SpanWindow, SpanStride).map { case (p, h) => (id, p, h) }
      }
      .toDF("doc_id", "pos", "whash")
  }

  /** Window hashes that occur in MORE than one document (the shared
    * multi-doc filter of d08/d11). */
  private def multiDocHashes(w: DataFrame): DataFrame =
    w.groupBy("whash")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
      .select("whash")

  def d08SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = spanOccurrenceRows(Tables.documents(spark, dir))
    w.join(multiDocHashes(w), "whash")
      .select("doc_id", "pos", "whash")
      .orderBy("doc_id", "pos")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    * 2003 "Winnowing: Local Algorithms for Document Fingerprinting")
    * — the guaranteed-coverage sampling of t04's rolling-hash gram
    * stream: the MINIMUM hash of every `w`-gram window is selected,
    * so any shared substring of length ≥ gram+w-1 yields a shared
    * fingerprint, while only ~2/(w+1) of grams are indexed. Linear
    * kernel: O(1)-amortized rolling hash update + monotonic-deque
    * window minimum (the oracle restates it as per-gram fold +
    * per-window list_min — identical values, O(L·g·w) is fine for
    * DuckDB at oracle SF, the deque is the shape that survives long
    * documents). Returns the DISTINCT selected hash values (tie
    * position is irrelevant to the value set). */
  private[graft] def winnowSelect(text: String, gram: Int, w: Int): Array[Long] = {
    val cps = text.codePoints.toArray
    val n = cps.length
    if (n < gram) return Array.empty
    val g = n - gram + 1
    if (g < w) return Array.empty
    val P = 1000000007L
    var pow = 1L
    var j = 1
    while (j < gram) { pow = pow * 131 % P; j += 1 }
    val hs = new Array[Long](g)
    var acc = 0L
    var i = 0
    while (i < gram) { acc = (acc * 131 + cps(i)) % P; i += 1 }
    hs(0) = acc
    i = 1
    while (i < g) {
      acc = ((acc - cps(i - 1) % P * pow) % P + P) % P
      acc = (acc * 131 + cps(i + gram - 1)) % P
      hs(i) = acc
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    val dq = new java.util.ArrayDeque[Int]()
    var k = 0
    while (k < g) {
      while (!dq.isEmpty && hs(dq.peekLast) >= hs(k)) dq.pollLast()
      dq.addLast(k)
      if (dq.peekFirst <= k - w) dq.pollFirst()
      if (k >= w - 1) out.add(hs(dq.peekFirst))
      k += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    var r = 0
    while (it.hasNext) { res(r) = it.next(); r += 1 }
    res
  }

  /** Merge the fixed-width cut windows starting at `cuts` and splice
    * them OUT of the text (code-point arithmetic, matching
    * spanWindowHashes' positions). Returns (new_text,
    * removed_code_points). Adjacent windows (s == previous end)
    * merge, mirroring the oracle's gaps-and-islands `pos > prev_max`
    * island rule. */
  private[graft] def spliceWindows(text: String, cuts: Seq[Long], w: Int): (String, Int) = {
    if (cuts.isEmpty) return (text, 0)
    val cps = text.codePoints().toArray
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    cuts.sorted.foreach { c0 =>
      val s = c0.toInt
      val e = s + w
      if (merged.nonEmpty && s <= merged.last._2) {
        val (ls, le) = merged.last
        merged(merged.length - 1) = (ls, math.max(le, e))
      } else merged += ((s, e))
    }
    val sb = new java.lang.StringBuilder(cps.length)
    var prev = 0
    var removed = 0
    merged.foreach { case (s, e) =>
      var i = prev
      while (i < s) { sb.appendCodePoint(cps(i)); i += 1 }
      removed += e - s
      prev = e
    }
    var i = prev
    while (i < cps.length) { sb.appendCodePoint(cps(i)); i += 1 }
    (sb.toString, removed)
  }

  /** True iff the `w`-code-point windows of `a` at `apos` and `b` at
    * `bpos` are identical — the byte-level confirmation behind d11's
    * cuts. Allocation-free code-point walk (surrogate-aware). */
  private[graft] def sameWindow(a: String, apos: Int, b: String, bpos: Int, w: Int): Boolean = {
    var ia = a.offsetByCodePoints(0, apos)
    var ib = b.offsetByCodePoints(0, bpos)
    var k = 0
    while (k < w) {
      val ca = a.codePointAt(ia)
      val cb = b.codePointAt(ib)
      if (ca != cb) return false
      ia += Character.charCount(ca)
      ib += Character.charCount(cb)
      k += 1
    }
    true
  }

  /** d11: exact-substring dedup APPLY — the REMOVAL pass the
    * deduplicate-text-datasets pipeline (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better") runs after d08's
    * detection: every cross-document repeated window keeps its FIRST
    * occurrence (min doc_id, then min pos — the canonical) and every
    * other occurrence is cut out of its document; overlapping or
    * adjacent cut windows merge before splicing so text is removed
    * once. Within-doc-only repeats are untouched (the operator's
    * contract is cross-document dedup; d08's multi-doc filter).
    *
    * Destructive cuts are BYTE-VERIFIED, not hash-trusted: each
    * candidate cut re-compares its window against the canonical
    * occurrence's actual text before any splice — a hash collision
    * (mod 1e9+7, guaranteed to occur by the birthday bound at real
    * corpus scale) must never delete unique text. Detection-only d08
    * can tolerate collision noise; an apply pass cannot. The oracle
    * mirrors the verification with the same substr comparison.
    *
    * Scale shape: the canonical choice is ONE rank window keyed by
    * the narrow window-hash (a hash shared by F docs costs F rows in
    * one partition — linear, the d08 guarantee); verification joins
    * text onto the TINY cut set only (cut rows ⋈ their doc + the
    * canonical doc, both narrow equi-joins); cuts aggregate per-doc
    * (bounded by len/stride positions); the splice is a narrow typed
    * map over (text, cuts). Nothing all-pairs, nothing
    * broadcast-O(corpus). Output (doc_id, new_text, n_removed) —
    * every doc appears, untouched docs pass through verbatim. */
  def d11SpanDedupApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val w = spanOccurrenceRows(docs)
    val firstOcc = Window.partitionBy("whash").orderBy("doc_id", "pos")
    val occ = w.join(multiDocHashes(w), "whash")
      .withColumn("rk", row_number().over(firstOcc))
    val canon = occ.filter(col("rk") === 1)
      .select(col("whash"), col("doc_id").as("cdoc"), col("pos").as("cpos"))
    val texts = docs.select(col("doc_id"), col("text"))
    val cuts = occ.filter(col("rk") > 1)
      .select("doc_id", "pos", "whash")
      .join(canon, "whash")
      .join(texts, "doc_id")
      .join(texts.select(col("doc_id").as("cdoc"), col("text").as("ctext")), "cdoc")
      .select(col("doc_id"), col("pos"), col("text"), col("cpos"), col("ctext"))
      .as[(Long, Long, String, Long, String)]
      .filter { case (_, pos, t, cpos, ct) =>
        sameWindow(t, pos.toInt, ct, cpos.toInt, SpanWindow)
      }
      .map { case (id, pos, _, _, _) => (id, pos) }
      .toDF("doc_id", "pos")
      .groupBy("doc_id")
      .agg(sort_array(collect_list("pos")).as("cuts"))
    texts
      .join(cuts, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Long]])]
      .map { case (id, t, cs) =>
        val (nt, removed) = spliceWindows(t, cs.getOrElse(Seq.empty), SpanWindow)
        (id, nt, removed.toLong)
      }
      .toDF("doc_id", "new_text", "n_removed")
      .orderBy("doc_id")
  }

  /** d12: INCREMENTAL span dedup with a BLOOM-FILTER prefilter — the
    * sketch-broadcast pattern for checking a new micro-batch against
    * a history corpus too big to join wholesale (the always-on form
    * of d08's question: "does this new doc repeat content the corpus
    * already has?"). History = doc_id%10≠0, batch = doc_id%10=0
    * (standing in for [existing corpus, new ingest batch], the t09
    * slice precedent).
    *
    * A Bloom filter over the history's span hashes (1% fpp) is built
    * once with a distributed aggregate and broadcast; the batch's
    * spans filter against it AT SCAN SPEED, so only the bloom-
    * positive sliver (true hits + ~1% noise) ever shuffles into the
    * exact verify join — where false positives die. False negatives
    * are impossible, so the output is EXACTLY the naive join's (the
    * oracle restates it join-only). At 100 TB the bloom (~1.2 GB per
    * 10⁹ spans at 1%) replaces shuffling the batch against a
    * corpus-sized table; size it per-partition or raise fpp if the
    * history outgrows one broadcast. */
  def d12BloomSpanIncremental(spark: SparkSession, dir: String): DataFrame = {
    // One hashing pass feeds all four consumers (count, bloom agg,
    // verify-join side, batch filter all derive from this cache —
    // uncached, the corpus would re-hash four times). Cache-without-
    // unpersist is the DedupQueries one-shot convention; the harness
    // isolates queries with clearCache.
    val w = spanHashRows(Tables.documents(spark, dir)).cache()
    val hist = w.filter(col("doc_id") % 10 =!= 0)
    val batch = w.filter(col("doc_id") % 10 === 0)
    val histHashes = hist.select("whash").distinct().cache()
    // Sized on the DISTINCT count (buildSpanBloom's rule — raw rows
    // oversize the bits on boilerplate-heavy corpora). An EMPTY
    // history (all docs sub-window — a legal corpus) short-circuits:
    // df.stat.bloomFilter over zero rows yields a null-buffer sketch
    // that NPEs on read, and the answer is definitionally no rows.
    val n = histHashes.count()
    if (n == 0)
      return batch.select(col("doc_id"), lit(0L).as("n_shared_spans")).limit(0)
    val bloom = histHashes.stat.bloomFilter("whash", expectedNumItems = n, 0.01)
    bloomSpanCheck(batch, histHashes, bloom)
  }

  /** (doc_id, whash) span-hash rows — the position-free projection of
    * spanOccurrenceRows, shared by d12/st08 and the SketchIndex
    * artifact build. */
  def spanHashRows(docs: DataFrame): DataFrame =
    spanOccurrenceRows(docs).select("doc_id", "whash")

  /** The d12 verify stage over pre-hashed sides: bloom prefilter at
    * scan speed, exact equi-join (false positives die), per-doc
    * distinct tally. Shared by the inline entry and the
    * persisted-artifact path (SketchIndex), so the two cannot
    * drift. */
  def bloomSpanCheck(batch: DataFrame, histHashes: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bloom)
    batch.select(col("doc_id"), col("whash")).as[(Long, Long)]
      .filter(r => bc.value.mightContainLong(r._2))
      .toDF("doc_id", "whash")
      .join(histHashes, "whash") // exact: fp noise dies here
      .groupBy("doc_id")
      .agg(countDistinct("whash").as("n_shared_spans"))
      .orderBy("doc_id")
  }

  val WinnowGram = 24
  val WinnowWindow = 8
  val WinnowMinShared = 2

  /** Hot-fingerprint document-frequency cap: a fingerprint appearing
    * in more than this many documents is DROPPED before pairing (the
    * standard winnowing-index mitigation — Schleimer et al. §5 and
    * MOSS both suppress over-frequent fingerprints, which on real
    * corpora are license headers / boilerplate). Without the cap a
    * span shared by F documents emits F² join rows on ONE shuffle
    * key — quadratic blowup in a single partition. Verified
    * non-binding on the driver corpus (capped == uncapped at
    * sf0.001; SkewCorpusSpec), so the oracle stays hash-green. */
  val WinnowMaxDf = 64

  /** d10: WINNOWED near-dup candidate pairs — doc pairs sharing ≥ 2
    * selected fingerprints. The scale contrast with d08: d08 indexes
    * EVERY stride-16 window hash; winnowing indexes ~2/(w+1) of all
    * grams yet still guarantees detection of any shared run ≥
    * gram+w-1 code points — the plagiarism-detection/MOSS shape of
    * the substring-dedup index. Selection is a narrow typed flatMap.
    *
    * Pairing is skew-proof by construction (r8): pass 1 counts each
    * fingerprint's document frequency map-side-combinably and drops
    * fingerprints outside [2, fMax]; pass 2 aggregates the surviving
    * posting lists (each now BOUNDED at fMax doc ids) and emits the
    * ≤ fMax·(fMax-1)/2 pairs per fingerprint from inside the list —
    * no self-join, no key that can explode. Each per-doc fingerprint
    * set is distinct (winnowSelect) so a plain pair count equals the
    * distinct-fingerprint share count. */
  def d10WinnowPairs(spark: SparkSession, dir: String): DataFrame =
    d10WinnowPairsCapped(spark, dir, WinnowMaxDf)

  def d10WinnowPairsCapped(spark: SparkSession, dir: String, fMax: Int): DataFrame = {
    import spark.implicits._
    val sel = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        winnowSelect(t, WinnowGram, WinnowWindow).map(fp => (id, fp))
      }
      .toDF("doc_id", "fp")
    // Pass 1: per-fingerprint doc frequency (partial counts combine
    // map-side, so even a fingerprint in every document costs one
    // long per task, not a posting list). Singletons pair with
    // nothing and hot fingerprints are boilerplate — both drop here.
    val keep = sel.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= fMax)
      .select("fp")
    // Pass 2: posting lists only for kept fingerprints — buffers are
    // bounded at fMax ids, pair fan-out at fMax²/2 per fingerprint.
    val postings = sel.join(keep, "fp")
      .groupBy("fp")
      .agg(collect_list("doc_id").as("docs"))
    postings.select(col("docs")).as[Seq[Long]]
      .flatMap { docs =>
        val s = docs.sorted.toArray
        for {
          i <- s.indices.iterator
          j <- (i + 1) until s.length
        } yield (s(i), s(j))
      }
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("doc_a", "doc_b")
  }

  val SemDedupClusters = 8

  /** d15: SemDeDup (Abbas et al. 2023) — SEMANTIC deduplication by
    * clustering the embedding space first and comparing pairs ONLY
    * within a cluster: k-means routes each vector to a cell, within-
    * cell pairs above the cosine threshold mark the later vector a
    * duplicate, the earliest (lowest vec_id) of each near-dup
    * relation survives. The paper's insight is that near-dups are
    * semantically close, so cross-cluster pairs can be skipped
    * entirely — the pair budget drops from n² to Σ n_c², and k is
    * the dial (the paper runs k≈11k on LAION; the test corpus uses
    * k=8 so cells stay non-trivial at sf0.01).
    *
    * Keep rule: the paper keeps a pseudo-random member per dup
    * relation (footnote: low-centroid-distance works equally); we
    * keep the LOWEST vec_id — the d01/d09 keep-first convention,
    * deterministic and engine-independent. Verification reuses d05's
    * exact-cosine kernel and threshold (raw prefilter with 1e-6
    * slack, round(6) on survivors), so a d15 duplicate always has a
    * d05-witness in its own cluster (DedupSpec asserts this).
    *
    * Shape at 100 TB: assignment is the KMeans narrow map (model
    * broadcast as literals); the pair join is an equi-join keyed on
    * cluster — with production k (thousands), cells are small and
    * the shuffle spreads over k keys; nothing all-pairs, nothing
    * collected but the k×dim model. *rows-only* (k-means is not
    * SQL-expressible; DedupSpec pins the planted-dup/witness/volume
    * properties). */
  def d15SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    semDedup(spark, e, SemDedupClusters)
  }

  /** d15 kernel over any (vec_id, v) relation — the spec plants
    * corpora through this. Returns (vec_id, cluster, is_dup). */
  def semDedup(spark: SparkSession, e: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val (assign, _, _) =
      KMeans.fit(spark, e, k = k, iters = 3, trackInertia = false)
    val withC = e.join(assign, "vec_id")
      .withColumn("nv", normNative(col("v")))
    val dropped = withC.as("l")
      .join(withC.as("r"),
        col("l.cluster") === col("r.cluster") && col("l.vec_id") < col("r.vec_id"))
      .select(col("r.vec_id").as("vec_id"),
        cosinePreRaw(col("l.v"), col("r.v"), col("l.nv"), col("r.nv")).as("rawcos"))
      .filter(col("rawcos") >= CosineThreshold - 1e-6)
      .filter(round(col("rawcos"), 6) >= CosineThreshold)
      .select("vec_id").distinct()
    withC
      .join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** d16 gram length: longer than t09's 3-gram contamination probe —
    * source-level governance wants to see real shared PASSAGES, not
    * common phrases. */
  val SourceGram = 5

  /** d16: CROSS-SOURCE OVERLAP MATRIX — for every source pair, the
    * count and Jaccard of shared distinct [[SourceGram]]-word-grams:
    * the training-data governance view (which crawls/feeds duplicate
    * each other, where a source is a repackage of another) that
    * decides what to drop WHOLESALE before document-level dedup even
    * runs. Uses the ONE wordGramRows tokenization rule.
    *
    * Scale shape: grams dedup to (source, gram) map-side BEFORE the
    * self-join; the join is keyed by the high-cardinality gram and
    * its per-key fan-out is bounded by the SOURCE dim (≤ sources²
    * rows per gram, sources is a tiny dimension); per-source totals
    * and pair counts are map-side-combining aggs; |union| by
    * inclusion-exclusion — the union gram set never materializes. */
  def d16SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("text"))
    // g is consumed twice (per-source totals + the source-set agg) —
    // cache so tokenize + distinct runs once (r17, guide §2.4).
    val g = TextQueries.wordGramRows(d, SourceGram, Seq(col("source"))).distinct()
      .cache()
    // Eager fill (r18, the d04 probe lesson — see containmentPairs):
    // both consumers race the cache inside one action otherwise.
    g.count()
    val per = g.groupBy("source").agg(count(lit(1)).as("n_grams"))
    // SOURCE-SET COLLAPSE (r18, guide §2.3/§2.4): the r17 self-join
    // on gram emitted k_g² rows per gram (k_g = sources containing
    // it — boilerplate grams shared by ALL sources pay the full
    // sources² fan-out PER GRAM, the measured 15 CPU-s bulk of d16).
    // Instead: one keyed agg folds each gram to its SORTED source
    // set, a second agg counts grams per DISTINCT set (a handful of
    // rows — ≤ min(|grams|, 2^sources)), and only those few rows
    // expand into pairs via a codegen'd HOF. n_shared(a,b) =
    // Σ_{sets containing both} cnt — exactly the join's count, with
    // the gram dimension collapsed before any quadratic work.
    // sort_array gives UTF8 order, so in-array position order ==
    // the old src_a < src_b string predicate.
    val setCnt = g.groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .groupBy("ss").agg(count(lit(1)).as("cnt"))
    val pairsOfSet = flatten(transform(col("ss"), (a, ai) =>
      filter(
        transform(col("ss"), (b, bi) =>
          when(bi > ai, struct(a.as("sa"), b.as("sb")))),
        p => p.isNotNull)))
    setCnt
      .select(col("cnt"), explode(pairsOfSet).as("p"))
      .groupBy(col("p.sa").as("src_a"), col("p.sb").as("src_b"))
      .agg(sum("cnt").as("n_shared"))
      .join(per.select(col("source").as("src_a"), col("n_grams").as("ga")), "src_a")
      .join(per.select(col("source").as("src_b"), col("n_grams").as("gb")), "src_b")
      .withColumn("jaccard",
        round(col("n_shared") / (col("ga") + col("gb") - col("n_shared")), 6))
      .select("src_a", "src_b", "n_shared", "jaccard")
      .orderBy("src_a", "src_b")
  }

  /** d14 dials: word-gram length (the d16 passage convention); the
    * pairing doc-frequency band [2, [[ContainDfCap]]] (a gram in ONE
    * doc pairs nothing; a gram in hundreds is boilerplate whose
    * posting list would put an F² pair set on one join key — the d10
    * cap, mirrored in the oracle: a pair sharing ONLY out-of-band
    * grams is invisible by design); and the containment floor. */
  val ContainGram = 5
  val ContainDfCap = 64L
  val ContainTau = 0.8

  /** d14: CONTAINMENT near-dup pairs — C = |A∩B| / min(|A|,|B|) ≥
    * [[ContainTau]] over distinct word-gram sets (Broder 1997's
    * containment next to his resemblance): the ASYMMETRIC duplication
    * whole-doc Jaccard is blind to. A 200-word article quoted whole
    * inside a 10k-word page has J ≈ 0.02 — d02/d04 never flag it —
    * but containment 1.0; exactly the partial-copy/quotation/
    * aggregation case a training-corpus dedup wants surfaced (the
    * small doc duplicates the big one's content).
    *
    * Scale shape: (doc, gram) rows dedup map-side (the ONE
    * wordGramRows rule); CANDIDATES pair only through grams inside
    * the df band — posting lists bounded at [[ContainDfCap]], so no
    * join key explodes (the d10 argument); the EXACT shared-gram
    * count then re-joins the full gram sets against the tiny
    * candidate-pair relation (the d04 payload re-attach — AQE
    * broadcasts the pairs, never the corpus), so emitted containment
    * values are exact over the FULL sets even though pairing was
    * df-banded. Sizes come from the already-reduced per-doc counts;
    * one rounded division at the end (the h13 float convention). */
  def d14Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      ContainDfCap)
      .orderBy("a", "b")

  /** The d14 kernel over (doc_id, text) rows with the df-band dial
    * exposed (the d10WinnowPairsCapped convention: the oracle pins
    * the default; specs turn the dial to prove the band — not the
    * corpus — bounds the pairing). */
  def containmentPairs(d: DataFrame, dfCap: Long): DataFrame = {
    // g is consumed five times (per-doc sizes, the df band, the banded
    // relation feeding both candidate sides, and both payload
    // re-attaches) — cache it so the tokenize + distinct pass runs
    // once per action, not ~5x (r17, the d04/h12 lesson; guide §2.4).
    val g = TextQueries.wordGramRows(d, ContainGram, Seq(col("doc_id"))).distinct()
      .cache()
    // Eager fill (r18, the d04 probe lesson): the five consumers are
    // INDEPENDENT subtrees of one action DAG, so they launch
    // concurrently and each recomputes tokenize + distinct before the
    // first registers its cache blocks — measured ~4× redundant
    // tokenize CPU (the bulk of d14's 32 CPU-s at sf0.1). One tiny
    // count materializes the cache before the consumers race it.
    g.count()
    val per = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val banded = g.join(
      g.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2L, dfCap)).select("gram"),
      "gram")
    val cand = banded.select(col("gram"), col("doc_id").as("a"))
      .join(banded.select(col("gram"), col("doc_id").as("b")), "gram")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(g.select(col("doc_id").as("a"), col("gram")), "a")
      .join(g.select(col("doc_id").as("b"), col("gram")), Seq("b", "gram"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .join(per.select(col("doc_id").as("a"), col("n_grams").as("ga")), "a")
      .join(per.select(col("doc_id").as("b"), col("n_grams").as("gb")), "b")
      .withColumn("containment",
        round(col("n_shared") / least(col("ga"), col("gb")), 6))
      .filter(col("containment") >= ContainTau)
      .select("a", "b", "n_shared", "containment")
      .orderBy("a", "b")
  }

  /** t27: SEMANTIC eval-set decontamination — the EMBEDDING form of
    * t09's verbatim screen (VERDICT r10 #3): n-gram collision checks
    * (GPT-3/PaLM style) catch copy-paste leakage but are blind to
    * PARAPHRASED benchmark items — same meaning, disjoint surface
    * grams. The embedding space catches those: flag every training
    * vector whose cosine to ANY eval vector reaches the d05/d06
    * threshold. Candidates come from the d06 multi-table LSH cell
    * blocking — train cells equi-join eval cells on the narrow
    * packed key, never train × eval on full vectors — and verify
    * with the exact cosine; the per-train-doc rollup
    * (n_eval_matches, best_cos) is bounded by the train side even
    * when one document paraphrases the whole eval suite. Eval slice
    * = vec_id % 10 == 0 (the d13 history/batch convention so the
    * entry self-contains); real pipelines pass their benchmark
    * embeddings to [[semanticDecontaminate]] directly. *rows-only*
    * (blocked recall < 1 by construction — the same reason d06 is
    * rows-only; DecontaminateSpec pins a planted paraphrase with
    * DISJOINT 3-grams that t09 misses and t27 catches, and blocked
    * == exact on the planted corpus). */
  def t27SemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    semanticDecontaminate(spark,
      e.filter(col("vec_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 === 0))
  }

  /** The general form: `train`/`evalEmb` are (vec_id, v) relations
    * (64-dim, the d06 plane model). The eval side is small relative
    * to the corpus, so its cell table is left to AQE's runtime
    * broadcast (the t09 convention); the candidate join carries only
    * narrow (vec_id, cell) rows and payload vectors re-attach via
    * the tiny candidate join (the d04/d06 re-attach). Multi-table
    * collisions are NOT pre-distinct'd (the d06 lesson) — the
    * rollup's countDistinct absorbs duplicates. */
  def semanticDecontaminate(spark: SparkSession, train: DataFrame,
      evalEmb: DataFrame, tau: Double = CosineThreshold): DataFrame = {
    import graft.functions.VectorFunctions._
    val planes = VectorQueries.lshPlanes(AnnTables * AnnBits, 64, seed = 77L)
    def prep(df: DataFrame) = df.select(col("vec_id"), col("v"))
      .withColumn("nv", normNative(col("v")))
    def cellsOf(df: DataFrame) = df.select(col("vec_id"),
      explode(VectorQueries.cellStructs(planes, AnnTables, AnnBits)(col("v"))).as("cell"))
    // Conditional parallelize + eagerly-filled caches (r18, the
    // d06/d14 lessons): each side is consumed twice (cell hashing +
    // payload re-attach) by independent subtrees of one action, and
    // a one-split scan ran the decode+norm+hash map serially (the
    // measured ~1 s single-task stage of t27).
    val tr = graft.plans.Par.ensureParallelism(prep(train)).cache()
    val ev = graft.plans.Par.ensureParallelism(prep(evalEmb)).cache()
    tr.count(); ev.count()
    val cand = cellsOf(tr).select(col("vec_id"), col("cell"))
      .join(cellsOf(ev).select(col("vec_id").as("eval_id"), col("cell")), "cell")
      .select(col("vec_id"), col("eval_id"))
    cand
      .join(tr.select(col("vec_id"), col("v").as("vt"), col("nv").as("nt")), "vec_id")
      .join(ev.select(col("vec_id").as("eval_id"), col("v").as("ve"), col("nv").as("ne")), "eval_id")
      .select(col("vec_id"), col("eval_id"),
        cosinePreRaw(col("vt"), col("ve"), col("nt"), col("ne")).as("rawcos"))
      .filter(col("rawcos") >= tau - 1e-6)
      .select(col("vec_id"), col("eval_id"), round(col("rawcos"), 6).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy("vec_id")
      .agg(countDistinct(col("eval_id")).as("n_eval_matches"),
        max(col("cos")).as("best_cos"))
      .orderBy("vec_id")
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "t27_semantic_decontaminate" -> (t27SemanticDecontaminate _),
    "d14_containment" -> (d14Containment _),
    "d16_source_overlap" -> (d16SourceOverlap _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d15_semdedup" -> (d15SemDedup _),
    "d02_minhash_lsh" -> (d02MinhashLsh _),
    "d03_simhash" -> (d03Simhash _),
    "d04_ngram_jaccard" -> (d04NgramJaccard _),
    "d05_embed_neardup" -> (d05EmbedNeardup _),
    "d06_embed_neardup_ann" -> (d06EmbedNeardupAnn _),
    "d07_dedup_clusters" -> (d07DedupClusters _),
    "d08_span_dedup" -> (d08SpanDedup _),
    "d09_dedup_apply" -> (d09DedupApply _),
    "d10_winnow_pairs" -> (d10WinnowPairs _),
    "d11_span_dedup_apply" -> (d11SpanDedupApply _),
    "d12_bloom_span_incremental" -> (d12BloomSpanIncremental _),
    "d13_incremental_neardup" -> (d13IncrementalNeardup _),
    "d17_nearest_dup" -> (d17NearestDup _))

  val oracles: Map[String, String] = Map(
    // d14: same gram rule, same df-banded candidate generation
    // (mirrored exactly — out-of-band-only pairs are invisible on
    // both sides), exact shared counts over the FULL sets, one
    // rounded division, round-then-floor in the Spark order.
    "d14_containment" ->
      s"""WITH g AS (SELECT DISTINCT doc_id, gram FROM (
         |  ${TextQueries.gramSql(ContainGram, "documents", "doc_id")})),
         |per AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
         |df AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         |       WHERE df BETWEEN 2 AND $ContainDfCap),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |         JOIN df ON df.gram = a.gram),
         |s AS (SELECT c.a, c.b, count(*) AS n_shared
         |      FROM cand c
         |      JOIN g ga ON ga.doc_id = c.a
         |      JOIN g gb ON gb.doc_id = c.b AND gb.gram = ga.gram
         |      GROUP BY 1, 2),
         |j AS (SELECT s.a, s.b, s.n_shared,
         |        round(CAST(s.n_shared AS DOUBLE) /
         |              least(pa.n_grams, pb.n_grams), 6) AS containment
         |      FROM s JOIN per pa ON s.a = pa.doc_id
         |             JOIN per pb ON s.b = pb.doc_id)
         |SELECT a, b, n_shared, containment FROM j
         |WHERE containment >= $ContainTau
         |ORDER BY a, b""".stripMargin,
    // d16: the shared gramSql rule + the h14-style inclusion-
    // exclusion Jaccard, integer counts with one rounded division.
    "d16_source_overlap" ->
      s"""WITH g AS (SELECT DISTINCT source, gram FROM (
         |  ${TextQueries.gramSql(SourceGram, "documents", "source")})),
         |per AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
         |s AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / (pa.n_grams + pb.n_grams - n_shared), 6) AS jaccard
         |FROM s JOIN per pa ON s.src_a = pa.source JOIN per pb ON s.src_b = pb.source
         |ORDER BY src_a, src_b""".stripMargin,
    "d01_exact_dedup" ->
      s"""SELECT fact_text, count(*) AS n, min(fact_id) AS canonical_id
         |FROM (${HippoGraph.factsSql})
         |GROUP BY fact_text HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin,
    // d17: per-doc argmax over the EXACT all-pairs ≥ 0.8 pair set —
    // the d02 oracle bar extended one step (banding must not lose a
    // doc's strongest partner either)
    "d17_nearest_dup" ->
      s"""WITH g AS (SELECT doc_id, $wordShinglesSql AS grams FROM documents),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |          len(list_distinct(a.grams || b.grams)), 4) AS j
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |        len(list_distinct(a.grams || b.grams)), 4) >= $WordJaccardThreshold),
         |sym AS (
         |  SELECT doc_a AS doc_id, doc_b AS partner, j FROM p
         |  UNION ALL
         |  SELECT doc_b AS doc_id, doc_a AS partner, j FROM p)
         |SELECT doc_id, partner, j FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY j DESC, partner) AS rk
         |  FROM sym) WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,
    "d02_minhash_lsh" -> // oracle = EXACT all-pairs Jaccard (LSH must not lose pairs >= 0.8)
      s"""WITH g AS (SELECT doc_id, $wordShinglesSql AS grams FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |        len(list_distinct(a.grams || b.grams)), 4) AS j
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |      len(list_distinct(a.grams || b.grams)), 4) >= $WordJaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d04_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, $charShinglesSql AS grams FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |        len(list_distinct(a.grams || b.grams)), 4) AS j
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |      len(list_distinct(a.grams || b.grams)), 4) >= $CharJaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d05_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $CosineThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Transitive closure over the EXACT all-pairs Jaccard pair graph
    // (the same oracle bar as d02: the LSH-blocked Spark side must
    // reconstruct the clusters of the exact graph).
    "d07_dedup_clusters" ->
      s"""WITH RECURSIVE g AS (SELECT doc_id, $wordShinglesSql AS grams FROM documents),
         |p AS (SELECT a.doc_id AS u, b.doc_id AS v
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |            len(list_distinct(a.grams || b.grams)), 4) >= $WordJaccardThreshold),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach(id, root) AS (
         |  SELECT DISTINCT u AS id, u AS root FROM e
         |  UNION
         |  SELECT e2.v AS id, r.root FROM reach r JOIN e e2 ON e2.u = r.id
         |)
         |SELECT min(root) AS cluster_id, id AS doc_id,
         |  CAST(id = min(root) AS INT) AS is_canonical
         |FROM reach GROUP BY id ORDER BY cluster_id, doc_id""".stripMargin,
    // Same recursive-closure oracle as d07, applied: survivors = docs
    // that are not a non-canonical member of any cluster.
    "d09_dedup_apply" ->
      s"""WITH RECURSIVE g AS (SELECT doc_id, $wordShinglesSql AS grams FROM documents),
         |p AS (SELECT a.doc_id AS u, b.doc_id AS v
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id
         |      WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
         |            len(list_distinct(a.grams || b.grams)), 4) >= $WordJaccardThreshold),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach(id, root) AS (
         |  SELECT DISTINCT u AS id, u AS root FROM e
         |  UNION
         |  SELECT e2.v AS id, r.root FROM reach r JOIN e e2 ON e2.u = r.id
         |),
         |clusters AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "d08_span_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(substr(text, CAST(i AS INT) + 1, $SpanWindow), ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 131 + c) % 1000000007) AS whash
         |  FROM documents
         |  CROSS JOIN unnest(range(0, length(text) - $SpanWindow + 1, $SpanStride)) AS t(i)
         |),
         |m AS (SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) > 1)
         |SELECT w.doc_id, w.pos, w.whash FROM w JOIN m USING (whash)
         |ORDER BY doc_id, pos""".stripMargin,
    // d11: same window/hash CTE as d08, then: canonical = first
    // occurrence per repeated hash (rank over doc_id, pos); every
    // later occurrence becomes a cut; cuts merge per doc via
    // gaps-and-islands (pos > running-max end starts an island);
    // kept segments = island complement; new_text = ordered
    // string_agg of the kept substrings.
    "d11_span_dedup_apply" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(substr(text, CAST(i AS INT) + 1, $SpanWindow), ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 131 + c) % 1000000007) AS whash
         |  FROM documents
         |  CROSS JOIN unnest(range(0, length(text) - $SpanWindow + 1, $SpanStride)) AS t(i)
         |),
         |m AS (SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) > 1),
         |occ AS (SELECT w.doc_id, w.pos, w.whash,
         |        row_number() OVER (PARTITION BY w.whash ORDER BY w.doc_id, w.pos) AS rk
         |        FROM w JOIN m USING (whash)),
         |canon AS (SELECT whash, doc_id AS cdoc, pos AS cpos FROM occ WHERE rk = 1),
         |cuts AS (SELECT o.doc_id, o.pos FROM occ o
         |         JOIN canon c USING (whash)
         |         JOIN documents da ON da.doc_id = o.doc_id
         |         JOIN documents db ON db.doc_id = c.cdoc
         |         WHERE o.rk > 1
         |           AND substr(da.text, CAST(o.pos AS INT) + 1, $SpanWindow) =
         |               substr(db.text, CAST(c.cpos AS INT) + 1, $SpanWindow)),
         |ord AS (SELECT doc_id, pos,
         |        max(pos + $SpanWindow) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |        FROM cuts),
         |isl AS (SELECT doc_id, pos,
         |        sum(CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |        FROM ord),
         |merged AS (SELECT doc_id, island, min(pos) AS s, max(pos) + $SpanWindow AS e
         |           FROM isl GROUP BY doc_id, island),
         |segs AS (
         |  SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks,
         |    s AS ke
         |  FROM merged
         |  UNION ALL
         |  SELECT mm.doc_id, max(mm.e) AS ks, max(CAST(length(d.text) AS BIGINT)) AS ke
         |  FROM merged mm JOIN documents d USING (doc_id) GROUP BY mm.doc_id
         |),
         |spliced AS (
         |  SELECT s.doc_id,
         |    string_agg(substr(d.text, CAST(s.ks AS INT) + 1, CAST(s.ke - s.ks AS INT)),
         |               '' ORDER BY s.ks) AS new_text
         |  FROM segs s JOIN documents d USING (doc_id)
         |  GROUP BY s.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(sp.new_text, d.text) AS new_text,
         |  CAST(length(d.text) - length(coalesce(sp.new_text, d.text)) AS BIGINT) AS n_removed
         |FROM documents d LEFT JOIN spliced sp USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // d13: LSH blocking must not lose any cross-slice pair at or
    // above the threshold — the oracle is the EXACT batch × history
    // Jaccard (the d02 oracle bar, restricted to the slice split),
    // restated through the gram posting-list join so DuckDB finishes
    // at sf1.0 (the all-pairs list_intersect form timed out):
    // |A∩B| is the pair's shared-gram COUNT from the posting join
    // (exhaustive — any pair with J >= 0.8 > 0 shares a gram), and
    // |A∪B| = |A| + |B| − |A∩B| since the per-doc gram lists are
    // list_distinct. Same numerator and denominator values, same
    // round-4 double division — bit-identical to the naive form.
    "d13_incremental_neardup" ->
      s"""WITH g AS (SELECT doc_id, $wordShinglesSql AS grams FROM documents),
         |sz AS (SELECT doc_id, len(grams) AS n FROM g),
         |post AS (SELECT doc_id, unnest(grams) AS gram, doc_id % 10 = 0 AS is_batch FROM g),
         |inter AS (
         |  SELECT b.doc_id AS batch_doc, h.doc_id AS hist_doc,
         |    CAST(count(*) AS BIGINT) AS ni
         |  FROM post b JOIN post h ON b.gram = h.gram
         |  WHERE b.is_batch AND NOT h.is_batch
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT i.batch_doc, i.hist_doc,
         |    round(i.ni::DOUBLE / (sb.n + sh.n - i.ni), 4) AS j
         |  FROM inter i
         |  JOIN sz sb ON sb.doc_id = i.batch_doc
         |  JOIN sz sh ON sh.doc_id = i.hist_doc
         |  WHERE round(i.ni::DOUBLE / (sb.n + sh.n - i.ni), 4) >= $WordJaccardThreshold)
         |SELECT batch_doc, CAST(count(*) AS BIGINT) AS n_hist_dups, max(j) AS best_j
         |FROM p GROUP BY batch_doc
         |ORDER BY batch_doc""".stripMargin,
    // d12: the bloom prefilter is an exact-output optimization (false
    // positives die in the verify join, false negatives impossible),
    // so the oracle is the plain history⋈batch span join.
    "d12_bloom_span_incremental" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(substr(text, CAST(i AS INT) + 1, $SpanWindow), ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 131 + c) % 1000000007) AS whash
         |  FROM documents
         |  CROSS JOIN unnest(range(0, length(text) - $SpanWindow + 1, $SpanStride)) AS t(i)
         |),
         |hist AS (SELECT DISTINCT whash FROM w WHERE doc_id % 10 <> 0),
         |batch AS (SELECT doc_id, whash FROM w WHERE doc_id % 10 = 0)
         |SELECT doc_id, CAST(count(DISTINCT whash) AS BIGINT) AS n_shared_spans
         |FROM batch JOIN hist USING (whash)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The hot-fingerprint cap (df BETWEEN 2 AND WinnowMaxDf) is part
    // of the operator's semantics and is mirrored here, so the
    // cross-engine hash pins the CAPPED behavior; SkewCorpusSpec
    // separately shows the cap is non-binding on this corpus.
    // The MATERIALIZED hints keep DuckDB from inlining `e` (and so
    // re-running the whole winnowing pipeline) once per reference —
    // evaluation hint only, same rows; without them sf1.0 times out.
    "d10_winnow_pairs" ->
      s"""WITH g AS (
         |  SELECT doc_id, list_transform(range(0, greatest(length(text) - $WinnowGram, -1) + 1),
         |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(substr(text, CAST(i AS INT) + 1, $WinnowGram), ''),
         |        c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS grams
         |  FROM documents),
         |sel AS (
         |  SELECT doc_id, list_distinct(list_transform(range(0, len(grams) - $WinnowWindow + 1),
         |    i -> list_min(list_slice(grams, CAST(i AS INT) + 1, CAST(i AS INT) + $WinnowWindow)))) AS fps
         |  FROM g WHERE len(grams) >= $WinnowWindow),
         |e AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM sel),
         |keep AS (SELECT fp FROM e GROUP BY fp
         |         HAVING count(*) BETWEEN 2 AND $WinnowMaxDf),
         |e2 AS MATERIALIZED (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
         |FROM e2 a JOIN e2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b""".stripMargin)
}
