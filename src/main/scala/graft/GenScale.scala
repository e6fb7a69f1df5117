package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side sf1.0 generator (VERDICT r10 #2): the driver ships
  * sf0.001/0.01/0.1 only, so the 100×-survivability argument needs a
  * scale point the builder makes itself. Strategy: SHARD REPLICATION
  * of sf0.1 — `copies` key-shifted shards per fact table (dims
  * region/nation stay fixed, the driver's own scaling pattern), with
  * two twists that keep the replicated corpus STATISTICALLY honest
  * instead of a pile of exact duplicates:
  *
  *  - documents: every NON-STOPWORD word in shard i > 0 gets a
  *    per-shard suffix. Stopword positions, word counts, doc lengths
  *    and language/quality selectivities are preserved EXACTLY
  *    (t01/t02/t06/t21's dials see the same distributions), while
  *    gram/hash-keyed operators (d01/d02/d04/d08, t22/t23, d16) see
  *    shards as vocabulary-disjoint sub-corpora — duplication scales
  *    LINEARLY (10× the dup groups), never quadratically (50k docs
  *    of 10-way exact copies would pair-explode every dedup op).
  *  - embeddings: shard i applies a fixed affine PERMUTATION of the
  *    64 dims. Each shard is an isometric copy (all intra-shard dot
  *    products, hence all near-dup/kNN structure, preserved
  *    exactly); cross-shard cosines decorrelate like random pairs,
  *    so d05's pair count scales linearly too.
  *
  * Determinism: pure column arithmetic over the driver's seeded
  * data — no RNG, same output every run. Each table lands as ONE
  * parquet FILE named `<table>.parquet` (the driver layout DuckDB's
  * oracle reads; a 100 MB single file still splits by row group on
  * the Spark side).
  *
  * Usage: runMain graft.GenScale [srcDir] [outDir] [copies] [tables]
  * `tables` is an optional comma list restricting which tables are
  * emitted (e.g. `embeddings` builds the VECTOR-AXIS-ONLY second
  * scale decade: isometric dim permutations COMPOSE, so re-sharding
  * an already-sharded corpus keeps every shard an isometry).
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/testdata_sf1.0")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty[String])
    val spark = LocalSpark.session()
    generate(spark, src, out, copies, tables)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, copies: Int,
      tables: Set[String] = Set.empty): Unit = {
    def want(n: String): Boolean = tables.isEmpty || tables.contains(n)
    def load(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def keyStride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // ONE parquet file per table under the driver's naming: write a
    // tmp dir, then promote the single part file to <table>.parquet.
    def writeOne(df: DataFrame, name: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      val fs = p(out).getFileSystem(conf)
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = fs.listStatus(p(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new java.io.IOException(s"no part file in $tmp"))
      val dest = p(s"$out/$name.parquet")
      if (fs.exists(dest) && !fs.delete(dest, false))
        throw new java.io.IOException(s"could not replace $dest")
      if (!fs.rename(part, dest))
        throw new java.io.IOException(s"rename $part -> $dest failed")
      fs.delete(p(tmp), true)
      System.err.println(s"[genscale] wrote $dest")
    }

    /** Union of `copies` key-shifted shards; `shard(i)` builds one. */
    def shards(build: Int => DataFrame): DataFrame =
      (0 until copies).map(build).reduce(_ unionByName _)

    // dims: fixed across scale factors (the driver's pattern)
    if (want("region")) writeOne(load("region"), "region")
    if (want("nation")) writeOne(load("nation"), "nation")

    lazy val customer = load("customer"); lazy val cStride = keyStride(customer, "c_custkey")
    if (want("customer")) writeOne(shards { i =>
      customer.select(
        (col("c_custkey") + lit(i * cStride)).as("c_custkey"),
        (if (i == 0) col("c_name") else concat(col("c_name"), lit(s"#$i"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    lazy val supplier = load("supplier"); lazy val sStride = keyStride(supplier, "s_suppkey")
    if (want("supplier")) writeOne(shards { i =>
      supplier.select(
        (col("s_suppkey") + lit(i * sStride)).as("s_suppkey"),
        (if (i == 0) col("s_name") else concat(col("s_name"), lit(s"#$i"))).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }, "supplier")

    lazy val part = load("part"); lazy val pStride = keyStride(part, "p_partkey")
    if (want("part")) writeOne(shards { i =>
      part.select(
        (col("p_partkey") + lit(i * pStride)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, "part")

    lazy val orders = load("orders"); lazy val oStride = keyStride(orders, "o_orderkey")
    if (want("orders")) writeOne(shards { i =>
      orders.select(
        (col("o_orderkey") + lit(i * oStride)).as("o_orderkey"),
        (col("o_custkey") + lit(i * cStride)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")

    lazy val lineitem = load("lineitem")
    if (want("lineitem")) writeOne(shards { i =>
      lineitem.select(
        (col("l_orderkey") + lit(i * oStride)).as("l_orderkey"),
        (col("l_partkey") + lit(i * pStride)).as("l_partkey"),
        (col("l_suppkey") + lit(i * sStride)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    // events: read through the dtype-conditional loader (the source
    // is TIMESTAMP(NANOS); the copy lands as TIMESTAMP_NTZ micros —
    // identical values on both the Spark and DuckDB read paths)
    lazy val events = graft.sources.Tables.events(spark, src)
    lazy val eStride = keyStride(events, "event_id")
    lazy val uStride = keyStride(events, "user_id")
    if (want("events")) writeOne(shards { i =>
      events.select(
        (col("event_id") + lit(i * eStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * uStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    // documents: per-shard suffix on NON-stopword words only —
    // word/char structure and stopword stats preserved, gram space
    // disjoint across shards. n_chars recomputed (the driver's
    // n_chars == length(text) invariant, preserved).
    lazy val docs = load("documents"); lazy val dStride = keyStride(docs, "doc_id")
    lazy val stopArr = array(graft.operators.TextQueries.stopwords.map(w => lit(w)): _*)
    def shardText(i: Int): Column =
      if (i == 0) col("text")
      else array_join(
        transform(split(col("text"), " "),
          w => when(length(w) === 0 || array_contains(stopArr, w), w)
            .otherwise(concat(w, lit(s"q$i")))), " ")
    if (want("documents")) writeOne(shards { i =>
      docs.select(
        (col("doc_id") + lit(i * dStride)).as("doc_id"),
        shardText(i).as("text"), col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    // embeddings: fixed affine dim permutation per shard — an
    // ISOMETRY (intra-shard geometry exact), cross-shard cosines
    // decorrelated. a = 2i+1 is odd hence coprime to 64.
    lazy val emb = load("embeddings"); lazy val vStride = keyStride(emb, "vec_id")
    def shardVec(i: Int): Column =
      if (i == 0) col("embedding")
      else transform(sequence(lit(0), lit(63)),
        j => element_at(col("embedding"),
          (((lit(2 * i + 1) * j + lit(7 * i)) % 64) + 1).cast("int")))
    if (want("embeddings")) writeOne(shards { i =>
      emb.select(
        (col("vec_id") + lit(i * vStride)).as("vec_id"),
        shardVec(i).as("embedding"), col("label"))
    }, "embeddings")
  }
}
