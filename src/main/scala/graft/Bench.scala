package graft

/** Headline benchmark main. Emits ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Trend guard (round-5 finding: 5× per-query swings between driver
  * runs of BYTE-IDENTICAL code — single-shot numbers at this SF are
  * untrustworthy below ~2×): each query now runs SPARK_GRAFT_REPEATS
  * times (default 3) and reports the MEDIAN; the line also embeds
  * "regressions" — queries whose median is >2× the previous round's
  * number (auto-discovered from the newest BENCH_r*.json in
  * SPARK_GRAFT_BENCH_DIR, default cwd, or SPARK_GRAFT_PREV_BENCH) —
  * and prints them loudly on stderr. A regression report refers to
  * medians vs (possibly single-shot) previous values, so it flags
  * candidates for investigation, not proof of a code regression.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** CO-TENANCY DETECTOR (VERDICT r11 #5 — three rounds of hand-
    * adjudicating driver-window noise). The signature that separates
    * a noisy machine from a code regression: a co-tenant slows
    * EVERYTHING uniformly (r11: 1.33× spread evenly across unrelated
    * trivial queries), a regression slows SPECIFIC queries. Verdict
    * over the common-query ratios vs the previous round:
    * median log-ratio > ln([[NoiseMedianRatio]]) with LOW dispersion
    * (median absolute deviation of log-ratios < [[NoiseMadLog]])
    * over ≥ [[NoiseMinQueries]] queries = "co-tenant"; isolated
    * elevated queries = "regression-suspect"; neither = "quiet".
    * Flagged queries re-run isolated afterwards (min-of-N — a
    * co-tenant can only RAISE a query's floor, never lower it), and
    * regressions whose isolated floor is back under the 2× line are
    * ABSOLVED automatically — the d04 median-of-5 precedent, in
    * machinery instead of a builder's quiet window. */
  val NoiseMedianRatio = 1.15
  val NoiseMadLog = 0.25
  val NoiseMinQueries = 10

  /** KNOWN-TRADE annotations (VERDICT r15 #8 — the §8m honesty items,
    * mechanized): a deliberate regression a round ships knowingly
    * (e.g. r15's v15 +64% buying sf-scale exactness) is recorded here
    * as query → (max expected ratio vs the previous round, reason).
    * The regression report then separates SANCTIONED movers (within
    * their annotated ratio — reported under "trades" with the reason)
    * from UNEXPLAINED drift (everything else, still loud). A trade
    * that blows past its annotated ratio stays a regression — the
    * annotation is a budget, not a blanket pardon. Annotations are
    * ROUND-SCOPED: once the trade lands in the baseline (next round's
    * prev), remove it. None active this round (r15's v15 trade was
    * REVERSED by the r16 brute-kernel routing; d14 was adjudicated
    * co-tenancy, not a trade). */
  private[graft] val KnownTrades: Map[String, (Double, String)] = Map.empty

  /** Trades may ALSO arrive via `SPARK_GRAFT_TRADES` (r17, VERDICT
    * r16 #6 — the reporting path had never carried a live annotation
    * through a real bench): `name:budget:reason[;name:budget:reason…]`
    * — the harness form for one-round annotations and for driving the
    * trades split end-to-end without recompiling. Code-shipped trades
    * stay in [[KnownTrades]]; the env merges over it. */
  private[graft] def parseTradesEnv(raw: String): Map[String, (Double, String)] =
    raw.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { entry =>
      entry.split(":", 3) match {
        case Array(n, b, reason) => n -> (b.toDouble, reason)
        case other => throw new IllegalArgumentException(
          s"SPARK_GRAFT_TRADES entry '$entry' is not name:budget:reason")
      }
    }.toMap

  private[graft] def effectiveTrades: Map[String, (Double, String)] =
    KnownTrades ++ sys.env.get("SPARK_GRAFT_TRADES").map(parseTradesEnv)
      .getOrElse(Map.empty)

  /** Split surviving regressions into (unexplained, annotated):
    * annotated = flagged queries whose ratio sits within their
    * [[KnownTrades]] (+ env) budget. */
  private[graft] def classifyRegressions(raw: Map[String, Double],
      trades: Map[String, (Double, String)] = effectiveTrades)
      : (Map[String, Double], Map[String, Double]) =
    raw.partition { case (n, r) => !trades.get(n).exists(r <= _._1) }

  private[graft] final case class NoiseReport(
      verdict: String, medianRatio: Double, madLog: Double,
      rerunTargets: Seq[String])

  private[graft] def detectNoise(ratios: Map[String, Double],
      regressions: Set[String]): NoiseReport = {
    if (ratios.isEmpty)
      return NoiseReport("no-prev", 1.0, 0.0, Seq.empty)
    val logs = ratios.values.map(math.log).toSeq
    val medLog = median(logs)
    val madLog = median(logs.map(x => math.abs(x - medLog)))
    val coTenant = ratios.size >= NoiseMinQueries &&
      medLog > math.log(NoiseMedianRatio) && madLog < NoiseMadLog
    val verdict =
      if (coTenant) "co-tenant"
      else if (regressions.nonEmpty) "regression-suspect"
      else "quiet"
    // isolated re-run set: every 2x-flagged query, plus (on a
    // co-tenant machine) the most-elevated few as cross-checks
    val targets = (regressions.toSeq ++
      (if (coTenant) ratios.toSeq.sortBy(-_._2).take(5).map(_._1) else Nil))
      .distinct.sorted
    NoiseReport(verdict, math.exp(medLog), madLog, targets)
  }

  /** Previous round's per-query seconds, ONLY if it was measured at
    * the same scale factor (comparing sf0.01 medians against sf0.1
    * numbers would flag everything). Accepts either a raw bench line
    * file or the driver's wrapper JSON whose "tail" embeds the line;
    * malformed/absent files degrade to None (no guard). */
  private[graft] def prevBench(sfDir: String): Option[(String, Map[String, Double])] = {
    val explicit = sys.env.get("SPARK_GRAFT_PREV_BENCH").map(new java.io.File(_))
    val file = explicit.orElse {
      val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "."))
      // \d{1,9}: a digit run past Int range must not crash the bench
      val re = "BENCH_r0*(\\d{1,9})\\.json".r
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName match {
          case re(n) => Some((n.toInt, f))
          case _ => None
        })
        .sortBy(-_._1).headOption.map(_._2)
    }
    file.flatMap(parseBenchFile(_, sfDir))
  }

  /** Parse one bench artifact (raw line or driver wrapper) into its
    * per-query seconds, or None on sf mismatch / malformed file. */
  private[graft] def parseBenchFile(
      f: java.io.File, sfDir: String): Option[(String, Map[String, Double])] = {
      try {
        val raw = new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val src =
          if (raw.trim.startsWith("{\"metric\"")) raw.trim
          else Option(om.readTree(raw).get("tail")).map(_.asText("")).getOrElse("")
        // The driver wrapper may TRUNCATE the head of the bench line
        // (r6's tail starts mid-value), so don't require the
        // {"metric" prefix — locate the "queries" object and the
        // "sf" field anywhere in the text and parse them standalone.
        def balanced(from: Int): Option[String] = {
          val start = src.indexOf('{', from)
          if (start < 0) None
          else {
            var i = start; var depth = 0; var inStr = false; var esc = false
            while (i < src.length) {
              val c = src.charAt(i)
              if (esc) esc = false
              else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
              else c match {
                case '"' => inStr = true
                case '{' => depth += 1
                case '}' => depth -= 1; if (depth == 0) return Some(src.substring(start, i + 1))
                case _ =>
              }
              i += 1
            }
            None
          }
        }
        val qIdx = src.indexOf("\"queries\":")
        val qsJson = if (qIdx < 0) None else balanced(qIdx)
        // r7's wrapper truncated past the "queries": needle itself
        // (the tail starts mid-value inside the queries object), so
        // when the balanced parse is impossible, recover what
        // survives: every `"<name_with_underscore>":<number>` pair
        // before the "regressions" object is a per-query median —
        // query names all carry underscores, the scalar fields
        // (value/repeats/sf/...) don't, and regression ratios are cut
        // off by the prefix bound.
        val viaObject: Option[Map[String, Double]] = qsJson.flatMap { js =>
          Option(om.readTree(js)).map { qs =>
            val m = scala.collection.mutable.Map.empty[String, Double]
            val it = qs.fields()
            while (it.hasNext) {
              val e = it.next()
              m(e.getKey) = e.getValue.asDouble()
            }
            m.toMap
          }
        }
        val viaScan: Option[Map[String, Double]] = {
          val cuts = Seq(src.indexOf("\"regressions\":"),
              src.indexOf("\"trades\":"), src.indexOf("\"noise\":"))
            .filter(_ >= 0)
          // cut at whichever trailer key survives truncation — the
          // noise object also carries underscore-named numeric pairs
          // (isolated floors) that must not be read as medians
          val cut = cuts.minOption.map(src.substring(0, _)).getOrElse(src)
          val pairRe = "\"([A-Za-z][A-Za-z0-9]*_[A-Za-z0-9_]+)\":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r
          val m = pairRe.findAllMatchIn(cut)
            .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
          if (m.isEmpty) None else Some(m)
        }
        val recovered = viaObject.orElse {
          viaScan.foreach(m => System.err.println(
            s"[bench] trend guard: ${f.getName} queries object truncated — " +
              s"recovered ${m.size} per-query entries by scan"))
          viaScan
        }
        recovered match {
          case None => None
          case Some(m) =>
            // sf match on the directory BASENAME (the line records
            // the full measured dir path)
            val sfRe = "\"sf\":\"([^\"]*)\"".r
            val prevSf = sfRe.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
            val sameSf = new java.io.File(prevSf).getName == new java.io.File(sfDir).getName
            if (!sameSf) {
              System.err.println(
                s"[bench] trend guard: ${f.getName} measured at '$prevSf' != '$sfDir' — skipping comparison")
              None
            } else Some((f.getName, m))
        }
      } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt)
    val spark = LocalSpark.session()
    // Optional subset, e.g. SPARK_GRAFT_ONLY=d04_ngram_jaccard,d05_embed_neardup
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed JVM/codegen warmup so the first timed query isn't
    // charged for JIT + whole-stage-codegen compilation. The heavy
    // typed-map kernels (gram hashing, minhash, pair verification,
    // top-k aggregation) warm against the TINY sf0.001 dir — JIT of
    // the same code paths, none of the measured data precomputed.
    // Warming them on the measured dataset would pre-load OS page /
    // parquet footer caches that clearCache() cannot drop and skew
    // the cold methodology. Hosts without sf0.001 get JIT warmup from
    // q01 alone (logged).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val heavy =
      if (canon(warmDir) == canon(sfDir)) {
        System.err.println(s"[bench] warmup dir == measured dir ($sfDir) — skipping typed-kernel warmup")
        Seq.empty
      } else if (new java.io.File(warmDir).isDirectory)
        Seq(warmDir -> "d04_ngram_jaccard", warmDir -> "d02_minhash_lsh",
          warmDir -> "d06_embed_neardup_ann", warmDir -> "e01_knn_classify",
          warmDir -> "d07_dedup_clusters")
      else {
        System.err.println(s"[bench] $warmDir absent — skipping typed-kernel warmup")
        Seq.empty
      }
    (Seq(sfDir -> "q01_pricing_summary") ++ heavy).foreach { case (d, q) =>
      try {
        SparkEntry.queries(q)(spark, d).count()
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $q failed: ${e.getMessage}")
      }
    }
    System.gc()
    val results = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val times = (1 to repeats).flatMap { _ =>
        val t0 = System.nanoTime()
        // A THROWN query must not be timed: recording the throw's
        // milliseconds as a "median" would report a phantom speedup
        // (e.g. v08's regime-bound fail-fast above 40k vectors reads
        // as a 1000x win) and poison the next round's trend baseline.
        // Failed repeats are dropped; a query with zero successful
        // repeats is reported absent, with the reason on stderr.
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Isolate runs: clearCache() drops per-query cached plans, but
        // broadcast blocks (BroadcastExchange results) are only
        // released by the ContextCleaner once the referencing plan is
        // GC'd — an explicit GC lets the cleaner reclaim them between
        // runs, so later runs aren't taxed by accumulated broadcast/GC
        // pressure.
        spark.catalog.clearCache()
        System.gc()
        if (ok) Some(dt) else None
      }
      if (times.isEmpty) None else Some(name -> median(times))
    }.toMap
    // Trend guard: median vs the previous round's number.
    val prev = prevBench(sfDir)
    val rawRegressions = prev.map { case (_, pq) =>
      results.flatMap { case (name, now) =>
        pq.get(name).collect {
          case was if was > 0 && now / was > 2.0 => name -> (now / was)
        }
      }
    }.getOrElse(Map.empty[String, Double])
    // Co-tenancy verdict + automated isolated re-runs of whatever the
    // guard flagged: min-of-N after a quiesce estimates each query's
    // noise FLOOR (a co-tenant can only raise it), and a "regression"
    // whose floor is back under 2x the previous median is machine
    // noise, not code — absolved without a manual quiet-window rerun.
    val ratios = prev.map { case (_, pq) =>
      results.flatMap { case (name, now) =>
        pq.get(name).collect { case was if was > 0 => name -> now / was }
      }
    }.getOrElse(Map.empty[String, Double])
    val noise = detectNoise(ratios, rawRegressions.keySet)
    val noiseRepeats = math.max(3,
      sys.env.get("SPARK_GRAFT_NOISE_REPEATS")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(5))
    val isolated: Map[String, Double] = noise.rerunTargets.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        spark.catalog.clearCache(); System.gc(); Thread.sleep(300)
        // failed repeats are EXCLUDED: a fast crash would otherwise
        // record a tiny "floor" that absolves a real regression
        val times = (1 to noiseRepeats).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache(); System.gc()
          if (ok) Some(dt) else None
        }
        times.minOption.map(name -> _)
      }
    }.flatten.toMap
    val prevQ = prev.map(_._2).getOrElse(Map.empty[String, Double])
    // VANISHED queries (r13 ADVICE): a query whose every repeat threw
    // is dropped from `results`, so the ratio guard — which compares
    // only queries common to prev and current — cannot flag the
    // hardest regression of all: working → crashing. Report any
    // query that was in the previous round's baseline, is still a
    // declared (and selected) entry, but produced zero successful
    // repeats this run.
    val vanished = prevQ.keySet
      .filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
      .diff(results.keySet)
      .toSeq.sorted
    // Absolution line is 1.5x, deliberately TIGHTER than the 2x flag:
    // the isolated number is a min-of-N floor after a quiesce, which
    // sits below the median even on a quiet machine — absolving at
    // the same 2x line would systematically absolve genuine ~2.2-2.4x
    // regressions whose floor dips under it. A floor back within 1.5x
    // is unambiguous noise; anything between stays flagged for a
    // human read.
    val absolved = rawRegressions.keys.filter { n =>
      isolated.get(n).exists(floor =>
        prevQ.get(n).exists(was => was > 0 && floor / was <= 1.5))
    }.toSeq.sorted
    // known-trade split (VERDICT r15 #8): sanctioned movers report
    // under "trades" with their reason; only unexplained drift stays
    // in "regressions"
    val (regressions, tradeHits) =
      classifyRegressions(rawRegressions -- absolved)
    prev.foreach { case (src, _) =>
      System.err.println(f"[bench] noise verdict vs $src: ${noise.verdict} " +
        f"(median ratio ${noise.medianRatio}%.2f, MAD(log) ${noise.madLog}%.3f, " +
        f"${ratios.size} common queries)")
      absolved.foreach(n => System.err.println(
        f"[bench]   absolved $n: isolated floor ${isolated(n)}%.2fs <= 1.5x prev ${prevQ(n)}%.2fs"))
      tradeHits.toSeq.sortBy(_._1).foreach { case (n, r) =>
        System.err.println(f"[bench]   annotated trade $n: ${r}%.2fx within " +
          f"budget ${effectiveTrades(n)._1}%.2fx — ${effectiveTrades(n)._2}")
      }
      if (regressions.nonEmpty) {
        System.err.println(s"[bench] REGRESSION GUARD vs $src: " +
          s"${regressions.size} queries exceed 2x the previous median (isolated floor included):")
        regressions.toSeq.sortBy(-_._2).foreach { case (n, r) =>
          val iso = isolated.get(n).map(f => f" isolated=${f}%.2fs").getOrElse("")
          System.err.println(f"[bench]   $n: ${r}%.2fx (now ${results(n)}%.2fs$iso)")
        }
      } else System.err.println(s"[bench] trend guard vs $src: no >2x regressions survive isolation")
      if (vanished.nonEmpty)
        System.err.println(s"[bench] VANISHED vs $src: " +
          s"${vanished.mkString(", ")} were measured last round but every " +
          "repeat FAILED this run — a working-to-crashing regression, not a ratio")
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val regJson = regressions.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val prevName = prev.map(p => "\"" + p._1 + "\"").getOrElse("null")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "noise" sits AFTER "regressions": parseBenchFile's truncation-
    // recovery scan treats underscore-named numeric pairs BEFORE the
    // regressions key as per-query medians, and the isolated map
    // carries query names.
    val isoJson = isolated.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val absJson = absolved.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noiseJson =
      f"""{"verdict":"${noise.verdict}","median_ratio":${noise.medianRatio},"mad_log":${noise.madLog},"isolated":$isoJson,"absolved":$absJson}"""
    // "vanished" (names only, no numeric pairs — invisible to the
    // truncation-recovery scan) sits after "regressions" with the
    // other trailers.
    val vanJson = vanished.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "trades" (annotated sanctioned movers) sits after "regressions"
    // — its query-named numeric pairs must stay behind the
    // truncation-recovery scan's cut, like "noise"'s isolated map.
    val tradeJson = tradeHits.map { case (k, v) =>
      s"\"" + k + "\":{\"ratio\":" + v + ",\"reason\":\"" +
        effectiveTrades(k)._2.replace("\"", "'") + "\"}"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","repeats":$repeats,"prev":$prevName,"regressions":$regJson,"trades":$tradeJson,"vanished":$vanJson,"noise":$noiseJson}"""
    println(line)
    // The stdout line is what the driver captures, but its wrapper has
    // TRUNCATED the line's head in past rounds (BENCH_r07 lost the
    // total and several entries) — persist the complete line to a
    // file too, so the artifact survives any stdout mangling.
    // SPARK_GRAFT_BENCH_OUT overrides; default target/bench.json.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outFile)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, line + "\n")
      System.err.println(s"[bench] full bench line written to $outFile")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // Gate-provenance automation (VERDICT r10 #6): emit the SURVEY §8
    // gate sentence VERBATIM from the measured numbers, so the survey
    // pastes this line instead of re-measuring (two rounds running the
    // survey quoted a quieter builder-window run and drifted ~2% from
    // the driver artifact). tools/gate_from_bench.py re-derives the
    // same sentence from any BENCH_r*.json, so post-hoc provenance
    // against the driver's own artifact is one command.
    try {
      val gate = f"""bench **$total%.1fs median-of-$repeats for ALL ${results.size} queries at ${new java.io.File(sfDir).getName}** (noise: ${noise.verdict})"""
      val gp = java.nio.file.Paths.get("target/gate_line.md")
      Option(gp.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(gp, gate + "\n")
      System.err.println(s"[bench] gate line: $gate")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write gate line: ${e.getMessage}")
    }
    spark.stop()
  }
}
