package graft

/** Per-round benchmark: times every SparkEntry query (action = count) on
  * SPARK_GRAFT_SF_DIR. stdout carries EXACTLY ONE compact JSON line
  * (fits the driver's ~2000-char tail capture whole — r4..r16 printed
  * the full ~5 KB line there and every round parsed null); the full
  * per-query JSON goes to `bench_raw.json` and stderr.
  *
  * Variance is measured INSIDE the artifact: a fixed CALIBRATION probe
  * (one lineitem scan+sum, data- and plan-identical every time) runs
  * between every [[CalibrationEvery]] queries and its per-rep times are
  * emitted as a `calibration` series in the JSON. Two runs of the same
  * tree can then be compared run-context-free: if this run's calibration
  * band reads >1.2x another artifact's, this run was load-bound — the
  * probes say so in-band, no prose needed.
  *
  * A raw run writes `bench_raw.json` (override: SPARK_GRAFT_BENCH_OUT).
  * The merged per-query-min artifact `bench_result.json` is written ONLY
  * by tools/merge_bench.py — a raw run on a dirty tree leaves the
  * committed artifact untouched.
  */
object Bench {
  private val CalibrationEvery = 10

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()

    // fixed calibration probe: same scan+sum every time, ~0.1 s at sf0.1
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.sum("l_extendedprice")).count()
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup on a NEUTRAL query (scan + broadcast join + agg —
    // not a gate, so no gate gets a free warm first rep while the others
    // run cold; q01 used to double-dip here and read 3x in loaded runs)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val wn = spark.read.parquet(s"$sfDir/nation.parquet")
    val wr = spark.read.parquet(s"$sfDir/region.parquet")
    wn.join(wr, wn("n_regionkey") === wr("r_regionkey"))
      .groupBy("r_name").count().count()
    probe() // warm the probe's own plan so calibration sample 1 isn't cold

    // min over INTERLEAVED reps: run a full pass over all queries, then a
    // second full pass, and keep the per-query min. Back-to-back reps share
    // any transient load burst (both samples inflate together and min-of-2
    // can't reject it — the r6 driver sample manufactured phantom 2-5×
    // deltas on one contiguous alphabetical block exactly this way);
    // interleaving puts minutes between a query's two samples so a burst
    // can't sit on both.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Optional subset (comma-separated gate names) for scale probes: the
    // sf100-class corpora make the DECLARED linear-scan gates (s01/s02/…)
    // hour-long by design, so ×1000 scaling rows time the scalable-path
    // representatives only. The driver's per-round run never sets this.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // One-time fixture builds run BEFORE the first timed rep (q23's
    // bucketed write): otherwise rep 1's timing carries the build and
    // min-of-reps hides it only statistically — the r18 driver artifact
    // read that tail as a phantom q23 2.09×. The build cost stays
    // visible in-band as its own `prewarm` series, never in a gate's min.
    val prewarm = SparkEntry.prewarms.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, fn) =>
        val t0 = System.nanoTime()
        fn(spark, sfDir)
        n -> (System.nanoTime() - t0) / 1e9
      }
    // Family-boundary fixture eviction for single-JVM scale sequences
    // (reps=1): q23's bucketed pair pins ~30 GB at sf100 and the st
    // gates stage multi-GB sources/sinks — released as soon as their
    // family finishes so later gates never spill against dead fixtures
    // (the r18 subset run's transient s03 ENOSPC). Off by default: the
    // driver's sf0.1 run (reps=2) reuses fixtures across reps.
    // Eviction with reps > 1 would rebuild the evicted fixtures INSIDE
    // rep 2's timed action (prewarm runs once, before rep 1) — exactly
    // the phantom fixture-build timing the prewarm series exists to keep
    // out of gate minima. Enforced, not just documented (r19 ADVICE #2).
    val evictRequested = sys.env.contains("SPARK_GRAFT_EVICT_FAMILY")
    if (evictRequested && reps > 1) System.err.println(
      s"[bench] WARNING: SPARK_GRAFT_EVICT_FAMILY ignored at reps=$reps — " +
        "eviction is only honest at reps=1 (rebuilds would land in rep 2's " +
        "timed action); running WITHOUT family eviction")
    val evictFamilies = evictRequested && reps == 1
    def familyOf(n: String): String = n.takeWhile(!_.isDigit)
    var prevFamily: String = null
    val best = Array.fill(named.size)(Double.MaxValue)
    // generated classes the best rep compiled (its layer-split row)
    val compiled = Array.fill(named.size)(Compiles(0L, 0.0))
    // A query that throws must surface as an explicit error, not as the
    // elapsed-until-throw time masquerading as a (suspiciously fast) success.
    val errs = Array.fill[Option[String]](named.size)(None)
    val calibration = Seq.newBuilder[Double]
    for (_ <- 1 to reps; ((name, fn), i) <- named.zipWithIndex) {
      if (evictFamilies) {
        val fam = familyOf(name)
        if (prevFamily != null && fam != prevFamily) {
          if (prevFamily == "m") graft.operators.Multimodal.evictIngestFixtures()
          if (prevFamily == "q") graft.operators.Relational.evictBucketedPairs(spark)
          if (prevFamily == "st") graft.streaming.Streams.purgeGateDirs()
        }
        prevFamily = fam
      }
      if (i % CalibrationEvery == 0) calibration += probe()
      // Per-gate execution confs (e.g. the ANN gates' raised
      // ObjectHashAggregate fallback threshold) wrap ONLY this gate's
      // action — set before the timer starts, restored after it stops.
      val gateConfs = SparkEntry.executionConfs.getOrElse(name, Map.empty)
      GraftSession.withExecConfs(spark, gateConfs) {
      val t0 = System.nanoTime()
      val c0 = Compiles.now()
      try {
        // Hash EVERY output value, not count rows: a bare count() (and
        // even count(col) — non-nullable columns normalize to count(1))
        // lets Catalyst prune unreferenced columns and eliminate
        // cardinality-preserving joins above them — d13's whole gram
        // pipeline (grams → document-frequency → coverage join) was
        // being optimized out of the measurement, timing a 0.1 s doc
        // scan at every corpus size. xxhash64 over all columns is
        // value-dependent, so nothing upstream is prunable; the final
        // orderBy still folds away under the aggregate, keeping the
        // rest of the historical count() basis. Hash cost is one
        // codegen'd pass over the result — noise next to operator work.
        // The action must CONSUME the hash: `.count()` on the 1-row
        // aggregate never reads max(h), so Catalyst pruned the hash,
        // the projection, and every cardinality-preserving operator
        // above the scan — the exact hole the hash was added to close
        // (r17 ADVICE #1). `.head()` collects the max-hash row itself,
        // so the value is referenced end-to-end and nothing is prunable.
        import org.apache.spark.sql.functions.{col, max, struct, xxhash64}
        val out = fn(spark, sfDir)
        out.select(xxhash64(struct(out.columns.map(col): _*)).as("h"))
          .agg(max(org.apache.spark.sql.functions.col("h"))).head()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best(i)) { best(i) = sec; compiled(i) = Compiles.now() - c0 }
      } catch { case e: Throwable =>
        errs(i) = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
      }
      // SPARK_GRAFT_HEAPLOG=1: per-gate heap staircase for long-lived-JVM
      // leak hunts (r17 open finding: t+m families OOM one shared JVM at
      // sf100). Forced GC isolates RETAINED bytes from garbage; the SQL
      // status-store counters name the usual driver-accretion suspect
      // (plan strings + metrics retained per execution even with the UI
      // off). stderr only — never part of the bench JSON.
      if (sys.env.contains("SPARK_GRAFT_HEAPLOG")) {
        System.gc(); Thread.sleep(300); System.gc()
        val rt = Runtime.getRuntime
        val usedMb = (rt.totalMemory - rt.freeMemory) >> 20
        val ss = spark.sharedState.statusStore
        System.err.println(s"[heap] after=${named(i)._1} usedMB=$usedMb " +
          s"sqlExecs=${ss.executionsCount} planGraphs=${ss.planGraphCount}")
      }
    }
    calibration += probe() // close the series after the last query
    val results = named.zipWithIndex.collect {
      case ((name, _), i) if errs(i).isEmpty => name -> best(i)
    }
    val failed = named.zipWithIndex.collect {
      case ((name, _), i) if errs(i).isDefined => name -> errs(i).get
    }
    // per-query times, slowest first, on stderr (stdout stays ONE JSON line)
    results.sortBy(-_._2).foreach { case (n, t) =>
      System.err.println(f"$t%8.3f  $n")
    }
    failed.foreach { case (n, e) => System.err.println(s"  ERROR  $n  $e") }
    // ms precision keeps the stdout line compact (68 queries overflowed the
    // driver's tail capture in r3); the same JSON also goes to a file so a
    // truncated stream can never lose the round's numbers.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = (results.map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
      failed.map { case (k, _) => "\"" + k + "\":\"err\"" })
      .sorted.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val errsJson =
      if (failed.isEmpty) ""
      else failed.map { case (k, e) =>
        "\"" + k + "\":\"" + e.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
      }.mkString(",\"errors\":{", ",", "}")
    val cal = calibration.result()
    val calSorted = cal.sorted
    def pct(p: Double): Double =
      calSorted(math.min(calSorted.size - 1, (p * calSorted.size).toInt))
    val calJson = cal.map(fmt).mkString(
      "\"calibration\":{\"times\":[", ",", "]," +
        s""""min":${fmt(calSorted.head)},"median":${fmt(pct(0.5))},""" +
        s""""p90":${fmt(pct(0.9))}}""")
    // one-time fixture builds (outside all timed reps) stay visible here
    val prewarmJson =
      if (prewarm.isEmpty) ""
      else prewarm.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString(",\"prewarm\":{", ",", "}")
    // per-gate layer split: Janino compiles and their ms in the best rep
    val layersJson = named.zipWithIndex.collect {
      case ((name, _), i) if errs(i).isEmpty =>
        "\"" + name + "\":{\"compiles\":" + compiled(i).count +
          ",\"compileMs\":" + fmt(compiled(i).ms) + "}"
    }.sorted.mkString(",\"layers\":{", ",", "}")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$errsJson$prewarmJson$layersJson,$calJson,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_raw.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(json)
    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // JSON it finds there; the full per-query line is ~5 KB, so printing
    // it on stdout beheaded it mid-stream and every round through r16
    // landed `parsed: null`. stdout now carries EXACTLY ONE compact line
    // (<1500 chars — headline relational queries individually, everything
    // else as per-family subtotals, calibration percentiles without the
    // raw series), so the whole of stdout fits the tail and parses under
    // any strategy. Full per-query numbers go to `outFile` + stderr.
    val headline = results.filter(_._1.startsWith("q")).map { case (k, v) =>
      "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val families = results.groupBy { case (k, _) =>
      k.takeWhile(!_.isDigit) }.toSeq.sortBy(_._1).map { case (f, rs) =>
      "\"" + f + "\":" + fmt(rs.map(_._2).sum) }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$headline,""" +
      s""""families":$families,"n_queries":${named.size},"n_errors":${failed.size},""" +
      s""""calibration":{"min":${fmt(calSorted.head)},"median":${fmt(pct(0.5))},"p90":${fmt(pct(0.9))}},""" +
      s""""detail":"$outFile","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
