package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * One set of settings for every session graft builds (tests, Verify,
  * Bench, CommitProbe), whatever its master — `local[n]` with n from
  * `SPARK_GRAFT_CPUS` or the box's core count, or a multi-executor
  * cluster: AQE owns runtime shuffle sizing (coalescing + skew
  * splitting, cached frames included), broadcast threshold covers the
  * dimension tables, and parquet pushdown/pruning stay on.
  */
object GraftSession {

  /** Apply graft's tuning to an arbitrary builder (used by [[local]] and
    * by callers that pick their own master). `SPARK_GRAFT_CONF`
    * (semicolon-separated k=v pairs) overrides individual settings for
    * A/B profiling runs without a rebuild.
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    val base = tuneBase(b)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .foldLeft(base) { (bb, kv) =>
        // split at the FIRST '=' only: conf values legitimately contain
        // '=' (e.g. -Dfoo=bar in extraJavaOptions)
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        bb.config(k, v)
      }
  }

  private def tuneBase(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // INT64 timestamps: INT96 footers carry no trustworthy min/max, so
    // stats-pruning (and in-place migration of graft-written dirs) would
    // silently lose timestamp bounds — the reference's own Hive
    // limitation (limitations.md #3)
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // Parquet field-id resolution (SPARK-38094): inert for schemas without
    // `parquet.field.id` metadata (all graft-native tables — reads stay
    // name-based), but lets tables imported from REAL Iceberg metadata
    // (IcebergImport, no name-mapping → files carry ids) resolve renamed
    // columns by field id exactly as an Iceberg reader would, instead of
    // silently reading NULLs by name. Writes stamp ids whenever the
    // schema carries them so graft's own appends to such a table stay
    // id-resolvable. `ignoreMissing` stays false: an id-less file under
    // an id-carrying schema is a LOUD error, never silent nulls.
    .config("spark.sql.parquet.fieldId.read.enabled", "true")
    .config("spark.sql.parquet.fieldId.write.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
    .config("spark.sql.shuffle.partitions", "32")
    // Let AQE coalesce the final shuffle of a CACHED plan too. Spark keeps
    // a cached frame's output partitioning fixed by default, so every
    // `.cache()`d changelog delta, view `next` frame and sync changelog
    // kept all 32 shuffle partitions — 32-task stages over a few KB, paid
    // again by every job that reads the cache. Coalescing is sized by
    // AQE from the bytes actually shuffled, so large caches keep their
    // parallelism.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Compile each generated-code shape once per session. graft runs many
    // small actions whose plans repeat commit after commit, but Spark's
    // codegen class cache holds 100 classes and names each class after
    // its stage's position in the plan, so the same stage recompiled
    // (Janino, ~25 ms a class) wherever it landed and after every
    // eviction. Measured working sets, with stage ids out of the names
    // (perfbench, seed 5): 270 distinct classes over a whole lake_write
    // run (set-up, timed cycle, verification), 175 over a pipeline_batch
    // run; one commit cycle or gate pass alone uses 145-195. 512 holds
    // either. The cache keeps each class's compiled code on the heap,
    // ~20-25 KB a class as measured (retained heap rose 4.2 MB on
    // lake_write, 1.6 MB on pipeline_batch), so the cap also bounds that
    // at ~13 MB.
    .config("spark.sql.codegen.cache.maxEntries", "512")
    .config("spark.sql.codegen.useIdInClassName", "false")
    // Spark 4 keys its codegen cache by the session's artifact class
    // loader, and every clone or newSession() gets its own, so a write
    // planned on a private clone (a target-size write) recompiled every
    // class of its plan each time. graft adds no session artifacts
    // (jars, classes); sharing the one loader lets clones reuse
    // the compiled classes.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // AQE stringifies the plan on every update; at 10^2+ scan branches an
    // unbounded plan string is a driver OOM. 4M chars bounds the DEBUG
    // artifact without touching planning itself.
    .config("spark.sql.maxPlanStringLength", (4 << 20).toString)
    // CBO is off by default in Spark because catalog stats are usually
    // absent or stale; graft serves LIVE per-snapshot stats (rowCount,
    // footer min/max/nullCount, sketch NDV) on every read, so estimation
    // always has current inputs. Relations without rowCount (plain
    // parquet reads) keep size-only estimation unchanged.
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    .config("spark.ui.enabled", "false")
    // Long-lived-session posture: the app/SQL status stores retain
    // per-execution plan strings and per-stage task metrics IN DRIVER
    // HEAP even with the UI off (measured r18: ~2 MB/gate forced-GC
    // retained across a 72-gate sf100 session, linear in executions
    // until the default 1000-execution cap). A continuously-running
    // lake service executes unbounded queries; bound the stores to a
    // debugging-useful tail instead of letting them pin ~GBs at the
    // 4M-char plan-string ceiling. Cluster history lives in the event
    // log, not driver heap.
    .config("spark.sql.ui.retainedExecutions", "50")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "10000")
    // NOTE: objectHashAggregate.sortBased.fallbackThreshold is NOT raised
    // here. r18 set it session-globally to 2^20 for the bounded-state
    // aggregates (TopKSimPairs/CappedCollectLongs, whose O(k)/O(cap)
    // per-key state makes a million in-map keys cheap), but the global
    // raise also let UNBOUNDED builtins (collect_set/collect_list) hold
    // ~1M keys of arbitrarily large state per task before the memory-safe
    // sort fallback — trading the s09 spill fix for new heap risk
    // everywhere else (r18 ADVICE). The raise now rides per-gate:
    // [[SparkEntry.executionConfs]] scopes it to exactly the gates whose
    // aggregate state is provably bounded per key, applied set/restore
    // around the ACTION by Verify/Bench via [[GraftSession.withExecConfs]].

  /** Run `body` with per-query session confs set, restoring the previous
    * values (or unsetting) afterwards — the scoping mechanism for confs
    * that only ONE query class should see (e.g. the ANN gates' raised
    * ObjectHashAggregate fallback threshold). Must wrap the ACTION, not
    * the DataFrame construction: Spark reads most SQLConf values when the
    * query executes, not when the plan is declared.
    */
  def withExecConfs[T](spark: SparkSession, confs: Map[String, String])(body: => T): T =
    if (confs.isEmpty) body
    else {
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** A tuned `local[threads]` session: the tests, Verify, Bench and
    * CommitProbe. `threads` defaults to `SPARK_GRAFT_CPUS`, else this
    * machine's core count.
    */
  def local(threads: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$threads]").appName("graft"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
