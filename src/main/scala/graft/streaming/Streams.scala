package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType, DoubleType, StringType, TimestampType}
import graft.sources.Tables
import graft.tables.GraftTable

/** Structured Streaming operators (SURVEY §2.7) — the streaming twins of
  * the batch operators (q15 windowed agg, q14 sessionization, d01 dedup).
  * All take unbounded DataFrames from any `readStream` source; state is
  * bounded by watermarks / explicit session state.
  */
object Streams {

  /** st01: tumbling-window aggregate with a watermark (late events beyond
    * 1 hour are dropped; state is bounded). Batch twin: Relational.q15.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))

  /** st03: streaming exact dedup — dropDuplicates keyed on the dedup key
    * with a watermark bounding the dedup state. Batch twin: Dedup.d01.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** st01 as a driver-gate query: run the REAL streaming pipeline (file
    * source → watermark → window agg → memory sink) over the events table
    * and return the closed windows. A far-future flush file advances the
    * watermark so every real window emits; the result is then
    * value-identical to the batch q15 oracle (decimal sums, same windows).
    */
  def st01StreamingGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = gateDir("graft_stream_gate")
    stageEvents(spark, sfDir, dir)
    val stream = spark.readStream.schema(eventsSchema).parquet(dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"st01_gate_${java.util.UUID.randomUUID().toString.take(8)}"
    // state partitioning is pinned at stream start: 8 partitions means 8
    // state-store checkpoint commits per micro-batch instead of 32 — the
    // dominant cost of this short-lived query. (A long-lived production
    // stream would size this to state volume instead.)
    val q = withStatePartitions(spark)(
      agg.writeStream.format("memory").queryName(name).outputMode("append").start())
    try {
      q.processAllAvailable()
      // flush: one far-future event closes every real window
      import spark.implicits._
      Seq((-1L, farFuture, -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
      .filter(col("event_type") =!= "flush")
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Same result shape as Relational.q15 — the batch oracle IS the
    * streaming oracle.
    */
  val st01GateOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Schema of the STAGED (normalized) events files — `ts` is always
    * TimestampType because staging goes through `Tables.events`, never a
    * raw file copy. The physical encoding of the driver's parquet is the
    * loader's problem, decided from the footer in exactly one place.
    */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Stage the events table for a file-source stream: load through the
    * schema-driven normalizing loader, assert the timeline is sane (loud
    * failure beats silently-wrong windows), write ONE normalized parquet
    * file per requested name into `dir`. Gate stagers must never copy the
    * raw driver file — that would re-introduce a per-gate physical-schema
    * assumption. The normalize-write (plus its sanity aggregate) runs once
    * per corpus dir per JVM — the six streaming gates then stage by file
    * copy, the same cost profile the pre-normalization stagers had.
    */
  private val normalizedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Every local dir a streaming gate creates (staged sources, sinks,
    * checkpoints, table fixtures) — registered for JVM-exit sweep via
    * [[graft.TempDirs]] AND tracked here so a long-lived scale JVM can
    * release the family's disk EAGERLY: at sf100 the st gates stage
    * multi-GB normalized event/orders files plus parquet sinks, which
    * otherwise pin tens of GB that later families then spill against
    * (the r18 subset run's transient ENOSPC was exactly this kind of
    * fixture co-tenancy). Bench calls [[purgeGateDirs]] at the st→x
    * family boundary when SPARK_GRAFT_EVICT_FAMILY is set.
    */
  private val gateDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def gateDir(prefix: String): String = {
    val d = graft.TempDirs.create(prefix)
    gateDirs.add(d)
    d.toString
  }

  /** Delete every tracked gate dir now and drop the staged-events cache
    * (its part file lives in one of them; the next stager rebuilds).
    * Gates are self-contained per call, so purging BETWEEN gates is
    * always safe — only an in-flight query's sink would be live.
    */
  def purgeGateDirs(): Unit = {
    var p = gateDirs.poll()
    while (p != null) { graft.TempDirs.deleteNow(p); p = gateDirs.poll() }
    normalizedEventsCache.clear()
  }

  private def stageEvents(spark: SparkSession, sfDir: String, dir: String,
      names: Seq[String] = Seq("batch1.parquet")): Unit = {
    val part = normalizedEventsCache.computeIfAbsent(sfDir, _ => {
      val df = Tables.events(spark, sfDir).select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      Tables.assertSaneTimeline(df)
      val tmp = gateDir("graft_events_norm")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.toPath
    })
    names.foreach { n =>
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(s"$dir/$n"))
    }
  }

  /** A timestamp far past every real event, used by flush rows that close
    * windows / advance watermarks; instant-based so JVM default tz is
    * irrelevant.
    */
  private def farFuture: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("9999-01-01T00:00:00Z"))

  /** Run `body` with streaming state partitions pinned to 8 (state-store
    * commit count dominates short-lived local streams; a production stream
    * would size this to state volume), restoring the session conf after.
    */
  private def withStatePartitions[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Append-mode sink for UNBOUNDED streaming output: a parquet FILE sink
    * plus read-back, replacing the memory sink for every gate whose
    * output is O(stream). A memory sink materializes the entire result as
    * driver-held rows — fine for window aggregates (st01), fatal for
    * per-row outputs: the ×100 corpus OOM'd a 24 GiB driver collecting
    * st03's deduped stream. The file sink writes each micro-batch's
    * output straight to storage from the executors (a production
    * pipeline's lake sink — exactly-once via the sink's own commit log),
    * so the measurement path scales with the CLUSTER, not the driver.
    * Read-back pins the sink's schema: an empty result must read as an
    * empty frame, not a schema-inference failure.
    */
  private def parquetSink(df: DataFrame)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => DataFrame) = {
    val out = gateDir("graft_file_sink")
    val q = df.writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append").start()
    (q, () => df.sparkSession.read.schema(df.schema).parquet(s"$out/data"))
  }

  /** st02 as a driver-gate query: the REAL streaming sessionizer (file
    * source → flatMapGroupsWithState → parquet file sink) over the events
    * table.
    * A far-future flush event PER USER closes every real session (each
    * flush opens a session of its own that stays in state, never emitted),
    * so the closed-session aggregate is value-identical to the batch q14
    * oracle.
    */
  def st02StreamingGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = gateDir("graft_st02_gate")
    stageEvents(spark, sfDir, dir)
    val stream = spark.readStream.schema(eventsSchema).parquet(dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms")).as[Ev]
    val (q, sessions) = withStatePartitions(spark) {
      parquetSink(sessionize(stream, 1800000L).toDF())
    }
    try {
      q.processAllAvailable()
      // flush: one far-future event per user closes that user's last session
      spark.read.schema(eventsSchema).parquet(s"$dir/batch1.parquet")
        .select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"), lit(farFuture).as("ts"),
          col("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    sessions()
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"), count(lit(1)).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** Identical to the batch q14 oracle: same gap, same millisecond floor. */
  val st02GateOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms_ts,
      |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN prev_ms IS NULL OR ms_ts - prev_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  /** st03 as a driver-gate query: live streaming dedup over the events
    * table with every row duplicated (two identical files land in one
    * micro-batch, so no row is watermark-late); the deduped per-type
    * counts equal the original table's.
    */
  def st03StreamingGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = gateDir("graft_st03_gate")
    stageEvents(spark, sfDir, dir, Seq("copy1.parquet", "copy2.parquet"))
    val stream = spark.readStream.schema(eventsSchema).parquet(dir)
    val (q, deduped) = withStatePartitions(spark) {
      parquetSink(dedupStream(stream))
    }
    try q.processAllAvailable() finally q.stop()
    deduped()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val st03GateOracle: String =
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1"

  /** st04 as a driver-gate query: stream files into a versioned table —
    * maxFilesPerTrigger=1 forces one micro-batch per file, so the table
    * history shows exactly one append commit per batch and time travel
    * works over a live stream's commits.
    */
  def st04StreamingGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = gateDir("graft_st04_gate")
    // stage through Spark (one part file), never a raw file copy — the
    // corpus table may be a single parquet file (driver layout) or a
    // directory of parts (DataGen-scaled layout)
    val staged = gateDir("graft_st04_src")
    graft.sources.Tables.orders(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head.toPath
    Seq("b1.parquet", "b2.parquet").foreach { f =>
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(s"$dir/$f"))
    }
    val schema = graft.sources.Tables.orders(spark, sfDir).schema
    val table = GraftTable.createEmpty(spark,
      gateDir("graft_st04_tbl") + "/t", schema)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val name = s"st04_gate_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = withStatePartitions(spark) { writeToTable(stream, table, name) }
    try q.processAllAvailable() finally q.stop()
    val snaps = table.meta.snapshots
    val firstCommitRows = table.asOf(snaps.head.id).count()
    Seq((snaps.size.toLong, snaps.forall(_.operation == "append"),
        firstCommitRows, table.toDF().count()))
      .toDF("n_commits", "all_append", "rows_first_commit", "n_rows")
  }

  val st04GateOracle: String =
    """SELECT CAST(2 AS BIGINT) AS n_commits, TRUE AS all_append,
      |  (SELECT COUNT(*) FROM orders) AS rows_first_commit,
      |  2 * (SELECT COUNT(*) FROM orders) AS n_rows""".stripMargin

  /** st05 as a driver-gate query: continuous CDC upsert — two micro-batches
    * land as two merge-on-read upsert commits; the second batch's versions
    * win over the first's for overlapping keys, and new keys insert.
    */
  def st05StreamingGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def capped(n: Int): DataFrame =
      graft.sources.Tables.orders(spark, sfDir).orderBy(col("o_orderkey")).limit(n)
    val table = GraftTable.createAs(spark,
      gateDir("graft_st05_tbl") + "/t",
      capped(1000))
    val dir = gateDir("graft_st05_gate")
    capped(100).withColumn("o_orderpriority", lit("0-V1"))
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(table.meta.schema).parquet(dir)
    val name = s"st05_gate_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = withStatePartitions(spark) {
      upsertToTable(stream, table, Seq("o_orderkey"), name)
    }
    try {
      q.processAllAvailable()
      capped(100).withColumn("o_orderpriority", lit("0-V2"))
        .unionAll(capped(50)
          .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
          .withColumn("o_orderpriority", lit("0-NEW")))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    // ONE pass over the final state (r21, guide §1.2): the four counts
    // previously ran four separate actions over the same MOR read
    val r = table.toDF().agg(count(lit(1)),
        count(when(col("o_orderpriority") === "0-V1", 1)),
        count(when(col("o_orderpriority") === "0-V2", 1)),
        count(when(col("o_orderpriority") === "0-NEW", 1))).head()
    Seq((table.meta.snapshots.size.toLong, r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("n_commits", "n_rows", "n_v1", "n_v2", "n_new")
  }

  val st05GateOracle: String =
    """SELECT CAST(3 AS BIGINT) AS n_commits, CAST(1050 AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_v1, CAST(100 AS BIGINT) AS n_v2,
      |  CAST(50 AS BIGINT) AS n_new""".stripMargin

  /** st06: live changelog source — the CONSUMER side of [[upsertToTable]]'s
    * producer. Polls the table's snapshot head at `intervalMs`; every
    * advance is delivered as one micro-batch DataFrame of
    * `changesBetween(lastDeliveredHead, newHead)` (rows tagged
    * `_change_type` insert/delete). Offsets are snapshot ids, so a
    * restarted consumer resumes by persisting the last delivered head —
    * the Kafka-offset shape over table commits. The batch stays a
    * DataFrame end to end (the sink writes it distributed); the poller
    * thread only moves snapshot ids, never rows.
    */
  final class ChangelogStream(table: GraftTable, startSnapshotId: Long,
      intervalMs: Long, process: (DataFrame, Long) => Unit,
      ref: Option[String] = None) {
    @volatile private var running = true
    private var last = startSnapshotId
    private val thread = new Thread(() => {
      while (running) {
        // commit-notified wakeup (r11): snapshot the bus sequence BEFORE
        // scanning, so a commit landing mid-delivery re-triggers
        // immediately instead of waiting out the interval. The interval
        // survives as the FALLBACK timeout — commits from other JVMs
        // don't signal this bus, so liveness never depends on it.
        val seen = graft.tables.CommitBus.seq(table.location)
        // A transient failure (sink IO, concurrent commit race) must not
        // kill the subscription thread — log and retry next tick. Only
        // interruption (stop()) ends the loop.
        try deliverPending()
        catch {
          case _: InterruptedException => ()
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"graft-changelog: poll failed (will retry): $e")
        }
        // stop() flips `running` before interrupting; checking it here means
        // an interrupt swallowed inside deliverPending() can't strand the
        // thread in a full-interval wait after stop.
        if (running)
          try { graft.tables.CommitBus.awaitChange(table.location, seen, intervalMs); () }
          catch { case _: InterruptedException => () }
      }
    }, s"graft-changelog-${table.location.hashCode}")

    def start(): this.type = { thread.setDaemon(true); thread.start(); this }

    /** Deliver any snapshots committed since the last delivery, now. */
    def processAllAvailable(): Unit = deliverPending()

    private def deliverPending(): Unit = synchronized {
      // follow main's head, or a branch's (a WAP auditor subscribes to the
      // staging branch and sees commits main can't yet)
      val m = table.meta
      val head = ref.flatMap(r => m.refs.get(r).map(_.snapshotId))
        .orElse(m.currentSnapshotId).getOrElse(last)
      if (head != last) {
        // a rollback can move the head OFF the branch holding our offset:
        // changesBetween requires ancestry, so fall back to the snapshot
        // file-diff — one reconciliation batch that deletes the abandoned
        // rows and inserts the restored ones (the poller must survive
        // this, not die silently mid-subscription)
        val batch =
          try table.changesBetween(last, head)
          catch { case _: IllegalArgumentException => table.diffSnapshots(last, head) }
        process(batch, head)
        last = head
      }
    }

    /** Synchronous stop: flips the run flag BEFORE interrupting (so a
      * swallowed interrupt can't strand the poller in a full-interval
      * sleep) and joins briefly so callers observe the thread gone.
      */
    def stop(): Unit = { running = false; thread.interrupt(); thread.join(2000) }

    private[streaming] def isAlive: Boolean = thread.isAlive
  }

  /** st06 as a driver-gate query: an append, a merge-on-read predicate
    * delete, and a merge-on-read upsert land on a table while a LIVE
    * [[ChangelogStream]] consumes them; the consumed rows (written
    * distributed, batch by batch) aggregate to exactly the counts the
    * inputs imply — the stream sees what the batch changelog sees.
    */
  def st06ChangelogGate(spark: SparkSession, sfDir: String): DataFrame = {
    def capped(n: Int): DataFrame =
      graft.sources.Tables.orders(spark, sfDir).orderBy(col("o_orderkey")).limit(n)
    val table = GraftTable.createAs(spark,
      gateDir("graft_st06_tbl") + "/t",
      capped(1000))
    val s0 = table.meta.currentSnapshotId.get
    val sink = gateDir("graft_st06_sink") + "/cdc"
    val cs = new ChangelogStream(table, s0, intervalMs = 2000, // fallback only: CommitBus wakes the poller on every commit
      (batch, _) => batch.write.mode("append").parquet(sink)).start()
    try {
      table.append(capped(100)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
        .withColumn("o_orderpriority", lit("0-ADD")))
      cs.processAllAvailable()
      table.deleteMergeOnRead("o_orderpriority = '1-URGENT'")
      cs.processAllAvailable()
      table.upsertMergeOnRead(capped(50).withColumn("o_orderpriority", lit("0-UPS")),
        Seq("o_orderkey"))
      cs.processAllAvailable()
    } finally cs.stop()
    spark.read.parquet(sink)
      .groupBy(col("_change_type"), col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("_change_type"), col("o_orderpriority"))
  }

  /** Input-derivable mirror: the append inserts its 100 rows; the
    * predicate delete emits the urgent rows live at that point; the upsert
    * emits deletes for the still-live rows of its 50 keys (urgent ones are
    * already gone) and inserts its 50 new versions.
    */
  val st06GateOracle: String =
    """WITH base AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000),
      |ups AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)
      |SELECT _change_type, o_orderpriority, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'insert' AS _change_type, '0-ADD' AS o_orderpriority,
      |    (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100)) AS n
      |  UNION ALL
      |  SELECT 'insert', '0-UPS', (SELECT COUNT(*) FROM ups)
      |  UNION ALL
      |  SELECT 'delete', '1-URGENT',
      |    (SELECT COUNT(*) FROM base WHERE o_orderpriority = '1-URGENT')
      |  UNION ALL
      |  SELECT 'delete', o_orderpriority, COUNT(*) FROM ups
      |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_orderpriority
      |) ORDER BY _change_type, o_orderpriority""".stripMargin

  /** st09: CONTINUOUS VIEW MAINTENANCE — the streaming end of
    * [[graft.tables.IncrementalAggView]]: a poller watches the base
    * table's snapshot head and folds every advance into the stored
    * aggregate via `refresh()` (O(delta + touched groups), cursor riding
    * the apply commit). Because refresh is exactly-once by construction,
    * the poller needs NO offset state of its own — a crashed maintainer
    * restarts anywhere and the view's own cursor says where it left off
    * (compare [[ChangelogStream]], which must persist its delivered head).
    * A transient refresh failure logs and retries next tick.
    */
  final class ViewMaintainer(view: graft.tables.IncrementalAggView,
      intervalMs: Long) {
    @volatile private var running = true
    // one refresh at a time: the poller tick and processAllAvailable()
    // would otherwise race each other onto the same view version and one
    // would lose the commit CAS
    private def refreshOnce(): Unit = synchronized { view.refresh(); () }
    private val thread = new Thread(() => {
      while (running) {
        // commit-notified wakeup (r11) on the BASE table's location —
        // that's whose commits the view folds; the interval demotes to a
        // fallback timeout (cross-JVM writers don't signal this bus)
        val seen = graft.tables.CommitBus.seq(view.baseLocation)
        try refreshOnce()
        catch {
          case _: InterruptedException => ()
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"graft-view-maintainer: refresh failed (will retry): $e")
        }
        if (running)
          try { graft.tables.CommitBus.awaitChange(view.baseLocation, seen, intervalMs); () }
          catch { case _: InterruptedException => () }
      }
    }, s"graft-view-maintainer-${view.table.location.hashCode}")

    def start(): this.type = { thread.setDaemon(true); thread.start(); this }

    /** Fold any pending base commits in, now (synchronous). */
    def processAllAvailable(): Unit = refreshOnce()

    def stop(): Unit = { running = false; thread.interrupt(); thread.join(2000) }

    private[streaming] def isAlive: Boolean = thread.isAlive
  }

  /** st09 as a driver-gate query: commits land on the base table while a
    * LIVE maintainer keeps the aggregate view current; the final view rows
    * are exactly the aggregate of the final base state.
    */
  def st09ViewMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.tables.IncrementalAggView
    def capped(n: Int): DataFrame =
      graft.sources.Tables.orders(spark, sfDir).orderBy(col("o_orderkey")).limit(n)
    def tmp(p: String): String = gateDir(p) + "/t"
    val base = GraftTable.createAs(spark, tmp("graft_st09_b"), capped(1500))
    val view = IncrementalAggView.create(spark, tmp("graft_st09_v"), base,
      Seq("o_orderpriority"), Seq("o_totalprice"))
    val vm = new ViewMaintainer(view, intervalMs = 2000).start()
    try {
      base.append(capped(250).withColumn("o_orderkey", col("o_orderkey") + 900000000L))
      vm.processAllAvailable()
      base.delete("o_orderkey % 6 = 0")
      vm.processAllAvailable()
      base.upsertMergeOnRead(capped(100).withColumn("o_totalprice", lit(77.25)),
        Seq("o_orderkey"))
      vm.processAllAvailable()
    } finally vm.stop()
    view.toDF()
      .select(col("o_orderpriority"), col("cnt"),
        col("sum_o_totalprice").cast("double").as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val st09Oracle: String =
    """WITH base0 AS (
      |  SELECT * FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1500)
      |  UNION ALL
      |  SELECT * REPLACE (o_orderkey + 900000000 AS o_orderkey)
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 250)
      |), afterdel AS (
      |  SELECT * FROM base0 WHERE o_orderkey % 6 <> 0
      |), ups AS (
      |  SELECT * REPLACE (77.25 AS o_totalprice)
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100)
      |), final AS (
      |  SELECT * FROM afterdel
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
      |  UNION ALL SELECT * FROM ups
      |)
      |SELECT o_orderpriority, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
      |FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** st10: watermarked stream-stream LEFT OUTER join — st07's attribution
    * shape plus the rows inner joins silently drop: a view with NO click
    * inside its 15-minute window must still emit (with NULL click fields)
    * once BOTH watermarks pass the window's end, i.e. once it is provable
    * no matching click can still arrive. That deferred emission is the
    * semantic heart of streaming outer joins: the gate advances the
    * watermarks with a far-future flush row per side (excluded from
    * output), the unmatched views surface in the following micro-batch,
    * and the whole result is value-identical to the batch LEFT JOIN
    * oracle. State stays O(window) exactly as in st07. NULL click fields
    * are emitted as -1 (both engines) so the compare stays dtype-stable.
    */
  def st10StreamOuterJoinGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = gateDir("graft_st10_gate")
    stageEvents(spark, sfDir, dir)
    val ev = spark.readStream.schema(eventsSchema).parquet(dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = views.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 15 MINUTES"),
        "leftOuter")
      .select(col("v_id"), coalesce(col("c_id"), lit(-1L)).as("c_id"),
        col("user_id"),
        coalesce(unix_millis(col("c_ts")) - unix_millis(col("v_ts")), lit(-1L))
          .as("gap_ms"))
    val (q, matches) = withStatePartitions(spark) { parquetSink(joined) }
    try {
      q.processAllAvailable()
      // flush: one far-future row per side advances both watermarks past
      // every real view's window, releasing the unmatched views
      val maxTs = spark.read.schema(eventsSchema).parquet(s"$dir/batch1.parquet")
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val flushTs = new java.sql.Timestamp(maxTs / 1000L + 3L * 3600L * 1000L)
      import spark.implicits._
      Seq((900000001L, flushTs, 999999L, "view", 0.0, "{}"),
          (900000002L, flushTs, 999999L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    matches().filter(col("v_id") < 900000000L)
      .orderBy(col("v_id"), col("c_id"))
  }

  val st10Oracle: String =
    """WITH e AS (
      |  SELECT event_id, epoch_ms(ts) AS ms, user_id, event_type FROM events)
      |SELECT v.event_id AS v_id, COALESCE(c.event_id, -1) AS c_id,
      |  v.user_id AS user_id, COALESCE(c.ms - v.ms, -1) AS gap_ms
      |FROM e v LEFT JOIN e c
      |  ON v.user_id = c.user_id AND c.event_type = 'click'
      |  AND c.ms BETWEEN v.ms AND v.ms + 900000
      |WHERE v.event_type = 'view'
      |ORDER BY v_id, c_id""".stripMargin

  /** st07: WATERMARKED STREAM-STREAM JOIN — the ad-attribution shape: for
    * every view, the clicks by the same user within the next 15 minutes.
    * Both sides carry event-time watermarks and the join condition bounds
    * c_ts to [v_ts, v_ts + 15 min], so each side's buffered state is
    * evicted once the other side's watermark passes the bound — state is
    * O(15-minute window), not O(stream), which is what lets the same
    * pipeline run forever on an unbounded feed. Inner-join matches emit
    * as soon as both rows arrive (no flush file needed); the result is
    * value-identical to the batch self-join, which is the DuckDB oracle.
    */
  def st07StreamJoinGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = gateDir("graft_st07_gate")
    stageEvents(spark, sfDir, dir)
    val ev = spark.readStream.schema(eventsSchema).parquet(dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = views.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 15 MINUTES"))
      .select(col("v_id"), col("c_id"), col("user_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
    val (q, matches) = withStatePartitions(spark) { parquetSink(joined) }
    try q.processAllAvailable() finally q.stop()
    matches().orderBy(col("v_id"), col("c_id"))
  }

  val st07GateOracle: String =
    """WITH e AS (
      |  SELECT event_id, epoch_ms(ts) AS ms, user_id, event_type FROM events)
      |SELECT v.event_id AS v_id, c.event_id AS c_id, v.user_id AS user_id,
      |  c.ms - v.ms AS gap_ms
      |FROM e v JOIN e c ON v.user_id = c.user_id
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ms BETWEEN v.ms AND v.ms + 900000
      |ORDER BY v_id, c_id""".stripMargin

  /** st08: STREAM-STATIC ENRICHMENT JOIN — the canonical streaming-ETL
    * shape: a live event stream joined per micro-batch against a
    * slowly-changing dimension snapshot (customer→nation). STATELESS and
    * append-mode: the static side broadcasts, each batch joins map-side —
    * no watermark, no state store, no flush needed, which is exactly why
    * this shape (unlike st07's stream-stream join) runs at any scale with
    * zero state growth. The gate batch-aggregates the enriched sink rows
    * and must match the all-batch join's DuckDB oracle value-for-value.
    */
  def st08StreamStaticGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = gateDir("graft_st08_gate")
    stageEvents(spark, sfDir, dir)
    val stream = spark.readStream.schema(eventsSchema).parquet(dir)
    val cust = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = graft.sources.Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val dim = broadcast(cust
      .join(nation, cust("c_nationkey") === nation("n_nationkey"))
      .select(col("c_custkey"), col("n_name")))
    val joined = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .select(col("event_id"), col("n_name"), col("value"))
    val (q, enriched) = parquetSink(joined)
    try q.processAllAvailable() finally q.stop()
    enriched()
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("n_name"))
  }

  val st08GateOracle: String =
    """SELECT n_name, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** st11: CONTINUOUS dedup ingestion — the streaming face of d10: each
    * micro-batch is flagged against the persisted fingerprint index
    * (LSH band keys + riding sketches, zero corpus IO), novel docs land
    * in a CLEAN versioned table, and the index absorbs their keys — so
    * the clean table never admits a near-dup of anything ever streamed,
    * across batches, restarts and replays.
    *
    * Exactly-once across TWO tables with one deterministic repair order:
    * flags are computed READ-ONLY (the index is untouched until the last
    * step), per-batch flag output is an idempotent overwrite, and each
    * table append carries its own batch-id fence — so a replay after any
    * crash point recomputes identical flags (the index only changes in
    * the final step) and re-applies exactly the missing commits.
    */
  private[streaming] def dedupIngestBatch(fp: GraftTable, clean: GraftTable,
      flagsDir: String, queryName: String)(batch: DataFrame, batchId: Long): Unit = {
    // fence reads are metadata-only — check them BEFORE paying the
    // isEmpty job, so a fully-replayed batch costs zero Spark jobs
    val cleanDone = alreadyApplied(clean, queryName, batchId)
    val fpDone = alreadyApplied(fp, queryName, batchId)
    if (cleanDone && fpDone) return
    if (batch.isEmpty) return
    // ONE tokenize pass per batch (r21, guide §1.2): the cached band-key
    // frame serves the flag join AND the index absorption — previously
    // the survivors were re-shingled + re-minhashed from text
    val bk = graft.operators.Dedup.bandKeysWithSketch(batch).cache()
    try {
      val flags = graft.operators.Dedup.flagWithBandKeys(fp, batch, bk)
      val survivors = batch.join(flags.filter(col("is_dup")), Seq("doc_id"), "left_anti")
      flags.withColumn("batch", lit(batchId + 1))
        .write.mode("overwrite").parquet(s"$flagsDir/b$batchId")
      if (!cleanDone)
        clean.appendWithProperties(survivors,
          Map(batchFence(queryName) -> batchId.toString))
      // the index absorb is LAST: everything above re-derives byte-identical
      // results as long as the index hasn't moved
      if (!fpDone)
        fp.appendWithProperties(
          bk.join(flags.filter(col("is_dup")), Seq("doc_id"), "left_anti"),
          Map(batchFence(queryName) -> batchId.toString))
    } finally {
      bk.unpersist()
      ()
    }
    ()
  }

  /** st11 as a driver-gate query: three micro-batches stream through the
    * index — batch 1 seeds it, batch 2 is the d10 shape (fresh docs +
    * planted copies of batch 1), batch 3 is copies ONLY: of batch-1
    * originals (dup against the index) and of batch-2's planted DUPS
    * (still dup — they must match the batch-1 ORIGINAL in the index,
    * because flagged dups are never absorbed). Emits per-batch flags;
    * the oracle replays the sequential all-pairs dedup in DuckDB
    * (batch k vs the SURVIVORS of batches < k).
    */
  def st11StreamDedupIndexGate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir)
    val b1 = docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
        .select(col("doc_id"), col("text"))
      .unionAll(b1.select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
    val b3 = b1.filter(col("doc_id") < 50)
        .select((col("doc_id") + lit(7000000L)).as("doc_id"), col("text"))
      .unionAll(b1.filter(col("doc_id") < 10)
        .select((col("doc_id") + lit(9000000L)).as("doc_id"), col("text")))

    val streamDir = gateDir("graft_st11_src")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$streamDir/.stage$i"
      b.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/batch$i.parquet"))
      // FileStreamSource orders by mtime; sub-ms writes can tie, so pin
      // strictly increasing timestamps to make batch order deterministic
      new java.io.File(s"$streamDir/batch$i.parquet")
        .setLastModified(1000000000000L + i * 60000L)
      ()
    }
    val work = graft.TempDirs.create("graft_st11").toString
    val fp = GraftTable.createEmpty(spark, s"$work/fp",
      graft.operators.Dedup.indexEntries(b1.limit(0)).schema)
    val clean = GraftTable.createEmpty(spark, s"$work/clean", b1.schema)
    val flagsDir = s"$work/flags"
    val name = s"st11_gate_${java.util.UUID.randomUUID().toString.take(8)}"
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = withStatePartitions(spark) {
      stream.writeStream.queryName(name).outputMode("append")
        .foreachBatch(dedupIngestBatch(fp, clean, flagsDir, name) _).start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$flagsDir/*")
      .select(col("batch").cast("long").as("batch"), col("doc_id"),
        col("is_dup"), col("dup_of"))
      .orderBy(col("batch"), col("doc_id"))
  }

  /** Sequential replay: batch k's docs vs exact char-5-gram Jaccard ≥ 0.6
    * against the SURVIVORS of earlier batches.
    */
  val st11Oracle: String =
    """WITH b1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |b2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 400
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text FROM b1),
      |b3 AS (
      |  SELECT doc_id + 7000000 AS doc_id, text FROM b1 WHERE doc_id < 50
      |  UNION ALL
      |  SELECT doc_id + 9000000 AS doc_id, text FROM b1 WHERE doc_id < 10),
      |s1 AS (
      |  SELECT doc_id, list_distinct(
      |    [substring(text, i, 5) for i in generate_series(1, length(text) - 4)]) AS s
      |  FROM b1),
      |s2 AS (
      |  SELECT doc_id, list_distinct(
      |    [substring(text, i, 5) for i in generate_series(1, length(text) - 4)]) AS s
      |  FROM b2),
      |s3 AS (
      |  SELECT doc_id, list_distinct(
      |    [substring(text, i, 5) for i in generate_series(1, length(text) - 4)]) AS s
      |  FROM b3),
      |m2 AS (
      |  SELECT n.doc_id, MIN(o.doc_id) AS dup_of
      |  FROM s2 n JOIN s1 o
      |    ON CAST(len(list_intersect(n.s, o.s)) AS DOUBLE) /
      |      (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s))) >= 0.6
      |  GROUP BY n.doc_id),
      |srv AS (
      |  SELECT * FROM s1
      |  UNION ALL
      |  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM m2)),
      |m3 AS (
      |  SELECT n.doc_id, MIN(o.doc_id) AS dup_of
      |  FROM s3 n JOIN srv o
      |    ON CAST(len(list_intersect(n.s, o.s)) AS DOUBLE) /
      |      (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s))) >= 0.6
      |  GROUP BY n.doc_id)
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id, FALSE AS is_dup,
      |  CAST(-1 AS BIGINT) AS dup_of FROM b1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), b.doc_id, m.dup_of IS NOT NULL,
      |  COALESCE(m.dup_of, -1) FROM b2 b LEFT JOIN m2 m ON b.doc_id = m.doc_id
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), b.doc_id, m.dup_of IS NOT NULL,
      |  COALESCE(m.dup_of, -1) FROM b3 b LEFT JOIN m3 m ON b.doc_id = m.doc_id
      |ORDER BY batch, doc_id""".stripMargin

  // -------------------------------------------------------- st12 packing

  case class PackDoc(shard: Long, doc_id: Long, flush: Boolean, ids: Array[Long])
  case class PackState(next_seq: Long, leftover: Array[Long])
  case class PackedSeq(shard: Long, seq_id: Long, n_tokens: Long, seq_text: String)

  /** st12: CONTINUOUS sequence packing — the streaming face of p06: an
    * unbounded curated-document stream becomes fixed-budget training
    * sequences as it arrives, token streams concatenating ACROSS
    * micro-batches. Tokenization (BPE ids + EOS) runs codegen'd in the
    * stream's select before any state; per shard,
    * `flatMapGroupsWithState` carries exactly (next seq_id, the < budget
    * leftover ids) — O(budget) state per shard, emitted sequences leave
    * immediately, so state never grows with the stream. Ordered-ingest
    * contract (the st11 posture): batches arrive in doc_id order and
    * each batch's group is sorted by doc_id, so the packing is
    * deterministic and equals the batch operator bit for bit. A FLUSH
    * marker per shard (the epoch-close signal a real ingest sends)
    * closes the partial tail sequence and drops the state.
    */
  def packSequences(docs: Dataset[PackDoc], budget: Int): Dataset[PackedSeq] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedSeq](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[PackDoc], state: GroupState[PackState]) =>
          val st = state.getOption.getOrElse(PackState(0L, Array.empty[Long]))
          val sorted = rows.toArray.sortBy(_.doc_id)
          val out = Seq.newBuilder[PackedSeq]
          val buf = scala.collection.mutable.ArrayBuffer[Long](st.leftover.toSeq: _*)
          var seq = st.next_seq
          var flush = false
          sorted.foreach { d =>
            if (d.flush) flush = true
            else {
              buf ++= d.ids
              while (buf.length >= budget) {
                out += PackedSeq(shard, seq, budget.toLong,
                  buf.take(budget).mkString(" "))
                buf.remove(0, budget)
                seq += 1
              }
            }
          }
          if (flush) {
            // epoch close: the partial tail ships as the final (short)
            // sequence — exactly the batch operator's last chunk
            if (buf.nonEmpty) {
              out += PackedSeq(shard, seq, buf.length.toLong, buf.mkString(" "))
              seq += 1
              buf.clear()
            }
            state.remove()
          } else state.update(PackState(seq, buf.toArray))
          out.result().iterator
      }
  }

  /** st12 as a driver-gate query: the documents table streams through
    * [[packSequences]] in three ordered micro-batches plus one flush
    * batch (one marker per shard, doc_ids at 2^40 + shard so pmod lands
    * them without colliding with data ids). Because ordered streaming
    * packing ≡ batch concat-and-chunk, the gate shares p06's ORACLE
    * verbatim — the DuckDB replay of the batch semantics checks the
    * STREAMING result, pinning stream/batch equivalence end to end.
    */
  def st12StreamPackingGate(spark: SparkSession, sfDir: String): DataFrame =
    st12StreamPackingGate(spark, sfDir, Seq(150L, 350L))

  private[streaming] def st12StreamPackingGate(spark: SparkSession,
      sfDir: String, cuts: Seq[Long]): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val flushers = spark.range(8).select(
      (lit(1L << 40) + col("id")).as("doc_id"),
      lit(null).cast("string").as("text"))
    val bounds = Long.MinValue +: cuts :+ Long.MaxValue
    val parts = bounds.sliding(2).map { case Seq(lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }.toSeq :+ flushers
    val streamDir = gateDir("graft_st12_src")
    parts.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$streamDir/.stage$i"
      b.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/batch$i.parquet"))
      // FileStreamSource orders by mtime (see st11): pin strictly
      // increasing timestamps so batch order is deterministic
      new java.io.File(s"$streamDir/batch$i.parquet")
        .setLastModified(1000000000000L + i * 60000L)
      ()
    }
    val outDir = graft.TempDirs.create("graft_st12").toString
    val q = startPackingQuery(spark, streamDir, outDir,
      graft.TempDirs.create("graft_st12_cp").toString)
    try q.processAllAvailable() finally q.stop()
    packedResult(spark, outDir)
  }

  /** The st12 stream → state → per-batch sink wiring, restartable: the
    * checkpoint carries the file-source offset log AND the packing state,
    * so a query stopped mid-stream and restarted on the same checkpoint
    * resumes with its leftover buffers intact (spec-pinned).
    */
  private[streaming] def startPackingQuery(spark: SparkSession,
      streamDir: String, outDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // tokenize in the stream's select — codegen'd, BEFORE any state
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
      .select(pmod(col("doc_id"), lit(8L)).as("shard"), col("doc_id"),
        col("text").isNull.as("flush"),
        when(col("text").isNull, expr("CAST(array() AS ARRAY<BIGINT>)"))
          .otherwise(concat(graft.functions.F.bpeTokenIds(col("text")),
            array(lit(graft.functions.BpeVocab.EosId)))).as("ids"))
      .as[PackDoc]
    val name = s"st12_gate_${java.util.UUID.randomUUID().toString.take(8)}"
    withStatePartitions(spark) {
      packSequences(stream, 128).writeStream.queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch((b: Dataset[PackedSeq], id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/b$id")).start()
    }
  }

  private[streaming] def packedResult(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/b*")
      .select(col("shard"), col("seq_id"), col("n_tokens"), col("seq_text"))
      .orderBy(col("shard"), col("seq_id"))

  val entries: Map[String, graft.Gate.Entry] = Map(
    "st12_stream_packing"      -> graft.Gate(st12StreamPackingGate _,
      graft.operators.TextAnalysis.p06Oracle),
    "st11_stream_dedup_index"  -> graft.Gate(st11StreamDedupIndexGate _, st11Oracle),
    "st09_view_maintain"       -> graft.Gate(st09ViewMaintain _, st09Oracle),
    "st10_stream_outer_join"   -> graft.Gate(st10StreamOuterJoinGate _, st10Oracle),
    "st08_stream_static_join"  -> graft.Gate(st08StreamStaticGate _, st08GateOracle),
    "st07_stream_join"         -> graft.Gate(st07StreamJoinGate _, st07GateOracle),
    "st01_stream_windowed_agg" -> graft.Gate(st01StreamingGate _, st01GateOracle),
    "st02_stream_sessionize"   -> graft.Gate(st02StreamingGate _, st02GateOracle),
    "st03_stream_dedup"        -> graft.Gate(st03StreamingGate _, st03GateOracle),
    "st04_stream_to_table"     -> graft.Gate(st04StreamingGate _, st04GateOracle),
    "st05_stream_upsert"       -> graft.Gate(st05StreamingGate _, st05GateOracle),
    "st06_stream_changelog"    -> graft.Gate(st06ChangelogGate _, st06GateOracle),
  )

  /** Batch-id fence for EXACTLY-ONCE foreachBatch sinks: Spark replays the
    * last micro-batch after a crash between the table commit and the
    * checkpoint commit; the applied batch id rides the table commit
    * atomically (property ride-along), so the fence and the data can never
    * disagree — a replayed batch id compares ≤ and is skipped. Keyed by
    * query name: one fence per (stream, table) subscription.
    */
  private def batchFence(queryName: String): String =
    s"graft.stream.$queryName.batch-id"

  private def alreadyApplied(table: GraftTable, queryName: String,
      batchId: Long): Boolean =
    table.meta.properties.get(batchFence(queryName)).exists(_.toLong >= batchId)

  /** st04: stream into a versioned table — each micro-batch becomes one
    * GraftTable snapshot (append), giving exactly the workshop's
    * commit-per-write history plus time travel over a live stream.
    * Empty batches commit nothing; replayed batches are fenced off by the
    * batch id riding each commit (exactly-once end to end).
    */
  private[streaming] def applyAppendBatch(table: GraftTable,
      queryName: String)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty && !alreadyApplied(table, queryName, batchId)) {
      table.appendWithProperties(batch,
        Map(batchFence(queryName) -> batchId.toString))
      ()
    }

  def writeToTable(stream: DataFrame, table: GraftTable, queryName: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch(applyAppendBatch(table, queryName) _)
      .start()

  /** st05: continuous CDC upsert into a versioned table — each micro-batch
    * lands as ONE merge-on-read upsert commit (equality-delete the batch
    * keys + append the batch rows, O(batch) work, no table scan), the
    * Flink-CDC-into-Iceberg ingestion shape. Read-side debt is paid by
    * maintenance (`materializeDeletes` / `compactDeleteFiles`).
    *
    * A micro-batch may carry several updates to one key (they share a
    * sequence number, so all would survive the equality delete); the batch
    * is reduced to the LAST row per key — by `seqCol` descending when
    * given, else an arbitrary winner — before the commit, preserving the
    * "latest value per key wins" CDC contract.
    */
  def upsertToTable(stream: DataFrame, table: GraftTable, keyCols: Seq[String],
      queryName: String, seqCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch(applyUpsertBatch(table, keyCols, seqCol, queryName) _)
      .start()

  private[streaming] def applyUpsertBatch(table: GraftTable,
      keyCols: Seq[String], seqCol: Option[String], queryName: String)(
      batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty && !alreadyApplied(table, queryName, batchId)) {
      val latest = seqCol match {
        case Some(c) =>
          val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(c).desc)
          batch.withColumn("__graft_rn", row_number().over(w))
            .filter(col("__graft_rn") === 1).drop("__graft_rn")
        case None => batch.dropDuplicates(keyCols)
      }
      // `latest` is one row per key by construction (row_number/
      // dropDuplicates above) — the merge can skip its dedup exchange
      table.mergeBatch(latest, None, keyCols,
        extraProperties = Map(batchFence(queryName) -> batchId.toString),
        keysDistinct = true)
      ()
    }

  // ------------------------------------------------------- sessionization

  case class Ev(user_id: Long, ts_ms: Long)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** st02: gap-based sessionization with explicit state
    * (flatMapGroupsWithState): a session closes when the next event for
    * the user arrives more than `gapMs` later; the closed session is
    * emitted downstream. Batch twin: Relational.q14.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts_ms)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_ms - s.last > gapMs =>
                closed += Session(userId, s.start, s.last, s.n)
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
              case Some(s) =>
                cur = Some(s.copy(last = math.max(s.last, e.ts_ms), n = s.n + 1))
              case None =>
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }
}
