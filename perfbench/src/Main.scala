package graftbench

import graft.GraftSession
import graft.sources.{GraftSql, Tables}
import graft.tables.{GraftTable, IncrementalAggView, PartitionField, TableReplicator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Random

/** Closed-loop benchmark of graft with one client thread on one local
  * session. Usage:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <corpusDir> <outFile>
  *
  * The base tables are generated once from a fixed corpus seed into
  * `corpusDir` and reused by later runs; the run seed picks what reaches
  * graft on top of them: keys, windows and batches. The JVM writes raw samples (op intervals, set-up times, spans, Spark
  * job and query-planning events) to `outFile`; `perfbench/run.py` turns
  * them into metrics. Every timed op hands its result to
  * [[Bench.fingerprint]], which hashes all output columns, so Catalyst
  * cannot prune the work away; an untimed verify pass afterwards checks
  * the fingerprints against plain Spark (or pinned values).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, corpus, out) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = Clock.now()
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cpus]")
        .appName("graftbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.now() - t0) / 1000
    try {
      val b = new Bench(spark, workload, seedS.toLong, secondsS.toDouble, traceS == "1", work, corpus)
      b.info("jvm_boot_s") = Json.num(
        (t0 - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000)
      b.info("session_s") = Json.num(sessionS)
      b.info("master") = Json.str(s"local[$cpus]")
      b.info("nproc") = cpus.toString
      b.info("heap_max_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
      workload match {
        case "lake_read" => new LakeRead(b).run()
        case "lake_write" => new LakeWrite(b).run()
        case "pipeline_batch" => new PipelineBatch(b).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        b.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

object Bench {
  /** Seed of the base tables, the same for every run. */
  val CorpusSeed = 1L
}

/** State shared by the workloads: the op log, set-up times and the tracer. */
final class Bench(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, traceOn: Boolean, val work: String, val data: String) {
  final case class Op(id: Int, kind: String, group: Int, timed: Boolean, t0: Double, t1: Double,
      var fp: String, var err: Option[String])

  val tracer = new Tracer(spark, traceOn)
  val ops = mutable.ArrayBuffer[Op]()
  val groups = mutable.ArrayBuffer[String]()
  val extras = mutable.ArrayBuffer[String]()
  val setupS = mutable.ArrayBuffer[Double]()
  val info = mutable.LinkedHashMap[String, String]()
  private var timedStart = Double.NaN
  private var timedEnd = Double.NaN

  def traced: Boolean = tracer.enabled

  /** Runs one op: its wall time excludes `after`, the trace-only extra
    * driver work (planning probes, directory sizes). `after` runs once the
    * op's clock has stopped and its event window has closed, so the Spark
    * jobs, plans and file-system reads of the probes never count as the
    * op's; the tracer marks them as probe events.
    */
  def op(kind: String, group: Int, timed: Boolean)(body: => String)(
      after: => Seq[(String, String)] = Nil): Op = {
    val id = ops.size
    tracer.beginOp(id)
    val t0 = Clock.now()
    val (fp, err) =
      try (tracer.span(s"op.$kind")(body), None)
      catch { case e: Throwable if !e.isInstanceOf[InterruptedException] =>
        ("", Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")
          .linesIterator.take(1).mkString.take(200)}"))
      }
    val t1 = Clock.now()
    tracer.endOp()
    if (traced) {
      val kv = try after catch { case e: Exception => Seq("extra_error" -> Json.str(e.toString.take(200))) }
      if (kv.nonEmpty) extras += Json.obj((("op" -> id.toString) +: kv): _*)
    }
    tracer.endProbes()
    val o = Op(id, kind, group, timed, t0, t1, fp, err)
    ops += o
    o
  }

  /** Records a unit of work (a round, cycle, maintenance pass or pass);
    * only timed ones enter the end-to-end metrics.
    */
  def group(kind: String, idx: Int, timed: Boolean, t0: Double, t1: Double): Unit =
    groups += Json.obj("kind" -> Json.str(kind), "idx" -> idx.toString, "timed" -> timed.toString,
      "t0" -> Json.num(t0), "t1" -> Json.num(t1))

  def timeSetup[T](body: => T): T = {
    val t0 = Clock.now()
    val r = tracer.span("setup")(body)
    setupS += (Clock.now() - t0) / 1000
    r
  }

  /** Runs `body` and records its wall time in seconds under `key`. */
  def timeInfo[T](key: String)(body: => T): T = {
    val t0 = Clock.now()
    try body finally info(key) = Json.num((Clock.now() - t0) / 1000)
  }

  def startWindow(): Unit = timedStart = Clock.now()
  def windowLeft: Boolean = Clock.now() - timedStart < seconds * 1000
  def endWindow(): Unit = timedEnd = Clock.now()

  /** Consumes every output column: count, xor and max of a per-row hash
    * of all columns, collected to the driver with `head()`.
    */
  def fingerprint(df: DataFrame): String = tracer.span("spark.action") {
    val h = xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*))
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")), max(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Marks op `o` failed when its fingerprint differs from `expected`. */
  def check(o: Op, expected: String): Unit =
    if (o.err.isEmpty && o.fp != expected) o.err = Some(s"check: got ${o.fp}, expected $expected")

  /** Box diagnostics: the fixed lineitem scan+sum probe of `graft.Bench`
    * and the 1-task job floor, each several times. Run right after the
    * timed window, so they show the load the window ran under, on a warm
    * JVM.
    */
  def calibrate(): Unit = timeInfo("calibrate_s") {
    def probe(): Double = {
      val t0 = Clock.now()
      spark.read.parquet(s"$data/lineitem.parquet").agg(sum("l_extendedprice")).head()
      Clock.now() - t0
    }
    probe()
    info("calibration_ms") = Json.arr((1 to 3).map(_ => Json.num(probe())))
    tracer.floorMs()
    info("floor_ms") = Json.arr((1 to 5).map(_ => Json.num(tracer.floorMs())))
  }

  /** The base tables, at graft's sf0.1 sizes, from the corpus directory. */
  def makeCorpus(tables: Set[String]): Unit = {
    val t0 = Clock.now()
    val made = Corpus.ensure(spark, data, Bench.CorpusSeed, Corpus.sf01, tables)
    info("corpus_s") = Json.num((Clock.now() - t0) / 1000)
    info("corpus_generated") = Json.arr(made.map(Json.str))
  }

  /** Driver heap after a forced GC, once Spark's block cache is dropped:
    * which datasets happen to sit in the cache at run end depends on the
    * seeded op order, so the cache is reported on its own.
    */
  def heapRetainedMb(): Double = {
    val sc = spark.sparkContext
    info("cached_mb") = Json.num(sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(200); System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def toJson: String = {
    info("heap_retained_mb") = Json.num(heapRetainedMb())
    val os = ops.map { o =>
      Json.obj("id" -> o.id.toString, "kind" -> Json.str(o.kind), "group" -> o.group.toString,
        "timed" -> o.timed.toString, "t0" -> Json.num(o.t0), "t1" -> Json.num(o.t1),
        "ok" -> o.err.isEmpty.toString, "fp" -> Json.str(o.fp),
        "err" -> o.err.map(Json.str).getOrElse("null"))
    }
    Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "traced" -> traced.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "window" -> Json.arr(Seq(Json.num(timedStart), Json.num(timedEnd))),
      "ops" -> Json.arr(os), "groups" -> Json.arr(groups), "extras" -> Json.arr(extras)) ++
      info.toSeq ++ (if (traced) Seq("trace" -> tracer.toJson) else Nil): _*)
  }
}

/** Small pruned reads over metadata-cached tables; nothing commits. */
final class LakeRead(b: Bench) {
  import b.{spark, tracer}
  private val sizes = Corpus.sf01
  private val WideManifests = 520 // > MetaIO's 512-entry child-manifest LRU
  private val MinRounds = 2
  private val BatchRows = 2000L
  private val kinds = Seq("point", "window", "asof", "join", "wide", "shipdate")
  private def batchPath = s"${b.work}/lineitem_batch.parquet"

  final class Fixture(val li: GraftTable, val ev: GraftTable, val wide: GraftTable,
      val s0: Long, val sql: GraftSql)

  private def build(): Fixture = {
    val base = s"${b.work}/wh/read"
    val li = tracer.span("tables.create")(GraftTable.createAs(spark, s"$base/lineitem",
      tracer.span("sources.load")(Tables.lineitem(spark, b.data))))
    tracer.span("tables.cluster")(li.cluster(Seq("l_orderkey"), 32))
    val s0 = li.meta.currentSnapshotId.get
    tracer.span("tables.append")(li.append(spark.read.parquet(batchPath)))
    val part = tracer.span("tables.create")(GraftTable.createAs(spark, s"$base/part",
      tracer.span("sources.load")(Tables.part(spark, b.data))))
    val events = tracer.span("sources.load")(Tables.events(spark, b.data))
    val ev = tracer.span("tables.create")(GraftTable.createAs(spark, s"$base/events", events,
      Seq(PartitionField("ts", "days", "ts_day"))))
    // one file per ~1/520 of the month: the corpus is in ts order within
    // each of its part files, so capping rows per file cuts it into ranges
    val perFile = (sizes.events + WideManifests - 1) / WideManifests
    val wide = GraftSession.withExecConfs(spark, Map("spark.sql.files.maxRecordsPerFile" -> perFile.toString)) {
      tracer.span("tables.create")(GraftTable.createAs(spark, s"$base/events_wide", events.coalesce(4)))
    }
    tracer.span("tables.rewrite_manifests")(wide.rewriteManifests(WideManifests))
    val sql = new GraftSql(spark, s"$base/sql")
    Seq("lineitem" -> li, "part" -> part, "events" -> ev).foreach { case (n, t) =>
      sql.register(n, t.location) }
    new Fixture(li, ev, wide, s0, sql)
  }

  private def ts(micros: Long): String =
    java.time.Instant.ofEpochMilli(micros / 1000).toString.replace("T", " ").stripSuffix("Z")
  private val jan1 = 1704067200000000L
  private val hourUs = 3600L * 1000000L

  /** Op parameters: the table, the graft predicate and the query text. */
  final case class Read(kind: String, table: String, pred: String, query: String)
  private def params(kind: String, r: Random, s0: Long): Read = kind match {
    case "point" =>
      val k = r.nextInt(sizes.orders.toInt)
      Read(kind, "lineitem", s"l_orderkey = $k", "")
    case "window" =>
      val start = jan1 + r.nextInt(28 * 24) * hourUs
      val p = s"ts BETWEEN TIMESTAMP '${ts(start)}' AND TIMESTAMP '${ts(start + (6 + r.nextInt(42)) * hourUs)}'"
      Read(kind, "events", p, "SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS v " +
        s"FROM events WHERE $p GROUP BY event_type")
    case "asof" =>
      val a = r.nextInt(sizes.orders.toInt - 2000)
      val p = s"l_orderkey BETWEEN $a AND ${a + 500}"
      Read(kind, "lineitem", p, "SELECT l_returnflag, count(*) AS n, " +
        s"sum(CAST(l_quantity AS DECIMAL(18,2))) AS q FROM lineitem FOR SYSTEM_VERSION AS OF $s0 " +
        s"WHERE $p GROUP BY l_returnflag")
    case "join" =>
      val a = r.nextInt(sizes.orders.toInt - 4000)
      val p = s"l_orderkey BETWEEN $a AND ${a + 2000}"
      Read(kind, "lineitem", p, "SELECT p_brand, count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        s"AS rev FROM lineitem JOIN part ON l_partkey = p_partkey WHERE $p GROUP BY p_brand")
    case "wide" =>
      val start = jan1 + r.nextInt(23 * 24) * hourUs
      Read(kind, "events_wide", s"ts >= TIMESTAMP '${ts(start)}' AND ts < TIMESTAMP '${
        ts(start + (3 * 24 + r.nextInt(4 * 24)) * hourUs)}'", "")
    case "shipdate" =>
      val d = java.time.LocalDate.of(1995, 1, 2).plusDays(r.nextInt(2400))
      val p = s"l_shipdate BETWEEN TIMESTAMP_NTZ '$d 00:00:00' AND TIMESTAMP_NTZ '${d.plusDays(30)} 00:00:00'"
      Read(kind, "lineitem", p, "SELECT count(*) AS n, sum(CAST(l_quantity AS DECIMAL(18,2))) AS q " +
        s"FROM lineitem WHERE $p")
  }

  private def exec(t: Fixture, rd: Read): String = rd.kind match {
    case "point" => b.fingerprint(tracer.span("tables.toDF")(t.li.toDF(Some(rd.pred))))
    case "wide" => b.fingerprint(tracer.span("tables.toDF")(t.wide.toDF(Some(rd.pred))))
    case _ => b.fingerprint(tracer.span("sources.sql")(t.sql.sql(rd.query)))
  }

  /** Trace-only planning probes: what ScanPlanner would keep for the op's
    * predicate, against what the Spark scan read.
    */
  private def probes(t: Fixture, rd: Read): Seq[(String, String)] = {
    val g = rd.table match {
      case "lineitem" => t.li
      case "events" => t.ev
      case _ => t.wide
    }
    val m = tracer.span("tables.meta")(g.meta)
    val total = g.currentFiles(m).size
    val kept = tracer.span("tables.plan_files")(g.plannedFiles(rd.pred)).size
    val (mk, mt) = tracer.span("tables.plan_manifests")(g.plannedManifests(rd.pred))
    Seq("files_total" -> total.toString, "files_kept" -> kept.toString,
      "manifests_total" -> mt.toString, "manifests_kept" -> mk.toString)
  }

  def run(): Unit = {
    b.makeCorpus(Set("part", "events"))
    Corpus.lineitem(spark, b.seed, sizes, sizes.lineitem, BatchRows).write.mode("overwrite").parquet(batchPath)
    val warmRnd = new Random(b.seed ^ 0x5eed)
    val t = b.timeSetup {
      val tt = build()
      kinds.foreach(k => b.op(k, -1, timed = false)(exec(tt, params(k, warmRnd, tt.s0)))())
      tt
    }
    val rnd = new Random(b.seed)
    val reads = mutable.ArrayBuffer[(b.Op, Read)]()
    b.startWindow()
    var i = 0
    var roundStart = Clock.now()
    while (b.windowLeft || i < MinRounds * kinds.size) {
      val rd = params(kinds(i % kinds.size), rnd, t.s0)
      reads += b.op(rd.kind, i / kinds.size, timed = true)(exec(t, rd))(probes(t, rd)) -> rd
      i += 1
      if (i % kinds.size == 0) {
        b.group("round", i / kinds.size - 1, timed = true, roundStart, Clock.now())
        roundStart = Clock.now()
      }
    }
    b.endWindow()
    b.calibrate()
    b.timeInfo("verify_s")(verify(t, reads.toSeq))
  }

  /** Recomputes every timed read with plain Spark over the raw parquet. */
  private def verify(t: Fixture, reads: Seq[(b.Op, Read)]): Unit = {
    val raw = spark.read.parquet(s"${b.data}/lineitem.parquet").cache()
    val all = raw.unionByName(spark.read.parquet(batchPath)).cache()
    val ev = spark.read.parquet(s"${b.data}/events.parquet").withColumn("ts", col("ts").cast("timestamp"))
      .cache()
    val part = spark.read.parquet(s"${b.data}/part.parquet").cache()
    reads.foreach { case (o, rd) =>
      if (o.err.isEmpty) {
        all.createOrReplaceTempView("lineitem")
        ev.createOrReplaceTempView("events")
        part.createOrReplaceTempView("part")
        val expected = rd.kind match {
          case "point" => b.fingerprint(all.filter(expr(rd.pred)))
          case "wide" => b.fingerprint(ev.filter(expr(rd.pred)))
          case "asof" =>
            raw.createOrReplaceTempView("lineitem_s0")
            b.fingerprint(spark.sql(rd.query.replaceAll("FROM lineitem FOR SYSTEM_VERSION AS OF \\d+",
              "FROM lineitem_s0")))
          case _ => b.fingerprint(spark.sql(rd.query))
        }
        b.check(o, expected)
      }
    }
    Seq(raw, all, ev, part).foreach(_.unpersist())
  }
}

/** The commit loop: DML, view refresh, replica sync and a read-back per
  * cycle, each followed by a maintenance pass.
  */
final class LakeWrite(b: Bench) {
  import b.{spark, tracer}
  /** Rows of the base table: the first keys of the sf0.1 `orders` corpus
    * (a cycle is job-bound, so the table size barely moves it).
    */
  private val Orders = 20000L
  private val MinCycles = 1
  private val BatchRows = 1000L

  final class Fixture(val orders: GraftTable, val view: IncrementalAggView, val replicaLoc: String,
      val sql: GraftSql)

  /** One cycle's seeded inputs: key ranges are disjoint across cycles. */
  final class Cycle(val c: Int) {
    private val r = new Random(b.seed * 1000003L + c)
    val insLo: Long = Orders + c * 10L * BatchRows
    val insert: DataFrame = Corpus.orders(spark, b.seed, spark.range(insLo, insLo + BatchRows).toDF(), 0)
    private def mixed(newLo: Long, salt: Int): DataFrame = {
      val old = r.nextInt(Orders.toInt - 2 * BatchRows.toInt).toLong
      Corpus.orders(spark, b.seed, spark.range(old, old + BatchRows, 2).toDF()
        .unionByName(spark.range(newLo, newLo + BatchRows / 2).toDF()), salt)
    }
    val merge: DataFrame = mixed(insLo + 2 * BatchRows, 7)
    val upsert: DataFrame = mixed(insLo + 4 * BatchRows, 13)
    val delLo: Long = r.nextInt(Orders.toInt - 400).toLong
    val delPred = s"o_orderkey BETWEEN $delLo AND ${delLo + 199}"
    val readPred = s"o_orderkey BETWEEN $insLo AND ${insLo + BatchRows - 1}"
  }

  private def build(): Fixture = {
    val base = s"${b.work}/wh/write"
    val o = tracer.span("tables.create")(GraftTable.createAs(spark, s"$base/orders",
      tracer.span("sources.load")(Tables.orders(spark, b.data)).filter(col("o_orderkey") < Orders)))
    val view = tracer.span("tables.view_create")(IncrementalAggView.create(spark, s"$base/orders_by_status",
      o, Seq("o_orderstatus"), Seq("o_totalprice")))
    tracer.span("tables.replica_create")(TableReplicator.create(spark, s"$base/orders_replica", o,
      Seq("o_orderkey")))
    val sql = new GraftSql(spark, s"$base/sql")
    sql.register("orders", o.location)
    new Fixture(o, view, s"$base/orders_replica", sql)
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists) 0L
    else java.nio.file.Files.walk(f.toPath).filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
  }
  private def tableBytes(t: GraftTable): (Long, Long) =
    (dirBytes(s"${t.location}/data"), dirBytes(s"${t.location}/metadata"))

  /** Trace-only byte and layout counts after a commit. */
  private def commitProbe(t: GraftTable, before: (Long, Long)): Seq[(String, String)] = {
    val (d, m) = tableBytes(t)
    Seq("bytes_written" -> (d - before._1).toString, "meta_bytes_written" -> (m - before._2).toString)
  }

  private def layout(t: GraftTable): Seq[(String, String)] = {
    val m = t.meta
    val children = m.currentSnapshot.map(s =>
      graft.tables.MetaIO.loadManifestEntries(spark.sparkContext.hadoopConfiguration, t.location, s).size)
      .getOrElse(0)
    Seq("live_files" -> t.currentFiles(m).size.toString, "child_manifests" -> children.toString,
      "snapshots" -> m.snapshots.size.toString,
      "row_bytes" -> Json.num(t.liveDataBytes(m).toDouble / m.currentSnapshot.map(_.totalRecords).getOrElse(1L)))
  }

  /** One cycle; returns the snapshot id its DML left current. */
  private def cycle(t: Fixture, cy: Cycle, timed: Boolean): Long = {
    val c = cy.c
    def dml(kind: String)(body: => Unit): Unit = {
      var before = (0L, 0L)
      if (b.traced) before = tableBytes(t.orders)
      b.op(kind, c, timed) { body; "" }(commitProbe(t.orders, before))
    }
    val t0 = Clock.now()
    cy.insert.createOrReplaceTempView("bench_insert")
    dml("insert")(tracer.span("sources.sql")(t.sql.sql("INSERT INTO orders SELECT * FROM bench_insert")))
    cy.merge.createOrReplaceTempView("bench_merge")
    dml("merge")(tracer.span("sources.sql")(t.sql.sql("MERGE INTO orders AS t USING (SELECT * FROM bench_merge) AS s " +
      "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")))
    dml("upsert")(tracer.span("tables.upsert")(t.orders.upsertMergeOnRead(cy.upsert, Seq("o_orderkey"))))
    dml("delete")(tracer.span("sources.sql")(t.sql.sql(s"DELETE FROM orders WHERE ${cy.delPred}")))
    val snap = t.orders.meta.currentSnapshotId.get
    b.op("refresh", c, timed) { tracer.span("tables.refresh")(t.view.refresh()).toString }()
    b.op("sync", c, timed) { tracer.span("tables.sync")(TableReplicator.sync(spark, t.replicaLoc)).toString }()
    b.op("read", c, timed) { b.fingerprint(tracer.span("tables.toDF")(t.orders.toDF(Some(cy.readPred)))) } {
      tracer.span("tables.meta")(t.orders.meta)
      val kept = tracer.span("tables.plan_files")(t.orders.plannedFiles(cy.readPred)).size
      Seq("files_kept" -> kept.toString) ++ layout(t.orders)
    }
    b.group("cycle", c, timed, t0, Clock.now())
    snap
  }

  private def maintain(t: Fixture, idx: Int, keepFrom: Long, timed: Boolean): Unit = {
    val t0 = Clock.now()
    val before = if (b.traced) tableBytes(t.orders) else (0L, 0L)
    val filesBefore = if (b.traced) t.orders.currentFiles().size else 0
    b.op("compact", idx, timed) { tracer.span("tables.compact")(t.orders.compact()); "" }(
      commitProbe(t.orders, before) :+ ("files_before" -> filesBefore.toString))
    b.op("rewrite_manifests", idx, timed) {
      tracer.span("tables.rewrite_manifests")(t.orders.rewriteManifests()); "" }()
    val cutoff = t.orders.meta.snapshot(keepFrom).get.timestampMs
    b.op("expire", idx, timed) {
      tracer.span("tables.expire")(t.orders.expireSnapshots(cutoff)); "" }(
      Seq("files_after" -> t.orders.currentFiles().size.toString) ++ layout(t.orders))
    b.group("maintain", idx, timed, t0, Clock.now())
  }

  def run(): Unit = {
    b.makeCorpus(Set("orders"))
    val (t, snap0) = b.timeSetup {
      val tt = build()
      val created = tt.orders.meta.currentSnapshotId.get
      val s0 = cycle(tt, new Cycle(0), timed = false)
      maintain(tt, 0, created, timed = false)
      (tt, s0)
    }
    val snaps = mutable.ArrayBuffer[(Int, Long)](0 -> snap0)
    b.startWindow()
    var c = 1
    while (b.windowLeft || c <= MinCycles) {
      snaps += c -> cycle(t, new Cycle(c), timed = true)
      maintain(t, c, snaps(snaps.size - 2)._2, timed = true)
      c += 1
    }
    b.endWindow()
    b.calibrate()
    b.timeInfo("verify_s")(verify(t, snaps.toSeq))
  }

  private def upsertInto(state: DataFrame, batch: DataFrame): DataFrame =
    state.join(batch.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(batch)

  /** Replays every cycle with plain Spark and checks the end state, each
    * retained snapshot, each read-back, the view and the replica.
    */
  private def verify(t: Fixture, snaps: Seq[(Int, Long)]): Unit = {
    val retained = t.orders.meta.snapshots.map(_.id).toSet
    val raw = spark.read.parquet(s"${b.data}/orders.parquet").filter(col("o_orderkey") < Orders)
    var state = raw.localCheckpoint()
    val byCycle = b.ops.filter(_.timed).groupBy(_.group)
    val last = snaps.lastOption.map(_._1).getOrElse(0)
    val snapOf = snaps.toMap
    for (c <- 0 to last) {
      val cy = new Cycle(c)
      state = upsertInto(upsertInto(state.unionByName(cy.insert), cy.merge), cy.upsert)
        .filter(not(expr(cy.delPred))).localCheckpoint()
      val cyOps = byCycle.getOrElse(c, Nil)
      cyOps.find(_.kind == "read").foreach(o => b.check(o, b.fingerprint(state.filter(expr(cy.readPred)))))
      for (s <- snapOf.get(c) if retained(s); o <- cyOps.find(_.kind == "delete")) {
        o.fp = b.fingerprint(t.orders.asOf(s))
        b.check(o, b.fingerprint(state))
      }
    }
    val lastOps = b.ops.filter(o => o.timed && o.group == last)
    val endFp = b.fingerprint(t.orders.toDF())
    val viewOk = {
      val want = state.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_o_totalprice"))
      def rows(df: DataFrame) = df.select("o_orderstatus", "cnt", "sum_o_totalprice").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).sortBy(_._1).toSeq
      rows(t.view.toDF()) == rows(want)
    }
    val replicaFp = b.fingerprint(GraftTable.load(spark, t.replicaLoc).toDF())
    val stateFp = b.fingerprint(state)
    lastOps.find(_.kind == "read").foreach { o =>
      if (endFp != stateFp) o.err = o.err.orElse(Some(s"check: end state $endFp != replay $stateFp"))
    }
    lastOps.find(_.kind == "refresh").foreach { o =>
      if (!viewOk) o.err = o.err.orElse(Some("check: view differs from group-by over the replay"))
    }
    lastOps.find(_.kind == "sync").foreach { o =>
      if (replicaFp != stateFp) o.err = o.err.orElse(Some(s"check: replica $replicaFp != replay $stateFp"))
    }
    // space amplification: table bytes on disk vs the live rows written once
    val once = s"${b.work}/space_once"
    state.write.mode("overwrite").parquet(once)
    b.info("table_bytes") = dirBytes(t.orders.location).toString
    b.info("plain_bytes") = dirBytes(once).toString
    b.info("cycles") = last.toString
    b.info("cycle_rows") = (3 * BatchRows).toString
  }
}

/** Operator kernels over the sf0.1-shaped documents and embeddings; the
  * table layer does no work. The run seed picks nothing: corpus and gate
  * order are fixed, so every run is checked against the same pins, and
  * which plans Spark's status store retains at run end (part of
  * `heap_retained_mb`) does not depend on the seed.
  */
final class PipelineBatch(b: Bench) {
  import b.{spark, tracer}
  private val gates: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("d03_minhash_lsh", "x26_doc_keywords", "p05_crawl_curation", "s07_ann_ivf_pq")
      .map(n => n -> graft.SparkEntry.queries(n))

  private def pass(idx: Int, timed: Boolean): Unit = {
    val t0 = Clock.now()
    gates.foreach { case (name, fn) =>
      b.op(name, idx, timed) {
        graft.GraftSession.withExecConfs(spark, graft.SparkEntry.executionConfs.getOrElse(name, Map.empty)) {
          b.fingerprint(tracer.span(s"operators.$name")(fn(spark, b.data)))
        }
      }()
    }
    b.group("pass", idx, timed, t0, Clock.now())
  }

  def run(): Unit = {
    b.makeCorpus(Set("documents", "embeddings"))
    b.timeSetup {
      tracer.span("sources.load") { Tables.documents(spark, b.data).count(); Tables.embeddings(spark, b.data).count() }
      pass(-1, timed = false)
    }
    b.startWindow()
    var p = 0
    while (b.windowLeft || p == 0) {
      pass(p, timed = true)
      p += 1
    }
    b.endWindow()
    b.calibrate()
    val pins = sys.env.get("GRAFTBENCH_PINS").map(f => scala.util.Using.resource(scala.io.Source.fromFile(f))(
      _.getLines().map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap)).getOrElse(Map.empty)
    b.ops.foreach { o =>
      pins.get(o.kind) match {
        case Some(want) => b.check(o, want)
        case None => if (o.err.isEmpty) o.err = Some(s"check: no pinned fingerprint for ${o.kind}")
      }
    }
    b.info("fingerprints") = Json.obj(b.ops.filter(_.group == -1).map(o => o.kind -> Json.str(o.fp)).toSeq: _*)
    b.info("pinned") = pins.size.toString
  }
}
