package graftbench

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Minimal JSON emitter for the run artifact. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the millisecond timestamps Spark puts on job events.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** Hadoop FileSystem counters summed over every scheme. In local mode the
  * executors share the driver JVM, so task reads are included.
  */
object FsStats {
  final case class Snap(readOps: Long, bytesRead: Long, writeOps: Long, bytesWritten: Long) {
    def -(o: Snap): Snap =
      Snap(readOps - o.readOps, bytesRead - o.bytesRead, writeOps - o.writeOps, bytesWritten - o.bytesWritten)
  }
  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Snap(all.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum, all.map(_.getBytesRead).sum,
      all.map(_.getWriteOps.toLong).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Spans, Spark listener events and file-system counters of a traced run.
  *
  * With `enabled` false every method is a pass-through: the untraced run
  * registers no listener and never drains the bus. With it on, each span
  * records (id, parent, op, name, start, end); each op drains the
  * listener bus before it closes, so every job, task and query-execution
  * event of op i is attributed to op i and never to op i+1. Between
  * [[endOp]] and [[endProbes]] the trace-only probes of op i run: their
  * spans and events keep op id i but carry `probe` true, and its
  * file-system delta is taken before them.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, probe: Boolean, name: String, t0: Double,
      t1: Double)
  final class Job(val id: Int, val op: Int, val probe: Boolean, val start: Long) {
    var end: Long = -1L
    var stages, tasks = 0
    var cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  }
  final class Plan(val op: Int, val probe: Boolean) {
    var analysis, optimization, planning = 0.0
    var numFiles, scanRows = 0L
  }

  @volatile private var curOp = -1
  @volatile private var probing = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  private val plans = mutable.ArrayBuffer[Plan]()
  private val opFs = mutable.LinkedHashMap[Int, FsStats.Snap]()
  private var fsAtOp: FsStats.Snap = _

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val j = new Job(e.jobId, curOp, probing, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = plans.synchronized {
      val p = new Plan(curOp, probing)
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      p.analysis = ms("analysis"); p.optimization = ms("optimization"); p.planning = ms("planning")
      scans(qe.executedPlan).foreach { s =>
        s.metrics.get("numFiles").foreach(m => p.numFiles += m.value)
        s.metrics.get("numOutputRows").foreach(m => p.scanRows += m.value)
      }
      plans += p
    }
    /** File-scan leaves, looking through adaptive and query-stage wrappers. */
    private def scans(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case p if p.children.isEmpty => if (p.metrics.contains("numFiles")) Seq(p) else Nil
      case p => p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def drain(): Unit = if (enabled) BusBridge.drain(spark.sparkContext)

  /** Marks the start of op `id`; later events belong to it until [[endOp]]. */
  def beginOp(id: Int): Unit = if (enabled) {
    drain()
    curOp = id
    fsAtOp = FsStats.snap()
  }

  /** Closes the op's event window; later events are its probes'. */
  def endOp(): Unit = if (enabled) {
    drain()
    opFs(curOp) = FsStats.snap() - fsAtOp
    probing = true
  }

  /** Closes the probe window: later events belong to no op. */
  def endProbes(): Unit = if (enabled) {
    drain()
    probing = false
    curOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = if (stack.isEmpty) -1 else stack.top
      spans += Span(id, parent, curOp, probing, name, Clock.now(), Double.NaN)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(t1 = Clock.now())
      }
    }

  /** One 1-task Spark job: the per-action floor on this box. */
  def floorMs(): Double = {
    val t0 = Clock.now()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    Clock.now() - t0
  }

  def toJson: String = {
    drain()
    val js = jobs.synchronized(jobs.values.toList).map { j =>
      Json.obj("id" -> j.id.toString, "op" -> j.op.toString, "probe" -> j.probe.toString,
        "start" -> j.start.toString,
        "end" -> j.end.toString, "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString, "input_bytes" -> j.inputBytes.toString,
        "shuffle_read_bytes" -> j.shuffleRead.toString, "shuffle_write_bytes" -> j.shuffleWrite.toString,
        "spill_bytes" -> j.spill.toString)
    }
    val ps = plans.synchronized(plans.toList).map { p =>
      Json.obj("op" -> p.op.toString, "probe" -> p.probe.toString, "analysis_ms" -> Json.num(p.analysis),
        "optimization_ms" -> Json.num(p.optimization), "planning_ms" -> Json.num(p.planning),
        "num_files" -> p.numFiles.toString, "scan_rows" -> p.scanRows.toString)
    }
    val ss = spans.map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "probe" -> s.probe.toString,
        "name" -> Json.str(s.name), "t0" -> Json.num(s.t0), "t1" -> Json.num(s.t1))
    }
    val fs = opFs.map { case (op, f) =>
      Json.obj("op" -> op.toString, "read_ops" -> f.readOps.toString, "bytes_read" -> f.bytesRead.toString,
        "write_ops" -> f.writeOps.toString, "bytes_written" -> f.bytesWritten.toString)
    }
    Json.obj("jobs" -> Json.arr(js), "plans" -> Json.arr(ps), "spans" -> Json.arr(ss),
      "fs" -> Json.arr(fs))
  }
}
