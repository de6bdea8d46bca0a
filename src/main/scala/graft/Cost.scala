package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** What one call cost the engine, as [[Cost.of]] measures it: its wall
  * time; the Spark jobs, stages and tasks it launched; `jobSec`, the time
  * at least one of its jobs was running (the union of their intervals);
  * the shuffle and spill bytes its tasks reported; the generated classes
  * it compiled ([[Compiles]]) and the file-system calls it made
  * ([[FsCalls]]). `driverGap` is the rest of the wall time: planning,
  * metadata work and commit I/O on the driver. Counts are deterministic
  * for a given session history and safe to pin in tests; times are not.
  */
final case class Cost(wallSec: Double, jobs: Long, stages: Long, tasks: Long,
    jobSec: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, compiles: Compiles, fs: FsCalls) {
  def driverGap: Double = wallSec - jobSec

  override def toString: String =
    f"wall=$wallSec%.3fs jobs=$jobs stages=$stages tasks=$tasks jobSec=$jobSec%.3f " +
      f"driverGap=$driverGap%.3f shuffle=$shuffleReadBytes/$shuffleWriteBytes " +
      f"spill=$spillBytes compiles=${compiles.count} compileMs=${compiles.ms}%.0f fs: $fs"
}

object Cost {

  /** `body`'s result and its [[Cost]]. The listener bus is drained before
    * and after `body` (outside its wall time), so every event of an
    * earlier call is delivered first and every event of this one is
    * counted. Calls may nest; each counts everything that ran inside it.
    */
  def of[A](spark: SparkSession)(body: => A): (A, Cost) = {
    val l = listener(spark.sparkContext)
    Bridge.drainListenerBus(spark)
    val (c0, fs0, n0) = (Compiles.now(), FsCalls.now(), l.totals())
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val (c, fs) = (Compiles.now() - c0, FsCalls.now() - fs0)
    Bridge.drainListenerBus(spark)
    val d = l.totals().zip(n0).map { case (a, b) => a - b }
    // job events carry millisecond times: clip their union to the wall time
    (r, Cost(wall, d(0), d(1), d(2), math.min(d(3) / 1e3, wall), d(4), d(5), d(6), c, fs))
  }

  // one listener per SparkContext, added the first time a call is measured on it
  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]()

  private def listener(sc: SparkContext): Listener = listeners.synchronized {
    listeners.computeIfAbsent(sc, _ => { val l = new Listener; sc.addSparkListener(l); l })
  }

  /** Running totals since the listener was added: jobs, stages, tasks,
    * ms with at least one job running, shuffle read, shuffle write and
    * spill bytes. `SPARK_GRAFT_PROF_JOBS` names every job on stderr (id,
    * stage count, call site, description) and its duration when it ends.
    */
  private final class Listener extends SparkListener {
    private val nameJobs = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    private val sums = Array.fill(7)(0L)
    private val starts = mutable.HashMap.empty[Int, Long]
    private var busySince = 0L

    def totals(): Array[Long] = synchronized(sums.clone())

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      sums(0) += 1
      if (starts.isEmpty) busySince = e.time
      starts(e.jobId) = e.time
      if (nameJobs) {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val desc = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        System.err.println(s"[job] ${e.jobId} stages=${e.stageInfos.size} $site | $desc")
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (s <- starts.remove(e.jobId)) {
        if (starts.isEmpty) sums(3) += e.time - busySince
        if (nameJobs) System.err.println(f"[jobend] ${e.jobId} ${(e.time - s) / 1e3}%.3f s")
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { sums(1) += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      sums(2) += 1
      for (m <- Option(e.taskMetrics)) {
        sums(4) += m.shuffleReadMetrics.totalBytesRead
        sums(5) += m.shuffleWriteMetrics.bytesWritten
        sums(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
