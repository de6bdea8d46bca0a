package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** TEMPORARY profiling probe for the r20 optimization round (not part of
  * the driver contract): runs named gates with a job listener and prints
  * per-gate wall time, Spark job count, summed job wall, and the
  * driver-side gap (wall - job wall) — the first split the optimization
  * guide asks for (where is the time: executing jobs or driver work).
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    @volatile var jobs = 0
    @volatile var jobNanos = 0L
    // boxed key/value types: a primitive-specialized map would unbox a
    // missing entry's null to 0L and corrupt jobNanos with epoch-scale
    // values on an unmatched onJobEnd (r20 ADVICE #4)
    val starts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, System.nanoTime())
        // SPARK_GRAFT_PROF_JOBS=1: name every job (callsite + description)
        // so a 50-job gate can be decomposed job by job
        if (sys.env.contains("SPARK_GRAFT_PROF_JOBS")) {
          val cs = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          val d = Option(js.properties.getProperty("spark.job.description")).getOrElse("")
          println(s"[projob] ${js.jobId} stages=${js.stageInfos.size} $cs | $d")
        }
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(Integer.valueOf(je.jobId))
        if (s != null) {
          jobs += 1
          val d = System.nanoTime() - s.longValue()
          jobNanos += d
          if (sys.env.contains("SPARK_GRAFT_PROF_JOBS"))
            println(f"[projobend] ${je.jobId} ${d / 1e9}%.3f")
        }
      }
    })

    // poor-man's driver profiler: sample the main thread's stack every 5 ms
    // and aggregate the deepest "interesting" frame (graft or spark sql)
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val frame = st.find { e =>
            val c = e.getClassName
            c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.catalyst") ||
              c.startsWith("org.apache.spark.sql.execution") ||
              c.startsWith("org.apache.parquet") || c.startsWith("org.apache.avro")
          }.map(e => s"${e.getClassName}.${e.getMethodName}").getOrElse(
            st.headOption.map(e => s"${e.getClassName}.${e.getMethodName}").getOrElse("?"))
          samples.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    for (name <- args; fn <- SparkEntry.queries.get(name)) {
      SparkEntry.prewarms.get(name).foreach(_(spark, sfDir))
      val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt
      for (rep <- 1 to reps) {
        jobs = 0; jobNanos = 0L
        samples.clear()
        // the 5 ms stack sampler forces ~200 safepoints/s and measurably
        // slows the sampled rep; SPARK_GRAFT_PROF_NOSAMPLE=1 turns it off
        // so the warm reps carry honest wall times
        sampling = rep == reps && !sys.env.contains("SPARK_GRAFT_PROF_NOSAMPLE")
        val t0 = System.nanoTime()
        GraftSession.withExecConfs(spark,
          SparkEntry.executionConfs.getOrElse(name, Map.empty)) {
          import org.apache.spark.sql.functions.{col, max, struct, xxhash64}
          val out = fn(spark, sfDir)
          val hashed = out.select(xxhash64(struct(out.columns.map(col): _*)).as("h"))
            .agg(max(col("h")))
          // plans/r20 deliverable: the formatted physical plan of the gate's
          // hashed action (the exact plan the bench times), written once
          for (dir <- sys.env.get("SPARK_GRAFT_PLANDIR") if rep == 1) {
            val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANSUFFIX", "before")
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/${name}_$suffix.txt"),
              hashed.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          hashed.head()
          ()
        }
        // listener bus is async: deliver every job event before reading
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[prof] $name rep$rep wall=$wall%.3f jobs=$jobs jobSec=${jobNanos / 1e9}%.3f driverGap=${wall - jobNanos / 1e9}%.3f")
        if (rep == reps) {
          sampling = false
          import scala.jdk.CollectionConverters._
          samples.asScala.toSeq.sortBy(-_._2).take(14).foreach { case (f, n) =>
            println(f"[prof]    ${n * 5 / 1000.0}%6.2fs  $f")
          }
        }
      }
    }
    spark.stop()
  }
}
