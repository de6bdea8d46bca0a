package graft

import org.apache.spark.sql.functions.{col, max, struct, xxhash64}

/** Time a subset of SparkEntry queries at an arbitrary sf (ad-hoc).
  * Uses the same hash-all-columns action as [[Bench]] (value-dependent,
  * nothing prunable); `SPARK_GRAFT_EXPLAIN=1` additionally prints each
  * query's formatted physical plan to stderr before running it.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    for (name <- args; fn <- SparkEntry.queries.get(name)) {
      // same prewarm + per-gate exec-conf discipline as Bench: one-time
      // fixture builds (q23's bucketed write) run before any timed rep
      // and are printed separately, never inside a rep's timing
      SparkEntry.prewarms.get(name).foreach { pw =>
        val t0 = System.nanoTime()
        pw(spark, sfDir)
        println(f"[benchone] $name prewarm ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      GraftSession.withExecConfs(spark,
        SparkEntry.executionConfs.getOrElse(name, Map.empty)) {
      val out = fn(spark, sfDir)
      // The timed action is hashed.head() — collecting the max hash keeps
      // the value referenced so nothing upstream is prunable, and the
      // explained plan below IS the plan executed (r17 ADVICE #2: the old
      // count() re-optimized to a different, hash-free plan than the one
      // explained, which is how the pruning hole evaded the explain check).
      val hashed = out.select(xxhash64(struct(out.columns.map(col): _*)).as("h"))
        .agg(max(col("h")))
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        System.err.println(hashed.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      for (rep <- 1 to 2) {
        val t0 = System.nanoTime()
        val h = hashed.head()
        // the max hash doubles as a cheap run-to-run result fingerprint
        val fp = if (h.isNullAt(0)) "null" else h.getLong(0).toHexString
        println(f"[benchone] $name rep$rep hash=$fp ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      }
    }
    spark.stop()
  }
}
