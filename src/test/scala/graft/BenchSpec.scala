package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The gate harness's contract: Bench's compact stdout line keeps exactly
  * the keys the driver parses, and every raw `layers` row carries the
  * gate's layer split and a result hash that repeats across reps.
  */
class BenchSpec extends SparkSpec {
  private val gates = Set("q01_pricing_summary", "t03_snapshots_history")

  test("a bench run keeps the stdout keys and gives every gate a layer-split row") {
    val run = Bench.runGates(spark, sf, Some(gates), reps = 2)
    assert(run.gates.map(_.name).toSet == gates)
    assert(run.gates.forall(_.error.isEmpty), run.gates.flatMap(_.error))
    val mapper = new ObjectMapper()
    val (rawLine, compactLine) = Bench.json(run, "bench_raw.json")
    val compact = mapper.readTree(compactLine)
    assert(compact.fieldNames.asScala.toSet == Set("metric", "value", "unit", "queries",
      "families", "n_queries", "n_errors", "calibration", "detail", "sf"))
    assert(compact.get("n_queries").asInt == 2 && compact.get("n_errors").asInt == 0)
    val raw = mapper.readTree(rawLine)
    for (g <- run.gates) {
      val row = raw.get("layers").get(g.name)
      for (k <- Seq("jobs", "stages", "tasks", "jobSec", "driverGap", "compiles", "compileMs", "hash"))
        assert(row.has(k), s"${g.name} row has no $k: $row")
      assert(row.get("jobs").asLong > 0, s"${g.name}: $row")
      assert(row.get("jobSec").asDouble <= raw.get("queries").get(g.name).asDouble, s"${g.name}: $row")
      assert(g.reps.size == 2 && g.reps.forall(r => r.cost.jobSec <= r.cost.wallSec), g)
      assert(g.reps.map(_.hash).distinct == Seq(row.get("hash").asText), g)
    }
  }
}
