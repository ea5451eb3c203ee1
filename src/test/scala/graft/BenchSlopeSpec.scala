package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.slopeSuspicious]] — the r19 within-artifact run-slope
  * re-run trigger (r18 verdict item 3) — by REPLAYING the committed
  * r18 full-suite per-run arrays: the trigger must flag exactly the
  * two rows the r18 verdict adjudicated as slope-suspicious
  * (x59's monotone 1.55 → 9.24 s warm tail and q17's 0.26 → 1.70 s
  * tail) and nothing else — in particular NOT x110, whose
  * first-warm-run-high decaying shape (4.34 → 1.23 s) is residual
  * JIT, and NOT x5, whose big run was the already-discarded cold one.
  * Also pins [[Bench.describe]], the failure line Bench and Verify
  * record per failed query.
  */
class BenchSlopeSpec extends AnyFunSuite {

  private def r18Runs: Map[String, Vector[Double]] = {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_LOCAL_r18.json"))
    val runsBlock = txt.substring(txt.indexOf("\"runs\":"))
    """"([a-zA-Z0-9_]+)":\[([0-9.,\- ]*)\]""".r
      .findAllMatchIn(runsBlock)
      .collect { case m if SparkEntry.queries.contains(m.group(1)) =>
        m.group(1) ->
          m.group(2).split(",").filter(_.nonEmpty).map(_.toDouble).toVector }
      .toMap
  }

  test("replaying the r18 arrays flags exactly {q17_json, x59}") {
    val runs = r18Runs
    assert(runs.size == 243, s"expected 243 per-run arrays, got ${runs.size}")
    val flagged = runs.filter { case (_, arr) => Bench.slopeSuspicious(arr) }
      .keySet
    assert(flagged == Set("q17_json", "x59_incremental_neardup"),
      s"trigger calibration drifted: $flagged")
  }

  test("shape conditions: rising tail yes; cold spike / decay / tiny no") {
    // monotone rising warm tail (the x59 shape)
    assert(Bench.slopeSuspicious(Vector(2.0, 1.5, 1.6, 2.0, 7.0, 9.0)))
    // huge cold run, flat warm runs (the x5 shape): cold is excluded
    assert(!Bench.slopeSuspicious(Vector(30.0, 1.0, 1.1, 1.0, 1.05, 1.0)))
    // first-warm-run-high decay (the x110 shape): residual JIT
    assert(!Bench.slopeSuspicious(Vector(5.0, 4.3, 1.6, 1.3, 1.2, 1.2)))
    // sub-second jitter: ratio > 3 but immaterial
    assert(!Bench.slopeSuspicious(Vector(0.3, 0.05, 0.06, 0.05, 0.2, 0.18)))
    // too few warm runs to call a slope
    assert(!Bench.slopeSuspicious(Vector(2.0, 1.0, 9.0)))
    // failed run sentinel (-1) must never flag
    assert(!Bench.slopeSuspicious(Vector(2.0, -1.0, 1.0, 1.0, 1.0, 9.0)))
  }

  test("describe names class, one-line message and the root's graft frame") {
    val root = new IllegalArgumentException("bad\n  column")
    root.setStackTrace(Array(
      new StackTraceElement("org.apache.spark.Task", "run", "Task.scala", 9),
      new StackTraceElement("graft.ops.Dedup$", "jaccard", "Dedup.scala", 42)))
    val outer = new RuntimeException("job aborted", root)
    outer.setStackTrace(Array(
      new StackTraceElement("graft.Bench$", "run", "Bench.scala", 1)))
    assert(Bench.describe(outer) == "java.lang.RuntimeException: job aborted" +
      " @ graft.ops.Dedup$.jaccard(Dedup.scala:42)")
    assert(Bench.describe(root) == "java.lang.IllegalArgumentException: " +
      "bad column @ graft.ops.Dedup$.jaccard(Dedup.scala:42)")
    val foreign = new IllegalStateException(null: String)
    foreign.setStackTrace(Array.empty)
    assert(Bench.describe(foreign) ==
      "java.lang.IllegalStateException: null @ <no graft frame>")
  }
}
