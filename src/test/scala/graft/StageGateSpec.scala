package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.tools.StageGate

/** Proves the [[graft.tools.StageGate]] runtime gate is LIVE in both
  * directions (r17 verdict item 4) on a synthetic one-block corpus
  * engineered for pair expansion — the exact class the gate exists to
  * catch: AQE's byte-based coalescing is blind to a join's df²-fold
  * row expansion, so the id-sized exchange feeding the pair join gets
  * folded into ONE task.
  *
  *  - RED on the seeded pre-r17 x103 shape (no explicit repartition):
  *    the pair stage runs single-task with hot CPU.
  *  - GREEN on the shipped [[Dedup.containmentTopHost]] over the SAME
  *    corpus: with one block (< session parallelism), the r18 salt
  *    fallback spreads the pair join across the session, so no
  *    single-task stage is hot — this simultaneously pins the r17
  *    ADVICE block-cardinality fallback.
  */
class StageGateSpec extends SparkSpec {
  import spark.implicits._

  // One block; every doc carries 900 SHARED tokens (join volume
  // 100² pairs × 900 tokens ≈ 9M joined rows — hot when serialized on
  // one core) plus 1050 UNIQUE tokens, so containment = 900/1950 ≈
  // 0.46 < 0.5 and the post-join publish stages are near-EMPTY: the
  // only stage that can possibly be single-task-hot is the pair join
  // itself, which is exactly what the gate discriminates on.
  //
  // Sizing (r19): at the original 300-token volume the seeded stage's
  // CPU ASYMPTOTES to ~0.26 s under full-suite JIT warmth (measured
  // over 8 iterations) — straddling the 0.3 s threshold, so the red
  // test stayed a coin flip in `sbt test` even after the AQE pin
  // below. At 900 tokens the warm asymptote is 0.67–0.93 s: a ≥2×
  // margin however hot the JIT.
  private lazy val corpus = {
    val shared = (0 until 900).map(i => s"s$i").mkString(" ")
    (0 until 100).map { i =>
      val unique = (0 until 1050).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$shared $unique", "b0")
    }.toDF("doc_id", "text", "source")
  }

  private val threshold = 0.3 // seconds of CPU; sf-scaled from the 0.5 s bench gate

  // both directions run under the bench-scale pair-join shape the CLI
  // `--seed` proof uses (r18 verdict item 1: without its coalesce-floor
  // pin the red-direction proof was non-deterministic in CI)
  test("gate goes RED on the seeded pre-r17 pair-join shape") {
    val vs = StageGate.withSeedShape(spark) {
      StageGate.audit(spark, Seq("seed"), threshold,
        _ => StageGate.seededShape(corpus))
    }
    assert(vs.nonEmpty,
      "seeded single-task expansion must trip the gate")
  }

  test("gate stays GREEN on shipped containmentTopHost (salt fallback)") {
    val vs = StageGate.withSeedShape(spark) {
      StageGate.audit(spark, Seq("shipped"), threshold,
        _ => Dedup.containmentTopHost(corpus, "doc_id", "text", "source",
          minContainment = 0.5))
    }
    assert(vs.isEmpty, s"violations: $vs")
  }
}
