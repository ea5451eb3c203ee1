package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.ops.TextAnalysis

/** Runtime stage gate (r17 verdict item 4): the round's
  * two biggest performance findings — AQE's byte-based coalesce
  * folding a df²-expanding pair join into ONE task, and sub-splittable
  * single-file scans serializing CPU kernels — are RUNTIME pathologies
  * invisible to every plan-shape gate in PlanQualitySpec (the
  * partition count is a runtime decision). This gate runs declared
  * queries under a [[StageCollector]] and FAILS when any stage runs
  * single-task while burning more CPU than `cpuThreshold` — the
  * signature of a parallelizable stage that got serialized.
  *
  * The gate is proven live by `--seed`: it re-creates the exact
  * pre-r17 x103 shape (pair join with NO explicit block repartition,
  * so AQE re-coalesces the id-sized exchange under the expansion) and
  * expects the gate to go RED on it. `StageGateSpec` pins both
  * directions (red on seed, green on the shipped x103) at sf0.01 with
  * a scaled threshold on every `sbt test`.
  *
  * Usage:
  *   runMain graft.tools.StageGate <sfDir>            # gate the N slowest
  *   runMain graft.tools.StageGate <sfDir> --seed     # prove the gate trips
  *   runMain graft.tools.StageGate <sfDir> q1 q2 ...  # gate specific queries
  * Exit 1 on violation (or, under --seed, on NO violation).
  */
object StageGate {

  final case class Violation(query: String, stageId: Int, tasks: Int,
      cpuSec: Double)

  /** Single-task hot stages that are GENUINE by construction — a
    * declared single-partition publish, not a serialization bug.
    * Empty as of r18: the r17 serial-scan sweep left no such stage in
    * any declared query; additions need a justification comment.
    */
  val Allowlist: Set[String] = Set.empty

  /** Run each query into a noop sink and return every stage that ran
    * single-task with > `cpuThreshold` seconds of CPU. Each query gets
    * one discarded WARM-UP execution first: `executorCpuTime` counts
    * JIT compilation, so a cold single-task publish stage can read 3×
    * its steady-state CPU and trip the gate spuriously — the gate
    * audits the warm profile, like the bench audits warm runs.
    */
  def audit(spark: SparkSession, names: Seq[String],
      cpuThreshold: Double,
      runner: String => DataFrame): Seq[Violation] = {
    val collector = new StageCollector(spark)
    try names.filterNot(Allowlist.contains).flatMap { name =>
      runner(name).write.mode("overwrite").format("noop").save()
      collector.drain() // flush + discard the cold run's stages
      runner(name).write.mode("overwrite").format("noop").save()
      collector.drain().collect {
        case r if r.tasks == 1 && r.cpu > cpuThreshold =>
          Violation(name, r.id, r.tasks, r.cpu)
      }
    } finally collector.close()
  }

  /** The pre-r17 x103 pair-join shape: identical inverted-index pair
    * generation but WITHOUT the explicit block-keyed repartition, so
    * AQE's byte-based coalescing (blind to the join's df²-fold row
    * expansion) folds pair generation + partial aggregate into one
    * task. Exists ONLY to prove the gate trips; never a declared
    * query.
    */
  def seededRegression(spark: SparkSession, dir: String): DataFrame =
    seededShape(spark.read.parquet(s"$dir/documents.parquet"))

  /** The seeded shape over an arbitrary documents frame (the spec runs
    * it on a synthetic one-block corpus engineered for pair expansion).
    */
  def seededShape(docs: DataFrame): DataFrame = {
    val sets = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("id"), col("source").as("block"),
        explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("tok"))
      .localCheckpoint(eager = false)
    sets.toDF("a_id", "block", "tok")
      .join(sets.toDF("b_id", "block", "tok"), Seq("block", "tok"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .groupBy().agg(sum("shared").as("total"))
  }

  /** Run `body` under the bench-scale pair-join shape, then restore
    * the session's confs. At deployment scale the pair sides are far
    * above any broadcast threshold, so the pathology lives in a SHUFFLE
    * join; at fixture scale AQE would broadcast the ~3 MB side and
    * sidestep it, so auto-broadcast is off. The single-task fold itself
    * depends on the exchange's COMPRESSED bytes vs AQE's min partition
    * size (the fixture's ~3 MB exchange lands within jitter of the 1 MB
    * default — 1 vs 3 post-coalesce partitions across runs), so the
    * coalesce floor is pinned above the exchange size: exactly the
    * original x103 manifestation, made deterministic. `--seed` and
    * StageGateSpec both run under it.
    */
  def withSeedShape[A](spark: SparkSession)(body: => A): A = {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8m")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The N slowest declared queries per the last full bench artifact
    * (falls back to the known-heavy dedup/CC family when no artifact
    * exists on disk).
    */
  def slowestDeclared(n: Int): Seq[String] = {
    val fallback = Seq("x103_containment", "x113_containment_capped",
      "x110_dedup_recall", "x112_dedup_recall_sampled", "x126_cluster_reps",
      "x54_leakage_split", "x33_dedup_clusters", "x48_dedup_rate",
      "x100_exact_substr", "x75_folded_curate", "x12_neardup_pairs",
      "x34_contamination")
    val f = new java.io.File("bench_last.json")
    if (!f.exists()) fallback.take(n)
    else {
      val txt = java.nio.file.Files.readString(f.toPath)
      val row = """"([a-zA-Z0-9_]+)":(-?\d+\.?\d*)""".r
      val times = row.findAllMatchIn(txt).collect {
        case m if graft.SparkEntry.queries.contains(m.group(1)) =>
          m.group(1) -> m.group(2).toDouble
      }.toSeq
      if (times.isEmpty) fallback.take(n)
      else times.sortBy(-_._2).take(n).map(_._1)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir0 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rest = args.drop(1).toSeq
    val spark = Sessions.local("graft-stage-gate")
    // gate on the DECLARED bench fixture shape (Bench's multipart
    // mirror of a single-file dir) — single-file serial scans are the
    // rescue path's regression fixture, not the deployment shape
    val dir =
      if (graft.sources.MultipartFixture.isSingleFile(dir0))
        graft.sources.MultipartFixture.mirror(spark, dir0)
      else dir0
    val threshold = 0.5
    try {
      if (rest.contains("--seed")) {
        val vs = withSeedShape(spark) {
          audit(spark, Seq("seeded_x103_shape"), threshold,
            _ => seededRegression(spark, dir))
        }
        vs.foreach(v => println(
          f"[gate] SEED stage=${v.stageId} tasks=1 cpu=${v.cpuSec}%.2f s"))
        if (vs.nonEmpty) {
          println("[gate] seed proof OK: gate goes RED on the pre-r17 shape")
        } else {
          println("[gate] SEED FAILED TO TRIP — gate is not live")
          sys.exit(1)
        }
      } else {
        val names =
          if (rest.contains("--all")) graft.SparkEntry.queries.keys.toSeq.sorted
          else if (rest.nonEmpty) rest
          else slowestDeclared(12)
        val vs = audit(spark, names, threshold,
          n => graft.SparkEntry.queries(n)(spark, dir))
        vs.foreach(v => println(f"[gate] VIOLATION ${v.query} " +
          f"stage=${v.stageId} tasks=1 cpu=${v.cpuSec}%.2f s"))
        if (vs.isEmpty) {
          println(s"[gate] green: ${names.size} queries, no single-task " +
            f"stage over $threshold%.1f s CPU")
        } else sys.exit(1)
      }
    } finally spark.stop()
  }
}
