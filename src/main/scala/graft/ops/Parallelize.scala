package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.CodegenSupport
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Degenerate-scan rescue for CPU-bound kernels (r17, found by a
  * per-stage task/CPU audit): a single small Parquet file with one
  * row group is INDIVISIBLE — `maxPartitionBytes` cannot split inside
  * a row group — so a scan of it yields ONE partition and every
  * expensive per-row kernel downstream (MinHash signatures, shingle
  * md5, image decode) serializes on one core. That is exactly the
  * single-file fixture shape (FIXTURES.md), and the audit showed it
  * costing 1.3–3.4 s of single-core wall in every dedup-family row.
  *
  * `ensure` repartitions to session parallelism ONLY when the input is
  * a scan-shaped (exchange-free) plan whose PLANNED leaf splits are
  * deficient. At deployment scale the scan has thousands of splits and
  * this is a no-op — the id-only-shuffle scale story is untouched; on
  * a degenerate input the one-time round-robin exchange (the only
  * place document text ever moves) is strictly cheaper than running
  * the kernel serially.
  *
  * Probe discipline (r17 ADVICE + verdict item 7): the partition count
  * is read from the PLANNED physical scan splits
  * (`queryExecution.executedPlan` leaf `inputRDDs`), never from
  * `Dataset.rdd` — under AQE, instantiating the lineage RDD of a plan
  * with exchanges executes every upstream shuffle stage eagerly at
  * probe time, and that work is not reused by the real query. Plans
  * containing ANY exchange (equivalently: wrapped in
  * `AdaptiveSparkPlanExec`, which AQE applies exactly when exchanges
  * or subqueries exist) pass through untouched — their parallelism is
  * already governed by `spark.sql.shuffle.partitions` and AQE, not by
  * file splits, so the rescue has nothing to fix there. Leaf-only RDD
  * instantiation (a file listing / local-rows wrap) runs no job.
  * Streaming frames also pass through: micro-batch partitioning is the
  * source's concern.
  */
object Parallelize {
  def ensure[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.isStreaming) ds
    else {
      val n = ds.sparkSession.sparkContext.defaultParallelism
      plannedScanPartitions(ds) match {
        case Some(parts) if parts < n => ds.repartition(n)
        case _ => ds
      }
    }
  }

  /** Planned partition count of an exchange-free (scan-shaped) plan:
    * the max over leaf scans' planned input splits. `None` (= leave
    * the input untouched) for adaptive/exchange-bearing plans and for
    * any leaf whose splits aren't statically knowable.
    */
  private def plannedScanPartitions[T](ds: Dataset[T]): Option[Int] = {
    val plan = ds.queryExecution.executedPlan
    plan match {
      case _: AdaptiveSparkPlanExec => None
      case p if p.collectFirst { case e: Exchange => e }.isDefined => None
      case p =>
        val counts = p.collectLeaves().map {
          // leaf RDD construction is metadata-only (file listing /
          // local-rows wrap) — no job runs for any of these
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            scala.util.Try(f.inputRDD.getNumPartitions).toOption
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
            scala.util.Try(b.inputRDD.getNumPartitions).toOption
          case c: CodegenSupport =>
            scala.util.Try(c.inputRDDs().map(_.getNumPartitions).sum)
              .toOption
          case l: org.apache.spark.sql.execution.LeafExecNode =>
            scala.util.Try(l.execute().getNumPartitions).toOption
          case _ => None
        }
        if (counts.isEmpty || counts.exists(_.isEmpty)) None
        else Some(counts.flatten.max)
    }
  }
}
