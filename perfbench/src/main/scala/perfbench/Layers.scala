package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, VectorFunctions}
import Tracer.OpTrace

/** Per-layer metrics of the traced passes (median over passes of each
  * per-pass total), the count-repeat self-check, and the kernel timings.
  */
object Layers {
  type Pass = Seq[(OpOut, OpTrace)]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def passTotals(pass: Pass, cores: Int): Map[String, Double] = {
    val outs = pass.map(_._1)
    val ts = pass.map(_._2)
    val stages = ts.flatMap(_.stages)
    val qes = ts.flatMap(_.qes)
    val wall = ts.map(_.wallS).sum
    def st(f: Tracer.StageRec => Long): Double = stages.map(f).sum.toDouble
    val pageOps = pass.filter(_._1.pages > 0)
    val footers = outs.map(_.footerMs).filter(_ >= 0)
    val writeS = outs.map(_.writeS).sum
    val srcBytes = outs.map(_.sourceBytes).sum.toDouble
    Map(
      "queries.build_s" -> ts.map(_.buildS).sum,
      "queries.build_jobs" -> ts.map(_.buildJobs).sum.toDouble,
      "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1e3,
      "catalyst.optimizer_s" -> qes.map(_.optimizerMs).sum / 1e3,
      "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1e3,
      "catalyst.exchanges" -> ts.map(_.exchanges).sum.toDouble,
      "scheduler.jobs" -> ts.map(_.jobs.size).sum.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> st(_.tasks),
      "scheduler.task_wait_s" -> st(_.taskWaitMs) / 1e3,
      "scheduler.core_busy_share" -> ratio(st(_.runMs) / 1e3, wall * cores),
      "sources.scan_bytes" -> st(_.inBytes),
      "sources.scan_rows" -> st(_.inRecords),
      "sources.scan_files" -> qes.map(_.scanFiles).sum.toDouble,
      "sources.scan_time_s" -> qes.map(_.scanTimeMs).sum / 1e3,
      "sources.write_s" -> writeS,
      "sources.write_bytes" -> outs.map(_.writeBytes).sum.toDouble,
      "sources.files_written" -> outs.map(_.filesWritten).sum.toDouble,
      "sources.write_mb_s" -> ratio(srcBytes / 1e6, writeS),
      "sources.stored_bytes_per_input_byte" ->
        ratio(outs.map(_.writeBytes).sum.toDouble, srcBytes),
      "shuffle.write_bytes" -> st(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> st(_.shuffleReadBytes),
      "shuffle.fetch_wait_s" -> st(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> st(_.spillBytes),
      "ops.executor_cpu_s" -> st(_.cpuNs) / 1e9,
      "ops.gc_s" -> st(_.gcMs) / 1e3,
      "inspect.footer_ms" -> median(footers),
      "inspect.pages" -> outs.map(_.pages).sum.toDouble,
      "inspect.page_mb_s" -> ratio(pageOps.map(_._1.pageBytes).sum / 1e6,
        pageOps.map(_._2.wallS).sum),
      "exec.action_s" -> ts.map(_.execS).sum)
  }

  def metrics(passes: Seq[Pass], cores: Int): Map[String, Double] = {
    val totals = passes.map(passTotals(_, cores))
    totals.head.keys.map(k => k -> median(totals.map(_(k)))).toMap
  }

  /** Counts that must repeat exactly between two passes over the same
    * inputs; returns every (op, count) that did not.
    */
  def repeatCheck(a: Pass, b: Pass): Seq[Map[String, Any]] = {
    def counts(p: (OpOut, OpTrace)): Map[String, Long] = {
      val (o, t) = p
      Map("jobs" -> t.jobs.size.toLong, "stages" -> t.stages.size.toLong,
        "tasks" -> t.stages.map(_.tasks.toLong).sum, "pages" -> o.pages,
        "scan_bytes" -> t.stages.map(_.inBytes).sum,
        "files_written" -> o.filesWritten, "stored_bytes" -> o.writeBytes)
    }
    a.zip(b).flatMap { case (x, y) =>
      val (cx, cy) = (counts(x), counts(y))
      cx.keys.toSeq.sorted.filter(k => cx(k) != cy(k)).map(k =>
        Map("op" -> x._2.name, "count" -> k, "first" -> cx(k),
          "second" -> cy(k)))
    }
  }

  /** Kernel timings over the generated corpus: `setJaccardSorted` on a
    * seeded sample of token-set pairs (a fifth of them pairing the
    * shortest documents with the longest), and `minhashSig` per
    * document. Inputs are cached first, so the timing is the kernel
    * plus Spark's per-row evaluation, not the scan.
    */
  def kernels(spark: SparkSession, data: String,
      seed: Long): Map[String, Double] = {
    import spark.implicits._
    val sets = spark.read.parquet(graft.Tables.path(data, "documents"))
      .select(graft.ops.Dedup.tokenSet(col("text")).as("tok"))
      .as[Seq[String]].collect().sortBy(_.size)
    val rnd = new scala.util.Random(seed)
    val n = sets.length
    val decile = math.max(1, n / 10)
    val pairs = Seq.fill(16000)((sets(rnd.nextInt(n)), sets(rnd.nextInt(n)))) ++
      Seq.fill(4000)((sets(rnd.nextInt(decile)), sets(n - 1 - rnd.nextInt(decile))))
    val pairDf = Seq.fill(5)(pairs).flatten.toDF("a", "b").cache()
    val docDf = Seq.fill(20)(sets.toSeq).flatten.toDF("tok").cache()
    try {
      val nPairs = pairDf.count()
      val nDocs = docDf.count()
      def timeNs(run: => Unit): Double = median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); run; (System.nanoTime() - t0).toDouble
      })
      val jac = timeNs(pairDf.agg(sum(VectorFunctions.setJaccardSorted(
        col("a"), col("b")))).collect())
      val mh = timeNs(docDf.agg(bit_xor(xxhash64(HashFunctions.minhashSig(
        col("tok"), 64)))).collect())
      Map("functions.jaccard_ns_per_pair" -> jac / nPairs,
        "functions.minhash_ns_per_doc" -> mh / nDocs)
    } finally { pairDf.unpersist(); docDf.unpersist() }
  }
}

/** Writes the traced spans as JSON lines: op, its phases' jobs, and the
  * jobs' stages, all keyed by the op id.
  */
object Spans {
  def write(path: String, passes: Seq[Layers.Pass]): Unit = {
    val lines = passes.flatten.flatMap { case (out, t) =>
      val op = Map("type" -> "op", "op_id" -> t.opId, "op" -> t.name,
        "pass" -> t.pass, "start_ms" -> t.startMs, "wall_s" -> t.wallS,
        "build_s" -> t.buildS, "plan_s" -> t.planS, "exec_s" -> t.execS,
        "residue_share" -> t.residueShare, "exchanges" -> t.exchanges,
        "pages" -> out.pages, "write_bytes" -> out.writeBytes)
      val jobs = t.jobs.map(j => Map("type" -> "job", "op_id" -> t.opId,
        "job_id" -> j.id, "phase" -> j.phase, "start_ms" -> j.start,
        "end_ms" -> j.end, "stage_ids" -> j.stageIds))
      val stages = t.stages.map(s => Map("type" -> "stage",
        "op_id" -> t.opId, "job_id" -> s.job, "stage_id" -> s.id,
        "tasks" -> s.tasks, "submit_ms" -> s.submit,
        "complete_ms" -> s.complete, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "in_bytes" -> s.inBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "task_wait_ms" -> s.taskWaitMs))
      val qes = t.qes.map(q => Map("type" -> "query_execution",
        "op_id" -> t.opId, "func" -> q.funcName,
        "analysis_ms" -> q.analysisMs, "optimizer_ms" -> q.optimizerMs,
        "planning_ms" -> q.planningMs, "exchanges" -> q.exchanges,
        "scan_files" -> q.scanFiles))
      (op +: jobs) ++ stages ++ qes
    }
    Files.write(Paths.get(path),
      lines.map(Json.encode).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
}
