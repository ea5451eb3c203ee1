package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM over generated inputs (`--data`, one
  * file per table; `--mirror`, the same tables multi-part): runs a
  * discarded cold pass that is also the untimed output check of every
  * op, then `--passes` closed-loop timed passes (one client, each op
  * starts when the previous one returned). With `--trace 1` two
  * untraced timed passes are followed by two under [[Tracer]], and
  * the per-layer metrics, the tracing overhead and the self-checks are
  * reported as well.
  *
  * Usage: Main --workload W --data DIR --mirror DIR --work DIR --seed N
  *   --passes K --trace 0|1 --cores N --out FILE --spans FILE
  * Results go to `--out` as JSON; the caller derives the metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = session(cores, work)
    try {
      val result = run(spark, workload, opt("data"), opt("mirror"), work,
        seed, passes, traced, cores, opt("spans"))
      Files.writeString(Paths.get(opt("out")), Json.encode(result))
    } finally spark.stop()
  }

  /** The repository Bench main's session settings, at `cores` cores,
    * with Spark's scratch space inside the run's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "131072")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Resident high-water mark of this JVM, from /proc (Linux). */
  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  /** First stack frame of the program (or of this harness) in the
    * exception's cause chain, falling back to the top frame.
    */
  def firstAppFrame(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val frames = chain.flatMap(_.getStackTrace)
    frames.find(_.getClassName.startsWith("graft."))
      .orElse(frames.find(_.getClassName.startsWith("perfbench.")))
      .orElse(frames.headOption).map(_.toString).getOrElse("<no frame>")
  }

  def failure(op: String, stage: String, e: Throwable): Map[String, Any] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Map("op" -> op, "stage" -> stage, "exception" -> e.getClass.getName,
      "root_cause" -> root.getClass.getName,
      "message" -> String.valueOf(root.getMessage).take(300),
      "frame" -> firstAppFrame(e))
  }

  private def opRecord(name: String, wallS: Double, out: OpOut,
      ok: Boolean): Map[String, Any] =
    Map("name" -> name, "wall_s" -> wallS, "ok" -> ok,
      "pages" -> out.pages, "page_bytes" -> out.pageBytes,
      "footer_ms" -> out.footerMs, "write_s" -> out.writeS,
      "write_bytes" -> out.writeBytes, "files_written" -> out.filesWritten,
      "source_bytes" -> out.sourceBytes)

  def run(spark: SparkSession, workload: String, data: String,
      mirror: String, work: String, seed: Long, passes: Int,
      traced: Boolean, cores: Int, spansPath: String): Map[String, Any] = {
    val failures = ArrayBuffer[Map[String, Any]]()

    val ctx = new Ctx(spark, data, mirror, work)
    val ops = Workloads.ops(workload, ctx, seed)

    var executions = 0
    def runOp(op: Op, stage: String, phases: Phases): (Double, OpOut, Boolean) = {
      executions += 1
      val t0 = System.nanoTime()
      try {
        val out = op.run(phases)
        ((System.nanoTime() - t0) / 1e9, out, true)
      } catch {
        case e: Throwable =>
          failures += failure(op.name, stage, e)
          ((System.nanoTime() - t0) / 1e9, OpOut(), false)
      }
    }

    // the discarded cold pass is the output check: each op's check runs
    // the same call once and keeps what the check needs
    val coldT0 = System.nanoTime()
    val checks = ops.map { op =>
      executions += 1
      op.name -> (try op.check() + ("kind" -> op.kind)
      catch {
        case e: Throwable =>
          failures += failure(op.name, "check", e)
          Map[String, Any]("kind" -> op.kind, "error" -> true)
      })
    }.toMap
    val coldS = (System.nanoTime() - coldT0) / 1e9
    val uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val timed = ArrayBuffer[Map[String, Any]]()
    def untracedPass(): Double = {
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val recs = ops.map { op =>
        val (w, out, ok) = runOp(op, "timed", Untraced)
        opRecord(op.name, w, out, ok)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      timed += Map("wall_s" -> wall,
        "cpu_s" -> (processCpuNs() - cpu0) / 1e9, "ops" -> recs)
      wall
    }
    // a traced run times two untraced passes, the second being the base
    // of the tracing overhead, and then its traced passes
    val untracedWalls = (1 to (if (traced) 2 else passes)).map(_ =>
      untracedPass())

    val trace: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val tracer = new Tracer(spark)
        var opId = 0L
        val tracedPasses = ArrayBuffer[Seq[(OpOut, Tracer.OpTrace)]]()
        try {
          (0 until 2).foreach { pass =>
            tracedPasses += ops.map { op =>
              opId += 1
              executions += 1
              try tracer.traceOp(opId, op.name, pass)(op.run)
              catch {
                case e: Throwable =>
                  failures += failure(op.name, "traced", e)
                  (OpOut(), Tracer.OpTrace(opId, op.name, pass, 0L, 0.0, 0.0,
                    0.0, 0.0, Vector.empty, Vector.empty, Vector.empty, 0))
              }
            }
          }
        } finally tracer.close()
        val layers = Layers.metrics(tracedPasses.toSeq, cores)
        val tracedWall =
          Layers.median(tracedPasses.map(_.map(_._2.wallS).sum).toSeq)
        val repeat = Layers.repeatCheck(tracedPasses(0), tracedPasses(1))
        val recon = tracedPasses.flatten.map(_._2).filter(_.wallS > 0)
        val worst = recon.maxByOption(t => math.abs(t.residueShare))
        Spans.write(spansPath, tracedPasses.toSeq)
        layers ++ Layers.kernels(spark, data, seed) ++ Map(
          "trace.overhead_s" -> (tracedWall - untracedWalls.last),
          "trace.nonrepeating_counts" -> repeat.size.toDouble,
          "trace.max_residue_share" ->
            worst.map(t => math.abs(t.residueShare)).getOrElse(0.0),
          "_nonrepeating" -> repeat,
          "_worst_residue_op" -> worst.map(_.name).getOrElse(""))
      }

    Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s_jvm" -> uptimeS,
      "cold_pass_s" -> coldS, "passes" -> timed, "failures" -> failures,
      "executions" -> executions,
      "checks" -> checks, "peak_rss_mb" -> peakRssMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "ops" -> ops.map(o => Map("name" -> o.name, "kind" -> o.kind)),
      "trace" -> trace)
  }
}
