package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains share (Bench, PlanAudit, StageGate,
  * ScaleFixture, InspectorCli), so a plan or stage seen in one of them
  * reproduces in the others. `SPARK_GRAFT_CPUS` (default 32) sets both
  * the local cores and the shuffle partitions. Verify keeps its own
  * builder: its oracle-compared double sums depend on its partitioning.
  */
object Sessions {
  /** AQE's coalescer merges post-shuffle partitions up to
    * minPartitionSize (default 1 MiB) even when the rows carry
    * CPU-heavy work — on this suite that serialized whole
    * window/sort/verify stages onto 1-4 cores (q25's 100k-event session
    * window ran as ONE task). 128 KiB keeps small-but-hot stages
    * parallel (measured: q25 0.65→0.34 s, q26 0.62→0.36, x12 1.33→0.92
    * warm mins). Scale-neutral: at deployment scale every healthy
    * partition is far above either floor and the 64 MiB advisory
    * governs.
    */
  val MinPartitionSize: Long = 131072L

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
