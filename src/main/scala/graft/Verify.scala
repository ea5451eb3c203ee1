package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // dev iteration: trailing args narrow the dump to named queries
    // (the driver passes exactly two args and dumps everything)
    val wanted: String => Boolean =
      if (rest.isEmpty) _ => true else rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val dumped = scala.collection.mutable.Set[String]()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += name
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.describe(e)}")
      }
    }
    // full JSON escape: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    import Bench.{jsonString => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing no-oracle rows (r18 verdict item 4): each
    // rows-only sketch query gets a sidecar entry naming its
    // oracle-GREEN portable twin (TwinCoverageSpec pins the map
    // total), whether that twin was dumped this run, the actual row
    // count of THIS dump, and the multi-round sf0.01 constant it is
    // expected to hold (stable r15–r18) — so a CORRECTNESS reader can
    // adjudicate a no-oracle row from the artifact alone.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val twinJson = rowsOnly.toSeq.sorted
      .filter(n => wanted(n) && dumped.contains(n))
      .map { name =>
        val twin = graft.queries.ExtensionCatalog.portableTwins.get(name)
        val rows =
          try spark.read.parquet(s"$outDir/$name").count()
          catch { case _: Throwable => -1L }
        val expected = graft.queries.ExtensionCatalog.noOracleRowsSf001
          .get(name)
        Seq(
          Some(s"${q("twin")}: ${twin.map(q).getOrElse("null")}"),
          Some(s"${q("twin_green")}: " +
            twin.exists(t => dumped.contains(t) &&
              SparkEntry.oracleSql.contains(t)).toString),
          Some(s"${q("spark_rows")}: $rows"),
          expected.map(e => s"${q("expected_rows_sf001")}: $e"),
          // the row-count constant is an sf0.01 fact (the driver's
          // Verify SF); at any other dev SF the comparison is vacuous.
          // rows < 0 is a parquet READBACK failure, not a behavior
          // change (r19 ADVICE) — a distinct marker keeps a transient
          // read error from being adjudicated as drift
          expected.filter(_ => sfDir.contains("sf0.01"))
            .map(e => s"${q("rows_stable_since")}: " +
              (if (rows < 0) q("READ_FAILED")
               else if (rows == e) q("r15") else q("DRIFTED")))
        ).flatten.mkString(s"${q(name)}: {", ", ", "}")
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_twins.json"), twinJson)
    spark.stop()
  }
}
