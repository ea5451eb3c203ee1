package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.inspect.{InspectorCli, ParquetInspector}
import graft.sources.ParquetWriterFacade
import graft.sources.ParquetWriterFacade.WriterOptions

/** Marks the phases of one op: `build` (constructing the DataFrame,
  * including any eager jobs the query's construction runs) and `action`
  * (planning and executing it, or the whole call for non-DataFrame ops).
  */
trait Phases { def apply[T](phase: String)(run: => T): T }

object Untraced extends Phases {
  def apply[T](phase: String)(run: => T): T = run
}

/** What an op reports about its own work, beside its wall time. */
final case class OpOut(pages: Long = 0L, pageBytes: Long = 0L,
    footerMs: Double = -1.0, writeS: Double = 0.0, writeBytes: Long = 0L,
    filesWritten: Long = 0L, sourceBytes: Long = 0L)

/** One call into the program's public API. `check` re-runs it untimed
  * and returns what the output check needs.
  */
final case class Op(name: String, kind: String, run: Phases => OpOut,
    check: () => Map[String, Any])

/** Input locations: `data` holds the generated single-file tables,
  * `mirror` their multi-part layout, `work` per-run outputs.
  */
final class Ctx(val spark: SparkSession, val data: String,
    val mirror: String, val work: String) {
  def single(table: String): String = graft.Tables.path(data, table)
}

object Workloads {
  val names: Seq[String] = Seq("reference_surface", "curation")

  val curationQueries: Seq[String] = Seq("x8_minhash_lsh",
    "x12_neardup_pairs", "x29_shingle_jaccard", "x33_dedup_clusters",
    "x43_portable_minhash", "x48_dedup_rate", "x50_curate",
    "x54_leakage_split", "x74_knn_neardups", "x75_folded_curate",
    "x96_curation_funnel", "x97_funnel_pack", "x103_containment",
    "x110_dedup_recall", "x126_cluster_reps")

  def referenceQueries: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted

  /** The op list of one pass. On the reference surface the seed fixes
    * the op order; a write stays ahead of its read-back and page walk.
    */
  def ops(workload: String, ctx: Ctx, seed: Long): Seq[Op] =
    workload match {
      case "reference_surface" =>
        val units = (referenceQueries.map(query(ctx, _)) ++ parserOps(ctx))
          .map(Seq(_)) ++ writerOps(ctx)
        new scala.util.Random(seed).shuffle(units).flatten
      case "curation" => curationQueries.map(query(ctx, _))
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; known: ${names.mkString(", ")}")
    }

  /** A declared query built and executed into the noop sink, as the
    * repository's Bench main runs it. The check dumps its result.
    */
  def query(ctx: Ctx, name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, "query",
      ph => {
        val df = ph("build")(fn(ctx.spark, ctx.mirror))
        ph("action")(df.write.mode("overwrite").format("noop").save())
        OpOut()
      },
      () => {
        val out = s"${ctx.work}/check/$name"
        fn(ctx.spark, ctx.mirror).coalesce(1).write.mode("overwrite")
          .parquet(out)
        Map("path" -> out, "oracle_sql" -> SparkEntry.oracleSql.get(name))
      })
  }

  /** Data-page value counts per column of one file, next to its footer
    * row count: on flat schemas every column's sum must equal it.
    */
  private def pageTotals(file: String): Map[String, Any] = {
    val pages = ParquetInspector.pages(file)
      .filter(_.pageType != "DICTIONARY_PAGE")
    val perColumn = pages.groupBy(_.column).view.mapValues(_.map(_.numValues).sum)
    val rows = ParquetInspector.footer(file).numRows
    Map("footer_rows" -> rows, "data_pages" -> pages.size,
      "columns_match" -> perColumn.values.forall(_ == rows))
  }

  private def timedMs[T](run: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = run
    (out, (System.nanoTime() - t0) / 1e6)
  }

  def parserOps(ctx: Ctx): Seq[Op] = {
    val lineitem = ctx.single("lineitem")
    val documents = ctx.single("documents")
    val footers = Seq("lineitem" -> lineitem, "documents" -> documents).map {
      case (t, f) =>
        Op(s"footer_$t", "inspect",
          ph => OpOut(footerMs = ph("action")(
            timedMs(ParquetInspector.footer(f))._2)),
          () => Map("footer_rows" -> ParquetInspector.footer(f).numRows,
            "table" -> t))
    }
    footers ++ Seq(
      Op("pages_lineitem", "inspect",
        ph => ph("action") {
          val ps = ParquetInspector.pages(lineitem)
          OpOut(pages = ps.size, pageBytes = ps.map(_.compressedBytes).sum)
        },
        () => pageTotals(lineitem) + ("table" -> "lineitem")),
      Op("raw_pages_lineitem", "inspect",
        ph => ph("action") {
          val it = ParquetInspector.rawPageIterator(lineitem)
          var n = 0L
          var bytes = 0L
          try it.foreach { case (_, b) => n += 1; bytes += b.length }
          finally it.close()
          OpOut(pages = n, pageBytes = bytes)
        },
        () => {
          val it = ParquetInspector.rawPageIterator(lineitem)
          val infos = try it.map(_._1).toVector finally it.close()
          val sums = infos.groupBy(_.column).view
            .mapValues(_.map(_.numValues).sum).toMap
          val rows = ParquetInspector.footer(lineitem).numRows
          Map("table" -> "lineitem", "footer_rows" -> rows,
            "data_pages" -> infos.size,
            "columns_match" -> sums.values.forall(_ == rows))
        }),
      Op("page_chunks_lineitem", "inspect",
        ph => ph("action") {
          val cs = ParquetInspector.pageChunks(lineitem, 1L << 20)
          OpOut(pages = cs.map(c => c.lastPageId - c.firstPageId + 1).sum,
            pageBytes = cs.map(_.bytes).sum)
        },
        () => {
          val cs = ParquetInspector.pageChunks(lineitem, 1L << 20)
          val data = ParquetInspector.pages(lineitem)
            .filter(_.pageType != "DICTIONARY_PAGE")
          val contiguous = cs.zip(cs.drop(1))
            .forall { case (a, b) => b.firstPageId == a.lastPageId + 1 }
          Map("table" -> "lineitem", "chunks" -> cs.size,
            "covers_pages" -> (contiguous && cs.head.firstPageId == 0 &&
              cs.last.lastPageId == data.size - 1 &&
              cs.map(_.bytes).sum == data.map(_.compressedBytes).sum))
        }),
      Op("chunk_index_documents", "inspect",
        ph => { ph("action")(InspectorCli.chunkIndex(ctx.spark, documents,
          "text")); OpOut() },
        () => {
          val (chunks, tuples) =
            InspectorCli.chunkIndex(ctx.spark, documents, "text")
          Map("table" -> "documents", "chunks" -> chunks,
            "tuples" -> tuples,
            "footer_rows" -> ParquetInspector.footer(documents).numRows)
        }),
      Op("regex_pages_documents", "inspect",
        ph => { ph("action")(InspectorCli.regexPageReport(ctx.spark,
          documents, "text", RegexPattern, negate = false)); OpOut() },
        () => {
          val rep = InspectorCli.regexPageReport(ctx.spark, documents,
            "text", RegexPattern, negate = false)
          Map("table" -> "documents", "pattern" -> RegexPattern,
            "values" -> rep.map(_._2).sum, "matched" -> rep.map(_._3).sum,
            "footer_rows" -> ParquetInspector.footer(documents).numRows)
        }))
  }

  val RegexPattern = "\\bdup\\b"

  val writerOptions: Seq[(String, WriterOptions)] = Seq(
    "default" -> WriterOptions(),
    "reflike" -> ParquetWriterFacade.referenceLike)

  def dirBytes(path: String): (Long, Long) = {
    val files = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length.toLong)
  }

  /** Order-independent content digest: row count and the sum of a
    * 64-bit row hash over every column.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*)
        .cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1))
      .getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** Per table and writer setting: the facade write, a read-back scan
    * with an aggregate, and a page walk of the written files.
    */
  def writerOps(ctx: Ctx): Seq[Seq[Op]] = {
    val spark = ctx.spark
    for {
      table <- Seq("documents", "lineitem")
      (optName, opts) <- writerOptions
      out = s"${ctx.work}/written/${table}_$optName"
      source = graft.Tables.path(ctx.mirror, table)
    } yield Seq(
        Op(s"write_${table}_$optName", "write",
          ph => {
            val (_, ms) = ph("action")(timedMs(ParquetWriterFacade.write(
              graft.Tables.load(spark, ctx.mirror, table), out, opts)))
            val (bytes, files) = dirBytes(out)
            OpOut(writeS = ms / 1e3, writeBytes = bytes, filesWritten = files,
              sourceBytes = dirBytes(source)._1)
          },
          () => {
            ParquetWriterFacade.write(
              graft.Tables.load(spark, ctx.mirror, table), out, opts)
            val (srcRows, srcHash) = digest(spark.read.parquet(source))
            val (rows, hash) = digest(spark.read.parquet(out))
            Map("source_rows" -> srcRows, "rows" -> rows,
              "hash_match" -> (srcHash == hash))
          }),
        Op(s"readback_${table}_$optName", "query",
          ph => {
            val df = ph("build")(readBack(spark, table, out))
            ph("action")(df.collect())
            OpOut()
          },
          () => {
            val got = readBack(spark, table, out).head()
            val want = readBack(spark, table, source).head()
            Map("rows" -> got.getLong(0), "source_rows" -> want.getLong(0),
              "values_match" -> (got == want))
          }),
        Op(s"pages_${table}_$optName", "inspect",
          ph => ph("action") {
            val ps = ParquetInspector.datasetFiles(out)
              .flatMap(ParquetInspector.pages)
            OpOut(pages = ps.size, pageBytes = ps.map(_.compressedBytes).sum)
          },
          () => {
            val per = ParquetInspector.datasetFiles(out).map(pageTotals)
            Map("footer_rows" -> per.map(_("footer_rows").asInstanceOf[Long]).sum,
              "source_rows" -> spark.read.parquet(source).count(),
              "columns_match" -> per.forall(_("columns_match") == true))
          }))
  }

  /** Column scan plus aggregate over a written table. */
  def readBack(spark: SparkSession, table: String, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (table == "documents")
      df.agg(count(lit(1)), sum("n_chars"), max("doc_id"),
        countDistinct("source"))
    else df.agg(count(lit(1)), sum("l_quantity"), max("l_orderkey"),
      sum(col("l_extendedprice").cast(DecimalType(18, 2))))
  }
}
