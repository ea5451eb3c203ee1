package graft.inspect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI mirroring the reference's documented surface
  * (`/root/reference/README.md:44-72`): schema dump, footer/page
  * inspection, byte-capped page chunking, and the page-granular regex
  * report (`--regex-column/--regex/--neg-regex`, README.md:54-64 — the
  * reference ships that mode only as documentation; here it is real).
  *
  * Usage:
  *   schema <file>
  *   footer <file>
  *   chunks <file>
  *   pages <file>
  *   pagechunks <file> <maxBytes>
  *   pagebytes <file> <firstPage> <lastPage> <maxBytes>
  *   rowgroup <file> <rowGroup>
  *   regex <file> <column> <pattern> [--neg]
  *   chunkindex <file> <column>
  */
object InspectorCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-inspect")
    try run(spark, args.toList)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "schema" :: file :: Nil =>
      println(ParquetInspector.schemaString(spark, file))
    case "footer" :: file :: Nil =>
      println(ParquetInspector.footer(file))
    case "chunks" :: file :: Nil =>
      ParquetInspector.columnChunks(file).foreach(println)
    case "pages" :: file :: Nil =>
      ParquetInspector.pages(file).foreach(println)
    case "pagechunks" :: file :: maxBytes :: Nil =>
      ParquetInspector.pageChunks(file, maxBytes.toLong).foreach(println)
    case "pagebytes" :: file :: first :: last :: maxBytes :: Nil =>
      val bytes = ParquetInspector.readPagesChunk(
        file, first.toLong, last.toLong, maxBytes.toLong)
      println(s"read ${bytes.length} bytes from pages $first..$last")
    case "rowgroup" :: file :: rg :: Nil =>
      val df = ParquetInspector.rowGroupSlice(spark, file, rg.toInt)
      println(s"row group $rg: ${df.count()} rows")
    case "regex" :: file :: column :: pattern :: rest =>
      regexPageReport(spark, file, column, pattern, rest.contains("--neg"))
        .foreach { case (pageId, total, matched) =>
          println(s"page $pageId: $matched/$total values match")
        }
    case "chunkindex" :: file :: column :: Nil =>
      val (chunks, tuples) = chunkIndex(spark, file, column)
      println(s"Total chunks: $chunks")
      println(s"Total tuples indexed: $tuples")
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("commands: schema|footer|chunks|pages|pagechunks|" +
        "pagebytes|rowgroup|regex|chunkindex")
  }

  /** The reference demo's chunked inverted index (`index_test`,
    * `/root/reference/src/main.cpp:10-38` + README.md:66-72), exact
    * semantics: stream the column in file order, pack `len-prefix +
    * bytes` records into a chunk, close the chunk when its size has
    * reached 4096 bytes *before* appending the next record, record each
    * tuple's chunk. Distributed value scan, driver-side packing loop
    * with bounded memory (the packing state is a single counter — the
    * reference is driver-side here too).
    */
  def chunkIndex(spark: SparkSession, file: String, column: String): (Long, Long) = {
    var chunkCount = 1L
    var chunkSize = 0L
    var tuples = 0L
    graft.ops.ColumnStream.stringColumnIterator(spark, file, column)
      .foreach { case (_, v) =>
        val bytes = v.length.toString.length + v.length.toLong
        if (chunkSize >= 4096) { chunkCount += 1; chunkSize = 0 }
        chunkSize += bytes
        tuples += 1
      }
    (chunkCount, tuples)
  }

  /** Per-data-page regex match report for one string column: pages whose
    * match count is 0 are the prunable ones (the reference's R21 output
    * is exactly those page ids). Page boundaries come from the footer
    * walk (driver-side, tiny); values are scanned distributed, assigned
    * to pages by global file-order position via binary search over the
    * broadcast page-start array.
    */
  def regexPageReport(spark: SparkSession, file: String, column: String,
      pattern: String, negate: Boolean): Seq[(Long, Long, Long)] = {
    val dataPages = ParquetInspector.pages(file)
      .filter(p => p.column == column && p.pageType != "DICTIONARY_PAGE")
    val starts = dataPages.scanLeft(0L)(_ + _.numValues).dropRight(1).toArray
    val ids = dataPages.map(_.pageId).toArray
    val bounds = spark.sparkContext.broadcast((starts, ids))

    import spark.implicits._
    val matchedCol = {
      val m = col(column).rlike(pattern)
      if (negate) !m else m
    }
    val rows = graft.ops.PrefixSum.withPosition(
        spark.read.parquet(file).select(col(column), matchedCol.as("matched")),
        "pos")
      .select(col("pos").as[Long], col("matched").as[Boolean])
    val perPage = rows.mapPartitions { it =>
      val (st, pid) = bounds.value
      it.map { case (pos, matched) =>
        // binary search: last page whose start <= pos
        var lo = 0; var hi = st.length - 1
        while (lo < hi) {
          val mid = (lo + hi + 1) >>> 1
          if (st(mid) <= pos) lo = mid else hi = mid - 1
        }
        (pid(lo), if (matched) 1L else 0L)
      }
    }.toDF("page_id", "m")
      .groupBy("page_id")
      .agg(count(lit(1)).as("total"), sum(col("m")).as("matched"))
      .orderBy("page_id")
    perPage.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }
}
