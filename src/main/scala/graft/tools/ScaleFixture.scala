package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.Sessions

/** Shared-vocabulary scale-fixture builder (the BENCH_LOCAL "sf1-shared"
  * check, round-8 VERDICT item 5).
  *
  * Round 7's 10× fixture suffixed every token `_<copy>`, making per-copy
  * vocabularies DISJOINT: cross-copy LSH buckets were collision-free by
  * construction, so the measured linear growth never exercised hot
  * buckets. This builder replicates `documents` `copies`× with the FULL
  * vocabulary shared:
  *
  *  - a 4% "hot" slice (`xxhash64(doc_id) % 25 == 0`) is copied
  *    verbatim — cross-copy exact duplicates, the boilerplate/template
  *    pages of a real crawl; these collide in EVERY band and form
  *    genuinely hot buckets;
  *  - every other document gets a per-copy token-MEMBERSHIP toggle: the
  *    occurrences of 5 hash-picked vocabulary types are dropped and 4
  *    other types appended, so copy-variants of a document share the
  *    vocabulary (and most of their tokens) but sit below the 0.9
  *    near-dup threshold, while two documents near-duplicate WITHIN a
  *    copy stay near-duplicate (the toggle is a per-copy constant, not
  *    per-document noise).
  *
  * The corpus's synthetic vocabulary is ~31 types with ~23 present per
  * document, so any two documents have unigram-set Jaccard ≥ (2·23−31)/31
  * ≈ 0.48 — at 96×24 banding that means nearly every intra-block pair is
  * an LSH candidate no matter how the fixture is built. The unigram
  * pipelines (x12/x33/x48) therefore measure the WORST-CASE candidate-
  * dense regime here; in the 5-shingle regime the shared-vocabulary
  * shingle space is large and growth stays linear — the
  * production-realistic configuration.
  *
  * Deterministic (hash-driven, no RNG); driver state is the collected
  * vocabulary, guarded to ≤100k types — this is a fixture BUILDER run at
  * bench scale, not a production operator.
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1shared")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-scale-fixture")

    val base = spark.read.parquet(s"$src/documents.parquet")
    val vocab = base
      .select(explode(split(col("text"), " ", -1)).as("t"))
      .filter(col("t") =!= "").distinct()
      .orderBy("t").collect().map(_.getString(0))
    require(vocab.length <= 100000,
      s"vocabulary ${vocab.length} exceeds the fixture-builder bound")
    val n = vocab.length

    // deterministic ring walk over the sorted vocabulary; stride 7 is
    // coprime with any realistic vocab size remainder classes we care
    // about (and collisions are filtered anyway)
    def pick(seed: Int, count: Int, excl: Set[String]): Seq[String] =
      Iterator.from(0).map(i => vocab(((seed + i * 7) % n + n) % n))
        .filterNot(excl).distinct.take(count).toSeq

    val hot = pmod(xxhash64(col("doc_id")), lit(25)) === 0
    val copyDfs = (0 until copies).map { c =>
      if (c == 0) base
      else {
        val dropC = pick(c * 13 + 5, 5, Set.empty).toSet
        val addC = pick(c * 29 + 11, 4, dropC)
        val toks = split(col("text"), " ", -1)
        val mutated = concat_ws(" ",
          concat(filter(toks, t => !t.isInCollection(dropC)),
            array(addC.map(lit): _*)))
        base.select(
          (col("doc_id") + c * 10000000L).as("doc_id"),
          when(hot, col("text")).otherwise(mutated).as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    val all = copyDfs.reduce(_ unionByName _)
    all.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    // the flagship pipelines read only `documents`; the remaining tables
    // are copied byte-for-byte so the dir is a complete fixture
    val srcDir = Paths.get(src)
    Files.list(srcDir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        p.getFileName.toString != "documents.parquet" && Files.isRegularFile(p))
      .foreach { p =>
        val dst = Paths.get(out, p.getFileName.toString)
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    println(s"""{"fixture":"$out","copies":$copies,"vocab":$n,"docs":${all.count()}}""")
    spark.stop()
  }
}

