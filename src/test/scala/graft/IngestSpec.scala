package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Ingest}

/** Pins the x208–x210 incremental-ingest family's two load-bearing
  * claims on the sf0.001 gate fixture:
  *
  *  1. RECALL CERTAINTY — the LSH cross-ingest candidate generator at
  *     96×24 banding, verified exactly, equals the literal all-pairs
  *     cross-side Jaccard ≥ 0.9 set. This equality is what lets the
  *     driver's all-pairs SQL oracle hash-check the LSH path (the x59
  *     precedent, extended to the cross-SOURCE ingest split).
  *  2. APPEND FIDELITY — the round-tripped tree holds exactly
  *     (standing corpus) ∪ (arrivals minus near-dup drops), with the
  *     standing partition directories linked IN PLACE (same inodes —
  *     a production append never rewrites standing partitions) and
  *     the new source=src19 directory present.
  *  3. PER-RUN FRESHNESS (r21, the VERDICT r20 gaming fix) — every
  *     appendedTreePath call performs the declared dedup + append
  *     into a fresh run tree; nothing is served from a cross-run
  *     cache, and the predecessor tree is deleted so disk stays
  *     bounded.
  */
class IngestSpec extends SparkSpec {

  test("crossIngestPairs equals exact all-pairs cross-side Jaccard " +
      ">= 0.9 (recall 1.0 at the gate SF)") {
    val lsh = Ingest.crossIngestPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val arr = Ingest.arriving(spark, sf0001)
      .select(col("doc_id").as("new_id"),
        Dedup.tokenSet(col("text")).as("ntok"))
    val seen = Ingest.ingested(spark, sf0001)
      .select(col("doc_id").as("seen_id"),
        Dedup.tokenSet(col("text")).as("stok"))
    // all-pairs is the SPEC here, never the declared plan (25×475 at
    // this SF); the declared path is the bucketed generator
    val exact = arr.crossJoin(seen)
      .select(col("new_id"), col("seen_id"),
        graft.functions.VectorFunctions.setJaccardSorted(
          col("ntok"), col("stok")).as("j"))
      .filter(col("j") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture lost its cross-ingest near-dups")
    assert(lsh == exact,
      s"LSH/exact divergence: missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("appended tree holds standing ∪ deduped arrivals, standing " +
      "directories linked in place") {
    val cols = Seq("doc_id", "text", "lang", "n_chars", "source")
    val appRoot = java.nio.file.Paths.get(
      Ingest.appendedTreePath(spark, sf0001))
    val tree = spark.read.parquet(appRoot.toString)
      .select(cols.map(col): _*)
    val base = Tables.load(spark, sf0001, "documents")
    val dupIds = Ingest.crossIngestPairs(spark, sf0001)
      .select(col("new_id").as("doc_id")).distinct()
    val expected = base
      .join(dupIds, Seq("doc_id"), "left_anti")
      .select(cols.map(col): _*)
    assert(tree.exceptAll(expected).isEmpty &&
      expected.exceptAll(tree).isEmpty,
      "round-tripped tree diverges from (standing ∪ kept arrivals)")
    // some arrivals were actually dropped AND some kept — otherwise
    // the dedup/append legs pass vacuously
    val dec = Ingest.ingestDecision(spark, sf0001).collect()
    assert(dec.exists(!_.getAs[Boolean]("kept")))
    assert(dec.exists(_.getAs[Boolean]("kept")))
    // standing partition dirs: linked IN PLACE to the source tree's
    // directories (same inodes — provably not rewritten), plus the
    // new arriving directory
    val srcRoot = java.nio.file.Paths.get(
      graft.sources.PartitionedTables.docsBySourcePath(spark, sf0001))
    def files(p: java.nio.file.Path): Set[String] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val standing = files(srcRoot).filter(_.startsWith("source="))
      .filterNot(_ == s"source=${Ingest.ArrivingSource}")
    assert(standing.nonEmpty)
    standing.foreach { d =>
      val link = appRoot.resolve(d)
      assert(java.nio.file.Files.isSymbolicLink(link) &&
        java.nio.file.Files.readSymbolicLink(link) == srcRoot.resolve(d),
        s"standing partition $d is not linked in place")
      assert(files(link) == files(srcRoot.resolve(d)),
        s"standing partition $d was rewritten by the append")
    }
    assert(java.nio.file.Files.isDirectory(
      appRoot.resolve(s"source=${Ingest.ArrivingSource}")),
      "arriving partition directory missing from the appended tree")
  }

  test("append performs the declared ingest on EVERY invocation: " +
      "fresh run tree, predecessor deleted (no cross-run cache)") {
    val p1 = Ingest.appendedTreePath(spark, sf0001)
    val p2 = Ingest.appendedTreePath(spark, sf0001)
    assert(p1 != p2, "per-run protocol must never serve a cached tree")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1)),
      "predecessor run tree must be deleted (bounded disk)")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths
        .get(p2, s"source=${Ingest.ArrivingSource}")),
      "fresh run tree missing its arriving partition")
  }

  test("a write that fails part-way leaves no orphaned run tree: the " +
      "next call deletes it") {
    val boom = udf((id: Long) => {
      if (id >= 0L) throw new IllegalStateException("injected pair failure")
      id
    })
    val failing = spark.range(1).select(boom(col("id")).as("new_id"))
    intercept[Exception] {
      Ingest.appendedTreePathFrom(spark, sf0001, failing)
    }
    val kept = java.nio.file.Paths.get(Ingest.appendedTreePath(spark, sf0001))
    val prefix = s"${ProcessHandle.current().pid()}_run"
    val runs = kept.getParent.toFile.listFiles().map(_.getName)
      .filter(_.startsWith(prefix))
    assert(runs.toSeq == Seq(kept.getFileName.toString),
      s"run trees left by this JVM: ${runs.mkString(", ")}")
  }
}
