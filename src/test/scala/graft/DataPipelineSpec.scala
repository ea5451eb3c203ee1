package graft

import org.apache.spark.sql.functions._

import graft.ops.{DataPipeline, Dedup}

/** End-to-end curation invariants: the pipeline output contains no
  * exact duplicates, no verified near-dup pair, keeps the smallest id
  * of each duplicate family, and never invents rows.
  */
class DataPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate removes exact and near duplicates, keeping smallest ids") {
    val base = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"source", $"text")
    // plant: exact copy of doc 0 at id 100000, near-copy of doc 1 at 100001
    val d0 = base.filter($"doc_id" === 0).select($"text").head().getString(0)
    val d1 = base.filter($"doc_id" === 1).select($"text").head().getString(0)
    val planted = Seq(
      (100000L, "planted", d0),
      (100001L, "planted", d1 + " tail tail")
    ).toDF("doc_id", "source", "text")
    val docs = base.union(planted)

    val out = DataPipeline.curate(docs, minTokens = 5, minJaccard = 0.9)
    val ids = out.select($"doc_id").as[Long].collect().toSet

    // the planted exact copy must fall to keep-smallest exact dedup
    assert(!ids.contains(100000L))
    // the planted near-copy must fall to the near-dup sweep
    assert(!ids.contains(100001L))
    // the global-minimum id can never be a victim
    assert(ids.contains(0L))
    // no exact duplicates remain
    assert(out.count() === out.select($"text").distinct().count())
    // no verified near-dup pair remains among survivors
    val withTok = out.withColumn("_tok", Dedup.tokenSet($"text"))
    val remaining = Dedup.nearDupPairs(withTok, "doc_id", "_tok", 0.9)
    assert(remaining.count() === 0L)
    // no invented rows
    assert(ids.subsetOf(
      docs.select($"doc_id").as[Long].collect().toSet))
  }

  test("snapshotDiff classifies added/removed/modified/unchanged exactly") {
    val v1 = Seq((1L, "same"), (2L, "old text"), (3L, "to be removed"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new text"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = DataPipeline.snapshotDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
    // identity diff: everything unchanged, ids conserved
    val self = DataPipeline.snapshotDiff(v1, v1, "doc_id", "text")
    assert(self.filter($"status" =!= "unchanged").count() === 0L)
    assert(self.count() === 3L)
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits") {
    val base = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"source", $"text")
    val docs = base.withColumn("tok", Dedup.tokenSet($"text"))
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
      numHashes = 96, bands = 24, blockCol = $"source")
    assert(pairs.count() > 0L, "fixture must contain near-dup pairs")
    val split = DataPipeline.leakageSafeSplit(
      docs.select($"doc_id"), "doc_id", pairs, "a_id", "b_id",
      trainRate = 0.8, valRate = 0.1).cache()

    // total: every doc gets exactly one split
    assert(split.count() === base.count())
    // THE invariant: a component maps to exactly one split — in
    // particular both ends of every verified near-dup pair
    val straddling = split.groupBy("component")
      .agg(countDistinct($"split").as("n"))
      .filter($"n" > 1)
    assert(straddling.count() === 0L, "a cluster straddles splits")
    // singleton docs (no pair) split exactly as plain splitAssign
    // would have split them: component = own id ⇒ same hash input
    val paired = pairs.select($"a_id".as("doc_id"))
      .union(pairs.select($"b_id".as("doc_id")))
      .distinct().as[Long].collect().toSet
    val plain = graft.ops.Sampling
      .splitAssign(docs.select($"doc_id"), "doc_id", 0.8, 0.1)
      .as[(Long, String)].collect().toMap
    val leaky = split.select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    val singletons = plain.keySet -- paired
    assert(singletons.nonEmpty)
    singletons.foreach { id =>
      assert(leaky(id) === plain(id), s"singleton $id moved splits")
    }
    split.unpersist()
  }

  test("folded curate dedups whitespace variants the simple tokenizer misses") {
    import graft.ops.{DataPipeline, TextAnalysis}
    // the x75 shape: even-id documents get deterministically messied
    // (newline+tab separator with a case flip, double-space with
    // attached punctuation), so duplicate pairs split across the
    // parity line differ in RAW text but fold to identical token sets
    val messy = when(col("doc_id") % 2 === 0,
      replace(
        replace(col("text"), lit(" the "), lit("\n\tThe, ")),
        lit(" of "), lit("  of. ")))
      .otherwise(col("text"))
    val clean = Tables.load(spark, sf0001, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val messied = clean.select(col("doc_id"), messy.as("text"),
      col("lang"), col("source"), col("n_chars"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val foldedIds = ids(DataPipeline.curate(messied, 40, 0.9,
      col("source"), 96, 24, TextAnalysis.tokensFolded))
    val simpleIds = ids(DataPipeline.curate(messied, 40, 0.9,
      col("source"), 96, 24))
    val cleanIds = ids(DataPipeline.curate(clean, 40, 0.9,
      col("source"), 96, 24))
    // the simple tokenizer cannot match a messied doc to its clean
    // twin — it keeps strictly more "survivors" (missed duplicates)
    assert(foldedIds.size < simpleIds.size,
      s"folded=${foldedIds.size} !< simple=${simpleIds.size}")
    // folding recovers EXACTLY the clean-corpus survivor set: the
    // mess is invisible to the folded pipeline end to end
    assert(foldedIds === cleanIds)
  }

  test("clusterRepresentatives keeps the best-quality member, " +
      "min-id on ties, singletons keep themselves") {
    val docs = Seq(
      (1L, 30L), (2L, 50L), (3L, 50L), // cluster {1,2,3}: max q=50 tie -> rep 2
      (10L, 7L), (11L, 9L),            // cluster {10,11}: rep 11 (LARGER id wins on quality)
      (20L, 1L),                       // singleton
      // r21 argmax-fold edge: the struct argmax routes ids through
      // bitwise NOT (order-reversing, total on Long) — a tie at the
      // integer extreme pins that Long.MinValue cannot overflow the
      // fold the way numeric negation would
      (Long.MinValue, 5L), (-5L, 5L)   // tie -> rep Long.MinValue
    ).toDF("doc_id", "n_tokens")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (Long.MinValue, -5L)).toDF("a_id", "b_id")
    val out = DataPipeline.clusterRepresentatives(
        docs, "doc_id", pairs, "a_id", "b_id", "n_tokens")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size === 8)
    // extreme-id tie: min id wins, even at Long.MinValue
    assert(out(Long.MinValue)._4 === Long.MinValue &&
      out(Long.MinValue)._5 === 1L && out(-5L)._5 === 0L)
    // quality argmax, not min-id: 11 beats 10 despite the larger id
    assert(out(10L)._4 === 11L && out(11L)._5 === 1L && out(10L)._5 === 0L)
    // tie on quality -> smallest id among the maximal members
    assert(out(1L)._4 === 2L && out(2L)._5 === 1L && out(3L)._5 === 0L)
    // singleton is its own component and representative
    assert(out(20L)._2 === 20L && out(20L)._4 === 20L && out(20L)._5 === 1L)
    // exactly one keep per component
    val byComp = out.values.groupBy(_._2)
    byComp.foreach { case (c, rows) =>
      assert(rows.count(_._5 == 1L) === 1, s"component $c keep count")
    }
  }

  test("clusterRepresentatives: an all-null-quality component keeps its " +
      "minimum id, and a null quality loses to any non-null one") {
    val docs = Seq[(Long, Option[Long])](
      (30L, None), (31L, None), (32L, None), // all null -> rep 30
      (40L, None), (41L, Some(1L))           // null loses -> rep 41
    ).toDF("doc_id", "q")
    val pairs = Seq((31L, 30L), (32L, 31L), (40L, 41L)).toDF("a_id", "b_id")
    val out = DataPipeline.clusterRepresentatives(
        docs, "doc_id", pairs, "a_id", "b_id", "q")
      .select($"doc_id", $"rep_id", $"keep").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out === Map(30L -> (30L, 1L), 31L -> (30L, 0L),
      32L -> (30L, 0L), 40L -> (41L, 0L), 41L -> (41L, 1L)))
  }

  test("fimTransform: PSM splice is losslessly invertible and the " +
      "coin/cuts are deterministic") {
    val docs = Tables.load(spark, sf0001, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val src = docs.as[(Long, String)].collect().toMap
    val out = DataPipeline.fimTransform(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Long, Long, String, Long)].collect()
    assert(out.length === src.size)
    // fixture precondition for the sentinel contract
    assert(!src.values.exists(t =>
      t.contains("<PRE>") || t.contains("<SUF>") || t.contains("<MID>")))
    var nFim = 0
    var edgeCut = 0
    out.foreach { case (id, fim, cut1, cut2, psm, nOut) =>
      val orig = src(id)
      assert(0L <= cut1 && cut1 <= cut2 && cut2 <= orig.length.toLong,
        s"doc $id cuts out of range: $cut1/$cut2/${orig.length}")
      assert(nOut === psm.length.toLong)
      if (fim == 1L) {
        nFim += 1
        // parse <PRE>p<SUF>s<MID>m and re-splice p||m||s == original
        assert(psm.startsWith("<PRE>"))
        val sufAt = psm.indexOf("<SUF>")
        val midAt = psm.indexOf("<MID>")
        assert(sufAt >= 5 && midAt > sufAt)
        val p = psm.substring(5, sufAt)
        val sfx = psm.substring(sufAt + 5, midAt)
        val m = psm.substring(midAt + 5)
        assert(p + m + sfx === orig, s"doc $id fails round-trip")
        assert(p.length.toLong === cut1 &&
          m.length.toLong === cut2 - cut1)
        if (cut1 == 0L || cut2 == orig.length.toLong) edgeCut += 1
      } else {
        assert(psm === orig, s"doc $id (fim=0) must pass through")
      }
    }
    // both coin branches live, rate near 0.5 (md5 uniformity)
    assert(nFim > out.length / 3 && nFim < 2 * out.length / 3,
      s"fim coin off: $nFim of ${out.length}")
    // the empty-span edge branch is exercised somewhere on the fixture
    assert(edgeCut > 0, "no boundary cut on the fixture")
    // determinism: a re-run is bit-identical (pure function of input)
    val rerun = DataPipeline.fimTransform(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Long, Long, String, Long)].collect()
    assert(rerun.sortBy(_._1).sameElements(out.sortBy(_._1)))
  }

  test("bordaTopK (x132): hand corpus — ranks total with id " +
      "tie-break, borda is the exact rank sum, cut respects k") {
    // stratum A: three docs with designed signal orderings
    //   d1: s1=10 s2=1   d2: s1=10 s2=3   d3: s1=5 s2=2
    // s1 ranks (desc, id asc tie-break): d1→1 d2→2 d3→3
    // s2 ranks: d2→1 d3→2 d1→3
    // borda: d1=4 d2=3 d3=5 → leaderboard d2, d1, d3
    val docs = Seq(
      ("A", 1L, 10L, 1L), ("A", 2L, 10L, 3L), ("A", 3L, 5L, 2L),
      ("B", 4L, 7L, 7L)) // singleton stratum: both ranks 1, borda 2
      .toDF("src", "id", "s1", "s2")
    val got = DataPipeline.bordaTopK(docs, "id", "src",
        Seq("s1" -> col("s1"), "s2" -> col("s2")), k = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", 2L, 2L, 1L, 3L, 1L), // borda 3, rk 1
      ("A", 1L, 1L, 3L, 4L, 2L), // borda 4, rk 2 — d3 (borda 5) cut
      ("B", 4L, 1L, 1L, 2L, 1L)))
  }

  test("spearmanAudit (x137): perfect agreement is +1e6, perfect " +
      "reversal is -1e6, singleton stratum is NULL, micros exact") {
    // stratum A (n=3): s1 and s2 agree exactly; s1 and s3 reverse
    //   exactly; s2~s3 therefore also reverses. Sum d^2 reversal for
    //   n=3: (1-3)^2+(2-2)^2+(3-1)^2 = 8 = n(n^2-1)/3 → rho = -1.
    // stratum B (n=1): rho undefined → NULL, sum_d2 = 0.
    val docs = Seq(
      ("A", 1L, 30L, 300L, 1L), ("A", 2L, 20L, 200L, 2L),
      ("A", 3L, 10L, 100L, 3L),
      ("B", 4L, 5L, 5L, 5L))
      .toDF("src", "id", "s1", "s2", "s3")
    val got = DataPipeline.spearmanAudit(docs, "id", "src", Seq(
        "s1" -> col("s1"), "s2" -> col("s2"), "s3" -> col("s3")))
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(got === Set(
      ("A", "s1~s2", 3L, 0L, Some(1000000L)),
      ("A", "s1~s3", 3L, 8L, Some(-1000000L)),
      ("A", "s2~s3", 3L, 8L, Some(-1000000L)),
      ("B", "s1~s2", 1L, 0L, None),
      ("B", "s1~s3", 1L, 0L, None),
      ("B", "s2~s3", 1L, 0L, None)))
  }

  test("aucAudit (x143): perfect separation is 1e6, inversion is 0, " +
      "a hand mix matches the closed form, one-class strata are NULL") {
    // stratum A: positives hold the two TOP scores → AUC = 1 exactly
    // stratum B: positives hold the two BOTTOM scores → AUC = 0
    // stratum C: interleaved n+/n- = 2/2, pos ranks {2, 4} →
    //   U = 6 - 3 = 3 → AUC = 3/4 = 750000 micros
    // stratum D: all positive → NULL
    val docs = Seq(
      ("A", 1L, 10L, true), ("A", 2L, 9L, true),
      ("A", 3L, 5L, false), ("A", 4L, 1L, false),
      ("B", 5L, 1L, true), ("B", 6L, 2L, true),
      ("B", 7L, 8L, false), ("B", 8L, 9L, false),
      ("C", 9L, 1L, false), ("C", 10L, 2L, true),
      ("C", 11L, 3L, false), ("C", 12L, 4L, true),
      ("D", 13L, 7L, true))
      .toDF("src", "id", "s", "y")
    val got = DataPipeline.aucAudit(docs, "id", "src", col("s"),
        col("y"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet
    assert(got === Set(
      ("A", 2L, 2L, 4L, Some(1000000L)),
      ("B", 2L, 2L, 0L, Some(0L)),
      ("C", 2L, 2L, 3L, Some(750000L)),
      ("D", 1L, 0L, 0L, None)))
  }

  test("concentrationReport (x145): equal masses are Gini 0, full " +
      "concentration is (n-1)/n, singles are 0/1e6, zero-mass " +
      "strata are NULL") {
    // E: four keys × mass 5 (split over two rows each — the inner
    //    aggregate folds them) → Gini 0; ⌈4/10⌉ = 1 tail key → 1/4
    // C: masses {0,0,0,10} → gini_num = (2·4−5)·10 = 30 →
    //    30e6 div 40 = 750000 = (n−1)/n; tail share 1e6
    // S: one key → Gini 0, share 1e6
    // Z: two keys, zero total mass → NULL ratios, counts exact
    val rows = Seq(
      ("E", "a", 2L), ("E", "a", 3L), ("E", "b", 2L), ("E", "b", 3L),
      ("E", "c", 2L), ("E", "c", 3L), ("E", "d", 2L), ("E", "d", 3L),
      ("C", "a", 0L), ("C", "b", 0L), ("C", "c", 0L), ("C", "d", 10L),
      ("S", "a", 7L),
      ("Z", "a", 0L), ("Z", "b", 0L)
    ).toDF("src", "k", "m")
    val got = DataPipeline.concentrationReport(rows, "src", "k",
        col("m"))
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSet
    assert(got === Set(
      ("E", 4L, 20L, Some(0L), Some(250000L)),
      ("C", 4L, 10L, Some(750000L), Some(1000000L)),
      ("S", 1L, 7L, Some(0L), Some(1000000L)),
      ("Z", 2L, 0L, None, None)))
  }

  test("quartileReport (x150): lower empirical ranks on a hand " +
      "corpus; singletons publish the value thrice; n=3 takes the " +
      "extremes") {
    // A: 1..8 → ranks ⌈k·8/4⌉ = 2, 4, 6 → (2, 4, 6)
    // B: {10,20,30} → ranks 1, 2, 3 → (10, 20, 30)
    // S: {9} → ranks all 1 → (9, 9, 9)
    val rows =
      (1L to 8L).map(v => ("A", v * 100, v)) ++
        Seq(("B", 1L, 10L), ("B", 2L, 20L), ("B", 3L, 30L),
          ("S", 1L, 9L))
    val df = rows.toDF("src", "id", "v")
    val got = DataPipeline.quartileReport(df, "id", "src", col("v"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", 8L, 2L, 4L, 6L),
      ("B", 3L, 10L, 20L, 30L),
      ("S", 1L, 9L, 9L, 9L)))
  }

  test("spearmanAudit: a mid-range disagreement lands strictly " +
      "inside (-1e6, 1e6) and floor division matches hand arithmetic") {
    // n=4, one adjacent swap between the two orders: d^2 sum = 2
    // rho = 1 - 6*2/(4*15) = 1 - 1/5 = 0.8 exactly → 800000 micros
    val docs = Seq(
      ("A", 1L, 40L, 40L), ("A", 2L, 30L, 20L),
      ("A", 3L, 20L, 30L), ("A", 4L, 10L, 10L))
      .toDF("src", "id", "s1", "s2")
    val got = DataPipeline.spearmanAudit(docs, "id", "src",
        Seq("s1" -> col("s1"), "s2" -> col("s2")))
      .as[(String, String, Long, Long, Option[Long])].collect().toSet
    assert(got === Set(("A", "s1~s2", 4L, 2L, Some(800000L))))
  }

  test("quantileNormalize (x177): per-stratum rank positions in " +
      "micros, id tie-break, singleton stratum publishes 0") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 20L), // tie on v=10
      (4L, "b", 99L))                                 // singleton
      .toDF("id", "src", "v")
    // full publish (sample predicate disabled via max hex)
    val got = DataPipeline.quantileNormalize(df, "id", "src",
        col("v"), sampleHex4 = "ffff")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, "a", 10L, 0L),       // rank 1 (v tie -> id order)
      (2L, "a", 10L, 500000L),  // rank 2
      (3L, "a", 20L, 1000000L), // rank 3: the stratum max
      (4L, "b", 99L, 0L)))      // singleton: 0 by the n=1 guard
    // the sample only bounds the publish — ranks are whole-stratum:
    // every sampled row keeps the pr it had in the full frame
    val sampled = DataPipeline.quantileNormalize(df, "id", "src",
        col("v")).as[(Long, String, Long, Long)].collect().toSet
    assert(sampled.subsetOf(got))
  }

  test("lorenzSources (x194): cumulative mass through the " +
      "(count DESC, name) rank order") {
    val docs = (Seq.fill(3)("s1") ++ Seq("s2", "s3"))
      .map(Tuple1(_)).toDF("source")
    val got = DataPipeline.lorenzSources(docs, "source")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("s1", 3L, 3L, 600000L),
      ("s2", 1L, 4L, 800000L),  // tie with s3 -> name order
      ("s3", 1L, 5L, 1000000L)))
  }

  test("lorenzValue (x196): exact money cumulative through the " +
      "(value DESC, key) order; sample bounds only the publish") {
    val orders = Seq((1L, 3.0), (1L, 2.0), (2L, 1.0))
      .toDF("o_custkey", "o_totalprice")
    val vm = (col("o_totalprice").cast("decimal(18,6)") *
      lit(1000000L)).cast("long")
    val full = DataPipeline.lorenzValue(orders, "o_custkey", vm,
        sampleHex4 = "ffff")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full === Set(
      (1L, 5000000L, 5000000L, 833333L),
      (2L, 1000000L, 6000000L, 1000000L)))
    val sampled = DataPipeline.lorenzValue(orders, "o_custkey", vm)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sampled.subsetOf(full))
  }
}
