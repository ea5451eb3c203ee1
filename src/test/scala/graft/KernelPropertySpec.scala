package graft

import org.scalacheck.Gen

import graft.functions.{SketchKernels, VectorKernels}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Generated-input properties for the hand-written kernels — the parts
  * of the engine where a loop bug would silently skew results rather
  * than crash.
  */
class KernelPropertySpec extends SparkSpec {

  private def arr(tokens: Seq[String]): GenericArrayData =
    new GenericArrayData(tokens.map(t =>
      if (t == null) null else UTF8String.fromString(t)).toArray[Any])

  private val tokenGen: Gen[List[String]] =
    Gen.listOfN(30, Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(6)), Gen.const(null: String)))

  test("merge-walk jaccard equals hash-set jaccard on generated arrays") {
    val g = for { a <- tokenGen; b <- tokenGen } yield (a, b)
    (1 to 200).foreach { seed =>
      val (a, b) = g.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong)).get
      // the sorted kernel's contract: sorted + distinct, no nulls
      val sa = a.filter(_ != null).distinct.sorted
      val sb = b.filter(_ != null).distinct.sorted
      val viaHash = VectorKernels.jaccard(arr(sa), arr(sb))
      val viaMerge = VectorKernels.jaccardSorted(arr(sa), arr(sb))
      assert(viaHash === viaMerge, s"seed=$seed a=$sa b=$sb")
    }
    // multi-byte UTF-8 tokens at skewed lengths (1-3 tokens against
    // ~2,000): the walk must follow array_sort's unsigned-byte order,
    // which differs from String's UTF-16 order once supplementary
    // characters meet high-BMP ones
    val alphabet = Vector("a", "z", "\u00e9", "\u00df", "\u0436",
      "\u4e2d", "\uff21", "\ud83d\ude00", "\ud834\udd1e")
    def byteSorted(xs: Seq[String]): Seq[String] = xs.distinct.sortWith(
      (x, y) => UTF8String.fromString(x)
        .binaryCompare(UTF8String.fromString(y)) < 0)
    (1 to 60).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def token(): String = Seq.fill(1 + rnd.nextInt(4))(
        alphabet(rnd.nextInt(alphabet.size))).mkString
      val big = byteSorted(Seq.fill(2000)(token()))
      // half the short side comes from the long side, so most pairs
      // intersect
      val small = byteSorted(Seq.fill(1 + rnd.nextInt(3))(
        if (rnd.nextBoolean()) big(rnd.nextInt(big.size)) else token()))
      val (sa, sb) = if (seed % 2 == 0) (small, big) else (big, small)
      val viaHash = VectorKernels.jaccard(arr(sa), arr(sb))
      val viaMerge = VectorKernels.jaccardSorted(arr(sa), arr(sb))
      assert(viaHash === viaMerge, s"seed=$seed short side=$small")
    }
  }

  test("ngramHashes: window identity, cardinality vs string grams, clipping") {
    (1 to 200).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(6)
      val cnt = rnd.nextInt(20)
      // small vocab to force repeated windows
      val toks = List.fill(cnt)("w" + rnd.nextInt(4))
      val hs = SketchKernels.ngramHashes(arr(toks), n, keepPartial = false)
        .toLongArray().toSeq
      val grams = toks.sliding(n).filter(_.size == n).map(_.mkString(" "))
        .toSeq
      assert(hs.size === grams.size, s"seed=$seed")
      // equal token windows hash equal; distinct cardinality matches the
      // string grams exactly (no collisions at this scale) — the
      // property every hashed-key pipeline (contamination, repetition)
      // rests on
      val byGram = grams.zip(hs).groupBy(_._1).view.mapValues(
        _.map(_._2).distinct).toMap
      assert(byGram.values.forall(_.size == 1), s"seed=$seed same-gram hash")
      assert(hs.distinct.size === grams.distinct.size, s"seed=$seed card")
      // keepPartial: sub-n arrays yield exactly one clipped gram that
      // equals the hash of the whole (clipped) window
      if (cnt > 0 && cnt < n) {
        val kp = SketchKernels.ngramHashes(arr(toks), n, keepPartial = true)
          .toLongArray().toSeq
        assert(kp.size === 1, s"seed=$seed")
        assert(kp.head === SketchKernels.ngramHashes(
          arr(toks), cnt, keepPartial = false).toLongArray().head,
          s"seed=$seed clipped gram = n=cnt gram")
      }
    }
  }

  test("rollingFingerprint kernel equals the interpreted HOF spelling") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    val spark2 = spark
    import spark2.implicits._
    val strs = (1 to 60).map { seed =>
      val rnd = new scala.util.Random(seed)
      // whole code points (incl. a surrogate-pair emoji), never lone
      // UTF-16 units
      val pool = Seq("a", "b", "z", " ", "0", "9", "é", "λ", "漢", "😀")
      (0 until rnd.nextInt(30)).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString
    } :+ "" :+ "plain ascii words"
    val rows = strs.toDF("s")
      .select(TextAnalysis.fingerprint($"s").as("kernel"),
        TextAnalysis.fingerprintSpec($"s").as("spec"))
      .as[(Long, Long)].collect()
    rows.zip(strs).foreach { case ((k, sp), s) =>
      assert(k === sp, s"fingerprint mismatch on ${s.take(40).toList}")
    }
  }

  test("sigAgreement matches elementwise comparison on generated signatures") {
    (1 to 200).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(64)
      val a = Array.fill(n)(rnd.nextLong() % 4) // force collisions
      val b = Array.fill(n)(rnd.nextLong() % 4)
      val expected = a.zip(b).count { case (x, y) => x == y }.toDouble / n
      val got = VectorKernels.sigAgreement(
        new GenericArrayData(a), new GenericArrayData(b))
      assert(got === expected, s"seed=$seed")
    }
  }

  test("minhash signature is permutation-invariant and monotone under union") {
    (1 to 100).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val tokens = List.fill(20)(rnd.alphanumeric.take(5).mkString)
      val shuffled = rnd.shuffle(tokens)
      val s1 = SketchKernels.minhash(arr(tokens), 32)
      val s2 = SketchKernels.minhash(arr(shuffled), 32)
      assert(s1.toLongArray.sameElements(s2.toLongArray),
        s"seed=$seed: order changed the sketch")
      // union property: sketch(a ++ b) = elementwise min
      val extra = List.fill(10)(rnd.alphanumeric.take(5).mkString)
      val su = SketchKernels.minhash(arr(tokens ++ extra), 32)
      val sx = SketchKernels.minhash(arr(extra), 32)
      val expected = s1.toLongArray.zip(sx.toLongArray)
        .map { case (x, y) => math.min(x, y) }
      assert(su.toLongArray.sameElements(expected), s"seed=$seed")
    }
  }

  test("PiiKernel equals the java.util.regex spelling on adversarial strings") {
    import graft.functions.PiiKernel
    import graft.ops.TextAnalysis.{emailPattern, ipv4Pattern}
    val eP = java.util.regex.Pattern.compile(emailPattern)
    val iP = java.util.regex.Pattern.compile(ipv4Pattern)
    def viaRegex(s: String): (Long, Long, String) = {
      def count(p: java.util.regex.Pattern) = {
        val m = p.matcher(s); var n = 0L; while (m.find()) n += 1; n
      }
      val redacted = iP.matcher(eP.matcher(s).replaceAll("<EMAIL>"))
        .replaceAll("<IP>")
      (count(eP), count(iP), redacted)
    }
    // alphabet dense in pattern-relevant chars: '@' runs, dotted digit
    // runs, local-part punctuation, boundary-making spaces
    val alphabet = "a Z 0 1 9 . @ . - _ % + 2 3 . @ 4 ab 12 .. @@ x.y".split(" ")
    val fixed = Seq(
      "", "@", "a@b.co", "a@b.c", "a@b@c.com", "x y@z.co", "a@a.b.co",
      "1.2.3.4", "1234.5.6.7", "1.2.3.4.5", "1.2.3.45.6", "1.2.3.4567",
      "a1@b.co1.2.3.4", "ip 10.0.0.1 mail bob+x%y@sub-domain.example.org!",
      "..@..", "-@-.co", "1.2.3.4@5.6.7.8", "@@@1.2.3.4@@@", "a@b.co.",
      "9@9.co 9.9.9.9", "_1.2.3.4_", "1.2.3.4a", "a1.2.3.4")
    fixed.foreach { s =>
      val got = PiiKernel.scan(UTF8String.fromString(s))
      assert((got.getLong(0), got.getLong(1), got.getUTF8String(2).toString)
        === viaRegex(s), s"fixed input: '$s'")
    }
    (1 to 500).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val s = List.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString(
        if (rnd.nextBoolean()) "" else " ")
      val got = PiiKernel.scan(UTF8String.fromString(s))
      assert((got.getLong(0), got.getLong(1), got.getUTF8String(2).toString)
        === viaRegex(s), s"seed=$seed input='$s'")
    }
  }

  test("HtmlKernel equals the regex/HOF spec spelling on adversarial strings and the fixture") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    val keepable = "real sentence content with enough letters to pass both tests"
    val adversarial = Seq(
      "", "<", ">", "<>", "<p>", "plain text only " + keepable,
      s"<p>$keepable</p>", "<p>short</p>",
      // unterminated script swallows nothing (regex needs the closer)
      s"<script>var x=1; <p>$keepable</p>",
      "<script type=\"x\">a</script>ok<style a=b>z</style>" + keepable,
      // <scriptx> matches <script[^>]*> — header run includes the x
      s"<scriptx>$keepable</scriptx>",
      "<script</script>x</script>" + keepable,
      "<!-- a <!-- b --> c -->" + keepable, "<!-- unterminated " + keepable,
      s"a < b $keepable continues past the stray bracket",
      "&amp;lt; literal then &lt;tag&gt; &quot;q&quot; &#39;s&#39; " + keepable,
      s"<a>x</a><b>y</b><em>$keepable</em>",
      "| home | about | privacy | terms | login | $$$ | ### | !!! |",
      "a" * 30, "a" * 29, // length boundary
      ("a" * 15) + ("!" * 15), ("a" * 14) + ("!" * 16), // density boundary
      s"<p>multi\nline ${keepable}\nwith terminators</p>",
      s"<p >attr space</p><p/>$keepable<hr/>",
      "héllo wörld " + keepable + " 𐀀 done")
    val df = adversarial.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "html")
    df.select($"id", TextAnalysis.htmlMainContent($"html").as("k"),
        TextAnalysis.htmlMainContentSpec($"html").as("s"))
      .collect().foreach { r =>
        assert(r.get(1) === r.get(2),
          s"id=${r.getLong(0)} html='${adversarial(r.getLong(0).toInt)}'")
      }
    // absolute pins, not just kernel ≡ spec: strip/entity/density rules
    def run(s: String): (Long, Long, String) = {
      val r = df.sparkSession.range(1).select(
        TextAnalysis.htmlMainContent(lit(s)).as("x"))
        .select("x.n_blocks", "x.n_kept", "x.main_text")
        .as[(Long, Long, String)].head()
      r
    }
    assert(run(s"<script>var x=1; <p>$keepable</p>") ===
      ((2L, 1L, keepable))) // "var x=1;" block + kept paragraph
    assert(run("&amp;lt; x &lt;y&gt; " + keepable) ===
      ((1L, 1L, "&lt; x <y> " + keepable))) // &amp; decodes LAST
    assert(run("a" * 30) === ((1L, 1L, "a" * 30)))
    assert(run("a" * 29) === ((1L, 0L, "")))
    assert(run(("a" * 15) + ("!" * 15))._2 === 1L) // exactly half alnum
    assert(run(("a" * 14) + ("!" * 16))._2 === 0L)
    // the fixture, wrapped the x89 way (a smaller page, same shapes)
    val docs = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull)
    val page = concat(lit("<html><script>s(\"x\")</script><div>nav | "),
      $"source", lit("</div><p>"), $"text",
      lit(" &amp; tail</p><!-- c --><p>"), substring($"text", 1, 50),
      lit("</p></html>"))
    val mism = docs.select(
        TextAnalysis.htmlMainContent(page).as("k"),
        TextAnalysis.htmlMainContentSpec(page).as("s"))
      .filter(not($"k" <=> $"s")).count()
    assert(mism === 0L)
  }

  test("BlocklistKernel equals the HOF/replace spec spelling; replace-count pins") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    val pats = Seq("aa", "aba", "slow table", "é𐀀", "zzz")
    val adversarial = Seq(
      "", "a", "aa", "aaa", "aaaa", "aaaaa", // non-overlap boundaries
      "ababa abab aba", // self-overlapping alternation
      "slow table slow  table slowtable slow tables",
      "aaslow tableaa", // hits at pattern boundaries interleaved
      "é𐀀é𐀀 x é 𐀀 é𐀀", // supplementary + combining-free unicode
      "zz z zz", "edge aa", "aa edge", "aa")
    val df = adversarial.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    df.select($"id",
        graft.functions.BlocklistFunctions
          .blocklistHits($"text", pats).as("k"),
        TextAnalysis.blocklistHitsSpec($"text", pats).as("s"))
      .collect().foreach { r =>
        assert(r.getLong(1) === r.getLong(2),
          s"id=${r.getLong(0)} text='${adversarial(r.getLong(0).toInt)}'")
      }
    // absolute replace-count pins (non-overlapping, left-to-right,
    // each pattern counted on the ORIGINAL text)
    def hits(text: String, ps: Seq[String]): Long =
      spark.range(1).select(graft.functions.BlocklistFunctions
        .blocklistHits(lit(text), ps).as("h")).as[Long].head()
    assert(hits("aaaa", Seq("aa")) === 2L)
    assert(hits("aaa", Seq("aa")) === 1L)
    assert(hits("ababa", Seq("aba")) === 1L)
    assert(hits("aaaa", Seq("aa", "aaa")) === 3L) // independent counts
    assert(hits("", Seq("aa")) === 0L)
    assert(hits("é𐀀é𐀀", Seq("é𐀀")) === 2L)
    // the fixture: kernel ≡ spec everywhere, and the x99 gate keeps
    // exactly the zero-hit docs
    val docs = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull)
    val fixPats = Seq("slow table", "dup", "zzz")
    val mism = docs.select(
        graft.functions.BlocklistFunctions
          .blocklistHits($"text", fixPats).as("k"),
        TextAnalysis.blocklistHitsSpec($"text", fixPats).as("s"))
      .filter(not($"k" <=> $"s")).count()
    assert(mism === 0L)
    val gate = TextAnalysis.blocklistFilter(docs, "doc_id", "text", fixPats)
    assert(gate.filter(($"keep" === 1L) =!= ($"n_hits" === 0L)).count() === 0L)
    assert(gate.filter($"n_hits" > 0L).count() > 0L) // gate is live
  }

  test("NGramMd5 kernel equals the transform(ngrams, md5) spec spelling") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    val cases: Seq[Seq[String]] = Seq(
      Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("", "", ""), Seq("a", "", "b"), // empty tokens keep separators
      Seq("héllo", "wörld", "𐀀sup", "x"),
      Seq("a b", "c"), // token containing a space (gram ambiguity is OK:
                       // both spellings join the same way)
      (1 to 40).map(i => s"t$i"))
    for (k <- Seq(1, 2, 4, 8)) {
      val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "toks")
      val rows = df.select($"id",
          graft.functions.HashFunctions.ngramMd5($"toks", k).as("kern"),
          transform(TextAnalysis.ngrams($"toks", k, keepPartial = false),
            g => md5(g)).as("spec"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"k=$k id=${r.getLong(0)}")
      }
    }
    // null elements vanish from their windows' grams, like concat_ws
    val withNull = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b') AS toks")
    val r = withNull.select(
      graft.functions.HashFunctions.ngramMd5($"toks", 2).as("kern"),
      transform(TextAnalysis.ngrams($"toks", 2, keepPartial = false),
        g => md5(g)).as("spec")).head()
    assert(r.getSeq[String](0) === r.getSeq[String](1))
  }

  test("GopherKernel equals the HOF/replace spec spelling on adversarial strings and the fixture") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    // the two stopword spellings must be the same set — the kernel
    // hard-codes it, the spec reads TextAnalysis.stopwords
    assert(graft.functions.GopherKernel.stopwords ===
      TextAnalysis.stopwords.toSet)
    val adversarial = Seq(
      "", " ", "  ", "the", "a", "the a and of in is",
      "- bullet start", "* star start", "-", "*", "-x", "“-” quoted",
      "# one # two ##", "...", "....", ".....", "......", "..",
      "ends with ...", "mid...dle", "a.b.c", ". . .",
      "- one two three four five six seven eight - nine", // 2nd line bullet
      "one two three four five six seven end... next line goes on...",
      "tab\tand\nnewline are not separators",
      "héllo wörld ünïcode", "𐀀 𐀀𐀀 supplementary", "𐀀...",
      (1 to 120).map(i => "w" + i).mkString(" "), // >100 words, 15 lines
      (1 to 57).map(_ => "-").mkString(" "), // 8 lines, all bullet starts
      (1 to 16).map(_ => "x...").mkString(" "), // every line ends ...
      "double  space   runs make empty words",
      "trailing space ", " leading", "#.#.#...##..")
    val df = adversarial.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    df.select($"id", TextAnalysis.gopherSignals($"text").as("k"),
        TextAnalysis.gopherSignalsSpec($"text").as("s"))
      .collect().foreach { r =>
        assert(r.get(1) === r.get(2),
          s"id=${r.getLong(0)} text='${adversarial(r.getLong(0).toInt)}'")
      }
    // generated strings over the interesting alphabet (spaces, dots,
    // hashes, bullets, stopwords, unicode, empty-word runs)
    val atoms = Array("the", "a", "in", "word", "x", "-", "*", "--",
      "#", "##", "...", "....", "w...", "...w", ".", "..", "",
      "héllo", "𐀀", "a.b", "longerword")
    (1 to 300).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val s = List.fill(rnd.nextInt(25))(atoms(rnd.nextInt(atoms.length)))
        .mkString(" ")
      val row = df.sparkSession.range(1).select(
        TextAnalysis.gopherSignals(lit(s)).as("k"),
        TextAnalysis.gopherSignalsSpec(lit(s)).as("s")).head()
      assert(row.get(0) === row.get(1), s"seed=$seed text='$s'")
    }
    // absolute pins — thresholds and conventions, not just kernel ≡ spec
    def run(s: String): Seq[Long] = {
      val r = df.sparkSession.range(1).select(
        TextAnalysis.gopherSignals(lit(s)).as("x")).select("x.*").head()
      (0 until 9).map(r.getLong)
    }
    // "the a ..." → 3 words (lens 3+1+3), 2 alpha, 2 stop, 1 ellipsis,
    // 1 line, no bullet, final word ends the line with ...
    assert(run("the a ...") === Seq(3L, 7L, 2L, 2L, 0L, 1L, 1L, 0L, 1L))
    // 9 words → 2 lines; word 9 starts line 2 with '-'; line 1's 8th
    // word ends with "..."; "....." counts ONE non-overlapping "..."
    assert(run("w1 w2 w3 w4 w5 w6 w7 end... -") ===
      Seq(9L, 21L, 8L, 0L, 0L, 1L, 2L, 1L, 1L))
    // supplementary char is ONE code point; "#" counts anywhere
    assert(run("𐀀# a#b") === Seq(2L, 5L, 1L, 0L, 2L, 0L, 1L, 0L, 0L))
    // empty words from double spaces count as words of length 0
    assert(run("a  b") === Seq(3L, 2L, 2L, 1L, 0L, 0L, 1L, 0L, 0L))
    // the fixture, decorated the x91 way
    val docs = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull)
    val deco = when($"doc_id" % 5 === 0,
        concat(lit("# "), $"text", lit(" ...")))
      .when($"doc_id" % 5 === 1, concat(lit("- "), $"text"))
      .otherwise($"text")
    val mism = docs.select(
        TextAnalysis.gopherSignals(deco).as("k"),
        TextAnalysis.gopherSignalsSpec(deco).as("s"))
      .filter(not($"k" <=> $"s")).count()
    assert(mism === 0L)
  }

  test("windowMinDistinct equals the brute-force sliding min on generated arrays") {
    (1 to 300).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(30)
      val w = 1 + rnd.nextInt(8)
      // small alphabet to force ties and repeated minima
      val vs = List.fill(n)("h" + rnd.nextInt(6))
      val got = SketchKernels.windowMinDistinct(arr(vs), w)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val expected = vs.sliding(w).filter(_.size == w).map(_.min)
        .toSeq.distinct
      assert(got === expected, s"seed=$seed n=$n w=$w vs=$vs")
    }
  }

  test("DsirScoreExpr codegen compiles and matches interpreted eval") {
    // Regression pin for the "[J" reference-type bug: addReferenceObj
    // with a JVM binary array name makes Janino reject the generated
    // cast, silently demoting every containing stage to interpreted
    // eval. GenerateUnsafeProjection throws on compile failure, so a
    // codegen regression fails HERE rather than hiding behind fallback.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    val lam = IndexedSeq.tabulate(16)(i => (i * 1000001L) - 7000000L)
    val expr = graft.functions.DsirScoreExpr(
      BoundReference(0, StringType, nullable = true), lam)
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws if codegen broken
    (1 to 50).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val words = List.fill(1 + rnd.nextInt(12))("w" + rnd.nextInt(9))
      val text = UTF8String.fromString(words.mkString(" "))
      val viaCodegen = proj(InternalRow(text)).getStruct(0, 2)
      val viaEval = expr.eval(InternalRow(text))
        .asInstanceOf[InternalRow]
      assert(viaCodegen.getLong(0) === viaEval.getLong(0), s"seed=$seed")
      assert(viaCodegen.getLong(1) === viaEval.getLong(1), s"seed=$seed")
    }
  }

  test("LangScoreExpr codegen compiles and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    val dim = 8
    val nLangs = 3
    val lam = IndexedSeq.tabulate(nLangs * dim)(i => (i * 37L) - 500L)
    val expr = graft.functions.LangScoreExpr(
      BoundReference(0, StringType, nullable = true), lam, dim, nLangs)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    (1 to 50).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val text = UTF8String.fromString(
        List.fill(rnd.nextInt(30))(('a' + rnd.nextInt(26)).toChar).mkString)
      val viaCodegen = proj(InternalRow(text)).getStruct(0, 3)
      val viaEval = expr.eval(InternalRow(text)).asInstanceOf[InternalRow]
      assert(viaCodegen.getLong(0) === viaEval.getLong(0), s"seed=$seed")
      assert(viaCodegen.getInt(1) === viaEval.getInt(1), s"seed=$seed")
      assert(viaCodegen.getLong(2) === viaEval.getLong(2), s"seed=$seed")
    }
  }

  test("every custom scalar expression codegen-compiles and matches eval") {
    // The DsirScoreExpr lesson generalized: a doGenCode that emits
    // invalid Java demotes its whole stage to interpreted eval
    // SILENTLY — results stay right, performance quietly dies. This
    // sweep forces Janino compilation of every custom scalar kernel
    // (GenerateUnsafeProjection throws on compile failure) and pins
    // codegen output == interpreted eval on a sample row.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.functions._
    val arrStr = arr(Seq("ab", "cd", "ab", "ef"))
    val arrLong = new GenericArrayData(Array[Any](1L, -2L, 3L))
    val arrDouble = new GenericArrayData(Array[Any](0.5, -1.5, 2.0))
    val str = UTF8String.fromString("hello world a@b.co 1.2.3.4 hello")
    def br(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    val as = ArrayType(StringType)
    val al = ArrayType(LongType)
    val ad = ArrayType(DoubleType)
    // (label, expression over input slots, input row)
    val row3 = InternalRow(arrStr, str, arrLong)
    val rowV = InternalRow(arrDouble, arrDouble, arrLong)
    val cases: Seq[(String, Expression, InternalRow)] = Seq(
      ("SimHash64", SimHash64(br(0, as)), row3),
      ("MinHashSig", MinHashSig(br(0, as), 8), row3),
      ("NGramHashes", NGramHashes(br(0, as), 2, keepPartial = true), row3),
      ("WindowMinDistinct", WindowMinDistinct(br(0, as), 2), row3),
      ("RollingFingerprint", RollingFingerprint(br(1, StringType)), row3),
      ("PiiScan", PiiScan(br(1, StringType)), row3),
      ("HtmlMainContent", HtmlMainContent(br(1, StringType)), row3),
      ("GopherSignals", GopherSignals(br(1, StringType)), row3),
      ("WsTokens", WsTokens(br(1, StringType)), row3),
      ("FoldTokens", FoldTokens(br(0, as)), row3),
      ("PortableSimHash32", PortableSimHash32(br(0, as)), row3),
      ("PortableMinHashSig", PortableMinHashSig(br(0, as), 4), row3),
      ("PortableSrpSig", PortableSrpSig(br(2, al), 8, 3), row3),
      ("RepeatedGramStarts", RepeatedGramStarts(br(0, as), 2), row3),
      ("ScrubTokens", ScrubTokens(br(0, as), br(2, al), 2), row3),
      ("TrigramCounts", TrigramCountsExpr(br(1, StringType), 8), row3),
      ("DotProduct", DotProduct(br(0, ad), br(1, ad)), rowV),
      ("SrpSignature", SrpSignature(br(0, ad), 42L), rowV),
      ("SetJaccard", SetJaccard(br(0, as), br(0, as)), row3),
      ("PqAssignCodes", PqAssignCodes(br(2, al),
        Seq(PqBook(Array(1L, 2L),
          Array(Array(900L, -2100L, 3200L), Array(1000L, -2000L, 3000L)))),
        3), row3),
      ("SigAgreement", SigAgreement(br(2, al), br(2, al)), row3),
      ("BlocklistHits", BlocklistHits(br(1, StringType),
        Seq("hello", "lo wo", "absent")), row3),
      ("NGramMd5", NGramMd5(br(0, as), 2), row3))
    cases.foreach { case (label, expr, input) =>
      assert(expr.checkInputDataTypes().isSuccess, s"$label input types")
      val proj =
        try GenerateUnsafeProjection.generate(Seq(expr))
        catch { case e: Throwable =>
          fail(s"$label codegen failed to compile: ${e.getMessage}") }
      val viaCodegen = proj(input).get(0, expr.dataType)
      val viaEval = expr.eval(input)
      // unsafe vs generic representations differ for arrays/structs —
      // compare through a common projection of the interpreted value
      val viaEvalUnsafe = GenerateUnsafeProjection.generate(
        Seq(br(0, expr.dataType)))(InternalRow(viaEval))
        .get(0, expr.dataType)
      assert(viaCodegen === viaEvalUnsafe, s"$label codegen != eval")
    }
  }

  test("every custom aggregate survives serialize/merge round-trips; eval unsafe-projects") {
    // The scalar sweep's counterpart for the TypedImperativeAggregates
    // (VERDICT r10 item 6). These never Janino-compile an update loop
    // (ObjectHashAggregate runs them interpreted by design), so the
    // failure modes to pin are different: a serialize/deserialize that
    // drops buffer state only shows up when partial aggregation ships
    // buffers between stages, and an eval output that
    // GenerateUnsafeProjection can't project dies only at runtime
    // inside the agg operator's result projection. x52's GK sketch is
    // Spark's own percentile_approx — built-in, nothing to pin here.
    // Inputs are chosen deterministic-by-construction: groups under
    // every cap (DocFreq arrival-order cap exact below cap,
    // HeavyHitters exact below k) and dyadic doubles (exact FP sums),
    // so shard-split + merge must equal the single-pass fold exactly.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.functions._
    def br(t: DataType) = BoundReference(0, t, nullable = true)
    val as = ArrayType(StringType)
    val ad = ArrayType(DoubleType)
    val arrStrRows = Seq(arr(Seq("ab", "cd")), arr(Seq("cd", "ef", "gh")),
      null, arr(Seq("ab"))).map(v => InternalRow(v))
    val strRows = Seq("ab", "cd", "cd", null, "ef").map(s =>
      InternalRow(if (s == null) null else UTF8String.fromString(s)))
    val longRows = Seq(9L, 1L, 5L, 5L).map(v => InternalRow(Long.box(v)))
    val vecRows = Seq(Array(1.0, 2.0), Array(0.5, -1.0), Array(3.0, 4.0))
      .map(a => InternalRow(new GenericArrayData(a.asInstanceOf[Array[Double]])))
    val cases: Seq[(String, TypedImperativeAggregate[_], Seq[InternalRow])] = Seq(
      ("MinHashAgg", MinHashAgg(br(as), 8), arrStrRows),
      ("SimHashAgg", SimHashAgg(br(as)), arrStrRows),
      ("DocFreqAgg", DocFreqAgg(br(LongType), 8), longRows),
      ("MinIdsAgg", MinIdsAgg(br(LongType), 3), longRows),
      ("PairCountAgg", PairCountAgg(br(LongType)), longRows),
      ("HeavyHittersAgg", HeavyHittersAgg(br(StringType), 4), strRows),
      ("VectorSumAgg", VectorSumAgg(br(ad)), vecRows))
    cases.foreach { case (label, agg0, rows) =>
      val agg = agg0.asInstanceOf[TypedImperativeAggregate[Any]]
      assert(agg.checkInputDataTypes().isSuccess, s"$label input types")
      def fold(rs: Seq[InternalRow]): Any =
        rs.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, r))
      def unsafe(v: Any) =
        try GenerateUnsafeProjection.generate(
          Seq(br(agg.dataType)))(InternalRow(v)).copy()
        catch { case e: Throwable =>
          fail(s"$label eval output failed to unsafe-project: ${e.getMessage}") }
      val expected = unsafe(agg.eval(fold(rows)))
      // ship-one-buffer path: serialize → deserialize → eval
      val revived = agg.deserialize(agg.serialize(fold(rows)))
      assert(unsafe(agg.eval(revived)) === expected, s"$label roundtrip eval")
      // partial-aggregation path: two shards round-tripped, then merged
      val (h, t) = rows.splitAt(rows.size / 2)
      val merged = agg.merge(
        agg.deserialize(agg.serialize(fold(h))),
        agg.deserialize(agg.serialize(fold(t))))
      assert(unsafe(agg.eval(merged)) === expected, s"$label merge != single fold")
      // merging an empty shard (a partition with no rows) is identity
      val withEmpty = agg.merge(
        agg.deserialize(agg.serialize(fold(rows))),
        agg.deserialize(agg.serialize(agg.createAggregationBuffer())))
      assert(unsafe(agg.eval(withEmpty)) === expected, s"$label empty-merge")
    }
  }

  test("srp signature flips no bits under positive scaling") {
    // sign(dot(c*v, h)) == sign(dot(v, h)) for c > 0 — scaling a vector
    // must not move it across any hyperplane
    (1 to 100).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val v = Array.fill(16)(rnd.nextGaussian())
      val c = 0.5 + rnd.nextDouble() * 10
      val scaled = v.map(_ * c)
      val s1 = VectorKernels.srpSignature(new GenericArrayData(v), false, 42L)
      val s2 = VectorKernels.srpSignature(new GenericArrayData(scaled), false, 42L)
      assert(s1 === s2, s"seed=$seed")
    }
  }
}
