package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the LLM-pipeline north star: tokenization,
  * quality scoring, language-ID heuristics, and content fingerprinting.
  * All pure Catalyst expressions (no UDFs) so they stay inside whole-stage
  * codegen and scale linearly with no shuffle until the final aggregate.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the fixture is single-space separated). */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** PRODUCTION whitespace tokenizer: splits on runs of ANY whitespace
    * (newlines, tabs, multiple spaces) and drops the boundary empties a
    * leading/trailing run produces. [[tokens]] is the oracle-portable
    * single-space spelling the fixture (and DuckDB `string_split`)
    * share; real corpora need this one — two documents differing only
    * in whitespace tokenize identically here and never would under
    * [[tokens]]. Runs as the native codegen
    * [[graft.functions.TokenizeKernels.wsTokens]] byte-scan kernel (no
    * java.util.regex on the hot path); [[tokensWsSpec]] is the regex
    * spelling it is property-pinned against, whose `\s` subset Java and
    * RE2 (DuckDB `regexp_split_to_array`) share, so the x70 oracle
    * pairs it cross-engine.
    */
  def tokensWs(text: Column): Column =
    graft.functions.TokenizeFunctions.wsTokens(text)

  /** The regex spelling of [[tokensWs]] — kept as the executable
    * specification the kernel is property-tested against, and the exact
    * SQL shape the DuckDB oracle runs.
    */
  def tokensWsSpec(text: Column): Column =
    filter(split(text, "\\s+", -1), t => t =!= lit(""))

  /** [[tokensWs]] plus punctuation folding: lowercase, strip
    * non-alphanumeric runs off both edges (keeping interior
    * hyphens/apostrophes), drop tokens that were pure punctuation —
    * the normalization under which "Hello," and "hello" near-dup-match.
    */
  def tokensFolded(text: Column): Column = foldTokens(tokensWs(text))

  /** The folding step alone, over an already-tokenized array — lets a
    * query materialize the `\s+` split once and fold it separately
    * instead of re-splitting inside every folded-derived column. Native
    * codegen kernel ([[graft.functions.TokenizeKernels.foldTokens]]);
    * [[foldTokensSpec]] is the pinned regex spelling.
    */
  def foldTokens(toks: Column): Column =
    graft.functions.TokenizeFunctions.foldTokens(toks)

  /** The regex spelling of [[foldTokens]] — the executable spec the
    * kernel is property-tested against (Java/RE2-agreeing subset).
    */
  def foldTokensSpec(toks: Column): Column =
    filter(
      transform(toks, t =>
        regexp_replace(lower(t),
          lit("^[^a-z0-9]+|[^a-z0-9]+$"), lit(""))),
      t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish pre-tokenizer pattern — the GPT-2-style word / number /
    * punctuation split, restricted to the POSIX character-class subset
    * on which Java regex (Spark) and RE2 (DuckDB oracle) agree.
    */
  val bpePattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column =
    size(bpeTokens(text)).cast(LongType)

  /** Average word length implied by char count vs token count:
    * (n_chars - spaces) / n_tokens. Pure per-row IEEE arithmetic —
    * bit-deterministic across engines.
    */
  def avgWordLen(nChars: Column, nTokens: Column): Column =
    (nChars - (nTokens - lit(1))) / nTokens

  /** English-ish stopwords present in the fixture vocabulary. */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "in", "is")

  /** Tech-jargon markers present in the fixture vocabulary. */
  val techwords: Seq[String] =
    Seq("spark", "query", "join", "table", "column", "vector")

  private def countIn(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t))).cast(LongType)
  }

  def stopwordCount(toks: Column): Column = countIn(toks, stopwords)
  def techwordCount(toks: Column): Column = countIn(toks, techwords)

  /** N-gram/stopword language-ID heuristic: votes from two marker sets.
    * (The fixture's `lang` label is random word-soup metadata, so this
    * classifies register, not language — the mechanism is the point.)
    */
  def langId(toks: Column): Column = {
    val en = stopwordCount(toks)
    val tech = techwordCount(toks)
    when(en > tech, "en_prose").when(en < tech, "tech").otherwise("mixed")
  }

  /** Deterministic rolling-hash document fingerprint:
    * fold over characters, acc*31 + codepoint, mod 2^31 (stays exact in
    * a 64-bit long; identical arithmetic is expressible in DuckDB
    * `list_reduce` for the oracle). Computed by the codegen
    * `RollingFingerprint` kernel — one flat loop per string, not a
    * per-character interpreted aggregate; kernel ≡ the HOF spelling is
    * property-tested on generated (incl. non-ASCII) strings.
    */
  def fingerprint(text: Column): Column =
    graft.functions.HashFunctions.rollingFingerprint(text)

  /** The interpreted HOF spelling of [[fingerprint]] — kept as the
    * executable specification the kernel is property-tested against.
    */
  def fingerprintSpec(text: Column): Column =
    aggregate(
      filter(split(text, "", -1), c => c =!= lit("")),
      lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % lit(2147483648L))

  /** Raw word n-grams via a zip_with chain — each step binds the
    * previous gram array and a shifted slice ONCE per row, so the token
    * expression is evaluated a constant number of times. The
    * transform-over-indices formulation re-evaluates any captured
    * expression (here: the split) PER ELEMENT inside the lambda —
    * interpreted higher-order functions do no common-subexpression
    * elimination — which measured ~10× slower on the fixture. Tail
    * positions where the shift runs past the end accumulate partial
    * concatenations (concat_ws skips the null padding); the final slice
    * cuts them (`keepPartial = false`) or keeps exactly one clipped
    * gram for sub-n documents (`keepPartial = true`, the shingle
    * contract of [[graft.ops.Dedup.shingles]]).
    */
  def ngrams(toks: Column, n: Int, keepPartial: Boolean): Column = {
    require(n >= 1, "n must be >= 1")
    val g = (1 until n).foldLeft(toks) { (acc, j) =>
      zip_with(acc,
        slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    slice(g, lit(1),
      greatest(size(toks) - (n - 1), lit(if (keepPartial) 1 else 0)))
  }

  /** Intra-document repetition ratio — the Gopher-style quality rule
    * "fraction of n-gram occurrences that are repeats": 1 − distinct
    * n-grams / total n-grams, 0.0 for documents shorter than n tokens.
    * High values mark boilerplate/looping text that near-dup passes
    * (which compare ACROSS documents) cannot see. Pure per-row
    * projection — zero shuffle, stateless list ops.
    */
  def repetitionRatio(text: Column, n: Int, hashed: Boolean = true): Column = {
    // `hashed` (the default) distincts 8-byte gram hashes instead of
    // strings, hitting array_distinct's primitive fast path — and since
    // only gram IDENTITY matters, the one-pass codegen NGramHashes
    // kernel computes them with zero gram-string allocation. Collisions
    // are ~grams²/2^64 per document — far below any quality threshold
    // (same argument as Contamination's hashed keys; hashed ≡ string is
    // property-tested in TfIdfSpec).
    val grams =
      if (hashed) graft.functions.HashFunctions
        .ngramHashes(tokens(text), n, keepPartial = false)
      else ngrams(tokens(text), n, keepPartial = false)
    when(size(grams) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(grams)).cast(DoubleType) / size(grams))
  }

  /** Within-document repeated-k-gram SCRUB — the removal counterpart of
    * [[repetitionRatio]]'s scoring: every token covered by a k-gram
    * whose exact text already occurred EARLIER in the same document is
    * dropped (first occurrence kept), and the survivors reassembled.
    * The Gopher-style cleanup for looping/boilerplate generations where
    * the right action is to repair the document, not discard it.
    *
    * Mechanics: per row, k-gram start positions whose gram equals an
    * earlier position's gram (first match precedes it) feed the same
    * two-pointer [[graft.functions.ScrubKernel]] the decontamination
    * scrubber uses — overlapping repeat windows merge, count-exact.
    * Zero shuffle: every step is a per-row projection. The repeat
    * detection is the native [[graft.functions.RepeatedGramKernel]] —
    * one hash-map pass, O(L·k) per doc of L tokens; the HOF spelling
    * (O(G²) interpreted `array_position` scans) survives as
    * [[selfRepetitionScrubSpec]], the executable specification the
    * kernel is property-pinned against (TfIdfSpec) and the shape the
    * DuckDB oracle runs.
    *
    * Returns `(doc_id, n_tokens, n_scrubbed, scrubbed_text)`; null
    * texts are dropped.
    */
  def selfRepetitionScrub(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .select(col("doc_id"),
        size(col("_t")).cast(LongType).as("n_tokens"),
        graft.functions.ScrubFunctions.scrubTokens(col("_t"),
          graft.functions.ScrubFunctions.repeatedGramStarts(col("_t"), k),
          k).as("_r"))
      .select(col("doc_id"), col("n_tokens"),
        col("_r.n_scrubbed").as("n_scrubbed"),
        col("_r.scrubbed_text").as("scrubbed_text"))
  }

  /** Executable specification for [[selfRepetitionScrub]]'s repeat
    * detection — the pure-`functions._` spelling (`array_position`
    * finds the FIRST match, so a start is a repeat iff its first match
    * precedes it). Kernel ≡ spec is property-pinned in TfIdfSpec.
    */
  def selfRepetitionScrubSpec(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val staged = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .withColumn("_idx",
        when(size(col("_t")) >= k,
            sequence(lit(1), size(col("_t")) - (k - 1)))
          .otherwise(array().cast(ArrayType(IntegerType))))
      .withColumn("_grams", transform(col("_idx"),
        i => array_join(slice(col("_t"), i, lit(k)), " ")))
      .withColumn("_starts", transform(
        filter(col("_idx"), i =>
          array_position(col("_grams"), element_at(col("_grams"), i)) < i),
        i => (i - 1).cast(LongType)))
    staged.select(col("doc_id"),
        size(col("_t")).cast(LongType).as("n_tokens"),
        graft.functions.ScrubFunctions
          .scrubTokens(col("_t"), col("_starts"), k).as("_r"))
      .select(col("doc_id"), col("n_tokens"),
        col("_r.n_scrubbed").as("n_scrubbed"),
        col("_r.scrubbed_text").as("scrubbed_text"))
  }

  /** Split each document into overlapping token windows — the
    * context-length chunking primitive for training-example prep and
    * RAG indexing: windows of `chunkSize` tokens starting every
    * `stride` tokens, the last window clipped to the document end, and
    * a document shorter than one window yielding exactly one chunk.
    * Chunk count = 1 + ceil(max(len − chunkSize, 0) / stride), spelled
    * in integer arithmetic so any engine derives the identical chunk
    * set. Pure per-row explode: zero shuffle, output rows bounded by
    * total tokens / stride.
    *
    * Returns `(doc_id, chunk_id, n_tokens, chunk)`.
    */
  def tokenChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    val toks = tokens(col(textCol))
    val nChunks = lit(1L) + floor(
      (greatest(size(toks) - chunkSize, lit(0)) + (stride - 1))
        / lit(stride))
    // r15: pre-slice into a per-doc chunk ARRAY and posexplode it —
    // the old explode(sequence)-then-slice spelling made every
    // generated row carry the FULL token array until the slice
    // projection, a docLen× row-copy amplification inside the
    // generator stage (measured 13.6× wall growth on the 10× fixture
    // for x133's sibling; ~linear after this change)
    val chunkArr = transform(sequence(lit(0L), nChunks - 1),
      i => slice(toks, (i * stride + 1).cast(IntegerType),
        lit(chunkSize)))
    docs.select(col(idCol).as("doc_id"),
        posexplode(chunkArr).as(Seq("chunk_id", "_c")))
      .select(col("doc_id"), col("chunk_id").cast(LongType),
        size(col("_c")).cast(LongType).as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk"))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword-extraction /
    * topic-signal primitive over a training corpus: score(term, doc) =
    * tf · ln(N / df), ranked per document on the 6-decimal-rounded
    * score with a term tie-break so the cutoff is deterministic and
    * engine-portable (same robustness pattern as the rounded cosines).
    *
    * Scale design (100 TB): `df` is derived from the already-aggregated
    * `tf` rows (tf rows are distinct per (doc, term), so a per-term row
    * count IS the document frequency) — never from a re-tokenize. The
    * tf table feeds two consumers; left alone, Catalyst's column
    * pruning rewrites the df branch into a DISTINCT-aggregate whose
    * exchange no longer canonicalizes equal to the tf branch's, so
    * ReuseExchange misses and the corpus is scanned + tokenized twice.
    * The always-true `tf >= 1` guard below (count(*) of a group is
    * never 0) pins the tf column into the df branch, the two exchange
    * subtrees stay identical, and ReuseExchange turns the tf shuffle
    * files themselves into the shared materialization — ONE corpus
    * scan, no cache, no checkpoint barrier (measured: the
    * localCheckpoint spelling of "one scan" is SLOWER than two scans —
    * the materialization barrier serializes what the shuffle overlap
    * pipelines). The score join is keyed on the term (vocab-sized
    * right side, AQE broadcasts it when small — a hot stopword is ONE
    * row there, so no skew) and the rank window is partitioned by
    * doc_id (WindowGroupLimit-capped) — per-document state only, never
    * a global sort.
    *
    * Returns `(doc_id, term, tf, df, score, rk)`, `rk <= k`.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // N rides the plan as a broadcast one-row scalar (the oracle's
    // CROSS JOIN n shape) instead of a blocking driver-side count job
    val nDf = docs.agg(count(lit(1)).cast(DoubleType).as("_n"))
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.filter(col("tf") >= 1)
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(docFreq, "term").crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("_n") / col("df")), 6).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
  }

  /** BM25 top-k retrieval (Robertson/Okapi, the Lucene `+1` idf
    * variant so every contribution is positive) for a literal query
    * term list — the "find the strongest matches in the corpus"
    * search primitive layered on the same tf/df statistics as
    * [[tfIdfTopK]] and the x62 inverted index.
    *
    * Environment-proof arithmetic contract (r12 hardening — the
    * driver's r11 hash gate disagreed with a locally-bit-identical
    * oracle, so every environment-sensitive surface is removed):
    *  - `k1`/`b` are taken as exact hundredths (`k1Pct`/`bPct`), so
    *    the tf-normalization factor is a ratio of EXACT integers:
    *    `tfn = tf·(k1Pct+100)·100·s /
    *           (10000·tf·s + k1Pct·(100−bPct)·s + k1Pct·bPct·dl·n)`
    *    (multiply num/den of `tf·(k1+1)/(tf+k1(1−b+b·dl·n/s))` by
    *    `10000·s`; `s = Σdl`, `n = |docs|`). ONE IEEE division of two
    *    exact integers — correctly rounded, bit-identical on any
    *    conforming engine, zero libm.
    *  - idf (Lucene `+1` variant) reduces algebraically to
    *    `ln((2n+2)/(2df+1))` — exact integer args, one division, one
    *    `ln` (the only libm call; ≤|queryTerms| distinct values,
    *    margin-pinned in Bm25MarginSpec).
    *  - Both factors are quantized `ROUND(·, 6) → DECIMAL(18,6)`; the
    *    contribution is `ROUND(idf_d · tfn_d, 6)` in EXACT decimal
    *    arithmetic (12-dp product, half-up — identical in both
    *    engines for positive values), and the per-doc sum is a
    *    DECIMAL(18,6) sum. Bm25MarginSpec pins every factor ≥1e-11
    *    (tfn) / ≥1e-8 (idf) from its 6-dp rounding boundary at both
    *    fixture SFs — ~10³–10⁷× the worst conforming-libm/round-impl
    *    skew (~1e-14) — so ANY conforming engine agrees bit-for-bit.
    *  - Exactness bound: the integer products stay below 2^53 while
    *    `tf·(k1Pct+100)·100·s < 9e15` (s ≈ 2e9 tokens at tf ≈ 50) —
    *    fine for the published-fixture contract; a 100 TB production
    *    scoring path would keep raw doubles (no cross-engine
    *    bit-equality requirement there).
    * Ties at the cutoff break on `doc_id`.
    *
    * Scale design (100 TB): the token explode is filtered to the
    * query terms BEFORE its aggregate, so the only corpus-sized
    * shuffle carries query-term hits only; `df` (≤ |query| rows) and
    * the (n, s) one-row stats frame ride the plan as broadcasts;
    * the final cut is a TakeOrdered, never a global sort. No driver
    * state beyond the query-term literal.
    *
    * Returns `(doc_id, dl, n_hit, score)`, the top `k` by
    * `(score DESC, doc_id)`.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1Pct: Int, bPct: Int, k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    require(k1Pct > 0 && bPct >= 0 && bPct <= 100,
      "k1Pct must be positive and bPct in [0, 100]")
    // null text is out of contract (size(null) = -1 would poison the
    // avgdl stats; SQL engines instead null-skip) — filter explicitly
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast(LongType).as("dl"),
        tokens(col(textCol)).as("toks"))
    val stats = base.agg(
      count(lit(1)).cast(LongType).as("_n"),
      sum(col("dl")).cast(LongType).as("_s"))
    val tf = base.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(docFreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        round(
          round(log((lit(2L) * col("_n") + lit(2L)).cast(DoubleType) /
              (lit(2L) * col("df") + lit(1L)).cast(DoubleType)), 6)
            .cast(DecimalType(18, 6)) *
          round((col("tf") * lit((k1Pct + 100) * 100L) * col("_s"))
              .cast(DoubleType) /
            (lit(10000L) * col("tf") * col("_s") +
              lit(k1Pct.toLong * (100 - bPct)) * col("_s") +
              lit(k1Pct.toLong * bPct) * col("dl") * col("_n"))
              .cast(DoubleType), 6)
            .cast(DecimalType(18, 6)), 6)
          .cast(DecimalType(18, 6)).as("c"))
    contrib.groupBy("doc_id", "dl")
      .agg(count(lit(1)).cast(LongType).as("n_hit"),
        sum(col("c")).cast(DecimalType(18, 6)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The frozen accent-fold table for [[normalizeText]] — an EXPLICIT
    * `translate` mapping (Latin-1 + common Latin Extended-A accented
    * letters → ASCII), not a library's NFD/strip-accents semantics:
    * both engines own `translate`, so the fold is deterministic by
    * construction with no unicode-library divergence surface
    * (İ-style special casings are simply not in the table).
    */
  val AccentFrom: String =
    "àáâãäåèéêëìíîïòóôõöùúûüýÿçñāēīōūăĕĭŏŭšžćłđ"
  val AccentTo: String =
    "aaaaaaeeeeiiiiooooouuuuyycnaeiouaeiouszcld"

  /** Text normalization — the standard pre-tokenization stage (CCNet
    * lowercases/folds before LM scoring; dedup keys normalize before
    * hashing): `lower → translate(accent fold) → collapse
    * [ \t\n\r]+ runs to one space → trim`. A pure chain of FOUR
    * codegen built-ins (no kernel needed — the functions-not-UDFs
    * rule), spelled identically in the oracle. Case folding relies on
    * the engines' shared simple mappings over the characters the fold
    * table covers; anything outside passes through untouched.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      translate(lower(text), AccentFrom, AccentTo),
      "[ \t\n\r]+", " "))

  /** Corpus-drift report: per-token contribution to the KL divergence
    * `KL(p‖q)` between two snapshots' add-one-smoothed unigram
    * distributions (`p` = old, `q` = new, both smoothed over the UNION
    * vocabulary) — the "did this crawl drop change what the corpus
    * looks like?" monitor a data team reads between snapshots, with
    * the tokens DRIVING the drift ranked by their signed contribution
    * `p·ln(p/q)` (positive = token lost mass, negative = gained).
    *
    * Determinism: counts are exact Longs; each contribution is ONE
    * per-row IEEE expression over them rounded at 6 dp (the x39 ln
    * precedent) — the oracle spells the identical tree.
    *
    * Scale: two map-side-combinable token-count aggregates (vocab-
    * sized results, never corpus-sized), one full-outer join of the
    * two vocab tables, one one-row stats frame riding as a broadcast.
    *
    * Returns `(token, c_old, c_new, contrib)` — one row per union-
    * vocabulary token.
    */
  def corpusKlReport(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String): DataFrame = {
    def counts(df: DataFrame, as: String): DataFrame =
      df.filter(col(textCol).isNotNull)
        .select(explode(tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(as))
    val j = counts(oldDocs, "_c1")
      .join(counts(newDocs, "_c2"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("_c1"), lit(0L)).as("c_old"),
        coalesce(col("_c2"), lit(0L)).as("c_new"))
    val stats = j.agg(sum(col("c_old")).as("_n1"),
      sum(col("c_new")).as("_n2"), count(lit(1)).as("_v"))
    val p = (col("c_old") + 1) / (col("_n1") + col("_v"))
    val q = (col("c_new") + 1) / (col("_n2") + col("_v"))
    j.crossJoin(broadcast(stats))
      .select(col("token"), col("c_old"), col("c_new"),
        round(p * log(p / q), 6).as("contrib"))
  }

  /** Population-Stability-Index drift report — the OTHER standard
    * production drift monitor next to [[corpusKlReport]]'s token KL:
    * where the KL report asks "which TOKENS moved", PSI asks "did
    * this SCORE's distribution move", bucketed — the gauge model-ops
    * teams alarm on (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * retrain). Per bucket of the integer `signal` (exact floor
    * division to a capped grid), the report publishes both sides'
    * exact counts and the signed PSI contribution
    * `(p − q)·ln(p/q)` over add-one-smoothed bucket distributions
    * (the x105 smoothing convention — every bucket of the FIXED grid
    * is live, so no ln(0)); total PSI is the reader's sum.
    *
    * Determinism: bucket ids and counts are exact integers; p and q
    * are exact-rational doubles (counts ≪ 2⁵³); each contribution is
    * ONE per-row IEEE chain rounded at 6 dp — the proven x105
    * portability class (RoundingMarginSpec measures the round site).
    *
    * Scale: two map-side-combinable bucket-count aggregates (grid-
    * sized results), one full-outer join on the bucket id over the
    * B-row grid, one broadcast one-row totals frame. The corpus is
    * touched exactly twice, everything downstream is B rows.
    *
    * Returns `(bucket, n_old, n_new, contrib)`, one row per bucket
    * observed on either side.
    */
  def psiDriftReport(oldDocs: DataFrame, newDocs: DataFrame,
      signal: Column, bucketWidth: Long, nBuckets: Int): DataFrame = {
    require(bucketWidth >= 1L && nBuckets >= 2,
      s"need bucketWidth >= 1 and nBuckets >= 2, " +
        s"got $bucketWidth/$nBuckets")
    // exact integer floor division (signals are non-negative by
    // contract, so Spark's truncating `div` and DuckDB's flooring
    // `//` agree) — never a double division, which could misbucket
    def counts(df: DataFrame, as: String): DataFrame =
      df.select(signal.cast(LongType).as("_s"))
        .select(least(expr(s"_s div ${bucketWidth}L"),
          lit(nBuckets - 1L)).cast(LongType).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(as))
    val j = counts(oldDocs, "_c1")
      .join(counts(newDocs, "_c2"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("_c1"), lit(0L)).as("n_old"),
        coalesce(col("_c2"), lit(0L)).as("n_new"))
    val stats = j.agg(sum(col("n_old")).as("_n1"),
      sum(col("n_new")).as("_n2"))
    val p = (col("n_old") + 1) / (col("_n1") + nBuckets)
    val q = (col("n_new") + 1) / (col("_n2") + nBuckets)
    j.crossJoin(broadcast(stats))
      .select(col("bucket"), col("n_old"), col("n_new"),
        round((p - q) * log(p / q), 6).as("contrib"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift test per stratum — the
    * third leg of the drift-monitor trio next to [[corpusKlReport]]
    * (which tokens moved) and [[psiDriftReport]] (did the bucketed
    * score move): KS asks the same question about the score's FULL
    * distribution, with no grid to tune and no smoothing — the supremum
    * ECDF gap `D = sup_v |F_old(v) − F_new(v)|` over the merged
    * support. Published EXACTLY in integers: per stratum
    * `d_num = max_v |n_new·C_old(v) − n_old·C_new(v)|` (the common-
    * denominator spelling of `n_old·n_new·D`) and
    * `ks_micros = d_num·10⁶ div (n_old·n_new)` — every operand an
    * exact BIGINT, no FP anywhere, so the row is unconditionally
    * portable (the x137/x143 class). Strata empty on either side
    * publish NULL micros.
    *
    * Ties are exact by construction: the per-(stratum, value) pre-
    * aggregate makes each merged-support point carry BOTH sides' full
    * count at that value, so the cumulative window IS the ECDF step
    * function evaluated at (and only at) its jump points — where the
    * supremum of a right-continuous step difference lives.
    *
    * Long headroom: `d_num·10⁶ ≤ n_old·n_new·10⁶` must stay below
    * 2⁶³, i.e. `n_old·n_new ≤ 9.2·10¹²` (~3·10⁶ rows per side per
    * stratum). Sample above that — the x112/x137 convention; the
    * fixture is ~4 orders below the bound.
    *
    * Scale: ONE map-side-combinable (stratum, value) aggregate
    * (support-sized, ≪ corpus), then ONE stratum-keyed exchange serves
    * both cumulative windows AND the per-stratum totals window (same
    * partitioning — one Exchange, no join anywhere), then a stratum-
    * sized final aggregate.
    *
    * Returns `(stratum, n_old, n_new, d_num, ks_micros)`.
    */
  def ksDriftReport(oldDocs: DataFrame, newDocs: DataFrame,
      strataCol: String, signal: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, old: Boolean): DataFrame =
      df.select(col(strataCol).as("stratum"),
        signal.cast(LongType).as("_v"),
        lit(if (old) 1L else 0L).as("_o"))
    val merged = side(oldDocs, old = true)
      .unionByName(side(newDocs, old = false))
      .groupBy("stratum", "_v")
      .agg(sum(col("_o")).as("_a"),
        sum(lit(1L) - col("_o")).as("_b"))
    val cum = Window.partitionBy(col("stratum")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("stratum"))
    val stepped = merged
      .withColumn("_ca", sum(col("_a")).over(cum))
      .withColumn("_cb", sum(col("_b")).over(cum))
      .withColumn("_n1", sum(col("_a")).over(tot))
      .withColumn("_n2", sum(col("_b")).over(tot))
    stepped
      .groupBy(col("stratum"))
      .agg(max(col("_n1")).as("n_old"), max(col("_n2")).as("n_new"),
        max(abs(col("_n2") * col("_ca") - col("_n1") * col("_cb")))
          .as("d_num"))
      .withColumn("ks_micros",
        when(col("n_old") === 0L || col("n_new") === 0L,
          lit(null).cast(LongType))
          .otherwise(expr("(d_num * 1000000) div (n_old * n_new)")))
  }

  /** Term-burstiness spectrum per stratum (Church & Gale 1995): for
    * each vocabulary type, burstiness = ⌊cf / df⌋ — its total
    * occurrence count over the number of documents it appears in. A
    * ratio near 1 marks evenly-spread function-ish words; high ratios
    * mark topical/template terms that "burst" inside few documents —
    * exactly the mass that inflates naive frequency statistics and
    * that boilerplate/repetition filters (x41, x45, x133) act on.
    * The spectrum folds the vocab-sized table onto the exact base-2
    * grid the inter-arrival op proved portable (bucket =
    * `length(bin(ratio))`, a string length both engines compute
    * identically — zero libm) and publishes per (stratum, bucket) the
    * type count and both exact masses, plus the bucket's inclusive
    * ratio range. All-integer end-to-end: cf, df, the floor-divided
    * ratio (operands positive, truncate ≡ floor) and the shifts are
    * exact BIGINTs — unconditionally portable.
    *
    * Scale: the corpus collapses FIRST to the (stratum, doc, token)
    * occurrence table (map-side combinable), then to the Heaps-
    * sublinear (stratum, token) vocab table; the spectrum is
    * (strata × ~40 buckets)-sized. No windows, no joins.
    *
    * Returns `(stratum, bucket, n_types, total_cf, total_df,
    * lo_ratio, hi_ratio)`.
    */
  def burstinessSpectrum(docs: DataFrame, strataCol: String,
      idCol: String, textCol: String): DataFrame = {
    val occ = docs
      .select(col(strataCol).as("stratum"), col(idCol).as("_d"),
        explode(tokens(col(textCol))).as("_t"))
      .filter(col("_t") =!= "")
      .groupBy("stratum", "_d", "_t").agg(count(lit(1)).as("_c"))
    val vocab = occ.groupBy("stratum", "_t")
      .agg(sum(col("_c")).as("_cf"), count(lit(1)).as("_df"))
      .withColumn("_r", expr("_cf div _df"))
      .withColumn("bucket", length(bin(col("_r"))).cast(LongType))
    vocab.groupBy("stratum", "bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("_cf")).as("total_cf"),
        sum(col("_df")).as("total_df"))
      .select(col("stratum"), col("bucket"), col("n_types"),
        col("total_cf"), col("total_df"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) - 1)")
          .cast(LongType).as("lo_ratio"),
        (expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))") -
          1L).cast(LongType).as("hi_ratio"))
  }

  /** Document-length spectrum per stratum — the composition histogram
    * read before packing (x66/x117), chunking (x42) or setting
    * length-based quality gates (x91): per (stratum, base-2 bucket of
    * the integer `signal`) the document count and the exact total
    * signal mass in the bucket, with the bucket's inclusive range.
    * Same exact `length(bin(·))` grid as [[burstinessSpectrum]] and
    * the x142 inter-arrival spectrum (non-positive signals land in
    * bucket 0); all-integer, unconditionally portable.
    *
    * Scale: ONE map-side-combinable aggregate to the
    * (strata × ~40)-row grid; a stateless per-row projection before
    * it. Nothing else.
    *
    * Returns `(stratum, bucket, n_docs, total_mass, lo, hi)`.
    */
  def lengthSpectrum(docs: DataFrame, strataCol: String,
      signal: Column): DataFrame = {
    val s = signal.cast(LongType)
    val bucket = when(s <= 0L, lit(0L))
      .otherwise(length(bin(s)).cast(LongType))
    docs.select(col(strataCol).as("stratum"), bucket.as("bucket"),
        s.as("_m"))
      .groupBy("stratum", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("_m")).as("total_mass"))
      .select(col("stratum"), col("bucket"), col("n_docs"),
        col("total_mass"),
        when(col("bucket") === 0L, 0L)
          .otherwise(expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) - 1)"))
          .cast(LongType).as("lo"),
        when(col("bucket") === 0L, 0L)
          .otherwise(expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))") - 1L)
          .cast(LongType).as("hi"))
  }

  /** Blocklist gate (C4/UT1 shape): count frozen-phrase hits per
    * document with the [[graft.functions.BlocklistKernel]] one-pass
    * scan and keep the hit-free docs. Substring semantics with
    * replace-count occurrence counting (non-overlapping,
    * left-to-right) — phrase lists encode word boundaries with their
    * own spaces. Pure per-row projection: zero shuffle, no state
    * beyond the bounded pattern literal.
    *
    * Returns `(doc_id, n_hits, keep)` with `keep = 1` iff no hit.
    */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.BlocklistFunctions
          .blocklistHits(col(textCol), patterns).as("n_hits"))
      .withColumn("keep",
        when(col("n_hits") === 0L, lit(1L)).otherwise(lit(0L)))

  /** Executable spec for [[graft.functions.BlocklistKernel]]: the
    * portable HOF spelling — per pattern
    * `(len(text) − len(replace(text, p, ''))) / len(p)`, summed via
    * `aggregate` — that the kernel is property-pinned against (and
    * the oracle spells verbatim). Integer-valued by construction, so
    * the double division is exact.
    */
  def blocklistHitsSpec(text: Column, patterns: Seq[String]): Column =
    aggregate(
      array(patterns.map(lit): _*), lit(0L),
      (acc, p) => acc + ((length(text) - length(replace(text, p, lit(""))))
        / length(p)).cast(LongType))

  /** Vocabulary coverage / OOV-rate scoring — the "will my tokenizer
    * cover this corpus?" check run before committing a vocabulary:
    * build the top-`k` corpus vocabulary (by occurrence count, token
    * string as the deterministic tie-break), then score every document
    * by how many of its token OCCURRENCES fall outside it. High OOV
    * rate is a quality signal in its own right (CCNet-style: gibberish
    * and wrong-language text score high) and an input to vocab sizing.
    *
    * Returns `(doc_id, n_tokens, n_oov, oov_rate)`; `oov_rate` is one
    * IEEE division of two exact longs — bit-deterministic across
    * engines, no DECIMAL routing needed.
    *
    * Scale design (100 TB): one tokenize+count aggregate for the vocab
    * (map-side combinable; the top-k is a bounded TakeOrdered, never a
    * global sort), the vocab side is k rows → BROADCAST join against
    * the exploded tokens (map-side, no shuffle), then one partial-agg
    * groupBy doc_id. No driver-side vocabulary state in the plan path.
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"vocabulary size k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("tok").asc)
      .limit(k)
      .select(col("tok"), lit(1).as("_inv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / col("n_tokens"))
  }

  /** PII patterns restricted to the syntax subset on which Java regex
    * (Spark) and RE2 (DuckDB/Go engines) agree on both syntax AND match
    * semantics: greedy character-class quantifiers with no alternation
    * overlap, where leftmost-first (Java) and leftmost-longest (RE2)
    * pick identical spans. `\b` is the ASCII word boundary in both.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  /** One-pass PII scan — `struct(n_emails, n_ips, redacted)` from the
    * native [[graft.functions.PiiKernel]] byte-scan (no java.util.regex
    * on the hot path; the regex spellings below are the executable
    * spec it is property-pinned against). Counts are over the raw
    * text; `redacted` is the email-then-IP nested-replace contract.
    */
  def piiScan(text: Column): Column =
    graft.functions.PiiFunctions.piiScan(text)

  def emailCount(text: Column): Column = piiScan(text).getField("n_emails")

  def ipv4Count(text: Column): Column = piiScan(text).getField("n_ips")

  /** Redact every email, then every IPv4 literal — the pre-training
    * scrub pass. Order matters and is part of the contract: the email
    * pass runs first so a digits-only local part can't be half-eaten
    * by the IP pass. Pure per-row codegen projection — zero shuffle,
    * scales linearly.
    */
  def piiRedact(text: Column): Column = piiScan(text).getField("redacted")

  /** Regex spellings of [[emailCount]]/[[ipv4Count]]/[[piiRedact]] —
    * kept as the executable specification the kernel is property-tested
    * against, and the exact SQL shape the DuckDB oracle runs.
    */
  def emailCountSpec(text: Column): Column =
    regexp_count(text, lit(emailPattern)).cast(LongType)

  def ipv4CountSpec(text: Column): Column =
    regexp_count(text, lit(ipv4Pattern)).cast(LongType)

  def piiRedactSpec(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
      lit(ipv4Pattern), lit("<IP>"))

  /** HTML main-content extraction — the trafilatura/jusText curation
    * stage as one deterministic text-density rule (strip script/style/
    * comments, split on tags, decode the five standard entities, keep
    * blocks of >= 30 code points whose alphanumeric density is >= 1/2).
    * Returns `struct(n_blocks, n_kept, main_text)`. Runs as the native
    * codegen [[graft.functions.HtmlKernel]] scan — one pass over the
    * markup instead of the spec's three whole-document regex passes +
    * tag split + per-fragment HOF chain. Pure per-row projection:
    * zero shuffle, scales linearly, stays inside whole-stage codegen.
    */
  def htmlMainContent(html: Column): Column =
    graft.functions.HtmlFunctions.htmlMainContent(html)

  /** The regex/HOF spelling of [[htmlMainContent]] — the executable
    * specification the kernel is property-pinned against
    * (KernelPropertySpec) and the exact shape the x89 DuckDB oracle
    * runs (Java/RE2-common constructs only: no backreferences, which
    * is why script and style strip as two sequential passes).
    */
  def htmlMainContentSpec(html: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", ""),
      "(?s)<style[^>]*>.*?</style>", ""),
      "(?s)<!--.*?-->", "")
    val decoded = (f: Column) =>
      replace(replace(replace(replace(replace(f,
        lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
        lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
        lit("&amp;"), lit("&"))
    val frags = transform(split(cleaned, "<[^>]*>", -1),
      f => trim(decoded(f)))
    val blocks = filter(frags, t => length(t) > 0)
    val kept = filter(blocks, t => length(t) >= 30 &&
      length(regexp_replace(t, "[^A-Za-z0-9]", "")) * 2 >= length(t))
    struct(size(blocks).cast(LongType).as("n_blocks"),
      size(kept).cast(LongType).as("n_kept"),
      array_join(kept, "\n").as("main_text"))
  }

  /** The nine Gopher quality signals in one native codegen scan — see
    * [[graft.functions.GopherKernel]] for the shared conventions
    * (single-space words, 8-word lines, code-point lengths).
    * `struct(n_words, sum_word_len, n_alpha_words, n_stop, n_hash,
    * n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines)`.
    */
  def gopherSignals(text: Column): Column =
    graft.functions.GopherFunctions.gopherSignals(text)

  /** The HOF/replace spelling of [[gopherSignals]] — the executable
    * specification the kernel is property-pinned against
    * (KernelPropertySpec) and the exact shape the x91 DuckDB oracle
    * runs: one split, five HOF passes over it, two whole-text replace
    * diffs, and the 8-word line index walk.
    */
  def gopherSignalsSpec(text: Column): Column = {
    val toks = split(text, " ", -1)
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) =>
      acc + length(t).cast(LongType))
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast(LongType)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
      .cast(LongType)
    val nHash = (length(text) -
      length(replace(text, lit("#"), lit("")))).cast(LongType)
    val nEllipsis = ((length(text) -
      length(replace(text, lit("..."), lit("")))) / 3).cast(LongType)
    val nLines = floor((n.cast(LongType) + lit(7L)) / lit(8L))
      .cast(LongType)
    val lineIdx = sequence(lit(0), ((n + lit(7)) / lit(8))
      .cast(IntegerType) - lit(1))
    val firstTok = (i: Column) => element_at(toks, i * lit(8) + lit(1))
    val lastTok = (i: Column) =>
      element_at(toks, least(i * lit(8) + lit(8), n))
    val nBullet = size(filter(lineIdx, i =>
      firstTok(i).substr(lit(1), lit(1)).isin("-", "*"))).cast(LongType)
    val nEllLines = size(filter(lineIdx, i =>
      lastTok(i).endsWith("..."))).cast(LongType)
    struct(n.cast(LongType).as("n_words"), sumLen.as("sum_word_len"),
      nAlpha.as("n_alpha_words"), nStop.as("n_stop"),
      nHash.as("n_hash"), nEllipsis.as("n_ellipsis"),
      nLines.as("n_lines"), nBullet.as("n_bullet_lines"),
      nEllLines.as("n_ellipsis_lines"))
  }

  /** Gopher rule-suite verdict per document (Rae et al. 2021, App. A —
    * the standard pre-training quality gate): the nine kernel signals
    * projected to the published thresholds. A document FAILS a rule
    * when: word count outside [50, 100000]; mean word length outside
    * [3, 10]; symbol-to-word ratio (`#` + `...`) above 0.1; more than
    * 90% of lines bullet-started; more than 30% of lines
    * ellipsis-ended; fewer than 80% of words alphabetic; fewer than 2
    * stopword hits. `pass_flag = 1` iff no rule fails. Pure per-row
    * projection over the one kernel scan: zero shuffle, linear scale,
    * whole-stage codegen. All ratios are exact-integer / exact-integer
    * IEEE divisions, bit-deterministic across engines.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sel = docs.select(col(idCol), gopherSignals(col(textCol)).as("g"))
      .select(col(idCol), col("g.*"))
    val mean = col("sum_word_len").cast(DoubleType) / col("n_words")
    val sym = (col("n_hash") + col("n_ellipsis")).cast(DoubleType) /
      col("n_words")
    val alpha = col("n_alpha_words").cast(DoubleType) / col("n_words")
    val bullet = col("n_bullet_lines").cast(DoubleType) / col("n_lines")
    val ellipsis = col("n_ellipsis_lines").cast(DoubleType) /
      col("n_lines")
    val flags = Seq(
      col("n_words") < 50L || col("n_words") > 100000L,
      mean < 3.0 || mean > 10.0,
      sym > 0.1,
      bullet > 0.9,
      ellipsis > 0.3,
      alpha < 0.8,
      col("n_stop") < 2L)
    val nFlags = flags.map(f => when(f, 1L).otherwise(0L)).reduce(_ + _)
    sel.select(col(idCol), col("n_words"),
      mean.as("mean_word_len"), sym.as("symbol_ratio"),
      alpha.as("alpha_frac"), bullet.as("bullet_frac"),
      ellipsis.as("ellipsis_frac"), col("n_stop").as("stop_hits"),
      nFlags.as("n_flags"),
      when(nFlags === 0L, 1L).otherwise(0L).as("pass_flag"))
  }

  /** MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes, keep each window's MINIMUM, distinct the
    * selections. Guarantee: two documents sharing any run of at least
    * w+k−1 tokens share at least one fingerprint — the detection
    * contract plagiarism/overlap scanners are built on — while storing
    * only ~2/(w+1) of the gram hashes. md5 gram hashes keep the whole
    * computation engine-portable (lexicographic min over hex digests),
    * and string min is collation-free binary comparison in both Spark
    * and DuckDB.
    *
    * The sliding min + distinct selection runs as the native
    * monotonic-deque kernel
    * [[graft.functions.SketchKernels.windowMinDistinct]] — amortized
    * O(grams) per document, replacing the former zip_with chain's w−1
    * intermediate arrays and O(grams·w) `least()` evaluations; the
    * chain survives as [[winnowingFingerprintsSpec]], the executable
    * specification the kernel is property-pinned against (ChunkingSpec)
    * and the shape the DuckDB oracle runs. Pure per-row projection +
    * explode: zero shuffle; dedup/overlap joins downstream shuffle only
    * the selected fingerprints. Documents shorter than w+k−1 tokens
    * yield no rows.
    *
    * Returns `(doc_id, fp)` — one row per distinct fingerprint.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.HashFunctions.windowMinDistinct(
          graft.functions.HashFunctions.ngramMd5(
            tokens(col(textCol)), k), w)).as("fp"))
  }

  /** The zip_with-chain spelling of [[winnowingFingerprints]] — kept as
    * the executable specification the deque kernel is property-tested
    * against, and the exact shape the DuckDB oracle runs. (w−1 passes
    * binding materialized attributes once per row — never a
    * transform-over-indices lambda re-evaluating its capture per
    * element.)
    */
  def winnowingFingerprintsSpec(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val base = docs.select(col(idCol).as("doc_id"),
      transform(ngrams(tokens(col(textCol)), k, keepPartial = false),
        g => md5(g)).as("_hs"))
    // least() skips nulls, so zip_with's null tail-padding cannot win a
    // window; the final slice cuts the partial windows regardless
    val mins = (1 until w).foldLeft(col("_hs")) { (acc, j) =>
      zip_with(acc,
        slice(col("_hs"), lit(j + 1), greatest(size(col("_hs")) - j, lit(0))),
        (a, b) => least(a, b))
    }
    base.select(col("doc_id"),
        explode(array_distinct(slice(mins, lit(1),
          greatest(size(col("_hs")) - (w - 1), lit(0))))).as("fp"))
  }

  /** Hashing-trick (feature-hashing) sparse vectorizer — the classic
    * fixed-width text featurization (Weinberger et al., ICML'09): each
    * token maps to bucket = rollingHash(token) mod dim and the document
    * becomes its bucket-count vector, emitted SPARSE as one
    * `(doc_id, bucket, tf)` row per non-zero bucket. No vocabulary
    * pass, no dictionary state — the property that lets it run over an
    * unbounded corpus in one projection + one partial-agg groupBy. Uses
    * the same engine-portable rolling hash as [[fingerprint]], so an
    * oracle spells the identical bucketing.
    */
  def hashedTf(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "dim must be > 0")
    docs.select(col(idCol).as("doc_id"),
        explode(transform(tokens(col(textCol)),
          t => pmod(fingerprint(t), lit(dim.toLong)))).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-document novelty score — the inverse of boilerplate-ness: the
    * fraction of a document's distinct k-shingles that occur in NO
    * other document (corpus document-frequency 1). Curation pipelines
    * use it to upweight genuinely novel content and as a memorization-
    * risk proxy (a doc of df-1 shingles is the only source of those
    * spans). Returns `(doc_id, n_shingles, n_unique, novelty)`;
    * `novelty` is one IEEE division of exact longs.
    *
    * Scale design (100 TB): (doc, shingle) rows meet in ONE shuffle on
    * the shingle key; a df-1 shingle's owner is recovered from the same
    * aggregate (`min(doc)` of a size-1 group IS the group), so no
    * second join of the corpus against the shingle table — just a
    * per-doc count of owned-unique shingles joined back to the per-doc
    * totals. Boilerplate shingles skew nothing: groups only COUNT.
    */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      k: Int, hashed: Boolean = true): DataFrame = {
    // production keys the df aggregate on 8-byte one-pass ngram hashes;
    // `hashed = false` keys it on gram strings — identical counts
    // modulo ~2^-64 collisions (the standing hashed≡string argument,
    // property-pinned in TfIdfSpec), and the oracle-portable spelling
    val grams: Column =
      if (hashed) array_distinct(graft.functions.HashFunctions.ngramHashes(
        tokens(col(textCol)), k, keepPartial = true))
      else Dedup.shingles(col(textCol), k)
    val rows = docs.select(col(idCol).as("doc_id"),
      explode(grams).as("sk"))
    val totals = rows.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val unique = rows.groupBy("sk")
      .agg(count(lit(1)).as("_df"), min(col("doc_id")).as("doc_id"))
      .filter(col("_df") === 1L)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_unique"))
    totals.join(unique, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast(DoubleType) / col("n_shingles"))
  }

  /** Top-k PMI collocations — corpus-level analytics for tokenizer and
    * quality work: which adjacent token pairs co-occur far more than
    * chance (merge candidates, boilerplate phrases, multi-word
    * entities). PMI(a,b) = ln(P(ab) / (P(a)·P(b))) over adjacent-bigram
    * and unigram OCCURRENCE counts, rounded to 6 dp (the x39 log
    * precedent: ln on identical doubles is portable at 6 dp) and
    * ranked on the ROUNDED value with a (w1, w2) tie-break so the
    * cutoff is deterministic. `minPairCount` drops rare-pair noise
    * (classic PMI failure mode: hapax pairs score highest).
    *
    * Scale design (100 TB): two explode+count aggregates (map-side
    * combinable), corpus totals via one-row broadcast cross joins (no
    * driver collect), two token-keyed joins of the bigram table
    * against the unigram counts, one bounded TakeOrdered. Nothing
    * holds per-group state beyond a count.
    */
  def pmiTopK(docs: DataFrame, textCol: String, minPairCount: Long,
      k: Int): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("_t"))
    val uni = toks.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val biAll = toks
      .select(explode(zip_with(
        slice(col("_t"), lit(1), greatest(size(col("_t")) - 1, lit(0))),
        slice(col("_t"), lit(2), greatest(size(col("_t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val bi = biAll.filter(col("c2") >= minPairCount)
    val nTok = uni.agg(sum(col("c")).cast(DoubleType).as("n_tok"))
    // P(ab) is over ALL adjacent bigrams: the total is taken before the
    // min-count filter, which only prunes which pairs get REPORTED
    val nBi = biAll.agg(sum(col("c2")).cast(DoubleType).as("n_bi"))
    // the unigram side is vocabulary-sized (data-dependent): no explicit
    // broadcast — AQE broadcasts it at fixture scale and degrades to a
    // shuffle join when a corpus's vocabulary outgrows the threshold
    bi.join(uni.select(col("w").as("w1"), col("c").as("_ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("_cb")), "w2")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c2").as("pair_count"),
        round(log(col("c2").cast(DoubleType) * col("n_tok") * col("n_tok") /
          (col("n_bi") * col("_ca") * col("_cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Add-one-smoothed bigram LM score per document — the CCNet/
    * KenLM-style "perplexity filter" a web-scale pipeline runs to rank
    * documents by how typical their language is of the corpus (high
    * average negative log-likelihood = atypical = candidate for
    * filtering or down-weighting). The model IS the corpus: smoothed
    * conditional bigram probabilities
    * `nll(w1 w2) = -ln((c(w1,w2) + 1) / (prefix(w1) + V))` with
    * `prefix(w1)` = corpus occurrences of `w1` as a bigram prefix and
    * `V` = the bigram-participating vocabulary; per-doc score = mean
    * over the document's adjacent bigrams.
    *
    * Cross-engine determinism: each bigram's nll is per-row IEEE
    * arithmetic on exact integer counts, rounded at 6 dp (the x39/x63
    * ln precedent); the per-doc mean routes the rounded values through
    * DECIMAL(18,6) (weighted by multiplicity — exact) so summation
    * order cannot move the hash.
    *
    * Scale design (100 TB): the corpus tokenizes exactly TWICE — once
    * into the model (bigram counts: map-side-combinable, so the
    * exchange moves ~distinct-pairs, not corpus rows; a boilerplate
    * bigram is ONE row on the count side, so no skew) and once as the
    * scoring probe, which joins the scored model directly. The prefix
    * totals and the vocabulary size both come from ONE aggregate pass
    * over the model table (each bigram exploded into its two token
    * positions; V is that aggregate's row count — no second model
    * scan, no count_distinct expand), and the model is lazily
    * `localCheckpoint`ed so its two consumers share one
    * materialization (measured at sf0.1: the barrier now WINS even at
    * fixture scale — 0.63 s vs 0.80 s without — because the one-pass
    * stats chain removed the stages that used to hide behind it;
    * round 7's barrier-costs-more note is obsolete. Checkpoint blocks
    * are released by LRU eviction from the per-session
    * [[LmSlotCapacity]]-entry cache — [[lmSlotGetOrBuild]] — so
    * repeated scoring loops retain a few models, not N). nll is
    * computed once per
    * DISTINCT bigram. The probe-side join carries an explicit
    * broadcast hint ONLY while the input's estimated size is under
    * [[LmBroadcastHintMaxInputBytes]] — there the model provably fits
    * (a hint is a command, not a suggestion: forced on a 100 TB
    * corpus's billion-bigram model it would OOM the driver); above it
    * AQE broadcasts while the model fits and degrades to a shuffle
    * join when the bigram vocabulary outgrows that. No driver state.
    *
    * Returns `(doc_id, n_bigrams, avg_nll)` — one row per document
    * with at least one bigram (>= 2 tokens).
    */
  /** Adjacent n-gram STRUCT array `[(w1..wn), ...]` built inside ONE
    * `transform` over the position array — the r16 respelling of the
    * old explode(sequence)-then-element_at extraction, which made
    * every generated row carry the FULL token array until the
    * downstream projection: a docLen× row-copy amplification inside
    * the generator stage (the exact class the r15 tokenChunks fix
    * measured at 13.6× wall growth on a 10× fixture — quadratic
    * bytes-in-stage on book-length documents). Here the generator
    * emits slim n-token structs only; bytes-in-stage is O(tokens·n),
    * never O(tokens·docLen). The lambda captures `t` as a bound
    * attribute (O(1) per element) — the ~10× interpreted-HOF hazard
    * [[ngrams]] documents applies to RECOMPUTED captures (a split
    * re-run per element), not to a materialized column reference.
    * Docs with < n tokens yield the typed empty array (the
    * sequence(1,0)-counts-DOWN guard, unchanged).
    */
  private def gramStructArr(t: Column, n: Int): Column =
    when(size(t) > (n - 1),
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => struct((0 until n).map(j =>
          element_at(t, i + j).as(s"w${j + 1}")): _*)))
      .otherwise(array().cast(ArrayType(StructType(
        (1 to n).map(j => StructField(s"w$j", StringType))))))

  /** Shared adjacent n-gram ROW extractor: `(doc_id[, carry],
    * w1..wn)` — one spelling for all five public shapes so the
    * generator-amplification fix cannot drift per-order.
    */
  private def gramRows(docs: DataFrame, idCol: String,
      textCol: String, carryCol: Option[String], n: Int,
      tokenize: Column => Column): DataFrame = {
    val head = col(idCol).as("doc_id") ::
      carryCol.map(c => col(c).as("carry")).toList
    val out = col("doc_id") :: carryCol.map(_ => col("carry")).toList
    docs.filter(col(textCol).isNotNull)
      .select(head :+ tokenize(col(textCol)).as("_t"): _*)
      .select(out :+ explode(gramStructArr(col("_t"), n)).as("_g"): _*)
      .select(out ++ (1 to n).map(j =>
        col(s"_g.w$j").as(s"w$j")): _*)
  }

  /** Adjacent-bigram rows `(doc_id, w1, w2)` — [[gramRows]] at n=2;
    * docs with < 2 tokens yield no rows.
    */
  private[graft] def bigramRows(docs: DataFrame, idCol: String,
      textCol: String, tokenize: Column => Column): DataFrame =
    gramRows(docs, idCol, textCol, None, 2, tokenize)

  /** [[bigramRows]] with one carried-through column (as `carry`) —
    * the online CCNet gate needs the language riding next to each
    * bigram so the per-doc fold can bucket without a second join.
    */
  private[graft] def bigramRowsWith(docs: DataFrame, idCol: String,
      textCol: String, carryCol: String,
      tokenize: Column => Column): DataFrame =
    gramRows(docs, idCol, textCol, Some(carryCol), 2, tokenize)

  /** Adjacent-trigram rows `(doc_id, w1, w2, w3)` — [[gramRows]] at
    * n=3; docs with < 3 tokens yield no rows.
    */
  private[graft] def trigramRows(docs: DataFrame, idCol: String,
      textCol: String, tokenize: Column => Column): DataFrame =
    gramRows(docs, idCol, textCol, None, 3, tokenize)

  /** Adjacent-5-gram rows `(doc_id, w1..w5)` — [[gramRows]] at n=5;
    * docs with < 5 tokens yield no rows.
    */
  private[graft] def fivegramRows(docs: DataFrame, idCol: String,
      textCol: String, tokenize: Column => Column): DataFrame =
    gramRows(docs, idCol, textCol, None, 5, tokenize)

  /** [[trigramRows]] with one carried-through column (as `carry`) —
    * the online KN gate needs the language riding next to each
    * trigram (the [[bigramRowsWith]] pattern one order up).
    */
  private[graft] def trigramRowsWith(docs: DataFrame, idCol: String,
      textCol: String, carryCol: String,
      tokenize: Column => Column): DataFrame =
    gramRows(docs, idCol, textCol, Some(carryCol), 3, tokenize)

  /** Inputs estimated (Catalyst plan stats — file sizes for a scan)
    * at or under this get an explicit broadcast hint on the
    * probe ⋈ scored-model join: a ≤1 GiB corpus's distinct-bigram
    * model is certainly broadcastable, and without the hint the
    * planner is free to broadcast the PROBE side instead (it did, at
    * fixture scale — the wrong side everywhere but a toy). Above the
    * threshold no hint: AQE picks, and degrades to a shuffle join
    * when the model outgrows broadcast.
    */
  private[graft] val LmBroadcastHintMaxInputBytes: BigInt = BigInt(1L << 30)

  /** Per-token model stats in ONE pass over the bigram table: each
    * bigram contributes its count at both token positions; `cu` (the
    * bigram-prefix total) sums only the position-0 contributions and is
    * null for tokens never seen as a prefix. The aggregate's row count
    * IS the bigram-participating vocabulary size V.
    */
  private def lmTokenStats(big: DataFrame): DataFrame =
    big.select(explode(array(
        struct(lit(0).as("pos"), col("w1").as("w"), col("cb")),
        struct(lit(1).as("pos"), col("w2").as("w"), col("cb")))).as("e"))
      .groupBy(col("e.w").as("w"))
      .agg(sum(when(col("e.pos") === 0, col("e.cb"))).as("cu"))

  /** Unpersists the cached blocks behind a `localCheckpoint`ed
    * DataFrame (non-blocking). `localCheckpoint` truncates lineage, so
    * the DataFrame — and any plan built on it — must not be computed
    * again afterwards; same contract as [[Clusters]]' per-round
    * unpersist (`Clusters.scala`).
    */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Checkpointed LM tables PER SparkSession — r14: a small LRU cache
    * of [[LmSlotCapacity]] entries (was ONE slot in r12/r13), released
    * on eviction — the Clusters round pattern, bounding block
    * retention at a few model tables per session no matter how many
    * times a bench/pipeline loop re-scores. Keyed by session rather
    * than one JVM-global map: with a global map, lmQuality(B) could
    * evict blocks still backing a live frame returned by lmQuality(A)
    * in another session. NOTE the value DataFrame strongly references
    * its own session, so weak keys alone would never collect an entry;
    * stopped sessions are purged explicitly on each call instead (the
    * entry is only a plan + session handle — its cached blocks died
    * with the session's executors, so a purge needs no unpersist).
    *
    * Each entry carries a CORPUS KEY (md5 of the canonicalized input
    * plan + the tokenizer's canonical expression + the table kind), so
    * a call scoring the SAME corpus REUSES the live checkpoint instead
    * of rebuilding — x115 runs the full x111 model chain, x92/x96/x109
    * re-run x73's, and a bench/pipeline loop re-scores one corpus many
    * times; the corpus scan + model aggregates all come for free on a
    * key hit. r15 also slots the SCORED model tables (the windowed
    * nlp chain — "…-scored" kinds), so a same-corpus re-score skips
    * the whole serial model-stage chain, not just the corpus scan:
    * one corpus can hold up to seven live keys at once (bigram-model
    * rows, trigram rows, fivegram rows, and the four scored tables —
    * add-one + KN bigram, KN trigram, KN 5-gram). Capacity 8 keeps a
    * full single-corpus family set resident (the r13 single slot made
    * x124 and x128 evict each other every pass — the 5.7 s x124 row);
    * entries are model-sized (vocab-bounded) so eight of them stay
    * cheap, and any further distinct corpus/tokenizer/kind evicts the
    * least-recently-used occupant — which, since r15, only costs a
    * recompute.
    *
    * Concurrency (r14, the r13 ADVICE item): lookup-or-build-and-
    * install is ONE compute-if-absent under the cache lock —
    * `localCheckpoint(eager = false)` only CONSTRUCTS the plan (no
    * job runs under the lock), so two concurrent same-session lm
    * calls can no longer both build and release each other's live
    * checkpoint.
    *
    * Documented contract: (a) a returned frame is valid for the LIFE
    * OF THE SESSION — slots hold `persist(MEMORY_AND_DISK)` frames
    * (r15; was `localCheckpoint` through r14), so LRU eviction merely
    * unpersists the cache and a still-live frame transparently
    * RECOMPUTES from lineage on its next action instead of dying with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (the r14 race: eviction
    * destroyed blocks backing frames already returned to callers).
    * Anything wanting an explicit lifetime should build an
    * [[LmModel]]/[[Kn3Model]] and `release()` it. (b) Reuse assumes
    * the INPUT IS
    * IMMUTABLE within the session: the corpus key identifies the
    * PLAN, not the data — re-reading a path whose underlying files
    * changed mid-session yields the same key and would serve the
    * stale checkpoint. Parquet fixtures and production snapshot dirs
    * are write-once, satisfying this; for mutable tables, change the
    * path/view per snapshot (the x53/x69 snapshot pattern) so the
    * plan — and hence the key — changes with the data.
    */
  private[graft] val LmSlotCapacity = 8

  /** Session conf overriding [[LmSlotCapacity]] (r16, VERDICT r15
    * item 8): the default 8 keeps ONE corpus's full model-family set
    * resident (three gram tables + four scored tables + headroom); a
    * pipeline scoring SEVERAL corpora concurrently needs more slots
    * or it thrashes — correct but slow (recompute-on-miss), and
    * silent until now. Set `spark.graft.lm.slotCapacity` to the
    * number of concurrently-scored corpora × ~7; watch the hit/miss
    * counters this cache logs on every miss to see the thrash.
    */
  private[graft] val LmSlotCapacityConf = "spark.graft.lm.slotCapacity"

  private def lmSlotCapacity(session: SparkSession): Int = {
    val v = session.conf.get(LmSlotCapacityConf, LmSlotCapacity.toString)
    val n = try v.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$LmSlotCapacityConf must be a positive int, got '$v'")
    }
    require(n >= 1, s"$LmSlotCapacityConf must be >= 1, got $n")
    n
  }

  private final case class LmSlot(key: String, frame: DataFrame)

  /** Per-session slot deque + hit/miss counters (all mutation under
    * the [[lmCheckpoints]] lock).
    */
  private final class LmSessionCache {
    val slots = new java.util.ArrayDeque[LmSlot]()
    var hits = 0L
    var misses = 0L
  }

  private val lmLog =
    org.slf4j.LoggerFactory.getLogger("graft.ops.TextAnalysis.lmSlots")

  private val lmCheckpoints =
    new java.util.WeakHashMap[SparkSession, LmSessionCache]()

  /** Cumulative (hits, misses) of the LM-slot cache for `session` —
    * the thrash gauge: a pipeline whose misses keep growing on
    * repeated scoring of the same corpora has outgrown
    * [[LmSlotCapacityConf]].
    */
  private[graft] def lmSlotStats(session: SparkSession): (Long, Long) =
    lmCheckpoints.synchronized {
      val c = lmCheckpoints.get(session)
      if (c == null) (0L, 0L) else (c.hits, c.misses)
    }

  private def purgeStoppedLmSessions(): Unit =
    lmCheckpoints.entrySet().removeIf(e =>
      e.getKey == null || e.getKey.sparkContext.isStopped)

  /** Stable identity of (corpus plan, tokenizer, table kind): the
    * canonicalized plan ignores exprIds/aliases, and the tokenizer is
    * identified by the EXPRESSION STRING it produces on a probe
    * column (function-object identity would defeat reuse — default
    * args eta-expand to a fresh lambda per call).
    */
  private def lmCorpusKey(kind: String, docs: DataFrame,
      idCol: String, textCol: String,
      tokenize: Column => Column): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val s = kind + "|" + idCol + "|" + textCol + "|" +
      tokenize(col("__lm_probe")).toString + "|" +
      docs.queryExecution.analyzed.canonicalized.toString
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Atomic lookup-or-build-and-install: returns the live occupant
    * for `key` (refreshed to most-recently-used), or constructs
    * `build` (a LAZY plan — nothing executes under the lock),
    * installs it, and releases the LRU occupant past
    * [[LmSlotCapacity]]. The single synchronized block is the whole
    * check-then-act, closing the r13 concurrent-build race.
    */
  private def lmSlotGetOrBuild(session: SparkSession, key: String)
      (build: => DataFrame): DataFrame =
    lmCheckpoints.synchronized {
      purgeStoppedLmSessions()
      var cache = lmCheckpoints.get(session)
      if (cache == null) {
        cache = new LmSessionCache()
        lmCheckpoints.put(session, cache)
      }
      val dq = cache.slots
      val it = dq.iterator()
      var hit: LmSlot = null
      while (hit == null && it.hasNext) {
        val s = it.next()
        if (s.key == key) { hit = s; it.remove() }
      }
      val capacity = lmSlotCapacity(session)
      val slot = if (hit != null) { cache.hits += 1; hit }
        else {
          cache.misses += 1
          // every miss is logged so slot thrash (a concurrency set
          // larger than the capacity) is observable, not silent
          lmLog.info(s"lm-slot miss key=$key hits=${cache.hits} " +
            s"misses=${cache.misses} capacity=$capacity")
          LmSlot(key, build)
        }
      dq.addFirst(slot) // most-recently-used at the head
      // Evicting UNPERSISTS (never checkpoint-releases): the evicted
      // entry's frame keeps its full lineage, so callers still holding
      // it recompute on a cache miss rather than crash — the blocks
      // are reclaimed either way.
      while (dq.size > capacity)
        dq.removeLast().frame.unpersist(blocking = false)
      slot.frame
    }

  def lmQuality(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens,
      broadcastHintMaxInputBytes: BigInt = LmBroadcastHintMaxInputBytes)
      : DataFrame = {
    val key = lmCorpusKey("bigram-model", docs, idCol, textCol, tokenize)
    val model = lmSlotGetOrBuild(docs.sparkSession, key)(
      bigramRows(docs, idCol, textCol, tokenize)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pr = bigramRows(docs, idCol, textCol, tokenize)
    val vocab = lmTokenStats(model)
      .agg(count(lit(1)).cast(DoubleType).as("vsz"))
    // r15 fusion: the per-prefix total `cu` is a WINDOW sum over the
    // model table (every model row w1-prefixes, so the old inner join
    // against lmTokenStats attached exactly this value) — one exchange
    // on w1 replaces the token-stats aggregate + broadcast join pair.
    // The SCORED table gets its own slot: a same-corpus re-score
    // (x92/x96/x97/x109 all ride this model) skips the whole chain.
    val scored = lmSlotGetOrBuild(docs.sparkSession,
      lmCorpusKey("bigram-scored-addone", docs, idCol, textCol,
        tokenize))(model
      .withColumn("cu", sum(col("cb")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(-log((col("cb") + 1).cast(DoubleType) /
          (col("cu").cast(DoubleType) + col("vsz"))), 6).as("nlp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val modelSide =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
          broadcastHintMaxInputBytes) broadcast(scored)
      else scored
    pr.join(modelSide, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nlp").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram LM quality score — the
    * [[lmQuality]] shape with the smoothing the real CCNet/KenLM
    * stack uses (Chen & Goodman 1999 absolute discounting with
    * continuation probabilities) instead of add-one:
    *
    * `P(w2|w1) = (c(w1,w2) − d)/c(w1)
    *           + (d · N1+(w1,·)/c(w1)) · (N1+(·,w2)/B)`
    *
    * with `d = 0.75`, `N1+(w1,·)` the distinct successors of `w1`,
    * `N1+(·,w2)` the distinct predecessors of `w2`, and `B` the
    * bigram-type count. Only corpus-observed bigrams are scored (the
    * x73 contract — scored docs come from the model corpus), so
    * `c ≥ 1 > d` and every probability is in (0, 1] — the upper
    * boundary is reachable in degenerate corpora (a prefix with ONE
    * successor whose continuation weight is 1, e.g. "a a a" gives
    * P(a|a) = 1 exactly and nlp = 0) — so `-ln(P)` is finite and
    * ≥ 0, not strictly positive. Every factor is an exact Long; the
    * per-bigram probability is one per-row IEEE expression rounded at
    * 6 dp and the per-doc mean routes through DECIMAL(18,6) — the
    * full x73 determinism contract, so the oracle matches bit-wise.
    *
    * Shares [[lmQuality]]'s per-session LRU of [[LmSlotCapacity]]
    * persisted frames (same documented contract: a returned frame is
    * valid for the life of the session; eviction only unpersists, so
    * an evicted frame recomputes from lineage).
    *
    * Scale: the bigram-type model builds in one map-side-combinable
    * aggregate off one checkpointed compute; `cu`/`np`/`bt` are
    * model-sized (vocabulary², in practice vastly smaller) aggregates
    * of it; exchanges carry (w1, w2, counts) only.
    *
    * Returns `(doc_id, n_bigrams, avg_nll)`.
    */
  def knLmQuality(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens,
      broadcastHintMaxInputBytes: BigInt = LmBroadcastHintMaxInputBytes)
      : DataFrame = {
    // same bigram-count table as lmQuality — the shared "bigram-model"
    // key lets either op reuse the other's live checkpoint
    val key = lmCorpusKey("bigram-model", docs, idCol, textCol, tokenize)
    val model = lmSlotGetOrBuild(docs.sparkSession, key)(
      bigramRows(docs, idCol, textCol, tokenize)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pr = bigramRows(docs, idCol, textCol, tokenize)
    // r15 fusion: cu/n1f/n1p are WINDOW aggregates over the model
    // table (two exchanges on w1 / w2) instead of three separate
    // aggregates re-joined back — the values are identical integers,
    // the per-token skew bound is the per-token bigram-type count
    // (≤ the broadcastable model itself on the hinted path).
    val ww1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val ww2 = org.apache.spark.sql.expressions.Window.partitionBy("w2")
    val bt = model.agg(count(lit(1)).as("bt"))
    val scored = lmSlotGetOrBuild(docs.sparkSession,
      lmCorpusKey("bigram-scored-kn", docs, idCol, textCol,
        tokenize))(model
      .withColumn("cu", sum(col("cb")).over(ww1))
      .withColumn("n1f", count(lit(1)).over(ww1))
      .withColumn("n1p", count(lit(1)).over(ww2))
      .crossJoin(broadcast(bt))
      .select(col("w1"), col("w2"),
        round(-log(
          ((col("cb") - 0.75) / col("cu")) +
          (((lit(0.75) * col("n1f")) / col("cu")) *
            (col("n1p").cast(DoubleType) / col("bt")))), 6).as("nlp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val modelSide =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
          broadcastHintMaxInputBytes) broadcast(scored)
      else scored
    pr.join(modelSide, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nlp").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney TRIGRAM LM quality — the [[knLmQuality]]
    * recursion one order up, proving the Chen & Goodman (1999)
    * back-off chain the production CCNet/KenLM stack runs at 5-gram:
    *
    * `P(w3|w1w2) = (c(w1w2w3) − d)/c(w1w2·)
    *             + (d · N1+(w1w2·)/c(w1w2·)) · P_cont(w3|w2)`
    * `P_cont(w3|w2) = (N1+(·w2w3) − d)/N1+(·w2·)
    *             + (d · N1+(w2·)/N1+(·w2·)) · P_cont(w3)`
    * `P_cont(w3) = N1+(·w3)/B`
    *
    * with `d = 0.75` at both levels, context totals summed over
    * observed trigrams (`c(w1w2·) = Σ_w3 c(w1w2w3)` — the convention
    * that keeps every count derivable from ONE trigram-type table and
    * the distribution normalized at document edges), continuation
    * counts `N1+` counting distinct context types, and `B` the
    * (w2,w3)-suffix type count. Only corpus-observed trigrams are
    * scored (the x73/x101 contract), so every numerator count ≥ 1 > d
    * and P is in (0, 1] (the degenerate full-continuation corner can
    * reach 1 exactly, nlp = 0 — see [[knLmQuality]]).
    *
    * Determinism: every factor is an exact Long; the per-trigram
    * probability is ONE per-row IEEE expression, spelled
    * token-for-token identically in the oracle (the x101 contract
    * that holds the driver's gate), rounded at 6 dp; the per-doc mean
    * routes through DECIMAL(18,6).
    *
    * Scale: the corpus is touched exactly twice (the cached
    * trigram-row slot feeds the type aggregate AND the probe join) —
    * every other count (`ctx`, `cont`, `mid`, `pred`) is a fused
    * WINDOW aggregate over the one type table (r15; two model-sized
    * exchanges total), `bt` a tiny distinct-count branch; the scored
    * model is slot-cached and rides the probe join as a broadcast
    * under the same size hint as [[lmQuality]].
    *
    * Returns `(doc_id, n_trigrams, avg_nll)`.
    */
  def knTrigramQuality(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens,
      broadcastHintMaxInputBytes: BigInt = LmBroadcastHintMaxInputBytes)
      : DataFrame =
    kn3DocSumsImpl(docs, idCol, textCol, tokenize,
        broadcastHintMaxInputBytes)
      .select(col("doc_id"), col("n_trigrams"),
        (col("sum_nll").cast(DoubleType) / col("n_trigrams"))
          .as("avg_nll"))

  private def kn3DocSumsImpl(docs: DataFrame, idCol: String,
      textCol: String, tokenize: Column => Column,
      broadcastHintMaxInputBytes: BigInt): DataFrame = {
    // the checkpoint barrier sits on the TRIGRAM ROWS, not the type
    // table: pr feeds the model build AND the probe join, so without
    // it the scan+tokenize+explode subtree runs twice (measured
    // 1.25→0.9 s at sf0.1); the type aggregate reads the same
    // materialized rows, so the model tables still derive from one
    // corpus pass. The corpus-keyed slot makes a same-corpus re-score
    // (x115 after x111 in the suite; any pipeline loop) reuse the
    // LIVE checkpoint — zero corpus scans on a key hit.
    val key = lmCorpusKey("trigram-rows", docs, idCol, textCol, tokenize)
    val pr = lmSlotGetOrBuild(docs.sparkSession, key)(
      trigramRows(docs, idCol, textCol, tokenize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val model = pr.groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
    // r15 fusion (the r14 verdict's item 5): ctx/cont/mid/pred are
    // WINDOW aggregates over the ONE model table instead of four
    // separate aggregates broadcast-joined back. Every window key
    // except pred's contains w2, and HashPartitioning(w2) satisfies
    // ClusteredDistribution on any superset key — so ONE w2 exchange
    // (plus local re-sorts) serves ctx/cont/mid, pred adds one w3
    // exchange, and four broadcast-build jobs disappear. Identities
    // (model rows are UNIQUE per (w1,w2,w3), so counts over windows
    // equal the old aggregate-join values exactly):
    //   ctx/n3f  = sum(c3)/count(*)      over (w1,w2)
    //   cont     = count(*)              over (w2,w3)  [distinct w1s]
    //   mid      = count(*)              over (w2)     [= Σ_w3 cont]
    //   n2f      = Σ first-of-(w2,w3)    over (w2)     [distinct w3s]
    //   pred     = Σ first-of-(w2,w3)    over (w3)     [distinct w2s]
    // Skew bound: a single-token window partition holds that token's
    // trigram types — ≤ the whole model, which the hinted path
    // BROADCASTS whole; the aggregate spelling's map-side combine is
    // not needed on a table already collapsed to types. At 100 TB the
    // model exchange still carries (w, counts) rows only.
    import org.apache.spark.sql.expressions.Window
    val w12 = Window.partitionBy("w1", "w2")
    val w23 = Window.partitionBy("w2", "w3")
    val ww2 = Window.partitionBy("w2")
    val ww3 = Window.partitionBy("w3")
    val bt = model.select(col("w2"), col("w3")).distinct()
      .agg(count(lit(1)).as("bt"))
    val scored = lmSlotGetOrBuild(docs.sparkSession,
      lmCorpusKey("trigram-scored", docs, idCol, textCol,
        tokenize))(model.repartition(col("w2"))
      .withColumn("ctx", sum(col("c3")).over(w12))
      .withColumn("n3f", count(lit(1)).over(w12))
      .withColumn("cont", count(lit(1)).over(w23))
      .withColumn("_f23",
        when(row_number().over(w23.orderBy(col("w1"))) === 1, 1L)
          .otherwise(0L))
      .withColumn("mid", count(lit(1)).over(ww2))
      .withColumn("n2f", sum(col("_f23")).over(ww2))
      .withColumn("pred", sum(col("_f23")).over(ww3))
      .crossJoin(broadcast(bt))
      .select(col("w1"), col("w2"), col("w3"),
        round(-log(
          ((col("c3") - 0.75) / col("ctx")) +
          (((lit(0.75) * col("n3f")) / col("ctx")) *
            (((col("cont") - 0.75) / col("mid")) +
              (((lit(0.75) * col("n2f")) / col("mid")) *
                (col("pred").cast(DoubleType) / col("bt")))))), 6)
          .as("nlp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val modelSide =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
          broadcastHintMaxInputBytes) broadcast(scored)
      else scored
    pr.join(modelSide, Seq("w1", "w2", "w3"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("nlp").cast(DecimalType(18, 6))).as("sum_nll"))
  }

  /** Per-doc trigram-KN totals — `(doc_id, n_trigrams, sum_nll)` with
    * `sum_nll` the EXACT DECIMAL(·,6) sum of the per-trigram 6-dp
    * scores. [[knTrigramQuality]] derives its per-doc mean from this;
    * consumers that aggregate FURTHER (x128's per-domain rollup) must
    * start here — summing the exact decimals stays exact at any
    * grouping, while re-aggregating the per-doc IEEE means would
    * reintroduce the order/boundary hazards the r13 margin gate
    * forbids.
    */
  def kn3DocSums(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens,
      broadcastHintMaxInputBytes: BigInt = LmBroadcastHintMaxInputBytes)
      : DataFrame =
    kn3DocSumsImpl(docs, idCol, textCol, tokenize,
      broadcastHintMaxInputBytes)

  /** Interpolated Kneser–Ney 5-GRAM LM quality — the
    * [[knTrigramQuality]] back-off recursion at the order the
    * production CCNet/KenLM stack actually runs (Wenzek et al. 2020
    * score with a 5-gram KenLM; Chen & Goodman 1999 absolute
    * discounting, d = 0.75 at every level):
    *
    * `P(w5|w1..w4) = (c5 − d)/c(w1..w4·)
    *              + (d·N1+(w1..w4·)/c(w1..w4·)) · P_c(w5|w2w3w4)`
    * and at each continuation level k = 4, 3, 2:
    * `P_c(w5|ctx_k) = (N1+(·ctx_k w5) − d)/N1+(·ctx_k·)
    *              + (d·N1+(ctx_k·)/N1+(·ctx_k·)) · P_c(w5|ctx_{k−1})`
    * bottoming out at `P_c(w5) = N1+(·w5)/B`, `B = |{(w4,w5)}|`.
    *
    * All nine model tables derive from the ONE 5-gram TYPE table —
    * `cont₄` counts distinct w1-contexts of t5, `cont₃` distinct
    * w2-contexts of cont₄, and so on: each level is a model-sized
    * aggregate of the level above, never a corpus re-scan.
    *
    * `minCount` is the KenLM-style count-prune — THE knob that makes
    * the 5-gram model-table story survive 100 TB: an unpruned 5-gram
    * type table is ~corpus-sized (most 5-grams are singletons), while
    * the ≥2 table is bounded by the corpus's REPEATED 5-gram mass
    * (Heaps-law-sublinear, the same reason KenLM ships pruned).
    * Pruned (and unobserved) 5-grams are simply out of contract —
    * unscored, exactly like x111's unobserved trigrams; every scored
    * numerator count is then ≥ minCount > d, keeping P in (0, 1].
    * Docs with no scored 5-gram (< 5 tokens, or fully pruned) emit no
    * row — identical in both engines.
    *
    * Determinism: the full x111 contract — every factor an exact
    * Long, ONE per-row IEEE expression rounded at 6 dp
    * (RoundingMarginSpec pins its boundary margins), per-doc mean
    * DECIMAL-routed. Scale: one corpus pass (the cached 5-gram rows
    * feed the model build AND the probe join through the corpus-keyed
    * slot), the nine model tables fused into ONE window pass over the
    * type table (r15; two model-sized exchanges total), frozen-model
    * broadcast scoring under the [[lmQuality]] size hint.
    *
    * Returns `(doc_id, n_5grams, avg_nll)`.
    */
  def kn5Quality(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens, minCount: Int = 2,
      broadcastHintMaxInputBytes: BigInt = LmBroadcastHintMaxInputBytes)
      : DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val key = lmCorpusKey(s"fivegram-rows", docs, idCol, textCol,
      tokenize)
    val pr = lmSlotGetOrBuild(docs.sparkSession, key)(
      fivegramRows(docs, idCol, textCol, tokenize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val t5 = pr.groupBy("w1", "w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("c5"))
      .filter(col("c5") >= minCount)
    // r15 fusion (the kn3DocSumsImpl identities one recursion deeper):
    // all nine model tables become WINDOW aggregates over the ONE
    // pruned 5-gram type table. First-of-group flags stand in for the
    // old intermediate distinct tables (t5 rows are unique per
    // (w1..w5)): _f4 marks one row per (w2..w5) group [a cont4 row],
    // _f3 one per (w3,w4,w5) [a cont3 row], _f2 one per (w4,w5)
    // [a cont2 row]; summing a flag over a coarser window counts that
    // level's distinct groups exactly as the old groupBy chain did.
    // Every window key except pred's (w5) contains w4, so ONE w4
    // exchange (plus local re-sorts) serves all seven — eight
    // broadcast-build jobs and eight aggregate exchanges collapse to
    // two exchanges. Skew bound: a single-token partition holds that
    // token's PRUNED 5-gram types — ≤ the whole model, which the
    // hinted path broadcasts whole.
    import org.apache.spark.sql.expressions.Window
    val wc5 = Window.partitionBy("w1", "w2", "w3", "w4")
    val w2345 = Window.partitionBy("w2", "w3", "w4", "w5")
    val w234 = Window.partitionBy("w2", "w3", "w4")
    val w345 = Window.partitionBy("w3", "w4", "w5")
    val w34 = Window.partitionBy("w3", "w4")
    val w45 = Window.partitionBy("w4", "w5")
    val ww4 = Window.partitionBy("w4")
    val ww5 = Window.partitionBy("w5")
    def firstOf(w: org.apache.spark.sql.expressions.WindowSpec,
        order: Column*): Column =
      when(row_number().over(w.orderBy(order: _*)) === 1, 1L)
        .otherwise(0L)
    val bt = t5.select(col("w4"), col("w5")).distinct()
      .agg(count(lit(1)).as("bt"))
    val scored = lmSlotGetOrBuild(docs.sparkSession,
      lmCorpusKey(s"fivegram-scored-$minCount", docs, idCol, textCol,
        tokenize))(t5.repartition(col("w4"))
      .withColumn("ctx5", sum(col("c5")).over(wc5))
      .withColumn("n5f", count(lit(1)).over(wc5))
      .withColumn("cont4", count(lit(1)).over(w2345))
      .withColumn("_f4", firstOf(w2345, col("w1")))
      .withColumn("mid4", count(lit(1)).over(w234))
      .withColumn("n4f", sum(col("_f4")).over(w234))
      .withColumn("cont3", sum(col("_f4")).over(w345))
      .withColumn("_f3", firstOf(w345, col("w2"), col("w1")))
      .withColumn("mid3", sum(col("_f4")).over(w34))
      .withColumn("n3f", sum(col("_f3")).over(w34))
      .withColumn("cont2", sum(col("_f3")).over(w45))
      .withColumn("_f2", firstOf(w45, col("w3"), col("w2"), col("w1")))
      .withColumn("mid2", sum(col("_f3")).over(ww4))
      .withColumn("n2f", sum(col("_f2")).over(ww4))
      .withColumn("pred", sum(col("_f2")).over(ww5))
      .crossJoin(broadcast(bt))
      .select(col("w1"), col("w2"), col("w3"), col("w4"), col("w5"),
        round(-log(
          ((col("c5") - 0.75) / col("ctx5")) +
          (((lit(0.75) * col("n5f")) / col("ctx5")) *
            (((col("cont4") - 0.75) / col("mid4")) +
              (((lit(0.75) * col("n4f")) / col("mid4")) *
                (((col("cont3") - 0.75) / col("mid3")) +
                  (((lit(0.75) * col("n3f")) / col("mid3")) *
                    (((col("cont2") - 0.75) / col("mid2")) +
                      (((lit(0.75) * col("n2f")) / col("mid2")) *
                        (col("pred").cast(DoubleType) /
                          col("bt")))))))))), 6).as("nlp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val modelSide =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
          broadcastHintMaxInputBytes) broadcast(scored)
      else scored
    pr.join(modelSide, Seq("w1", "w2", "w3", "w4", "w5"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_5grams"),
        (sum(col("nlp").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("avg_nll"))
  }

  /** The frozen trigram-KN model [[knTrigramQuality]] builds
    * internally, exported for online scoring
    * ([[graft.streaming.DocStreams.kn3Scores]]) — the [[LmModel]]
    * pattern one order up. All five count tables derive from the ONE
    * persisted trigram-type table; `btCount` is collected eagerly
    * (a model build is an offline batch step). Carries its tokenizer
    * for the same reason [[LmModel]] does. Call [[Kn3Model.release]]
    * when done.
    */
  final case class Kn3Model(tri: DataFrame, ctx: DataFrame,
      cont: DataFrame, mid: DataFrame, pred: DataFrame, btCount: Long,
      tokenize: Column => Column = tokens) {
    /** r15: persisted, not checkpointed — post-release use recomputes
      * (the LM-slot liveness contract). */
    def release(): Unit = tri.unpersist(blocking = false)
  }

  /** Build the frozen trigram-KN model of [[knTrigramQuality]]: same
    * counts, same determinism contract. */
  def kn3Model(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens): Kn3Model = {
    val pr = trigramRows(docs, idCol, textCol, tokenize)
    val tri = pr.groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = tri.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("ctx"), count(lit(1)).as("n3f"))
    val cont = tri.groupBy("w2", "w3").agg(count(lit(1)).as("cont"))
    val mid = cont.groupBy("w2")
      .agg(sum(col("cont")).as("mid"), count(lit(1)).as("n2f"))
    val pred = cont.groupBy("w3").agg(count(lit(1)).as("pred"))
    Kn3Model(tri, ctx, cont, mid, pred, cont.count(), tokenize)
  }

  /** The frozen per-language tercile cutoffs of [[ccnetBuckets]]:
    * `(max avg_nll in head, max avg_nll in head+middle)` per
    * language — what an online gate compares arriving documents
    * against ([[graft.streaming.DocStreams.ccnetGate]]). One bounded
    * collect (a row per language; head is never empty under ntile, so
    * the +inf fallbacks are belt-and-braces).
    */
  def ccnetCutoffs(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): Map[String, (Double, Double)] =
    ccnetBuckets(docs, idCol, textCol, langCol)
      .groupBy(col(langCol))
      .agg(max(when(col("bucket") === "head", col("avg_nll"))).as("c1"),
        max(when(col("bucket") =!= "tail", col("avg_nll"))).as("c2"))
      .collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) Double.PositiveInfinity else r.getDouble(1),
        if (r.isNullAt(2)) Double.PositiveInfinity else r.getDouble(2))))
      .toMap

  /** [[ccnetCutoffs]] on the trigram-KN score — the frozen cutoffs
    * the online x115 gate ([[graft.streaming.DocStreams.kn3Gate]])
    * compares arriving documents against. Same bounded collect (one
    * row per language).
    */
  def ccnetCutoffsKn3(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): Map[String, (Double, Double)] =
    ccnetBucketsKn3(docs, idCol, textCol, langCol)
      .groupBy(col(langCol))
      .agg(max(when(col("bucket") === "head", col("avg_nll"))).as("c1"),
        max(when(col("bucket") =!= "tail", col("avg_nll"))).as("c2"))
      .collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) Double.PositiveInfinity else r.getDouble(1),
        if (r.isNullAt(2)) Double.PositiveInfinity else r.getDouble(2))))
      .toMap

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): rank every
    * document by its [[lmQuality]] score WITHIN its language and split
    * each language into head/middle/tail terciles — the standard
    * per-language quality stratification a crawl-curation pipeline
    * keeps/weights by (CCNet trains on head+middle, drops tail).
    * Tercile assignment is exact `ntile(3)` over the deterministic
    * total order `(avg_nll asc, id asc)` — identical SQL-standard
    * semantics in Spark and DuckDB (first `n mod 3` terciles take the
    * extra rows), and `avg_nll` itself is bit-deterministic across
    * engines (the x73 decimal-routed contract), so the oracle matches
    * exactly. Documents with no bigrams (null text or < 2 tokens)
    * have no score and are out of contract, as in x73.
    *
    * Scale: the one per-language window sort is the declared cost
    * (the x77 percentile-gate shape); at corpus scale CCNet itself
    * uses sampled cutoffs — swap the ntile for cutoffs from the x52
    * mergeable GK quantile sketch and a broadcast range compare when
    * a full per-language sort is too hot. Exchanges carry only
    * (id, lang, score) rows, never documents.
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    bucketizeByLang(lmQuality(docs, idCol, textCol), docs, idCol,
      langCol, "n_bigrams")

  /** [[ccnetBuckets]] scored by the TRIGRAM Kneser–Ney LM ([[
    * knTrigramQuality]], x111) instead of the add-one bigram LM — the
    * closer-to-production configuration (CCNet's wikipedia LM is a
    * 5-gram KenLM; the tercile machinery is identical). Same
    * deterministic total order and exact `ntile(3)` contract, so the
    * oracle matches bit-wise. Documents with < 3 tokens have no
    * trigram score and are out of contract (as < 2-token docs are for
    * x92).
    */
  def ccnetBucketsKn3(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    bucketizeByLang(knTrigramQuality(docs, idCol, textCol), docs,
      idCol, langCol, "n_trigrams")

  /** The per-language tercile split shared by [[ccnetBuckets]] and
    * [[ccnetBucketsKn3]]: exact `ntile(3)` over the deterministic
    * `(avg_nll asc, doc_id asc)` order within each language.
    */
  private def bucketizeByLang(scored: DataFrame, docs: DataFrame,
      idCol: String, langCol: String, nCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withLang = scored.join(
      docs.select(col(idCol).as("doc_id"), col(langCol)), Seq("doc_id"))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_nll").asc, col("doc_id").asc)
    withLang
      .select(col("doc_id"), col(langCol), col(nCol),
        col("avg_nll"), ntile(3).over(w).as("t"))
      .select(col("doc_id"), col(langCol), col(nCol),
        col("avg_nll"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** The offline model [[lmQuality]] builds internally, exported for
    * reuse — e.g. scoring a document STREAM against a frozen corpus
    * model ([[graft.streaming.DocStreams.lmScores]]). `vocabSize` is
    * collected eagerly (one tiny aggregate job): a model build is an
    * offline batch step, and downstream scoring needs V as a plan
    * literal anyway. The model CARRIES its tokenizer so scoring can
    * never tokenize a probe differently from the corpus the counts
    * came from (a model built on `tokensFolded` scored against
    * single-space probes would silently rate every bigram unseen).
    * The model table stays `localCheckpoint`ed for the model's
    * lifetime — reuse is the point of building one; call [[release]]
    * when done (blocks otherwise wait for the ContextCleaner).
    */
  final case class LmModel(bigrams: DataFrame, prefixes: DataFrame,
      vocabSize: Double, tokenize: Column => Column = tokens) {
    /** Frees the model's cached blocks (r15: the model is `persist`ed,
      * not checkpointed, so a frame scored against it AFTER release
      * transparently recomputes from lineage instead of failing — the
      * LM-slot liveness contract, uniform across every cached model).
      */
    def release(): Unit = bigrams.unpersist(blocking = false)
  }

  /** Build the add-one bigram model of [[lmQuality]] from a corpus:
    * `bigrams` = (w1, w2, cb), `prefixes` = (w1, cu), `vocabSize` = V.
    * Same counts (prefix totals and V from the same one-pass
    * [[lmTokenStats]] aggregate), same determinism contract.
    */
  def lmModel(docs: DataFrame, idCol: String, textCol: String,
      tokenize: Column => Column = tokens): LmModel = {
    val pr = bigramRows(docs, idCol, textCol, tokenize)
    val big = pr.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tokStats = lmTokenStats(big)
    val prefix = tokStats.filter(col("cu").isNotNull)
      .select(col("w").as("w1"), col("cu"))
    val vsz = tokStats.count().toDouble
    LmModel(big, prefix, vsz, tokenize)
  }

  /** Bounded inverted index — the retrieval-side artifact a training
    * pipeline ships next to the corpus: per token, the exact document
    * frequency and the `maxPostings` SMALLEST doc ids (a deterministic
    * truncated posting list). Built on [[graft.functions.MinIdsAgg]]:
    * one explode + one map-side-combinable aggregate whose state is
    * `maxPostings` longs per token NO MATTER how hot the token —
    * `collect_list`-then-sort would buffer a stopword's entire corpus-
    * wide posting list before truncating.
    *
    * Returns `(token, df, postings)`, `df` = distinct carrying docs.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(graft.functions.DocFreqFunctions
        .minIds(col("doc_id"), maxPostings).as("_m"))
      .select(col("token"), col("_m.df").as("df"),
        col("_m.ids").as("postings"))

  /** Linear-classifier INFERENCE over hashed features — the fastText-
    * style quality-filter pass (score every document with an
    * offline-trained linear model, keep those above threshold) run as
    * a pure per-row projection. Feature j of a document is the count
    * of tokens hashing to bucket j ([[hashedTf]]'s features); the
    * score is their dot product with `weights` plus `bias`, computed
    * as one left fold over the token list (weight lookup per token —
    * never materializing the dense vector), so the additions happen in
    * document order: the same IEEE sequence any engine's list fold
    * produces, bit-deterministic cross-engine like [[fingerprint]]'s
    * fold. Raw margin, not a sigmoid: exp() is not bit-portable and a
    * threshold decision never needs it.
    *
    * Scale: zero shuffle, no vocabulary or model state beyond the
    * weight literal (bounded by `weights.length`, a model
    * hyperparameter — never data-sized).
    *
    * Returns `(doc_id, score, keep)`.
    */
  def hashClassifierScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[Double], bias: Double,
      threshold: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val dim = weights.length
    val w = typedLit(weights)
    docs.select(col(idCol).as("doc_id"),
        (aggregate(
          transform(tokens(col(textCol)),
            t => element_at(w,
              (pmod(fingerprint(t), lit(dim.toLong)) + 1L)
                .cast(IntegerType))),
          lit(0.0), (acc, x) => acc + x) + lit(bias)).as("score"))
      .withColumn("keep", col("score") >= threshold)
  }

  /** Training-sequence packing plan — GPT-style: documents are
    * concatenated in id order and cut into fixed `seqLen`-token
    * training sequences, documents crossing boundaries (the loader
    * slices; nothing is padded or dropped). This op emits the PLAN:
    * per document, its global token offset, owning sequence, offset
    * within it, and how many sequences it spans — everything a sharded
    * loader needs to materialize examples without re-scanning text.
    *
    * Scale design (100 TB): the global running token offset uses the
    * two-pass per-partition-offset pattern ([[PrefixSum]]) — NO
    * single-partition window anywhere (the oracle spells the same
    * number as an unpartitioned SQL window, which is exactly the
    * scale-killer the Spark side avoids). Everything after the offset
    * is per-row integer arithmetic.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokenCount(col(textCol)).as("n_tokens"))
    val run = PrefixSum.withRunningLongSum(d, Seq("doc_id"), "n_tokens",
      "_run")
    run.select(col("doc_id"), col("n_tokens"),
        (col("_run") - col("n_tokens")).as("start_tok"))
      .withColumn("seq_id", floor(col("start_tok") / seqLen).cast(LongType))
      .withColumn("seq_pos", col("start_tok") % seqLen)
      .withColumn("n_seqs",
        floor((col("start_tok") + col("n_tokens") - 1) / seqLen)
          .cast(LongType) - col("seq_id") + lit(1L))
  }

  /** Curriculum variant of [[packSequences]]: pack by an EXPLICIT
    * total order instead of doc_id — e.g. `(avg_nll, doc_id)` packs
    * easy-to-hard under a difficulty score (curriculum learning's
    * data-side half). `d` must carry a Long `n_tokens` column and the
    * `orderCols`, which must form a deterministic total order (ties
    * must be broken — end with the id). Same two-pass PrefixSum shape
    * as [[packSequences]] (no global window anywhere), same output
    * contract: input columns + `(start_tok, seq_id, seq_pos,
    * n_seqs)`.
    */
  def packSequencesOrdered(d: DataFrame, orderCols: Seq[String],
      seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val run = PrefixSum.withRunningLongSum(d, orderCols, "n_tokens",
      "_run")
    run.withColumn("start_tok", col("_run") - col("n_tokens"))
      .drop("_run")
      .withColumn("seq_id", floor(col("start_tok") / seqLen).cast(LongType))
      .withColumn("seq_pos", col("start_tok") % seqLen)
      .withColumn("n_seqs",
        floor((col("start_tok") + col("n_tokens") - 1) / seqLen)
          .cast(LongType) - col("seq_id") + lit(1L))
  }

  /** Padded-sequence packing efficiency report — the complement of
    * the gapless [[packSequences]] family: when cross-document
    * attention contamination is unacceptable, sequences hold WHOLE
    * documents and pad to `seqLen`, and the padding waste is the
    * metric a team budgets. Packing heuristic is deterministic
    * FOLDED PAIRING (the classic sorted-fold approximation): within
    * each block, rank docs by `(n_tokens desc, id)`; rank `r` pairs
    * with its mirror `n+1−r` (longest with shortest); a pair shares
    * one sequence iff its token sum fits in `seqLen`, otherwise each
    * doc takes its own; an odd block's middle doc takes its own.
    * Documents longer than `seqLen` are excluded and reported
    * (`n_oversize` — the loader must split or truncate those
    * upstream).
    *
    * Per block: `(block, n_docs, n_oversize, n_pairs_fit, n_bins,
    * sum_tokens, fill_rate)` with `fill_rate = sum_tokens /
    * (n_bins·seqLen)` — exact integer arithmetic throughout, one
    * IEEE division at the end (cross-engine deterministic).
    *
    * Scale design (100 TB): both windows partition by the block and
    * the mirror join is (block, rank) equi — no global sort, no
    * cartesian; exchanges carry (id, block, n_tokens) rows only.
    * A block whose every document is oversize has no packable rows
    * and is absent from the report (documented contract).
    */
  def foldPackReport(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, seqLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        tokenCount(col(textCol)).as("n_tokens"))
    val over = base.filter(col("n_tokens") > seqLen)
      .groupBy("block").agg(count(lit(1)).as("n_oversize"))
    val d = base.filter(col("n_tokens") <= seqLen)
    val w = Window.partitionBy("block")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val ranked = d.withColumn("r", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("block")))
    val long = ranked.filter(col("r") < col("cnt") + 1 - col("r"))
      .select(col("block"), col("n_tokens"), col("cnt"),
        (col("cnt") + 1 - col("r")).as("_mate"))
    val short = ranked.select(col("block"), col("r").as("_mate"),
      col("n_tokens").as("mate_tokens"))
    val pairs = long.join(short, Seq("block", "_mate"))
      .select(col("block"),
        when(col("n_tokens") + col("mate_tokens") <= seqLen, 1L)
          .otherwise(2L).as("bins"),
        when(col("n_tokens") + col("mate_tokens") <= seqLen, 1L)
          .otherwise(0L).as("fit"))
      .groupBy("block")
      .agg(sum(col("bins")).as("pair_bins"), sum(col("fit")).as("n_pairs_fit"))
    val stats = d.groupBy("block")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    stats.join(pairs, Seq("block"), "left")
      .join(over, Seq("block"), "left")
      .select(col("block"), col("n_docs"),
        coalesce(col("n_oversize"), lit(0L)).as("n_oversize"),
        coalesce(col("n_pairs_fit"), lit(0L)).as("n_pairs_fit"),
        (coalesce(col("pair_bins"), lit(0L)) + pmod(col("n_docs"), lit(2L)))
          .cast(LongType).as("n_bins"),
        col("sum_tokens").cast(LongType).as("sum_tokens"))
      .withColumn("fill_rate",
        col("sum_tokens").cast(DoubleType) /
          (col("n_bins") * seqLen).cast(DoubleType))
  }

  /** Zipf-law audit per block — the corpus-health check that a token
    * frequency distribution has the power-law shape natural text has
    * (a synthetic, template-generated, or over-deduplicated corpus
    * shows a flattened or kinked curve): the least-squares slope of
    * `ln(freq)` against `ln(rank)` over each block's token types
    * (natural corpora sit near −1).
    *
    * Determinism contract (rewritten r13 after the r12 driver hash
    * fail — the old spelling rounded a decimal regression sum that
    * TIES exactly at the rounding digit, and engine ROUND-on-tie
    * semantics moved under the driver's DuckDB): counts and ranks are
    * exact Longs; `ln` is applied per row and quantized to BIGINT
    * 4-dp units via `FLOOR(ln·10⁴ + 0.5)` — FLOOR/·/+ are core IEEE
    * ops bit-identical in every engine (no engine ROUND anywhere; the
    * only cross-engine hazard is a libm `ln` ulp, whose boundary
    * margin RoundingMarginSpec pins at ≥10⁻⁴ on the fixtures, ~10⁹×
    * the worst conforming skew). The regression sums `Σx, Σy, Σxy,
    * Σx²` are exact BIGINT sums of BIGINT products, and the fit is
    * capped at rank ≤ `maxRank` (default 10⁵ — Zipf slopes are head
    * fits; the tail bends off the power law anyway), which BOUNDS
    * every sum below 2⁵³: |xu| ≤ ln(10⁵)·10⁴ ≈ 1.2·10⁵, |yu| ≤
    * ln(10¹²)·10⁴ ≈ 2.8·10⁵, so Σ|xu·yu| ≤ 10⁵·3.3·10¹⁰ ≈ 3.3·10¹⁵ <
    * 2⁵³ even at a 10¹²-token corpus. int64→double conversion of an
    * exact-≤2⁵³ value is EXACT in both engines, and the closed-form
    * slope `(nΣxy − ΣxΣy)/(nΣx² − (Σx)²)` (the 10⁻⁸ unit scale
    * cancels between numerator and denominator) is a fixed IEEE chain
    * over identical doubles — the published slope is bit-identical
    * cross-engine unconditionally, with NO margin requirement.
    *
    * Scale: one token aggregate (map-side combinable), one
    * block-partitioned rank window over the TYPE table (vocabulary-
    * sized, not corpus-sized; the maxRank cut applies directly above
    * the window, before quantization and the regression sums —
    * PlanQualitySpec gates the shape), one model-sized final
    * aggregate.
    *
    * Returns `(block, n_types, sum_x_u4, sum_y_u4, sum_xy_u8,
    * sum_xx_u8, slope)` — `n_types` counts the FITTED (rank-capped)
    * types.
    */
  def zipfAudit(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxRank: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxRank >= 2 && maxRank <= 1000000,
      s"maxRank must be in [2, 1e6] (the 2^53 exactness budget), got $maxRank")
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("block", "tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("block")
      .orderBy(col("freq").desc, col("tok").asc)
    def u4(c: Column): Column =
      floor(log(c.cast(DoubleType)) * lit(10000.0) + lit(0.5))
        .cast(LongType)
    val xy = tf.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= maxRank)
      .select(col("block"), u4(col("rank")).as("xu"),
        u4(col("freq")).as("yu"))
    xy.groupBy("block")
      .agg(count(lit(1)).as("n_types"),
        sum(col("xu")).cast(LongType).as("sum_x_u4"),
        sum(col("yu")).cast(LongType).as("sum_y_u4"),
        sum(col("xu") * col("yu")).cast(LongType).as("sum_xy_u8"),
        sum(col("xu") * col("xu")).cast(LongType).as("sum_xx_u8"))
      .withColumn("slope", {
        val n = col("n_types").cast(DoubleType)
        val sx = col("sum_x_u4").cast(DoubleType)
        val sy = col("sum_y_u4").cast(DoubleType)
        val sxy = col("sum_xy_u8").cast(DoubleType)
        val sxx = col("sum_xx_u8").cast(DoubleType)
        (n * sxy - sx * sy) / (n * sxx - sx * sx)
      })
  }

  /** Heaps'-law vocabulary-growth audit per block — the companion
    * gauge to [[zipfAudit]] (frequency shape) and x134's Good–Turing
    * missing mass (saturation at ONE size): Heaps' law `V ≈ K·Tᵝ`
    * says vocabulary grows sublinearly in corpus size, and the fitted
    * exponent β (natural text ~0.4–0.6) is what capacity/sketch-size
    * planning reads — an over-deduplicated or templated corpus bends
    * the curve. Corpus growth is simulated by NESTED deterministic
    * md5 sub-corpora (the x23/x131 tagged-draw convention): `levels`
    * nested doc samples at rates 2⁻⁽ˡᵉᵛᵉˡˢ⁻¹⁾ … ½, 1, so each level
    * extends the previous one exactly like a growing crawl.
    *
    * ONE corpus pass: per (block, type) the min doc-draw and one
    * conditional count per level (map-side combinable, vocab-sized
    * result); per block the level token/type totals fold from that
    * table. The regression is computed ROW-WISE from the one
    * per-block row — no second pass, no window: each live level
    * contributes (u4(ln T_l), u4(ln V_l)) — the x118 FLOOR(ln·10⁴+.5)
    * quantizer, margin-gated — and the slope is
    * `(nΣxy − ΣxΣy)/(nΣxx − ΣxΣx)` over EXACT Long sums (u4 values
    * ≈1.4e5, squares ≈2e10, all far inside 2⁵³), so the published
    * double is one IEEE division of exactly-converted integers.
    * Levels with zero tokens drop out of the fit; blocks with fewer
    * than two live levels or zero x-variance publish NULL.
    *
    * Returns one row per block:
    * `(block, tokens_l1..tokens_lL, types_l1..types_lL,
    * heaps_slope)`.
    */
  def heapsAudit(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, levels: Int = 4): DataFrame = {
    require(levels >= 2 && levels <= 8,
      s"levels must be in [2, 8], got $levels")
    val draw = substring(
      md5(concat(lit("heaps|"), col(idCol).cast(StringType))), 1, 4)
    val thrs: Seq[Option[String]] = (1 to levels).map { l =>
      if (l == levels) None
      else Some(graft.ops.Sampling.hexThreshold(
        math.pow(2.0, -(levels - l))))
    }
    def inLevel(d: Column, l: Int): Column = thrs(l - 1) match {
      case Some(t) => d < lit(t)
      case None => lit(true)
    }
    val tok = docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"), draw.as("_d"),
        explode(tokens(col(textCol))).as("tok"))
    val cntCols = (1 to levels).map(l =>
      sum(when(inLevel(col("_d"), l), 1L).otherwise(0L)).as(s"_c$l"))
    val perType = tok.groupBy("block", "tok")
      .agg(min(col("_d")).as("_md"), cntCols: _*)
    val lvlCols = (1 to levels).flatMap(l => Seq(
      sum(col(s"_c$l")).as(s"tokens_l$l"),
      sum(when(inLevel(col("_md"), l), 1L).otherwise(0L))
        .as(s"types_l$l")))
    val perBlock = perType.groupBy("block")
      .agg(lvlCols.head, lvlCols.tail: _*)
    def u4(c: Column): Column =
      floor(log(c.cast(DoubleType)) * lit(10000.0) + lit(0.5))
        .cast(LongType)
    val live = (1 to levels).map(l =>
      when(col(s"tokens_l$l") > 0L, 1L).otherwise(0L))
    val xs = (1 to levels).map(l =>
      when(col(s"tokens_l$l") > 0L, u4(col(s"tokens_l$l")))
        .otherwise(0L))
    val ys = (1 to levels).map(l =>
      when(col(s"tokens_l$l") > 0L, u4(col(s"types_l$l")))
        .otherwise(0L))
    val n = live.reduce(_ + _)
    val sx = xs.reduce(_ + _)
    val sy = ys.reduce(_ + _)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.reduce(_ + _)
    val sxx = xs.map(x => x * x).reduce(_ + _)
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    perBlock.withColumn("heaps_slope",
      when(n < 2L || den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType)))
  }

  /** Per-document quality signals; flag = low-quality heuristic. */
  def withQualitySignals(df: DataFrame, text: Column, nChars: Column): DataFrame = {
    val toks = tokens(text)
    df.withColumn("token_cnt", size(toks).cast(LongType))
      .withColumn("avg_word_len", avgWordLen(nChars, col("token_cnt")))
      .withColumn("stop_cnt", stopwordCount(toks))
      .withColumn("low_quality",
        col("token_cnt") < 40 || col("avg_word_len") < lit(3.5))
  }

  /** In-engine quality/domain classifier TRAINING — the missing half of
    * [[hashClassifierScore]] (x60 runs inference over an
    * offline-trained linear model; this trains one, completing the
    * train → score → gate loop without leaving the engine): full-batch
    * perceptron over hashed-unigram counts + bias,
    * `w += lr·Σ_misclassified (2y−1)·x`, `epochs` passes.
    *
    * Cross-engine EXACTNESS by construction: learning rate 1/8 means
    * every weight is an exact multiple of 10⁻⁶·125000 — ALL arithmetic
    * (margins, update sums, weights) stays in Long micro-units, no
    * floating point until the final display division, no libm anywhere
    * (the perceptron's hard threshold needs no exp/sigmoid — that is
    * WHY it is the in-engine spelling; margin ties predict 0 by the
    * `> 0` contract).
    *
    * Scale design (100 TB): per epoch, one margin aggregate over the
    * feature rows (map-side combinable), one misclassified-set join
    * (AQE broadcasts it when training has nearly converged — the set
    * IS the remaining error mass), one bucket-grouped update aggregate
    * collapsing to ≤ dim+1 rows per task. Driver state = dim+1 longs
    * per epoch (the kmeansCentroids bounded-collect pattern); weights
    * ride each epoch's plan as a bounded literal.
    *
    * Returns `(bucket, w_micros, weight)` — bucket `dim` is the bias.
    */
  def perceptronTrain(docs: DataFrame, idCol: String, textCol: String,
      labelPred: Column, dim: Int, epochs: Int,
      lrMicros: Long = 125000L): DataFrame = {
    require(dim >= 1 && dim <= 1024, s"dim must be in [1, 1024], got $dim")
    require(epochs >= 1 && epochs <= 16,
      s"epochs must be in [1, 16], got $epochs")
    val spark = docs.sparkSession
    // feats is dim-bounded per document (≤ dim+1 rows of 4 longs — NOT
    // corpus-text-scale), so ONE lazy checkpoint feeds every epoch's
    // two consumers instead of re-tokenizing the corpus 2× per epoch;
    // blocks are released before returning (the result is a
    // driver-built table, nothing downstream references them)
    val feats = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), labelPred.as("y"),
        explode(concat(
          transform(tokens(col(textCol)),
            t => pmod(fingerprint(t), lit(dim.toLong))),
          array(lit(dim.toLong)))).as("bucket"))
      .groupBy("doc_id", "y", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val w = Array.fill[Long](dim + 1)(0L)
    try {
      (1 to epochs).foreach { _ =>
        val delta = (if (w.forall(_ == 0L)) {
          // all-zero weights ⇒ margins are identically 0 ⇒ predict 0 ⇒
          // the misclassified set is exactly the y=1 docs: one
          // aggregate, no margin pass, no join (exact, not a shortcut)
          feats.filter(col("y"))
            .groupBy("bucket").agg(sum(col("cnt")).as("d"))
        } else {
          // margin as a doc-partitioned window sum over the SAME feat
          // rows, so the misclassified rows filter in place — no
          // margins-aggregate + misclassified-set join re-reading feats
          // (one fewer stage per epoch; arithmetic unchanged: exact
          // Long micro-units either way)
          import org.apache.spark.sql.expressions.Window
          val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
          feats.withColumn("margin",
              sum(element_at(wLit,
                (col("bucket") + 1)
                  .cast(org.apache.spark.sql.types.IntegerType))
                * col("cnt")).over(Window.partitionBy("doc_id")))
            .filter((col("margin") > 0L) =!= col("y"))
            .groupBy("bucket")
            .agg(sum(when(col("y"), 1L).otherwise(-1L) * col("cnt")).as("d"))
        }).collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        delta.foreach { case (b, d) => w(b) += lrMicros * d }
      }
    } finally releaseLocalCheckpoint(feats)
    import spark.implicits._
    w.zipWithIndex
      .map { case (m, b) => (b.toLong, m, m.toDouble / 1000000.0) }
      .toSeq.toDF("bucket", "w_micros", "weight")
  }

  /** In-engine BPE merge induction — learns the top-`k` byte-pair-
    * encoding merges from the corpus, completing the tokenizer story:
    * the engine CONSUMES tokenizers everywhere (x14 applies fixed
    * merges, x70 plugs tokenizers into every text op); this PRODUCES
    * one from the data, the way training pipelines derive their vocab.
    *
    * Algorithm (classic corpus BPE): collapse the corpus to its word
    * frequency table; start from character symbols; repeat k times —
    * count adjacent symbol pairs weighted by word count, merge the most
    * frequent pair (ties: lexicographically smallest) everywhere,
    * leftmost-first non-overlapping.
    *
    * Engine-portable EXACTNESS: a word's segmentation rides as a
    * DOUBLE-SPACE-joined, space-padded symbol string ("  l  o  w  "),
    * so applying a merge is a plain-string `replace(" s1  s2 ", " s1s2 ")`
    * — leftmost non-overlapping global replace has identical semantics
    * in Spark, DuckDB, and java.lang.String, and a match consumes one
    * space from each side's double-space delimiter, which is exactly
    * the zero-width boundary the classic regex spelling needs
    * lookarounds for (RE2 has none — this spelling needs NO regex at
    * all). All counts are exact Longs; no floating point anywhere.
    *
    * Scale design (100 TB): the corpus collapses to the VOCABULARY
    * table (distinct word, count) in one map-side-combinable aggregate
    * — every round thereafter runs over vocab-bounded rows, never
    * corpus rows. Per round: one adjacent-pair aggregate (map-side
    * combinable) + a 1-row argmax collect; the chosen merge rides the
    * next round's plan as a string literal; driver state = the k
    * learned merges. The vocab table is checkpointed once and the k
    * `replace` layers stack as pure projections on it. ADAPTIVE small
    * path (the [[Clusters.connectedComponents]] take-probe precedent):
    * when the whole vocabulary fits under `smallVocabThreshold`, the
    * k rounds run as a driver loop over the probed rows — exact same
    * integer algorithm (pinned in TfIdfSpec), zero per-round jobs.
    *
    * Returns `(merge_rank, s1, s2, pair_count)`, `merge_rank` 1-based
    * in learn order; fewer than k rows when the corpus runs dry.
    */
  def bpeLearnMerges(docs: DataFrame, textCol: String, k: Int,
      tokenize: Column => Column = tokens,
      smallVocabThreshold: Int = 1 << 17): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs.filter(col(textCol).isNotNull)
      .select(explode(tokenize(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit("  "),
        regexp_replace(col("w"), "(?s)(.)", "$1  ")).as("sym"), col("cnt"))
    def result(ms: Seq[(Long, String, String, Long)]): DataFrame =
      ms.toDF("merge_rank", "s1", "s2", "pair_count")
    if (smallVocabThreshold > 0) {
      val probe = vocab.take(smallVocabThreshold + 1)
      if (probe.length <= smallVocabThreshold)
        return result(localBpeMerges(
          probe.map(r => (r.getString(0), r.getLong(1))), k))
    }
    val base = vocab.localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    try {
      var cur = base
      var r = 1
      var done = false
      while (r <= k && !done) {
        // bind the split array as an attribute BEFORE the lambda — a
        // captured EXPRESSION re-evaluates per element (the r6 HOF
        // trap); zip_with(a[1..n-1], a[2..n]) forms the adjacent pairs
        val withArr = cur.select(col("cnt"),
          split(trim(col("sym")), "  ").as("a"))
        val n1 = greatest(size(col("a")) - 1, lit(0))
        val top = withArr.select(col("cnt"),
            explode(zip_with(
              slice(col("a"), lit(1), n1), slice(col("a"), lit(2), n1),
              (x, y) => struct(x.as("s1"), y.as("s2")))).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("s1").asc, col("s2").asc)
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (s1, s2, c) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r.toLong, s1, s2, c))
          cur = cur.withColumn("sym", replace(col("sym"),
            lit(s" $s1  $s2 "), lit(s" $s1$s2 ")))
          r += 1
        }
      }
    } finally releaseLocalCheckpoint(base)
    result(merges.toSeq)
  }

  /** BPE ENCODING with a learned merge list — the apply step
    * completing [[bpeLearnMerges]]' train step. The whole document is
    * double-space-joined per CHARACTER (including its word-separator
    * spaces), then the merges replay in learned order as plain-string
    * replaces. Word boundaries need no special casing: an original
    * space becomes a SPACE-SYMBOL flanked by double spaces, and since
    * learned merge sides are never the space symbol (training
    * tokenizes first), no merge pattern can span it — chars of
    * adjacent words sit ≥5 spaces apart while a pattern requires
    * exactly 2. The invariant "each symbol + double space" survives
    * every replace, so non-space symbols are exactly the maximal
    * non-space runs of the final string.
    */
  def bpeEncodeSym(text: Column, merges: Seq[(String, String)]): Column = {
    // (?s): '.' must also match line terminators, or a newline would
    // get no padding and glue onto the next character's symbol
    val init = concat(lit("  "), regexp_replace(text, "(?s)(.)", "$1  "))
    merges.foldLeft(init) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
  }

  /** BPE token count of `text` under the learned `merges` — the count
    * of non-space symbols in [[bpeEncodeSym]]'s segmentation (space
    * symbols are separators, not tokens).
    */
  def bpeTokenCountLearned(text: Column,
      merges: Seq[(String, String)]): Column = {
    val t = trim(bpeEncodeSym(text, merges))
    when(t === "", 0L)
      .otherwise(size(split(t, " +")).cast(LongType))
  }

  /** Driver-side BPE over a collected vocabulary — bit-identical to the
    * distributed loop (same double-space strings, same
    * `String.replace` leftmost non-overlapping semantics, same
    * (count desc, s1, s2) tie-break; equivalence pinned in TfIdfSpec).
    * The s1/s2 tie-break compares UTF-8 BYTES, not Java chars: the
    * distributed loop's `orderBy(s1.asc)` is UTF8String's unsigned
    * byte order (== code-point order), which disagrees with UTF-16
    * code-unit order for supplementary characters vs U+E000–U+FFFF.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private def localBpeMerges(words: Array[(String, Long)],
      k: Int): Seq[(Long, String, String, Long)] = {
    var syms = words
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val pc = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      syms.foreach { case (s, c) =>
        val parts = s.trim.split("  ")
        var i = 0
        while (i + 1 < parts.length) {
          val key = (parts(i), parts(i + 1))
          pc.update(key, pc.getOrElse(key, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((s1, s2), c) = pc.min(Ordering.fromLessThan[
            ((String, String), Long)] { case (((a1, a2), n1), ((b1, b2), n2)) =>
          if (n1 != n2) n1 > n2
          else {
            val c1 = utf8Compare(a1, b1)
            if (c1 != 0) c1 < 0 else utf8Compare(a2, b2) < 0
          }
        })
        out += ((r.toLong, s1, s2, c))
        syms = syms.map { case (s, cn) =>
          (s.replace(s" $s1  $s2 ", s" $s1$s2 "), cn)
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** Frozen char-trigram language-ID model — [[langTrigramModel]]'s
    * export, the [[graft.ops.Sampling.DsirModel]] pattern applied to
    * language identification: `langs` sorted ascending (the arg-max
    * tie-break order), `lamMicros(li)(b)` the 6-dp add-one-smoothed
    * trigram-bucket log-probability of language `li` in micro-units,
    * INCLUDING never-seen buckets (their smoothed value is what an
    * unseen trigram scores). Driver state = `langs.size × dim` longs,
    * bounded by the train-time caps.
    */
  final case class LangTrigramModel(langs: IndexedSeq[String],
      lamMicros: IndexedSeq[IndexedSeq[Long]], dim: Int)

  /** TRAINS the frozen [[LangTrigramModel]] from a labeled corpus —
    * the upgrade path from [[langId]]'s fixed marker voting
    * (x3) to a model the corpus itself fits, the way production
    * pipelines train fastText-style identifiers on labeled seed data.
    * Per language: hashed char-trigram counts (portable rolling
    * fingerprint of each 3-char window mod `dim` — the x4/x51/x82
    * fold) → add-one-smoothed log-probability per bucket,
    * `ln((cnt+1)/(total+dim))` rounded to 6 dp (the x73/x82 ln
    * precedent, exact micro-units thereafter).
    *
    * Scale: per doc ONE [[graft.functions.LangIdKernel.trigramCounts]]
    * kernel scan to a dim-length count vector, then one map-side-
    * combinable `vector_sum` aggregate — the corpus never explodes to
    * trigram rows (the per-row-op-goes-native rule; the interpreted
    * explode spelling cost 2.1 s vs 0.6 s at sf0.1). The collect is
    * bounded by `nLangs × dim` (≤ 64 × 1024 — the MaxPlanCentroids
    * bounded-collect pattern).
    */
  def langTrigramModel(docs: DataFrame, langCol: String, textCol: String,
      dim: Int): LangTrigramModel = {
    require(dim >= 2 && dim <= 1024, s"dim must be in [2, 1024], got $dim")
    val counts = docs
      .filter(col(textCol).isNotNull && col(langCol).isNotNull &&
        length(col(textCol)) >= 3)
      .select(col(langCol).as("lang"),
        graft.functions.LangIdFunctions.trigramCounts(
          col(textCol), dim).as("_c"))
      .groupBy("lang")
      .agg(graft.functions.VectorFunctions.vectorSum(col("_c")).as("c"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1))
      .toMap
    val langs = counts.keys.toIndexedSeq.sorted
    require(langs.nonEmpty, "no language has a document with >= 3 chars")
    require(langs.size <= 64,
      s"plan-literal model supports <= 64 languages, got ${langs.size}")
    val lam = langs.map { lg =>
      // counts are integral by construction; doubles are exact < 2^53
      val cs = counts(lg).map(_.toLong)
      val tot = cs.sum
      IndexedSeq.tabulate(dim) { b =>
        java.math.BigDecimal.valueOf(
            math.log((cs(b) + 1.0) / (tot + dim.toDouble)))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact()
      }
    }
    LangTrigramModel(langs, lam, dim)
  }

  /** Scores documents against a frozen [[LangTrigramModel]] as ONE
    * stateless per-row projection — no joins, no shuffles, no state —
    * so it runs unchanged on a STREAM (StreamingSpec streams this op
    * itself). The L×dim table
    * rides inside the native [[graft.functions.LangIdKernel]] codegen
    * expression; every language is scored in the same single text scan
    * and the arg-max (ties → lexicographically smallest language) is
    * taken in-kernel. Documents with fewer than 3 code points (no
    * trigram) are dropped.
    *
    * Returns `(doc_id, lang_pred, n_trigrams, logp)`; `logp` is the
    * winning language's total log-probability.
    */
  def langIdScore(docs: DataFrame, idCol: String, textCol: String,
      model: LangTrigramModel): DataFrame = {
    val flat = model.lamMicros.flatten
    val langsLit = array(model.langs.map(lit(_)): _*)
    val sc = graft.functions.LangIdFunctions.langScore(
      col(textCol), flat, model.dim, model.langs.size)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), sc.as("_s"))
      .filter(col("_s.n_trigrams") >= 1)
      .select(col("doc_id"),
        element_at(langsLit, col("_s.best_idx") + 1).as("lang_pred"),
        col("_s.n_trigrams").as("n_trigrams"),
        (col("_s.best_micros").cast(DoubleType) / lit(1000000.0))
          .as("logp"))
  }

  /** The distributed join-window spelling of [[langIdScore]] — the
    * executable specification the [[graft.functions.LangIdKernel]]
    * one-scan is property-tested against (TokenizerSpec), and the
    * shape the DuckDB oracle mirrors: explode trigram buckets, join
    * the L×dim model table, per-(doc, lang) micro-unit sums, arg-max
    * by (sum desc, lang asc).
    */
  def langIdScoreSpec(docs: DataFrame, idCol: String, textCol: String,
      model: LangTrigramModel): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val mrows = model.langs.zipWithIndex.flatMap { case (lg, li) =>
      (0 until model.dim).map(b => (lg, b.toLong, model.lamMicros(li)(b)))
    }
    val mdf = broadcast(mrows.toDF("lang", "bucket", "m"))
    // r15: hash the trigram INSIDE a transform over the position
    // array, exploding only the bucket longs — the old spelling made
    // every generated row carry the full text until the substr
    // projection (a charLen× row-copy amplification)
    docs.filter(col(textCol).isNotNull && length(col(textCol)) >= 3)
      .select(col(idCol).as("doc_id"),
        explode(transform(sequence(lit(1), length(col(textCol)) - 2),
          i => pmod(graft.functions.HashFunctions.rollingFingerprint(
            substr(col(textCol), i, lit(3))),
            lit(model.dim.toLong)))).as("bucket"))
      .join(mdf, Seq("bucket"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_trigrams"), sum(col("m")).as("s"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("s").desc, col("lang").asc)))
      .filter(col("_rk") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"),
        col("n_trigrams"),
        (col("s").cast(DoubleType) / lit(1000000.0)).as("logp"))
  }

  /** Per-source dataset audit card — the one-stop report a 100 TB
    * ingest publishes next to the corpus: document and token counts,
    * the exact-duplicate rate, and the length distribution (mean +
    * exact p50/p90). The percentiles are DISCRETE (smallest value whose
    * cumulative count reaches the quantile), spelled in pure integer
    * arithmetic (`2·cum ≥ n`, `10·cum ≥ 9·n`) so both engines agree
    * bit-for-bit with no interpolation.
    *
    * Scale design (100 TB): distinct texts count via the two-level
    * (source, md5) pre-aggregate — never a countDistinct expand over
    * the corpus; the length distribution first collapses to
    * (source, length) COUNTS (bounded by #distinct lengths, NOT corpus
    * size) before the per-source cumulative window runs over those tiny
    * groups; the three per-source tables join broadcast. The corpus is
    * read twice (stats+distinct / lengths) but never shuffled at
    * corpus size — every exchange carries aggregated rows.
    *
    * Returns `(source, n_docs, n_tokens, n_uniq_texts, dup_rate,
    * mean_chars, p50_chars, p90_chars)`.
    */
  def datasetCard(docs: DataFrame, sourceCol: String, textCol: String,
      charsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).as("n_tokens"),
        sum(col(charsCol)).as("_sum_chars"))
    val uniq = docs
      .select(col(sourceCol).as("source"), md5(col(textCol)).as("_h"))
      .groupBy("source", "_h").agg(count(lit(1)).as("_c"))
      .groupBy("source").agg(count(lit(1)).as("n_uniq_texts"))
    val lenCounts = docs
      .groupBy(col(sourceCol).as("source"), col(charsCol).as("_len"))
      .agg(count(lit(1)).as("_c"))
    val cum = lenCounts.withColumn("_cum",
      sum(col("_c")).over(Window.partitionBy("source")
        .orderBy(col("_len").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pct = cum.join(broadcast(base.select(col("source"), col("n_docs"))),
        Seq("source"))
      .groupBy("source")
      .agg(
        min(when(col("_cum") * 2 >= col("n_docs"), col("_len")))
          .as("p50_chars"),
        min(when(col("_cum") * 10 >= col("n_docs") * 9, col("_len")))
          .as("p90_chars"))
    base.join(broadcast(uniq), Seq("source"))
      .join(broadcast(pct), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_uniq_texts"),
        ((col("n_docs") - col("n_uniq_texts")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_rate"),
        (col("_sum_chars").cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("mean_chars"),
        col("p50_chars"), col("p90_chars"))
  }

  /** Good–Turing vocabulary-saturation report (x134) — per stratum,
    * the Turing missing-mass estimate `p₀ ≈ n₁/N` (Good 1953; Gale &
    * Sampson 1995's simple form): the fraction of future tokens
    * expected to be word types NEVER seen in this corpus slice. The
    * corpus-coverage gauge a data pipeline reads before trusting
    * per-source statistics — a stratum with high unseen mass is
    * undertrained/undersampled (its vocabulary curve is still
    * climbing), and n₁/n₂ feed any Simple-GT smoothing downstream.
    *
    * All-integer publishing: N (token count), T (type count), n₁
    * (singleton types), n₂ (doubleton types) are exact BIGINTs and
    * `unseen_mass_micros = (n₁·10⁶) div N` is exact floor division —
    * no FP anywhere, unconditionally portable.
    *
    * Scale: ONE (stratum, token) aggregate — map-side combinable, the
    * exchange carries (stratum, token, count) — then a stratum-sized
    * rollup. Vocabulary is Heaps-sublinear in corpus size, so the
    * type table (the only non-trivial intermediate) grows far slower
    * than the data.
    *
    * Returns `(strataCol, n_tokens, n_types, n_singletons,
    * n_doubletons, unseen_mass_micros)`.
    */
  def goodTuringReport(docs: DataFrame, textCol: String,
      strataCol: String): DataFrame = {
    val types = docs
      .select(col(strataCol), explode(tokens(col(textCol))).as("_w"))
      .groupBy(col(strataCol), col("_w"))
      .agg(count(lit(1)).as("_c"))
    types.groupBy(col(strataCol))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("_c") === 2, 1L).otherwise(0L)).as("n_doubletons"))
      .withColumn("unseen_mass_micros",
        expr("(n_singletons * 1000000) div n_tokens"))
  }

  /** Per-source signature n-grams — the template/boilerplate
    * DISCOVERY gauge (x133 removes known repeats; this one says what
    * a source's repeats ARE): per block, the top-k word n-grams by
    * source-level TF-IDF `tf · ln(S/df)` where `tf` counts the gram's
    * occurrences in the block, `df` the number of blocks containing
    * it, and `S` the block count — a gram scoring high is frequent
    * HERE and rare elsewhere, i.e. this site's navigation, footer, or
    * house style.
    *
    * Determinism: the x39 contract — exact BIGINT tf/df, one IEEE
    * `tf·ln(S/df)` per row rounded at 6 dp (RoundingMarginSpec pins
    * the libm boundary margins), rank on (score DESC, term ASC).
    *
    * Scale: ONE map-side-combinable (block × gram) aggregate — the
    * table is gram-vocabulary-bounded, Heaps-sublinear in the corpus;
    * `df` is a WINDOW count over it (gram-keyed exchange, never a
    * re-join); `S` rides a broadcast one-row frame; the per-block
    * rank cut pushes down as a WindowGroupLimit.
    *
    * Returns `(block, term, tf, df, score, rk)`, `rk` ≤ `k`.
    */
  def sourceSignatureNgrams(docs: DataFrame, textCol: String,
      blockCol: String, n: Int = 3, k: Int = 5): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(blockCol).as("block"),
        explode(ngrams(tokens(col(textCol)), n, keepPartial = false))
          .as("term"))
      .groupBy("block", "term").agg(count(lit(1)).as("tf"))
    // count(col), not count(lit(1)): a NULL block must not inflate S —
    // the COUNT(DISTINCT source) portable twin excludes NULLs
    val s = docs.select(col(blockCol)).distinct()
      .agg(count(col(blockCol)).cast(DoubleType).as("_s"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(s))
      .withColumn("score",
        round(col("tf") * log(col("_s") / col("df")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("block")
        .orderBy(col("score").desc, col("term").asc)).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("block"), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** Exact-duplicate cluster-size spectrum — the concentration gauge
    * behind q19's dedup stats: group documents by exact content hash,
    * then publish, per GROUP SIZE, how many groups have it, how many
    * documents they hold, and that mass as a floor-division share of
    * the corpus. A heavy tail (big sizes carrying real mass) says the
    * corpus needs the x33/x48 cluster passes, not just pair dedup.
    *
    * Determinism: md5 grouping and exact BIGINT counts; the share is
    * one floor division against a broadcast total.
    *
    * Scale: one map-side-combinable hash aggregate (the exact-dedup
    * shape), one group-size rollup (size-bounded output).
    *
    * Returns `(group_size, n_groups, n_docs, mass_micros)`.
    */
  def dupClusterSpectrum(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sizes = docs
      .select(md5(col(textCol)).as("_h"), col(idCol))
      .groupBy("_h").agg(count(lit(1)).as("group_size"))
    val dist = sizes.groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", col("group_size") * col("n_groups"))
    val total = dist.agg(sum(col("n_docs")).as("_tot"))
    dist.crossJoin(broadcast(total))
      .select(col("group_size"), col("n_groups"), col("n_docs"),
        expr("(n_docs * 1000000) div _tot").as("mass_micros"))
  }

  /** Per-block sentence statistics — the readability triage next to
    * [[charsetProfile]]: documents segment on terminal-punctuation
    * runs (`[.!?]+`), non-blank segments count as sentences, and the
    * report publishes, per block, the doc count, total sentence
    * count, the mean sentence length in character micros, and the
    * share of docs with NO sentence boundary at all (one giant
    * segment — the run-on/log-dump tell; a near-1 share flags a
    * source that isn't prose).
    *
    * Determinism: both engines split on the IDENTICAL regex and trim
    * plain spaces; segment lengths count codepoints (`length` in
    * both); all rollups are exact BIGINTs; means are floor divisions
    * guarded for empty blocks. NULL texts are excluded. A doc whose
    * text contains only punctuation/spaces yields zero sentences and
    * still counts in `n_docs` (and as boundary-free).
    *
    * Scale: one stateless per-row projection (split + filter +
    * aggregate over the segment array — codegen'd HOFs) into a
    * block-bounded rollup. No joins, no windows.
    *
    * Returns `(block, n_docs BIGINT, n_sentences BIGINT,
    * mean_sent_len_micros BIGINT — NULL for a sentence-free block,
    * no_boundary_micros BIGINT)`.
    */
  def sentenceStats(docs: DataFrame, textCol: String,
      blockCol: String): DataFrame = {
    val segs = filter(
      transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val per = docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"),
        size(segs).cast(LongType).as("_ns"),
        coalesce(aggregate(segs, lit(0L),
          (acc, s) => acc + length(s).cast(LongType)), lit(0L))
          .as("_sl"),
        // boundary-free: the text holds no terminal punctuation at
        // all (a trailing "." still counts as a boundary even though
        // it opens no second segment)
        (!col(textCol).rlike("[.!?]")).cast(LongType).as("_nb"))
    per.groupBy(col("block"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_ns")).as("n_sentences"),
        sum(col("_sl")).as("_sum_len"),
        sum(col("_nb")).as("_nb"))
      .select(col("block"), col("n_docs"), col("n_sentences"),
        when(col("n_sentences") > 0L,
          expr("(_sum_len * 1000000) div n_sentences"))
          .as("mean_sent_len_micros"),
        expr("(_nb * 1000000) div n_docs").as("no_boundary_micros"))
  }

  /** Per-block markup/contact profile — the crawl-artifact incidence
    * report a curation pass reads before choosing extraction rules:
    * per block, the share of documents containing a URL, an email
    * address, or an HTML tag, in floor-division micros. High URL+tag
    * shares mean the extractor (x89) must run before quality gates;
    * a high email share routes the block through PII scrubbing (x46)
    * first.
    *
    * Determinism: three fixed regexes via `rlike`/`regexp_matches` —
    * explicit ASCII classes only (no `\\w`/`\\b` whose Unicode
    * semantics differ per engine); presence is a per-doc 0/1 so the
    * rollup is an exact sum; shares are floor divisions. NULL texts
    * are excluded.
    *
    * Scale: one stateless projection (three codegen'd regex probes)
    * into a block-bounded rollup. No joins, no windows.
    *
    * Returns `(block, n_docs BIGINT, url_micros BIGINT, email_micros
    * BIGINT, tag_micros BIGINT)`.
    */
  def markupProfile(docs: DataFrame, textCol: String,
      blockCol: String): DataFrame = {
    def share(pat: String): Column =
      col(textCol).rlike(pat).cast(LongType)
    docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"),
        share("https?://").as("_u"),
        share("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}")
          .as("_e"),
        share("<[A-Za-z][A-Za-z0-9]*[^>]*>").as("_t"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_u")).as("_su"),
        sum(col("_e")).as("_se"), sum(col("_t")).as("_st"))
      .select(col("block"), col("n_docs"),
        expr("(_su * 1000000) div n_docs").as("url_micros"),
        expr("(_se * 1000000) div n_docs").as("email_micros"),
        expr("(_st * 1000000) div n_docs").as("tag_micros"))
  }

  /** Duplication-vs-quality lift — does boilerplate correlate with a
    * quality proxy? Documents group into exact-duplicate clusters (md5
    * of the text, the q19d key), each doc is classed by its cluster
    * size capped at `capClass` (the `5` class means "5 or more
    * copies"), and the report publishes, per size class, the doc
    * count, the mean of `lenCol` in micros, and that mean's lift
    * against the corpus mean. A lift well under 10⁶ on the high-copy
    * classes is the classic crawl signature — heavily duplicated text
    * is short template chrome — and justifies dedup BEFORE quality
    * filtering (the filter would otherwise spend its budget
    * re-judging copies of the same short page).
    *
    * Determinism: exact BIGINT sums/counts; both means round to
    * micros by floor division FIRST, then the lift is one floor
    * division of those micros — spelled identically in the oracle so
    * the double rounding cannot diverge.
    *
    * Long headroom: `sum_len · 10⁶` caps at ~9.2e18, so corpora
    * beyond ~9e12 total chars in one class should sample ids first
    * (the documented sample-above convention of the lift family);
    * `mean_class_micros · 10⁶` is bounded by max doc length · 10¹²,
    * safe through ~9M-char documents.
    *
    * Scale: one hash aggregate on the md5 key (text never shuffles —
    * the key is the 32-char digest plus one BIGINT length), a
    * class-bounded rollup (≤ capClass rows), and a broadcast one-row
    * corpus total. No joins, no windows.
    *
    * Returns `(size_class BIGINT, n_docs BIGINT, mean_len_micros
    * BIGINT, lift_micros BIGINT)`.
    */
  def dupQualityLift(docs: DataFrame, textCol: String,
      lenCol: String, capClass: Long = 5L): DataFrame = {
    val grouped = docs
      .select(md5(col(textCol)).as("_h"),
        col(lenCol).cast(LongType).as("_len"))
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"), sum(col("_len")).as("_slen"))
    val classed = grouped
      .withColumn("size_class", least(col("_c"), lit(capClass)))
      .groupBy(col("size_class"))
      .agg(sum(col("_c")).as("n_docs"), sum(col("_slen")).as("_sum"))
    val tot = classed.agg(sum(col("n_docs")).as("_n"),
      sum(col("_sum")).as("_l"))
    classed.crossJoin(broadcast(tot))
      .select(col("size_class"), col("n_docs"),
        expr("(_sum * 1000000) div n_docs").as("mean_len_micros"),
        expr("(((_sum * 1000000) div n_docs) * 1000000) div " +
          "((_l * 1000000) div _n)").as("lift_micros"))
  }

  /** Per-block character-class profile — the charset audit a crawl
    * triage reads before language filters: per block (source), the
    * exact share of ASCII letters, digits, spaces, and everything
    * else, in floor-division micros of the block's total character
    * mass. A near-zero letter share flags binary-junk sources; a
    * digit-heavy profile flags logs/tables; the "other" share proxies
    * non-ASCII scripts without a decoder.
    *
    * Determinism: class counts come from `length(x) −
    * length(regexp_replace(x, class, ''))` with EXPLICIT ASCII ranges
    * (`[A-Za-z]`, `[0-9]`, the literal space) — both engines delete
    * identical codepoint sets, and `length` counts codepoints in
    * both; sums are exact BIGINTs; shares are one floor division
    * each. (DuckDB needs the 'g' regexp flag for global replace —
    * the oracle spells it.)
    *
    * Scale: ONE stateless per-row projection (three codegen'd regex
    * passes over the text) into a block-bounded aggregate; no joins,
    * no windows, the only exchange is the block rollup.
    *
    * Returns `(block, n_chars, alpha_micros, digit_micros,
    * space_micros, other_micros)`.
    */
  def charsetProfile(docs: DataFrame, textCol: String,
      blockCol: String): DataFrame = {
    def classCount(cls: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), cls, ""))).cast(LongType)
    docs
      .select(col(blockCol).as("block"),
        length(col(textCol)).cast(LongType).as("_n"),
        classCount("[A-Za-z]").as("_a"),
        classCount("[0-9]").as("_d"),
        classCount(" ").as("_s"))
      .groupBy("block")
      .agg(sum(col("_n")).as("n_chars"),
        sum(col("_a")).as("_as"), sum(col("_d")).as("_ds"),
        sum(col("_s")).as("_ss"))
      .select(col("block"), col("n_chars"),
        // zero guard: a block whose texts are all empty (or all NULL)
        // has n_chars = 0 (or NULL) — publish NULL shares instead of
        // div-by-zero (ANSI error / engine-divergent // behavior)
        // (r16 ADVICE fix)
        when(col("n_chars") > 0L,
          expr("(_as * 1000000) div n_chars")).as("alpha_micros"),
        when(col("n_chars") > 0L,
          expr("(_ds * 1000000) div n_chars")).as("digit_micros"),
        when(col("n_chars") > 0L,
          expr("(_ss * 1000000) div n_chars")).as("space_micros"),
        when(col("n_chars") > 0L,
          expr("((n_chars - _as - _ds - _ss) * 1000000) div n_chars"))
          .as("other_micros"))
  }

  /** Per-block lexical-diversity profile — the type/token-ratio
    * histogram: TTR = distinct tokens / tokens per document in exact
    * floor-division micros, rolled into per-block decile buckets
    * (`ttr div 100000`, 0–10). Low-bucket mass marks repetitive /
    * template text the per-document repetition gauge (x41) sees one
    * document at a time; this shows the BLOCK-level distribution.
    *
    * Determinism: all-integer (BIGINT counts, two floor divisions);
    * tokens-per-doc is ≥ 1 by split semantics (both engines split ""
    * to [""]), so no zero guard is needed.
    *
    * Scale: one stateless per-row projection, one map-side-combinable
    * (block × bucket) aggregate — the charsetProfile shape.
    *
    * Returns `(block, bucket, n_docs, sum_tokens)`.
    */
  def lexicalDiversityProfile(docs: DataFrame, textCol: String,
      blockCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"),
        size(toks).cast(LongType).as("_n"),
        size(array_distinct(toks)).cast(LongType).as("_d"))
      .select(col("block"), col("_n"),
        expr("(_d * 1000000) div _n").as("_ttr"))
      .groupBy(col("block"), expr("_ttr div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("sum_tokens"))
  }

  /** Prefix-duplicate spectrum — head-dup detection: documents
    * sharing their first `k` tokens verbatim (mirrored scrapes,
    * templated intros, truncation artifacts) grouped by the md5 of
    * that prefix, published as the x160 group-size spectrum. Exact
    * whole-document dedup (q19/x160) misses these when tails differ;
    * chunk dedup (x45) sees them only when the prefix aligns to a
    * chunk boundary.
    *
    * Determinism: md5 over the space-joined prefix (both engines
    * clamp the slice at the token count); exact BIGINT counts.
    *
    * Scale: one hash-keyed aggregate + one size rollup — the exact
    * dedup shape; no joins, no windows.
    *
    * Returns `(group_size, n_groups, n_docs)`.
    */
  def prefixDupSpectrum(docs: DataFrame, textCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val pref = md5(concat_ws(" ", slice(tokens(col(textCol)), 1, k)))
    docs.filter(col(textCol).isNotNull)
      .select(pref.as("_h"))
      .groupBy("_h").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"))
  }

  /** Per-block n-gram HEAD coverage — the boilerplate-mass gauge: how
    * much of a block's n-gram OCCURRENCE volume its top-10 / top-100
    * gram types carry (count-desc, term-asc rank). Natural text is
    * Zipf-heavy but long-tailed; a block whose top-10 covers most of
    * its mass is template output — the aggregate warning that x157's
    * per-gram signatures then itemize.
    *
    * Determinism: exact BIGINT counts, deterministic (count DESC,
    * term ASC) rank, two floor divisions.
    *
    * Scale: ONE map-side-combinable (block × gram) aggregate
    * (gram-vocabulary-bounded), one block-PARTITIONED rank window
    * over it, one block rollup. No global sort, no joins.
    *
    * Returns `(block, total_occ, top10_occ, top100_occ, cov10_micros,
    * cov100_micros)` — blocks with no n-gram (every doc < n tokens)
    * yield no row.
    */
  def ngramHeadCoverage(docs: DataFrame, textCol: String,
      blockCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(blockCol).as("block"),
        explode(ngrams(tokens(col(textCol)), n, keepPartial = false))
          .as("term"))
      .groupBy("block", "term").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("c").desc, col("term").asc)
    tf.withColumn("rk", row_number().over(w))
      .groupBy("block")
      .agg(sum(col("c")).as("total_occ"),
        sum(when(col("rk") <= 10, col("c")).otherwise(0L))
          .as("top10_occ"),
        sum(when(col("rk") <= 100, col("c")).otherwise(0L))
          .as("top100_occ"))
      .select(col("block"), col("total_occ"), col("top10_occ"),
        col("top100_occ"),
        expr("(top10_occ * 1000000) div total_occ").as("cov10_micros"),
        expr("(top100_occ * 1000000) div total_occ")
          .as("cov100_micros"))
  }

  /** Language × source association matrix — the multilinguality map a
    * curation pipeline reads before routing per-language gates (x92's
    * buckets, x87's lang-id): per (lang, source) cell the document
    * count and its exact lift against independence (~10⁶ = the source
    * is language-neutral; high = this source IS that language's
    * supply).
    *
    * Determinism: one BIGINT cell aggregate; marginals are window
    * sums OVER that aggregate (never a re-scan); lift is one floor
    * division of exact integer products.
    *
    * Long headroom: `n · N · 10⁶` caps the exact path at ~10⁵ docs
    * per cell on a 10⁸-doc corpus; above that, sample (the x29/x112
    * convention).
    *
    * Returns `(lang, source, n_docs, lift_micros)`.
    */
  def langSourceLift(docs: DataFrame, langCol: String,
      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs
      .filter(col(langCol).isNotNull && col(sourceCol).isNotNull)
      .groupBy(col(langCol).as("lang"), col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = m.agg(sum(col("n_docs")).as("_nt"))
    m.withColumn("_nl",
        sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .withColumn("_ns",
        sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("(n_docs * _nt * 1000000) div (_nl * _ns)")
          .as("lift_micros"))
  }

  /** Cross-source duplication matrix — WHO copies WHOM: for every
    * exact-content group (md5 of text) spanning two sources, one
    * count per unordered source pair, with each side's duplicated
    * document mass. High off-diagonal cells mark mirror/syndication
    * relationships a per-source dedup pass never sees; they are the
    * blocks to collapse FIRST at 100 TB (dedup across exactly these
    * pairs, skip the rest).
    *
    * Determinism: md5 grouping, exact BIGINT counts, (least, greatest)
    * pair canonicalization via `source_a < source_b`.
    *
    * `prefixK` > 0 keys on the first-k-token prefix (the x165 head-dup
    * key) instead of whole text — the looser relationship that
    * catches syndication with differing tails; 0 keys on exact
    * content.
    *
    * Scale: one (hash × source) map-side-combinable aggregate, then a
    * self-join ON THE HASH whose per-key bucket is bounded by the
    * source count (never by document count — a million-way duplicate
    * is ONE row per source here).
    *
    * Returns `(source_a, source_b, n_groups, n_docs_a, n_docs_b)`.
    */
  def crossSourceDupMatrix(docs: DataFrame, textCol: String,
      sourceCol: String, prefixK: Int = 0): DataFrame = {
    val key = if (prefixK > 0)
      md5(concat_ws(" ", slice(tokens(col(textCol)), 1, prefixK)))
    else md5(col(textCol))
    val g = docs.filter(col(textCol).isNotNull)
      .select(key.as("_h"), col(sourceCol).as("_s"))
      .groupBy("_h", "_s").agg(count(lit(1)).as("_c"))
    val a = g.select(col("_h"), col("_s").as("source_a"),
      col("_c").as("_ca"))
    val b = g.select(col("_h"), col("_s").as("source_b"),
      col("_c").as("_cb"))
    a.join(b, Seq("_h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_groups"),
        sum(col("_ca")).as("n_docs_a"),
        sum(col("_cb")).as("n_docs_b"))
  }
}
