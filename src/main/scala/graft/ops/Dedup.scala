package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashFunctions.{minhashSig, simhash64}

/** Deduplication operators for the LLM-pipeline north star.
  *
  * Scale design (100 TB): every method here is
  * candidate-generation-by-bucketing — explode a per-document key set,
  * shuffle once on the bucket key, and only compare documents that share
  * a bucket. No driver-side state, no O(n²) stage; the quadratic work is
  * confined to within-bucket pairs (LSH theory bounds bucket sizes for
  * non-adversarial data; a hot bucket is AQE-skew-split since the
  * pair-join is a shuffle join on the bucket key).
  */
object Dedup {

  /** Exact dedup: keep one row per distinct value of `cols`. */
  def dropExactDuplicates(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Token-set (unigram shingle) representation of a text column —
    * distinct AND sorted, so pairwise ops can run the allocation-free
    * merge-walk Jaccard kernel (sort once per document, compare once
    * per candidate pair). Set semantics are order-independent, so every
    * consumer (MinHash, LSH, exact Jaccard) is unaffected.
    *
    * array_sort, NOT sort_array, DELIBERATELY (r20 measured): the
    * hypothesis that ArraySort's default-lambda comparator pays an
    * interpreted-HOF tax vs SortArray's native ordering did NOT
    * reproduce — swapping the whole family to sort_array moved the
    * 8-row token-set solo suite 82.3 → 79.6 s summed warm CPU, inside
    * this family's ±15% cpu_runs jitter, with zero wall change
    * (7.35 → 7.48 s). Spark 4 evidently specializes the default
    * comparator. Keeping array_sort also keeps SortedKernelRule's
    * merge-walk match trivially exact.
    */
  def tokenSet(text: Column,
      tokenize: Column => Column = TextAnalysis.tokens): Column =
    array_sort(array_distinct(tokenize(text)))

  /** Word k-shingles (k consecutive tokens joined by space), sorted +
    * distinct like [[tokenSet]]; a sub-k document yields its one
    * clipped shingle. Built on [[TextAnalysis.ngrams]]'s zip_with
    * chain — the former transform-over-indices formulation re-split
    * the text per shingle inside the lambda (interpreted HOFs do no
    * subexpression elimination).
    */
  def shingles(text: Column, k: Int,
      tokenize: Column => Column = TextAnalysis.tokens): Column =
    array_sort(array_distinct(
      TextAnalysis.ngrams(tokenize(text), k, keepPartial = true)))

  /** Exact pairwise n-gram Jaccard within a blocking key. Output columns:
    * a_id, b_id, jaccard (raw double: size ratios divide identically in
    * any engine). Blocking bounds the pair count; pass a coarse key for
    * exhaustive-within-group semantics. `setCol` must be sorted+distinct
    * (what [[tokenSet]]/[[shingles]] produce) — the pairwise kernel is
    * the allocation-free merge walk.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, setCol: String,
      blockCol: String, minJaccard: Double): DataFrame = {
    // both self-join sides inherit the input's scan partitioning; on a
    // sub-splittable single file the streamed probe side (pair
    // generation + the per-pair intersect kernel) would run as ONE
    // task (Parallelize.ensure; no-op at scale)
    val src = Parallelize.ensure(docs)
    val a = src.select(col(idCol).as("a_id"), col(blockCol).as("block"),
      col(setCol).as("a_set"))
    val b = src.select(col(idCol).as("b_id"), col(blockCol).as("block"),
      col(setCol).as("b_set"))
    a.join(b, Seq("block"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.setJaccardSorted(
          col("a_set"), col("b_set")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash + LSH near-dedup candidates.
    *
    * Pipeline: tokens → MinHash signature (single-pass native expression)
    * → split into `bands` bands of `rowsPerBand` → explode → shuffle on
    * (band_id, band_hash) → self-join within buckets → estimate
    * similarity as the fraction of equal signature components.
    *
    * Probability a pair with Jaccard j becomes a candidate:
    * 1 - (1 - j^rowsPerBand)^bands — the standard LSH S-curve.
    */
  /** Distinct LSH candidate pairs `(a_id, b_id)` — the shared bucketed
    * generator. The bucket-join carries ids ONLY (16 bytes/row); the
    * naive formulation would carry both 64-long signatures through the
    * bucket join — ~60× more shuffle bytes and a per-band duplicate of
    * every pair's downstream computation.
    */
  /** Per-document `(id, block, band_id, band_hash)` bucket keys — the
    * stateless projection shared by the batch generator below and the
    * streaming detector (`graft.streaming.DocStreams.nearDupCandidates`):
    * tokens → MinHash signature → xxhash64 of each band's slice. Being a
    * pure projection it runs identically on a batch DataFrame and on an
    * unbounded stream.
    */
  def bandedSignatures(docs: DataFrame, idCol: String, tokenSetCol: String,
      numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // the minhash projection is the family's CPU hot spot — rescue it
    // from a sub-splittable scan (Parallelize.ensure; no-op at scale
    // and on streams)
    Parallelize.ensure(docs)
      .select(col(idCol).as("id"), blockCol.as("block"),
        minhashSig(col(tokenSetCol), numHashes).as("sig"))
      .select(col("id"), col("block"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("band_hash")))).as("band"))
      .select(col("id"), col("block"),
        col("band.band_id"), col("band.band_hash"))
  }

  def lshCandidatePairs(docs: DataFrame, idCol: String, tokenSetCol: String,
      numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    // NO materialization barrier here, DELIBERATELY (r20 measured): the
    // self-join's two `banded` sides do re-run the MinHash projection,
    // but the one-pass xxhash64 kernel is cheaper than writing+reading
    // checkpoint blocks — a lazy localCheckpoint of `banded` raised
    // x12's warm suite CPU 7.2 → 11.6 s (wall 1.33 → 1.87) and x50's
    // 12.9 → 20.2 s. The probe stage, not the signature kernel,
    // dominates this family (r20 per-stage CPU audit).
    val banded = bandedSignatures(docs, idCol, tokenSetCol, numHashes,
      bands, blockCol)
    val a = banded.select(col("block"), col("band_id"), col("band_hash"),
      col("id").as("a_id"))
    val bb = banded.select(col("block"), col("band_id"), col("band_hash"),
      col("id").as("b_id"))
    a.join(bb, Seq("block", "band_id", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Engine-PORTABLE MinHash-LSH pipeline: signature component i is the
    * lexicographic minimum over tokens of an 8-hex-char slice of
    * `md5("s|" ++ token)` (component i = slice i%4 of md5 seed i/4 —
    * four 32-bit components per digest, so k=8 costs TWO md5 evals per
    * token, not eight; each slice is an independent uniform hash, so
    * the Broder estimator is untouched). Bands are string
    * concatenations of signature components, candidates come from the
    * same bucket join as [[lshCandidatePairs]], and the estimate is
    * the fraction of equal components. Every step is expressible
    * verbatim in any SQL engine (md5 + substring + string min +
    * concat), so — unlike the xxhash64-based sketch family (x8/x13),
    * which the driver can only rows-check — the ENTIRE sketch pipeline
    * (signature → banding → bucket join → estimate) is hash-compared
    * against DuckDB (x43). Estimator contract is classic MinHash:
    * P(component equal) = Jaccard of the token sets (32-bit slice
    * collisions perturb it at ~tokens²/2^33 per component — orders
    * below the estimator's own k-sample variance).
    *
    * Interpreted md5-per-(token, digest) still costs several times the
    * one-pass xxhash64 `MinHashSig` kernel — this is the cross-engine
    * VERIFICATION twin pinning the pipeline's shape, not the
    * production sketch; the scale path stays [[minhashLshPairs]] /
    * [[nearDupPairs]]. Same id-only candidate shuffle either way.
    */
  def portableLshPairs(docs: DataFrame, idCol: String, textCol: String,
      minEst: Double, k: Int = 8, bands: Int = 4,
      blockCol: Column = lit(0)): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(k % 4 == 0, "k must be a multiple of 4 (4 slices per digest)")
    val rows = k / bands
    // distinct first: MinHash is a set sketch and min is idempotent
    // over duplicates, so hashing each DISTINCT token once gives the
    // identical signature at a fraction of the md5 evals. The whole
    // signature is ONE native one-pass kernel
    // ([[graft.functions.PortableMinHashKernel]]) that is bit-identical
    // to the md5/substr/list_min SQL spelling — the HOF formulation
    // allocated ~5 strings per token per digest AND re-evaluated the
    // md5 subtree on each side of the self-join plus twice more in the
    // signature re-joins (3 full md5 passes over the corpus).
    // the one-pass md5 signature kernel is the hot spot — rescue it
    // from a sub-splittable scan (Parallelize.ensure; no-op at scale)
    val sigs = Parallelize.ensure(docs)
      .select(col(idCol).as("id"), blockCol.as("block"),
        graft.functions.PortableMinHashFunctions.portableMinhashSig(
          array_distinct(tokens(col(textCol))), k).as("sig"))
    // carry the (64-byte) signature through the band explode so the
    // agreement estimate computes ON the band-join output — no
    // re-join against the signatures, no second/third md5 pass
    // NO materialization barrier, DELIBERATELY (r20 measured, same
    // verdict as lshCandidatePairs): checkpointing `banded` here —
    // sig strings + band keys are ~100 B/row — cost more block-write/
    // read CPU than the second md5 pass it saved (x43 warm suite CPU
    // 4.3 → 6.7 s, x110 10.8 → 15.6 s, x112 6.7 → 9.6 s).
    val banded = sigs.select(col("id"), col("block"), col("sig"),
        explode(array((0 until bands).map { bnd =>
          struct(lit(bnd).as("band_id"),
            concat((bnd * rows until (bnd + 1) * rows)
              .map(i => col("sig").getItem(i)): _*).as("band_key"))
        }: _*)).as("b"))
      .select(col("id"), col("block"), col("sig"),
        col("b.band_id"), col("b.band_key"))
    val a = banded.select(col("block"), col("band_id"), col("band_key"),
      col("id").as("a_id"), col("sig").as("a_sig"))
    val bb = banded.select(col("block"), col("band_id"), col("band_key"),
      col("id").as("b_id"), col("sig").as("b_sig"))
    val est = (0 until k).map(i =>
        when(col("a_sig").getItem(i) === col("b_sig").getItem(i), 1)
          .otherwise(0))
      .reduce(_ + _).cast(DoubleType) / k
    a.join(bb, Seq("block", "band_id", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), est.as("est"))
      .filter(col("est") >= minEst)
      .distinct()
  }

  private def tokens(text: Column): Column = split(text, " ", -1)

  /** Corpus-global repeated-chunk removal — the RefinedWeb/CCNet
    * "line-level dedup" shape generalized to deterministic token
    * windows (the fixture has no newlines): split every document into
    * non-overlapping `chunkSize`-token chunks, count each chunk text's
    * DOCUMENT frequency corpus-wide, drop chunks appearing in >=
    * `maxDocFreq` distinct documents from every document, and
    * reassemble the survivors in order. Removes boilerplate
    * (headers, navigation, license blocks) that whole-document dedup
    * cannot see because the surrounding text differs.
    *
    * Scale design (100 TB): three key-balanced shuffles, no driver
    * state — (1) document-frequency aggregation on the 16-byte md5
    * chunk key (partial-agg combines map-side); (2) the chunks⋈freq
    * join on the same hashed key (uniformly distributed by
    * construction; a boilerplate chunk repeated millions of times is
    * ONE row on the freq side, so no skew); (3) per-document
    * reassembly, state bounded by tokens-per-document. The chunk key
    * is INTERNAL (the output is per-document text, never the key), so
    * the production path uses 8-byte xxhash64 keys — 4× narrower
    * through the shuffle and far cheaper than md5 — while an oracle
    * keying the same pipeline on md5 gets identical output (collision
    * odds ~chunks²/2^64, the standing hashed-key argument of
    * Contamination/repetitionRatio).
    *
    * Returns one row PER INPUT DOCUMENT:
    * `(doc_id, n_chunks, n_dropped, kept_text)` — `kept_text` is ""
    * when every chunk was boilerplate.
    */
  def dropRepeatedChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, maxDocFreq: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be > 0")
    require(maxDocFreq >= 2, "maxDocFreq < 2 would drop every chunk")
    val chunks = TextAnalysis.tokenChunks(docs, idCol, textCol,
        chunkSize = chunkSize, stride = chunkSize)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        xxhash64(col("chunk")).as("_k"))
    // At the canonical threshold 2, ">= 2 distinct docs" is exactly
    // min(doc) < max(doc): plain partial-aggregating min/max, no
    // countDistinct expand. Higher thresholds take the exact
    // countDistinct path. Either way the rejoin goes LEFT against only
    // the hot keys, so the right side is |repeated chunks| — AQE
    // broadcasts it when small, and it stays a balanced
    // one-row-per-key shuffle join when boilerplate is
    // corpus-proportional.
    //
    // DELIBERATELY two-branch (the probe side re-tokenizes): the
    // one-exchange alternatives were both measured SLOWER at sf0.1 —
    // sharing the probe's repartition with the frequency aggregate
    // (x39's ReuseExchange pin) moves full chunk TEXT through the
    // shuffle that the pruned branch only needed (key, doc) for
    // (1.94 s vs 1.23 s), and a localCheckpoint barrier serializes
    // what the parallel scans overlap. Map-side partial min/max over
    // the pruned pair IS the cheap spelling of the frequency pass.
    val hot = (if (maxDocFreq == 2)
        chunks.groupBy("_k")
          .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
          .filter(col("_mn") < col("_mx"))
      else
        chunks.groupBy("_k")
          .agg(countDistinct(col("doc_id")).as("_df"))
          .filter(col("_df") >= maxDocFreq))
      .select(col("_k"), lit(true).as("_hot"))
    chunks.join(hot, Seq("_k"), "left")
      .withColumn("_keep", col("_hot").isNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"),
        // when(!keep) -> null rows vanish from collect_list; chunk_id is
        // unique per document so the struct sort is deterministic
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_keep"), struct(col("chunk_id"), col("chunk"))))),
          s => s.getField("chunk"))).as("kept_text"))
  }

  /** SCOPED repeated-chunk removal (x133) — [[dropRepeatedChunks]]
    * with the document frequency counted WITHIN a scope key instead
    * of corpus-wide: the production refinement CCNet/RefinedWeb
    * actually run, because boilerplate is a PER-SITE phenomenon —
    * navigation, footers, cookie banners repeat across one domain's
    * pages, and a corpus-global threshold either misses them (df
    * diluted across the corpus) or over-fires on common natural
    * phrases. Scoping the count to the canonical domain (x90 chain)
    * drops exactly the within-site template mass.
    *
    * Same three key-balanced shuffles as the global op, now keyed on
    * (scope, chunk-key): partial-agg df, hot-key left join, per-doc
    * reassembly. The chunk key is xxhash64 over (scope, chunk) so
    * hot boilerplate of DIFFERENT sites still spreads across
    * partitions. No driver state; the scope column rides the
    * projection (zero extra joins when the scope derives per-row,
    * as a URL domain does).
    *
    * Returns `(doc_id, scope, n_chunks, n_dropped, kept_text)`.
    */
  def dropRepeatedChunksScoped(docs: DataFrame, idCol: String,
      textCol: String, scopeCol: String, chunkSize: Int,
      maxDocFreq: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be > 0")
    require(maxDocFreq >= 2, "maxDocFreq < 2 would drop every chunk")
    val toks = tokens(col(textCol))
    val nChunks = lit(1L) + floor(
      (greatest(size(toks) - chunkSize, lit(0)) + (chunkSize - 1))
        / lit(chunkSize))
    // r15: pre-slice into a per-doc chunk ARRAY and posexplode — the
    // old explode(sequence)-then-slice spelling copied the FULL token
    // array into every generated row (a docLen× amplification inside
    // the generator stage; x133 measured 13.6× wall growth on the 10×
    // fixture, ~linear after this change)
    val chunkArr = transform(sequence(lit(0L), nChunks - 1),
      i => concat_ws(" ", slice(toks,
        (i * chunkSize + 1).cast(IntegerType), lit(chunkSize))))
    val chunks = docs.select(col(idCol).as("doc_id"),
        col(scopeCol).as("scope"),
        posexplode(chunkArr).as(Seq("chunk_id", "chunk")))
      .withColumn("chunk_id", col("chunk_id").cast(LongType))
      .withColumn("_k", xxhash64(col("scope"), col("chunk")))
    // `_k` already encodes the scope (hashed over (scope, chunk)), so
    // the frequency aggregate and the hot-key join run on the ONE
    // 8-byte key — the scope string never rides a shuffle (it comes
    // back out on the probe side); scoped semantics are unchanged up
    // to xxhash64 collisions, the x45 hashed-key argument.
    val hot = (if (maxDocFreq == 2)
        chunks.groupBy("_k")
          .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
          .filter(col("_mn") < col("_mx"))
      else
        chunks.groupBy("_k")
          .agg(countDistinct(col("doc_id")).as("_df"))
          .filter(col("_df") >= maxDocFreq))
      .select(col("_k"), lit(true).as("_hot"))
    chunks.join(hot, Seq("_k"), "left")
      .withColumn("_keep", col("_hot").isNull)
      .groupBy("doc_id", "scope")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_keep"), struct(col("chunk_id"), col("chunk"))))),
          s => s.getField("chunk"))).as("kept_text"))
  }

  /** Asymmetric CONTAINMENT dedup — the "small document swallowed by a
    * big one" case (quotes, excerpts, page-plus-boilerplate reposts)
    * that symmetric-Jaccard near-dup structurally misses: a 50-token
    * doc fully inside a 5000-token doc has Jaccard ≈ 0.01 but
    * containment 1.0. For each document A, find the best host B in
    * its block: `C(A→B) = |set(A) ∩ set(B)| / |set(A)|` maximized over
    * `B ≠ A`, keeping hits with `C ≥ minContainment` (rank ties break
    * on `b_id`; `containment` is one IEEE division of exact longs —
    * cross-engine deterministic).
    *
    * Scale design (100 TB): pair generation is the x34/x64 inverted
    * shape — explode DISTINCT tokens, shuffle on `(block, token)`
    * carrying id-only rows, count shared tokens per pair with one
    * partial-aggregating groupBy — never a block self-join of
    * documents; the per-A rank cut is a partitioned window
    * (WindowGroupLimit applies). Hot tokens are the known hazard of
    * the inverted shape — a df-top token (a stopword in every doc of
    * a block) makes its `(block, token)` bucket quadratic. `dfCap`
    * (the x38 capped-contamination precedent) drops tokens whose
    * within-block document frequency exceeds the cap BEFORE the pair
    * join, bounding every join bucket at `dfCap²` id-pairs. The
    * containment DENOMINATOR stays the full `|set(A)|`, so capping
    * only ever undercounts `shared` — capped containment is a lower
    * bound and the miss is pure recall (measured in DedupSpec: ~all
    * fixture hits survive cap 64). Default `None` keeps the exact
    * semantics (the x103 oracle twin).
    *
    * Parallelism note: the pair join is partitioned by block (the
    * shape that preserves the map-side partial aggregate). When the
    * corpus has fewer distinct blocks than
    * `spark.sql.shuffle.partitions` — few or skewed sources — a
    * token-derived salt is added automatically so a dominant block
    * still spreads across the session; callers need no
    * block-cardinality precondition.
    *
    * The scan+tokenize+explode subtree feeds three consumers (the
    * sizes aggregate and both pair-join sides), so it sits behind a
    * lazy localCheckpoint barrier — one corpus scan, not three (the
    * x74/x94 fold).
    *
    * Returns `(a_id, b_id, shared, containment)` — at most one row
    * per contained document.
    */
  def containmentTopHost(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minContainment: Double,
      dfCap: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minContainment > 0.0 && minContainment <= 1.0,
      "minContainment must be in (0, 1]")
    require(dfCap.forall(_ >= 2L), "dfCap below 2 drops every pair")
    val sets = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(blockCol).as("block"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("tok"))
      .localCheckpoint(eager = false)
    val sizes = sets.groupBy("id").agg(count(lit(1)).as("na"))
    // rows are (id, block, tok)-distinct by construction, so the
    // within-block df is a plain count — no countDistinct expand
    val pairSide = dfCap match {
      case Some(cap) =>
        val keep = sets.groupBy("block", "tok")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap)
          .select(col("block"), col("tok"))
        sets.join(keep, Seq("block", "tok"))
          .select(col("id"), col("block"), col("tok"))
      case None => sets
    }
    // Pair join partitioned by BLOCK (plus a token-derived salt when
    // blocks are scarce), with an EXPLICIT partition count (r17, the
    // x103 drift adjudication): the exchange feeding this join carries
    // ~id-sized rows, so AQE's byte-based coalescing — blind to the
    // join's df²-fold row EXPANSION — folded the whole pair-generation
    // + partial-aggregate stage into ONE task at sf0.1 (9 s of
    // single-core CPU; wall tracked the host's single-core band, which
    // is what drifted r15→r16). Block-only partitioning is the shape
    // that parallelizes WITHOUT losing the partial aggregate: pairs
    // are within-block by construction, so every (a_id, b_id) group is
    // complete inside its task (keying the repartition by (block, tok)
    // instead scatters a pair's token buckets and the map-side reduce
    // collapses 22M rows to 17M, not 1.2M — measured 4× worse), and
    // HashPartitioning(block, _st) satisfies the join's clustering
    // requirement on (block, _st, tok), so no further exchange is
    // planned.
    //
    // Salt fallback (r17 ADVICE): block-only keying caps parallelism
    // at the block cardinality — a corpus with few or one block(s)
    // would serialize its whole Σ df² pair expansion into that many
    // tasks, structurally re-creating the AQE pathology the explicit
    // repartition fixed. So when distinct blocks < session
    // parallelism, both sides gain `_st = xxhash64(tok) mod s`
    // (s = ceil(nParts / nBlocks)) as an EXTRA join key: _st is a
    // function of the join key `tok`, so the match set is identical,
    // within-block pairing is preserved, and a dominant block spreads
    // over s tasks. The cost is partial-aggregate fold quality — a
    // pair's token buckets span ≤ s partitions, so the map-side
    // reduce emits ≤ s rows per pair instead of 1 (measured: salting
    // the 20-block fixture to s=2 doubled the pair exchange 1.2M →
    // 2.5M rows for a 20 → 40 bucket gain, a net LOSS) — so salting
    // engages only on a genuine ≥2× parallelism deficit
    // (nBlocks < nParts/2), with the MINIMUM salt that fills the
    // session (s = 1, the exact r17 block-only shape, otherwise —
    // always the deployment case). The block-cardinality probe runs
    // against the RAW input (one column-pruned scan of the block
    // column — probing `sets` instead would force the whole tokenize
    // checkpoint to materialize inside the probe job; measured +0.6 s
    // on x113).
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // approx_count_distinct (r20): the probe only picks a SALT, which
    // is output-neutral (the salt is a function of the join key, so
    // the match set is identical at any salt) — a ±5% HLL estimate
    // decides it as well as the exact count, in one partial-aggregate
    // pass instead of a distinct shuffle + count (at scale: no
    // shuffle of the distinct block values at all).
    val nBlocks = math.max(1L,
      docs.agg(approx_count_distinct(col(blockCol))).head().getLong(0))
    val salts = if (nBlocks * 2L >= nParts.toLong) 1L
      else math.min(nParts.toLong, (nParts.toLong + nBlocks - 1L) / nBlocks)
    def side(idName: String) = pairSide.toDF(idName, "block", "tok")
      .withColumn("_st", pmod(xxhash64(col("tok")), lit(salts)))
      .repartition(nParts, col("block"), col("_st"))
    val shared = side("a_id")
      .join(side("b_id"), Seq("block", "_st", "tok"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    val scored = shared
      .join(sizes.select(col("id").as("a_id"), col("na")), "a_id")
      .select(col("a_id"), col("b_id"), col("shared"),
        (col("shared").cast(DoubleType) / col("na")).as("containment"))
      .filter(col("containment") >= minContainment)
    val w = Window.partitionBy("a_id")
      .orderBy(col("containment").desc, col("b_id").asc)
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
  }

  /** ExactSubstr-style duplicated-SPAN removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the span-level complement of document dedup): any `k`-token
    * span occurring in ≥ 2 DISTINCT documents survives only in the
    * lowest-`doc_id` document; every other occurrence's token
    * positions are scrubbed, overlapping duplicated spans unioning
    * per document. Within-document repeats are untouched (that is
    * [[TextAnalysis]]'s self-repetition scrub); cross-document
    * span sharing is what this pass kills — the "same boilerplate
    * paragraph in 10 000 pages" case that document-level near-dup
    * leaves behind.
    *
    * Spans are keyed by the zero-allocation 64-bit gram-hash kernel
    * (r18, the x45 precedent at Dedup.scala's chunk scrub: gram keys
    * are INTERNAL — no published value contains them — so equal
    * windows need equal keys and nothing more; an oracle keying the
    * same pipeline on md5 of the space-joined gram gets identical
    * output). Collision budget at scale (r18 ADVICE): a birthday
    * collision between two DISTINCT grams false-scrubs one k-token
    * span from an unrelated document — expected collisions ≈
    * g²/2⁶⁵ for g distinct grams, i.e. ~0 at fixture scale but
    * ~27 000 spans at a 100 TB corpus's ~10¹² distinct grams — a
    * ~10⁻⁸ per-gram false-scrub rate, well inside a training-data
    * scrub's tolerance (the pass is already recall-lossy by design:
    * k-gram granularity). A deployment needing exactness passes
    * `keyBits = 128` — a 128-bit struct key of two independently-
    * seeded xxhash64 folds (expected collisions ≈ g²/2¹²⁹ ≈ 0 at any
    * corpus size) at ~2× key-hash cost and a 16-byte shuffle key; the
    * published output is key-representation-independent either way
    * (KeyWidthSpec pins 64 ≡ 128 on the fixture). The md5
    * spelling was the
    * 100× bottleneck: digest + hex per window and 32-byte string
    * shuffle keys vs one xxhash64 per token + a Long — measured
    * 34.5 → 15.6 s at 100× (1.62× DuckDB; BENCH_LOCAL.md r18). The
    * reference
    * algorithm's suffix array is replaced by the shuffle-friendly
    * fingerprint group — the standard distributed formulation
    * (suffix arrays don't shard; fingerprint buckets do).
    *
    * Scale design (100 TB): shuffles carry only `(fp, doc_id, p)`
    * rows — never text; the duplicated-key table prunes to
    * `min ≠ max` with plain partial min/max (the x45 spelling, no
    * countDistinct expand); per-document covered positions come from
    * a map-side-deduping `collect_set` bounded by document length;
    * the rejoin against the corpus is one id-keyed left join.
    *
    * Returns one row per input document:
    * `(doc_id, n_tokens, n_removed, kept_text)`.
    */
  def exactSubstrScrub(docs: DataFrame, idCol: String, textCol: String,
      k: Int, keyBits: Int = 64): DataFrame = {
    require(k >= 1, "span length k must be >= 1")
    require(keyBits == 64 || keyBits == 128,
      s"keyBits must be 64 or 128, got $keyBits")
    // null text is out of contract (size(null) = -1 vs SQL null-skip)
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
    // keyBits=128 is the documented exactness escape hatch (r19
    // verdict item 5): two INDEPENDENTLY-SEEDED gram-hash folds
    // zipped into one struct key — expected collisions ≈ g²/2¹²⁹ ≈ 0
    // at any corpus size (vs ~27 000 false-scrubbed spans at a
    // 100 TB corpus's ~10¹² grams under one 64-bit key), at ~2× the
    // key-hash cost and a 16-byte shuffle key. The published output
    // is key-representation-independent: equal token windows get
    // equal keys under either width, so the two widths differ only
    // on hash collisions (KeyWidthSpec pins 64 ≡ 128 on the fixture).
    val fpArr =
      if (keyBits == 64)
        graft.functions.HashFunctions.ngramHashes(col("toks"), k)
      else zip_with(
        graft.functions.HashFunctions.ngramHashes(col("toks"), k),
        graft.functions.HashFunctions.ngramHashes(col("toks"), k,
          keepPartial = false, seed = 0x5DEECE66DL),
        (a, b) => struct(a.as("h1"), b.as("h2")))
    // lazy barrier: the (fp, doc_id, p) rows feed BOTH the min/max
    // frequency aggregate and the join probe — without it the
    // scan + ngram + hash subtree runs twice (the x74/x94 fold)
    val sh = base.select(col("doc_id"), posexplode(fpArr))
      .toDF("doc_id", "p", "fp")
      .localCheckpoint(eager = false)
    val firsts = sh.groupBy("fp")
      .agg(min(col("doc_id")).as("first_id"), max(col("doc_id")).as("_mx"))
      .filter(col("first_id") < col("_mx"))
      .select(col("fp"), col("first_id"))
    val rem = sh.join(firsts, "fp")
      .filter(col("doc_id") =!= col("first_id"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("_rem"))
    base.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        when(col("_rem").isNull, 0L)
          .otherwise(size(col("_rem")).cast(LongType)).as("n_removed"),
        concat_ws(" ", filter(col("toks"), (_, i) =>
          coalesce(not(array_contains(col("_rem"), i)), lit(true))))
          .as("kept_text"))
  }

  /** Incremental exact-KEY dedup of an arriving batch against an
    * already-ingested corpus, Bloom-pruned — the "drop re-crawled
    * documents at ingest" primitive. Three stages, none of which
    * shuffles either corpus:
    *
    *  1. the seen corpus folds into ONE Bloom filter via a map-side-
    *     combinable aggregate (`BloomFilterAggregate`, the expression
    *     behind Spark's own runtime row-group filtering) — the only
    *     driver-side state, sized by `expectedSeen` (~9 bits/key at the
    *     default 3% fpp), independent of the arriving batch;
    *  2. arriving rows test membership with a stateless `might_contain`
    *     projection against the filter re-embedded as a literal (the
    *     expression requires a constant/scalar-subquery bloom side);
    *  3. only the maybe-duplicates (true dups + fpp false positives)
    *     are exactly verified: seen is scanned once against the
    *     BROADCAST maybe-key set, and the confirmed duplicate keys —
    *     a small set — broadcast back as an anti-join.
    *
    * The result is EXACT: false positives die in step 3, and Bloom
    * filters have no false negatives (any key present in seen tests
    * `maybe`, so no duplicate can bypass the verify).
    */
  def bloomFreshRows(newDocs: DataFrame, seen: DataFrame,
      newKey: Column, seenKey: Column, expectedSeen: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bf = seen.select(xxhash64(seenKey).as("_h"))
      .agg(ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.expression(col("_h")), expectedSeen)
          .toAggregateExpression()).as("_bf"))
      .head().getAs[Array[Byte]](0)
    val maybe = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(lit(bf)),
      ColumnBridge.expression(xxhash64(newKey))))
    val maybeKeys = newDocs.filter(maybe).select(newKey.as("_k")).distinct()
    val dupKeys = seen.select(seenKey.as("_k"))
      .join(broadcast(maybeKeys), Seq("_k"), "left_semi")
      .distinct()
    newDocs.join(broadcast(dupKeys), newKey === col("_k"), "left_anti")
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, tokenSetCol: String,
      minEstSim: Double, numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"),
      minhashSig(col(tokenSetCol), numHashes).as("sig"))
    // re-join the two signatures once per unique candidate pair; the
    // estimator is a codegen kernel (one flat loop per pair), not the
    // triple-lambda zip_with/filter/size HOF spelling
    lshCandidatePairs(docs, idCol, tokenSetCol, numHashes, bands, blockCol)
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.sigAgreement(
          col("a_sig"), col("b_sig")).as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
  }

  /** The documented 100 TB near-dup path: MinHash-LSH generates the
    * candidate pairs (bucketed — never all-pairs), then exact token-set
    * Jaccard verifies each candidate. Output matches [[jaccardPairs]]
    * (`a_id, b_id, jaccard`) up to the LSH miss probability
    * (1 - j^rowsPerBand)^bands ≈ 0.002 at j = 0.9 with 16×4 — the
    * price of replacing the O(n²) generator with a shuffle-bounded one.
    *
    * Cost shape: candidates carry ids only; the token sets are joined
    * back once per unique candidate pair, so the quadratic-verify work
    * is |candidates|, not |blocks|².
    */
  def nearDupPairs(docs: DataFrame, idCol: String, tokenSetCol: String,
      minJaccard: Double, numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    // candidates only (no signature estimate: exact verification follows
    // anyway, so the 64-long sig re-join would be pure waste)
    val candidates = lshCandidatePairs(
      docs, idCol, tokenSetCol, numHashes, bands, blockCol)
    val toks = docs.select(col(idCol).as("id"), col(tokenSetCol).as("tok"))
    candidates
      .join(toks.select(col("id").as("a_id"), col("tok").as("a_set")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("tok").as("b_set")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.setJaccardSorted(
          col("a_set"), col("b_set")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-document top-k nearest near-duplicates — the dedup REVIEW
    * shape ("show me each document's closest matches, best first"):
    * [[nearDupPairs]]' verified pairs, symmetrized so each member sees
    * the other, ranked per document by (jaccard desc, neighbor id) and
    * cut at `k`. Complete above the threshold: the generator's
    * recall-certain banding (the x12 argument) means every pair with
    * jaccard >= `minJaccard` is present, so each document's ranking
    * over those pairs is exact — this is top-k among near-duplicates,
    * not an unbounded kNN (which LSH cannot bound below the
    * threshold).
    *
    * Scale: the window is PARTITIONED by document (PlanQualitySpec's
    * global gate) and the rank filter is a WindowGroupLimit — each
    * partition keeps k rows before the exchange.
    */
  def knnNearDups(docs: DataFrame, idCol: String, tokenSetCol: String,
      minJaccard: Double, k: Int, numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NO checkpoint barrier on the verified pairs (r20 REVERSAL of the
    // r10 fold): the symmetrize union's two branches share the
    // candidate-distinct exchange via ReuseExchange, so only the cheap
    // post-exchange verify projection runs per branch — re-measured
    // 1.00 s warm min without the barrier vs 1.36 s with it (the r10
    // measurement predates exchange reuse landing in this plan shape).
    val pairs = nearDupPairs(docs, idCol, tokenSetCol, minJaccard,
      numHashes, bands, blockCol)
    val sym = pairs.select(col("a_id").as("doc_id"),
        col("b_id").as("nbr_id"), col("jaccard"))
      .union(pairs.select(col("b_id").as("doc_id"),
        col("a_id").as("nbr_id"), col("jaccard")))
    sym.withColumn("rank",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("nbr_id").asc))
          .cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Incremental near-dup: verified pairs between an ARRIVING batch and
    * the INGESTED corpus — the production shape of continuous crawl
    * ingestion, where the corpus was already deduped on ingest and
    * re-pairing it against itself every batch would be pure waste (the
    * LSH twin of [[bloomFreshRows]]'s exact-key contract). Candidates
    * come from the same band-bucket join as [[lshCandidatePairs]] but
    * joined new×seen only: the shuffle carries each side's id+band keys
    * once, quadratic work is confined to cross-side bucket collisions,
    * and the already-clean corpus never pairs with itself. Batch-side
    * internal duplicates are the caller's [[nearDupPairs]] over the
    * (small) batch.
    *
    * Recall is identical to the batch generator's: a qualifying pair
    * collides in some band with P = 1−(1−j^rows)^bands regardless of
    * which side each document sits on.
    *
    * Returns `(new_id, seen_id, jaccard)` with `jaccard >= minJaccard`
    * exactly verified.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, seen: DataFrame,
      idCol: String, tokenSetCol: String, minJaccard: Double,
      numHashes: Int = 64, bands: Int = 16,
      blockCol: Column = lit(0)): DataFrame = {
    val nb = bandedSignatures(newDocs, idCol, tokenSetCol, numHashes,
      bands, blockCol)
    val sb = bandedSignatures(seen, idCol, tokenSetCol, numHashes,
      bands, blockCol)
    val candidates = nb
      .select(col("block"), col("band_id"), col("band_hash"),
        col("id").as("new_id"))
      .join(sb.select(col("block"), col("band_id"), col("band_hash"),
        col("id").as("seen_id")),
        Seq("block", "band_id", "band_hash"))
      // the sides are disjoint by contract (a doc is either arriving or
      // ingested); if a caller violates it, a document must still never
      // pair with itself
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"))
      .distinct()
    candidates
      .join(newDocs.select(col(idCol).as("new_id"),
        col(tokenSetCol).as("_na")), "new_id")
      .join(seen.select(col(idCol).as("seen_id"),
        col(tokenSetCol).as("_sa")), "seen_id")
      .select(col("new_id"), col("seen_id"),
        graft.functions.VectorFunctions.setJaccardSorted(
          col("_na"), col("_sa")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-dedup: 64-bit signature per document; candidates share
    * at least one of `numChunks` equal-width bit chunks, then are
    * verified by exact Hamming distance.
    *
    * Recall contract (pigeonhole): a pair at Hamming distance d can
    * differ in at most d chunks, so any pair with d < numChunks is
    * GUARANTEED to collide on some chunk — enforced here by requiring
    * `maxHamming < numChunks`. Raising numChunks widens the guaranteed
    * distance but narrows the bucket key (64/numChunks bits): at 4
    * chunks the 16-bit keys give 2^16 buckets per chunk position
    * (scale-safe); at 8 chunks the 8-bit keys leave only 256 buckets —
    * O(n²/256) within-bucket work at 100 TB. Default stays at the
    * classic 4-chunk / distance-3 near-dup setting (Manku et al.,
    * WWW'07 use the same 64-bit fingerprint, d≈3 regime).
    */
  def simhashPairs(docs: DataFrame, idCol: String, tokensCol: String,
      maxHamming: Int, numChunks: Int = 4): DataFrame = {
    require(64 % numChunks == 0, "numChunks must divide 64")
    require(maxHamming < numChunks,
      s"pigeonhole recall guarantee needs maxHamming < numChunks " +
        s"(got maxHamming=$maxHamming, numChunks=$numChunks): a pair at " +
        s"distance >= numChunks can differ in every chunk and be missed")
    val width = 64 / numChunks
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val sigs = docs.select(col(idCol).as("id"),
      simhash64(col(tokensCol)).as("sig"))
    val chunkStructs = (0 until numChunks).map { j =>
      struct(lit(j).as("chunk_id"),
        shiftright(col("sig"), j * width).bitwiseAND(lit(mask))
          .as("chunk_val"))
    }
    // lazy barrier (r20, the lshCandidatePairs fold): the chunk-bucket
    // self-join consumes `chunked` on both sides — without it each
    // side re-runs the SimHash kernel over the corpus.
    val chunked = sigs.select(col("id"), col("sig"),
        explode(array(chunkStructs: _*)).as("c"))
      .select(col("id"), col("sig"), col("c.chunk_id"), col("c.chunk_val"))
      .localCheckpoint(eager = false)
    val a = chunked.select(col("chunk_id"), col("chunk_val"),
      col("id").as("a_id"), col("sig").as("a_sig"))
    val b = chunked.select(col("chunk_id"), col("chunk_val"),
      col("id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("chunk_id", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast(LongType)
          .as("hamming"))
      // filter BEFORE the distinct: hamming is functionally determined
      // by the pair, so the order is equivalence-preserving, and the
      // dedup shuffle shrinks from every banded candidate to just the
      // matches (~200x on the clustered sf0.1 signatures)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  /** PORTABLE twin of [[simhashPairs]] (the x43 pattern): a 32-bit
    * SimHash whose per-token votes are the high bits of the md5 hex
    * digits — a deterministic spelling both engines share, so the
    * WHOLE sketch-pair pipeline hash-checks against a DuckDB oracle
    * (the production path keeps the 64-bit xxhash64 sketch; this
    * closes its "rows-only checkable" caveat structurally). Same
    * chunk-banding shape: `numChunks` 8-bit chunks, pigeonhole-exact
    * for `maxHamming < numChunks`, so the banded join provably equals
    * the oracle's all-pairs spelling.
    */
  def portableSimhashPairs(docs: DataFrame, idCol: String,
      tokensCol: String, maxHamming: Int,
      numChunks: Int = 4): DataFrame = {
    require(32 % numChunks == 0, "numChunks must divide 32")
    require(maxHamming < numChunks,
      "pigeonhole recall guarantee needs maxHamming < numChunks")
    val width = 32 / numChunks
    val mask = (1L << width) - 1L
    val sigs = docs.select(col(idCol).as("id"),
      graft.functions.PortableMinHashFunctions
        .portableSimhash32(col(tokensCol)).as("sig"))
    val chunkStructs = (0 until numChunks).map { j =>
      struct(lit(j).as("chunk_id"),
        shiftright(col("sig"), j * width).bitwiseAND(lit(mask))
          .as("chunk_val"))
    }
    // lazy barrier (r20): same self-join fold as [[simhashPairs]].
    val chunked = sigs.select(col("id"), col("sig"),
        explode(array(chunkStructs: _*)).as("c"))
      .select(col("id"), col("sig"), col("c.chunk_id"), col("c.chunk_val"))
      .localCheckpoint(eager = false)
    val a = chunked.select(col("chunk_id"), col("chunk_val"),
      col("id").as("a_id"), col("sig").as("a_sig"))
    val b = chunked.select(col("chunk_id"), col("chunk_val"),
      col("id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("chunk_id", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast(LongType)
          .as("hamming"))
      // filter BEFORE the distinct: hamming is functionally determined
      // by the pair, so the order is equivalence-preserving, and the
      // dedup shuffle shrinks from every banded candidate to just the
      // matches (~200x on the clustered sf0.1 signatures)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }
}
