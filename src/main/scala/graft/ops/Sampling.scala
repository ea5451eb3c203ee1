package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Deterministic hash-based sampling and split assignment — the
  * reproducibility primitives of a training-data pipeline. Every
  * decision is a pure function of a row's id (md5 prefix compared
  * against a hex threshold), so samples are stable across runs, engines,
  * partitionings and cluster sizes — unlike `TABLESAMPLE`/`rand()`,
  * which are seeded per-partition and change under repartitioning.
  *
  * Scale design (100 TB): all methods are stateless per-row filters /
  * projections (codegen'd md5 + string compare, no shuffle, no driver
  * state); they compose with pushed-down scans and keep full linear
  * scaling. The md5-prefix trick is the same one x23 uses; thresholds
  * are 4-hex-digit prefixes, so rates round to the nearest 1/65536
  * (rates under 1/131072 round to an EMPTY sample — pinned by
  * SamplingSpec). Rates 0 and 1 short-circuit to constant predicates
  * and never reach the string comparison.
  */
object Sampling {

  /** 4-digit lowercase hex threshold for a sampling rate strictly
    * inside (0, 1): a row is kept iff `substr(md5(id), 1, 4) <
    * threshold`. Spark and DuckDB both emit lowercase hex md5, so the
    * same comparison is expressible verbatim in oracle SQL. Rates whose
    * rounded threshold is 0 or 65536 have no 4-hex spelling — use
    * [[keepPredicate]], which short-circuits them to `false` / `true`.
    */
  def hexThreshold(rate: Double): String = {
    val t = (rate * 65536).round
    require(t >= 1 && t <= 65535,
      s"rate $rate rounds outside the 4-hex threshold range; " +
        "rates at/near 0 or 1 are constant predicates, not thresholds")
    f"$t%04x"
  }

  private def prefix(idCol: Column): Column =
    substring(md5(idCol.cast("string")), 1, 4)

  /** Boolean keep-predicate for a deterministic sample at `rate`.
    * Rate >= 1 (after 1/65536 rounding) is literally `true` and rate
    * <= 0 literally `false` — the honest spelling of the boundary
    * cases, rather than a sentinel string that sorts above every hex
    * prefix.
    */
  def keepPredicate(idCol: Column, rate: Double): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val t = (rate * 65536).round
    if (t >= 65536L) lit(true)
    else if (t <= 0L) lit(false)
    else prefix(idCol) < lit(hexThreshold(rate))
  }

  /** Uniform deterministic sample at `rate`. */
  def hashSample(df: DataFrame, idCol: String, rate: Double): DataFrame =
    df.filter(keepPredicate(col(idCol), rate))

  /** Stratified deterministic sample: per-stratum rates, `defaultRate`
    * for strata not listed. Classic pipeline use: downsample
    * over-represented sources (e.g. web crawl) while keeping curated
    * sources intact, without materializing per-stratum row numbers.
    * If a stratum is listed twice the LAST entry wins (later entries
    * wrap earlier ones in the predicate fold); null strata fall through
    * to `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Seq[(String, Double)], defaultRate: Double): DataFrame = {
    val pred = rates.foldLeft(keepPredicate(col(idCol), defaultRate)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, keepPredicate(col(idCol), rate))
          .otherwise(acc)
    }
    df.filter(pred)
  }

  /** Token-budget corpus mixing: deterministically sample each stratum
    * (source) down to ≈ `budgets(stratum)` tokens (expectation under
    * the hash predicate; `defaultBudget` for unlisted strata). This is
    * the data-mixing primitive of a training run — "give me ~20B
    * tokens of web, ~8B of code" — expressed as per-stratum rates
    * `min(1, budget / total_tokens)` over the same md5-prefix
    * predicate as [[stratifiedSample]], so membership stays a pure
    * function of the id: stable across runs, engines and cluster
    * sizes, and monotone in the budget (a bigger budget's sample
    * contains the smaller one's).
    *
    * Scale design (100 TB): one map-side-combinable aggregate computes
    * per-stratum token totals — the ONLY driver-side state, bounded by
    * the stratum count, never by data size — then membership is a
    * stateless per-row predicate; no window, no shuffle of the corpus.
    * Rows with a null stratum are dropped (no budget to charge them
    * against).
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, strataCol: String,
      tokenCol: Column, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    val totals = df.groupBy(col(strataCol).as("_s"))
      .agg(sum(tokenCol.cast("long")).as("_t"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
      .sortBy(_._1)
    val pred = totals.foldLeft(lit(false)) {
      case (acc, (stratum, total)) =>
        val budget = budgets.getOrElse(stratum, defaultBudget)
        val rate = math.min(1.0, budget.toDouble / math.max(total, 1L))
        when(col(strataCol) === stratum, keepPredicate(col(idCol), rate))
          .otherwise(acc)
    }
    df.filter(pred)
  }

  /** Train/val/test split assignment: adds a `split` column, a pure
    * function of the id hash. `trainRate` + `valRate` must be <= 1; the
    * remainder is `test`. Documents never migrate between splits when
    * the corpus grows — the property eval-set hygiene depends on — and
    * a lower train rate's split is a subset of a higher one's.
    */
  def splitAssign(df: DataFrame, idCol: String,
      trainRate: Double, valRate: Double): DataFrame = {
    require(trainRate >= 0.0 && valRate >= 0.0 && trainRate + valRate <= 1.0,
      "trainRate and valRate must be >= 0 and sum to <= 1")
    df.withColumn("split",
      when(keepPredicate(col(idCol), trainRate), "train")
        .when(keepPredicate(col(idCol), trainRate + valRate), "val")
        .otherwise("test"))
  }

  /** Deterministic global shuffle into `numShards` write shards — the
    * "repack the corpus for training" step: every row gets a `(shard,
    * pos)` address that is a pure function of its id, so the packed
    * layout is reproducible bit-for-bit across runs, engines and
    * cluster sizes (a `rand()`-keyed shuffle is none of those). Shard =
    * portable rolling fingerprint of the id's md5, mod `numShards`
    * (the md5 decorrelates adjacent ids; the fold is the same
    * engine-portable arithmetic as TextAnalysis.fingerprint); position
    * = dense 1-based rank of the md5 digest within the shard (digest
    * order ≈ uniform random order, the shuffle a training loader
    * wants), id as the collision tie-break.
    *
    * Scale design (100 TB): one projection plus one rank window
    * PARTITIONED BY shard — Spark plans exactly the
    * repartition-and-sort-within-shard a sharded writer needs anyway,
    * and shard sizes are balanced by construction (uniform hash), so
    * no partition outgrows its task. No driver state, no global sort.
    */
  def shardRepack(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    import org.apache.spark.sql.expressions.Window
    val dig = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("_dig").asc, col(idCol).asc)
    df.select(col(idCol), dig.as("_dig"))
      .withColumn("shard",
        graft.functions.HashFunctions.rollingFingerprint(col("_dig"))
          % numShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_dig")
  }

  /** Per-stratum cap: keep at most `cap` rows per stratum, best-first
    * under `orderCols` (C4-style per-domain caps: no single domain may
    * dominate the corpus). `orderCols` must be a total order within a
    * stratum (include the id as final tie-break) or the kept set is
    * nondeterministic.
    *
    * One rank window partitioned by the stratum — at 100 TB the skew
    * ceiling is the largest stratum, which is exactly the thing the cap
    * exists to bound; a stratum too large to sort in one task is the
    * signal to cap earlier (pre-aggregate or sample) — not to drop the
    * determinism.
    */
  /** Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    * 2006 ("Weighted random sampling with a reservoir"): per row draw
    * an exponential key with rate = weight and keep the k SMALLEST
    * keys per stratum; the result is exactly a weight-proportional
    * WOR sample (the A-Res estimator), the primitive behind "sample
    * this corpus proportional to token count" steps that a uniform
    * hash sample (x23) cannot express.
    *
    * Deterministic + engine-portable spelling of the randomness:
    * `u = (h48 + 0.5) / 2^48` from a 48-bit md5 slice — the numerator
    * fits a double's mantissa and the divisor is a power of two, so
    * `u` is BIT-identical in any IEEE engine; the ONE libm call
    * `-ln(u)` immediately quantizes to BIGINT micro-units via
    * `FLOOR(x·10⁶ + 0.5)` (the r13 micros rule — conforming libm
    * implementations differ by ~1 ulp ≈ 7e-9 absolute here, and
    * SamplingSpec pins every fixture draw ≥ 10⁻⁷ from its boundary);
    * the division by the weight is exact BIGINT floor division
    * (`div` / `//`), so ranks are integer comparisons — no FP
    * ordering anywhere.
    *
    * Scale: one stateless projection, then a per-stratum top-k that
    * Spark pushes down as a WindowGroupLimit (map-side bounded heap —
    * plan-gated); the shuffle carries only
    * (stratum, id, weight, key). This is the one-pass distributed
    * shape of the reservoir algorithm itself.
    *
    * Weight domain (r14/r15, the r13+r14 ADVICE items): weights are
    * INTEGER UNITS ≥ 0. Integral weight-0 rows are FILTERED OUT
    * before keying — in Efraimidis–Spirakis a zero weight means zero
    * inclusion probability (the filter is part of the op's contract,
    * mirrored in the x127 oracle and inherited by the streaming
    * reservoir through the shared [[esKeyed]] projection). Anything
    * ELSE out of domain — fractional, negative, or NULL weights —
    * now RAISES at execution (r15) instead of silently vanishing in
    * the cast-to-BIGINT filter: a caller passing unscaled fractional
    * weights gets an error, not a quietly biased reservoir.
    * Pre-scale fractional weights to integer units (token counts
    * already are).
    *
    * Returns `(strataCol, idCol, weight, key_units, rk)`, `rk` ≤ `k`
    * ordered by (key_units, id) — the id tie-break makes equal
    * quantized keys deterministic.
    */
  /** The per-row Efraimidis–Spirakis key projection —
    * `(strataCol, idCol, weight, key_units)` — ONE spelling shared by
    * the batch top-k ([[weightedSampleTopK]]) and the online keyed-
    * state reservoir (`DocStreams.weightedReservoir`), so the two
    * cannot drift. Stateless; see [[weightedSampleTopK]] for the
    * portability contract of each step.
    */
  def esKeyed(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String): DataFrame = {
    val dig = md5(concat(lit("wsr|"), col(idCol).cast(StringType)))
    def h16(from: Int): Column =
      conv(substring(dig, from, 4), 16, 10).cast(LongType)
    val h48 = h16(1) * lit(4294967296L) + h16(5) * lit(65536L) + h16(9)
    val u = (h48.cast(DoubleType) + lit(0.5)) / lit(281474976710656.0)
    val lq = floor(-log(u) * lit(1000000.0) + lit(0.5)).cast(LongType)
    // contract gate: integral ≥ 0 (NULL/fractional/negative raise);
    // integral zeros are then dropped per the ES zero-probability rule.
    // The raise rides a PROJECT (the checked `weight` value), not a
    // Filter predicate — CombineFilters can merge adjacent Filter
    // conjuncts with a caller's own upstream filter, and a merged
    // conjunct order is not contractual, so a predicate-borne
    // raise_error could fire on rows the caller meant to exclude.
    // Residual hazard (documented): the zero-drop filter below can be
    // rewritten through this projection by predicate pushdown, so the
    // gate is a data-quality ASSERTION on the frame handed in — callers
    // must pass a frame whose weight column is entirely in contract,
    // not rely on a same-stage filter to route bad rows around it.
    val wl = col(weightCol).cast(LongType)
    val inContract = col(weightCol).isNotNull &&
      col(weightCol).cast(DoubleType) === wl.cast(DoubleType) && wl >= 0L
    val checkedW = when(inContract, wl).otherwise(raise_error(concat(
        lit(s"esKeyed: weight column '$weightCol' out of contract " +
          "(integer units >= 0 required), got "),
        coalesce(col(weightCol).cast(StringType), lit("NULL"))))
      .cast(LongType))
    df.select(col(strataCol), col(idCol),
        checkedW.as("weight"),
        lq.as("_lq"))
      .filter(col("weight") >= 1L)
      .withColumn("key_units", expr("(_lq * 1000000) div weight"))
      .drop("_lq")
  }

  def weightedSampleTopK(df: DataFrame, idCol: String,
      strataCol: String, weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(strataCol))
      .orderBy(col("key_units").asc, col(idCol).asc)
    esKeyed(df, idCol, strataCol, weightCol)
      .withColumn("rk", row_number().over(win).cast(LongType))
      .filter(col("rk") <= k)
      .select(col(strataCol), col(idCol), col("weight"),
        col("key_units"), col("rk"))
  }

  def capPerStratum(df: DataFrame, strataCol: String,
      orderCols: Seq[Column], cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(orderCols: _*)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .drop("_rk")
  }

  /** Per-stratum percentile calibration + global gate: rank each row's
    * `scoreCol` WITHIN its stratum (percent_rank, id tie-break so the
    * rank is total) and keep the top `keepFrac` of every stratum. This
    * is the per-domain score normalization a curation pipeline runs
    * before a global quality threshold — raw scores are not comparable
    * across domains (boilerplate-heavy web text scores differently from
    * code or forums), so gating on the raw score lets one domain
    * dominate; gating on the within-domain percentile keeps the same
    * fraction of every domain by construction.
    *
    * Output `(idCol, strataCol, score, pct)` for the survivors;
    * `pct` = (rank−1)/(n−1) is exact integer arithmetic in IEEE double,
    * so the cutoff is deterministic cross-engine PROVIDED `keepFrac` is
    * an exact binary fraction (0.25, 0.5, …) — the comparison is
    * `pct >= 1 − keepFrac` with no rounding. Single-row strata have
    * pct = 0 and only survive keepFrac = 1.
    *
    * Scale design (100 TB): one rank window PARTITIONED by the stratum
    * — same skew ceiling as [[capPerStratum]] (the largest stratum),
    * same answer (a stratum too large to rank in one task should be
    * pre-capped or sampled); no global window, no driver state.
    */
  /** Temperature-based source mixture plan — the "data mixing" step a
    * multi-source training pipeline runs before sampling: per stratum
    * (source/domain/language), weight ∝ n_tokens^alpha normalized
    * across strata. alpha = 1 samples proportionally; alpha < 1
    * flattens the mixture toward small sources (the multilingual
    * up-sampling temperature); alpha = 0 is uniform. For each stratum
    * the plan reports its token count, mixture weight, the token draw
    * under `tokenBudget`, and `epochs` — the over-sampling factor
    * (draws/size) pipelines watch for repetition risk.
    *
    * Cross-engine determinism: n_docs/n_tokens are exact longs; the
    * weighted mass routes through DECIMAL(18,6) (the moneySum
    * pattern — the 6dp rounding also absorbs sub-ulp libm pow
    * differences), the total is an exact DECIMAL sum, and every
    * derived double is per-row IEEE arithmetic on those exact values.
    *
    * Scale design (100 TB): one stratum aggregate (map-side partial),
    * a one-row total broadcast back — no window, no driver math; the
    * output is strata-sized (tiny by construction).
    */
  def mixtureWeights(docs: DataFrame, strataCol: String, textCol: String,
      tokenBudget: Long, alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0,1], got $alpha")
    require(tokenBudget >= 0L, s"tokenBudget must be >= 0, got $tokenBudget")
    val d186 = DecimalType(18, 6)
    val per = docs.filter(col(textCol).isNotNull)
      .groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.ops.TextAnalysis.tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("_m", pow(col("n_tokens").cast(DoubleType), lit(alpha))
        .cast(d186))
    val tot = per.agg(sum(col("_m")).as("_tot"))
    per.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        (col("_m").cast(DoubleType) / col("_tot").cast(DoubleType))
          .as("weight"))
      .withColumn("draw_tokens",
        floor(lit(tokenBudget.toDouble) * col("weight")).cast(LongType))
      .withColumn("epochs",
        col("draw_tokens").cast(DoubleType) / col("n_tokens"))
  }

  /** UniMax-style token-budget allocation (Chung et al. 2023): split a
    * total token budget across strata so no stratum repeats more than
    * `maxEpochs` times, giving the freed-up budget to the strata that
    * can absorb it — the standard fix for temperature sampling
    * over-repeating small languages/sources. ALL-INTEGER closed form
    * of the waterfilling, the exact contract BOTH engines spell:
    * sort strata by `(cap, stratum)` with `cap = maxEpochs·c`;
    * `kstar = max{rk : cap_rk·(n−rk+1) ≤ B − (pfx_rk − cap_rk)}`
    * (0 when none qualifies); ranks ≤ kstar take their cap, the rest
    * share `B − pfx_kstar` as floor-division base + one extra token to
    * the first `remainder` ranks. Every quantity is an exact Long
    * (floor division and modulo on non-negative operands — truncating
    * and flooring engines agree); `epochs` is the one IEEE division.
    * If the budget exceeds the corpus capacity the surplus stays
    * unallocated (documented; every stratum is capped).
    *
    * Scale: one map-side-combinable per-stratum aggregate; the
    * waterfilling runs on the collected strata table (model-sized —
    * the x35 strata precedent), emitted back as a literal frame.
    *
    * Returns `(stratum, n_tokens, cap, alloc, epochs)`.
    */
  /** Engine-collation string order: compare by UTF-8 bytes (unsigned),
    * matching DuckDB/Spark's binary sort of string columns. Scala's
    * default `String` ordering compares UTF-16 code units, which
    * diverges for non-BMP code points (surrogates 0xD800–0xDFFF sort
    * BELOW 0xE000–0xFFFF chars in UTF-16 but ABOVE them in UTF-8) —
    * a driver-side sort in a cross-engine contract must use the
    * engines' collation, not the JVM's.
    */
  private[graft] val utf8ByteOrder: Ordering[String] =
    new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        val len = math.min(x.length, y.length)
        var i = 0
        while (i < len) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }

  def unimaxAllocation(docs: DataFrame, strataCol: String, textCol: String,
      tokenBudget: Long, maxEpochs: Long): DataFrame = {
    require(tokenBudget >= 0L && maxEpochs >= 1L,
      "need tokenBudget >= 0 and maxEpochs >= 1")
    // cast once: the waterfilling's tie-break contract is over STRING
    // strata (non-string group keys are stringified, as the oracle
    // would CAST them)
    val per = docs.filter(col(textCol).isNotNull)
      .groupBy(col(strataCol).cast(StringType).as("stratum"))
      .agg(sum(graft.ops.TextAnalysis.tokenCount(col(textCol)))
        .cast(LongType).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = per.map { case (s, c) => (s, c, maxEpochs * c) }
      .sortBy { case (s, _, cap) => (cap, s) }(
        Ordering.Tuple2(Ordering.Long, utf8ByteOrder))
    val n = sorted.length
    val pfx = sorted.scanLeft(0L)(_ + _._3).tail // inclusive prefix sums
    var kstar = 0
    var rk = 1
    while (rk <= n) {
      val cap = sorted(rk - 1)._3
      if (cap * (n - rk + 1) <= tokenBudget - (pfx(rk - 1) - cap)) kstar = rk
      rk += 1
    }
    val pk = if (kstar == 0) 0L else pfx(kstar - 1)
    val free = n - kstar
    val fair = if (free > 0) (tokenBudget - pk) / free else 0L
    val rem = if (free > 0) (tokenBudget - pk) % free else 0L
    val out = sorted.zipWithIndex.map { case ((s, c, cap), i) =>
      val r = i + 1
      val alloc =
        if (r <= kstar) cap
        else if (r - kstar <= rem) fair + 1L
        else fair
      (s, c, cap, alloc, alloc.toDouble / c)
    }
    val sp = docs.sparkSession
    import sp.implicits._
    out.toSeq.toDF("stratum", "n_tokens", "cap", "alloc", "epochs")
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its hashed-bigram features
    * are under a TARGET distribution than under the rest of the corpus,
    * log w(d) = Σ_f cnt_d(f) · [ln p̂_t(f) − ln p̂_s(f)] with add-one
    * smoothed bucket probabilities over `dim` hashed features. The
    * classic cheap proxy for "select pretraining data that looks like
    * the target domain" — resampling by these weights IS the selection
    * step.
    *
    * Cross-engine determinism: bucket = portable rolling fingerprint of
    * the bigram string mod `dim` (the x4/x51 oracle spelling); all
    * counts exact longs; each bucket's log-ratio rounds to 6 decimals
    * and routes through DECIMAL(18,6) so the per-document sum is exact
    * regardless of order (moneySum pattern); the final cast to double
    * is the only inexact step.
    *
    * Scale design (100 TB): one explode → one (doc, side, bucket)
    * aggregate; the per-bucket totals REUSE that aggregate's exchange
    * (the bucket aggregate's map-side partials collapse to ≤ 2·dim rows
    * per task), the ratio table is dim rows → BROADCAST to the scoring
    * join, and the final per-doc sum shuffles feature rows once more.
    * No windows, no driver state; a hot bucket is one ratio row, so
    * nothing skews.
    *
    * Returns `(doc_id, is_target, n_bigrams, logw)` — one row per
    * document with at least one bigram.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, dim: Int): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    val d186 = DecimalType(18, 6)
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), targetPred.as("is_target"),
        graft.ops.TextAnalysis.tokens(col(textCol)).as("_t"))
    val bg = toks.select(col("doc_id"), col("is_target"),
        explode(when(size(col("_t")) > 1,
            sequence(lit(1), size(col("_t")) - 1))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)))).as("i"),
        col("_t"))
      .select(col("doc_id"), col("is_target"),
        pmod(graft.functions.HashFunctions.rollingFingerprint(
            concat(element_at(col("_t"), col("i")), lit(" "),
              element_at(col("_t"), col("i") + 1))),
          lit(dim.toLong)).as("bucket"))
    val feats = bg.groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val bc = feats.groupBy("bucket")
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("ct"),
        sum(when(not(col("is_target")), col("cnt")).otherwise(0L)).as("cs"))
    val tot = bc.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
    val ratio = bc.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log((col("ct") + lit(1.0)) / (col("tt") + lit(dim.toDouble))) -
            log((col("cs") + lit(1.0)) / (col("ts") + lit(dim.toDouble))), 6)
          .cast(d186).as("lam"))
    feats.join(broadcast(ratio), Seq("bucket"))
      .groupBy("doc_id", "is_target")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("lam") * col("cnt")).cast(DoubleType).as("logw"))
      .select(col("doc_id"), col("is_target"), col("n_bigrams"), col("logw"))
  }

  /** The offline artifact [[dsirWeights]] builds internally, exported
    * for reuse — scoring a document STREAM (or a different corpus)
    * against a frozen target/source contrast without recomputing the
    * bucket statistics (the [[graft.ops.TextAnalysis.LmModel]]
    * pattern). `lambdas(b)` is the 6-dp add-one-smoothed log-ratio of
    * bucket `b`, INCLUDING buckets never seen in training (their
    * smoothed ratio is what an unseen feature scores) — `dim` entries
    * of driver state total, bounded by the [[dsirModel]] `dim` cap.
    */
  final case class DsirModel(lambdas: IndexedSeq[java.math.BigDecimal],
      dim: Int)

  /** Builds the frozen [[DsirModel]]: the same bucket statistics as
    * [[dsirWeights]], collected as `dim` exact decimals. `dim` is
    * capped at 1024 here (vs 65536 inline) because scoring embeds the
    * table as a plan literal.
    */
  def dsirModel(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, dim: Int): DsirModel = {
    require(dim >= 2 && dim <= 1024, s"dim must be in [2, 1024], got $dim")
    val counts = docs.filter(col(textCol).isNotNull)
      .select(targetPred.as("is_target"),
        graft.ops.TextAnalysis.tokens(col(textCol)).as("_t"))
      .select(col("is_target"),
        explode(when(size(col("_t")) > 1,
            sequence(lit(1), size(col("_t")) - 1))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)))).as("i"),
        col("_t"))
      .select(col("is_target"),
        pmod(graft.functions.HashFunctions.rollingFingerprint(
            concat(element_at(col("_t"), col("i")), lit(" "),
              element_at(col("_t"), col("i") + 1))),
          lit(dim.toLong)).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(not(col("is_target")), 1L).otherwise(0L)).as("cs"))
      .collect().map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val tt = counts.values.map(_._1).sum
    val ts = counts.values.map(_._2).sum
    val lambdas = IndexedSeq.tabulate(dim) { b =>
      val (ct, cs) = counts.getOrElse(b, (0L, 0L))
      val raw = math.log((ct + 1.0) / (tt + dim.toDouble)) -
        math.log((cs + 1.0) / (ts + dim.toDouble))
      java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
    DsirModel(lambdas, dim)
  }

  /** Scores documents against a frozen [[DsirModel]] as ONE stateless
    * per-row projection — no joins, no shuffles, no state — so it runs
    * unchanged on a STREAM (StreamingSpec streams this op itself)
    * and composes in front of any gate. The ratio table rides inside
    * the native [[graft.functions.DsirKernel]] codegen expression (the
    * MaxPlanCentroids bounded-literal pattern) which fingerprints every
    * adjacent bigram and sums exact micro-unit log-ratios in one text
    * scan, so scores are BIT-equal to the distributed [[dsirWeights]]
    * aggregate on the same corpus (pinned in SamplingSpec, along with
    * kernel ≡ the interpreted [[dsirScoreSpec]] HOF spelling).
    * Documents with no bigram are dropped (the [[dsirWeights]]
    * contract).
    *
    * Returns `(doc_id, n_bigrams, logw)`.
    */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame = {
    // 6-dp decimals are exact multiples of 10⁻⁶ → the kernel sums Long
    // micro-units; the one double division at the end is bit-equal to
    // the DECIMAL(38,6) → DOUBLE cast of the aggregate/HOF spellings
    val lamMicros = model.lambdas.map(l =>
      l.movePointRight(6).longValueExact())
    val sc = graft.functions.DsirFunctions.dsirScore(col(textCol), lamMicros)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), sc.as("_s"))
      .filter(col("_s.n_bigrams") >= 1)
      .select(col("doc_id"), col("_s.n_bigrams").as("n_bigrams"),
        (col("_s.logw_micros").cast(DoubleType) / lit(1000000.0))
          .as("logw"))
  }

  /** The interpreted HOF spelling of [[dsirScore]] — kept as the
    * executable specification the [[graft.functions.DsirKernel]]
    * byte-scan is property-tested against (SamplingSpec pins kernel ≡
    * spec ≡ the distributed aggregate).
    */
  def dsirScoreSpec(docs: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame = {
    val lamArr = array(model.lambdas.map(l =>
      lit(l).cast(DecimalType(18, 6))): _*)
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    val buckets = transform(
      when(size(toks) > 1, sequence(lit(1), size(toks) - 1))
        .otherwise(array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType))),
      i => pmod(graft.functions.HashFunctions.rollingFingerprint(
          concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))),
        lit(model.dim.toLong)))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), buckets.as("_b"))
      .filter(size(col("_b")) >= 1)
      .select(col("doc_id"),
        size(col("_b")).cast(LongType).as("n_bigrams"),
        aggregate(col("_b"),
            lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 6)),
            (acc, b) => acc +
              element_at(lamArr, b.cast(
                org.apache.spark.sql.types.IntegerType) + 1))
          .cast(DoubleType).as("logw"))
  }

  /** Poisson(1) bootstrap weight for `(id, replicate)` — the
    * deterministic md5 spelling of the Poisson bootstrap (each row
    * enters each resample an independent ~Poisson(1) number of
    * times — the streamable resampling used when n is unknown or
    * distributed; Chamandy et al. 2012 "Estimating uncertainty for
    * massive data streams"). The 16-bit md5 draw `u =
    * substr(md5(id || ':' || b), 1, 4)` is compared against the
    * Poisson(1) CDF quantized to the same 4-hex grid the sampling
    * thresholds use: `P(≤k)·65536` rounds to 24109, 48219, 60273,
    * 64292, 65296, 65497 — hex '5e2d' 'bc5b' 'eb71' 'fb24' 'ff10'
    * 'ffd9' — so `w = #{thresholds ≤ u}` is 0..6 (the ≥7 tail,
    * ~8·10⁻⁵, folds into 6; the quantization is part of the published
    * contract). Lowercase-hex string comparison is the proven
    * cross-engine primitive ([[keepPredicate]]); no FP anywhere.
    */
  def poissonWeight(idCol: Column, repCol: Column): Column = {
    val u = substring(
      md5(concat(idCol.cast(StringType), lit(":"),
        repCol.cast(StringType))), 1, 4)
    when(u < "5e2d", 0L).when(u < "bc5b", 1L).when(u < "eb71", 2L)
      .when(u < "fb24", 3L).when(u < "ff10", 4L).when(u < "ffd9", 5L)
      .otherwise(6L)
  }

  /** Percentile-bootstrap confidence interval for the per-stratum mean
    * of an integer `metric` — the uncertainty gauge a pipeline reads
    * before acting on a slice statistic ("source B's mean quality
    * dropped" means nothing without an interval). `nReps`
    * deterministic Poisson resamples ([[poissonWeight]]) each publish
    * an exact weighted-mean in micros (`Σw·x·10⁶ div Σw` — BIGINT
    * floor division, non-negative operands); the interval is the
    * resample-mean MIN and MAX, which at the default `nReps = 40` are
    * exactly the 1st and 40th order statistics — the percentile-
    * bootstrap 2.5%/97.5% bounds ((B+1)·0.025 = 1.025 → rank 1).
    * Zero-total-weight resamples (probability ~e^(−n)) publish NULL
    * and are skipped by MIN/MAX in both engines. All-integer
    * end-to-end — unconditionally portable. Headroom: Σw·x·10⁶ ≤
    * 6·Σx·10⁶ must stay under 2⁶³ ⇒ stratum mass ≤ 1.5·10¹²; sample
    * above (the x112/x137 convention).
    *
    * Scale: the corpus pass is a stateless ×B row explosion whose
    * rows are (stratum, b, w, w·x) — immediately map-side combined to
    * the (strata × B) grid, so the exchange carries B rows per
    * stratum, not B corpora; the observed-mean aggregate is a second
    * pruned pass over the metric column only. One stratum-sized
    * equi-join assembles the report. B rides the `nReps` knob; cost
    * is linear in B by construction.
    *
    * Returns `(stratum, n_rows, mean_micros, ci_lo_micros,
    * ci_hi_micros)`.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, strataCol: String,
      metric: Column, nReps: Int = 40): DataFrame = {
    require(nReps >= 2, s"need nReps >= 2, got $nReps")
    val base = df.select(col(strataCol).as("stratum"),
      col(idCol).cast(StringType).as("_id"),
      metric.cast(LongType).as("_x"))
    val perRep = base
      .select(col("stratum"), col("_x"),
        explode(sequence(lit(0), lit(nReps - 1))).as("_b"),
        col("_id"))
      .select(col("stratum"), col("_b"),
        poissonWeight(col("_id"), col("_b")).as("_w"), col("_x"))
      .groupBy("stratum", "_b")
      .agg(sum(expr("_w * _x")).as("_wx"), sum(col("_w")).as("_sw"))
      .withColumn("_mean",
        when(col("_sw") === 0L, lit(null).cast(LongType))
          .otherwise(expr("(_wx * 1000000) div _sw")))
    val obs = base.groupBy("stratum")
      .agg(count(lit(1)).as("n_rows"),
        expr("(sum(_x) * 1000000) div count(1)").as("mean_micros"))
    val ci = perRep.groupBy("stratum")
      .agg(min(col("_mean")).as("ci_lo_micros"),
        max(col("_mean")).as("ci_hi_micros"))
    obs.join(ci, Seq("stratum"))
  }

  def percentileGate(df: DataFrame, idCol: String, strataCol: String,
      scoreCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0,1], got $keepFrac")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    df.select(col(idCol), col(strataCol), col(scoreCol).as("score"))
      .withColumn("pct", percent_rank().over(w))
      .filter(col("pct") >= lit(1.0 - keepFrac))
  }
}
