package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline — the reason the
  * north-star operators exist as separable stages. Each step is a
  * DataFrame→DataFrame transform, so the same composition runs at any
  * scale and each stage's shuffle budget is what its operator
  * documents:
  *
  *   1. quality gate   — per-row signals, no shuffle
  *   2. exact dedup    — one shuffle on the text hash
  *   3. near-dup sweep — LSH candidates → exact verify (x12 path),
  *                       then drop every pair's larger id: survivors
  *                       provably contain no verified pair (any pair's
  *                       max id is itself dropped)
  *
  * "Keep the smaller id" is the deterministic keep-first policy; a
  * smarter representative choice (longest doc, centroid doc) drops in
  * by changing the aggregation, not the plan shape.
  */
object DataPipeline {

  /** Ids to REMOVE under keep-smallest-id near-dup policy. */
  def nearDupVictims(pairs: DataFrame): DataFrame =
    pairs.select(col("b_id").as("doc_id")).distinct()

  /** Full curation pass over a `documents`-shaped frame. Exact dedup is
    * keep-smallest-id (deterministic — `dropDuplicates` keeps an
    * arbitrary row, which would flap across runs/partitionings), so the
    * whole pipeline is a pure function of its input.
    *
    * `tokenize` flows through BOTH tokenizer consumers — the quality
    * gate's token count and the near-dup token sets — so running the
    * pipeline on [[TextAnalysis.tokensFolded]] makes documents that
    * differ only in whitespace/case/edge-punctuation near-dup-match
    * (the x75 contract); the default single-space [[TextAnalysis
    * .tokens]] keeps the x50 fixture semantics.
    */
  def curate(docs: DataFrame, minTokens: Int = 40,
      minJaccard: Double = 0.9, blockCol: Column = lit(0),
      numHashes: Int = 64, bands: Int = 16,
      tokenize: Column => Column = TextAnalysis.tokens): DataFrame = {
    // Parallelize.ensure (no-op at scale) does NOT move the
    // tokenize-in-filter: Catalyst pushes the gate filter below the
    // round-robin exchange, so it still runs in the scan stage. What the
    // exchange spreads over the session is everything above it — the
    // exact-dedup partial aggregate and the token-set projection over
    // the semi-join — which a single-file input would otherwise run as
    // one task (StageGate audits that shape through x75).
    val gated = graft.ops.Parallelize.ensure(docs)
      .filter(col("text").isNotNull)
      .filter(size(tokenize(col("text"))).cast("long") >= minTokens)
    val keep = gated.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exact = gated.join(keep, Seq("doc_id", "text"), "left_semi")
    // lazy barrier (r20, the funnelStages fold): `withTok` feeds FOUR
    // consumers (the LSH signature pass, both verify-join sides, and
    // the final anti-join) and each would otherwise re-run the
    // gate → exact-dedup groupBy+semi-join → tokenize subtree — at
    // scale, four corpus passes with two shuffles each. The
    // checkpointed frame is the exact-dedup SURVIVORS (already gated
    // and deduped).
    val withTok = exact.withColumn("_tok",
        Dedup.tokenSet(col("text"), tokenize))
      .localCheckpoint(eager = false)
    val victims = nearDupVictims(
      Dedup.nearDupPairs(withTok, "doc_id", "_tok", minJaccard,
        numHashes = numHashes, bands = bands, blockCol = blockCol))
    withTok.join(victims, Seq("doc_id"), "left_anti").drop("_tok")
  }

  /** Leakage-safe train/val/test split: the split is a hash of the
    * near-dup CLUSTER id, not the document id, so two near-duplicate
    * documents can never land in different splits — the failure mode
    * that silently inflates eval numbers when a test document's twin
    * sits in train. Documents in no near-dup pair are their own
    * cluster (component = own id) and split exactly as
    * [[Sampling.splitAssign]] would have split them.
    *
    * Same split-stability contract as splitAssign: membership is a
    * pure function of the cluster's canonical (minimum) id, so a
    * cluster never migrates between splits as the corpus grows UNLESS
    * new data joins two clusters — in which case merging their splits
    * is the correct behavior, not a bug.
    *
    * Scale: adds one CC run (O(log d) bounded shuffle rounds over the
    * PAIR list, which near-dup pruning keeps far smaller than the
    * corpus) and one broadcast-or-shuffle join of labels back onto
    * docs; the split predicate itself stays per-row stateless.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      trainRate: Double, valRate: Double): DataFrame =
    Sampling.splitAssign(
      Clusters.assignComponents(docs, idCol, pairs, aCol, bCol),
      "component", trainRate, valRate)

  /** Near-dup cluster REPRESENTATIVE selection — the keep policy
    * production curation actually wants: instead of keep-smallest-id
    * (x33/x50's deterministic default), keep the highest-QUALITY
    * member of every near-dup cluster (SemDeDup keeps the most
    * central; FineWeb-style pipelines keep the best-scoring; "longest
    * document" is the classic cheap proxy). The scaladoc promise at
    * the top of this file — "a smarter representative choice drops in
    * by changing the aggregation, not the plan shape" — made concrete.
    *
    * Representative = argmax by (`qualityCol` desc, id asc), computed
    * as ONE map-side-combinable aggregate (r21, VERDICT r20 item 3 —
    * the selection was two component-keyed aggregates plus an extra
    * join): `max(struct(quality, ~id))`. Struct ordering is
    * lexicographic, so the max carries the maximal quality, and among
    * the maximal members the maximal `~id` — bitwise NOT is a total,
    * strictly DECREASING bijection on Long (no negation overflow at
    * `Long.MinValue`), so `~(max(~id))` is exactly the minimal id.
    * The published tie-break contract (quality desc, id asc) is
    * therefore identical to the old two-aggregate spelling;
    * DataPipelineSpec pins it on a tie fixture. The choice stays
    * deterministic under any partitioning and needs NO window sort
    * over members. Singleton documents (no near-dup pair) are their
    * own component and their own representative.
    *
    * Scale: the CC labeling is the dominant cost (O(log d) bounded
    * shuffle rounds over the PAIR list — x33's analysis); the
    * selection adds one component-keyed aggregate and one
    * component-keyed equi join, co-partitioned by the same key.
    *
    * Nulls: a null `qualityCol` ranks below every non-null quality
    * (struct ordering puts a null field first), so an all-null
    * component keeps its minimum id as representative and no row
    * drops; coalesce a nullable signal first if null should rank
    * otherwise (DataPipelineSpec pins this). `idCol` must be an
    * integral type (the argmax folds it through bitwise NOT).
    *
    * Returns `(idCol, component, qualityCol, rep_id, keep)` —
    * `keep` ∈ {0,1}, exactly one keep=1 per component.
    */
  def clusterRepresentatives(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      qualityCol: String): DataFrame = {
    val labeled = Clusters.assignComponents(docs, idCol, pairs,
      aCol, bCol)
    val rep = labeled.groupBy(col("component"))
      .agg(max(struct(col(qualityCol).as("q"),
        bitwise_not(col(idCol)).as("nid"))).as("_m"))
      .select(col("component"), bitwise_not(col("_m.nid")).as("rep_id"))
    labeled.join(rep, Seq("component"))
      .select(col(idCol), col("component"), col(qualityCol),
        col("rep_id"),
        when(col(idCol) === col("rep_id"), lit(1L)).otherwise(lit(0L))
          .as("keep"))
  }

  /** Fill-in-the-middle (FIM) training transform — Bavarian et al.
    * 2022 ("Efficient Training of Language Models to Fill in the
    * Middle", arXiv:2207.14255): with probability `fimRate` a
    * document's text is split at two uniform character positions into
    * (prefix, middle, suffix) and re-emitted in PSM order with
    * sentinel tokens — `⟨PRE⟩prefix⟨SUF⟩suffix⟨MID⟩middle` — teaching
    * an autoregressive LM to infill; the remaining documents pass
    * through verbatim (the paper's joint objective).
    *
    * Everything is DETERMINISTIC per row, no RNG state: the FIM coin
    * is the md5-prefix membership test (the x23/x36 convention, tagged
    * `fimr|id` so it is independent of any other sampling decision on
    * the same corpus), and each cut point is a 48-BIT md5 draw
    * (`fim1|id`, `fim2|id` — three 16-bit slices composed, the
    * esKeyed h48 pattern) taken mod (len+1), sorted so
    * `0 ≤ cut1 ≤ cut2 ≤ len`. r14 (the r13 ADVICE item): the old
    * 16-bit draw made the mod the identity for docs ≥ 64 KiB —
    * confining both cuts to the first 65,536 chars — and
    * length-biased for shorter docs; 48 bits make the mod bias
    * ≤ len·2⁻⁴⁸ (immaterial for any document that fits in memory),
    * restoring the paper's two-uniform-positions contract. Empty
    * prefix/middle/suffix spans are legal FIM outputs (cut at the
    * boundary), exactly as in the paper. Every primitive (md5,
    * substr, integer mod — the 48-bit compose stays well under 2⁶³)
    * is bit-identical cross-engine — no floating point anywhere.
    *
    * Scale: ONE stateless per-row projection — no shuffle, no window,
    * no join; Catalyst keeps the whole transform in a single
    * WholeStageCodegen span, so it streams through a 100 TB corpus at
    * scan speed and re-runs reproducibly shard-by-shard (the property
    * a training-data rewriter must have: re-materializing any shard
    * yields the same bytes).
    *
    * Contract: `textCol` must not contain the sentinel strings (true
    * of natural text with the defaults; the caller owns sentinel
    * choice). Returns `(idCol, fim, cut1, cut2, psm_text,
    * n_chars_out)`; `cut1`/`cut2` are the draws (published for both
    * branches — they are a pure function of the id), `fim` ∈ {0,1}.
    */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      fimRate: Double, pre: String = "<PRE>", suf: String = "<SUF>",
      mid: String = "<MID>"): DataFrame = {
    val idStr = col(idCol).cast("string")
    def draw48(tag: String): Column = {
      val dig = md5(concat(lit(tag + "|"), idStr))
      def h16(from: Int): Column =
        conv(substring(dig, from, 4), 16, 10).cast("long")
      h16(1) * lit(4294967296L) + h16(5) * lit(65536L) + h16(9)
    }
    val len = length(col(textCol)).cast("long")
    val c1r = draw48("fim1") % (len + lit(1L))
    val c2r = draw48("fim2") % (len + lit(1L))
    val cut1 = least(c1r, c2r)
    val cut2 = greatest(c1r, c2r)
    val fim = substring(md5(concat(lit("fimr|"), idStr)), 1, 4) <
      lit(Sampling.hexThreshold(fimRate))
    val t = col(textCol)
    val psm = concat(lit(pre), t.substr(lit(1L), cut1),
      lit(suf), t.substr(cut2 + lit(1L), len - cut2),
      lit(mid), t.substr(cut1 + lit(1L), cut2 - cut1))
    docs.select(col(idCol),
        when(fim, lit(1L)).otherwise(lit(0L)).as("fim"),
        cut1.as("cut1"), cut2.as("cut2"),
        when(fim, psm).otherwise(t).as("psm_text"))
      .withColumn("n_chars_out", length(col("psm_text")).cast("long"))
  }

  /** Per-stratum Borda rank fusion over quality signals (x132) — the
    * scale-free ensemble gate used when signal SCALES are
    * incomparable (a perceptron logit, a Gopher rule count, and an
    * LM nll cannot be averaged; their RANKS can — Borda's method, de
    * Borda 1781, the integer-exact cousin of reciprocal-rank fusion):
    * each signal ranks the docs WITHIN their stratum (higher signal =
    * better = rank 1, `row_number` with the id tie-break so every
    * rank is total), the Borda score is the exact integer SUM of
    * ranks (lower = better on all signals), and the per-stratum top-k
    * leaderboard cuts on (borda asc, id asc).
    *
    * This complements x128's score-composed leaderboard: x128 fuses
    * on a COMMON scale (micros of nll); this fuses signals with NO
    * common scale — the production choice when mixing heterogeneous
    * quality models. All ranks/sums are exact integers; no FP
    * anywhere, so the published row is unconditionally portable.
    *
    * Scale: one shuffle on the stratum key serves ALL THREE rank
    * windows (same partitioning — Spark plans one Exchange and three
    * Window ops over it), then the top-k cut pushes down as a
    * WindowGroupLimit before the presentation sort; the shuffle
    * carries (stratum, id, 3 longs). Strata are the bounded
    * dimension; a skewed mega-stratum bounds a task at the stratum's
    * row count, the x35/x127 caveat.
    *
    * `signals` are (name, integer-valued Column) pairs evaluated on
    * the input row. Returns
    * `(strataCol, idCol, <name>_rank..., borda, rk)`, `rk ≤ k`.
    */
  def bordaTopK(docs: DataFrame, idCol: String, strataCol: String,
      signals: Seq[(String, org.apache.spark.sql.Column)], k: Int)
      : DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      (col(strataCol) +: col(idCol) +:
        signals.map { case (n, c) => c.cast("long").as(s"_s_$n") }): _*)
    val ranked = signals.foldLeft(base) { case (df, (n, _)) =>
      val w = Window.partitionBy(col(strataCol))
        .orderBy(col(s"_s_$n").desc, col(idCol).asc)
      df.withColumn(s"${n}_rank", row_number().over(w).cast("long"))
    }
    val borda = signals.map(s => col(s"${s._1}_rank"))
      .reduce(_ + _).as("borda")
    val cut = Window.partitionBy(col(strataCol))
      .orderBy(col("borda").asc, col(idCol).asc)
    ranked.select(
        (col(strataCol) +: col(idCol) +:
          signals.map(s => col(s"${s._1}_rank")) :+ borda): _*)
      .withColumn("rk", row_number().over(cut).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Spearman rank-correlation audit between quality signals, per
    * stratum — the diagnostic read BEFORE fusing signals with
    * [[bordaTopK]]: rank fusion only adds information when the
    * signals disagree somewhere (ρ ≈ 1 means the signals are
    * redundant; ρ ≈ −1 means they fight and the fused order is
    * near-arbitrary). Ranks are `row_number` with the id tie-break
    * (the x132 convention — a deterministic variant of the classical
    * average-rank treatment of ties), so every rank is a total order
    * and ρ = 1 − 6·Σd²/(n(n²−1)) is EXACT integer arithmetic:
    * `rho_micros = 1 000 000 − (6 000 000·Σd²) div (n(n²−1))` — all
    * operands non-negative before the final subtraction, so floor
    * and truncating division agree and the published row is
    * unconditionally portable. Strata with n < 2 publish NULL (ρ is
    * undefined on a single point).
    *
    * Long headroom: 6 000 000·Σd² with Σd² ≤ n(n²−1)/3 stays inside
    * a BIGINT for n ≤ ~16 000 rows per stratum; the fixture maximum
    * is 250. At corpus scale run it on a bounded sample (x23/x35 —
    * the x112 sampled-QA precedent): ρ is a statistical gauge, and a
    * few thousand rows per stratum pin it to two decimals.
    *
    * Scale: ONE shuffle on the stratum key serves every rank window
    * (one Exchange, |signals| Window ops over the same partitioning —
    * the bordaTopK plan shape), then one per-stratum aggregate emits
    * (n, Σd² per pair); the pair rows explode from that stratum-sized
    * frame. The shuffle carries (stratum, id, |signals| longs).
    *
    * Returns `(strataCol, pair STRING "a~b", n BIGINT, sum_d2 BIGINT,
    * rho_micros BIGINT)` for every unordered signal pair.
    */
  def spearmanAudit(docs: DataFrame, idCol: String, strataCol: String,
      signals: Seq[(String, Column)]): DataFrame = {
    require(signals.size >= 2, "need at least two signals to correlate")
    require(signals.map(_._1).distinct.size == signals.size,
      "signal names must be distinct")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      (col(strataCol) +: col(idCol) +:
        signals.map { case (n, c) => c.cast("long").as(s"_s_$n") }): _*)
    val ranked = signals.foldLeft(base) { case (df, (n, _)) =>
      val w = Window.partitionBy(col(strataCol))
        .orderBy(col(s"_s_$n").desc, col(idCol).asc)
      df.withColumn(s"_r_$n", row_number().over(w).cast("long"))
    }
    val pairs = signals.map(_._1).combinations(2).map {
      case Seq(a, b) => (a, b)
    }.toSeq
    val d2Cols = pairs.map { case (a, b) =>
      val d = col(s"_r_$a") - col(s"_r_$b")
      sum(d * d).as(s"_d2_${a}_$b")
    }
    val agg = ranked.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n"), d2Cols: _*)
    val rows = pairs.map { case (a, b) =>
      val d2 = s"_d2_${a}_$b"
      val rho = when(col("n") < 2L, lit(null).cast("long"))
        .otherwise(lit(1000000L) -
          expr(s"(6000000 * `$d2`) div (n * (n * n - 1))"))
      struct(lit(s"$a~$b").as("pair"), col("n").cast("long").as("n"),
        col(d2).cast("long").as("sum_d2"), rho.as("rho_micros"))
    }
    agg.select(col(strataCol), explode(array(rows: _*)).as("r"))
      .select(col(strataCol), col("r.pair").as("pair"),
        col("r.n").as("n"), col("r.sum_d2").as("sum_d2"),
        col("r.rho_micros").as("rho_micros"))
  }

  /** Exact AUC audit of a quality signal against a boolean label, per
    * stratum — the Mann–Whitney/rank spelling of ROC-AUC, the QA a
    * pipeline runs on any scoring gate (does the LM score actually
    * separate the docs the heuristic flags? does the classifier
    * outrank random?): rank every doc within its stratum by
    * (score asc, id asc) — the x132/x137 deterministic total-order
    * convention, a tie-break variant of the classical midrank
    * statistic — then
    * `U = Σ_{positives} rank − n₊(n₊+1)/2` and
    * `AUC = U / (n₊·n₋)`, published as exact floor-division micros
    * (all operands non-negative; n₊(n₊+1) is even so the /2 is
    * exact). AUC ≈ 10⁶ means the signal ranks every positive above
    * every negative; ≈ 500 000 means it is blind. Strata missing a
    * class publish NULL.
    *
    * Long headroom: U·10⁶ ≤ n₊·n₋·10⁶ — safe to ~3×10⁶ rows per
    * stratum; sample above that (the x112/x137 convention).
    *
    * Scale: ONE stratum-keyed exchange feeds the rank window and the
    * per-stratum aggregate (the x137 plan shape — one Exchange, zero
    * joins); the shuffle carries (stratum, id, score, label).
    *
    * Returns `(strataCol, n_pos, n_neg, u_stat, auc_micros)`.
    */
  def aucAudit(docs: DataFrame, idCol: String, strataCol: String,
      score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(strataCol), col(idCol),
      score.cast("long").as("_s"), label.cast("boolean").as("_y"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_s").asc, col(idCol).asc)
    val ranked = base.withColumn("_r", row_number().over(w).cast("long"))
    ranked.groupBy(col(strataCol))
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("n_neg"),
        sum(when(col("_y"), col("_r")).otherwise(0L)).as("_sr"))
      .select(col(strataCol), col("n_pos"), col("n_neg"),
        (col("_sr") -
          expr("(n_pos * (n_pos + 1)) div 2")).as("u_stat"))
      .withColumn("auc_micros",
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("long"))
          .otherwise(expr("(u_stat * 1000000) div (n_pos * n_neg)")))
  }

  /** Corpus-concentration audit per stratum — the "is this slice
    * dominated by a few sites?" gauge read before trusting per-source
    * statistics or setting mixture weights: per stratum, the exact
    * Gini coefficient of the `mass` distribution across `keyCol`
    * groups (0 = every group contributes equally, →1 = one group holds
    * everything) plus the Lorenz top-decile share (what fraction of
    * the stratum's mass its top ⌈n/10⌉ groups hold). Published in
    * EXACT integers end-to-end: groups are totally ordered by
    * (mass asc, key asc) — deterministic under ties, the x132/x143
    * rank convention — and with rank i of n and group mass mᵢ,
    * `gini_num = Σ(2i − n − 1)·mᵢ` (≥ 0 for the ascending order) so
    * `gini_micros = gini_num·10⁶ div (n·T)`; the decile share is an
    * exact tail-sum over ranks `i > n − ⌈n/10⌉`, published as
    * `top_decile_micros = tail·10⁶ div T`. No FP anywhere (the
    * x137/x143 portability class); single-group strata publish Gini 0
    * and share 10⁶ by the same arithmetic, and a zero-mass stratum
    * publishes NULL for both ratios (counts stay exact).
    *
    * Long headroom: `gini_num ≤ n·T` and `gini_micros` multiplies by
    * 10⁶ before the div, so `n·T ≤ 9.2·10¹²` (group count × stratum
    * mass) is the bound; a web corpus at 10⁷ domains × 10¹³ tokens
    * needs the md5 domain-sample first — the x112/x137 convention.
    * The fixture is ~6 orders below the bound.
    *
    * Scale: ONE map-side-combinable (stratum, key) aggregate collapses
    * the corpus to the group-sized frame; ONE stratum-keyed exchange
    * then serves the rank window, both total windows AND the final
    * aggregate (one Exchange, zero joins). Nothing after the first
    * aggregate touches corpus-sized data.
    *
    * Returns `(stratum, n_keys, total_mass, gini_micros,
    * top_decile_micros)`.
    */
  def concentrationReport(df: DataFrame, strataCol: String,
      keyCol: String, mass: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.select(col(strataCol).as("stratum"),
        col(keyCol).as("_k"), mass.cast("long").as("_m"))
      .groupBy("stratum", "_k").agg(sum(col("_m")).as("_gm"))
    val rk = Window.partitionBy(col("stratum"))
      .orderBy(col("_gm").asc, col("_k").asc)
    val tot = Window.partitionBy(col("stratum"))
    val ranked = g
      .withColumn("_i", row_number().over(rk).cast("long"))
      .withColumn("_n", count(lit(1)).over(tot).cast("long"))
      .withColumn("_cut", expr("_n - ((_n + 9) div 10)"))
    ranked.groupBy(col("stratum"))
      .agg(max(col("_n")).as("n_keys"),
        sum(col("_gm")).as("total_mass"),
        sum(expr("(2 * _i - _n - 1) * _gm")).as("_gnum"),
        sum(when(col("_i") > col("_cut"), col("_gm"))
          .otherwise(lit(0L))).as("_tail"))
      .select(col("stratum"), col("n_keys"), col("total_mass"),
        when(col("total_mass") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "(_gnum * 1000000) div (n_keys * total_mass)"))
          .as("gini_micros"),
        when(col("total_mass") === 0L, lit(null).cast("long"))
          .otherwise(expr("(_tail * 1000000) div total_mass"))
          .as("top_decile_micros"))
  }

  /** Exact per-stratum quartile report — the robust companion to
    * [[graft.ops.Sampling.bootstrapMeanCI]]'s mean interval: means
    * move with the heavy tail every web corpus has; the median and
    * IQR do not. Quartiles are EXACT order statistics at the lower
    * empirical ranks `r_k = ⌈k·n/4⌉ = (k·n + 3) div 4` (k = 1, 2, 3)
    * over the deterministic (value asc, id asc) total order — no
    * interpolation, no type-7 FP, so the published values are corpus
    * VALUES and unconditionally portable (the sketched extreme-scale
    * path is x52's GK / x120's portable grid). Singletons publish the
    * single value in all three columns by the same arithmetic.
    *
    * Scale: ONE stratum-keyed exchange serves the rank window, the
    * count window and the final aggregate (zero joins); shuffle
    * carries (stratum, id, value). The aggregate folds the three
    * rank-hit rows per stratum with conditional MAX — never a
    * collect.
    *
    * Returns `(stratum, n_rows, p25, median, p75)`.
    */
  def quartileReport(df: DataFrame, idCol: String, strataCol: String,
      value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(strataCol).as("stratum"), col(idCol).as("_id"),
      value.cast("long").as("_v"))
    val rk = Window.partitionBy(col("stratum"))
      .orderBy(col("_v").asc, col("_id").asc)
    val tot = Window.partitionBy(col("stratum"))
    val ranked = base
      .withColumn("_i", row_number().over(rk).cast("long"))
      .withColumn("_n", count(lit(1)).over(tot).cast("long"))
    ranked.groupBy(col("stratum"))
      .agg(max(col("_n")).as("n_rows"),
        max(when(col("_i") === expr("(_n + 3) div 4"), col("_v")))
          .as("p25"),
        max(when(col("_i") === expr("(2 * _n + 3) div 4"), col("_v")))
          .as("median"),
        max(when(col("_i") === expr("(3 * _n + 3) div 4"), col("_v")))
          .as("p75"))
  }

  /** Per-stratum quantile normalization — the rank-based feature
    * rescaling a mixture designer applies before comparing scores
    * ACROSS sources: within each stratum, a value's normalized score
    * is its empirical quantile position in exact micros,
    * `pr = (rank − 1) · 10⁶ div (n − 1)` over the deterministic
    * (value asc, id asc) total order (0 for the stratum minimum, 10⁶
    * for the maximum; singleton strata publish 0 by the same
    * arithmetic). Quantile-normalized scores from different strata
    * are directly comparable even when the raw distributions differ
    * in location and scale — the cross-source calibration x92's
    * within-lang terciles apply at coarser grain.
    *
    * The published frame is the deterministic ~10% md5 id sample of
    * the per-row result (the x166/x170 sample convention — ranks are
    * computed over the FULL stratum, the sample only bounds the
    * publish; pass `sampleHex4 = "ffff"` for the full frame).
    *
    * Determinism: ranks are tie-broken on id (exact); the score is
    * one BIGINT floor division of non-negative operands; the sample
    * predicate is a pure md5-prefix compare both engines spell
    * identically.
    *
    * Scale: ONE stratum-keyed exchange serves the rank and count
    * windows (the q8/x150 partitioned shape — a stratum bounds a
    * task); the sample filter prunes before the publish. No joins,
    * no global window, no collect.
    *
    * Returns `(id, stratum, v BIGINT, pr_micros BIGINT)`.
    */
  def quantileNormalize(df: DataFrame, idCol: String,
      strataCol: String, value: Column,
      sampleHex4: String = "199a"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(strataCol).as("stratum"),
      col(idCol).as("id"), value.cast("long").as("v"))
    val rk = Window.partitionBy(col("stratum"))
      .orderBy(col("v").asc, col("id").asc)
    val tot = Window.partitionBy(col("stratum"))
    base
      .withColumn("_i", row_number().over(rk).cast("long"))
      .withColumn("_n", count(lit(1)).over(tot).cast("long"))
      .withColumn("pr_micros",
        when(col("_n") === 1L, 0L)
          .otherwise(expr("((_i - 1) * 1000000) div (_n - 1)")))
      .filter(substring(md5(col("id").cast("string")), 1, 4)
        < lit(sampleHex4))
      .select(col("id"), col("stratum"), col("v"), col("pr_micros"))
  }

  /** Source Lorenz curve — the concentration read behind x145's Gini
    * scalar: strata (sources) rank by document count DESCENDING (ties
    * broken on the stratum name), and each row publishes the exact
    * cumulative document count and cumulative corpus share in micros
    * through that rank. "The top 3 sources are 80% of the corpus" is
    * this table's first three rows — the mixture designer's
    * diversification worklist, where the Gini only says 'skewed'.
    *
    * Determinism: exact counts; the cumulative runs over the
    * (−n_docs, stratum) total order via the two-pass
    * [[PrefixSum.withRunningLongSum]] (distributed sort + broadcast
    * partition offsets — no single-partition window); shares are
    * floor divisions.
    *
    * Scale: ONE map-side-combinable stratum aggregate collapses the
    * corpus; the sort/scan runs over the stratum-bounded frame; the
    * one-row total broadcasts.
    *
    * Returns `(stratum, n_docs BIGINT, cum_docs BIGINT,
    * cum_micros BIGINT)`.
    */
  def lorenzSources(docs: DataFrame, strataCol: String): DataFrame = {
    val per = docs.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("_neg", -col("n_docs"))
      // lazy barrier: the running sum and the total share this
      // stratum-bounded frame
      .localCheckpoint(eager = false)
    val cum = PrefixSum.withRunningLongSum(per,
      Seq("_neg", "stratum"), "n_docs", "cum_docs")
    val total = per.agg(sum(col("n_docs")).as("_tot"))
    cum.crossJoin(broadcast(total))
      .select(col("stratum"), col("n_docs"), col("cum_docs"),
        expr("(cum_docs * 1000000) div _tot").as("cum_micros"))
  }

  /** Value-weighted Lorenz curve — [[lorenzSources]] generalized from
    * document counts to an exact BIGINT value (built for `orders`:
    * cumulative revenue share through the (revenue DESC, customer)
    * rank — the whale curve account planning reads): per key, the
    * summed value micros, the cumulative micros through its rank, and
    * the cumulative corpus share. Published for the deterministic
    * ~10% md5 key sample (the x177 convention — the CUMULATIVE is
    * computed over the FULL ranking, the sample only bounds the
    * publish; `sampleHex4 = "ffff"` for the full frame).
    *
    * Determinism: exact per-key sums (callers pass an exact-integer
    * value column — the x128 money-micros cast); the cumulative runs
    * over the (−value, key) total order via the two-pass
    * [[PrefixSum.withRunningLongSum]]; one floor division; the md5
    * sample predicate both engines spell identically.
    *
    * Scale: ONE map-side key aggregate collapses the fact table to
    * the key-sized frame (lazy-checkpoint barrier); the sort/scan and
    * the broadcast total run on THAT; the sample prunes the publish.
    *
    * Returns `(id, v_micros BIGINT, cum_v_micros BIGINT,
    * cum_share_micros BIGINT)`.
    */
  def lorenzValue(df: DataFrame, keyCol: String, valueMicros: Column,
      sampleHex4: String = "199a"): DataFrame = {
    val per = df.groupBy(col(keyCol).as("id"))
      .agg(sum(valueMicros).as("v_micros"))
      .withColumn("_neg", -col("v_micros"))
      .localCheckpoint(eager = false)
    val cum = PrefixSum.withRunningLongSum(per,
      Seq("_neg", "id"), "v_micros", "cum_v_micros")
    val total = per.agg(sum(col("v_micros")).as("_tot"))
    // share spelling, gated on the EXACT overflow boundary: cum ≤ tot,
    // so cum · 10⁶ stays inside Long whenever tot ≤ Long.Max div 10⁶
    // = 9223372036854 micros (~$9.2M) — keep the exact spelling there
    // (shares land precisely in [0, 10⁶], final row exactly 10⁶).
    // Above it, cum · 10⁶ wraps (DuckDB raises, Spark silently wraps —
    // the x196 sf0.01 overflow), so switch to the pre-divided
    // denominator cum div (tot div 10⁶): there tot div 10⁶ ≥ 9.2e6,
    // so the floor-divided denominator's relative error is ≤ ~1e-7
    // and the published share overshoots 10⁶ by at most ~1 ulp.
    // Both branches are spelled identically in the oracle.
    cum.crossJoin(broadcast(total))
      .select(col("id"), col("v_micros"), col("cum_v_micros"),
        when(col("_tot") > 9223372036854L,
          expr("cum_v_micros div (_tot div 1000000)"))
          .otherwise(expr("(cum_v_micros * 1000000) div _tot"))
          .as("cum_share_micros"))
      .filter(substring(md5(col("id").cast("string")), 1, 4)
        < lit(sampleHex4))
  }

  /** Corpus snapshot diff — the data-versioning report run between two
    * corpus versions before retraining: per id, `added` (only in new),
    * `removed` (only in old), `modified` (both, content hash differs)
    * or `unchanged`. Content equality is md5-of-text (cross-engine
    * portable; 2^-128 collisions), so the diff never ships text
    * through the shuffle — ONE full-outer join on the id carrying
    * 16-byte hashes, then a stateless per-row classification. Feed the
    * `modified`+`added` ids back into the incremental operators
    * ([[graft.ops.Dedup.incrementalNearDupPairs]],
    * [[graft.ops.Dedup.bloomFreshRows]]) to re-curate only the delta.
    *
    * Returns `(id, status)` for every id in either snapshot.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("_ho"))
    val n = newDocs.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("_hn"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") =!= col("_hn"), "modified")
          .otherwise("unchanged").as("status"))
  }
}
