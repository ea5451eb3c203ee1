package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Cardinality, Contamination, Dedup, Ingest, Multimodal, Sampling, Similarity, TextAnalysis, UrlCanon}

/** North-star extension queries (beyond the reference's own surface, per
  * BASELINE.json): dedup family, similarity search, text analysis,
  * multimodal plumbing. Oracle SQL provided wherever DuckDB can express
  * the identical deterministic computation; sketch-based ops (MinHash,
  * SimHash — xxhash64 has no DuckDB twin) are rows-only checked here and
  * property-tested in ScalaTest against exact Jaccard/Hamming.
  */
object ExtensionCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def ordered(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_last).toIndexedSeq: _*)

  private def orderedSql(cols: Seq[String]): String =
    "ORDER BY " + cols.map(c => s"$c NULLS LAST").mkString(", ")

  private val D18_6 = DecimalType(18, 6)

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** 16-bit integer value of a 4-hex-char string column — the DuckDB
    * twin of Spark's `conv(hex4, 16, 10)` (x114's spelling, factored
    * for reuse by the md5-draw ops).
    */
  private def hex16Sql(c: String): String =
    s"((strpos('0123456789abcdef', substr($c, 1, 1)) - 1) * 4096 + " +
      s"(strpos('0123456789abcdef', substr($c, 2, 1)) - 1) * 256 + " +
      s"(strpos('0123456789abcdef', substr($c, 3, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr($c, 4, 1)) - 1))"

  /** The engine-portable rolling-hash fold (TextAnalysis.fingerprint's
    * arithmetic) in DuckDB SQL — x4 and x51 share ONE spelling so the
    * two oracles cannot drift from each other or the kernel.
    */
  private def rollingFoldSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), " +
      s"c -> CAST(ord(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % 2147483648)"

  /** x99's frozen blocklist: one multi-word phrase, one rare token,
    * one never-occurring pattern (the zero-count path).
    */
  private val blockPats: Seq[String] = Seq("slow table", "dup", "zzz")

  /** Cross-ingest near-dup pairs (arriving src19 × ingested rest,
    * exact Jaccard ≥ 0.9) — ONE spelling shared by the x208/x209/x210
    * oracles, mirroring [[graft.ops.Ingest.crossIngestPairs]] on the
    * Spark side, so the decision report, the pair evidence, and the
    * append accounting cannot drift from each other.
    */
  private val ingestPairsCtes: String = """toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        im AS (
          SELECT n.doc_id AS new_id, o.doc_id AS seen_id,
            CAST(len(list_intersect(n.tok, o.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(n.tok, o.tok))) AS jaccard
          FROM toks n JOIN toks o
            ON n.source = 'src19' AND o.source <> 'src19'
          WHERE CAST(len(list_intersect(n.tok, o.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(n.tok, o.tok))) >= 0.9)"""

  /** Generated portable-MinHash LSH candidate chain (base → digs →
    * sig → banded → cand) — ONE spelling shared by x43 and x110, so
    * the recall QA measures exactly the candidate generator x43
    * proves.
    */
  private object PortableLshSql {
    /** `where` narrows the corpus the whole chain sees (x112's
      * deterministic sample predicate); empty = full corpus (x110).
      */
    def chain(k: Int, bands: Int, where: String = ""): String = {
      val rows = k / bands
      val digsList = (0 until k / 4)
        .map(s => s"list_transform(toks, t -> md5('$s|' || t))")
        .mkString("[", ", ", "]")
      val sigList = (0 until k)
        .map(i => s"list_min(list_transform(digs[${i / 4 + 1}], " +
          s"d -> substr(d, ${(i % 4) * 8 + 1}, 8)))")
        .mkString("[", ", ", "]")
      val bandSel = (0 until bands).map { bnd =>
        val key = (bnd * rows until (bnd + 1) * rows)
          .map(i => s"sig[${i + 1}]").mkString(" || ")
        s"SELECT doc_id, source, $bnd AS band_id, $key AS band_key FROM sig"
      }.mkString(" UNION ALL ")
      s"""base AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS toks
          FROM documents $where),
        digs AS (SELECT doc_id, source, $digsList AS digs FROM base),
        sig AS (SELECT doc_id, source, $sigList AS sig FROM digs),
        banded AS ($bandSel),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM banded a JOIN banded b
            ON a.source = b.source AND a.band_id = b.band_id
              AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id)"""
    }
    def estExpr(k: Int): String = (1 to k)
      .map(i => s"CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END")
      .mkString(" + ")
  }

  /** The x110/x112 dedup-recall report over `docs`: recall +
    * candidate efficiency of the portable-LSH generator vs exact
    * Jaccard ≥ 0.9 ground truth. ONE builder shared by the full-corpus
    * QA row (x110) and the hash-sampled corpus-scale row (x112), so
    * the two cannot drift.
    */
  private def dedupRecallReport(docs: DataFrame): DataFrame = {
    val withSets = docs.select(col("doc_id"), col("source"),
      Dedup.tokenSet(col("text")).as("tok"))
    val exact = Dedup.jaccardPairs(withSets, "doc_id", "tok",
        "source", 0.9)
      .select(col("a_id"), col("b_id"))
    val cand = Dedup.portableLshPairs(docs, "doc_id", "text",
        minEst = 0.0, k = 8, bands = 4, blockCol = col("source"))
      .select(col("a_id"), col("b_id"))
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nh = exact.join(cand, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("n_hit"))
    ne.crossJoin(broadcast(nc)).crossJoin(broadcast(nh))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact"))
          .as("recall"),
        (col("n_hit").cast(DoubleType) / col("n_cand"))
          .as("efficiency"))
  }

  /** The deterministic URL synthesizer + canonical-domain chain — ONE
    * Spark/SQL spelling pair shared by x123 and x128 (`documents` has
    * no URL column, so crawl-shaped URLs with scheme-case, www/CDN
    * labels, tracking params and fragments are derived from
    * (doc_id, source); `dom` = `(doc_id, domain)` after
    * [[graft.ops.UrlCanon]] canonicalization).
    */
  private def synthUrlCol: Column = {
    val idm = (m: Int) => (col("doc_id") % m).cast(StringType)
    val scheme = when(col("doc_id") % 3 === 0, lit("HTTPS://"))
      .when(col("doc_id") % 3 === 1, lit("http://"))
      .otherwise(lit("Https://"))
    val www = when(col("doc_id") % 2 === 1, lit("WWW."))
      .otherwise(lit(""))
    val cdn = when(col("doc_id") % 2 === 0, lit("CDN."))
      .otherwise(lit(""))
    val qs = when(col("doc_id") % 4 === 0,
        concat(lit("?utm_source=feed&id="), idm(5),
          lit("&utm_campaign=x")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("?id="), idm(5), lit("&gclid=abc123")))
      .when(col("doc_id") % 4 === 2, concat(lit("?id="), idm(5)))
      .otherwise(lit(""))
    val frag = when(col("doc_id") % 5 === 0,
      concat(lit("#sec"), idm(3))).otherwise(lit(""))
    concat(scheme, www, cdn, upper(col("source")),
      lit(".Example.COM/d/"), idm(40), qs, frag)
  }

  private val urlDomainCtes: String = """u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
                  WHEN doc_id % 3 = 1 THEN 'http://'
                  ELSE 'Https://' END) ||
            (CASE WHEN doc_id % 2 = 1 THEN 'WWW.' ELSE '' END) ||
            (CASE WHEN doc_id % 2 = 0 THEN 'CDN.' ELSE '' END) ||
            upper(source) || '.Example.COM/d/' ||
            CAST(doc_id % 40 AS VARCHAR) ||
            (CASE WHEN doc_id % 4 = 0 THEN
                    '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                      || '&utm_campaign=x'
                  WHEN doc_id % 4 = 1 THEN
                    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&gclid=abc123'
                  WHEN doc_id % 4 = 2 THEN
                    '?id=' || CAST(doc_id % 5 AS VARCHAR)
                  ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN
                    '#sec' || CAST(doc_id % 3 AS VARCHAR)
                  ELSE '' END) AS url
          FROM documents WHERE text IS NOT NULL),
        c AS (
          SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract(regexp_replace(url, '#.*', ''),
                      '^([^:/?#]+://[^/?#]*)', 1)) ||
                    regexp_extract(regexp_replace(url, '#.*', ''),
                      '^[^:/?#]+://[^/?#]*(.*)', 1),
                    '^([a-z][a-z0-9+.-]*://)www\.', '\1'),
                  '&(utm_[a-z]+|gclid|fbclid)=[^&#]*', '', 'g'),
                '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '?'),
              '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*$', '') AS curl0
          FROM u),
        dom AS (
          SELECT doc_id, regexp_extract(
              regexp_replace(curl0, '/$', ''),
              '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS domain
          FROM c)"""

  /** The x111 trigram Kneser–Ney scoring chain — ONE spelling shared
    * by x111 and x115 (`kn3q` = `(doc_id, n_trigrams, avg_nll)`), so
    * the tercile gate cannot drift from the score it gates by.
    */
  // the pr CTE guards `len(t) >= 3` so sub-trigram docs yield NO rows,
  // matching Spark's trigramRows: for len(t)=1 the slice t[1:len(t)-2]
  // is t[1:-1], which DuckDB wraps to the WHOLE list, emitting a
  // spurious (w1, NULL, NULL) row that would inflate the bigram-type
  // count bt and shift EVERY doc's avg_nll. (SQL `--` comments are
  // impossible here — the catalog whitespace-flattens the SQL.)
  private val kn3QualityCtes: String = """toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL),
        pr AS (
          SELECT doc_id, unnest(t[1:len(t)-2]) AS w1,
            unnest(t[2:len(t)-1]) AS w2, unnest(t[3:len(t)]) AS w3
          FROM toks
          WHERE len(t) >= 3),
        tri AS (
          SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
          FROM pr GROUP BY w1, w2, w3),
        ctx AS (
          SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS ctx,
            CAST(COUNT(*) AS BIGINT) AS n3f
          FROM tri GROUP BY w1, w2),
        cont AS (
          SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cont
          FROM tri GROUP BY w2, w3),
        mid AS (
          SELECT w2, CAST(SUM(cont) AS BIGINT) AS mid,
            CAST(COUNT(*) AS BIGINT) AS n2f
          FROM cont GROUP BY w2),
        pred AS (
          SELECT w3, CAST(COUNT(*) AS BIGINT) AS pred
          FROM cont GROUP BY w3),
        bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM cont),
        scoredkn AS (
          SELECT pr.doc_id,
            ROUND(-ln(((tri.c3 - 0.75) / ctx.ctx) +
              (((0.75 * ctx.n3f) / ctx.ctx) *
                (((cont.cont - 0.75) / mid.mid) +
                  (((0.75 * mid.n2f) / mid.mid) *
                    (CAST(pred.pred AS DOUBLE) / bt.bt))))), 6) AS nlp
          FROM pr JOIN tri USING (w1, w2, w3) JOIN ctx USING (w1, w2)
          JOIN cont USING (w2, w3) JOIN mid USING (w2)
          JOIN pred USING (w3) CROSS JOIN bt),
        kn3s AS (
          SELECT doc_id, COUNT(*) AS n_trigrams,
            SUM(CAST(nlp AS DECIMAL(18,6))) AS sum_nll
          FROM scoredkn GROUP BY doc_id),
        kn3q AS (
          SELECT doc_id, n_trigrams,
            CAST(sum_nll AS DOUBLE) / n_trigrams AS avg_nll
          FROM kn3s)"""

  /** The x73 add-one bigram-LM scoring chain — ONE spelling shared by
    * x73 and x109 (`lmq` = `(doc_id, n_bigrams, avg_nll)`), so the
    * curriculum pack cannot drift from the score it packs by.
    */
  private val lmQualityCtes: String = """toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL),
        pr AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
            unnest(t[2:len(t)]) AS w2
          FROM toks),
        big AS (SELECT w1, w2, COUNT(*) AS cb FROM pr GROUP BY w1, w2),
        prefix AS (SELECT w1, SUM(cb) AS cu FROM big GROUP BY w1),
        vocab AS (
          SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz FROM (
            SELECT w1 AS w FROM big UNION ALL SELECT w2 AS w FROM big)),
        scoredlm AS (
          SELECT pr.doc_id,
            ROUND(-ln(CAST(big.cb + 1 AS DOUBLE)
              / (prefix.cu + vocab.vsz)), 6) AS nlp
          FROM pr JOIN big USING (w1, w2)
          JOIN prefix USING (w1)
          CROSS JOIN vocab),
        lmq AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
            CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              AS avg_nll
          FROM scoredlm GROUP BY doc_id)"""

  /** Generated DuckDB oracle for x102 — the power-iteration unroll
    * under the all-integer contract: x79 grid, exact-Long
    * second-moment matrix, and per round the non-negative floor
    * division `(2·scale·|w| + m) // (2·m)` both engines evaluate
    * identically (floor ≡ truncate on non-negative operands).
    */
  private object TopPcOracleSql {
    val dim = 64; val iters = 3; val scale = 100
    def sql: String = {
      val rounds = (1 to iters).map { r =>
        s"""w$r AS (
          SELECT s.i AS j, CAST(SUM(s.s * v${r - 1}.v) AS BIGINT) AS w
          FROM s JOIN v${r - 1} ON s.j = v${r - 1}.j GROUP BY s.i),
        m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
        v$r AS (
          SELECT j, CAST(CASE WHEN m = 0 THEN 0
            WHEN w >= 0 THEN (2 * $scale * w + m) // (2 * m)
            ELSE -((2 * $scale * (-w) + m) // (2 * m)) END AS BIGINT) AS v
          FROM w$r CROSS JOIN m$r)"""
      }.mkString(",\n")
      s"""WITH g AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS gv
          FROM embeddings WHERE embedding IS NOT NULL),
        p AS (
          SELECT a.i AS i, b.j AS j, gv[a.i] * gv[b.j] AS prod
          FROM g,
            (SELECT unnest(generate_series(1, $dim)) AS i) a,
            (SELECT unnest(generate_series(1, $dim)) AS j) b),
        s AS (
          SELECT i - 1 AS i, j - 1 AS j, CAST(SUM(prod) AS BIGINT) AS s
          FROM p GROUP BY 1, 2),
        v0 AS (SELECT unnest(generate_series(0, ${dim - 1})) AS j,
          CAST($scale AS BIGINT) AS v),
        $rounds
        SELECT CAST(j AS BIGINT) AS comp, v FROM v$iters
        """
    }
  }

  /** x60's offline-trained stand-in weight vector (dim 16, exact binary
    * fractions so the SQL literal parses to the identical doubles).
    */
  private val classifierWeights: Seq[Double] =
    Seq.tabulate(16)(i => (i - 8) / 8.0)

  /** Generated DuckDB oracle for the x93/x94 PQ pair — ONE builder so
    * the two oracles can't drift. Mirrors the engine's all-integer
    * contract: the x79 grid, milli-grid centroids (the single rounded
    * division), exact-Long distances/ADC, (dist, cell) ties.
    */
  private object PqOracleSql {
    val numSub = 4; val subDim = 16; val stride = 50; val iters = 2

    private def subCte(m: Int): String = {
      val lo = m * subDim + 1; val hi = (m + 1) * subDim
      s"""sub$m AS (
        SELECT vec_id AS id,
          (list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          )[$lo:$hi] AS sub
        FROM embeddings)"""
    }
    private def cb0(m: Int): String = s"""cb0m$m AS (
        SELECT id AS cell,
          list_transform(sub, x -> x * 1000) AS cv
        FROM sub$m WHERE id % $stride = 0)"""
    private def distAssign(tag: String, m: Int, cb: String): String =
      s"""d${tag}m$m AS (
        SELECT b.id AS id, c.cell AS cell,
          SUM((1000 * b.sub[i.i] - c.cv[i.i])
            * (1000 * b.sub[i.i] - c.cv[i.i])) AS dist
        FROM sub$m b CROSS JOIN $cb c
        CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS i) i
        GROUP BY b.id, c.cell),
      a${tag}m$m AS (
        SELECT id, cell FROM (
          SELECT id, cell, row_number() OVER (
            PARTITION BY id ORDER BY dist, cell) AS rk
          FROM d${tag}m$m) WHERE rk = 1)"""
    private def mean(it: Int, m: Int): String = s"""cb${it}m$m AS (
        SELECT cell, list(mc ORDER BY pos) AS cv FROM (
          SELECT a.cell AS cell, i.i AS pos,
            CAST(ROUND(1000.0 * SUM(b.sub[i.i]) / COUNT(*), 0)
              AS BIGINT) AS mc
          FROM a${it}m$m a JOIN sub$m b USING (id)
          CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS i) i
          GROUP BY a.cell, i.i) GROUP BY cell)"""

    private val withCtes: String = {
      val train = (0 until numSub).flatMap { m =>
        Seq(subCte(m), cb0(m)) ++ (1 to iters).flatMap(it =>
          Seq(distAssign(it.toString, m, s"cb${it - 1}m$m"), mean(it, m)))
      }
      val enc = (0 until numSub).map(m =>
        distAssign("f", m, s"cb${iters}m$m"))
      val qt = (0 until numSub).map(m =>
        s"qtm$m AS (SELECT cell, dist FROM dfm$m WHERE id = 0)")
      val codeCols = (0 until numSub)
        .map(m => s"a$m.cell AS code$m").mkString(", ")
      val encJoin = (1 until numSub)
        .map(m => s"JOIN afm$m a$m USING (id)").mkString(" ")
      (train ++ enc ++ qt).mkString(",\n") + s""",
        enc AS (
          SELECT a0.id AS id, $codeCols
          FROM afm0 a0 $encJoin)"""
    }

    private val adcSelect: String = {
      val qtJoin = (0 until numSub)
        .map(m => s"JOIN qtm$m q$m ON e.code$m = q$m.cell").mkString(" ")
      val adcSum = (0 until numSub).map(m => s"q$m.dist").mkString(" + ")
      val outCodes = (0 until numSub).map(m => s"e.code$m").mkString(", ")
      s"""SELECT e.id AS id, $outCodes,
          CAST($adcSum AS BIGINT) AS adc_dist
        FROM enc e $qtJoin
        WHERE e.id <> 0
        ORDER BY adc_dist, id LIMIT 10"""
    }

    val x93: String = s"WITH $withCtes SELECT * FROM ($adcSelect) "

    val x94: String = s"""WITH $withCtes,
      adc AS ($adcSelect),
      grid AS (
        SELECT vec_id AS id, list_transform(embedding,
          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        FROM embeddings),
      exd AS (
        SELECT b.id AS id,
          SUM((b.g[i.i] - q.g[i.i]) * (b.g[i.i] - q.g[i.i])) AS d
        FROM grid b CROSS JOIN (SELECT g FROM grid WHERE id = 0) q
        CROSS JOIN (SELECT unnest(generate_series(1, ${numSub * subDim}))
          AS i) i
        WHERE b.id <> 0
        GROUP BY b.id),
      ex AS (SELECT id FROM exd ORDER BY d, id LIMIT 10)
      SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
        CAST(COUNT(*) AS DOUBLE) / 10 AS recall
      FROM adc JOIN ex USING (id) """
  }

  /** Generated DuckDB oracle for x95 IVF-PQ — mirrors the engine's
    * all-integer contract end to end: coarse Lloyd (milli centroids,
    * the one rounded mean), residual re-grid round((1000g−C)/1000),
    * the x93 trainer over residual grids, per-probed-cell ADC tables,
    * exact-Long sums, (dist, cell) ties everywhere.
    */
  private object IvfPqOracleSql {
    val numSub = 4; val subDim = 16; val dim = numSub * subDim
    val coarseStride = 100; val pqStride = 50; val nProbe = 2

    /** distance+argmin CTE pair over `(id, <vc>)` rows vs `(cell, cv)`
      * books, `d` dims — shared by the coarse and residual stages.
      */
    private def distAssign(dTag: String, aTag: String, from: String,
        vc: String, cb: String, d: Int): String =
      s"""$dTag AS (
        SELECT b.id AS id, c.cell AS cell,
          SUM((1000 * b.$vc[i.i] - c.cv[i.i])
            * (1000 * b.$vc[i.i] - c.cv[i.i])) AS dist
        FROM $from b CROSS JOIN $cb c
        CROSS JOIN (SELECT unnest(generate_series(1, $d)) AS i) i
        GROUP BY b.id, c.cell),
      $aTag AS (
        SELECT id, cell FROM (
          SELECT id, cell, row_number() OVER (
            PARTITION BY id ORDER BY dist, cell) AS rk
          FROM $dTag) WHERE rk = 1)"""

    private def meanCte(out: String, assign: String, from: String,
        vc: String, d: Int): String = s"""$out AS (
        SELECT cell, list(mc ORDER BY pos) AS cv FROM (
          SELECT a.cell AS cell, i.i AS pos,
            CAST(ROUND(1000.0 * SUM(b.$vc[i.i]) / COUNT(*), 0)
              AS BIGINT) AS mc
          FROM $assign a JOIN $from b USING (id)
          CROSS JOIN (SELECT unnest(generate_series(1, $d)) AS i) i
          GROUP BY a.cell, i.i) GROUP BY cell)"""

    val sql: String = {
      val coarse = Seq(
        s"""gg AS (
          SELECT vec_id AS id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
          FROM embeddings)""",
        s"""ccb0 AS (
          SELECT id AS cell, list_transform(g, x -> x * 1000) AS cv
          FROM gg WHERE id % $coarseStride = 0)""",
        distAssign("cd1", "ca1", "gg", "g", "ccb0", dim),
        meanCte("ccb1", "ca1", "gg", "g", dim),
        distAssign("cdf", "caf", "gg", "g", "ccb1", dim),
        s"""resid AS (
          SELECT b.id AS id, a.cell AS cell,
            list_transform(generate_series(1, $dim), i ->
              CAST(ROUND((1000 * b.g[i] - c.cv[i]) / 1000.0, 0)
                AS BIGINT)) AS q
          FROM gg b JOIN caf a USING (id)
          JOIN ccb1 c ON a.cell = c.cell)""")
      val residBooks = (0 until numSub).flatMap { m =>
        val lo = m * subDim + 1; val hi = (m + 1) * subDim
        Seq(
          s"""rsub$m AS (
            SELECT id, (q)[$lo:$hi] AS sub FROM resid)""",
          s"""rcb0m$m AS (
            SELECT id AS cell, list_transform(sub, x -> x * 1000) AS cv
            FROM rsub$m WHERE id % $pqStride = 0)""",
          distAssign(s"rd1m$m", s"ra1m$m", s"rsub$m", "sub",
            s"rcb0m$m", subDim),
          meanCte(s"rcb1m$m", s"ra1m$m", s"rsub$m", "sub", subDim),
          distAssign(s"rdfm$m", s"rafm$m", s"rsub$m", "sub",
            s"rcb1m$m", subDim))
      }
      val probe = Seq(
        s"""qc AS (
          SELECT cell FROM cdf WHERE id = 0
          ORDER BY dist, cell LIMIT $nProbe)""",
        s"""qres AS (
          SELECT p.cell AS cell,
            list_transform(generate_series(1, $dim), i ->
              CAST(ROUND((1000 * q.g[i] - c.cv[i]) / 1000.0, 0)
                AS BIGINT)) AS rq
          FROM qc p JOIN ccb1 c ON p.cell = c.cell
          CROSS JOIN (SELECT g FROM gg WHERE id = 0) q)""") ++
        (0 until numSub).map { m =>
          val lo = m * subDim + 1; val hi = (m + 1) * subDim
          s"""tt$m AS (
            SELECT r.cell AS pcell, c.cell AS code,
              SUM((1000 * ((r.rq)[$lo:$hi])[i.i] - c.cv[i.i])
                * (1000 * ((r.rq)[$lo:$hi])[i.i] - c.cv[i.i])) AS dist
            FROM qres r CROSS JOIN rcb1m$m c
            CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS i) i
            GROUP BY r.cell, c.cell)"""
        }
      val encJoin = (0 until numSub)
        .map(m => s"JOIN rafm$m r$m USING (id)").mkString(" ")
      val codeCols = (0 until numSub)
        .map(m => s"r$m.cell AS code$m").mkString(", ")
      val tJoin = (0 until numSub)
        .map(m => s"JOIN tt$m ON tt$m.pcell = c.cell " +
          s"AND tt$m.code = c.code$m").mkString(" ")
      val adcSum = (0 until numSub).map(m => s"tt$m.dist").mkString(" + ")
      val outCodes = (0 until numSub).map(m => s"c.code$m").mkString(", ")
      s"""WITH ${(coarse ++ residBooks ++ probe).mkString(",\n")},
        enc AS (
          SELECT caf.id AS id, caf.cell AS cell, $codeCols
          FROM caf $encJoin),
        cand AS (
          SELECT e.* FROM enc e JOIN qc ON e.cell = qc.cell
          WHERE e.id <> 0)
        SELECT * FROM (
          SELECT c.id AS id, c.cell AS cell, $outCodes,
            CAST($adcSum AS BIGINT) AS adc_dist
          FROM cand c $tJoin
          ORDER BY adc_dist, id LIMIT 10) """
    }
  }

  /** Shared x96/x97 funnel pieces — ONE builder for the Spark stages
    * and ONE CTE chain for the oracles, so the funnel and its packed
    * continuation cannot drift.
    */
  private def funnelStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val raw = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val page = concat(lit("<html><head><title>"), col("source"),
      lit("</title><style>a{b:c}</style>" +
        "<script>var q=1;</script></head><body><div>nav | home | "),
      col("source"), lit("</div><p>"), col("text"),
      lit("</p><div>$$ ## !!</div><!-- c --></body></html>"))
    val ex = TextAnalysis.htmlMainContent(page)
    // lazy barrier (r20, guide §2.4): `extracted` — whose projection is
    // the regex-heavy html extraction — feeds the x96 stage aggregate,
    // the Gopher gate, the quality join and (through it) the CCNet
    // bucketing and the final join; without the barrier every consumer
    // re-runs the extraction over the corpus. The checkpointed frame is
    // the already-extracted (doc_id, lang, n_kept, mt) — the funnel's
    // survivors, a fraction of the raw corpus.
    val extracted = raw.select(col("doc_id"), col("lang"),
        ex.getField("n_kept").as("n_kept"),
        ex.getField("main_text").as("mt"))
      .filter(col("n_kept") >= 1L)
      .localCheckpoint(eager = false)
    val passIds = TextAnalysis.gopherRules(
        extracted.select(col("doc_id"), col("mt")), "doc_id", "mt")
      .filter(col("pass_flag") === 1L).select(col("doc_id"))
    // same fold for `quality` (3 consumers: the x96 stage aggregate,
    // the CCNet bucketing, the final join)
    val quality = extracted.join(passIds, "doc_id")
      .localCheckpoint(eager = false)
    val keepIds = TextAnalysis.ccnetBuckets(quality, "doc_id", "mt", "lang")
      .filter(col("bucket") =!= "tail").select(col("doc_id"))
    val fin = quality.join(keepIds, "doc_id")
    (raw, extracted, quality, fin)
  }

  /** The raw→e1→e2→e3 oracle CTE chain of the funnel (x89 extraction,
    * x91 Gopher gate, x73+ntile CCNet keep — each the proven spelling
    * verbatim).
    */
  private val funnelCtes: String = s"""raw AS (
          SELECT doc_id, source, lang, text
          FROM documents WHERE text IS NOT NULL),
        h AS (
          SELECT doc_id, lang,
            '<html><head><title>' || source ||
            '</title><style>a{b:c}</style>' ||
            '<script>var q=1;</script></head><body><div>nav | home | '
            || source || '</div><p>' || text ||
            '</p><div>$$$$ ## !!</div><!-- c --></body></html>' AS html
          FROM raw),
        f AS (
          SELECT doc_id, lang, list_transform(
            string_split_regex(
              regexp_replace(regexp_replace(regexp_replace(html,
                '(?s)<script[^>]*>.*?</script>', '', 'g'),
                '(?s)<style[^>]*>.*?</style>', '', 'g'),
                '(?s)<!--.*?-->', '', 'g'),
              '<[^>]*>'),
            x -> trim(replace(replace(replace(replace(replace(x,
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', ''''), '&amp;', '&'), ' ')) AS fr
          FROM h),
        ext AS (
          SELECT doc_id, lang,
            array_to_string(list_filter(fr, t -> len(t) >= 30 AND
              2 * len(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))
                >= len(t)), chr(10)) AS mt,
            len(list_filter(fr, t -> len(t) >= 30 AND
              2 * len(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))
                >= len(t))) AS n_kept
          FROM f),
        e1 AS (SELECT doc_id, lang, mt FROM ext WHERE n_kept >= 1),
        gtk AS (
          SELECT doc_id, mt, string_split(mt, ' ') AS toks FROM e1),
        g1 AS (
          SELECT doc_id, toks,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(toks, t -> len(t)))
              AS BIGINT) AS swl,
            CAST(len(list_filter(toks,
              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
            CAST(len(list_filter(toks,
              t -> t IN ${sqlList(TextAnalysis.stopwords)}))
              AS BIGINT) AS n_stop,
            CAST(len(mt) - len(replace(mt, '#', ''))
              AS BIGINT) AS n_hash,
            CAST((len(mt) - len(replace(mt, '...', ''))) / 3
              AS BIGINT) AS n_ell
          FROM gtk),
        g2 AS (
          SELECT *, CAST(FLOOR((n_words + 7) / 8.0) AS BIGINT) AS n_lines
          FROM g1),
        g3 AS (
          SELECT doc_id, n_words, swl, n_alpha, n_stop, n_hash, n_ell,
            n_lines,
            CAST(len(list_filter(range(0, n_lines),
              i -> substr(toks[CAST(8*i+1 AS INTEGER)], 1, 1)
                IN ('-', '*'))) AS BIGINT) AS n_bul,
            CAST(len(list_filter(range(0, n_lines),
              i -> ends_with(toks[CAST(least(8*i+8, n_words) AS INTEGER)],
                '...'))) AS BIGINT) AS n_ellline
          FROM g2),
        q AS (
          SELECT doc_id FROM (
            SELECT doc_id, n_words, n_stop,
              CAST(swl AS DOUBLE) / n_words AS mwl,
              CAST(n_hash + n_ell AS DOUBLE) / n_words AS sym,
              CAST(n_alpha AS DOUBLE) / n_words AS af,
              CAST(n_bul AS DOUBLE) / n_lines AS bf,
              CAST(n_ellline AS DOUBLE) / n_lines AS ef
            FROM g3)
          WHERE NOT (n_words < 50 OR n_words > 100000)
            AND NOT (mwl < 3.0 OR mwl > 10.0) AND NOT (sym > 0.1)
            AND NOT (bf > 0.9) AND NOT (ef > 0.3) AND NOT (af < 0.8)
            AND NOT (n_stop < 2)),
        e2 AS (SELECT e1.* FROM e1 JOIN q USING (doc_id)),
        ctk AS (SELECT doc_id, string_split(mt, ' ') AS t FROM e2),
        cpr AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
            unnest(t[2:len(t)]) AS w2
          FROM ctk),
        cbig AS (SELECT w1, w2, COUNT(*) AS cb FROM cpr GROUP BY w1, w2),
        cpre AS (SELECT w1, SUM(cb) AS cu FROM cbig GROUP BY w1),
        cvoc AS (
          SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz FROM (
            SELECT w1 AS w FROM cbig UNION ALL SELECT w2 AS w FROM cbig)),
        csc AS (
          SELECT cpr.doc_id,
            ROUND(-ln(CAST(cbig.cb + 1 AS DOUBLE)
              / (cpre.cu + cvoc.vsz)), 6) AS nlp
          FROM cpr JOIN cbig USING (w1, w2)
          JOIN cpre USING (w1)
          CROSS JOIN cvoc),
        cdoc AS (
          SELECT doc_id,
            CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              AS avg_nll
          FROM csc GROUP BY doc_id),
        cl AS (
          SELECT d.doc_id, e.lang, d.avg_nll
          FROM cdoc d JOIN e2 e USING (doc_id)),
        cnt AS (
          SELECT doc_id, ntile(3) OVER (
            PARTITION BY lang ORDER BY avg_nll, doc_id) AS tt
          FROM cl),
        e3 AS (
          SELECT e2.* FROM e2 JOIN cnt USING (doc_id) WHERE cnt.tt <= 2)"""

  val all: Seq[QueryDef] = Seq(

    // x1 — token statistics per source (text analysis: token counting).
    QueryDef("x1_token_stats",
      (s, dir) => ordered(t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          max(TextAnalysis.tokenCount(col("text"))).as("max_tokens"),
          countDistinct(col("lang")).as("n_langs"))),
      Some("""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        COUNT(DISTINCT lang) AS n_langs
        FROM documents GROUP BY source
        """ + orderedSql(Seq("source", "n_docs", "sum_tokens", "max_tokens",
          "n_langs")))),

    // x2 — quality scoring per lang (length / stopword-ratio heuristics).
    QueryDef("x2_quality_flags",
      (s, dir) => {
        val d = TextAnalysis.withQualitySignals(
          t(s, dir, "documents"), col("text"), col("n_chars"))
        ordered(d.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("low_quality"), 1L).otherwise(0L)).as("n_low_quality"),
          sum(col("stop_cnt")).as("sum_stopwords"),
          (sum(col("avg_word_len").cast(D18_6)).cast(DoubleType) /
            count(lit(1))).as("mean_word_len")))
      },
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN token_cnt < 40 OR awl < 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
        CAST(SUM(stop_cnt) AS BIGINT) AS sum_stopwords,
        CAST(SUM(CAST(awl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_word_len
        FROM (
          SELECT lang, len(string_split(text, ' ')) AS token_cnt,
            CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')) AS awl,
            len(list_filter(string_split(text, ' '),
              t -> t IN ${sqlList(TextAnalysis.stopwords)})) AS stop_cnt
          FROM documents)
        GROUP BY lang
        """ + orderedSql(Seq("lang", "n_docs", "n_low_quality",
          "sum_stopwords", "mean_word_len")))),

    // x3 — language/register-ID heuristic (marker-set voting).
    QueryDef("x3_lang_id",
      (s, dir) => ordered(t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.langId(TextAnalysis.tokens(col("text")))
            .as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))),
      Some(s"""SELECT lang, predicted, COUNT(*) AS n FROM (
          SELECT lang,
            CASE WHEN en > tech THEN 'en_prose'
                 WHEN en < tech THEN 'tech'
                 ELSE 'mixed' END AS predicted
          FROM (
            SELECT lang,
              len(list_filter(string_split(text, ' '),
                t -> t IN ${sqlList(TextAnalysis.stopwords)})) AS en,
              len(list_filter(string_split(text, ' '),
                t -> t IN ${sqlList(TextAnalysis.techwords)})) AS tech
            FROM documents))
        GROUP BY lang, predicted
        """ + orderedSql(Seq("lang", "predicted", "n")))),

    // x4 — rolling-hash fingerprinting (collision audit vs distinct text).
    QueryDef("x4_fingerprint",
      (s, dir) => ordered(t(s, dir, "documents")
        .select(TextAnalysis.fingerprint(col("text")).as("fp"),
          col("text"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("fp")).as("uniq_fp"),
          countDistinct(col("text")).as("uniq_text"))),
      Some(s"""SELECT COUNT(*) AS total,
        COUNT(DISTINCT ${rollingFoldSql("text")}) AS uniq_fp,
        COUNT(DISTINCT text) AS uniq_text
        FROM documents
        """ + orderedSql(Seq("total", "uniq_fp", "uniq_text")))),

    // x5 — exact token-set Jaccard near-dup pairs, blocked by source.
    QueryDef("x5_jaccard_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Dedup.tokenSet(col("text")).as("tok"))
        ordered(Dedup.jaccardPairs(docs, "doc_id", "tok", "source", 0.9))
      },
      Some("""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(a.tok, b.tok))) AS jaccard
        FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tok FROM documents) a
        JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tok FROM documents) b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        """ + orderedSql(Seq("a_id", "b_id", "jaccard")))),

    // x6 — embedding-cosine near-dup pairs, blocked by (label, id-shard).
    QueryDef("x6_cosine_pairs",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        ordered(Similarity.cosinePairs(e, "vec_id", "embedding",
          struct(col("label"), (col("vec_id") / 500).cast(LongType)),
          0.35))
      },
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])), 3) AS sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label
         AND CAST(FLOOR(a.vec_id / 500) AS BIGINT) = CAST(FLOOR(b.vec_id / 500) AS BIGINT)
         AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) >= 0.35
        """ + orderedSql(Seq("a_id", "b_id", "sim")))),

    // x7 — IVF-style ANN top-10 (scale path for similarity search).
    QueryDef("x7_ann_ivf",
      (s, dir) => ordered(Similarity.ivfTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        seedStride = 251, queryId = 0L, k = 10)),
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        seeds AS (
          SELECT id AS seed_id, v AS seed_v FROM base WHERE id % 251 = 0),
        assigned AS (
          SELECT base.id,
            arg_max(seed_id, list_cosine_similarity(v, seed_v)) AS cell
          FROM base, seeds GROUP BY base.id),
        cells AS (
          SELECT assigned.id, cell, v FROM assigned JOIN base ON assigned.id = base.id),
        q AS (SELECT cell AS q_cell, v AS q_v FROM cells WHERE id = 0)
        SELECT * FROM (
          SELECT id, ROUND(list_cosine_similarity(v, q_v), 3) AS sim
          FROM cells, q WHERE cell = q_cell AND id <> 0
          ORDER BY sim DESC, id LIMIT 10)
        """ + orderedSql(Seq("id", "sim")))),

    // x8 — MinHash+LSH near-dedup candidates (no DuckDB xxhash64 twin:
    // rows-only here; estimate-vs-exact bound property-tested in
    // MinHashLshSpec). Pre-blocked by source: the fixture's shared tiny
    // vocabulary makes *every* doc pair similar (unigram Jaccard ~0.7),
    // which would degenerate global LSH to all-pairs at bench scale.
    QueryDef("x8_minhash_lsh",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Dedup.tokenSet(col("text")).as("tok"))
        ordered(Dedup.minhashLshPairs(docs, "doc_id", "tok",
          minEstSim = 0.9, blockCol = col("source")))
      },
      None),

    // x9 — SimHash near-dedup candidates (rows-only; recall guarantee
    // property-tested in DedupSpec). maxHamming = 3 is the pigeonhole
    // bound of the 4×16-bit chunk scheme: every pair within distance 3
    // is guaranteed to surface; beyond that the guarantee would need
    // more chunks and coarser (scale-hostile) bucket keys.
    QueryDef("x9_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tok"))
        ordered(Dedup.simhashPairs(docs, "doc_id", "tok", maxHamming = 3))
      },
      None),

    // x14 — BPE-ish regex token counting next to whitespace counting
    // (the two tokenizer granularities a training-data pipeline meters).
    QueryDef("x14_bpe_tokens",
      (s, dir) => ordered(t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("sum_bpe_tokens"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_ws_tokens"))),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(len(regexp_extract_all(text, '${TextAnalysis.bpePattern}'))) AS BIGINT) AS sum_bpe_tokens,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens
        FROM documents GROUP BY lang
        """ + orderedSql(Seq("lang", "n_docs", "sum_bpe_tokens",
          "sum_ws_tokens")))),

    // x29 — n-gram (2-shingle) Jaccard near-dup pairs: word-order-
    // sensitive dedup next to x5's unigram sets (a reordered doc keeps
    // its unigram Jaccard but loses its shingle Jaccard). Scoped to the
    // deterministic md5 third of the corpus (x23's sampling pattern):
    // bigram sets are ~4× unigram sets and the all-pairs verifier is
    // quadratic — the full-corpus path for shingles is the same
    // lshCandidatePairs composition as x12, over shingles(k).
    QueryDef("x29_shingle_jaccard",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(substring(md5(col("doc_id").cast(StringType)), 1, 2) < "55")
          .select(col("doc_id"), col("source"),
            Dedup.shingles(col("text"), 2).as("sh"))
        // word-soup bigram overlap tops out ~0.15 on this fixture (its
        // only true near-dups are exact copies), so the declared query
        // surfaces the highest-overlap pairs; a production 0.8+ cut is
        // the same plan with one constant changed
        ordered(Dedup.jaccardPairs(docs, "doc_id", "sh", "source", 0.08))
      },
      Some("""WITH d AS (
          SELECT doc_id, source,
            list_sort(list_distinct(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
              i -> array_to_string((string_split(text, ' '))[i:i+1], ' ')))) AS sh
          FROM documents
          WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '55')
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.08
        """ + orderedSql(Seq("a_id", "b_id", "jaccard")))),

    // x26 — correlated scalar subquery (TPC-H Q17 shape): rows under
    // half their group's average. The threshold aggregates through
    // DECIMAL so both engines compare against the identical value.
    QueryDef("x26_scalar_subquery",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("x26_lineitem")
        // r13: per-row BIGINT cast before the sum — quantities are
        // integral, so the sum is order-free integer arithmetic (the
        // old SUM(double)→BIGINT relied on float-addition order)
        ordered(s.sql(
          """SELECT l_partkey, COUNT(*) AS n_small,
            |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            |FROM x26_lineitem l1
            |WHERE l_quantity < (
            |  SELECT CAST(0.5 * AVG(CAST(l_quantity AS DECIMAL(18,6)))
            |    AS DECIMAL(18,6))
            |  FROM x26_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
            |GROUP BY l_partkey
            |""".stripMargin))
      },
      Some("""SELECT l_partkey, COUNT(*) AS n_small,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem l1
        WHERE l_quantity < (
          SELECT CAST(0.5 * AVG(CAST(l_quantity AS DECIMAL(18,6)))
            AS DECIMAL(18,6))
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l_partkey
        """ + orderedSql(Seq("l_partkey", "n_small", "sum_qty")))),

    // x27 — full outer join (q7 covers left outer).
    QueryDef("x27_full_outer",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment"))
        val o = t(s, dir, "orders")
          .filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("k"), col("o_orderkey"))
        ordered(c.join(o, Seq("k"), "full_outer")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            count(col("o_orderkey")).as("n_orders")))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
        COUNT(o_orderkey) AS n_orders
        FROM customer FULL JOIN (
          SELECT o_custkey, o_orderkey FROM orders
          WHERE o_totalprice > 400000) o
        ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """ + orderedSql(Seq("c_mktsegment", "n", "n_orders")))),

    // x28 — unpivot (stack): wide per-row metrics to (metric, value)
    // long form; oracle spelled as UNION ALL for dialect neutrality.
    QueryDef("x28_unpivot",
      (s, dir) => ordered(t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1 && col("l_orderkey") < 1000)
        .select(col("l_orderkey"),
          expr("stack(3, 'qty', l_quantity, 'price', l_extendedprice, " +
            "'disc', l_discount) AS (metric, val)"))),
      Some("""SELECT l_orderkey, 'qty' AS metric, l_quantity AS val
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, 'price', l_extendedprice
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, 'disc', l_discount
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 1000
        """ + orderedSql(Seq("l_orderkey", "metric", "val")))),

    // x25 — forward as-of join with tolerance: each event's NEXT
    // purchase within 10 minutes, per user (q26 is the backward twin).
    QueryDef("x25_asof_forward",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast(TimestampType)).as("tus"))
        val purchases = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            unix_micros(col("ts").cast(TimestampType)).as("tus"),
            col("event_id").as("p_event_id"))
        ordered(graft.ops.AsOfJoin.asofForward(ev, purchases,
            keyCols = Seq("user_id"), timeCol = "tus",
            rightOrder = "p_event_id", payloadCols = Seq("p_event_id"),
            toleranceOn = Some(600000000L))
          .select("user_id", "event_id", "p_event_id"))
      },
      Some("""WITH l AS (
          SELECT user_id, event_id, epoch_us(ts) AS t, 1 AS side,
            CAST(NULL AS BIGINT) AS ord, CAST(NULL AS BIGINT) AS pe
          FROM events),
        r AS (
          SELECT user_id, CAST(NULL AS BIGINT) AS event_id,
            epoch_us(ts) AS t, 0 AS side, event_id AS ord, event_id AS pe
          FROM events WHERE event_type = 'purchase'),
        u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        wv AS (
          SELECT user_id, event_id, side, t,
            last_value(pe IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY t DESC, side ASC, ord DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid,
            last_value(CASE WHEN pe IS NOT NULL THEN t END IGNORE NULLS)
              OVER (PARTITION BY user_id
              ORDER BY t DESC, side ASC, ord DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
          FROM u)
        SELECT user_id, event_id,
          CASE WHEN pt - t <= 600000000 THEN pid END AS p_event_id
        FROM wv WHERE side = 1
        """ + orderedSql(Seq("user_id", "event_id", "p_event_id")))),

    // x24 — bucketized range join (events ⋈ 10-minute purchase
    // windows per user): the equi-join-on-(key,bucket) plan replaces
    // the theta join whose hot keys go quadratic; the oracle runs the
    // literal theta join, proving the rewrite exact.
    QueryDef("x24_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast(TimestampType)).as("tus"))
        val iv = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            unix_micros(col("ts").cast(TimestampType)).as("lo"))
          .withColumn("hi", col("lo") + 600000000L)
        val joined = graft.ops.RangeJoin.byBuckets(ev, iv,
          Seq("user_id"), "tus", "lo", "hi", bucketWidthMicros = 600000000L)
        ordered(joined.groupBy("user_id")
          .agg(count(lit(1)).as("n_in_window"),
            countDistinct(col("event_id")).as("n_events")))
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        iv AS (
          SELECT user_id, epoch_us(ts) AS lo, epoch_us(ts) + 600000000 AS hi
          FROM events WHERE event_type = 'purchase')
        SELECT ev.user_id AS user_id, COUNT(*) AS n_in_window,
          COUNT(DISTINCT ev.event_id) AS n_events
        FROM ev JOIN iv ON ev.user_id = iv.user_id
          AND ev.tus >= iv.lo AND ev.tus <= iv.hi
        GROUP BY 1
        """ + orderedSql(Seq("user_id", "n_in_window", "n_events")))),

    // x20 — null-handling / conditional functions incl. null-safe
    // equality (Spark <=> ↔ DuckDB IS NOT DISTINCT FROM).
    QueryDef("x20_null_funcs",
      (s, dir) => ordered(t(s, dir, "events")
        .filter(col("event_id") < 1000)
        .select(col("event_id"),
          coalesce(nullif(col("event_type"), lit("click")), lit("was_click"))
            .as("et2"),
          (col("event_type") <=> "click").as("is_click"),
          least(col("value"), lit(50.0)).as("lo"),
          greatest(col("value"), lit(50.0)).as("hi"))),
      Some("""SELECT event_id,
        COALESCE(NULLIF(event_type, 'click'), 'was_click') AS et2,
        event_type IS NOT DISTINCT FROM 'click' AS is_click,
        LEAST(value, 50.0) AS lo,
        GREATEST(value, 50.0) AS hi
        FROM events WHERE event_id < 1000
        """ + orderedSql(Seq("event_id", "et2", "is_click", "lo", "hi")))),

    // x21 — array-function breadth over the token arrays (element_at /
    // slice+join / contains / sorted head; list_* twins in DuckDB).
    // array_position: Spark and DuckDB 1.0 both yield 0 for absent.
    QueryDef("x21_array_funcs",
      (s, dir) => {
        val tok = split(col("text"), " ", -1)
        ordered(t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(tok).cast(LongType).as("n_tok"),
            element_at(tok, 3).as("third"),
            array_join(slice(tok, 1, 3), "+").as("first3"),
            array_contains(tok, "the").as("has_the"),
            array_position(tok, "the").as("the_pos"),
            element_at(sort_array(tok), 1).as("min_tok")))
      },
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        string_split(text, ' ')[3] AS third,
        array_to_string(string_split(text, ' ')[1:3], '+') AS first3,
        list_contains(string_split(text, ' '), 'the') AS has_the,
        CAST(list_position(string_split(text, ' '), 'the') AS BIGINT) AS the_pos,
        list_sort(string_split(text, ' '))[1] AS min_tok
        FROM documents WHERE text IS NOT NULL
        """ + orderedSql(Seq("doc_id", "n_tok", "third", "first3",
          "has_the", "the_pos", "min_tok")))),

    // x22 — regexp-function breadth (DuckDB regexp_replace needs the
    // 'g' flag to match Spark's replace-all semantics).
    QueryDef("x22_regex_funcs",
      (s, dir) => ordered(t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(length(regexp_replace(col("text"), "[aeiou]+", "_")))
            .cast(LongType).as("repl_len"),
          sum(when(col("text").rlike("^[a-z]"), 1L).otherwise(0L))
            .as("starts_lower"))),
      Some("""SELECT lang, COUNT(*) AS n,
        CAST(SUM(LENGTH(regexp_replace(text, '[aeiou]+', '_', 'g'))) AS BIGINT) AS repl_len,
        CAST(SUM(CASE WHEN regexp_matches(text, '^[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS starts_lower
        FROM documents WHERE text IS NOT NULL GROUP BY lang
        """ + orderedSql(Seq("lang", "n", "repl_len", "starts_lower")))),

    // x23 — deterministic hash-based sampling: md5-prefix filter gives
    // the same reproducible ~7.8% sample in ANY engine — the scale-safe
    // substitute for TABLESAMPLE (whose RNG never matches across
    // engines or even runs).
    QueryDef("x23_hash_sample",
      (s, dir) => ordered(t(s, dir, "documents")
        .filter(substring(md5(col("doc_id").cast(StringType)), 1, 2) < "14")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))),
      Some("""SELECT COUNT(*) AS n_sampled,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14'
        """ + orderedSql(Seq("n_sampled", "sum_chars")))),

    // x17 — window-function breadth: dense_rank, ntile, lead, lag in
    // one partitioned window (all oracle-checkable; deterministic via
    // the unique (o_totalprice, o_orderkey) order).
    QueryDef("x17_window_breadth",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ordered(t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            dense_rank().over(w).cast(LongType).as("drank"),
            ntile(4).over(w).cast(LongType).as("quartile"),
            lead(col("o_orderkey"), 1).over(w).as("next_ok"),
            lag(col("o_orderkey"), 1).over(w).as("prev_ok"))
          .filter(col("drank") <= 5))
      },
      Some("""SELECT * FROM (
          SELECT o_custkey, o_orderkey,
            CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
            CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
            LEAD(o_orderkey, 1) OVER w AS next_ok,
            LAG(o_orderkey, 1) OVER w AS prev_ok
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey))
        WHERE drank <= 5
        """ + orderedSql(Seq("o_custkey", "o_orderkey", "drank",
          "quartile", "next_ok", "prev_ok")))),

    // x18 — explicit GROUPING SETS with grouping_id: the general form
    // behind q11's rollup / q11c's cube (Expand operator).
    QueryDef("x18_grouping_sets",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.createOrReplaceTempView("x18_lineitem")
        ordered(s.sql(
          """SELECT l_returnflag, l_linestatus,
            |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
            |    AS gid,
            |  COUNT(*) AS n_rows
            |FROM x18_lineitem
            |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
            |  (l_returnflag), ())
            |""".stripMargin))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          (l_returnflag), ())
        """ + orderedSql(Seq("l_returnflag", "l_linestatus", "gid",
          "n_rows")))),

    // x19 — datetime extraction breadth. Spark dayofweek is 1=Sunday;
    // DuckDB dayofweek is 0=Sunday → +1 in the oracle.
    QueryDef("x19_datetime_parts",
      (s, dir) => ordered(t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast(LongType).as("y"),
          quarter(col("o_orderdate")).cast(LongType).as("q"),
          month(col("o_orderdate")).cast(LongType).as("m"),
          dayofweek(col("o_orderdate")).cast(LongType).as("dow"))
        .agg(count(lit(1)).as("n"),
          min(dayofmonth(col("o_orderdate"))).cast(LongType).as("min_dom"),
          max(dayofyear(col("o_orderdate"))).cast(LongType).as("max_doy"))),
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
        CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS BIGINT) AS dow,
        COUNT(*) AS n,
        CAST(MIN(EXTRACT(DAY FROM o_orderdate)) AS BIGINT) AS min_dom,
        CAST(MAX(EXTRACT(DOY FROM o_orderdate)) AS BIGINT) AS max_doy
        FROM orders GROUP BY 1, 2, 3, 4
        """ + orderedSql(Seq("y", "q", "m", "dow", "n", "min_dom",
          "max_doy")))),

    // x16 — sketch-based distinct counting (HLL++): the scale path for
    // q10-style COUNT(DISTINCT) — constant-size group state instead of
    // a shuffle of every distinct key. Rows-only (DuckDB's
    // approx_count_distinct is a different sketch); relative-error
    // bound property-tested in ApproxDistinctSpec.
    QueryDef("x16_approx_distinct",
      (s, dir) => ordered(t(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))),
      None),

    // x15 — embedding near-dup at scale: sign-random-projection LSH
    // candidates → exact cosine verify (the vector twin of x12; recall
    // on genuine near-duplicates property-tested in SimilaritySpec).
    // The fixture's embeddings are mutually near-orthogonal (max pair
    // cosine ≈ 0.5), so the threshold sits at 0.4 to exercise the path;
    // at that angle the S-curve intentionally recalls only a fraction —
    // LSH is a near-duplicate detector, not a general range join.
    QueryDef("x15_sign_lsh_pairs",
      (s, dir) => ordered(Similarity.signLshPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.4)),
      None),

    // x12 — the composed 100 TB near-dup path: LSH generates candidates
    // (bucketed, never all-pairs), exact Jaccard verifies. Oracle: the
    // exact all-pairs SQL (same as x5). The fixture's j >= 0.9 pairs are
    // NOT all exact copies (~96% sit in [0.9, 1)), so oracle equality
    // requires near-certain LSH recall, not the default 16×4 S-curve
    // (per-pair miss 2e-3 → ~63% chance of at least one miss across the
    // ~450 fixture pairs). 24 bands × 4 rows puts the per-pair miss at
    // (1-0.9^4)^24 ≈ 7e-12 — recall-certain for any plausible fixture
    // size at 25% less hashing/banding work than round 4's 32×4 (the
    // bench-adjudicated tune; the S-curve at j≈0.7 was already near 1 on
    // this adversarial shared-vocab corpus, so the narrower config
    // barely shrinks the candidate set). DedupSpec asserts candidates ⊇
    // all true pairs at both gate SFs.
    QueryDef("x12_neardup_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Dedup.tokenSet(col("text")).as("tok"))
        ordered(Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24, blockCol = col("source")))
      },
      Some("""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(a.tok, b.tok))) AS jaccard
        FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tok FROM documents) a
        JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tok FROM documents) b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        """ + orderedSql(Seq("a_id", "b_id", "jaccard")))),

    // x13 — corpus-level MinHash sketch per source via the
    // TypedImperativeAggregate UDAF: group state is 64 longs regardless
    // of group size (sketch-of-union == elementwise-min property tested
    // in DedupSpec). The signature is exploded to one scalar row per
    // hash slot — the harness canonicalizes output by sorting every
    // column, which requires hashable (non-array) cells.
    QueryDef("x13_minhash_agg",
      (s, dir) => ordered(t(s, dir, "documents")
        .select(col("source"), Dedup.tokenSet(col("text")).as("tok"))
        .groupBy("source")
        .agg(graft.functions.HashFunctions.minhashAgg(col("tok"), 64)
          .as("sig"))
        .select(col("source"), posexplode(col("sig")))
        .select(col("source"), col("pos").cast(LongType).as("h_idx"),
          col("col").as("h_val"))),
      None),

    // x10 — multimodal feature extraction: binary payloads through the
    // typed mapPartitions decode pipeline (stub codec), re-aggregated.
    // The deterministic stub is mirrored in SQL so the full plumbing is
    // oracle-checked.
    QueryDef("x10_multimodal",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val assets = Multimodal.assetsFromDocuments(t(s, dir, "documents"))
        val feats = Multimodal.featurize(assets)
        ordered(feats.toDF().groupBy("lang").agg(
          count(lit(1)).as("n_assets"),
          sum(col("byte_len")).as("sum_bytes"),
          (sum(col("fake_brightness").cast(D18_6)).cast(DoubleType) /
            count(lit(1))).as("mean_brightness")))
      },
      Some("""SELECT lang, COUNT(*) AS n_assets,
        CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        CAST(SUM(CAST(CAST(octet_length(encode(text)) AS DOUBLE) /
          (ascii(substr(text, 1, 1)) + 1) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS mean_brightness
        FROM documents GROUP BY lang
        """ + orderedSql(Seq("lang", "n_assets", "sum_bytes",
          "mean_brightness")))),

    // x30 — multimodal frame sampling: the flatMap fan-out path (one
    // asset → n frame rows) through the typed Dataset pipeline; the
    // stub sampler's span arithmetic is deterministic integer math, so
    // the full plumbing is oracle-checked per frame.
    QueryDef("x30_frame_sample",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val assets = Multimodal.assetsFromDocuments(
          t(s, dir, "documents").filter(col("text").isNotNull))
        ordered(Multimodal.frameSample(assets, 4).toDF()
          .select(col("doc_id"),
            col("frame_idx").cast(LongType).as("frame_idx"),
            length(col("frame")).cast(LongType).as("frame_len")))
      },
      Some("""WITH b AS (
          SELECT doc_id, octet_length(encode(text)) AS len
          FROM documents WHERE text IS NOT NULL),
        p AS (
          SELECT doc_id, len, greatest(1, least(4, len)) AS n FROM b),
        q AS (
          SELECT doc_id, len, n, greatest(1, len // n) AS span FROM p),
        f AS (
          SELECT doc_id, len, n, span,
            unnest(generate_series(0, n - 1)) AS i FROM q)
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
          CAST(CASE WHEN i = n - 1 THEN len - i * span
            ELSE least(len, i * span + span) - i * span END AS BIGINT)
            AS frame_len
        FROM f
        """ + orderedSql(Seq("doc_id", "frame_idx", "frame_len")))),

    // x32 — aggregation to arrays (collect_set / collect_list):
    // scalarized through sort + join so the comparison is
    // order-independent in both engines.
    QueryDef("x32_agg_arrays",
      (s, dir) => ordered(t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .groupBy("l_orderkey")
        .agg(
          array_join(sort_array(collect_set(col("l_returnflag"))), ",")
            .as("flags"),
          array_join(sort_array(collect_list(col("l_linenumber"))), ",")
            .as("lines"),
          size(collect_set(col("l_linenumber"))).cast(LongType)
            .as("n_distinct_lines"))),
      Some("""SELECT l_orderkey,
        array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags,
        array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
        COUNT(DISTINCT l_linenumber) AS n_distinct_lines
        FROM lineitem WHERE l_orderkey < 2000
        GROUP BY l_orderkey
        """ + orderedSql(Seq("l_orderkey", "flags", "lines",
          "n_distinct_lines")))),

    // x33 — near-dup CLUSTERS: the LSH-verified pair list (x12's 100 TB
    // path) closed into connected components, every document assigned
    // the min doc_id of its cluster as canonical id (docs in no pair
    // are their own canonical). Oracle: DuckDB recursive CTE reachability
    // over the exact all-pairs edge list — same equality as x12, so the
    // same 24×4 LSH parameters (per-pair miss ≈ 7e-12; see x12).
    QueryDef("x33_dedup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24, blockCol = col("source"))
        ordered(graft.ops.Clusters.assignComponents(
            docs.select(col("doc_id")), "doc_id", pairs, "a_id", "b_id")
          .select(col("doc_id"), col("component")))
      },
      Some("""WITH RECURSIVE toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
        SELECT d.doc_id,
          CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS component
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        """ + orderedSql(Seq("doc_id", "component")))),

    // x34 — train/eval contamination: 5-gram overlap between the src0
    // split (eval) and the rest of the corpus (train), one shuffle join
    // on the shingle key. The oracle joins on the shingle STRING; the
    // production path hashes the key (hashed == unhashed is
    // property-tested in ContaminationSpec).
    QueryDef("x34_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        ordered(Contamination.report(
          train = docs.filter(col("source") =!= "src0"),
          eval = docs.filter(col("source") === "src0"),
          idCol = "doc_id", textCol = "text", k = 5, hashed = false))
      },
      Some("""WITH sh AS (
          SELECT doc_id, source,
            unnest(list_distinct(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
              i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
          FROM documents),
        hits AS (
          SELECT ev.doc_id AS eval_id,
            COUNT(DISTINCT ev.s) AS n_shared,
            COUNT(DISTINCT tr.doc_id) AS n_train
          FROM (SELECT doc_id, s FROM sh WHERE source = 'src0') ev
          JOIN (SELECT doc_id, s FROM sh WHERE source <> 'src0') tr
            ON ev.s = tr.s
          GROUP BY ev.doc_id)
        SELECT d.doc_id AS eval_id,
          CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_shingles,
          CAST(COALESCE(h.n_train, 0) AS BIGINT) AS n_train_docs,
          CAST(CASE WHEN h.eval_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS contaminated
        FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
        WHERE d.source = 'src0'
        """ + orderedSql(Seq("eval_id", "n_shared_shingles", "n_train_docs",
          "contaminated")))),

    // x38 — contamination in the PRODUCTION configuration: hashed join
    // keys (8-byte xxhash64 instead of ~50-byte shingle strings through
    // the shuffle) and the boilerplate-skew cap ON (shingles seen in
    // more than 2 training docs identify nothing and bound every join
    // bucket). The oracle joins on the shingle STRING with the same
    // HAVING-count cap — hashed ≡ string grouping absent 2^-64
    // collisions (property-tested in ContaminationSpec), so this green
    // row proves the production path, not just the oracle-friendly one.
    QueryDef("x38_contamination_capped",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        ordered(Contamination.report(
          train = docs.filter(col("source") =!= "src0"),
          eval = docs.filter(col("source") === "src0"),
          idCol = "doc_id", textCol = "text", k = 5,
          maxShingleDf = Some(2L), hashed = true))
      },
      Some("""WITH sh AS (
          SELECT doc_id, source,
            unnest(list_distinct(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
              i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
          FROM documents),
        tr AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
        keep AS (SELECT s FROM tr GROUP BY s HAVING COUNT(DISTINCT doc_id) <= 2),
        trk AS (SELECT tr.doc_id, tr.s FROM tr JOIN keep USING (s)),
        hits AS (
          SELECT ev.doc_id AS eval_id,
            COUNT(DISTINCT ev.s) AS n_shared,
            COUNT(DISTINCT trk.doc_id) AS n_train
          FROM (SELECT doc_id, s FROM sh WHERE source = 'src0') ev
          JOIN trk ON ev.s = trk.s
          GROUP BY ev.doc_id)
        SELECT d.doc_id AS eval_id,
          CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_shingles,
          CAST(COALESCE(h.n_train, 0) AS BIGINT) AS n_train_docs,
          CAST(CASE WHEN h.eval_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS contaminated
        FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
        WHERE d.source = 'src0'
        """ + orderedSql(Seq("eval_id", "n_shared_shingles", "n_train_docs",
          "contaminated")))),

    // x35 — stratified deterministic sampling: per-source rates over
    // the md5-prefix hash (downsample src0 to 50%, src1 to 10%, the
    // rest to 25%) — the corpus-mixing primitive of a training-data
    // pipeline, reproducible in any engine (same CASE over the same
    // hex thresholds in DuckDB).
    QueryDef("x35_stratified_sample",
      (s, dir) => ordered(Sampling.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "source", Seq("src0" -> 0.5, "src1" -> 0.1), 0.25)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))),
      Some(s"""SELECT source, COUNT(*) AS n_sampled,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN source = 'src0' THEN '${Sampling.hexThreshold(0.5)}'
               WHEN source = 'src1' THEN '${Sampling.hexThreshold(0.1)}'
               ELSE '${Sampling.hexThreshold(0.25)}' END
        GROUP BY source
        """ + orderedSql(Seq("source", "n_sampled", "sum_chars")))),

    // x36 — deterministic train/val/test split assignment (80/10/10):
    // split membership is a pure function of the id hash, so documents
    // never migrate between splits as the corpus grows — the eval-set
    // hygiene property. Disjoint + total by construction (asserted per
    // row in SamplingSpec); here the oracle checks the exact membership
    // by re-deriving the same CASE in DuckDB.
    QueryDef("x36_split_assign",
      (s, dir) => ordered(Sampling.splitAssign(t(s, dir, "documents"),
          "doc_id", trainRate = 0.8, valRate = 0.1)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))),
      Some(s"""SELECT CASE
          WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
            '${Sampling.hexThreshold(0.8)}' THEN 'train'
          WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
            '${Sampling.hexThreshold(0.8 + 0.1)}' THEN 'val'
          ELSE 'test' END AS split,
        COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1
        """ + orderedSql(Seq("split", "n_docs", "sum_chars")))),

    // x37 — the full trained-ANN path, oracle-gated: 2 Lloyd iterations
    // of cosine k-means from stride-50 seeds, then multi-probe IVF
    // search of the query's 2 closest cells. Every step is
    // deterministic (fixed seeds, fixed iteration count, arg-max
    // assignment) and unrolled verbatim in the DuckDB oracle: assign =
    // arg_max over cells, recompute = elementwise mean via
    // unnest/group/list(ORDER BY). Centroid means are double sums whose
    // accumulation order differs between engines (and runs) in the last
    // bits; assignments and round-3 cosines sit far from any decision
    // boundary on this fixture, so the hash comparison is stable —
    // the same robustness argument CORRECTNESS already relies on for
    // list_cosine_similarity itself.
    QueryDef("x37_ann_kmeans",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = Similarity.kmeansCentroids(emb, "vec_id",
          "embedding", seedStride = 50, iters = 2)
        ordered(Similarity.ivfTopKWith(emb, "vec_id", "embedding",
          centroids, queryId = 0L, k = 10, nProbe = 2))
      },
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (SELECT id AS cell, v AS cv FROM base WHERE id % 50 = 0),
        a1 AS (
          SELECT b.id AS id, arg_max(c.cell, list_cosine_similarity(b.v, c.cv)) AS cell
          FROM base b CROSS JOIN c0 c GROUP BY b.id),
        e1 AS (
          SELECT a1.cell AS cell, unnest(generate_series(1, len(base.v))) AS i,
            base.v AS v
          FROM a1 JOIN base USING (id)),
        m1 AS (SELECT cell, i, SUM(v[i]) / COUNT(*) AS m FROM e1 GROUP BY cell, i),
        c1 AS (SELECT cell, list(m ORDER BY i) AS cv FROM m1 GROUP BY cell),
        a2 AS (
          SELECT b.id AS id, arg_max(c.cell, list_cosine_similarity(b.v, c.cv)) AS cell
          FROM base b CROSS JOIN c1 c GROUP BY b.id),
        e2 AS (
          SELECT a2.cell AS cell, unnest(generate_series(1, len(base.v))) AS i,
            base.v AS v
          FROM a2 JOIN base USING (id)),
        m2 AS (SELECT cell, i, SUM(v[i]) / COUNT(*) AS m FROM e2 GROUP BY cell, i),
        c2 AS (SELECT cell, list(m ORDER BY i) AS cv FROM m2 GROUP BY cell),
        q AS (SELECT v AS q_v FROM base WHERE id = 0),
        probe AS (
          SELECT cell AS q_cell FROM c2 CROSS JOIN q
          ORDER BY list_cosine_similarity(cv, q_v) DESC, cell LIMIT 2),
        af AS (
          SELECT b.id AS id, b.v AS v,
            arg_max(c.cell, list_cosine_similarity(b.v, c.cv)) AS cell
          FROM base b CROSS JOIN c2 c GROUP BY b.id, b.v)
        SELECT * FROM (
          SELECT af.id AS id,
            ROUND(list_cosine_similarity(af.v, q.q_v), 3) AS sim
          FROM af JOIN probe ON af.cell = probe.q_cell CROSS JOIN q
          WHERE af.id <> 0
          ORDER BY sim DESC, id LIMIT 10)
        """ + orderedSql(Seq("id", "sim")))),

    // x31 — multimodal resize: per-asset byte budget through the typed
    // mapPartitions pipeline; the stub scaler's stride arithmetic is
    // deterministic, so output sizes are oracle-checked.
    QueryDef("x31_resize",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val assets = Multimodal.assetsFromDocuments(
          t(s, dir, "documents").filter(col("text").isNotNull))
        ordered(Multimodal.resize(assets, 256).toDF()
          .select(col("doc_id"), col("lang"),
            length(col("payload")).cast(LongType).as("out_len")))
      },
      Some("""SELECT doc_id, lang,
          CAST(CASE WHEN octet_length(encode(text)) <= 256
            THEN octet_length(encode(text))
            ELSE CAST(ceil(octet_length(encode(text)) /
              ceil(octet_length(encode(text)) / 256.0)) AS BIGINT)
            END AS BIGINT) AS out_len
        FROM documents WHERE text IS NOT NULL
        """ + orderedSql(Seq("doc_id", "lang", "out_len")))),

    // x39 — per-document top-3 TF-IDF terms: tf·ln(N/df) ranked on the
    // 6-decimal-rounded score with a term tie-break (deterministic,
    // engine-portable — the rounded-cosine robustness pattern). One
    // explode pass: df is a per-term row count over the tf aggregate,
    // never a second pass over the corpus; the rank window is
    // partitioned by doc_id.
    QueryDef("x39_tfidf_topk",
      (s, dir) => ordered(TextAnalysis.tfIdfTopK(
        t(s, dir, "documents"), "doc_id", "text", k = 3)),
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
            CAST(dfreq.df AS BIGINT) AS df,
            ROUND(tf.tf * ln(n.n / dfreq.df), 6) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk
          FROM scored)
        SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 3
        """ + orderedSql(Seq("doc_id", "term", "tf", "df", "score", "rk")))),

    // x40 — token-budget corpus mixing: sample each source down to
    // ≈ budget tokens (20k for src0, 8k default) via per-source rates
    // min(1, budget/total) over the md5-prefix predicate. The rates
    // derive from one tiny per-source aggregate; membership is a pure
    // per-row hash predicate — no window, no corpus shuffle — and the
    // identical rate arithmetic (BIGINT totals → DOUBLE division →
    // ROUND(rate·65536) → 4-hex threshold) is spelled verbatim in the
    // oracle, so the sampled sets match exactly.
    QueryDef("x40_token_budget_mix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        ordered(Sampling.tokenBudgetSample(docs, "doc_id", "source",
            TextAnalysis.tokenCount(col("text")),
            budgets = Map("src0" -> 20000L), defaultBudget = 8000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).cast(LongType)
              .as("sum_tokens")))
      },
      Some("""WITH tot AS (
          SELECT source,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
          FROM documents GROUP BY source),
        thr AS (
          SELECT source,
            CAST(ROUND(LEAST(1.0,
              CAST(CASE WHEN source = 'src0' THEN 20000 ELSE 8000 END AS DOUBLE)
                / GREATEST(t, 1)) * 65536) AS BIGINT) AS ti
          FROM tot),
        kept AS (
          SELECT d.source, len(string_split(d.text, ' ')) AS tok
          FROM documents d JOIN thr ON d.source = thr.source
          WHERE CASE WHEN thr.ti >= 65536 THEN TRUE
                     WHEN thr.ti <= 0 THEN FALSE
                     ELSE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                       < printf('%04x', thr.ti) END)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(tok) AS BIGINT) AS sum_tokens
        FROM kept GROUP BY source
        """ + orderedSql(Seq("source", "n_docs", "sum_tokens")))),

    // x41 — intra-document repetition (Gopher-style quality rule):
    // per-row bigram repeat ratio, aggregated per source. A pure
    // projection feeding one tiny aggregate — the ratio is per-row IEEE
    // division (engine-identical); the mean routes through
    // DECIMAL(18,6) like every cross-engine double sum.
    QueryDef("x41_repetition",
      (s, dir) => ordered(t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.repetitionRatio(col("text"), 2).as("rep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rep") > 0.05, 1L).otherwise(0L)).as("n_repetitive"),
          (sum(col("rep").cast(D18_6)).cast(DoubleType) / count(lit(1)))
            .as("mean_rep"))),
      Some("""SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN rep > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_repetitive,
          CAST(SUM(CAST(rep AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS mean_rep
        FROM (
          SELECT source, CASE WHEN len(g) = 0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) END
            AS rep
          FROM (
            SELECT source,
              CASE WHEN len(string_split(text, ' ')) >= 2
                THEN list_transform(
                  generate_series(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))
                ELSE [] END AS g
            FROM documents))
        GROUP BY source
        """ + orderedSql(Seq("source", "n_docs", "n_repetitive", "mean_rep")))),

    // x42 — token-window chunking (64-token windows every 48): the
    // context-length splitting primitive for training-example prep /
    // RAG indexing. Per-row explode, zero shuffle; the chunk count is
    // integer arithmetic both engines derive identically.
    QueryDef("x42_token_chunks",
      (s, dir) => ordered(TextAnalysis.tokenChunks(
        t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48)),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ch AS (
          SELECT doc_id, toks,
            unnest(generate_series(0,
              CAST(1 + floor((greatest(len(toks) - 64, 0) + 47) / 48)
                AS BIGINT) - 1)) AS chunk_id
          FROM base)
        SELECT doc_id, chunk_id,
          CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
            AS n_tokens,
          array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
            AS chunk
        FROM ch
        """ + orderedSql(Seq("doc_id", "chunk_id", "n_tokens", "chunk")))),

    // x43 — the PORTABLE MinHash-LSH pipeline, oracle-checked END TO
    // END: md5-based min-hashing, band concatenation, bucket join,
    // component-agreement estimate — every step spelled verbatim in
    // DuckDB, closing the "sketches are rows-only checkable" caveat for
    // the pipeline SHAPE (the xxhash64 production sketch x8/x12 shares
    // this exact structure, swapping only the hash). Blocked by source
    // like the other pair queries; est = 1.0 keeps the all-components-
    // agree (high-precision) candidates.
    QueryDef("x43_portable_minhash",
      (s, dir) => ordered(Dedup.portableLshPairs(
        t(s, dir, "documents"), "doc_id", "text",
        minEst = 1.0, k = 8, bands = 4, blockCol = col("source"))),
      Some {
        val k = 8; val bands = 4
        val estExpr = PortableLshSql.estExpr(k)
        s"""WITH ${PortableLshSql.chain(k, bands)}
          SELECT c.a_id, c.b_id,
            CAST($estExpr AS DOUBLE) / $k AS est
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.a_id
          JOIN sig sb ON sb.doc_id = c.b_id
          WHERE CAST($estExpr AS DOUBLE) / $k >= 1.0
          """ + orderedSql(Seq("a_id", "b_id", "est"))
      }),

    // x44 — Bloom-pruned incremental exact-key dedup: src0 is the
    // arriving batch, every other source the ingested corpus, key =
    // (lang, n_chars). The bloom prunes the verify join to the
    // maybe-set; the result is exact anti-join semantics, which is
    // precisely what the oracle's NOT EXISTS checks — so the green row
    // proves the pruned path returns the unpruned answer.
    QueryDef("x44_bloom_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val key = concat_ws("|", col("lang"), col("n_chars"))
        ordered(Dedup.bloomFreshRows(
            newDocs = docs.filter(col("source") === "src0"),
            seen = docs.filter(col("source") =!= "src0"),
            newKey = key, seenKey = key, expectedSeen = 100000L)
          .select(col("doc_id"), col("lang"), col("n_chars")))
      },
      Some("""SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d
        WHERE d.source = 'src0' AND NOT EXISTS (
          SELECT 1 FROM documents o
          WHERE o.source <> 'src0' AND o.lang = d.lang
            AND o.n_chars = d.n_chars)
        """ + orderedSql(Seq("doc_id", "lang", "n_chars")))),

    // x45 — corpus-global repeated-chunk removal (RefinedWeb-style
    // line dedup over deterministic 5-token windows): chunks whose
    // text occurs in >= 2 distinct documents are dropped from EVERY
    // document and the survivors reassembled in order. The fixture
    // has real chunk-level duplication (~250 chunk texts shared
    // across documents), so the op exercises both drop and reassembly.
    QueryDef("x45_chunk_dedup",
      (s, dir) => ordered(Dedup.dropRepeatedChunks(
        t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 5, maxDocFreq = 2)),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ch AS (
          SELECT doc_id, toks,
            unnest(generate_series(0,
              CAST(1 + floor((greatest(len(toks) - 5, 0) + 4) / 5)
                AS BIGINT) - 1)) AS chunk_id
          FROM base),
        chunks AS (
          SELECT doc_id, chunk_id,
            array_to_string(toks[chunk_id * 5 + 1 : chunk_id * 5 + 5], ' ')
              AS chunk
          FROM ch),
        freq AS (
          SELECT md5(chunk) AS k, COUNT(DISTINCT doc_id) AS df
          FROM chunks GROUP BY 1)
        SELECT c.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped,
          COALESCE(string_agg(CASE WHEN f.df < 2 THEN c.chunk END, ' '
            ORDER BY c.chunk_id), '') AS kept_text
        FROM chunks c JOIN freq f ON md5(c.chunk) = f.k
        GROUP BY c.doc_id
        """ + orderedSql(Seq("doc_id", "n_chunks", "n_dropped",
          "kept_text")))),

    // x46 — PII detection + redaction (emails, IPv4): the pre-training
    // scrub pass. The fixture text is PII-free word soup, so each doc
    // is seeded with a deterministic email + IP derived from its own
    // columns — the oracle builds the identical string, so the green
    // row checks detection counts AND the full redacted text.
    QueryDef("x46_pii_scrub",
      (s, dir) => {
        val raw = concat(col("text"), lit(" contact "), col("source"),
          lit("@example.com via 10."),
          (col("doc_id") % 200).cast(StringType), lit(".0."),
          (col("doc_id") % 250).cast(StringType))
        ordered(t(s, dir, "documents")
          .select(col("doc_id"), raw.as("_raw"))
          .select(col("doc_id"),
            TextAnalysis.emailCount(col("_raw")).as("n_emails"),
            TextAnalysis.ipv4Count(col("_raw")).as("n_ips"),
            TextAnalysis.piiRedact(col("_raw")).as("redacted")))
      },
      Some("""WITH seeded AS (
          SELECT doc_id,
            text || ' contact ' || source || '@example.com via 10.' ||
              CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
              CAST(doc_id % 250 AS VARCHAR) AS raw
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
            AS n_emails,
          CAST(len(regexp_extract_all(raw,
            '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ips,
          regexp_replace(regexp_replace(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
            'g'), '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g')
            AS redacted
        FROM seeded
        """ + orderedSql(Seq("doc_id", "n_emails", "n_ips", "redacted")))),

    // x47 — int8 embedding-quantization error report: per-vector
    // symmetric scale (127/max|x|), floor(+0.5) rounding (pure IEEE —
    // engine-portable where round() is not), reconstruction MAE/max
    // per label. The storage-sizing check before quantizing a vector
    // corpus; pure projection + one partial-agg groupBy.
    QueryDef("x47_quantization",
      (s, dir) => ordered(Similarity.quantizationReport(
        t(s, dir, "embeddings"), "embedding", "label")),
      Some("""WITH per AS (
          SELECT label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings),
        scored AS (
          SELECT label, m,
            CASE WHEN m = 0 THEN 0.0 ELSE
              list_reduce(list_transform(vd,
                x -> abs(x - floor(x * (127.0 / m) + 0.5) / (127.0 / m))),
                (a, b) -> a + b) / len(vd) END AS mae,
            CASE WHEN m = 0 THEN 0.0 ELSE
              list_max(list_transform(vd,
                x -> abs(x - floor(x * (127.0 / m) + 0.5) / (127.0 / m))))
              END AS mx
          FROM per)
        SELECT label, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          CAST(SUM(CAST(mae AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
            AS avg_mae,
          MAX(mx) AS max_err
        FROM scored GROUP BY label
        """ + orderedSql(Seq("label", "n_vecs", "n_zero", "avg_mae",
          "max_err")))),

    // x48 — end-to-end dedup RATE: the complete pairs → clusters →
    // survivors path applied, reported per source — the number a
    // training-corpus curation run actually publishes. The component
    // label IS the cluster's min doc_id (min-label propagation), so
    // "survivor" is the stateless predicate doc_id = component; no
    // representative join is needed.
    QueryDef("x48_dedup_rate",
      (s, dir) => {
        val base = t(s, dir, "documents")
        val docs = base.select(col("doc_id"), col("source"),
          Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24, blockCol = col("source"))
        val comp = graft.ops.Clusters.assignComponents(
          docs.select(col("doc_id"), col("source")), "doc_id",
          pairs, "a_id", "b_id")
        ordered(comp.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("component"), 1L).otherwise(0L))
              .as("n_kept"),
            sum(when(col("doc_id") === col("component"), 0L).otherwise(1L))
              .as("n_dropped")))
      },
      Some("""WITH RECURSIVE toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
        SELECT d.source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN COALESCE(l.comp, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN COALESCE(l.comp, d.doc_id) = d.doc_id
            THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        GROUP BY d.source
        """ + orderedSql(Seq("source", "n_docs", "n_kept", "n_dropped")))),

    // x49 — winnowing fingerprints (4-gram hashes, window 8): the
    // guaranteed-detection document-fingerprint set, one row per
    // selected hash. The oracle spells the identical gram-hash /
    // sliding-min / distinct pipeline in DuckDB list ops.
    QueryDef("x49_winnowing",
      (s, dir) => ordered(TextAnalysis.winnowingFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 4, w = 8)),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
          SELECT doc_id,
            list_transform(range(len(toks) - 3),
              i -> md5(array_to_string(toks[i + 1 : i + 4], ' '))) AS hs
          FROM base),
        w AS (
          SELECT doc_id,
            list_distinct(list_transform(range(len(hs) - 7),
              j -> list_min(hs[j + 1 : j + 8]))) AS fps
          FROM g WHERE len(hs) >= 8)
        SELECT doc_id, unnest(fps) AS fp FROM w
        """ + orderedSql(Seq("doc_id", "fp")))),

    // x50 — the COMPOSED curation pipeline applied end to end (quality
    // gate → exact dedup keep-min-id → LSH near-dup sweep): the reason
    // the stages exist as separable operators. 96/24 banding is the
    // recall-certain config the oracle gate rests on (DedupSpec pins
    // recall 1.0 vs ground truth at both gate SFs); the oracle is the
    // literal all-pairs spelling of the same three stages.
    QueryDef("x50_curate",
      (s, dir) => ordered(graft.ops.DataPipeline.curate(
        t(s, dir, "documents"), minTokens = 40, minJaccard = 0.9,
        blockCol = col("source"), numHashes = 96, bands = 24)),
      Some("""WITH gated AS (
          SELECT * FROM documents
          WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 40),
        keepx AS (
          SELECT text, MIN(doc_id) AS doc_id FROM gated GROUP BY text),
        exact AS (
          SELECT g.* FROM gated g
          JOIN keepx k ON g.doc_id = k.doc_id AND g.text = k.text),
        toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM exact),
        victims AS (
          SELECT DISTINCT b.doc_id AS doc_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9)
        SELECT e.doc_id, e.text, e.lang, e.source, e.n_chars
        FROM exact e
        WHERE NOT EXISTS (SELECT 1 FROM victims v WHERE v.doc_id = e.doc_id)
        """ + orderedSql(Seq("doc_id", "text", "lang", "source",
          "n_chars")))),

    // x51 — feature-hashing sparse vectorizer (hashing trick, dim 16):
    // fixed-width text featurization with no vocabulary state — one
    // projection + one partial-agg groupBy at any corpus size. The
    // rolling-hash bucketing is the same engine-portable fold as x4's
    // fingerprint, spelled verbatim in the oracle.
    QueryDef("x51_feature_hash",
      (s, dir) => ordered(TextAnalysis.hashedTf(
        t(s, dir, "documents"), "doc_id", "text", dim = 16)),
      Some(s"""WITH tk AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents)
        SELECT doc_id,
          ${rollingFoldSql("t")} % 16 AS bucket,
          COUNT(*) AS tf
        FROM tk GROUP BY 1, 2
        """ + orderedSql(Seq("doc_id", "bucket", "tf")))),

    // x52 — approximate quantiles via Spark's mergeable GK sketch
    // (percentile_approx, accuracy 100): the 100 TB path where q28's
    // exact percentile would buffer every group's values. Rows-only
    // like the other sketches (DuckDB's approx_quantile is t-digest —
    // a different sketch); the rank-error bound |rank(approx) − target|
    // ≤ n/accuracy is property-tested against the exact quantiles in
    // ApproxDistinctSpec.
    QueryDef("x52_approx_quantiles",
      (s, dir) => ordered(t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(100))
            .as("approx_med"),
          percentile_approx(col("value"), lit(0.9), lit(100))
            .as("approx_p90"),
          count(lit(1)).as("n"))),
      None),

    // x53 — latest-snapshot dedup via a SINGLE argmax aggregate
    // (max over struct(ts, event_id) — constant state per key,
    // map-side combinable), where the row_number-window spelling sorts
    // every partition. The oracle IS that window spelling, so the
    // green row proves the one-aggregate plan returns the window
    // plan's answer; the unique event_id tiebreak makes both
    // deterministic under ts ties.
    QueryDef("x53_latest_snapshot",
      (s, dir) => ordered(t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"))).as("_m"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("_m.ts").as("last_ts"),
          col("_m.event_id").as("last_event"), col("n_events"))),
      Some("""WITH ranked AS (
          SELECT user_id, ts, event_id,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        cnt AS (
          SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
        SELECT r.user_id, r.ts AS last_ts, r.event_id AS last_event,
          c.n_events
        FROM ranked r JOIN cnt c USING (user_id)
        WHERE r.rn = 1
        """ + orderedSql(Seq("user_id", "last_ts", "last_event",
          "n_events")))),

    // x54 — leakage-safe train/val/test split: split keyed on the
    // near-dup CLUSTER id (x12 pairs → x33 components → x36 split), so
    // near-duplicates can never straddle train/test. The oracle re-
    // derives the components with the recursive-CTE reachability used
    // by x33/x48 and applies the identical md5-threshold split to the
    // canonical id. 96/24 banding = the recall-certain config the x48
    // oracle gate rests on.
    QueryDef("x54_leakage_split",
      (s, dir) => {
        val base = t(s, dir, "documents")
        val docs = base.select(col("doc_id"), col("source"),
          Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24, blockCol = col("source"))
        val split = graft.ops.DataPipeline.leakageSafeSplit(
          docs.select(col("doc_id")), "doc_id", pairs, "a_id", "b_id",
          trainRate = 0.8, valRate = 0.1)
        ordered(split.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("component")).as("n_clusters")))
      },
      Some {
        val tTrain = Sampling.hexThreshold(0.8)
        val tVal = Sampling.hexThreshold(0.9)
        s"""WITH RECURSIVE toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
        assigned AS (
          SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS component
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        sp AS (
          SELECT component,
            CASE
              WHEN substr(md5(CAST(component AS VARCHAR)), 1, 4) < '$tTrain'
                THEN 'train'
              WHEN substr(md5(CAST(component AS VARCHAR)), 1, 4) < '$tVal'
                THEN 'val'
              ELSE 'test' END AS split
          FROM assigned)
        SELECT split, COUNT(*) AS n_docs,
          COUNT(DISTINCT component) AS n_clusters
        FROM sp GROUP BY split
        """ + orderedSql(Seq("split", "n_docs", "n_clusters"))
      }),

    // x55 — vocabulary coverage / OOV rate against the top-256 corpus
    // vocabulary: the tokenizer-coverage check run before committing a
    // vocab, and a CCNet-style quality signal per document. The oracle
    // spells the identical count-then-top-k-then-left-join pipeline;
    // oov_rate is one IEEE division of two exact longs.
    QueryDef("x55_vocab_coverage",
      (s, dir) => ordered(TextAnalysis.vocabCoverage(
        t(s, dir, "documents"), "doc_id", "text", k = 256)),
      Some("""WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok FROM toks GROUP BY tok
          ORDER BY COUNT(*) DESC, tok LIMIT 256)
        SELECT t.doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY t.doc_id
        """ + orderedSql(Seq("doc_id", "n_tokens", "n_oov", "oov_rate")))),

    // x56 — deterministic shard repack for training output: every row
    // gets a (shard, pos) address that is a pure function of its id —
    // a reproducible global shuffle (md5-digest order within uniform
    // hash shards), vs rand()-keyed shuffles that flap across runs and
    // partitionings. The oracle spells the same fingerprint fold
    // (shared rollingFoldSql spelling with x4/x51) and rank window.
    QueryDef("x56_shard_repack",
      (s, dir) => ordered(Sampling.shardRepack(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        numShards = 8)),
      Some {
        val fold = rollingFoldSql("dig")
        s"""WITH h AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS dig
          FROM documents),
        sh AS (SELECT doc_id, dig, $fold % 8 AS shard FROM h)
        SELECT doc_id, shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY shard
            ORDER BY dig, doc_id) AS BIGINT) AS pos
        FROM sh
        """ + orderedSql(Seq("doc_id", "shard", "pos"))
      }),

    // x57 — per-source cap (C4-style per-domain cap): keep at most 100
    // docs per source, longest-first with id tie-break, so no single
    // source can dominate the mix. One rank window partitioned by the
    // stratum the cap itself bounds.
    QueryDef("x57_source_cap",
      (s, dir) => ordered(Sampling.capPerStratum(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", Seq(col("n_chars").desc, col("doc_id").asc), cap = 100)),
      Some("""SELECT doc_id, source, n_chars
        FROM (SELECT doc_id, source, n_chars,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents)
        WHERE rk <= 100
        """ + orderedSql(Seq("doc_id", "source", "n_chars")))),

    // x58 — embedding-side dedup rate: x6's blocked cosine pairs →
    // connected components → survivors per label (the vector twin of
    // x48's text-side pipeline). Blocks and threshold are exactly
    // x6's, so the pair set is the one x6's green row already proves
    // portable; the oracle adds the same recursive-CTE reachability.
    QueryDef("x58_embed_dedup_rate",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val pairs = Similarity.cosinePairs(e, "vec_id", "embedding",
          struct(col("label"), (col("vec_id") / 500).cast(LongType)),
          0.35)
        val comp = graft.ops.Clusters.assignComponents(
          e.select(col("vec_id"), col("label")), "vec_id",
          pairs, "a_id", "b_id")
        ordered(comp.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("vec_id") === col("component"), 1L)
              .otherwise(0L)).as("n_kept"),
            sum(when(col("vec_id") === col("component"), 0L)
              .otherwise(1L)).as("n_dropped")))
      },
      Some("""WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label
           AND CAST(FLOOR(a.vec_id / 500) AS BIGINT) =
               CAST(FLOOR(b.vec_id / 500) AS BIGINT)
           AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])) >= 0.35),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
        SELECT v.label, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN COALESCE(l.comp, v.vec_id) = v.vec_id
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN COALESCE(l.comp, v.vec_id) = v.vec_id
            THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM embeddings v LEFT JOIN labels l ON l.id = v.vec_id
        GROUP BY v.label
        """ + orderedSql(Seq("label", "n_vecs", "n_kept", "n_dropped")))),

    // x59 — incremental near-dup: the arriving batch (doc_id%40 >= 20
    // — the fixture's near-dup families span id blocks of 20, so this
    // interleaved-snapshot split actually crosses them; a parity split
    // would not) LSH-paired against the ingested corpus ONLY — never
    // corpus×corpus. 96/24 banding keeps the oracle gate
    // recall-certain (DedupSpec pins recall 1.0 on all same-source
    // >= 0.9 pairs at both gate SFs; batch/corpus membership doesn't
    // change a pair's collision probability). The oracle is the
    // literal cross-side all-pairs spelling.
    QueryDef("x59_incremental_neardup",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"),
          col("source"), Dedup.tokenSet(col("text")).as("tok"))
        ordered(Dedup.incrementalNearDupPairs(
          newDocs = base.filter(col("doc_id") % 40 >= 20),
          seen = base.filter(col("doc_id") % 40 < 20),
          "doc_id", "tok", 0.9, numHashes = 96, bands = 24,
          blockCol = col("source")))
      },
      Some("""WITH toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents)
        SELECT n.doc_id AS new_id, o.doc_id AS seen_id,
          CAST(len(list_intersect(n.tok, o.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(n.tok, o.tok))) AS jaccard
        FROM toks n JOIN toks o
          ON n.source = o.source
         AND n.doc_id % 40 >= 20 AND o.doc_id % 40 < 20
        WHERE CAST(len(list_intersect(n.tok, o.tok)) AS DOUBLE) /
            len(list_distinct(list_concat(n.tok, o.tok))) >= 0.9
        """ + orderedSql(Seq("new_id", "seen_id", "jaccard")))),

    // x60 — linear quality-classifier inference over hashed features
    // (fastText-style filter pass): score = left fold of per-token
    // weight lookups (same rolling-hash bucketing as x51, same
    // list-fold determinism argument as x47), keep = score >= 0. The
    // oracle spells the identical weight-literal fold.
    QueryDef("x60_quality_classifier",
      (s, dir) => ordered(TextAnalysis.hashClassifierScore(
        t(s, dir, "documents"), "doc_id", "text",
        weights = classifierWeights, bias = 0.25)),
      Some {
        val wList = classifierWeights
          .mkString("[", ", ", "]::DOUBLE[]")
        s"""SELECT doc_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(string_split(text, ' '),
              t -> ($wList)[CAST(${rollingFoldSql("t")} % 16 AS INTEGER)
                + 1])),
            (acc, x) -> acc + x) + 0.25 AS score,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(string_split(text, ' '),
              t -> ($wList)[CAST(${rollingFoldSql("t")} % 16 AS INTEGER)
                + 1])),
            (acc, x) -> acc + x) + 0.25 >= 0.0 AS keep
        FROM documents
        """ + orderedSql(Seq("doc_id", "score", "keep"))
      }),

    // x61 — per-document novelty (fraction of its distinct 5-shingles
    // with corpus df 1): one shuffle on the shingle key; a df-1
    // shingle's owner comes out of the same aggregate (min of a size-1
    // group), no second corpus join. Shingle spelling shared with x34.
    QueryDef("x61_novelty",
      (s, dir) => ordered(TextAnalysis.noveltyScore(
        t(s, dir, "documents"), "doc_id", "text", k = 5)),
      Some("""WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
              i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))))
              AS sk
          FROM documents),
        tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
        uniq AS (
          SELECT doc_id, COUNT(*) AS n_unique FROM (
            SELECT MIN(doc_id) AS doc_id FROM sh
            GROUP BY sk HAVING COUNT(*) = 1)
          GROUP BY doc_id)
        SELECT t.doc_id, t.n_shingles,
          CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
          CAST(COALESCE(u.n_unique, 0) AS DOUBLE) / t.n_shingles AS novelty
        FROM tot t LEFT JOIN uniq u USING (doc_id)
        """ + orderedSql(Seq("doc_id", "n_shingles", "n_unique",
          "novelty")))),

    // x62 — bounded inverted index: per token, exact df + the 8
    // smallest doc ids via the MinIdsAgg bounded aggregate (state = 8
    // longs per token even for stopwords, where collect_list-then-sort
    // buffers the whole posting list). Postings stringified for the
    // cell compare; the oracle truncates an explicit list_sort.
    QueryDef("x62_inverted_index",
      (s, dir) => ordered(TextAnalysis.invertedIndex(
          t(s, dir, "documents"), "doc_id", "text", maxPostings = 8)
        .select(col("token"), col("df"),
          concat_ws(",", transform(col("postings"), x => x.cast("string")))
            .as("postings"))),
      Some("""WITH tk AS (
          SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents))
        SELECT token, COUNT(*) AS df,
          array_to_string((list_sort(list(doc_id)))[1:8], ',') AS postings
        FROM tk GROUP BY token
        """ + orderedSql(Seq("token", "df", "postings")))),

    // x63 — top-30 PMI collocations (adjacent bigrams, pair count >= 5):
    // merge-candidate / boilerplate-phrase analytics. ln at 6 dp is the
    // x39 log-portability precedent; ranking is on the ROUNDED value
    // with a (w1, w2) tie-break so the cutoff is deterministic.
    QueryDef("x63_pmi_collocations",
      (s, dir) => ordered(TextAnalysis.pmiTopK(
        t(s, dir, "documents"), "text", minPairCount = 5L, k = 30)),
      Some("""WITH toks AS (
          SELECT string_split(text, ' ') AS t FROM documents),
        uc AS (
          SELECT w, COUNT(*) AS c FROM (
            SELECT unnest(t) AS w FROM toks) GROUP BY w),
        bc_all AS (
          SELECT bg, COUNT(*) AS c2 FROM (
            SELECT unnest(list_transform(generate_series(1, len(t) - 1),
              i -> t[i] || ' ' || t[i + 1])) AS bg
            FROM toks) GROUP BY bg),
        bc AS (SELECT * FROM bc_all WHERE c2 >= 5),
        ntok AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_tok FROM uc),
        nbi AS (SELECT CAST(SUM(c2) AS DOUBLE) AS n_bi FROM bc_all),
        scored AS (
          SELECT string_split(bg, ' ')[1] AS w1,
            string_split(bg, ' ')[2] AS w2,
            c2 AS pair_count,
            ROUND(ln(CAST(c2 AS DOUBLE) * n_tok * n_tok /
              (n_bi * a.c * b.c)), 6) AS pmi
          FROM bc CROSS JOIN ntok CROSS JOIN nbi
          JOIN uc a ON a.w = string_split(bg, ' ')[1]
          JOIN uc b ON b.w = string_split(bg, ' ')[2])
        SELECT * FROM (
          SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 30)
        """ + orderedSql(Seq("w1", "w2", "pair_count", "pmi")))),

    // x64 — cross-source near-dup overlap matrix ("which crawls
    // duplicate which"): UNBLOCKED 96/24 LSH pairs (cross-source
    // near-dups dominate the fixture 19:1) rolled up per unordered
    // source pair. Recall-certainty of the unblocked config is pinned
    // by DedupSpec at both gate SFs; the mean jaccard routes through
    // DECIMAL(18,12) like every cross-engine double aggregate. Overlap
    // ANALYTICS doesn't need every pair: the corpus is first cut to a
    // deterministic md5 half-sample (the x29 cost-bound pattern — pair
    // volume drops 4×, the per-cell rates it estimates don't move),
    // spelled identically in the oracle.
    // r16 volume knob (VERDICT r15 item 7): sample 0.5 → 0.25. The
    // per-cell overlap RATES don't move under uniform sampling (the
    // x29/x112 argument), and pair volume is quadratic in the sample,
    // so this quarters the dominant cost of the suite's slowest legit
    // row (6.35 s solo at 0.5).
    QueryDef("x64_source_overlap",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .filter(graft.ops.Sampling.keepPredicate(col("doc_id"), 0.25))
        val docs = base.select(col("doc_id"), col("source"),
          Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24)
        val src = docs.select(col("doc_id"), col("source"))
        ordered(pairs
          .join(src.select(col("doc_id").as("a_id"),
            col("source").as("_sa")), "a_id")
          .join(src.select(col("doc_id").as("b_id"),
            col("source").as("_sb")), "b_id")
          .select(least(col("_sa"), col("_sb")).as("source_a"),
            greatest(col("_sa"), col("_sb")).as("source_b"),
            col("jaccard"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"),
            (sum(col("jaccard").cast(DecimalType(18, 12)))
              .cast(DoubleType) / count(lit(1))).as("avg_jaccard")))
      },
      Some("""WITH toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'),
        pairs AS (
          SELECT least(a.source, b.source) AS source_a,
            greatest(a.source, b.source) AS source_b,
            CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) AS j
          FROM toks a JOIN toks b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9)
        SELECT source_a, source_b, COUNT(*) AS n_pairs,
          CAST(SUM(CAST(j AS DECIMAL(18, 12))) AS DOUBLE) / COUNT(*)
            AS avg_jaccard
        FROM pairs GROUP BY source_a, source_b
        """ + orderedSql(Seq("source_a", "source_b", "n_pairs",
          "avg_jaccard")))),

    // x65 — nearest-centroid label-coherence report (confusion matrix
    // of true label vs arg-max-cosine label centroid): label means via
    // one VectorSumAgg pass (bounded by the label count), zero-shuffle
    // plan-literal assignment. Oracle = the x37-style per-dimension
    // mean + arg_max spelling.
    QueryDef("x65_centroid_confusion",
      (s, dir) => ordered(Similarity.centroidConfusion(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label")),
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
            CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        e AS (
          SELECT label, unnest(generate_series(1, len(v))) AS i, v
          FROM base),
        m AS (
          SELECT label AS cell, i, SUM(v[i]) / COUNT(*) AS m
          FROM e GROUP BY label, i),
        c AS (SELECT cell, list(m ORDER BY i) AS cv FROM m GROUP BY cell),
        a AS (
          SELECT b.id, b.label,
            arg_max(c.cell, list_cosine_similarity(b.v, c.cv)) AS pred
          FROM base b CROSS JOIN c GROUP BY b.id, b.label)
        SELECT label, pred, COUNT(*) AS n FROM a GROUP BY label, pred
        """ + orderedSql(Seq("label", "pred", "n")))),

    // x66 — training-sequence packing plan (GPT-style, 2048-token
    // sequences, documents cross boundaries): the global token offset
    // is PrefixSum's two-pass distributed running sum on the Spark
    // side; the oracle spells the same number as the unpartitioned
    // SQL window Spark must never plan (PlanQualitySpec enforces).
    QueryDef("x66_sequence_packing",
      (s, dir) => ordered(TextAnalysis.packSequences(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 2048)),
      Some("""WITH b AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT doc_id, n_tokens,
            CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_tok
          FROM b)
        SELECT doc_id, n_tokens, start_tok,
          CAST(FLOOR(start_tok / 2048) AS BIGINT) AS seq_id,
          CAST(start_tok % 2048 AS BIGINT) AS seq_pos,
          CAST(FLOOR((start_tok + n_tokens - 1) / 2048) AS BIGINT)
            - CAST(FLOOR(start_tok / 2048) AS BIGINT) + 1 AS n_seqs
        FROM r
        """ + orderedSql(Seq("doc_id", "n_tokens", "start_tok", "seq_id",
          "seq_pos", "n_seqs")))),

    // x67 — surgical decontamination: remove the eval-overlapping
    // SPANS from every training document, keep the rest (x34 tells you
    // which docs overlap; this fixes them instead of dropping them).
    // Production keys the join on 8-byte ngram hashes; the oracle
    // spells the identical pipeline on gram strings (the standing
    // hashed≡string argument, property-pinned in ContaminationSpec).
    QueryDef("x67_scrub_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        ordered(Contamination.scrubSpans(
          train = docs.filter(col("source") =!= "src0"),
          eval = docs.filter(col("source") === "src0"),
          idCol = "doc_id", textCol = "text", k = 5))
      },
      Some("""WITH tr AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE source <> 'src0' AND text IS NOT NULL),
        ev AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
            i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))))
            AS g
          FROM documents WHERE source = 'src0' AND text IS NOT NULL),
        w AS (
          SELECT doc_id, t,
            unnest(generate_series(1, greatest(len(t) - 4, 1))) AS wi
          FROM tr),
        g2 AS (
          SELECT doc_id, wi, array_to_string(t[wi:wi+4], ' ') AS g FROM w),
        hits AS (SELECT DISTINCT doc_id, wi FROM g2 JOIN ev USING (g)),
        cov AS (
          SELECT DISTINCT doc_id, unnest(generate_series(wi, wi + 4)) AS p
          FROM hits),
        tp AS (
          SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
          FROM tr),
        tok2 AS (SELECT doc_id, p, t[p] AS tok FROM tp),
        kept AS (
          SELECT k.doc_id, k.p, k.tok, c.p IS NOT NULL AS hit
          FROM tok2 k LEFT JOIN cov c
            ON c.doc_id = k.doc_id AND c.p = k.p)
        SELECT doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
            AS n_scrubbed,
          COALESCE(string_agg(CASE WHEN NOT hit THEN tok END, ' '
            ORDER BY p), '') AS scrubbed_text
        FROM kept GROUP BY doc_id
        """ + orderedSql(Seq("doc_id", "n_tokens", "n_scrubbed",
          "scrubbed_text")))),

    // x68 — Misra-Gries heavy hitters over corpus tokens: the
    // frequency sketch of the family (HLL distinct, GK quantiles,
    // MinHash sets), k-1 counters of state vs q23's vocabulary-sized
    // exact shuffle. Rows-only by design (MG estimates are arrival-
    // order-dependent; the >N/k survival + N/k error GUARANTEES are
    // what is deterministic, property-pinned in ApproxDistinctSpec).
    QueryDef("x68_heavy_hitters",
      (s, dir) => ordered(t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .agg(graft.functions.HeavyHittersFunctions
          .heavyHitters(col("w"), 32).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("item"), col("h.est").as("est"))),
      None),

    // x69 — corpus snapshot diff: v2 is derived deterministically from
    // the fixture (drop id%7=0, append a marker to id%5=0, add id%11=0
    // under shifted ids), then ONE full-outer hash join classifies
    // every id and the report rolls up per status. The real deliverable
    // is DataPipeline.snapshotDiff; the derivation just manufactures a
    // second version the oracle can spell identically.
    QueryDef("x69_snapshot_diff",
      (s, dir) => {
        val v1 = t(s, dir, "documents")
        val v2 = v1.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .union(v1.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        ordered(graft.ops.DataPipeline
          .snapshotDiff(v1, v2, "doc_id", "text")
          .groupBy("status").agg(count(lit(1)).as("n")))
      },
      Some("""WITH v2 AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
              AS text
          FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text
          FROM documents WHERE doc_id % 11 = 0),
        d AS (
          SELECT COALESCE(o.doc_id, n.doc_id) AS id,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 WHEN md5(o.text) <> md5(n.text) THEN 'modified'
                 ELSE 'unchanged' END AS status
          FROM documents o FULL OUTER JOIN v2 n ON n.doc_id = o.doc_id)
        SELECT status, COUNT(*) AS n FROM d GROUP BY status
        """ + orderedSql(Seq("status", "n")))),

    // x70 — PRODUCTION tokenizer, oracle-paired: the fixture is
    // single-space text, so the query first deterministically messies
    // it (a newline+tab separator with a case flip, a double-space
    // with attached punctuation — both plain `replace`, identical in
    // both engines), then proves the `\s+` tokenizer sees through the
    // mess: n_ws equals the original token count where the naive
    // single-space split inflates, and punctuation folding maps the
    // messy text back to the fold of the original
    // (fold_roundtrip = 1). Java-regex/RE2-agreeing subset throughout.
    QueryDef("x70_ws_tokens",
      (s, dir) => {
        val messy = replace(
          replace(col("text"), lit(" the "), lit("\n\tThe, ")),
          lit(" of "), lit("  of. "))
        // staged projections: each regex-heavy array materializes as an
        // attribute ONCE and downstream columns reference it (Catalyst
        // does not collapse a projection whose alias is referenced more
        // than once and is non-cheap, so the `\s+` split runs once per
        // text, not once per derived column)
        ordered(t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), messy.as("messy"), col("text"))
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("messy"))).cast("long")
              .as("n_simple"),
            TextAnalysis.tokensWs(col("messy")).as("ws"),
            TextAnalysis.tokensWs(col("text")).as("ws_orig"))
          .select(col("doc_id"), col("n_simple"),
            size(col("ws")).cast("long").as("n_ws"),
            TextAnalysis.foldTokens(col("ws")).as("folded"),
            TextAnalysis.foldTokens(col("ws_orig")).as("folded_orig"))
          .select(col("doc_id"), col("n_simple"), col("n_ws"),
            size(col("folded")).cast("long").as("n_folded"),
            size(array_distinct(col("folded"))).cast("long")
              .as("n_folded_distinct"),
            (col("folded") === col("folded_orig")).cast("long")
              .as("fold_roundtrip")))
      },
      Some("""WITH m AS (
          SELECT doc_id,
            replace(replace(text, ' the ', e'\n\tThe, '),
                    ' of ', '  of. ') AS messy,
            text
          FROM documents WHERE text IS NOT NULL),
        tok AS (
          SELECT doc_id,
            CAST(len(string_split(messy, ' ')) AS BIGINT) AS n_simple,
            list_filter(regexp_split_to_array(messy, '\s+'),
              t -> t <> '') AS ws,
            list_filter(list_transform(
              list_filter(regexp_split_to_array(messy, '\s+'),
                t -> t <> ''),
              t -> regexp_replace(lower(t),
                '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
              t -> t <> '') AS folded,
            list_filter(list_transform(
              list_filter(regexp_split_to_array(text, '\s+'),
                t -> t <> ''),
              t -> regexp_replace(lower(t),
                '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
              t -> t <> '') AS folded_orig
          FROM m)
        SELECT doc_id,
          n_simple,
          CAST(len(ws) AS BIGINT) AS n_ws,
          CAST(len(folded) AS BIGINT) AS n_folded,
          CAST(len(list_distinct(folded)) AS BIGINT) AS n_folded_distinct,
          CAST(folded = folded_orig AS BIGINT) AS fold_roundtrip
        FROM tok
        """ + orderedSql(Seq("doc_id", "n_simple", "n_ws", "n_folded",
          "n_folded_distinct", "fold_roundtrip")))),

    // x71 — portable SimHash twin (the x43 pattern for the x9 path):
    // 32-bit signature whose per-token votes are the md5 hex digits'
    // high bits — derivable verbatim in both engines, so the sketch →
    // chunk-band join → hamming-verify pipeline hash-checks end to
    // end. Spark runs the banded join; the oracle spells all-pairs;
    // they are provably equal (pigeonhole: hamming ≤ 1 over 2 chunks
    // leaves one chunk intact). Two 16-bit chunks, not four 8-bit:
    // the fixture's shared-vocab signatures cluster, and 8-bit buckets
    // skew to 7.5M candidate pairs at sf0.1 where 16-bit buckets stay
    // at 349k. The production x9 keeps xxhash64.
    QueryDef("x71_portable_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tok"))
        ordered(Dedup.portableSimhashPairs(docs, "doc_id", "tok",
          maxHamming = 1, numChunks = 2))
      },
      Some("""WITH d AS (
          SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d),
        h AS (SELECT doc_id, md5(t) AS h FROM tok),
        votes AS (
          SELECT doc_id, i.i AS i,
            SUM(CASE WHEN substr(h.h, i.i + 1, 1) IN
                ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)
              AS vote
          FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) i
          GROUP BY doc_id, i.i),
        sig AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
          FROM votes GROUP BY doc_id),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        SELECT a_id, b_id, hamming FROM p WHERE hamming <= 1
        """ + orderedSql(Seq("a_id", "b_id", "hamming")))),

    // x72 — portable sign-random-projection twin (the x43 pattern for
    // the x15 path): ±1 weights derived from md5("i|j") in BOTH
    // engines, vectors quantized floor(x*1000) per element, each bit
    // an exact INTEGER dot product (a float sum's order-dependent
    // rounding would break the cross-engine hash). Spark bands the
    // 32-bit signature into 8 four-bit chunks; the oracle goes
    // all-pairs; pigeonhole (hamming ≤ 7 < 8 chunks) makes them
    // equal. hamming ≤ 3 returns zero pairs on this fixture — ≤ 7
    // keeps the check non-vacuous (~330 pairs at sf0.01). The
    // production x15 keeps the seeded double SRP.
    QueryDef("x72_portable_srp",
      (s, dir) => ordered(Similarity.portableSrpPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", maxHamming = 7,
        numChunks = 8)),
      Some("""WITH w AS (
          SELECT i.i AS i, j.j AS j,
            CASE WHEN substr(md5(CAST(i.i AS VARCHAR) || '|' ||
                CAST(j.j AS VARCHAR)), 1, 1) IN
                ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS s
          FROM (SELECT unnest(range(32)) AS i) i
          CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        votes AS (
          SELECT q.vec_id, w.i, SUM(w.s * q.qv[w.j + 1]) AS vote
          FROM q CROSS JOIN w GROUP BY q.vec_id, w.i),
        sig AS (
          SELECT vec_id,
            CAST(SUM(CASE WHEN vote > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
          FROM votes GROUP BY vec_id),
        p AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          FROM sig a JOIN sig b ON a.vec_id < b.vec_id)
        SELECT a_id, b_id, hamming FROM p WHERE hamming <= 7
        """ + orderedSql(Seq("a_id", "b_id", "hamming")))),

    // x73 — corpus-as-model bigram LM quality score (the CCNet/KenLM
    // perplexity-filter shape): rank every document by the mean
    // add-one-smoothed negative log-likelihood of its adjacent bigrams
    // under the corpus's own counts. nll per bigram is per-row IEEE on
    // exact integer counts rounded at 6 dp (the x39/x63 ln precedent);
    // the per-doc mean routes through DECIMAL(18,6). The oracle's
    // paired unnests zip by construction (equal-length slices).
    QueryDef("x73_lm_quality",
      (s, dir) => ordered(TextAnalysis.lmQuality(
        t(s, dir, "documents"), "doc_id", "text")),
      Some(s"""WITH $lmQualityCtes
        SELECT doc_id, n_bigrams, avg_nll FROM lmq
        """ + orderedSql(Seq("doc_id", "n_bigrams", "avg_nll")))),

    // x74 — per-document top-k nearest near-duplicates (the dedup
    // review queue): x12's recall-certain generator (24×4 banding at
    // j >= 0.9, DedupSpec-pinned) makes the above-threshold pair set
    // complete, so the per-doc ranking is exact and the oracle can
    // spell it over the all-pairs join. Window is doc-partitioned;
    // the rank cut is a WindowGroupLimit (plan-gated).
    QueryDef("x74_knn_neardups",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Dedup.tokenSet(col("text")).as("tok"))
        ordered(Dedup.knnNearDups(docs, "doc_id", "tok", 0.9, k = 5,
          numHashes = 96, bands = 24, blockCol = col("source")))
      },
      Some("""WITH base AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) AS jaccard
          FROM base a JOIN base b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        sym AS (
          SELECT a_id AS doc_id, b_id AS nbr_id, jaccard FROM p
          UNION ALL
          SELECT b_id AS doc_id, a_id AS nbr_id, jaccard FROM p),
        r AS (
          SELECT doc_id, nbr_id, jaccard,
            ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY jaccard DESC, nbr_id) AS rank
          FROM sym)
        SELECT doc_id, nbr_id, jaccard, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
        """ + orderedSql(Seq("doc_id", "nbr_id", "jaccard", "rank")))),

    // x75 — the FULL curation pipeline (x50's quality gate → exact
    // dedup → LSH near-dup sweep) run on the FOLDED production
    // tokenizer end to end: even-id documents are deterministically
    // whitespace/case/punctuation-messied (the x70 replaces), so a
    // duplicate pair split across the parity line survives exact dedup
    // (raw texts differ) and near-dup-matches ONLY because the folded
    // token sets see through the mess — under the single-space
    // tokenizer the same pipeline returns a different (larger)
    // survivor set (DataPipelineSpec pins the difference). This
    // converts x70's tokenizer from proven-in-isolation to
    // oracle-checked through the whole dedup path. Recall certainty is
    // x50's 96/24 argument — band collision is EXACT at j = 1 (equal
    // folded sets), which is what the messied twins have.
    QueryDef("x75_folded_curate",
      (s, dir) => {
        val messy = when(col("doc_id") % 2 === 0,
          replace(
            replace(col("text"), lit(" the "), lit("\n\tThe, ")),
            lit(" of "), lit("  of. ")))
          .otherwise(col("text"))
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), messy.as("text"), col("lang"),
            col("source"), col("n_chars"))
        ordered(graft.ops.DataPipeline.curate(docs, minTokens = 40,
          minJaccard = 0.9, blockCol = col("source"), numHashes = 96,
          bands = 24, tokenize = TextAnalysis.tokensFolded))
      },
      Some("""WITH m AS (
          SELECT doc_id,
            CASE WHEN doc_id % 2 = 0
              THEN replace(replace(text, ' the ', e'\n\tThe, '),
                           ' of ', '  of. ')
              ELSE text END AS text,
            lang, source, n_chars
          FROM documents WHERE text IS NOT NULL),
        f AS (
          SELECT doc_id, text, lang, source, n_chars,
            list_filter(list_transform(
              list_filter(regexp_split_to_array(text, '\s+'),
                t -> t <> ''),
              t -> regexp_replace(lower(t),
                '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
              t -> t <> '') AS ftok
          FROM m),
        gated AS (SELECT * FROM f WHERE len(ftok) >= 40),
        keepx AS (
          SELECT text, MIN(doc_id) AS doc_id FROM gated GROUP BY text),
        exact AS (
          SELECT g.* FROM gated g
          JOIN keepx k ON g.doc_id = k.doc_id AND g.text = k.text),
        toks AS (
          SELECT doc_id, source, list_distinct(ftok) AS tok FROM exact),
        victims AS (
          SELECT DISTINCT b.doc_id AS doc_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9)
        SELECT e.doc_id, e.text, e.lang, e.source, e.n_chars
        FROM exact e
        WHERE NOT EXISTS (SELECT 1 FROM victims v WHERE v.doc_id = e.doc_id)
        """ + orderedSql(Seq("doc_id", "text", "lang", "source",
          "n_chars")))),

    // x76 — ANN index QA: recall@10 of the multi-probe IVF path vs
    // exact brute force, one row per stride-sampled query (the report a
    // pipeline runs before trusting an index for retrieval dedup).
    // Both sides rank on round(cosine, 3) with id tie-breaks; probe
    // cells rank on round(cosine, 6) with cell tie-breaks — every
    // cutoff deterministic cross-engine. Stride seeds keep the
    // centroid set oracle-expressible (the x7 contract); the
    // production swap-in is kmeansCentroids + the same ivfTopKBatch.
    QueryDef("x76_ann_recall",
      (s, dir) => ordered(Similarity.annRecallReport(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        seedStride = 251, queryStride = 97, k = 10, nProbe = 2)),
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        seeds AS (
          SELECT id AS seed_id, v AS seed_v FROM base WHERE id % 251 = 0),
        assigned AS (
          SELECT base.id,
            arg_max(seed_id, list_cosine_similarity(v, seed_v)) AS cell
          FROM base, seeds GROUP BY base.id),
        cells AS (
          SELECT assigned.id, cell, v
          FROM assigned JOIN base ON assigned.id = base.id),
        qs AS (SELECT id AS q_id, v AS qv FROM base WHERE id % 97 = 0),
        probe AS (
          SELECT q_id, seed_id AS cell FROM (
            SELECT q_id, seed_id, row_number() OVER (
                PARTITION BY q_id
                ORDER BY ROUND(list_cosine_similarity(qv, seed_v), 6)
                  DESC, seed_id) AS rn
            FROM qs, seeds) WHERE rn <= 2),
        brute AS (
          SELECT q_id, id FROM (
            SELECT q_id, base.id, row_number() OVER (
                PARTITION BY q_id
                ORDER BY ROUND(list_cosine_similarity(v, qv), 3)
                  DESC, base.id) AS rn
            FROM qs, base WHERE base.id <> q_id) WHERE rn <= 10),
        ivf AS (
          SELECT q_id, id FROM (
            SELECT p.q_id, c.id, row_number() OVER (
                PARTITION BY p.q_id
                ORDER BY ROUND(list_cosine_similarity(c.v, qs.qv), 3)
                  DESC, c.id) AS rn
            FROM probe p
            JOIN cells c ON c.cell = p.cell
            JOIN qs ON qs.q_id = p.q_id
            WHERE c.id <> p.q_id) WHERE rn <= 10),
        m AS (
          SELECT b.q_id, COUNT(*) AS n_match
          FROM brute b JOIN ivf i ON i.q_id = b.q_id AND i.id = b.id
          GROUP BY b.q_id),
        r AS (
          SELECT qs.q_id AS q_id,
            CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
            CAST(COALESCE(m.n_match, 0) AS DOUBLE) / 10 AS recall
          FROM qs LEFT JOIN m ON m.q_id = qs.q_id)
        SELECT q_id, n_match, recall FROM r
        """ + orderedSql(Seq("q_id", "n_match", "recall")))),

    // x77 — per-source percentile calibration + global gate: rank each
    // doc's quality score WITHIN its source (percent_rank, doc_id
    // tie-break) and keep the top 25% of every source — the per-domain
    // normalization a pipeline runs before a global threshold so no
    // domain dominates. pct = (rank-1)/(n-1) is exact integer
    // arithmetic in IEEE double and 0.75 is an exact binary fraction,
    // so the cutoff is deterministic cross-engine with no rounding.
    // Score = x2's avg-word-length signal (per-row IEEE).
    QueryDef("x77_calibrated_gate",
      (s, dir) => {
        val tc = size(split(col("text"), " ", -1))
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          ((col("n_chars") - (tc - 1)).cast(DoubleType) / tc).as("score"))
        ordered(Sampling.percentileGate(scored, "doc_id", "source",
          "score", keepFrac = 0.25))
      },
      Some("""WITH s AS (
          SELECT doc_id, source,
            CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')) AS score
          FROM documents),
        p AS (
          SELECT doc_id, source, score,
            percent_rank() OVER (
              PARTITION BY source ORDER BY score, doc_id) AS pct
          FROM s)
        SELECT doc_id, source, score, pct FROM p WHERE pct >= 0.75
        """ + orderedSql(Seq("doc_id", "source", "score", "pct")))),

    // x78 — within-document repeated-trigram scrub (the removal
    // counterpart of x41's repetition scoring): tokens covered by a
    // trigram whose exact text occurred earlier in the same document
    // are dropped (first occurrence kept) via the same two-pointer
    // ScrubKernel as x67. Zero shuffle — every step is a per-row
    // projection; the oracle spells the identical first-match/coverage
    // set with DuckDB list lambdas.
    QueryDef("x78_self_repetition_scrub",
      (s, dir) => ordered(TextAnalysis.selfRepetitionScrub(
        t(s, dir, "documents"), "doc_id", "text", k = 3)),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, toks, len(toks) AS n,
            CASE WHEN len(toks) >= 3 THEN range(1, len(toks) - 1)
              ELSE CAST([] AS BIGINT[]) END AS idx
          FROM base),
        h AS (
          SELECT doc_id, toks, n, idx,
            list_transform(idx,
              i -> array_to_string(toks[i:i+2], ' ')) AS grams
          FROM g),
        d AS (
          SELECT doc_id, toks, n,
            list_filter(idx,
              i -> list_position(grams, grams[i]) < i) AS dstarts
          FROM h),
        r AS (
          SELECT doc_id, toks, n,
            list_filter(range(1, n + 1), t ->
              len(list_filter(dstarts,
                s -> s <= t AND t <= s + 2)) = 0) AS kept
          FROM d)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(n - len(kept) AS BIGINT) AS n_scrubbed,
          array_to_string(list_transform(kept, t -> toks[t]), ' ')
            AS scrubbed_text
        FROM r
        """ + orderedSql(Seq("doc_id", "n_tokens", "n_scrubbed",
          "scrubbed_text")))),

    // x79 — SemDeDup-style semantic dedup: embedding space partitioned
    // by the top 8 bits of the portable SRP signature (the x72 integer
    // spelling — exact in both engines), within-bucket pairs verified
    // with exact cosine >= 0.35, connected components (x58's recursive
    // CTE pattern in the oracle), one representative (min id) kept per
    // component. Cross-bucket near-dups are out of contract — the same
    // within-cluster-only semantics SemDeDup has with k-means cells.
    QueryDef("x79_semantic_dedup",
      (s, dir) => ordered(Similarity.semanticDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.35)),
      Some("""WITH RECURSIVE w AS (
          SELECT i.i AS i, j.j AS j,
            CASE WHEN substr(md5(CAST(i.i AS VARCHAR) || '|' ||
                CAST(j.j AS VARCHAR)), 1, 1) IN
                ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS s
          FROM (SELECT unnest(range(32)) AS i) i
          CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        votes AS (
          SELECT q.vec_id, w.i, SUM(w.s * q.qv[w.j + 1]) AS vote
          FROM q CROSS JOIN w GROUP BY q.vec_id, w.i),
        sig AS (
          SELECT vec_id,
            CAST(SUM(CASE WHEN vote > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
          FROM votes GROUP BY vec_id),
        b AS (
          SELECT s.vec_id, CAST(s.sig >> 24 AS BIGINT) AS bucket,
            e.embedding
          FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id),
        pairs AS (
          SELECT a.vec_id AS a_id, b2.vec_id AS b_id
          FROM b a JOIN b b2
            ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              CAST(b2.embedding AS DOUBLE[])) >= 0.35),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
        SELECT b.vec_id, b.bucket,
          COALESCE(l.comp, b.vec_id) AS rep_id,
          COALESCE(l.comp, b.vec_id) = b.vec_id AS is_rep
        FROM b LEFT JOIN labels l ON l.id = b.vec_id
        """ + orderedSql(Seq("vec_id", "bucket", "rep_id", "is_rep")))),

    // x80 — temperature-based source mixture plan (alpha = 0.5, the
    // multilingual up-sampling temperature): per source, exact token
    // counts, weight = tokens^0.5 normalized across sources, the token
    // draw under a 1M budget, and the over-sampling epochs factor.
    // The weighted mass routes through DECIMAL(18,6) (moneySum
    // pattern) so the cross-source total is exact in both engines;
    // every derived double is per-row IEEE on those exact values.
    QueryDef("x80_mixture_weights",
      (s, dir) => ordered(Sampling.mixtureWeights(
        t(s, dir, "documents"), "source", "text",
        tokenBudget = 1000000L, alpha = 0.5)),
      Some("""WITH per AS (
          SELECT source AS stratum, COUNT(*) AS n_docs,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL GROUP BY source),
        m AS (
          SELECT stratum, n_docs, n_tokens,
            CAST(POW(CAST(n_tokens AS DOUBLE), 0.5) AS DECIMAL(18,6)) AS mass
          FROM per),
        w AS (
          SELECT stratum, n_docs, n_tokens,
            CAST(mass AS DOUBLE) /
              CAST((SELECT SUM(mass) FROM m) AS DOUBLE) AS weight
          FROM m)
        SELECT stratum, n_docs, n_tokens, weight,
          CAST(FLOOR(1000000.0 * weight) AS BIGINT) AS draw_tokens,
          CAST(FLOOR(1000000.0 * weight) AS BIGINT) / CAST(n_tokens AS DOUBLE)
            AS epochs
        FROM w
        """ + orderedSql(Seq("stratum", "n_docs", "n_tokens", "weight",
          "draw_tokens", "epochs")))),

    // x81 — cluster-balanced diversity subset (the DCLM/SemDeDup
    // "diversify" step after dedup): every vector assigned to its
    // arg-max stride-seed cell (the x7 plan-literal contract), ranked
    // within the cell by round(cosine,6) to the centroid with an id
    // tie-break, top 10 kept per cell — a fixed quota per region of
    // embedding space. Assignment arg-max is full-precision in both
    // engines; the rank and cutoff are on the rounded value.
    QueryDef("x81_cluster_balanced",
      (s, dir) => ordered(Similarity.clusterBalancedSample(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        seedStride = 251, cap = 10)),
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        seeds AS (
          SELECT id AS seed_id, v AS seed_v FROM base WHERE id % 251 = 0),
        assigned AS (
          SELECT base.id,
            arg_max(seed_id, list_cosine_similarity(v, seed_v)) AS cell,
            ROUND(MAX(list_cosine_similarity(v, seed_v)), 6) AS sim
          FROM base, seeds GROUP BY base.id),
        r AS (
          SELECT id AS vec_id, cell, sim,
            row_number() OVER (
              PARTITION BY cell ORDER BY sim DESC, id) AS rnk
          FROM assigned)
        SELECT vec_id, cell, sim, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 10
        """ + orderedSql(Seq("vec_id", "cell", "sim", "rnk")))),

    // x82 — DSIR importance weights (Xie et al., NeurIPS 2023): per-doc
    // log importance ratio of hashed-bigram features under the target
    // distribution (src0 as the stand-in target domain) vs the rest.
    // Buckets use the portable rolling fingerprint of the bigram string
    // (x4/x51 spelling) mod 16; per-bucket log-ratios round to 6dp and
    // route through DECIMAL(18,6) so the per-doc sum is order-exact.
    QueryDef("x82_dsir_weights",
      (s, dir) => ordered(Sampling.dsirWeights(
        t(s, dir, "documents"), "doc_id", "text",
        targetPred = col("source") === "src0", dim = 16)),
      Some(s"""WITH tok AS (
          SELECT doc_id, (source = 'src0') AS is_target,
            string_split(text, ' ') AS ts
          FROM documents WHERE text IS NOT NULL),
        ix AS (
          SELECT doc_id, is_target, ts,
            unnest(generate_series(1, len(ts) - 1)) AS i
          FROM tok),
        bg AS (
          SELECT doc_id, is_target, ts[i] || ' ' || ts[i + 1] AS g
          FROM ix),
        feats AS (
          SELECT doc_id, is_target,
            ${rollingFoldSql("g")} % 16 AS bucket,
            COUNT(*) AS cnt
          FROM bg GROUP BY 1, 2, 3),
        bc AS (
          SELECT bucket,
            CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT)
              AS ct,
            CAST(SUM(CASE WHEN is_target THEN 0 ELSE cnt END) AS BIGINT)
              AS cs
          FROM feats GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(ct) AS BIGINT) AS tt,
            CAST(SUM(cs) AS BIGINT) AS ts2 FROM bc),
        ratio AS (
          SELECT bucket,
            CAST(ROUND(ln((ct + 1.0) / (tt + 16.0)) -
              ln((cs + 1.0) / (ts2 + 16.0)), 6) AS DECIMAL(18,6)) AS lam
          FROM bc CROSS JOIN tot)
        SELECT f.doc_id, f.is_target,
          CAST(SUM(f.cnt) AS BIGINT) AS n_bigrams,
          CAST(SUM(r.lam * f.cnt) AS DOUBLE) AS logw
        FROM feats f JOIN ratio r USING (bucket)
        GROUP BY 1, 2
        """ + orderedSql(Seq("doc_id", "is_target", "n_bigrams", "logw")))),

    // x84 — DSIR scoring via the EXPORTED frozen model (the lmModel/
    // lmScores pattern applied to x82): bucket stats collected once as
    // a dim-row decimal plan literal, then every document scored in ONE
    // stateless per-row projection — the shape that runs unchanged on a
    // stream. Oracle = x82's arithmetic minus the is_target column;
    // scores are bit-equal to the distributed aggregate (SamplingSpec).
    QueryDef("x84_dsir_scored",
      (s, dir) => {
        val model = Sampling.dsirModel(t(s, dir, "documents"),
          "doc_id", "text", targetPred = col("source") === "src0", dim = 16)
        ordered(Sampling.dsirScore(t(s, dir, "documents"),
          "doc_id", "text", model))
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, (source = 'src0') AS is_target,
            string_split(text, ' ') AS ts
          FROM documents WHERE text IS NOT NULL),
        ix AS (
          SELECT doc_id, is_target, ts,
            unnest(generate_series(1, len(ts) - 1)) AS i
          FROM tok),
        bg AS (
          SELECT doc_id, is_target, ts[i] || ' ' || ts[i + 1] AS g
          FROM ix),
        feats AS (
          SELECT doc_id, is_target,
            ${rollingFoldSql("g")} % 16 AS bucket,
            COUNT(*) AS cnt
          FROM bg GROUP BY 1, 2, 3),
        bc AS (
          SELECT bucket,
            CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT)
              AS ct,
            CAST(SUM(CASE WHEN is_target THEN 0 ELSE cnt END) AS BIGINT)
              AS cs
          FROM feats GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(ct) AS BIGINT) AS tt,
            CAST(SUM(cs) AS BIGINT) AS ts2 FROM bc),
        ratio AS (
          SELECT bucket,
            CAST(ROUND(ln((ct + 1.0) / (tt + 16.0)) -
              ln((cs + 1.0) / (ts2 + 16.0)), 6) AS DECIMAL(18,6)) AS lam
          FROM bc CROSS JOIN tot)
        SELECT f.doc_id,
          CAST(SUM(f.cnt) AS BIGINT) AS n_bigrams,
          CAST(SUM(r.lam * f.cnt) AS DOUBLE) AS logw
        FROM feats f JOIN ratio r USING (bucket)
        GROUP BY 1
        """ + orderedSql(Seq("doc_id", "n_bigrams", "logw")))),

    // x83 — per-source dataset audit card: docs, tokens, exact-dup
    // rate, mean + DISCRETE p50/p90 length. Percentile cutoffs are
    // pure integer arithmetic (2·cum >= n, 10·cum >= 9·n) over
    // (source, length) count groups — no interpolation, no corpus-row
    // window, engine-exact.
    QueryDef("x83_dataset_card",
      (s, dir) => ordered(TextAnalysis.datasetCard(
        t(s, dir, "documents"), "source", "text", "n_chars")),
      Some("""WITH base AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM documents GROUP BY 1),
        uq AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_uniq_texts
          FROM (SELECT source, md5(text) AS h FROM documents GROUP BY 1, 2)
          GROUP BY 1),
        lc AS (
          SELECT source, n_chars AS len, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        cm AS (
          SELECT source, len,
            SUM(c) OVER (PARTITION BY source ORDER BY len
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM lc),
        pct AS (
          SELECT cm.source,
            MIN(CASE WHEN cum * 2 >= b.n_docs THEN len END) AS p50_chars,
            MIN(CASE WHEN cum * 10 >= b.n_docs * 9 THEN len END)
              AS p90_chars
          FROM cm JOIN base b ON cm.source = b.source
          GROUP BY 1)
        SELECT source, b.n_docs, b.n_tokens, u.n_uniq_texts,
          (b.n_docs - u.n_uniq_texts) / CAST(b.n_docs AS DOUBLE)
            AS dup_rate,
          b.sum_chars / CAST(b.n_docs AS DOUBLE) AS mean_chars,
          p.p50_chars, p.p90_chars
        FROM base b
        JOIN uq u USING (source)
        JOIN pct p USING (source)
        """ + orderedSql(Seq("source", "n_docs", "n_tokens",
          "n_uniq_texts", "dup_rate", "mean_chars", "p50_chars",
          "p90_chars")))),

    // x85 — in-engine classifier TRAINING (the other half of x60's
    // inference): 3 full-batch perceptron epochs over hashed-unigram
    // counts + bias, label = "is src0" (the x82/x84 target contrast).
    // Exact by construction — lr 1/8 keeps every weight an integer
    // number of micro-units, so margins/updates/weights are all-Long
    // arithmetic with NO libm (the hard threshold needs no sigmoid);
    // the oracle unrolls the three epochs as CTE layers on the same
    // integers. Epoch 1 degenerates to "all y=1 docs misclassified"
    // (zero weights ⇒ margin 0 ⇒ predict 0), spelled directly.
    QueryDef("x85_train_perceptron",
      (s, dir) => ordered(TextAnalysis.perceptronTrain(
        t(s, dir, "documents"), "doc_id", "text",
        labelPred = col("source") === "src0", dim = 16, epochs = 3)),
      Some(s"""WITH tok AS (
          SELECT doc_id, (source = 'src0') AS y,
            unnest(string_split(text, ' ')) AS t
          FROM documents WHERE text IS NOT NULL),
        feats AS (
          SELECT doc_id, y, bucket, COUNT(*) AS cnt FROM (
            SELECT doc_id, y, ${rollingFoldSql("t")} % 16 AS bucket
            FROM tok
            UNION ALL
            SELECT doc_id, (source = 'src0') AS y, 16 AS bucket
            FROM documents WHERE text IS NOT NULL)
          GROUP BY 1, 2, 3),
        w1 AS (
          SELECT bucket,
            125000 * SUM(CASE WHEN y THEN cnt ELSE 0 END) AS m
          FROM feats GROUP BY 1),
        m2 AS (
          SELECT f.doc_id, f.y, SUM(w1.m * f.cnt) AS margin
          FROM feats f JOIN w1 USING (bucket) GROUP BY 1, 2),
        wr2 AS (
          SELECT doc_id, CASE WHEN y THEN 1 ELSE -1 END AS sign
          FROM m2 WHERE (margin > 0) <> y),
        d2 AS (
          SELECT f.bucket, SUM(wr2.sign * f.cnt) AS d
          FROM feats f JOIN wr2 USING (doc_id) GROUP BY 1),
        w2 AS (
          SELECT w1.bucket, w1.m + 125000 * COALESCE(d2.d, 0) AS m
          FROM w1 LEFT JOIN d2 USING (bucket)),
        m3 AS (
          SELECT f.doc_id, f.y, SUM(w2.m * f.cnt) AS margin
          FROM feats f JOIN w2 USING (bucket) GROUP BY 1, 2),
        wr3 AS (
          SELECT doc_id, CASE WHEN y THEN 1 ELSE -1 END AS sign
          FROM m3 WHERE (margin > 0) <> y),
        d3 AS (
          SELECT f.bucket, SUM(wr3.sign * f.cnt) AS d
          FROM feats f JOIN wr3 USING (doc_id) GROUP BY 1),
        w3 AS (
          SELECT w2.bucket, w2.m + 125000 * COALESCE(d3.d, 0) AS m
          FROM w2 LEFT JOIN d3 USING (bucket))
        SELECT bucket, w_micros, weight FROM (
          SELECT gs.bucket AS bucket,
            CAST(COALESCE(w3.m, 0) AS BIGINT) AS w_micros,
            CAST(COALESCE(w3.m, 0) AS BIGINT) / 1000000.0 AS weight
          FROM (SELECT unnest(generate_series(0, 16)) AS bucket) gs
          LEFT JOIN w3 ON gs.bucket = w3.bucket)
        """ + orderedSql(Seq("bucket", "w_micros", "weight")))),

    // x86 — in-engine BPE merge induction: top-10 learned merges over
    // the documents corpus (TextAnalysis.bpeLearnMerges — the producing
    // half of x14's merge application). The oracle unrolls the 10 merge
    // rounds as CTE layers (the x85 pattern) on the identical
    // double-space symbol strings: plain-string replace IS the merge
    // application in both engines, so every layer is engine-exact
    // integer arithmetic.
    QueryDef("x86_bpe_merges",
      (s, dir) => ordered(TextAnalysis.bpeLearnMerges(
        t(s, dir, "documents"), "text", k = 10)),
      Some {
        val k = 10
        val init = """s0 AS (
          SELECT '  ' || regexp_replace(w, '(?s)(.)', '\1  ', 'g') AS sym,
            cnt
          FROM (
            SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split(text, ' ')) AS t
              FROM documents WHERE text IS NOT NULL)
            WHERE t <> '' GROUP BY 1))"""
        val layers = (1 to k).map { r =>
          s"""p$r AS (
            SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c FROM (
              SELECT list_extract(l, i) AS s1,
                list_extract(l, i + 1) AS s2, cnt FROM (
                SELECT cnt, l,
                  unnest(generate_series(1, len(l) - 1)) AS i
                FROM (SELECT string_split(trim(sym), '  ') AS l, cnt
                      FROM s${r - 1})))
            GROUP BY 1, 2),
          m$r AS (SELECT s1, s2, c FROM p$r
                  ORDER BY c DESC, s1, s2 LIMIT 1),
          s$r AS (
            SELECT replace(sym, ' ' || m.s1 || '  ' || m.s2 || ' ',
              ' ' || m.s1 || m.s2 || ' ') AS sym, cnt
            FROM s${r - 1}, m$r m)"""
        }
        val rows = (1 to k).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_rank, s1, s2, " +
            s"c AS pair_count FROM m$r").mkString(" UNION ALL ")
        s"WITH $init, ${layers.mkString(", ")} SELECT * FROM ($rows) " +
          orderedSql(Seq("merge_rank", "s1", "s2", "pair_count"))
      }),

    // x88 — BPE ENCODE with the corpus-learned merges: the composed
    // train→apply tokenizer loop (x86 learns the merge table, this
    // segments every document with it) reported as per-source BPE
    // token counts + the chars-per-token compression ratio — the
    // number a tokenizer-training run actually publishes. The learned
    // merges ride as plain-string replace literals (the x86 argument);
    // word boundaries survive because the doc's own spaces become
    // space-symbols no learned pattern can span. The oracle re-learns
    // the same merges in the x86 CTE layers, then applies them in 10
    // doc-level replace layers on the same strings.
    QueryDef("x88_bpe_encoded",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = TextAnalysis.bpeLearnMerges(docs, "text", k = 10)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // the learned-BPE encode kernel is the CPU hot spot — rescue it
        // from the mirror's two-part scan (Parallelize.ensure; no-op at
        // scale)
        ordered(graft.ops.Parallelize.ensure(
            docs.filter(col("text").isNotNull))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast(LongType)).as("sum_chars"),
            sum(TextAnalysis.bpeTokenCountLearned(col("text"), merges))
              .as("sum_bpe_tokens"))
          .withColumn("chars_per_token",
            col("sum_chars").cast(DoubleType) /
              col("sum_bpe_tokens").cast(DoubleType)))
      },
      Some {
        val k = 10
        val init = """s0 AS (
          SELECT '  ' || regexp_replace(w, '(?s)(.)', '\1  ', 'g') AS sym,
            cnt
          FROM (
            SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split(text, ' ')) AS t
              FROM documents WHERE text IS NOT NULL)
            WHERE t <> '' GROUP BY 1))"""
        val learn = (1 to k).map { r =>
          s"""p$r AS (
            SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c FROM (
              SELECT list_extract(l, i) AS s1,
                list_extract(l, i + 1) AS s2, cnt FROM (
                SELECT cnt, l,
                  unnest(generate_series(1, len(l) - 1)) AS i
                FROM (SELECT string_split(trim(sym), '  ') AS l, cnt
                      FROM s${r - 1})))
            GROUP BY 1, 2),
          m$r AS (SELECT s1, s2, c FROM p$r
                  ORDER BY c DESC, s1, s2 LIMIT 1),
          s$r AS (
            SELECT replace(sym, ' ' || m.s1 || '  ' || m.s2 || ' ',
              ' ' || m.s1 || m.s2 || ' ') AS sym, cnt
            FROM s${r - 1}, m$r m)"""
        }
        val d0 = """d0 AS (
          SELECT source, len(text) AS nch,
            '  ' || regexp_replace(text, '(?s)(.)', '\1  ', 'g') AS sym
          FROM documents WHERE text IS NOT NULL)"""
        val apply = (1 to k).map { r =>
          s"""d$r AS (
            SELECT source, nch,
              replace(sym, ' ' || m.s1 || '  ' || m.s2 || ' ',
                ' ' || m.s1 || m.s2 || ' ') AS sym
            FROM d${r - 1}, m$r m)"""
        }
        s"WITH $init, ${learn.mkString(", ")}, $d0, " +
          s"${apply.mkString(", ")} " +
          """SELECT source, n_docs, sum_chars, sum_bpe_tokens,
            sum_chars / CAST(sum_bpe_tokens AS DOUBLE) AS chars_per_token
          FROM (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(nch) AS BIGINT) AS sum_chars,
              CAST(SUM(CASE WHEN trim(sym) = '' THEN 0
                ELSE len(string_split_regex(trim(sym), ' +')) END)
                AS BIGINT) AS sum_bpe_tokens
            FROM d""" + k + " GROUP BY 1) " +
          orderedSql(Seq("source", "n_docs", "sum_chars",
            "sum_bpe_tokens", "chars_per_token"))
      }),

    // x87 — TRAINED char-trigram language ID: fit the frozen per-lang
    // hashed-trigram model on the labeled corpus (the x84 frozen-model
    // pattern), score every doc in one stateless kernel projection,
    // arg-max with (score desc, lang asc) tie-break. All integer
    // micro-units after the 6-dp ln rounding (x73/x82 precedent); the
    // oracle builds the identical L×dim model in CTEs and arg-maxes
    // with the same tie-break.
    QueryDef("x87_lang_id_trained",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = TextAnalysis.langTrigramModel(
          docs, "lang", "text", dim = 64)
        ordered(TextAnalysis.langIdScore(docs, "doc_id", "text", model))
      },
      Some(s"""WITH tri AS (
          SELECT lang, ${rollingFoldSql("substr(text, i, 3)")} % 64
            AS bucket
          FROM (SELECT lang, text,
              unnest(generate_series(1, len(text) - 2)) AS i
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
              AND len(text) >= 3)),
        counts AS (
          SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM tri GROUP BY 1, 2),
        totals AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS t
          FROM tri GROUP BY 1),
        model AS (
          SELECT t.lang, gs.bucket,
            CAST(CAST(round(
              ln((COALESCE(c.c, 0) + 1) / CAST(t.t + 64 AS DOUBLE)), 6)
              AS DECIMAL(18, 6)) * 1000000 AS BIGINT) AS m
          FROM totals t
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) gs
          LEFT JOIN counts c ON c.lang = t.lang AND c.bucket = gs.bucket),
        dtri AS (
          SELECT doc_id, ${rollingFoldSql("substr(text, i, 3)")} % 64
            AS bucket
          FROM (SELECT doc_id, text,
              unnest(generate_series(1, len(text) - 2)) AS i
            FROM documents WHERE text IS NOT NULL AND len(text) >= 3)),
        scored AS (
          SELECT d.doc_id, m.lang,
            CAST(COUNT(*) AS BIGINT) AS n_trigrams,
            CAST(SUM(m.m) AS BIGINT) AS s
          FROM dtri d JOIN model m ON d.bucket = m.bucket
          GROUP BY 1, 2),
        best AS (
          SELECT doc_id, lang AS lang_pred, n_trigrams,
            s / 1000000.0 AS logp,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY s DESC, lang ASC) AS rk
          FROM scored)
        SELECT doc_id, lang_pred, n_trigrams, logp FROM best WHERE rk = 1
        """ + orderedSql(Seq("doc_id", "lang_pred", "n_trigrams",
          "logp")))),

    // x89 — HTML main-content extraction (the trafilatura/jusText
    // curation stage; VERDICT r10 item 3): the fixture has no raw HTML,
    // so each document is wrapped in a deterministic HTML-ish page
    // (title/style/script/nav/headline/paragraphs/ad/comment/footer —
    // the same concat in both engines), then the one text-density rule
    // extracts the main content. Spark runs the single-pass
    // HtmlKernel codegen scan; the oracle runs the identical rule in
    // its regex/HOF spelling (kernel ≡ spec property-pinned in
    // KernelPropertySpec). Boilerplate blocks (nav/ad/footer/title)
    // fail the >=30-code-point or half-alnum-density test; the
    // headline and both body paragraphs pass; script/style/comment
    // content never reaches a block at all.
    QueryDef("x89_main_content",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val html = concat(
          lit("<html><head><title>"), col("source"), lit("</title>"),
          lit("<style>body{margin:0}</style>"),
          lit("<script>var q=\""), col("lang"),
          lit("\"; if(q<\"zz\"){q=q+\"&amp;\"}</script>"),
          lit("</head><body>"),
          lit("<div id=\"nav\">home | docs | "), col("source"),
          lit("</div>"),
          lit("<h1>"), substring(col("text"), 1, 40), lit("</h1>"),
          lit("<p>"), substring(col("text"), 1, 120),
          lit(" &amp; tail &lt;"), col("lang"), lit("&gt;</p>"),
          lit("<div class=\"ad\">$$ !! ## "),
          (col("doc_id") % 100).cast(StringType), lit("</div>"),
          lit("<!-- hidden "), col("source"), lit(" -->"),
          lit("<p>"), substring(col("text"), 41, 100), lit("</p>"),
          lit("<div>(c) 2026 | all rights</div>"),
          lit("</body></html>"))
        val ex = TextAnalysis.htmlMainContent(html)
        ordered(d.select(col("doc_id"),
          ex.getField("n_blocks").as("n_blocks"),
          ex.getField("n_kept").as("n_kept"),
          length(ex.getField("main_text")).cast(LongType).as("kept_chars"),
          ex.getField("main_text").as("main_text")))
      },
      Some("""WITH h AS (
          SELECT doc_id,
            '<html><head><title>' || source || '</title>' ||
            '<style>body{margin:0}</style>' ||
            '<script>var q="' || lang ||
            '"; if(q<"zz"){q=q+"&amp;"}</script>' ||
            '</head><body>' ||
            '<div id="nav">home | docs | ' || source || '</div>' ||
            '<h1>' || substr(text, 1, 40) || '</h1>' ||
            '<p>' || substr(text, 1, 120) ||
            ' &amp; tail &lt;' || lang || '&gt;</p>' ||
            '<div class="ad">$$ !! ## ' ||
            CAST(doc_id % 100 AS VARCHAR) || '</div>' ||
            '<!-- hidden ' || source || ' -->' ||
            '<p>' || substr(text, 41, 100) || '</p>' ||
            '<div>(c) 2026 | all rights</div>' ||
            '</body></html>' AS html
          FROM documents WHERE text IS NOT NULL),
        f AS (
          SELECT doc_id, list_transform(
            string_split_regex(
              regexp_replace(regexp_replace(regexp_replace(html,
                '(?s)<script[^>]*>.*?</script>', '', 'g'),
                '(?s)<style[^>]*>.*?</style>', '', 'g'),
                '(?s)<!--.*?-->', '', 'g'),
              '<[^>]*>'),
            x -> trim(replace(replace(replace(replace(replace(x,
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', ''''), '&amp;', '&'), ' ')) AS fr
          FROM h),
        k AS (
          SELECT doc_id,
            list_filter(fr, t -> len(t) > 0) AS blocks,
            list_filter(fr, t -> len(t) >= 30 AND
              2 * len(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))
                >= len(t)) AS kept
          FROM f)
        SELECT doc_id,
          CAST(len(blocks) AS BIGINT) AS n_blocks,
          CAST(len(kept) AS BIGINT) AS n_kept,
          CAST(len(array_to_string(kept, chr(10))) AS BIGINT)
            AS kept_chars,
          array_to_string(kept, chr(10)) AS main_text
        FROM k
        """ + orderedSql(Seq("doc_id", "n_blocks", "n_kept",
          "kept_chars", "main_text")))),

    // x90 — URL canonicalization + per-domain dedup/cap (C4/RefinedWeb
    // crawl curation; VERDICT r10 item 4): the fixture has no URL
    // column, so each document gets a deterministic messy URL (mixed
    // scheme/host case, optional WWW, tracking params in every query
    // position, optional fragment — same concat in both engines). The
    // canonicalize step is a pure zero-shuffle projection chain; dedup
    // is one keyed aggregate; the cap is one PARTITIONED rank window
    // (keyed by the derived domain — the x57 per-source-cap shape).
    QueryDef("x90_url_canonical",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val idm = (m: Int) => (col("doc_id") % m).cast(StringType)
        val scheme = when(col("doc_id") % 3 === 0, lit("HTTPS://"))
          .when(col("doc_id") % 3 === 1, lit("http://"))
          .otherwise(lit("Https://"))
        val www = when(col("doc_id") % 2 === 0, lit("WWW."))
          .otherwise(lit(""))
        val qs = when(col("doc_id") % 4 === 0,
            concat(lit("?utm_source=feed&id="), idm(5),
              lit("&utm_campaign=x")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("?id="), idm(5), lit("&gclid=abc123")))
          .when(col("doc_id") % 4 === 2, concat(lit("?id="), idm(5)))
          .otherwise(lit(""))
        val frag = when(col("doc_id") % 5 === 0,
          concat(lit("#sec"), idm(3))).otherwise(lit(""))
        val url = concat(scheme, www, upper(col("source")),
          lit(".Example.COM/d/"), idm(40), qs, frag)
        ordered(UrlCanon.dedupWithDomainCap(
          d.select(col("doc_id"), url.as("url")),
          "doc_id", "url", cap = 3))
      },
      Some("""WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
                  WHEN doc_id % 3 = 1 THEN 'http://'
                  ELSE 'Https://' END) ||
            (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
            upper(source) || '.Example.COM/d/' ||
            CAST(doc_id % 40 AS VARCHAR) ||
            (CASE WHEN doc_id % 4 = 0 THEN
                    '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                      || '&utm_campaign=x'
                  WHEN doc_id % 4 = 1 THEN
                    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&gclid=abc123'
                  WHEN doc_id % 4 = 2 THEN
                    '?id=' || CAST(doc_id % 5 AS VARCHAR)
                  ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN
                    '#sec' || CAST(doc_id % 3 AS VARCHAR)
                  ELSE '' END) AS url
          FROM documents WHERE text IS NOT NULL),
        c AS (
          SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract(regexp_replace(url, '#.*', ''),
                      '^([^:/?#]+://[^/?#]*)', 1)) ||
                    regexp_extract(regexp_replace(url, '#.*', ''),
                      '^[^:/?#]+://[^/?#]*(.*)', 1),
                    '^([a-z][a-z0-9+.-]*://)www\.', '\1'),
                  '&(utm_[a-z]+|gclid|fbclid)=[^&#]*', '', 'g'),
                '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '?'),
              '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*$', '') AS curl0
          FROM u),
        c2 AS (
          SELECT doc_id, regexp_replace(curl0, '/$', '') AS canon_url
          FROM c),
        d AS (
          SELECT canon_url, MIN(doc_id) AS first_doc,
            COUNT(*) AS n_docs
          FROM c2 GROUP BY canon_url),
        r AS (
          SELECT regexp_extract(canon_url,
              '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS domain,
            canon_url, first_doc, n_docs,
            row_number() OVER (PARTITION BY regexp_extract(canon_url,
              '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
              ORDER BY first_doc, canon_url) AS rk
          FROM d)
        SELECT domain, canon_url, first_doc, n_docs, rk
        FROM r WHERE rk <= 3
        """ + orderedSql(Seq("domain", "canon_url", "first_doc",
          "n_docs", "rk")))),

    // x91 — the full Gopher quality rule suite (Rae et al. 2021,
    // App. A) as one native kernel scan + threshold projection. The
    // fixture text is plain prose, so a deterministic decoration (the
    // x89 wrap precedent, same CASE in both engines) gives the
    // symbol/bullet/ellipsis rules real bite: every 5th doc gets a
    // `# ` prefix and ` ...` suffix, the next residue a `- ` bullet
    // prefix. Lines are 8-word groups (shared convention — see
    // GopherKernel). Zero shuffle: one projection chain, plan-gated.
    QueryDef("x91_gopher_rules",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val deco = when(col("doc_id") % 5 === 0,
            concat(lit("# "), col("text"), lit(" ...")))
          .when(col("doc_id") % 5 === 1, concat(lit("- "), col("text")))
          .otherwise(col("text"))
        ordered(TextAnalysis.gopherRules(
          d.select(col("doc_id"), deco.as("text")), "doc_id", "text"))
      },
      Some(s"""WITH deco AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 0 THEN '# ' || text || ' ...'
              WHEN doc_id % 5 = 1 THEN '- ' || text
              ELSE text END AS text
          FROM documents WHERE text IS NOT NULL),
        tk AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks
          FROM deco),
        s1 AS (
          SELECT doc_id, toks,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(toks, t -> len(t)))
              AS BIGINT) AS sum_word_len,
            CAST(len(list_filter(toks,
              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
            CAST(len(list_filter(toks,
              t -> t IN ${sqlList(TextAnalysis.stopwords)}))
              AS BIGINT) AS n_stop,
            CAST(len(text) - len(replace(text, '#', ''))
              AS BIGINT) AS n_hash,
            CAST((len(text) - len(replace(text, '...', ''))) / 3
              AS BIGINT) AS n_ellipsis
          FROM tk),
        s2 AS (
          SELECT *, CAST(FLOOR((n_words + 7) / 8.0) AS BIGINT) AS n_lines
          FROM s1),
        s3 AS (
          SELECT doc_id, n_words, sum_word_len, n_alpha, n_stop, n_hash,
            n_ellipsis, n_lines,
            CAST(len(list_filter(range(0, n_lines),
              i -> substr(toks[CAST(8*i+1 AS INTEGER)], 1, 1)
                IN ('-', '*'))) AS BIGINT) AS n_bullet,
            CAST(len(list_filter(range(0, n_lines),
              i -> ends_with(toks[CAST(least(8*i+8, n_words) AS INTEGER)],
                '...'))) AS BIGINT) AS n_ell_lines
          FROM s2),
        r AS (
          SELECT doc_id, n_words,
            CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
            CAST(n_hash + n_ellipsis AS DOUBLE) / n_words AS symbol_ratio,
            CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
            CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
            CAST(n_ell_lines AS DOUBLE) / n_lines AS ellipsis_frac,
            n_stop AS stop_hits
          FROM s3),
        f AS (
          SELECT *,
            CAST((CASE WHEN n_words < 50 OR n_words > 100000
                THEN 1 ELSE 0 END)
              + (CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
                THEN 1 ELSE 0 END)
              + (CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
              + (CASE WHEN bullet_frac > 0.9 THEN 1 ELSE 0 END)
              + (CASE WHEN ellipsis_frac > 0.3 THEN 1 ELSE 0 END)
              + (CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END)
              + (CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_flags
          FROM r)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
          bullet_frac, ellipsis_frac, stop_hits, n_flags,
          CAST(CASE WHEN n_flags = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS pass_flag
        FROM f
        """ + orderedSql(Seq("doc_id", "n_words", "mean_word_len",
          "symbol_ratio", "alpha_frac", "bullet_frac", "ellipsis_frac",
          "stop_hits", "n_flags", "pass_flag")))),

    // x92 — CCNet-style per-language perplexity terciles (Wenzek et
    // al. 2020): the x73 bigram-LM score stratified head/middle/tail
    // within each language by exact ntile(3) over the deterministic
    // (avg_nll, doc_id) order. avg_nll is the x73 bit-deterministic
    // decimal-routed double, ntile is SQL-standard in both engines,
    // so the full composition is oracle-exact. The per-lang window is
    // partitioned (plan-gated globally); exchanges carry only
    // (id, lang, score) rows.
    QueryDef("x92_ccnet_buckets",
      (s, dir) => ordered(TextAnalysis.ccnetBuckets(
        t(s, dir, "documents"), "doc_id", "text", "lang")),
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL),
        pr AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
            unnest(t[2:len(t)]) AS w2
          FROM toks),
        big AS (SELECT w1, w2, COUNT(*) AS cb FROM pr GROUP BY w1, w2),
        prefix AS (SELECT w1, SUM(cb) AS cu FROM big GROUP BY w1),
        vocab AS (
          SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vsz FROM (
            SELECT w1 AS w FROM big UNION ALL SELECT w2 AS w FROM big)),
        scored AS (
          SELECT pr.doc_id,
            ROUND(-ln(CAST(big.cb + 1 AS DOUBLE)
              / (prefix.cu + vocab.vsz)), 6) AS nlp
          FROM pr JOIN big USING (w1, w2)
          JOIN prefix USING (w1)
          CROSS JOIN vocab),
        doc AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
            CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              AS avg_nll
          FROM scored GROUP BY doc_id),
        lng AS (
          SELECT d.doc_id, dd.lang, d.n_bigrams, d.avg_nll
          FROM doc d JOIN documents dd USING (doc_id)),
        nt AS (
          SELECT *, ntile(3) OVER (
            PARTITION BY lang ORDER BY avg_nll, doc_id) AS t
          FROM lng)
        SELECT doc_id, lang, n_bigrams, avg_nll,
          CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM nt
        """ + orderedSql(Seq("doc_id", "lang", "n_bigrams", "avg_nll",
          "bucket")))),

    // x93 — product-quantization ANN (Jégou et al., PAMI 2011): 4
    // subspaces × 16 dims, per-subspace codebooks from stride-50 seeds
    // + 2 Lloyd rounds, every vector encoded to 4 codes by the
    // PqKernel codegen scan, query answered by ADC table lookups.
    // Unlike x37 this is EXACT cross-engine: vectors snap to the x79
    // integer grid, centroids to the 1000×-finer milli grid (the one
    // rounded division both engines share), distances and ADC sums
    // are exact Longs, ties break (dist, cell). The oracle unrolls
    // the identical training + encode + ADC computation, generated
    // per-subspace below.
    QueryDef("x93_pq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.pqTrain(emb, "vec_id", "embedding",
          numSub = 4, subDim = 16, seedStride = 50, iters = 2)
        ordered(Similarity.pqTopK(emb, "vec_id", "embedding", model,
          queryId = 0L, k = 10))
      },
      Some(PqOracleSql.x93 + orderedSql(Seq("id") ++
        (0 until PqOracleSql.numSub).map(m => s"code$m") :+ "adc_dist"))),

    // x94 — PQ recall QA (the x76 analog for x93): ADC top-10 vs the
    // TRUE squared-L2 top-10 on the same integer grid (exact Long fold
    // in both engines — the report isolates quantization loss from
    // arithmetic noise). One row (k, n_hits, recall): the go/no-go
    // before swapping raw vectors for codes at corpus scale.
    QueryDef("x94_pq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.pqTrain(emb, "vec_id", "embedding",
          numSub = 4, subDim = 16, seedStride = 50, iters = 2)
        ordered(Similarity.pqRecall(emb, "vec_id", "embedding", model,
          queryId = 0L, k = 10))
      },
      Some(PqOracleSql.x94 +
        orderedSql(Seq("k", "n_hits", "recall")))),

    // x95 — IVF-PQ ANN (FAISS IVFPQ; Jégou et al. PAMI 2011 §V): the
    // canonical billion-scale layout — coarse k-means cells, each
    // vector stored as cell id + PQ codes of its RESIDUAL, query
    // probes its 2 closest cells and ranks candidates by ADC over
    // per-cell residual tables. Same all-integer contract as x93
    // (two shared rounded divisions: coarse mean, residual re-grid);
    // the generated oracle unrolls coarse train → residuals → the
    // x93 trainer → probe → per-cell tables identically.
    QueryDef("x95_ivfpq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.ivfPqTrain(emb, "vec_id", "embedding",
          coarseStride = 100, coarseIters = 1, numSub = 4, subDim = 16,
          pqStride = 50, pqIters = 1)
        ordered(Similarity.ivfPqTopK(emb, "vec_id", "embedding", model,
          queryId = 0L, k = 10, nProbe = 2))
      },
      Some(IvfPqOracleSql.sql + orderedSql(Seq("id", "cell") ++
        (0 until IvfPqOracleSql.numSub).map(m => s"code$m") :+
        "adc_dist"))),

    // x96 — the modern curation FUNNEL end to end (the C4/RefinedWeb/
    // Dolma stage order): wrap each doc in the deterministic HTML-ish
    // page (full text in the main paragraph this time), extract main
    // content (x89 kernel), gate on the full Gopher rule suite (x91
    // kernel, no decoration — the rules judge the EXTRACTED text),
    // then keep CCNet head+middle within each language (x92). One
    // audit row per stage: (stage, n_docs, sum_tokens) — the
    // shrinking-corpus report a data team reads before training.
    // Every stage reuses the proven oracle spelling verbatim.
    QueryDef("x96_curation_funnel",
      (s, dir) => {
        val (raw, extracted, quality, fin) = funnelStages(s, dir)
        def stage(name: String, df: DataFrame, tc: Column): DataFrame =
          df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(split(tc, " ", -1)).cast(LongType)),
              lit(0L)).as("sum_tokens"))
            .select(lit(name).as("stage"), col("n_docs"),
              col("sum_tokens"))
        ordered(stage("0_raw", raw, col("text"))
          .unionAll(stage("1_extracted", extracted, col("mt")))
          .unionAll(stage("2_quality", quality, col("mt")))
          .unionAll(stage("3_final", fin, col("mt"))))
      },
      Some(s"""WITH $funnelCtes
        SELECT * FROM (
          SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
            CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
              AS BIGINT) AS sum_tokens FROM raw
          UNION ALL
          SELECT '1_extracted', COUNT(*),
            CAST(COALESCE(SUM(len(string_split(mt, ' '))), 0) AS BIGINT)
          FROM e1
          UNION ALL
          SELECT '2_quality', COUNT(*),
            CAST(COALESCE(SUM(len(string_split(mt, ' '))), 0) AS BIGINT)
          FROM e2
          UNION ALL
          SELECT '3_final', COUNT(*),
            CAST(COALESCE(SUM(len(string_split(mt, ' '))), 0) AS BIGINT)
          FROM e3)
        """ + orderedSql(Seq("stage", "n_docs", "sum_tokens")))),

    // x97 — curated corpus → TRAINING SEQUENCES: the x96 funnel's
    // final head+middle set packed greedily into 2048-token sequences
    // (the x66 packing contract over the funnel survivors' extracted
    // text) — the last hop from raw crawl to what a training job
    // actually loads. Shared funnel CTEs/builder with x96 (can't
    // drift); the packing is the x66 window-cumsum spelling over e3.
    QueryDef("x97_funnel_pack",
      (s, dir) => {
        val (_, _, _, fin) = funnelStages(s, dir)
        ordered(TextAnalysis.packSequences(
          fin.select(col("doc_id"), col("mt")), "doc_id", "mt",
          seqLen = 2048))
      },
      Some(s"""WITH $funnelCtes,
        b AS (
          SELECT doc_id,
            CAST(len(string_split(mt, ' ')) AS BIGINT) AS n_tokens
          FROM e3),
        r AS (
          SELECT doc_id, n_tokens,
            CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_tok
          FROM b)
        SELECT doc_id, n_tokens, start_tok,
          CAST(FLOOR(start_tok / 2048) AS BIGINT) AS seq_id,
          CAST(start_tok % 2048 AS BIGINT) AS seq_pos,
          CAST(FLOOR((start_tok + n_tokens - 1) / 2048) AS BIGINT)
            - CAST(FLOOR(start_tok / 2048) AS BIGINT) + 1 AS n_seqs
        FROM r
        """ + orderedSql(Seq("doc_id", "n_tokens", "start_tok",
          "seq_id", "seq_pos", "n_seqs")))),

    // x98 — BM25 top-k retrieval for a literal query-term list (one
    // rare term, three common ones) — the corpus-search primitive over
    // the same tf/df statistics as x39/x62. r12 environment-proof
    // contract (see TextAnalysis.bm25TopK): both BM25 factors are
    // single IEEE divisions of EXACT integers (k1 = 120/100,
    // b = 75/100 folded into integer num/den; idf = ln((2n+2)/(2df+1)))
    // quantized at 6 dp into DECIMAL(18,6); the contribution is the
    // EXACT decimal product re-rounded at 6 dp; the per-doc sum is
    // DECIMAL-routed; the cut is (score DESC, doc_id). Zero libm in
    // tfn, one margin-pinned ln in idf (Bm25MarginSpec) — no
    // conforming engine/libm/round-impl can diverge.
    QueryDef("x98_bm25_search",
      (s, dir) => ordered(TextAnalysis.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("hash", "join", "window", "dup"),
        k1Pct = 120, bPct = 75, k = 12)),
      Some {
        // k1Pct = 120, bPct = 75 → integer coefficients
        // (k1Pct+100)·100 = 22000, k1Pct·(100−bPct) = 3000,
        // k1Pct·bPct = 9000 — all literals below are exact integers.
        s"""WITH base AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
            string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(dl) AS BIGINT) AS s
          FROM base),
        tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM base),
        tf AS (
          SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok WHERE term IN ('hash', 'join', 'window', 'dup')
          GROUP BY doc_id, dl, term),
        dfreq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM tf GROUP BY term),
        contrib AS (
          SELECT tf.doc_id AS doc_id, tf.dl AS dl,
            CAST(ROUND(
              CAST(ROUND(ln(CAST(2*n + 2 AS DOUBLE) /
                            CAST(2*df + 1 AS DOUBLE)), 6)
                AS DECIMAL(18,6)) *
              CAST(ROUND(CAST(tf * 22000 * s AS DOUBLE) /
                         CAST(10000*tf*s + 3000*s + 9000*dl*n AS DOUBLE),
                  6) AS DECIMAL(18,6)), 6)
              AS DECIMAL(18,6)) AS c
          FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
        SELECT * FROM (
          SELECT doc_id, dl, CAST(COUNT(*) AS BIGINT) AS n_hit,
            CAST(SUM(c) AS DECIMAL(18,6)) AS score
          FROM contrib GROUP BY doc_id, dl
          ORDER BY score DESC, doc_id LIMIT 12)
        """ + orderedSql(Seq("doc_id", "dl", "n_hit", "score"))
      }),

    // x99 — blocklist gate (C4/UT1 stage): frozen-phrase hit counts +
    // keep flag per doc, one BlocklistKernel scan (replace-count
    // contract; 'zzz' never occurs — the zero-count path is live).
    QueryDef("x99_blocklist",
      (s, dir) => ordered(TextAnalysis.blocklistFilter(
        t(s, dir, "documents"), "doc_id", "text", blockPats)),
      Some {
        val sumExpr = blockPats.map(p =>
          s"(len(text) - len(replace(text, '$p', ''))) / ${p.length}")
          .mkString(" + ")
        s"""SELECT doc_id, n_hits,
          CAST(CASE WHEN n_hits = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM (
          SELECT doc_id, CAST($sumExpr AS BIGINT) AS n_hits
          FROM documents)
        """ + orderedSql(Seq("doc_id", "n_hits", "keep"))
      }),

    // x100 — ExactSubstr duplicated-span scrub (Lee et al. 2022 shape):
    // any 8-token span in >= 2 docs survives only in the lowest doc_id;
    // other occurrences' positions are scrubbed (overlaps unioned).
    // Span keys are INTERNAL (r18): Spark keys windows with the 64-bit
    // gram-hash kernel, the oracle keys the same pipeline on md5 of
    // the space-joined gram — different keys, identical published
    // output (no published value contains a key; equal windows just
    // need equal keys on each side). Within-doc-only repeats untouched.
    QueryDef("x100_exact_substr",
      (s, dir) => ordered(Dedup.exactSubstrScrub(
        t(s, dir, "documents"), "doc_id", "text", k = 8)),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT doc_id, i AS p,
            md5(array_to_string(toks[i + 1 : i + 8], ' ')) AS fp
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i
            FROM base)),
        firsts AS (
          SELECT fp, MIN(doc_id) AS first_id
          FROM sh GROUP BY fp HAVING MIN(doc_id) < MAX(doc_id)),
        covraw AS (
          SELECT doc_id, unnest(generate_series(p, p + 7)) AS pos
          FROM sh JOIN firsts USING (fp) WHERE doc_id <> first_id),
        rem AS (
          SELECT doc_id, list_sort(list(DISTINCT pos)) AS rempos
          FROM covraw GROUP BY doc_id)
        SELECT b.doc_id AS doc_id,
          CAST(len(b.toks) AS BIGINT) AS n_tokens,
          CAST(COALESCE(len(r.rempos), 0) AS BIGINT) AS n_removed,
          COALESCE(array_to_string(list_transform(
            list_filter(range(len(b.toks)),
              i -> NOT list_contains(COALESCE(r.rempos, []), i)),
            i -> b.toks[i + 1]), ' '), '') AS kept_text
        FROM base b LEFT JOIN rem r USING (doc_id)
        """ + orderedSql(Seq("doc_id", "n_tokens", "n_removed",
          "kept_text")))),

    // x101 — interpolated Kneser–Ney bigram LM quality (the smoothing
    // the real CCNet/KenLM stack uses, upgrading x73's add-one):
    // absolute discount d=0.75 + continuation probabilities. Observed-
    // bigram scoring only (the x73 contract), so P is strictly in
    // (0,1); per-bigram IEEE rounded at 6 dp, per-doc mean
    // DECIMAL-routed.
    QueryDef("x101_kn_lm_quality",
      (s, dir) => ordered(TextAnalysis.knLmQuality(
        t(s, dir, "documents"), "doc_id", "text")),
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL),
        pr AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
            unnest(t[2:len(t)]) AS w2
          FROM toks),
        big AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
          FROM pr GROUP BY w1, w2),
        cuv AS (
          SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu,
            CAST(COUNT(*) AS BIGINT) AS n1f
          FROM big GROUP BY w1),
        np AS (
          SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p
          FROM big GROUP BY w2),
        bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM big),
        scored AS (
          SELECT pr.doc_id,
            ROUND(-ln(((big.cb - 0.75) / cuv.cu) +
              (((0.75 * cuv.n1f) / cuv.cu) *
                (CAST(np.n1p AS DOUBLE) / bt.bt))), 6) AS nlp
          FROM pr JOIN big USING (w1, w2) JOIN cuv USING (w1)
          JOIN np USING (w2) CROSS JOIN bt)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS avg_nll
        FROM scored GROUP BY doc_id
        """ + orderedSql(Seq("doc_id", "n_bigrams", "avg_nll")))),

    // x111 — interpolated Kneser–Ney TRIGRAM LM quality: the x101
    // recursion one order up (highest-order raw counts → continuation
    // counts → unigram continuation), proving the Chen & Goodman
    // back-off chain KenLM runs at 5-gram. Same determinism contract:
    // exact Long counts, one per-row IEEE expression spelled
    // identically here and in the operator, 6 dp round, DECIMAL mean.
    QueryDef("x111_kn_trigram_quality",
      (s, dir) => ordered(TextAnalysis.knTrigramQuality(
        t(s, dir, "documents"), "doc_id", "text")),
      Some(s"""WITH $kn3QualityCtes
        SELECT doc_id, n_trigrams, avg_nll FROM kn3q
        """ + orderedSql(Seq("doc_id", "n_trigrams", "avg_nll")))),

    // x115 — CCNet terciles scored by the TRIGRAM Kneser–Ney LM: the
    // x92 head/middle/tail machinery on the x111 score — the
    // closer-to-production configuration (CCNet's reference LM is a
    // 5-gram KenLM; x92's add-one bigram is the pedagogical twin).
    // Shares ONE kn3QualityCtes spelling with x111 so the gate cannot
    // drift from the score it gates by; same exact ntile(3) over the
    // deterministic (avg_nll, doc_id) order.
    QueryDef("x115_ccnet_kn3_buckets",
      (s, dir) => ordered(TextAnalysis.ccnetBucketsKn3(
        t(s, dir, "documents"), "doc_id", "text", "lang")),
      Some(s"""WITH $kn3QualityCtes,
        lng AS (
          SELECT d.doc_id, dd.lang, d.n_trigrams, d.avg_nll
          FROM kn3q d JOIN documents dd USING (doc_id)),
        nt AS (
          SELECT *, ntile(3) OVER (
            PARTITION BY lang ORDER BY avg_nll, doc_id) AS t
          FROM lng)
        SELECT doc_id, lang, n_trigrams, avg_nll,
          CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM nt
        """ + orderedSql(Seq("doc_id", "lang", "n_trigrams", "avg_nll",
          "bucket")))),

    // x102 — top principal direction of the embedding second-moment
    // matrix by power iteration (SemDeDup-style whitening prep): the
    // corpus-touching stage is ONE map-side-combined dim² aggregate;
    // the 3 matvec+renormalize rounds are exact integer arithmetic
    // both engines unroll identically.
    QueryDef("x102_top_pc",
      (s, dir) => ordered(Similarity.topPrincipalComponent(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        iters = TopPcOracleSql.iters, scale = TopPcOracleSql.scale.toLong)),
      Some(TopPcOracleSql.sql + orderedSql(Seq("comp", "v")))),

    // x103 — asymmetric containment dedup (best host per contained
    // doc): |A∩B|/|A| >= 0.5 within source blocks — the quote/excerpt
    // case symmetric Jaccard misses. Pair generation is the inverted
    // (block, token) id-only join; rank cut is a partitioned window.
    QueryDef("x103_containment",
      (s, dir) => ordered(Dedup.containmentTopHost(
        t(s, dir, "documents"), "doc_id", "text", "source",
        minContainment = 0.5)),
      Some("""WITH base AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents WHERE text IS NOT NULL),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT) AS shared,
            CAST(len(a.tok) AS BIGINT) AS na
          FROM base a JOIN base b
            ON a.source = b.source AND a.doc_id <> b.doc_id),
        c AS (
          SELECT a_id, b_id, shared,
            CAST(shared AS DOUBLE) / na AS containment
          FROM p WHERE CAST(shared AS DOUBLE) / na >= 0.5),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY containment DESC, b_id) AS rk
          FROM c)
        SELECT a_id, b_id, shared, containment FROM r WHERE rk = 1
        """ + orderedSql(Seq("a_id", "b_id", "shared", "containment")))),

    // x104 — UniMax token-budget waterfilling (epoch-capped budget
    // split): the all-integer closed form spelled identically in both
    // engines (sorted caps, the max-rank condition, floor-division
    // base + one-token remainder). E=3, B=70000 caps the two smallest
    // sources on this fixture and splits a 7-token remainder — every
    // branch of the contract is live.
    QueryDef("x104_unimax",
      (s, dir) => ordered(Sampling.unimaxAllocation(
        t(s, dir, "documents"), "source", "text",
        tokenBudget = 70000L, maxEpochs = 3L)),
      Some("""WITH per AS (
          SELECT source AS stratum,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c
          FROM documents WHERE text IS NOT NULL GROUP BY source),
        m AS (SELECT stratum, c, 3 * c AS cap FROM per),
        r AS (
          SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY cap, stratum) AS BIGINT)
              AS rk,
            CAST(SUM(cap) OVER (ORDER BY cap, stratum
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pfx,
            CAST(COUNT(*) OVER () AS BIGINT) AS n
          FROM m),
        k AS (
          SELECT COALESCE(MAX(CASE
            WHEN cap * (n - rk + 1) <= 70000 - (pfx - cap) THEN rk END),
            0) AS kstar FROM r),
        kp AS (
          SELECT kstar,
            COALESCE((SELECT pfx FROM r WHERE rk = kstar), 0) AS pk,
            (SELECT MAX(n) FROM r) AS n FROM k),
        b AS (
          SELECT kstar, pk,
            CASE WHEN n > kstar
              THEN (70000 - pk) // (n - kstar) ELSE 0 END AS fair,
            CASE WHEN n > kstar
              THEN (70000 - pk) % (n - kstar) ELSE 0 END AS rem
          FROM kp)
        SELECT stratum, c AS n_tokens, cap,
          CAST(CASE WHEN rk <= kstar THEN cap
            WHEN rk - kstar <= rem THEN fair + 1 ELSE fair END
            AS BIGINT) AS alloc,
          CAST(CASE WHEN rk <= kstar THEN cap
            WHEN rk - kstar <= rem THEN fair + 1 ELSE fair END
            AS DOUBLE) / c AS epochs
        FROM r CROSS JOIN b
        """ + orderedSql(Seq("stratum", "n_tokens", "cap", "alloc",
          "epochs")))),

    // x105 — corpus-drift KL report between snapshots (the x69
    // snapshot pair reused): per-token signed contribution to
    // KL(old‖new) over add-one-smoothed unigram distributions on the
    // union vocabulary — which tokens drive the drift.
    QueryDef("x105_corpus_kl",
      (s, dir) => {
        val v1 = t(s, dir, "documents")
        val v2 = v1.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .union(v1.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        ordered(TextAnalysis.corpusKlReport(v1, v2, "text"))
      },
      Some("""WITH v2 AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
              AS text
          FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text
          FROM documents WHERE doc_id % 11 = 0),
        c1 AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL) GROUP BY w),
        c2 AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w
            FROM v2 WHERE text IS NOT NULL) GROUP BY w),
        j AS (
          SELECT COALESCE(c1.w, c2.w) AS token,
            COALESCE(c1.c, 0) AS c_old, COALESCE(c2.c, 0) AS c_new
          FROM c1 FULL OUTER JOIN c2 ON c1.w = c2.w),
        st AS (
          SELECT CAST(SUM(c_old) AS BIGINT) AS n1,
            CAST(SUM(c_new) AS BIGINT) AS n2,
            CAST(COUNT(*) AS BIGINT) AS v FROM j)
        SELECT token, c_old, c_new,
          ROUND(((c_old + 1) / (n1 + v)) *
            ln(((c_old + 1) / (n1 + v)) / ((c_new + 1) / (n2 + v))), 6)
            AS contrib
        FROM j CROSS JOIN st
        """ + orderedSql(Seq("token", "c_old", "c_new", "contrib")))),

    // x106 — text normalization (the CCNet pre-LM / pre-dedup-key
    // stage): lower → explicit translate accent fold → whitespace-run
    // collapse → trim, as a pure chain of codegen built-ins. The
    // fixture is ASCII, so each doc gets a deterministic accented +
    // messy-whitespace decoration (the x91 precedent) — every path of
    // the contract is live in the oracle comparison.
    QueryDef("x106_normalize",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val page = when(col("doc_id") % 3 === 0,
            concat(lit("ÀÉÎÕÜ  Çà\t"), col("text"), lit("  ")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit("\n\nhÉllo wÖrld")))
          .otherwise(col("text"))
        val norm = TextAnalysis.normalizeText(page)
        ordered(docs.select(col("doc_id"), norm.as("norm_text"),
          length(norm).cast(LongType).as("n_chars")))
      },
      Some {
        val from = TextAnalysis.AccentFrom
        val to = TextAnalysis.AccentTo
        s"""WITH page AS (
          SELECT doc_id, CASE
            WHEN doc_id % 3 = 0
              THEN 'ÀÉÎÕÜ  Çà' || chr(9) || text || '  '
            WHEN doc_id % 3 = 1
              THEN text || chr(10) || chr(10) || 'hÉllo wÖrld'
            ELSE text END AS t
          FROM documents),
        n AS (
          SELECT doc_id, trim(regexp_replace(
            translate(lower(t), '$from', '$to'),
            '[ ' || chr(9) || chr(10) || chr(13) || ']+', ' ', 'g'))
            AS norm_text
          FROM page)
        SELECT doc_id, norm_text,
          CAST(len(norm_text) AS BIGINT) AS n_chars
        FROM n
        """ + orderedSql(Seq("doc_id", "norm_text", "n_chars"))
      }),

    // x107 — perceptual image-hash dedup (LAION-style): deterministic
    // four-quadrant PNGs per doc go through the REAL encode → decode →
    // aHash64 pipeline; equal hashes group to a canonical id. The
    // oracle predicts each hash ANALYTICALLY from the generator
    // arithmetic (solid quadrants make every aHash cell equal its
    // quadrant gray; bit test is exact-integer 4·g_q ≥ Σg), so a wrong
    // codec, wrong cell partition, or wrong bit order all hash-fail.
    QueryDef("x107_image_hash_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val assets = Multimodal.syntheticQuadImages(t(s, dir, "documents"))
        // barrier: `hashes` feeds the group aggregate AND the re-join —
        // without it the encode+decode codec pass ran TWICE (r17
        // per-stage audit: two ~3 s serial stages)
        val hashes = Multimodal.imageAHashes(assets).toDF()
          .select(col("doc_id"), col("ahash"))
          .localCheckpoint(eager = false)
        val groups = hashes.groupBy("ahash")
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("group_n"))
        ordered(hashes.join(groups, "ahash")
          .select(col("doc_id"), col("ahash"), col("canonical_id"),
            col("group_n")))
      },
      Some {
        val maskTL = 0x0F0F0F0FL; val maskTR = 0xF0F0F0F0L
        val maskBL = 0x0F0F0F0F00000000L; val maskBR = 0xF0F0F0F000000000L
        val sum = "g0 + g1 + g2 + g3"
        s"""WITH q AS (
          SELECT doc_id,
            ((doc_id % 40) * 53 + 0) % 256 AS g0,
            ((doc_id % 40) * 53 + 17) % 256 AS g1,
            ((doc_id % 40) * 53 + 34) % 256 AS g2,
            ((doc_id % 40) * 53 + 51) % 256 AS g3
          FROM documents),
        h AS (
          SELECT doc_id, CAST(
            (CASE WHEN 4 * g0 >= $sum THEN $maskTL ELSE 0 END) +
            (CASE WHEN 4 * g1 >= $sum THEN $maskTR ELSE 0 END) +
            (CASE WHEN 4 * g2 >= $sum THEN $maskBL ELSE 0 END) +
            (CASE WHEN 4 * g3 >= $sum THEN $maskBR ELSE 0 END)
            AS BIGINT) AS ahash
          FROM q),
        d AS (
          SELECT ahash, MIN(doc_id) AS canonical_id,
            CAST(COUNT(*) AS BIGINT) AS group_n
          FROM h GROUP BY ahash)
        SELECT h.doc_id AS doc_id, h.ahash AS ahash,
          d.canonical_id AS canonical_id, d.group_n AS group_n
        FROM h JOIN d USING (ahash)
        """ + orderedSql(Seq("doc_id", "ahash", "canonical_id",
          "group_n"))
      }),

    // x108 — audio energy-hash dedup (the x107 pattern for sound):
    // deterministic square-wave WAVs go through the REAL RIFF/PCM
    // encode → decode → energy-hash pipeline; the oracle predicts
    // each hash analytically from the amplitude arithmetic (constant
    // |sample| per quarter ⇒ bit ⟺ 4·a_q ≥ Σa, the ×300 amplitude
    // scale cancelling in the cross-multiplication).
    QueryDef("x108_audio_hash_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val assets = Multimodal.syntheticSquareWavs(t(s, dir, "documents"))
        // barrier: same two-consumer double-decode fold as x107
        val hashes = Multimodal.audioEnergyHashes(assets).toDF()
          .select(col("doc_id"), col("ahash").as("ehash"))
          .localCheckpoint(eager = false)
        val groups = hashes.groupBy("ehash")
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("group_n"))
        ordered(hashes.join(groups, "ehash")
          .select(col("doc_id"), col("ehash"), col("canonical_id"),
            col("group_n")))
      },
      Some {
        val m0 = 0xFFFFL; val m1 = 0xFFFF0000L
        val m2 = 0xFFFF00000000L; val m3 = 0xFFFF000000000000L
        val sum = "a0 + a1 + a2 + a3"
        s"""WITH q AS (
          SELECT doc_id,
            ((doc_id % 25) * 31 + 0) % 100 AS a0,
            ((doc_id % 25) * 31 + 7) % 100 AS a1,
            ((doc_id % 25) * 31 + 14) % 100 AS a2,
            ((doc_id % 25) * 31 + 21) % 100 AS a3
          FROM documents),
        h AS (
          SELECT doc_id, CAST(
            (CASE WHEN 4 * a0 >= $sum THEN $m0 ELSE 0 END) +
            (CASE WHEN 4 * a1 >= $sum THEN $m1 ELSE 0 END) +
            (CASE WHEN 4 * a2 >= $sum THEN $m2 ELSE 0 END) +
            (CASE WHEN 4 * a3 >= $sum THEN $m3 ELSE 0 END)
            AS BIGINT) AS ehash
          FROM q),
        d AS (
          SELECT ehash, MIN(doc_id) AS canonical_id,
            CAST(COUNT(*) AS BIGINT) AS group_n
          FROM h GROUP BY ehash)
        SELECT h.doc_id AS doc_id, h.ehash AS ehash,
          d.canonical_id AS canonical_id, d.group_n AS group_n
        FROM h JOIN d USING (ehash)
        """ + orderedSql(Seq("doc_id", "ehash", "canonical_id",
          "group_n"))
      }),

    // x109 — CURRICULUM packing: the x66 packing contract ordered
    // easy→hard by the x73 perplexity score (avg_nll asc, doc_id
    // tie-break) instead of doc_id — curriculum learning's data-side
    // half. Shares the lmQualityCtes spelling with x73 (can't drift);
    // the cumsum is the same no-global-window two-pass shape.
    QueryDef("x109_curriculum_pack",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextAnalysis.lmQuality(docs, "doc_id", "text")
        // n_tokens = n_bigrams + 1 for EVERY doc lmQuality scores: a
        // scored doc's bigram count is len(tokens)−1 by construction
        // (consecutive pairs of the same whitespace split the oracle's
        // string_split spells), and sub-2-token docs are absent from
        // both the score and the oracle's lmq join. Deriving it here
        // drops the r19 plan's second documents scan + re-tokenize +
        // join shuffle — the x109 adjudication's plan fix (r20).
        val d = scored.select(col("doc_id"), col("avg_nll"),
          (col("n_bigrams") + lit(1L)).as("n_tokens"))
        ordered(TextAnalysis.packSequencesOrdered(
          d, Seq("avg_nll", "doc_id"), seqLen = 2048))
      },
      Some(s"""WITH $lmQualityCtes,
        b AS (
          SELECT lmq.doc_id AS doc_id, lmq.avg_nll AS avg_nll,
            CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
          FROM lmq JOIN documents d ON lmq.doc_id = d.doc_id),
        r AS (
          SELECT doc_id, avg_nll, n_tokens,
            CAST(SUM(n_tokens) OVER (ORDER BY avg_nll, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_tok
          FROM b)
        SELECT doc_id, avg_nll, n_tokens, start_tok,
          CAST(FLOOR(start_tok / 2048) AS BIGINT) AS seq_id,
          CAST(start_tok % 2048 AS BIGINT) AS seq_pos,
          CAST(FLOOR((start_tok + n_tokens - 1) / 2048) AS BIGINT)
            - CAST(FLOOR(start_tok / 2048) AS BIGINT) + 1 AS n_seqs
        FROM r
        """ + orderedSql(Seq("doc_id", "avg_nll", "n_tokens",
          "start_tok", "seq_id", "seq_pos", "n_seqs")))),

    // x110 — dedup-recall QA (the x76/x94 go/no-go for TEXT dedup):
    // recall of the portable-LSH candidate generator against exact
    // Jaccard >= 0.9 ground truth, plus candidate efficiency — the
    // numbers a team checks before trusting a banding config. Both
    // sides reuse proven spellings (x43's generated chain, x5's
    // all-pairs exact), shared so they cannot drift.
    QueryDef("x110_dedup_recall",
      (s, dir) => ordered(dedupRecallReport(t(s, dir, "documents"))),
      Some(s"""WITH ${PortableLshSql.chain(8, 4)},
        exact AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM base a JOIN base b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM exact JOIN cand USING (a_id, b_id))
        SELECT n_exact, n_cand, n_hit,
          CAST(n_hit AS DOUBLE) / n_exact AS recall,
          CAST(n_hit AS DOUBLE) / n_cand AS efficiency
        FROM ne CROSS JOIN nc CROSS JOIN nh
        """ + orderedSql(Seq("n_exact", "n_cand", "n_hit", "recall",
          "efficiency")))),

    // x112 — dedup-recall QA at CORPUS scale: the x110 report over a
    // deterministic md5-prefix sample (rate 0.5) of the documents.
    // x110's exact ground truth is all-pairs-within-block — fine for
    // fixtures, quadratic at corpus scale; sampling docs at rate r
    // cuts the exact side to ~r² of the pair volume while the recall
    // ESTIMATE stays unbiased (LSH candidacy of a pair depends only
    // on the two docs' own signatures, so candidates-within-sample ≡
    // the generator run on the sample). Same report builder as x110
    // (cannot drift); the oracle folds the identical hash predicate
    // into the shared chain's base.
    QueryDef("x112_dedup_recall_sampled",
      (s, dir) => ordered(dedupRecallReport(Sampling.hashSample(
        t(s, dir, "documents"), "doc_id", rate = 0.5))),
      Some {
        val where = "WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4)" +
          s" < '${Sampling.hexThreshold(0.5)}'"
        s"""WITH ${PortableLshSql.chain(8, 4, where)},
        exact AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM base a JOIN base b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM exact JOIN cand USING (a_id, b_id))
        SELECT n_exact, n_cand, n_hit,
          CAST(n_hit AS DOUBLE) / n_exact AS recall,
          CAST(n_hit AS DOUBLE) / n_cand AS efficiency
        FROM ne CROSS JOIN nc CROSS JOIN nh
        """ + orderedSql(Seq("n_exact", "n_cand", "n_hit", "recall",
          "efficiency"))
      }),

    // x116 — LSH S-curve calibration: does the banding THEORY match
    // this corpus? Per within-block pair of the x112 sample, the
    // analytic capture probability p = 1 − (1 − j^r)^b (r=2, b=4 —
    // the deployed x110/x112 config) is computed from the pair's
    // exact Jaccard as a short IEEE chain (squares only, no pow/libm),
    // quantized per pair to BIGINT micro-units via FLOOR(p·10⁶ + 0.5)
    // — the r13 portability rule: engine ROUND(double, n)
    // implementations differ near boundaries (multiply-based vs
    // shortest-repr — the r12 driver divergence), while FLOOR/·/+ are
    // core IEEE ops bit-identical in every engine, so the quantized
    // micros and their exact BIGINT sums hash-match unconditionally.
    // Alongside it the pair's MEASURED candidacy from the same
    // generator x110 proves. One row: expected vs measured candidate
    // counts (expected in micro-units), overall and for the j ≥ 0.9
    // near-dup band — the report that validates the md5 hash family
    // behaves uniformly enough to TRUST the x110/x112 recall math
    // before changing a banding config.
    QueryDef("x116_lsh_scurve",
      (s, dir) => {
        val d = Sampling.hashSample(t(s, dir, "documents"), "doc_id",
          rate = 0.5)
        val withSets = d.select(col("doc_id"), col("source"),
          Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.jaccardPairs(withSets, "doc_id", "tok",
          "source", minJaccard = 0.0)
        val cand = Dedup.portableLshPairs(d, "doc_id", "text",
            minEst = 0.0, k = 8, bands = 4, blockCol = col("source"))
          .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
        val j = col("jaccard")
        val q = lit(1.0) - j * j
        val q2 = q * q
        val pcu = floor((lit(1.0) - q2 * q2) * lit(1000000.0) + lit(0.5))
          .cast(LongType)
        ordered(pairs
          .join(cand, Seq("a_id", "b_id"), "left")
          .select(j.as("j"), pcu.as("pcu"),
            coalesce(col("hit"), lit(0L)).as("hit"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("pcu")).cast(LongType).as("expected_cand_u6"),
            sum(col("hit")).cast(LongType).as("n_cand_hits"),
            sum(when(col("j") >= 0.9, 1L)).cast(LongType).as("n_high"),
            sum(when(col("j") >= 0.9, col("pcu"))).cast(LongType)
              .as("expected_high_u6"),
            sum(when(col("j") >= 0.9, col("hit"))).cast(LongType)
              .as("n_high_hits")))
      },
      Some {
        val where = "WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4)" +
          s" < '${Sampling.hexThreshold(0.5)}'"
        s"""WITH ${PortableLshSql.chain(8, 4, where)},
        exact AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
              len(list_distinct(list_concat(a.toks, b.toks))) AS j
          FROM base a JOIN base b
            ON a.source = b.source AND a.doc_id < b.doc_id),
        scurve AS (
          SELECT a_id, b_id, j,
            CAST(FLOOR((1.0 -
              ((1.0 - (j*j)) * (1.0 - (j*j))) *
              ((1.0 - (j*j)) * (1.0 - (j*j)))) * 1000000.0 + 0.5)
              AS BIGINT) AS pcu
          FROM exact),
        hits AS (
          SELECT s.j, s.pcu,
            CASE WHEN c.a_id IS NOT NULL THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS hit
          FROM scurve s LEFT JOIN cand c USING (a_id, b_id))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(pcu) AS BIGINT) AS expected_cand_u6,
          CAST(SUM(hit) AS BIGINT) AS n_cand_hits,
          CAST(SUM(CASE WHEN j >= 0.9 THEN 1 END) AS BIGINT) AS n_high,
          CAST(SUM(CASE WHEN j >= 0.9 THEN pcu END) AS BIGINT)
            AS expected_high_u6,
          CAST(SUM(CASE WHEN j >= 0.9 THEN hit END) AS BIGINT)
            AS n_high_hits
        FROM hits
        """ + orderedSql(Seq("n_pairs", "expected_cand_u6",
          "n_cand_hits", "n_high", "expected_high_u6", "n_high_hits"))
      }),

    // x117 — padded-packing efficiency report: the complement of the
    // gapless x66/x97/x109 packing family for the no-cross-document-
    // attention regime — whole docs per sequence, padding is the
    // waste. Deterministic folded pairing (rank desc by tokens, rank
    // r mates with n+1−r; the pair shares one sequence iff it fits).
    // seqLen=96 makes ALL branches live on the fixture: some pairs
    // fit, some split, and a handful of docs are oversize-excluded.
    // All-integer arithmetic; fill_rate is the one IEEE division.
    QueryDef("x117_pad_pack",
      (s, dir) => ordered(TextAnalysis.foldPackReport(
          t(s, dir, "documents"), "doc_id", "text", "source",
          seqLen = 96)
        .withColumnRenamed("block", "source")),
      Some("""WITH base AS (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL),
        ov AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_oversize
          FROM base WHERE n_tokens > 96 GROUP BY source),
        d AS (SELECT * FROM base WHERE n_tokens <= 96),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_tokens DESC, doc_id) AS r,
            COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM d),
        pairs AS (
          SELECT a.source,
            CAST(SUM(CASE WHEN a.n_tokens + b.n_tokens <= 96
              THEN 1 ELSE 2 END) AS BIGINT) AS pair_bins,
            CAST(SUM(CASE WHEN a.n_tokens + b.n_tokens <= 96
              THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_fit
          FROM ranked a JOIN ranked b
            ON a.source = b.source AND b.r = a.cnt + 1 - a.r
          WHERE a.r < a.cnt + 1 - a.r
          GROUP BY a.source),
        stats AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM d GROUP BY source)
        SELECT s.source AS source, s.n_docs,
          CAST(COALESCE(o.n_oversize, 0) AS BIGINT) AS n_oversize,
          CAST(COALESCE(p.n_pairs_fit, 0) AS BIGINT) AS n_pairs_fit,
          CAST(COALESCE(p.pair_bins, 0) + (s.n_docs % 2) AS BIGINT)
            AS n_bins,
          s.sum_tokens,
          CAST(s.sum_tokens AS DOUBLE) /
            CAST((COALESCE(p.pair_bins, 0) + (s.n_docs % 2)) * 96
              AS DOUBLE) AS fill_rate
        FROM stats s LEFT JOIN pairs p USING (source)
        LEFT JOIN ov o USING (source)
        """ + orderedSql(Seq("source", "n_docs", "n_oversize",
          "n_pairs_fit", "n_bins", "sum_tokens", "fill_rate")))),

    // x118 — Zipf-law audit per source: least-squares slope of
    // ln(freq) vs ln(rank) over each block's token types (natural
    // text sits near −1; templated/over-deduplicated corpora flatten
    // or kink). r13 spelling (the r12 one rounded a decimal sum that
    // ties EXACTLY at the rounding digit — unfixable under any engine
    // ROUND): exact Long counts/ranks → per-row ln quantized to
    // BIGINT 4-dp units via FLOOR(ln·10⁴ + 0.5) (no engine ROUND) →
    // exact BIGINT regression sums, head-capped at rank ≤ 10⁵ so
    // every sum stays < 2^53 → the closed-form slope as a fixed IEEE
    // chain over exactly-converted doubles. Bit-identical
    // cross-engine unconditionally (see TextAnalysis.zipfAudit).
    QueryDef("x118_zipf_audit",
      (s, dir) => ordered(TextAnalysis.zipfAudit(
          t(s, dir, "documents"), "doc_id", "text", "source")
        .withColumnRenamed("block", "source")),
      Some("""WITH tf AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE text IS NOT NULL),
        freqs AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
          FROM tf GROUP BY source, tok),
        ranked AS (
          SELECT source, freq, CAST(ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY freq DESC, tok) AS BIGINT)
            AS rank
          FROM freqs),
        xy AS (
          SELECT source,
            CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 10000.0 + 0.5)
              AS BIGINT) AS xu,
            CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 10000.0 + 0.5)
              AS BIGINT) AS yu
          FROM ranked WHERE rank <= 100000),
        sums AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
            CAST(SUM(xu) AS BIGINT) AS sum_x_u4,
            CAST(SUM(yu) AS BIGINT) AS sum_y_u4,
            CAST(SUM(xu * yu) AS BIGINT) AS sum_xy_u8,
            CAST(SUM(xu * xu) AS BIGINT) AS sum_xx_u8
          FROM xy GROUP BY source)
        SELECT source, n_types, sum_x_u4, sum_y_u4, sum_xy_u8,
          sum_xx_u8,
          (CAST(n_types AS DOUBLE) * CAST(sum_xy_u8 AS DOUBLE)
              - CAST(sum_x_u4 AS DOUBLE) * CAST(sum_y_u4 AS DOUBLE)) /
          (CAST(n_types AS DOUBLE) * CAST(sum_xx_u8 AS DOUBLE)
              - CAST(sum_x_u4 AS DOUBLE) * CAST(sum_x_u4 AS DOUBLE))
            AS slope
        FROM sums
        """ + orderedSql(Seq("source", "n_types", "sum_x_u4",
          "sum_y_u4", "sum_xy_u8", "sum_xx_u8", "slope")))),

    // x119 — embedding-space drift between snapshots: the x105 drift
    // report for the vector modality. Deterministic md5 split stands
    // in for consecutive crawl snapshots; centroids on the x79 exact
    // integer grid; cosine over exact Long sums (counts cancel) and
    // the mean-shift L2 via cross-multiplied DECIMAL(19,0) factors
    // (no Long wrap) — the x93/x102 all-integer discipline, one
    // sqrt/division at the end, and both derived gauges published as
    // BIGINT micros via FLOOR(x·10⁶ + 0.5) (the r13 portability rule
    // — no engine ROUND touches a raw double). The early-warning
    // gauge for ANN indexes / SemDeDup thresholds / classifiers
    // trained on last month's corpus.
    QueryDef("x119_embedding_drift",
      (s, dir) => ordered(Similarity.embeddingDriftReport(
        t(s, dir, "embeddings"), "vec_id", "embedding", rate = 0.5)),
      Some {
        val thr = Sampling.hexThreshold(0.5)
        s"""WITH g AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS gv,
            CASE WHEN SUBSTR(md5(CAST(vec_id AS VARCHAR)), 1, 4)
              < '$thr' THEN 0 ELSE 1 END AS snap
          FROM embeddings WHERE embedding IS NOT NULL),
        dims AS (
          SELECT snap, i.i AS pos, CAST(SUM(gv[i.i]) AS BIGINT) AS s
          FROM g, (SELECT unnest(generate_series(1, 64)) AS i) i
          GROUP BY snap, i.i),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM g
          WHERE snap = 0),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM g
          WHERE snap = 1),
        ab AS (
          SELECT a.s AS sa, b.s AS sb, n_a, n_b
          FROM (SELECT pos, s FROM dims WHERE snap = 0) a
          JOIN (SELECT pos, s FROM dims WHERE snap = 1) b USING (pos)
          CROSS JOIN na CROSS JOIN nb),
        agg AS (
          SELECT ANY_VALUE(n_a) AS n_a, ANY_VALUE(n_b) AS n_b,
            CAST(SUM(sa * sb) AS BIGINT) AS dot,
            CAST(SUM(sa * sa) AS BIGINT) AS norm_a_sq,
            CAST(SUM(sb * sb) AS BIGINT) AS norm_b_sq,
            CAST(SUM(
              CAST(CAST(sa AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
                - CAST(sb AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0))
                AS DECIMAL(18,0)) *
              CAST(CAST(sa AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
                - CAST(sb AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0))
                AS DECIMAL(18,0)))
              AS BIGINT) AS mean_shift_sq
          FROM ab)
        SELECT n_a, n_b, dot, norm_a_sq, norm_b_sq, mean_shift_sq,
          CAST(FLOOR((CAST(dot AS DOUBLE) /
            (sqrt(CAST(norm_a_sq AS DOUBLE)) *
              sqrt(CAST(norm_b_sq AS DOUBLE)))) * 1000000.0 + 0.5)
            AS BIGINT) AS cosine_u6,
          CAST(FLOOR((sqrt(CAST(mean_shift_sq AS DOUBLE)) /
            (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1000000.0
            + 0.5) AS BIGINT) AS mean_shift_u6
        FROM agg
        """ + orderedSql(Seq("n_a", "n_b", "dot", "norm_a_sq",
          "norm_b_sq", "mean_shift_sq", "cosine_u6", "mean_shift_u6"))
      }),

    // x120 — portable EXACT quantiles (the x114-pattern twin closing
    // x52's no-oracle gap): discrete per-group quantiles by pure rank
    // arithmetic — row_number over (value, id), pick rank
    // ceil(p·n) with integer-exact FLOOR((k·n+k)/d) indices. The
    // published values are parquet doubles (identical bits in both
    // engines), so the driver hash-checks the whole sort→index
    // pipeline shape x52 runs as a GK sketch. Production stays x52's
    // one-pass mergeable sketch; this window spelling is the
    // verification twin.
    QueryDef("x120_portable_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "events").filter(col("value").isNotNull)
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val ranked = e.select(col("event_type"), col("event_id"),
            col("value"))
          .withColumn("rk", row_number().over(w).cast(LongType))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy("event_type")).cast(LongType))
        ordered(ranked.groupBy("event_type")
          .agg(first(col("n")).as("n"),
            max(when(col("rk") ===
              floor((col("n") + 1) / 2), col("value"))).as("med"),
            max(when(col("rk") ===
              floor((lit(9) * col("n") + 9) / 10), col("value")))
              .as("p90"),
            max(when(col("rk") ===
              floor((lit(99) * col("n") + 99) / 100), col("value")))
              .as("p99")))
      },
      Some("""WITH e AS (
          SELECT event_type, event_id, value FROM events
          WHERE value IS NOT NULL),
        ranked AS (
          SELECT event_type, value,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY value, event_id) AS BIGINT) AS rk,
            CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM e)
        SELECT event_type, ANY_VALUE(n) AS n,
          MAX(CASE WHEN rk = FLOOR((n + 1) / 2) THEN value END) AS med,
          MAX(CASE WHEN rk = FLOOR((9 * n + 9) / 10) THEN value END)
            AS p90,
          MAX(CASE WHEN rk = FLOOR((99 * n + 99) / 100) THEN value END)
            AS p99
        FROM ranked GROUP BY event_type
        """ + orderedSql(Seq("event_type", "n", "med", "p90", "p99")))),

    // x121 — portable EXACT top-k tokens (the twin closing x68's
    // no-oracle gap): per-source exact frequency cut with the
    // deterministic (count desc, token) tie-break — the driver
    // hash-checks the explode→count→cut shape x68 runs as a
    // Misra–Gries bounded-state aggregate. Production stays x68's
    // mergeable N/k-error summary.
    QueryDef("x121_portable_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tf = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("source")
          .orderBy(col("cnt").desc, col("w").asc)
        ordered(tf.withColumn("rk", row_number().over(w).cast(LongType))
          .filter(col("rk") <= 8))
      },
      Some("""WITH tf AS (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL),
        cnts AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tf GROUP BY source, w),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY cnt DESC, w) AS BIGINT) AS rk
          FROM cnts)
        SELECT source, w, cnt, rk FROM ranked WHERE rk <= 8
        """ + orderedSql(Seq("source", "w", "cnt", "rk")))),

    // x122 — portable corpus-level MinHash signatures + pairwise
    // source similarity (the twin closing x13's no-oracle gap): the
    // PortableLshSql md5-slice idiom at CORPUS granularity — per
    // source, each of 8 signature components is the min md5 slice
    // over the source's distinct tokens; pairwise estimated Jaccard
    // is the agreeing-component fraction. With x114/x120/x121 this
    // gives EVERY rows-only sketch in the suite an oracle-checked
    // portable twin (x8→x43, x9→x71, x15→x72, x16→x114, x52→x120,
    // x68→x121, x13→this). Production stays x13's one-pass xxhash64
    // minhashAgg.
    QueryDef("x122_portable_corpus_sig",
      (s, dir) => {
        // lazy-checkpoint barrier on the DISTINCT token table (r17,
        // the x122 retirement rework), which kills two plan
        // pathologies at once. (1) min() is duplicate-agnostic, so
        // Catalyst's RemoveRedundantAggregates deletes the inner
        // distinct and the md5 sketch evaluates on every token
        // OCCURRENCE (2 md5 per row × ~25 M rows at the 100×
        // fixture) instead of on the ~620 distinct (source, token)
        // pairs the spelling intends; the barrier pins the dedup so
        // the hashing runs on the vocabulary, not the corpus.
        // (2) both self-join sides derive from this subtree, and
        // without a barrier the whole corpus scan ran twice (once
        // per side). Downstream of the barrier everything is
        // vocabulary-sized. Measured: 3.70 → 1.14 s at 100×.
        val tok = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("tk"))
          .distinct()
          .localCheckpoint(eager = false)
        val minCols = (0 until 8).map(i =>
          min(substring(md5(concat(lit(s"${i / 4}|"), col("tk"))),
            (i % 4) * 8 + 1, 8)).as(s"s$i"))
        val sig = tok.groupBy("source")
          .agg(minCols.head, minCols.tail: _*)
        val a = sig.toDF("src_a" +: (0 until 8).map(i => s"a$i"): _*)
        val b = sig.toDF("src_b" +: (0 until 8).map(i => s"b$i"): _*)
        val agree = (0 until 8).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        ordered(a.join(broadcast(b), col("src_a") < col("src_b"))
          .select(col("src_a"), col("src_b"),
            agree.cast(LongType).as("n_agree"))
          .withColumn("est_jaccard",
            col("n_agree").cast(DoubleType) / lit(8).cast(DoubleType)))
      },
      Some {
        val mins = (0 until 8).map(i =>
          s"MIN(substr(md5('${i / 4}|' || tk), ${(i % 4) * 8 + 1}, 8))" +
            s" AS s$i").mkString(", ")
        val agree = (0 until 8).map(i =>
          s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (
          SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tk
          FROM documents WHERE text IS NOT NULL),
        sig AS (SELECT source, $mins FROM tok GROUP BY source)
        SELECT a.source AS src_a, b.source AS src_b,
          CAST($agree AS BIGINT) AS n_agree,
          CAST($agree AS DOUBLE) / CAST(8 AS DOUBLE) AS est_jaccard
        FROM sig a JOIN sig b ON a.source < b.source
        """ + orderedSql(Seq("src_a", "src_b", "n_agree", "est_jaccard"))
      }),

    // x123 — DOMAIN-level blocklist gate (r12 verdict item 6): the
    // C4/UT1 production gate composing x90's URL canonicalization
    // with x99's frozen-blocklist idea at the granularity those
    // pipelines actually key on — UT1 blocklists are DOMAIN lists,
    // and a host is blocked when ANY dot-suffix matches an entry.
    // URLs are the x90 deterministic messy construction plus a CDN
    // subdomain label on even ids, so BOTH match paths are live on
    // the fixture: odd src3/src11 docs hit their entry exactly, even
    // ones hit it as a PROPER suffix under cdn., cdn.src5 hits only
    // the cdn host (bare src5 keeps), and tracker.example.net never
    // fires (the x99 zero-hit-path convention). One per-row
    // projection — zero joins, zero shuffle (see
    // UrlCanon.domainBlocklistGate for the big-list equi-join swap).
    QueryDef("x123_domain_blocklist",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        ordered(UrlCanon.domainBlocklistGate(
          d.select(col("doc_id"), synthUrlCol.as("url")), "doc_id",
          "url",
          blockedDomains = Seq("src3.example.com", "src11.example.com",
            "cdn.src5.example.com", "tracker.example.net")))
      },
      Some(s"""WITH $urlDomainCtes,
        hit AS (
          SELECT doc_id, domain,
            list_intersect(
              list_transform(range(len(string_split(domain, '.'))),
                i -> array_to_string(
                  string_split(domain, '.')[i + 1:], '.')),
              ['src3.example.com', 'src11.example.com',
               'cdn.src5.example.com', 'tracker.example.net']) AS hits
          FROM dom)
        SELECT doc_id, domain,
          CAST(CASE WHEN domain IS NULL OR domain = '' THEN 0
            ELSE len(hits) END AS BIGINT) AS n_rules,
          list_min(hits) AS block_rule,
          CAST(CASE WHEN domain IS NULL OR domain = '' THEN 0
            WHEN len(hits) = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS keep
        FROM hit
        """ + orderedSql(Seq("doc_id", "domain", "n_rules",
          "block_rule", "keep")))),

    // x124 — interpolated Kneser–Ney 5-GRAM LM quality (r12 verdict
    // item 5 resolved by SHIPPING it): the x111 back-off recursion at
    // the order the production CCNet/KenLM stack actually runs, WITH
    // the KenLM-style count-prune ON (minCount=2 — the knob that
    // bounds the 5-gram model tables at 100 TB; singleton 5-grams are
    // ~corpus-sized, the ≥2 table is the repeated-5-gram mass). All
    // nine model tables derive from ONE pruned type table; pruned and
    // unobserved 5-grams are out of contract (unscored), docs with no
    // scored 5-gram emit no row — identical in both engines. The pr
    // CTE guards len(t) >= 5 (the kn3 negative-slice lesson).
    QueryDef("x124_kn5_quality",
      (s, dir) => ordered(TextAnalysis.kn5Quality(
        t(s, dir, "documents"), "doc_id", "text", minCount = 2)),
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL),
        pr AS (
          SELECT doc_id, unnest(t[1:len(t)-4]) AS w1,
            unnest(t[2:len(t)-3]) AS w2, unnest(t[3:len(t)-2]) AS w3,
            unnest(t[4:len(t)-1]) AS w4, unnest(t[5:len(t)]) AS w5
          FROM toks
          WHERE len(t) >= 5),
        t5 AS (
          SELECT w1, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS c5
          FROM pr GROUP BY w1, w2, w3, w4, w5 HAVING COUNT(*) >= 2),
        ctx5 AS (
          SELECT w1, w2, w3, w4, CAST(SUM(c5) AS BIGINT) AS ctx5,
            CAST(COUNT(*) AS BIGINT) AS n5f
          FROM t5 GROUP BY w1, w2, w3, w4),
        cont4 AS (
          SELECT w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS cont4
          FROM t5 GROUP BY w2, w3, w4, w5),
        mid4 AS (
          SELECT w2, w3, w4, CAST(SUM(cont4) AS BIGINT) AS mid4,
            CAST(COUNT(*) AS BIGINT) AS n4f
          FROM cont4 GROUP BY w2, w3, w4),
        cont3 AS (
          SELECT w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS cont3
          FROM cont4 GROUP BY w3, w4, w5),
        mid3 AS (
          SELECT w3, w4, CAST(SUM(cont3) AS BIGINT) AS mid3,
            CAST(COUNT(*) AS BIGINT) AS n3f
          FROM cont3 GROUP BY w3, w4),
        cont2 AS (
          SELECT w4, w5, CAST(COUNT(*) AS BIGINT) AS cont2
          FROM cont3 GROUP BY w4, w5),
        mid2 AS (
          SELECT w4, CAST(SUM(cont2) AS BIGINT) AS mid2,
            CAST(COUNT(*) AS BIGINT) AS n2f
          FROM cont2 GROUP BY w4),
        predt AS (
          SELECT w5, CAST(COUNT(*) AS BIGINT) AS pred
          FROM cont2 GROUP BY w5),
        btt AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM cont2),
        sc AS (
          SELECT pr.doc_id,
            ROUND(-ln(((t5.c5 - 0.75) / ctx5.ctx5) +
              (((0.75 * ctx5.n5f) / ctx5.ctx5) *
                (((cont4.cont4 - 0.75) / mid4.mid4) +
                  (((0.75 * mid4.n4f) / mid4.mid4) *
                    (((cont3.cont3 - 0.75) / mid3.mid3) +
                      (((0.75 * mid3.n3f) / mid3.mid3) *
                        (((cont2.cont2 - 0.75) / mid2.mid2) +
                          (((0.75 * mid2.n2f) / mid2.mid2) *
                            (CAST(predt.pred AS DOUBLE) /
                              btt.bt))))))))), 6) AS nlp
          FROM pr JOIN t5 USING (w1, w2, w3, w4, w5)
          JOIN ctx5 USING (w1, w2, w3, w4)
          JOIN cont4 USING (w2, w3, w4, w5)
          JOIN mid4 USING (w2, w3, w4)
          JOIN cont3 USING (w3, w4, w5)
          JOIN mid3 USING (w3, w4)
          JOIN cont2 USING (w4, w5)
          JOIN mid2 USING (w4)
          JOIN predt USING (w5) CROSS JOIN btt)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_5grams,
          CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS avg_nll
        FROM sc GROUP BY doc_id
        """ + orderedSql(Seq("doc_id", "n_5grams", "avg_nll")))),

    // x125 — fill-in-the-middle (FIM) training transform (Bavarian et
    // al. 2022): with md5-coin probability 0.5 a document is re-emitted
    // as <PRE>prefix<SUF>suffix<MID>middle at two deterministic 16-bit
    // md5 cut draws mod (len+1); the rest pass through verbatim (the
    // paper's joint objective). Pure stateless per-row projection —
    // zero shuffle (plan-gated), all integer/md5/substr primitives, so
    // the driver hash-checks the exact training bytes a rewriter would
    // materialize. It runs on a streaming frame as is (StreamingSpec).
    QueryDef("x125_fim_transform",
      (s, dir) => ordered(graft.ops.DataPipeline.fimTransform(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text", fimRate = 0.5)),
      Some(s"""WITH d AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
          FROM documents WHERE text IS NOT NULL),
        hx AS (
          SELECT doc_id, text, len,
            substr(md5('fim1|' || CAST(doc_id AS VARCHAR)), 1, 12) AS m1,
            substr(md5('fim2|' || CAST(doc_id AS VARCHAR)), 1, 12) AS m2,
            substr(md5('fimr|' || CAST(doc_id AS VARCHAR)), 1, 4) AS mr
          FROM d),
        h AS (
          SELECT doc_id, text, len,
            (CAST(${hex16Sql("substr(m1, 1, 4)")} AS BIGINT) * 4294967296
              + CAST(${hex16Sql("substr(m1, 5, 4)")} AS BIGINT) * 65536
              + CAST(${hex16Sql("substr(m1, 9, 4)")} AS BIGINT))
              % (len + 1) AS c1r,
            (CAST(${hex16Sql("substr(m2, 1, 4)")} AS BIGINT) * 4294967296
              + CAST(${hex16Sql("substr(m2, 5, 4)")} AS BIGINT) * 65536
              + CAST(${hex16Sql("substr(m2, 9, 4)")} AS BIGINT))
              % (len + 1) AS c2r,
            CASE WHEN mr < '${Sampling.hexThreshold(0.5)}'
              THEN 1 ELSE 0 END AS fim
          FROM hx),
        c AS (
          SELECT doc_id, text, len, fim,
            least(c1r, c2r) AS cut1, greatest(c1r, c2r) AS cut2
          FROM h),
        o AS (
          SELECT doc_id, CAST(fim AS BIGINT) AS fim,
            CAST(cut1 AS BIGINT) AS cut1, CAST(cut2 AS BIGINT) AS cut2,
            CASE WHEN fim = 1 THEN
              '<PRE>' || substr(text, 1, CAST(cut1 AS INTEGER)) ||
              '<SUF>' || substr(text, CAST(cut2 + 1 AS INTEGER),
                CAST(len - cut2 AS INTEGER)) ||
              '<MID>' || substr(text, CAST(cut1 + 1 AS INTEGER),
                CAST(cut2 - cut1 AS INTEGER))
            ELSE text END AS psm_text
          FROM c)
        SELECT doc_id, fim, cut1, cut2, psm_text,
          CAST(length(psm_text) AS BIGINT) AS n_chars_out
        FROM o
        """ + orderedSql(Seq("doc_id", "fim", "cut1", "cut2",
          "psm_text", "n_chars_out")))),

    // x126 — near-dup cluster REPRESENTATIVE selection: x33's clusters
    // with the keep policy production curation wants — keep the
    // highest-quality member (token count as the classic longest-doc
    // proxy; argmax by (quality desc, id asc) via two map-side
    // aggregates, no member window). Exactly one keep=1 per cluster;
    // singletons keep themselves. The oracle shares x33's recursive-CC
    // + exact-Jaccard pair spelling, so this green row proves the
    // SELECTION on the identical clustering x33 already proves.
    QueryDef("x126_cluster_reps",
      (s, dir) => {
        val base = t(s, dir, "documents")
        val withTok = base.select(col("doc_id"), col("source"),
          Dedup.tokenSet(col("text")).as("tok"))
        val pairs = Dedup.nearDupPairs(withTok, "doc_id", "tok", 0.9,
          numHashes = 96, bands = 24, blockCol = col("source"))
        val docs = base.select(col("doc_id"),
          coalesce(size(split(col("text"), " ")).cast(LongType),
            lit(0L)).as("n_tokens"))
        ordered(graft.ops.DataPipeline.clusterRepresentatives(
          docs, "doc_id", pairs, "a_id", "b_id", "n_tokens"))
      },
      Some("""WITH RECURSIVE toks AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
              len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs),
        reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
        docs AS (
          SELECT d.doc_id,
            CAST(COALESCE(l.comp, d.doc_id) AS BIGINT) AS component,
            CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
              AS n_tokens
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        best AS (
          SELECT component, MAX(n_tokens) AS bq
          FROM docs GROUP BY component),
        rep AS (
          SELECT d.component, MIN(d.doc_id) AS rep_id
          FROM docs d JOIN best b
            ON b.component = d.component AND d.n_tokens = b.bq
          GROUP BY d.component)
        SELECT d.doc_id, d.component AS component, d.n_tokens, r.rep_id,
          CAST(CASE WHEN d.doc_id = r.rep_id THEN 1 ELSE 0 END
            AS BIGINT) AS keep
        FROM docs d JOIN rep r ON r.component = d.component
        """ + orderedSql(Seq("doc_id", "d.component", "n_tokens",
          "rep_id", "keep")))),

    // x127 — weighted sampling WITHOUT replacement (Efraimidis &
    // Spirakis 2006 exponential keys): top-20 per source proportional
    // to token weight. u is an exact 48-bit md5 dyadic (bit-identical
    // IEEE), the one ln() call quantizes straight to BIGINT micros
    // (r13 rule, margin-pinned in SamplingSpec), the weight division
    // is exact integer floor division — ranks are pure integer
    // comparisons. Plan-gated WindowGroupLimit top-k.
    QueryDef("x127_weighted_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val docs = d.select(col("doc_id"), col("source"),
          coalesce(size(split(col("text"), " ")).cast(LongType),
            lit(0L)).as("n_tokens"))
        ordered(Sampling.weightedSampleTopK(
          docs, "doc_id", "source", "n_tokens", k = 20))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, source,
            CAST(COALESCE(len(string_split(text, ' ')), 0)
              AS BIGINT) AS weight,
            md5('wsr|' || CAST(doc_id AS VARCHAR)) AS dg
          FROM documents
          WHERE CAST(COALESCE(len(string_split(text, ' ')), 0)
            AS BIGINT) >= 1),
        h AS (
          SELECT doc_id, source, weight,
            CAST(${hex16Sql("substr(dg, 1, 4)")} AS BIGINT) * 4294967296
              + CAST(${hex16Sql("substr(dg, 5, 4)")} AS BIGINT) * 65536
              + CAST(${hex16Sql("substr(dg, 9, 4)")} AS BIGINT) AS h48
          FROM d),
        kq AS (
          SELECT doc_id, source, weight,
            CAST(FLOOR(-ln((CAST(h48 AS DOUBLE) + 0.5) /
              281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS lq
          FROM h),
        kk AS (
          SELECT doc_id, source, weight,
            (lq * 1000000) // weight AS key_units
          FROM kq),
        r AS (
          SELECT source, doc_id, weight, key_units,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY key_units, doc_id) AS BIGINT) AS rk
          FROM kk)
        SELECT source, doc_id, weight, key_units, rk
        FROM r WHERE rk <= 20
        """ + orderedSql(Seq("source", "doc_id", "weight",
          "key_units", "rk")))),

    // x128 — per-DOMAIN LM-quality leaderboard: the curation artifact
    // behind C4/UT1-style blocklist decisions — canonical domain
    // (x123's shared URL chain) joined to the trigram-KN scores
    // (x111's shared chain at the kn3s EXACT-SUM stage), rolled up to
    // the 10 worst domains by mean nll per TRIGRAM. The 6-dp decimal
    // sums stay exact through BOTH aggregation levels (the per-doc
    // IEEE means are never re-aggregated — the hazard the r13 margin
    // gate rejected in this op's first spelling), the micros
    // conversion is an exact integer-valued decimal cast (no FLOOR
    // boundary exists), the mean is exact integer floor division, and
    // the top-10 cut is a TakeOrdered on the domain-sized aggregate —
    // no corpus window, no FP anywhere.
    QueryDef("x128_domain_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val sums = TextAnalysis.kn3DocSums(d, "doc_id", "text")
        val dom = d.filter(col("text").isNotNull)
          .select(col("doc_id"), UrlCanon.urlDomain(
            UrlCanon.canonicalizeUrl(synthUrlCol)).as("domain"))
        val g = sums.join(dom, "doc_id")
          .groupBy("domain")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_trigrams")).as("n_trigrams"),
            (sum(col("sum_nll")) * lit(1000000L)).cast(LongType)
              .as("sum_nll_micros"))
          .withColumn("mean_nll_micros",
            expr("sum_nll_micros div n_trigrams"))
        ordered(g.orderBy(col("mean_nll_micros").desc, col("domain"))
          .limit(10))
      },
      Some(s"""WITH $urlDomainCtes,
        $kn3QualityCtes,
        j AS (
          SELECT dom.domain, kn3s.n_trigrams, kn3s.sum_nll
          FROM kn3s JOIN dom USING (doc_id)),
        g AS (
          SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams,
            CAST(SUM(sum_nll) * 1000000 AS BIGINT) AS sum_nll_micros
          FROM j GROUP BY domain),
        m AS (
          SELECT domain, n_docs, n_trigrams, sum_nll_micros,
            sum_nll_micros // n_trigrams AS mean_nll_micros
          FROM g),
        topd AS (
          SELECT * FROM m ORDER BY mean_nll_micros DESC, domain
          LIMIT 10)
        SELECT domain, n_docs, n_trigrams, sum_nll_micros,
          mean_nll_micros
        FROM topd
        """ + orderedSql(Seq("domain", "n_docs", "n_trigrams",
          "sum_nll_micros", "mean_nll_micros")))),

    // x129 — DOMAIN blocklist at the PRODUCTION configuration (r13
    // verdict item 6): identical output contract to x123, but the
    // blocklist is a TABLE (broadcast + exploded-suffix equi-join)
    // instead of a plan literal — the full UT1 list is multi-million
    // domains and cannot ride in a literal. The Scala side receives
    // deliberately MESSY entries (uppercase, www.-prefixed, a dup) to
    // prove the rule-table normalization end-to-end; the oracle
    // spells the already-normalized list, so a normalization bug
    // hash-fails here. The per-doc re-aggregate is map-side
    // combinable (suffix rows are co-located), so the one exchange
    // carries a single small row per doc. Equivalence to x123's
    // plan-literal gate on the same list is pinned in UrlCanonSpec;
    // the broadcast-join plan shape is gated in PlanQualitySpec.
    QueryDef("x129_blocklist_join",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val rules = Seq("WWW.Src3.Example.COM", "src11.example.com",
          "SRC11.EXAMPLE.COM", "cdn.src5.example.com",
          "www.tracker.example.net").toDF("rule")
        ordered(UrlCanon.domainBlocklistGateJoin(
          d.select(col("doc_id"), synthUrlCol.as("url")), "doc_id",
          "url", rules, "rule"))
      },
      Some(s"""WITH $urlDomainCtes,
        hit AS (
          SELECT doc_id, domain,
            list_intersect(
              list_transform(range(len(string_split(domain, '.'))),
                i -> array_to_string(
                  string_split(domain, '.')[i + 1:], '.')),
              ['src3.example.com', 'src11.example.com',
               'cdn.src5.example.com', 'tracker.example.net']) AS hits
          FROM dom)
        SELECT doc_id, domain,
          CAST(CASE WHEN domain IS NULL OR domain = '' THEN 0
            ELSE len(hits) END AS BIGINT) AS n_rules,
          list_min(hits) AS block_rule,
          CAST(CASE WHEN domain IS NULL OR domain = '' THEN 0
            WHEN len(hits) = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS keep
        FROM hit
        """ + orderedSql(Seq("doc_id", "domain", "n_rules",
          "block_rule", "keep")))),

    // x130 — retention cohort matrix over the events stream: users
    // cohorted by first-event day, counted per (cohort day, day
    // offset) — the standard growth-analytics artifact, all exact
    // date/count arithmetic (no FP). Two user-keyed map-side-
    // combinable aggregates + one co-partitioned user join; the final
    // aggregate is calendar-bounded. See ops/EventAnalytics.scala.
    QueryDef("x130_retention_cohorts",
      (s, dir) => ordered(graft.ops.EventAnalytics.retentionCohorts(
        t(s, dir, "events"), "user_id", "ts")),
      Some("""WITH f AS (
          SELECT user_id,
            CAST(MIN(DATE_TRUNC('day', ts)) AS TIMESTAMP) AS cohort_date
          FROM events GROUP BY user_id),
        a AS (
          SELECT DISTINCT user_id,
            CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d FROM events),
        j AS (
          SELECT a.user_id, f.cohort_date,
            datediff('day', f.cohort_date, a.d) AS day_offset
          FROM a JOIN f USING (user_id))
        SELECT cohort_date, CAST(day_offset AS BIGINT) AS day_offset,
          CAST(COUNT(*) AS BIGINT) AS n_users
        FROM j GROUP BY 1, 2
        """ + orderedSql(Seq("cohort_date", "day_offset", "n_users")))),

    // x131 — DOMAIN-level leakage-safe train/val/test split: the web-
    // corpus production variant of x54 (cluster-level) and x36 (doc-
    // level) — eval contamination on web data happens at the HOST
    // level, so the split keys on the canonical domain: every page of
    // a domain lands in one split, assignment is the tagged
    // md5-prefix convention (stable under corpus growth — a domain
    // never migrates as new pages arrive), unparseable URLs train
    // (fail-closed for eval attribution). One stateless projection,
    // zero shuffles beyond the presentation sort.
    QueryDef("x131_domain_split",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        ordered(UrlCanon.domainSplit(
          d.select(col("doc_id"), synthUrlCol.as("url")), "doc_id",
          "url", valRate = 0.1, testRate = 0.1))
      },
      Some(s"""WITH $urlDomainCtes
        SELECT doc_id, domain,
          CASE WHEN domain IS NULL OR domain = '' THEN 'train'
            WHEN substr(md5('dsplit|' || domain), 1, 4)
              < '${Sampling.hexThreshold(0.1)}' THEN 'test'
            WHEN substr(md5('dsplit|' || domain), 1, 4)
              < '${Sampling.hexThreshold(0.2)}' THEN 'val'
            ELSE 'train' END AS split
        FROM dom
        """ + orderedSql(Seq("doc_id", "domain", "split")))),

    // x132 — per-source Borda rank-fusion quality leaderboard: the
    // scale-free ensemble gate for signals with NO common scale
    // (ranks fuse where scores cannot — Borda's method, the integer-
    // exact cousin of RRF), complementing x128's common-scale
    // composition. Three deterministic integer signals (token count,
    // type count, mean-token-length micros by exact floor division),
    // three stratum rank windows over ONE exchange, integer Borda
    // sum, WindowGroupLimit top-5 cut. No FP anywhere — the published
    // row is unconditionally portable.
    QueryDef("x132_rank_fusion",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        ordered(graft.ops.DataPipeline.bordaTopK(
          d, "doc_id", "source", Seq(
            "tok" -> size(split(col("text"), " ")).cast(LongType),
            "typ" -> size(array_distinct(split(col("text"), " ")))
              .cast(LongType),
            "mtl" -> expr("(CAST(length(text) AS BIGINT) * 1000000)" +
              " div CAST(size(split(text, ' ')) AS BIGINT)")),
          k = 5))
      },
      Some("""WITH d AS (
          SELECT source, doc_id, string_split(text, ' ') AS t,
            CAST(length(text) AS BIGINT) AS ln
          FROM documents WHERE text IS NOT NULL),
        sig AS (
          SELECT source, doc_id,
            CAST(len(t) AS BIGINT) AS tok,
            CAST(len(list_distinct(t)) AS BIGINT) AS typ,
            (ln * 1000000) // CAST(len(t) AS BIGINT) AS mtl
          FROM d),
        r AS (
          SELECT source, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY tok DESC, doc_id) AS BIGINT) AS tok_rank,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY typ DESC, doc_id) AS BIGINT) AS typ_rank,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY mtl DESC, doc_id) AS BIGINT) AS mtl_rank
          FROM sig),
        b AS (
          SELECT source, doc_id, tok_rank, typ_rank, mtl_rank,
            tok_rank + typ_rank + mtl_rank AS borda
          FROM r),
        c AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY borda, doc_id) AS BIGINT) AS rk
          FROM b)
        SELECT source, doc_id, tok_rank, typ_rank, mtl_rank, borda, rk
        FROM c WHERE rk <= 5
        """ + orderedSql(Seq("source", "doc_id", "tok_rank",
          "typ_rank", "mtl_rank", "borda", "rk")))),

    // x133 — PER-DOMAIN boilerplate scrub: x45's repeated-chunk
    // removal with the document frequency counted WITHIN the
    // canonical domain (x90 chain) — the production refinement:
    // boilerplate (nav, footers, banners) is a per-SITE phenomenon,
    // so a corpus-global threshold either misses diluted template
    // mass or over-fires on common phrases. Same three key-balanced
    // shuffles, now keyed (domain, chunk-hash); the domain rides the
    // projection (zero extra joins — it derives per-row from the
    // URL). Oracle spells the identical scoped pipeline on md5 keys
    // (the x45 hashed-key argument).
    QueryDef("x133_domain_boilerplate",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val withDom = d.select(col("doc_id"), col("text"),
          UrlCanon.urlDomain(UrlCanon.canonicalizeUrl(synthUrlCol))
            .as("domain"))
        ordered(Dedup.dropRepeatedChunksScoped(withDom, "doc_id",
          "text", "domain", chunkSize = 5, maxDocFreq = 2))
      },
      Some(s"""WITH $urlDomainCtes,
        base AS (
          SELECT d.doc_id, dom.domain, string_split(d.text, ' ') AS toks
          FROM documents d JOIN dom ON d.doc_id = dom.doc_id
          WHERE d.text IS NOT NULL),
        ch AS (
          SELECT doc_id, domain, toks,
            unnest(generate_series(0,
              CAST(1 + floor((greatest(len(toks) - 5, 0) + 4) / 5)
                AS BIGINT) - 1)) AS chunk_id
          FROM base),
        chunks AS (
          SELECT doc_id, domain, chunk_id,
            array_to_string(toks[chunk_id * 5 + 1 : chunk_id * 5 + 5], ' ')
              AS chunk
          FROM ch),
        freq AS (
          SELECT domain, md5(chunk) AS k, COUNT(DISTINCT doc_id) AS df
          FROM chunks GROUP BY 1, 2)
        SELECT c.doc_id, c.domain AS scope,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped,
          COALESCE(string_agg(CASE WHEN f.df < 2 THEN c.chunk END, ' '
            ORDER BY c.chunk_id), '') AS kept_text
        FROM chunks c
        JOIN freq f ON c.domain = f.domain AND md5(c.chunk) = f.k
        GROUP BY c.doc_id, c.domain
        """ + orderedSql(Seq("doc_id", "scope", "n_chunks",
          "n_dropped", "kept_text")))),

    // x134 — Good–Turing vocabulary-saturation report per source: the
    // Turing missing-mass estimate p0 ~ n1/N — the fraction of FUTURE
    // tokens expected to be never-seen types, the coverage gauge read
    // before trusting a slice's statistics (and the n1/n2 inputs of
    // Simple-GT smoothing). All-integer publishing: exact counts +
    // exact floor-division micros, unconditionally portable. One
    // map-side-combinable (source, token) aggregate + a source-sized
    // rollup; the type table is Heaps-sublinear at 100 TB.
    QueryDef("x134_good_turing",
      (s, dir) => ordered(TextAnalysis.goodTuringReport(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "text", "source")),
      Some("""WITH types AS (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL),
        tc AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM types GROUP BY source, w)
        SELECT source,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_singletons,
          CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_doubletons,
          (CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000) // CAST(SUM(c) AS BIGINT) AS unseen_mass_micros
        FROM tc GROUP BY source
        """ + orderedSql(Seq("source", "n_tokens", "n_types",
          "n_singletons", "n_doubletons", "unseen_mass_micros")))),

    // x135 — ordered conversion funnel over `events`: the other
    // canonical product-analytics report next to x130's retention
    // matrix — per declared step (signup → view → click → purchase)
    // the users completing it IN ORDER (step k+1 counts only events
    // strictly after the user's first completion of step k), plus
    // step-over-step and step-over-first conversion micros. Every
    // step time is a MIN over timestamps (tie-free) and every rate an
    // exact BIGINT floor division — no FP anywhere. One linear chain
    // of user-keyed equi-joins; only (user, ts) ever shuffles.
    QueryDef("x135_funnel",
      (s, dir) => ordered(graft.ops.EventAnalytics.funnelReport(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))),
      Some("""WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
          WHERE e.event_type = 'view' GROUP BY 1),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
          WHERE e.event_type = 'click' GROUP BY 1),
        s4 AS (
          SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
          WHERE e.event_type = 'purchase' GROUP BY 1),
        c AS (SELECT
          (SELECT COUNT(*) FROM s1) AS n1,
          (SELECT COUNT(*) FROM s2) AS n2,
          (SELECT COUNT(*) FROM s3) AS n3,
          (SELECT COUNT(*) FROM s4) AS n4)
        SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
          CAST(n1 AS BIGINT) AS n_users,
          CAST(1000000 AS BIGINT) AS conv_prev_micros,
          CAST(1000000 AS BIGINT) AS conv_first_micros FROM c
        UNION ALL SELECT 2, 'view', n2,
          CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END,
          CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END FROM c
        UNION ALL SELECT 3, 'click', n3,
          CASE WHEN n2 = 0 THEN 0 ELSE (n3 * 1000000) // n2 END,
          CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) // n1 END FROM c
        UNION ALL SELECT 4, 'purchase', n4,
          CASE WHEN n3 = 0 THEN 0 ELSE (n4 * 1000000) // n3 END,
          CASE WHEN n1 = 0 THEN 0 ELSE (n4 * 1000000) // n1 END FROM c
        """ + orderedSql(Seq("step", "event_type", "n_users",
          "conv_prev_micros", "conv_first_micros")))),

    // x136 — Matryoshka truncation recall (Kusupati et al. 2022): the
    // x76 recall-QA harness pointed at DIMENSION truncation instead of
    // an index — brute-force cosine top-10 on the first 16 of 64 dims
    // vs full-dim brute force, per stride-sampled query. The gauge
    // read before serving truncated embeddings for cheap retrieval
    // dedup. Both top-k lists rank on round(cosine, 3) with the id
    // tie-break (the proven x76 portability contract).
    QueryDef("x136_mrl_recall",
      (s, dir) => ordered(Similarity.truncationRecallReport(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        queryStride = 97, k = 10, mDims = 16)),
      Some("""WITH base AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        qs AS (SELECT id AS q_id, v AS qv FROM base WHERE id % 97 = 0),
        brute AS (
          SELECT q_id, id FROM (
            SELECT q_id, base.id, row_number() OVER (
                PARTITION BY q_id
                ORDER BY ROUND(list_cosine_similarity(v, qv), 3)
                  DESC, base.id) AS rn
            FROM qs, base WHERE base.id <> q_id) WHERE rn <= 10),
        tr AS (
          SELECT q_id, id FROM (
            SELECT q_id, base.id, row_number() OVER (
                PARTITION BY q_id
                ORDER BY ROUND(list_cosine_similarity(v[1:16], qv[1:16]),
                  3) DESC, base.id) AS rn
            FROM qs, base WHERE base.id <> q_id) WHERE rn <= 10),
        m AS (
          SELECT b.q_id, COUNT(*) AS n_match
          FROM brute b JOIN tr i ON i.q_id = b.q_id AND i.id = b.id
          GROUP BY b.q_id)
        SELECT qs.q_id AS q_id,
          CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
          CAST(COALESCE(m.n_match, 0) AS DOUBLE) / 10 AS recall
        FROM qs LEFT JOIN m ON m.q_id = qs.q_id
        """ + orderedSql(Seq("q_id", "n_match", "recall")))),

    // x137 — Spearman rank-correlation audit between the x132 quality
    // signals, per source: the diagnostic read BEFORE trusting a rank
    // fusion — redundant signals (rho ~ 1) add nothing to Borda;
    // opposed signals (rho ~ -1) make the fused order near-arbitrary.
    // row_number ranks with the id tie-break (the x132 convention),
    // rho = 1 - 6*sum(d^2)/(n(n^2-1)) published as exact integer
    // micros (non-negative operands before the final subtraction, so
    // floor and truncating division agree). NULL for n < 2 strata.
    QueryDef("x137_spearman",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        ordered(graft.ops.DataPipeline.spearmanAudit(
          d, "doc_id", "source", Seq(
            "tok" -> size(split(col("text"), " ")).cast(LongType),
            "typ" -> size(array_distinct(split(col("text"), " ")))
              .cast(LongType),
            "mtl" -> expr("(CAST(length(text) AS BIGINT) * 1000000)" +
              " div CAST(size(split(text, ' ')) AS BIGINT)"))))
      },
      Some("""WITH d AS (
          SELECT source, doc_id, string_split(text, ' ') AS t,
            CAST(length(text) AS BIGINT) AS ln
          FROM documents WHERE text IS NOT NULL),
        sig AS (
          SELECT source, doc_id,
            CAST(len(t) AS BIGINT) AS tok,
            CAST(len(list_distinct(t)) AS BIGINT) AS typ,
            (ln * 1000000) // CAST(len(t) AS BIGINT) AS mtl
          FROM d),
        r AS (
          SELECT source, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY tok DESC, doc_id) AS BIGINT) AS r_tok,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY typ DESC, doc_id) AS BIGINT) AS r_typ,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY mtl DESC, doc_id) AS BIGINT) AS r_mtl
          FROM sig),
        a AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM((r_tok - r_typ) * (r_tok - r_typ)) AS BIGINT)
              AS d_tok_typ,
            CAST(SUM((r_tok - r_mtl) * (r_tok - r_mtl)) AS BIGINT)
              AS d_tok_mtl,
            CAST(SUM((r_typ - r_mtl) * (r_typ - r_mtl)) AS BIGINT)
              AS d_typ_mtl
          FROM r GROUP BY source)
        SELECT source, 'tok~typ' AS pair, n, d_tok_typ AS sum_d2,
          CASE WHEN n < 2 THEN NULL ELSE
            1000000 - (6000000 * d_tok_typ) // (n * (n * n - 1)) END
            AS rho_micros FROM a
        UNION ALL SELECT source, 'tok~mtl', n, d_tok_mtl,
          CASE WHEN n < 2 THEN NULL ELSE
            1000000 - (6000000 * d_tok_mtl) // (n * (n * n - 1)) END
          FROM a
        UNION ALL SELECT source, 'typ~mtl', n, d_typ_mtl,
          CASE WHEN n < 2 THEN NULL ELSE
            1000000 - (6000000 * d_typ_mtl) // (n * (n * n - 1)) END
          FROM a
        """ + orderedSql(Seq("source", "pair", "n", "sum_d2",
          "rho_micros")))),

    // x138 — event-type transition matrix: the first-order Markov
    // view of user behavior, the companion diagnostic to x135 (the
    // funnel asks "do users follow THIS path"; the matrix shows which
    // paths they take). Per user, events in the tie-free (ts, id)
    // total order; every consecutive pair is one transition; per
    // ordered type pair the exact count and the row-normalized
    // probability micros by exact BIGINT floor division. One
    // user-keyed exchange feeds the lead window; everything after is
    // type^2-sized.
    QueryDef("x138_transitions",
      (s, dir) => ordered(graft.ops.EventAnalytics.transitionReport(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH p AS (
          SELECT user_id, event_type AS from_type,
            LEAD(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        m AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
          (n * 1000000)
            // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
            AS p_micros
        FROM m
        """ + orderedSql(Seq("from_type", "to_type", "n",
          "p_micros")))),

    // x139 — Heaps'-law vocabulary-growth audit: the companion gauge
    // to x118 (Zipf frequency shape) and x134 (Good-Turing saturation
    // at one size) — vocabulary-vs-corpus-size exponent fitted over
    // NESTED deterministic md5 doc samples at rates 1/8, 1/4, 1/2, 1
    // (each level extends the previous exactly like a growing crawl).
    // One corpus pass to a vocab-sized per-type table; the regression
    // is row-wise over exact Long u4 sums — the published slope is
    // one IEEE division of exactly-converted integers.
    QueryDef("x139_heaps_audit",
      (s, dir) => ordered(TextAnalysis.heapsAudit(
          t(s, dir, "documents"), "doc_id", "text", "source")
        .withColumnRenamed("block", "source")),
      Some {
        val thr = Seq("2000", "4000", "8000") // 1/8, 1/4, 1/2 of 2^16
        def cnt(l: Int) =
          if (l == 4) "CAST(COUNT(*) AS BIGINT)"
          else s"CAST(SUM(CASE WHEN d < '${thr(l - 1)}' THEN 1 ELSE 0" +
            " END) AS BIGINT)"
        def typ(l: Int) =
          if (l == 4) "CAST(COUNT(*) AS BIGINT)"
          else s"CAST(SUM(CASE WHEN md < '${thr(l - 1)}' THEN 1 ELSE 0" +
            " END) AS BIGINT)"
        def u4(e: String) =
          s"CASE WHEN $e > 0 THEN CAST(FLOOR(ln(CAST($e AS DOUBLE)) " +
            s"* 10000.0 + 0.5) AS BIGINT) ELSE 0 END"
        val pbCols = (1 to 4).map(l =>
          s"CAST(SUM(c$l) AS BIGINT) AS tokens_l$l, " +
            s"${typ(l)} AS types_l$l").mkString(", ")
        val xls = (1 to 4).map(l => u4(s"tokens_l$l"))
        val yls = (1 to 4).map(l =>
          s"CASE WHEN tokens_l$l > 0 THEN " +
            s"CAST(FLOOR(ln(CAST(types_l$l AS DOUBLE)) * 10000.0 " +
            s"+ 0.5) AS BIGINT) ELSE 0 END")
        val lives = (1 to 4).map(l =>
          s"CASE WHEN tokens_l$l > 0 THEN 1 ELSE 0 END")
        s"""WITH tokrows AS (
          SELECT source,
            substr(md5('heaps|' || CAST(doc_id AS VARCHAR)), 1, 4) AS d,
            unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE text IS NOT NULL),
        pt AS (
          SELECT source, tok, MIN(d) AS md,
            ${(1 to 4).map(l => s"${cnt(l)} AS c$l").mkString(", ")}
          FROM tokrows GROUP BY source, tok),
        pb AS (
          SELECT source, $pbCols
          FROM pt GROUP BY source),
        u AS (
          SELECT *,
            ${xls.zipWithIndex.map { case (x, i) => s"$x AS x${i + 1}" }
              .mkString(", ")},
            ${yls.zipWithIndex.map { case (y, i) => s"$y AS y${i + 1}" }
              .mkString(", ")},
            CAST(${lives.mkString(" + ")} AS BIGINT) AS n
          FROM pb),
        f AS (
          SELECT *, x1 + x2 + x3 + x4 AS sx, y1 + y2 + y3 + y4 AS sy,
            x1*y1 + x2*y2 + x3*y3 + x4*y4 AS sxy,
            x1*x1 + x2*x2 + x3*x3 + x4*x4 AS sxx
          FROM u)
        SELECT source, tokens_l1, types_l1, tokens_l2, types_l2,
          tokens_l3, types_l3, tokens_l4, types_l4,
          CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
              CAST(n * sxx - sx * sx AS DOUBLE) END AS heaps_slope
        FROM f
        """ + orderedSql(Seq("source", "tokens_l1", "types_l1",
          "tokens_l2", "types_l2", "tokens_l3", "types_l3",
          "tokens_l4", "types_l4", "heaps_slope"))
      }),

    // x140 — PSI score-drift report: the Population Stability Index,
    // the OTHER standard production drift monitor next to x105's
    // token KL — "did this SCORE's distribution move between
    // snapshots", bucketed on an exact integer grid (token count div
    // 32, capped at 8 buckets), add-one-smoothed so every grid bucket
    // is live, per-bucket signed contribution (p-q)*ln(p/q) rounded
    // at 6 dp (the proven x105 class). Snapshot halves are the x64/
    // x119 deterministic md5 split. Total PSI = reader's sum; the
    // 0.1/0.25 alarm thresholds are the industry convention.
    QueryDef("x140_psi_drift",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val keep = graft.ops.Sampling.keepPredicate(col("doc_id"), 0.5)
        ordered(TextAnalysis.psiDriftReport(d.filter(keep),
          d.filter(!keep),
          size(split(col("text"), " ")).cast(LongType),
          bucketWidth = 32L, nBuckets = 8))
      },
      Some("""WITH base AS (
          SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
            AS is_old,
            LEAST(CAST(len(string_split(text, ' ')) AS BIGINT) // 32,
              7) AS bucket
          FROM documents WHERE text IS NOT NULL),
        o AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_old
          FROM base WHERE is_old GROUP BY 1),
        nn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM base WHERE NOT is_old GROUP BY 1),
        j AS (SELECT COALESCE(o.bucket, nn.bucket) AS bucket,
            COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
          FROM o FULL OUTER JOIN nn ON o.bucket = nn.bucket),
        st AS (SELECT SUM(n_old) AS t1, SUM(n_new) AS t2 FROM j)
        SELECT bucket, n_old, n_new,
          ROUND((CAST(n_old + 1 AS DOUBLE) / (t1 + 8)
              - CAST(n_new + 1 AS DOUBLE) / (t2 + 8)) *
            ln((CAST(n_old + 1 AS DOUBLE) / (t1 + 8)) /
              (CAST(n_new + 1 AS DOUBLE) / (t2 + 8))), 6) AS contrib
        FROM j, st
        """ + orderedSql(Seq("bucket", "n_old", "n_new", "contrib")))),

    // x141 — DAU/WAU/MAU active-user report: the growth dashboard's
    // backbone trio over the event stream — per calendar day with
    // activity, exact distinct users that day / trailing 7 / trailing
    // 30, plus DAU/WAU stickiness micros. The corpus collapses FIRST
    // to the distinct (user, day) table; the trailing windows explode
    // THAT (bounded 37x of id+date rows, never the event stream) and
    // re-distinct per anchor day. Exact counts — the sketched
    // extreme-scale spelling is x16's HLL.
    QueryDef("x141_active_users",
      (s, dir) => ordered(graft.ops.EventAnalytics.activeUsersReport(
        t(s, dir, "events"), "user_id", "ts")),
      Some("""WITH act AS (
          SELECT DISTINCT user_id AS u,
            CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d FROM events),
        dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
          FROM act GROUP BY 1),
        w0 AS (SELECT u, unnest(generate_series(d,
            d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day FROM act),
        w1 AS (SELECT DISTINCT u, day FROM w0),
        wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
          FROM w1 GROUP BY 1),
        m0 AS (SELECT u, unnest(generate_series(d,
            d + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS day FROM act),
        m1 AS (SELECT DISTINCT u, day FROM m0),
        mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau
          FROM m1 GROUP BY 1)
        SELECT day, dau, wau, mau,
          (dau * 1000000) // wau AS stickiness_micros
        FROM dau JOIN wau USING (day) JOIN mau USING (day)
        """ + orderedSql(Seq("day", "dau", "wau", "mau",
          "stickiness_micros")))),

    // x142 — inter-arrival-time spectrum: the engagement/latency
    // histogram next to x138's transition matrix — per earlier-event
    // type, the user's gap to their next event bucketed on an EXACT
    // base-2 grid (bucket = bit length of the gap seconds via
    // length(bin(dt)) — a string length both engines compute
    // identically; zero libm). Bot traffic spikes in tight buckets;
    // humans spread across decades. Same one user-keyed exchange as
    // x138; the spectrum is (type x ~40 buckets)-sized.
    QueryDef("x142_interarrival",
      (s, dir) => ordered(graft.ops.EventAnalytics.interArrivalSpectrum(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH o AS (
          SELECT user_id, event_type, ts, event_id,
            LEAD(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS nt
          FROM events),
        g AS (
          SELECT event_type,
            CAST(date_diff('second', ts, nt) AS BIGINT) AS dt
          FROM o WHERE nt IS NOT NULL),
        b AS (
          SELECT event_type, CASE WHEN dt <= 0 THEN 0
            ELSE CAST(length(bin(dt)) AS BIGINT) END AS bucket
          FROM g)
        SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END AS lo_s,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END AS hi_s
        FROM b GROUP BY event_type, bucket
        """ + orderedSql(Seq("event_type", "bucket", "n", "lo_s",
          "hi_s")))),

    // x143 — exact AUC audit (Mann-Whitney rank spelling of ROC-AUC):
    // does the token-count signal separate the short-word docs the
    // x132 mtl signal flags (label = mean-token-length micros below
    // 5.5 — independent of the score, so the AUC is non-trivial)?
    // Ranks are the x132/x137 deterministic total order (score asc,
    // id asc); U and AUC are exact integer arithmetic, published as
    // floor-division micros; strata missing a class publish NULL.
    // One stratum exchange, zero joins (the x137 plan shape).
    QueryDef("x143_auc_audit",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        ordered(graft.ops.DataPipeline.aucAudit(
          d, "doc_id", "source",
          size(split(col("text"), " ")).cast(LongType),
          expr("(CAST(length(text) AS BIGINT) * 1000000)" +
            " div CAST(size(split(text, ' ')) AS BIGINT)") <
            5500000L))
      },
      Some("""WITH base AS (
          SELECT source, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS s,
            (CAST(length(text) AS BIGINT) * 1000000) //
              CAST(len(string_split(text, ' ')) AS BIGINT)
              < 5500000 AS y
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT source, s, y,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY s, doc_id) AS BIGINT) AS rk
          FROM base),
        a AS (
          SELECT source,
            CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pos,
            CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
              AS n_neg,
            CAST(SUM(CASE WHEN y THEN rk ELSE 0 END) AS BIGINT) AS sr
          FROM r GROUP BY source)
        SELECT source, n_pos, n_neg,
          sr - (n_pos * (n_pos + 1)) // 2 AS u_stat,
          CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
            ((sr - (n_pos * (n_pos + 1)) // 2) * 1000000)
              // (n_pos * n_neg) END AS auc_micros
        FROM a
        """ + orderedSql(Seq("source", "n_pos", "n_neg", "u_stat",
          "auc_micros")))),

    // x144 — exact two-sample Kolmogorov–Smirnov drift test per
    // source: the third drift monitor next to x105's token KL (which
    // tokens moved) and x140's PSI (did the bucketed score move) —
    // the supremum ECDF gap over the merged support, no grid to tune,
    // no smoothing, published EXACTLY as integers via the common-
    // denominator spelling d_num = max|n₂·C₁(v) − n₁·C₂(v)|. md5
    // halves of doc_id play the two snapshots (the x140 convention),
    // token count is the score. ONE support-sized aggregate, ONE
    // stratum exchange serving both cumulative windows AND the
    // totals, zero joins.
    QueryDef("x144_ks_drift",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val keep = graft.ops.Sampling.keepPredicate(col("doc_id"), 0.5)
        ordered(TextAnalysis.ksDriftReport(
          d.filter(keep), d.filter(!keep), "source",
          size(split(col("text"), " ")).cast(LongType)))
      },
      Some("""WITH base AS (
          SELECT source AS stratum,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
              AS is_old
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT stratum, v,
            CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT)
              AS a,
            CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT)
              AS b
          FROM base GROUP BY 1, 2),
        c AS (
          SELECT stratum,
            CAST(SUM(a) OVER (PARTITION BY stratum ORDER BY v)
              AS BIGINT) AS ca,
            CAST(SUM(b) OVER (PARTITION BY stratum ORDER BY v)
              AS BIGINT) AS cb,
            CAST(SUM(a) OVER (PARTITION BY stratum) AS BIGINT) AS n1,
            CAST(SUM(b) OVER (PARTITION BY stratum) AS BIGINT) AS n2
          FROM g),
        f AS (
          SELECT stratum, MAX(n1) AS n_old, MAX(n2) AS n_new,
            MAX(ABS(n2 * ca - n1 * cb)) AS d_num
          FROM c GROUP BY stratum)
        SELECT stratum, n_old, n_new, d_num,
          CASE WHEN n_old = 0 OR n_new = 0 THEN NULL
            ELSE (d_num * 1000000) // (n_old * n_new) END AS ks_micros
        FROM f
        """ + orderedSql(Seq("stratum", "n_old", "n_new", "d_num",
          "ks_micros")))),

    // x145 — corpus-concentration audit: per lang stratum, the exact
    // Gini coefficient and Lorenz top-decile share of token mass
    // across canonical DOMAINS (the x90 canonicalization) — the "is
    // this slice a few big sites wearing a corpus costume?" gauge
    // read before trusting slice statistics or setting x80/x104
    // mixture weights. All-integer rank-weighted sums (the x132/x143
    // total-order convention); ONE group-sized aggregate then ONE
    // stratum exchange, zero corpus-sized joins.
    QueryDef("x145_concentration",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
        val base = d.select(col("lang"),
          UrlCanon.urlDomain(
            UrlCanon.canonicalizeUrl(synthUrlCol)).as("domain"),
          size(split(col("text"), " ")).cast(LongType).as("toks"))
        ordered(graft.ops.DataPipeline.concentrationReport(
          base, "lang", "domain", col("toks")))
      },
      Some(s"""WITH $urlDomainCtes,
        base AS (
          SELECT d.lang AS stratum, dom.domain AS k,
            CAST(len(string_split(d.text, ' ')) AS BIGINT) AS m
          FROM documents d JOIN dom ON d.doc_id = dom.doc_id),
        g AS (
          SELECT stratum, k, CAST(SUM(m) AS BIGINT) AS gm
          FROM base GROUP BY 1, 2),
        r AS (
          SELECT stratum, gm,
            CAST(ROW_NUMBER() OVER (PARTITION BY stratum
              ORDER BY gm, k) AS BIGINT) AS i,
            CAST(COUNT(*) OVER (PARTITION BY stratum) AS BIGINT) AS n
          FROM g),
        f AS (
          SELECT stratum, MAX(n) AS n_keys,
            CAST(SUM(gm) AS BIGINT) AS total_mass,
            CAST(SUM((2 * i - n - 1) * gm) AS BIGINT) AS gnum,
            CAST(SUM(CASE WHEN i > n - ((n + 9) // 10) THEN gm
              ELSE 0 END) AS BIGINT) AS tail
          FROM r GROUP BY stratum)
        SELECT stratum, n_keys, total_mass,
          CASE WHEN total_mass = 0 THEN NULL
            ELSE (gnum * 1000000) // (n_keys * total_mass) END
            AS gini_micros,
          CASE WHEN total_mass = 0 THEN NULL
            ELSE (tail * 1000000) // total_mass END
            AS top_decile_micros
        FROM f
        """ + orderedSql(Seq("stratum", "n_keys", "total_mass",
          "gini_micros", "top_decile_micros")))),

    // x146 — term-burstiness spectrum per source (Church & Gale):
    // per vocabulary type, burstiness = ⌊cf/df⌋; the spectrum folds
    // the Heaps-sublinear vocab table onto the exact base-2
    // length(bin(·)) grid x142 proved portable. Near-1 buckets are
    // evenly-spread function words; high buckets are the bursty
    // template/topical mass that x41/x45/x133 act on. All-integer.
    QueryDef("x146_burstiness",
      (s, dir) => ordered(TextAnalysis.burstinessSpectrum(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "source", "doc_id", "text")),
      Some("""WITH occ AS (
          SELECT source AS stratum, doc_id,
            unnest(string_split(text, ' ')) AS tkn
          FROM documents WHERE text IS NOT NULL),
        o2 AS (
          SELECT stratum, doc_id, tkn, CAST(COUNT(*) AS BIGINT) AS c
          FROM occ WHERE tkn <> '' GROUP BY 1, 2, 3),
        v AS (
          SELECT stratum, tkn, CAST(SUM(c) AS BIGINT) AS cf,
            CAST(COUNT(*) AS BIGINT) AS df
          FROM o2 GROUP BY 1, 2),
        b AS (
          SELECT stratum,
            CAST(length(bin(cf // df)) AS BIGINT) AS bucket, cf, df
          FROM v)
        SELECT stratum, bucket, CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(cf) AS BIGINT) AS total_cf,
          CAST(SUM(df) AS BIGINT) AS total_df,
          (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) AS lo_ratio,
          (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 AS hi_ratio
        FROM b GROUP BY stratum, bucket
        """ + orderedSql(Seq("stratum", "bucket", "n_types",
          "total_cf", "total_df", "lo_ratio", "hi_ratio")))),

    // x147 — document-length spectrum per source: the composition
    // histogram read before packing (x66/x117), chunking (x42) or
    // length gates (x91) — doc counts and exact token mass per
    // base-2 bucket. The x142 grid over `documents`; one map-side
    // aggregate, all-integer.
    QueryDef("x147_doclen_spectrum",
      (s, dir) => ordered(TextAnalysis.lengthSpectrum(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "source", size(split(col("text"), " ")).cast(LongType))),
      Some("""WITH base AS (
          SELECT source AS stratum,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS m
          FROM documents WHERE text IS NOT NULL),
        b AS (
          SELECT stratum, CASE WHEN m <= 0 THEN 0
            ELSE CAST(length(bin(m)) AS BIGINT) END AS bucket, m
          FROM base)
        SELECT stratum, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(m) AS BIGINT) AS total_mass,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END AS lo,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END AS hi
        FROM b GROUP BY stratum, bucket
        """ + orderedSql(Seq("stratum", "bucket", "n_docs",
          "total_mass", "lo", "hi")))),

    // x148 — percentile-bootstrap CI for the per-source mean token
    // count: 40 deterministic Poisson(1) resamples (md5-thresholded
    // weights — the Poisson bootstrap, the streamable resampling for
    // distributed data), each an exact weighted-mean in micros;
    // min/max of 40 are exactly the rank-1/rank-40 order statistics
    // = the 2.5%/97.5% percentile-bootstrap bounds. The uncertainty
    // gauge read before acting on any slice statistic. All-integer;
    // the ×40 explosion partial-aggregates map-side to the
    // (strata × 40) grid.
    QueryDef("x148_bootstrap_ci",
      (s, dir) => ordered(graft.ops.Sampling.bootstrapMeanCI(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "source",
        size(split(col("text"), " ")).cast(LongType), nReps = 40)),
      Some("""WITH base AS (
          SELECT source AS stratum, CAST(doc_id AS VARCHAR) AS id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS x
          FROM documents WHERE text IS NOT NULL),
        reps AS (
          SELECT stratum, b, x,
            substr(md5(id || ':' || CAST(b AS VARCHAR)), 1, 4) AS u
          FROM base CROSS JOIN
            (SELECT unnest(generate_series(0, 39)) AS b)),
        w AS (
          SELECT stratum, b, x,
            CAST(CASE WHEN u < '5e2d' THEN 0 WHEN u < 'bc5b' THEN 1
                 WHEN u < 'eb71' THEN 2 WHEN u < 'fb24' THEN 3
                 WHEN u < 'ff10' THEN 4 WHEN u < 'ffd9' THEN 5
                 ELSE 6 END AS BIGINT) AS wt
          FROM reps),
        pr AS (
          SELECT stratum, b, CAST(SUM(wt * x) AS BIGINT) AS wx,
            CAST(SUM(wt) AS BIGINT) AS sw
          FROM w GROUP BY 1, 2),
        pm AS (
          SELECT stratum, CASE WHEN sw = 0 THEN NULL
            ELSE (wx * 1000000) // sw END AS m
          FROM pr),
        obs AS (
          SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
            (CAST(SUM(x) AS BIGINT) * 1000000) //
              CAST(COUNT(*) AS BIGINT) AS mean_micros
          FROM base GROUP BY 1),
        ci AS (
          SELECT stratum, CAST(MIN(m) AS BIGINT) AS ci_lo_micros,
            CAST(MAX(m) AS BIGINT) AS ci_hi_micros
          FROM pm GROUP BY 1)
        SELECT stratum, n_rows, mean_micros, ci_lo_micros,
          ci_hi_micros
        FROM obs JOIN ci USING (stratum)
        """ + orderedSql(Seq("stratum", "n_rows", "mean_micros",
          "ci_lo_micros", "ci_hi_micros")))),

    // x149 — behavioral-entropy histogram over events: per user the
    // Shannon entropy of their event-type distribution (bots ~0
    // nats, organic use spreads toward ln(#types)), folded into
    // 1/20-nat buckets. The x118/x139 quantize-then-exact-integer
    // ln pattern (margin-gated); the numerator clamps at 0 because
    // negative integer division is the one Spark-div vs DuckDB-//
    // divergence. Two map-side aggregates + a ~12-row fold.
    QueryDef("x149_user_entropy",
      (s, dir) => ordered(graft.ops.EventAnalytics.userEntropyReport(
        t(s, dir, "events"), "user_id", "event_type")),
      Some("""WITH ut AS (
          SELECT user_id AS u, event_type AS t,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        q AS (
          SELECT u, c, CAST(FLOOR(CAST(c AS DOUBLE) *
            ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS qq
          FROM ut),
        p AS (
          SELECT u, CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(qq) AS BIGINT) AS qs
          FROM q GROUP BY 1),
        h AS (
          SELECT u, n, qs, CAST(FLOOR(CAST(n AS DOUBLE) *
            ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS hn
          FROM p),
        e AS (
          SELECT u, n, GREATEST(hn - qs, 0) // n AS em FROM h),
        b AS (SELECT em // 50000 AS bucket, n FROM e)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(n) AS BIGINT) AS total_events,
          bucket * 50000 AS lo_micros,
          bucket * 50000 + 49999 AS hi_micros
        FROM b GROUP BY bucket
        """ + orderedSql(Seq("bucket", "n_users", "total_events",
          "lo_micros", "hi_micros")))),

    // x150 — exact per-source quartile report: the robust companion
    // to x148's bootstrap mean CI — median/IQR as exact order
    // statistics at the lower empirical ranks ⌈k·n/4⌉ over the
    // (value, id) total order. No interpolation, no FP; the sketched
    // extreme-scale path is x52/x120. One stratum exchange, zero
    // joins.
    QueryDef("x150_quartiles",
      (s, dir) => ordered(graft.ops.DataPipeline.quartileReport(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "source",
        size(split(col("text"), " ")).cast(LongType))),
      Some("""WITH base AS (
          SELECT source AS stratum, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS v
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT stratum, v,
            CAST(ROW_NUMBER() OVER (PARTITION BY stratum
              ORDER BY v, doc_id) AS BIGINT) AS i,
            CAST(COUNT(*) OVER (PARTITION BY stratum) AS BIGINT) AS n
          FROM base)
        SELECT stratum, MAX(n) AS n_rows,
          MAX(CASE WHEN i = (n + 3) // 4 THEN v END) AS p25,
          MAX(CASE WHEN i = (2 * n + 3) // 4 THEN v END) AS median,
          MAX(CASE WHEN i = (3 * n + 3) // 4 THEN v END) AS p75
        FROM r GROUP BY stratum
        """ + orderedSql(Seq("stratum", "n_rows", "p25", "median",
          "p75")))),

    // x151 — domain-churn report between crawl snapshots: per lang,
    // the exact distinct-domain counts of both md5 halves, the
    // intersection, added/removed, and the Jaccard overlap in micros
    // — the composition-shift gauge that says whether x131's split
    // and the x123/x129 blocklists still gate the same web. One
    // domain-sized flag aggregate + a stratum rollup, zero joins.
    QueryDef("x151_domain_churn",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("lang"), col("doc_id"), synthUrlCol.as("url"))
        val keep = graft.ops.Sampling.keepPredicate(col("doc_id"), 0.5)
        ordered(UrlCanon.domainChurnReport(
          d.filter(keep), d.filter(!keep), "lang", "url"))
      },
      Some(s"""WITH $urlDomainCtes,
        f AS (
          SELECT d.lang AS stratum, dom.domain AS k,
            substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < '8000'
              AS is_old
          FROM documents d JOIN dom ON d.doc_id = dom.doc_id),
        g AS (
          SELECT stratum, k,
            CAST(MAX(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT)
              AS ho,
            CAST(MAX(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT)
              AS hn
          FROM f GROUP BY 1, 2),
        a AS (
          SELECT stratum, CAST(SUM(ho) AS BIGINT) AS n_old,
            CAST(SUM(hn) AS BIGINT) AS n_new,
            CAST(SUM(ho * hn) AS BIGINT) AS shared
          FROM g GROUP BY 1)
        SELECT stratum, n_old, n_new, shared,
          n_new - shared AS added, n_old - shared AS removed,
          (shared * 1000000) // (n_old + n_new - shared)
            AS jaccard_micros
        FROM a
        """ + orderedSql(Seq("stratum", "n_old", "n_new", "shared",
          "added", "removed", "jaccard_micros")))),

    // x152 — session-length distribution: q25's gap sessionization
    // (10-minute inactivity, event_id total order) rolled up to the
    // per-event-count histogram with exact durations and a
    // floor-division session share. One user-keyed exchange; the
    // published table is session-length-bounded.
    QueryDef("x152_session_stats",
      (s, dir) => ordered(graft.ops.EventAnalytics.sessionStats(
        t(s, dir, "events"), "user_id", "ts", "event_id")),
      Some("""WITH b AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        m AS (
          SELECT user_id, event_id, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, tus,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        sess AS (
          SELECT user_id, session_idx,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            MAX(tus) - MIN(tus) AS dur_us
          FROM sx GROUP BY 1, 2),
        dist AS (
          SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
            CAST(SUM(dur_us) AS BIGINT) AS sum_duration_us
          FROM sess GROUP BY 1)
        SELECT n_events, n_sessions, sum_duration_us,
          (n_sessions * 1000000)
            // (SELECT CAST(SUM(n_sessions) AS BIGINT) FROM dist)
            AS p_micros
        FROM dist
        """ + orderedSql(Seq("n_events", "n_sessions",
          "sum_duration_us", "p_micros")))),

    // x153 — hour-of-day activity profile: per type the 24-bucket
    // histogram, within-type share micros, deterministic peak flag
    // ((n DESC, hour ASC) row_number). One (type x 24)-bounded
    // map-combinable aggregate.
    QueryDef("x153_hourly_profile",
      (s, dir) => ordered(graft.ops.EventAnalytics.hourlyProfile(
        t(s, dir, "events"), "ts", "event_type")),
      Some("""WITH c AS (
          SELECT event_type, date_part('hour', ts) AS hour,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        r AS (
          SELECT event_type, hour, n,
            CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
              AS tot,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY n DESC, hour ASC) AS rk
          FROM c)
        SELECT event_type, hour, n,
          (n * 1000000) // tot AS share_micros,
          CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS is_peak
        FROM r
        """ + orderedSql(Seq("event_type", "hour", "n",
          "share_micros", "is_peak")))),

    // x154 — user-lifespan distribution: per user the first-to-last
    // calendar-day span and distinct active days, rolled up per span
    // with summed exact density micros. Epoch-day truncation is one
    // integer floor division in both engines.
    QueryDef("x154_user_lifespan",
      (s, dir) => ordered(graft.ops.EventAnalytics.userLifespan(
        t(s, dir, "events"), "user_id", "ts")),
      Some("""WITH act AS (
          SELECT DISTINCT user_id AS u,
            epoch_us(ts) // 86400000000 AS d
          FROM events),
        per AS (
          SELECT u, MAX(d) - MIN(d) + 1 AS span_days,
            CAST(COUNT(*) AS BIGINT) AS adays
          FROM act GROUP BY 1)
        SELECT span_days, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(adays) AS BIGINT) AS total_active_days,
          CAST(SUM((adays * 1000000) // span_days) AS BIGINT)
            AS sum_density_micros
        FROM per GROUP BY 1
        """ + orderedSql(Seq("span_days", "n_users",
          "total_active_days", "sum_density_micros")))),

    // x155 — session-level type co-occurrence lift (the session
    // sibling of x63's document PMI): per unordered type pair the
    // co-session count and the exact floor-division lift micros
    // (n_ab*S*1e6 div n_a*n_b; Long headroom documented in the op —
    // sample sessions above ~3M-session corpora). Same sessionization
    // as x152; all published tables type^2-bounded.
    QueryDef("x155_session_type_lift",
      (s, dir) => ordered(graft.ops.EventAnalytics.sessionTypeLift(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH b AS (
          SELECT user_id, event_id, event_type,
            epoch_us(ts) AS tus FROM events),
        m AS (
          SELECT user_id, event_id, tus, event_type,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, event_type,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        st AS (
          SELECT DISTINCT user_id AS u, session_idx, event_type AS t
          FROM sx),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM
          (SELECT DISTINCT u, session_idx FROM st)),
        pt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
          FROM st GROUP BY 1),
        pairs AS (
          SELECT a.t AS type_a, b.t AS type_b,
            CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM st a JOIN st b
            ON a.u = b.u AND a.session_idx = b.session_idx
            AND a.t < b.t
          GROUP BY 1, 2)
        SELECT type_a, type_b, n_ab,
          (n_ab * (SELECT s FROM tot) * 1000000)
            // (pa.n * pb.n) AS lift_micros
        FROM pairs
        JOIN pt pa ON pa.t = type_a
        JOIN pt pb ON pb.t = type_b
        """ + orderedSql(Seq("type_a", "type_b", "n_ab",
          "lift_micros")))),

    // x156 — per-source charset profile: exact ASCII
    // letter/digit/space/other shares in floor-division micros off
    // one stateless projection (explicit ranges; DuckDB regexp gets
    // the 'g' flag the oracle spells). Zero joins, one block rollup.
    QueryDef("x156_charset_profile",
      (s, dir) => ordered(TextAnalysis.charsetProfile(
        t(s, dir, "documents"), "text", "source")),
      Some("""WITH per AS (
          SELECT source,
            CAST(length(text) AS BIGINT) AS n,
            CAST(length(text) -
              length(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS a,
            CAST(length(text) -
              length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS d,
            CAST(length(text) -
              length(regexp_replace(text, ' ', '', 'g'))
              AS BIGINT) AS sp
          FROM documents),
        agg AS (
          SELECT source AS block, CAST(SUM(n) AS BIGINT) AS n_chars,
            CAST(SUM(a) AS BIGINT) AS sa,
            CAST(SUM(d) AS BIGINT) AS sd,
            CAST(SUM(sp) AS BIGINT) AS ss
          FROM per GROUP BY 1)
        SELECT block, n_chars,
          CASE WHEN n_chars > 0 THEN (sa * 1000000) // n_chars END
            AS alpha_micros,
          CASE WHEN n_chars > 0 THEN (sd * 1000000) // n_chars END
            AS digit_micros,
          CASE WHEN n_chars > 0 THEN (ss * 1000000) // n_chars END
            AS space_micros,
          CASE WHEN n_chars > 0 THEN
            ((n_chars - sa - sd - ss) * 1000000) // n_chars END
            AS other_micros
        FROM agg
        """ + orderedSql(Seq("block", "n_chars", "alpha_micros",
          "digit_micros", "space_micros", "other_micros")))),

    // x157 — per-source signature n-grams: source-level TF-IDF top-k
    // word trigrams (the template-DISCOVERY gauge next to x133's
    // removal). x39's determinism contract at block granularity; df
    // is a window count over the one (block, gram) aggregate.
    QueryDef("x157_source_signature",
      (s, dir) => ordered(TextAnalysis.sourceSignatureNgrams(
        t(s, dir, "documents"), "text", "source", n = 3, k = 5)),
      Some("""WITH tok AS (
          SELECT source, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
            AS term
          FROM documents),
        tf AS (
          SELECT source AS block, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY 1, 2),
        dfq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM tf GROUP BY term),
        s AS (
          SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS s
          FROM documents),
        scored AS (
          SELECT tf.block, tf.term, tf.tf, dfq.df,
            ROUND(tf.tf * ln(s.s / dfq.df), 6) AS score
          FROM tf JOIN dfq USING (term) CROSS JOIN s),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY block
            ORDER BY score DESC, term) AS BIGINT) AS rk
          FROM scored)
        SELECT block, term, tf, df, score, rk FROM ranked WHERE rk <= 5
        """ + orderedSql(Seq("block", "term", "tf", "df", "score",
          "rk")))),

    // x158 — conversion-lag spectrum: first-any-event to
    // first-'purchase' gap per user on x142's base-2 second grid.
    // One user-keyed conditional-min aggregate, ~40-bucket rollup.
    QueryDef("x158_conversion_lag",
      (s, dir) => ordered(graft.ops.EventAnalytics.conversionLagSpectrum(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        target = "purchase")),
      // Oracle floor-truncates EACH timestamp to whole epoch seconds
      // BEFORE the min/subtract, mirroring Spark's unix_timestamp
      // semantics exactly — epoch(MIN(ts)) would return a fractional
      // DOUBLE and CAST..BIGINT would round half-to-even, a latent
      // cross-engine divergence on sub-second timestamps. (No SQL
      // comments in oracle strings: the check pipeline collapses
      // newlines, so `--` would swallow the rest of the query.)
      Some("""WITH per AS (
          SELECT user_id, MIN(epoch_us(ts) // 1000000) AS t0,
            MIN(CASE WHEN event_type = 'purchase'
              THEN epoch_us(ts) // 1000000 END) AS tc
          FROM events GROUP BY 1),
        g AS (
          SELECT CAST(tc - t0 AS BIGINT) AS dt FROM per
          WHERE tc IS NOT NULL),
        b AS (
          SELECT CASE WHEN dt <= 0 THEN 0
            ELSE CAST(length(bin(dt)) AS BIGINT) END AS bucket
          FROM g)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END AS lo_s,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END AS hi_s
        FROM b GROUP BY bucket
        """ + orderedSql(Seq("bucket", "n_users", "lo_s", "hi_s")))),

    // x159 — embedding-norm spectrum: per label the base-2 histogram
    // of FLOOR(norm2*1e4+0.5) units — the vector-health audit before
    // any cosine machinery. Sequential-fold dot both engines (q18
    // precedent); exact BIGINT sums.
    QueryDef("x159_norm_spectrum",
      (s, dir) => ordered(Similarity.normSpectrum(
        t(s, dir, "embeddings"), "embedding", "label")),
      Some("""WITH per AS (
          SELECT label,
            CAST(FLOOR(list_dot_product(
              CAST(embedding AS DOUBLE[]),
              CAST(embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT)
              AS q
          FROM embeddings),
        b AS (
          SELECT label, CASE WHEN q <= 0 THEN 0
            ELSE CAST(length(bin(q)) AS BIGINT) END AS bucket, q
          FROM per)
        SELECT label, bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(SUM(q) AS BIGINT) AS sum_q
        FROM b GROUP BY 1, 2
        """ + orderedSql(Seq("label", "bucket", "n_vecs", "sum_q")))),

    // x160 — exact-duplicate cluster-size spectrum: md5 group sizes
    // rolled to a size histogram with floor-division corpus mass —
    // the concentration gauge behind q19. All-integer.
    QueryDef("x160_dup_spectrum",
      (s, dir) => ordered(TextAnalysis.dupClusterSpectrum(
        t(s, dir, "documents"), "doc_id", "text")),
      Some("""WITH g AS (
          SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS group_size
          FROM documents GROUP BY 1),
        d AS (
          SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
            group_size * CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM g GROUP BY 1)
        SELECT group_size, n_groups, n_docs,
          (n_docs * 1000000)
            // (SELECT CAST(SUM(n_docs) AS BIGINT) FROM d)
            AS mass_micros
        FROM d
        """ + orderedSql(Seq("group_size", "n_groups", "n_docs",
          "mass_micros")))),

    // x161 — per-from-type transition entropy: x149's integer-ln
    // quantization over x138's matrix — deterministic-next-action
    // detection. Type²-bounded after the one user-keyed window.
    QueryDef("x161_transition_entropy",
      (s, dir) => ordered(graft.ops.EventAnalytics.transitionEntropy(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH p AS (
          SELECT user_id, event_type AS from_type,
            LEAD(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        m AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(FLOOR(COUNT(*) * ln(COUNT(*)) * 1000000 + 0.5)
              AS BIGINT) AS q
          FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        a AS (
          SELECT from_type, CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(q) AS BIGINT) AS qs
          FROM m GROUP BY 1)
        SELECT from_type, n,
          GREATEST(CAST(FLOOR(n * ln(n) * 1000000 + 0.5) AS BIGINT)
            - qs, 0) // n AS entropy_micros
        FROM a
        """ + orderedSql(Seq("from_type", "n", "entropy_micros")))),

    // x162 — entry-type conversion lift: first-touch attribution over
    // the (ts, id) struct-min first event; exact BIGINT rates and
    // baseline lift off a broadcast totals frame. One user-keyed
    // map-side-combinable aggregate, no window.
    QueryDef("x162_entry_type_lift",
      (s, dir) => ordered(graft.ops.EventAnalytics.entryTypeLift(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", target = "purchase")),
      Some("""WITH f AS (
          SELECT user_id, event_type,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rk
          FROM events),
        conv AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS c
          FROM events GROUP BY 1),
        per AS (
          SELECT f.user_id, f.event_type AS entry_type, conv.c
          FROM f JOIN conv USING (user_id) WHERE f.rk = 1),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS tu,
            CAST(SUM(c) AS BIGINT) AS tc
          FROM per),
        g AS (
          SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(SUM(c) AS BIGINT) AS n_converted
          FROM per GROUP BY 1)
        SELECT entry_type, n_users, n_converted,
          (n_converted * 1000000) // n_users AS conv_micros,
          CASE WHEN tc > 0 THEN
            (n_converted * tu * 1000000) // (n_users * tc) END
            AS lift_micros
        FROM g CROSS JOIN tot
        """ + orderedSql(Seq("entry_type", "n_users", "n_converted",
          "conv_micros", "lift_micros")))),

    // x163 — repeat-interval spectrum: x142's base-2 gap grid over
    // CONSECUTIVE purchase events per user (repeat cadence). Corpus
    // filtered to the target type BEFORE the user-keyed lag window.
    QueryDef("x163_repeat_interval",
      (s, dir) => ordered(graft.ops.EventAnalytics
        .repeatIntervalSpectrum(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", target = "purchase")),
      Some("""WITH p AS (
          SELECT user_id, epoch_us(ts) // 1000000 AS s,
            LAG(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev
          FROM events WHERE event_type = 'purchase'),
        g AS (SELECT s - prev AS dt FROM p WHERE prev IS NOT NULL),
        b AS (
          SELECT CASE WHEN dt <= 0 THEN 0
            ELSE CAST(length(bin(dt)) AS BIGINT) END AS bucket
          FROM g)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END AS lo_s,
          CASE WHEN bucket = 0 THEN 0 ELSE
            (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END AS hi_s
        FROM b GROUP BY bucket
        """ + orderedSql(Seq("bucket", "n_gaps", "lo_s", "hi_s")))),

    // x164 — per-source lexical-diversity profile: TTR floor-division
    // micros per doc, decile-bucketed per block. All-integer; one
    // stateless projection + one (block, bucket) aggregate.
    QueryDef("x164_lexical_diversity",
      (s, dir) => ordered(TextAnalysis.lexicalDiversityProfile(
        t(s, dir, "documents"), "text", "source")),
      Some("""WITH per AS (
          SELECT source AS block,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
            CAST(len(list_distinct(string_split(text, ' ')))
              AS BIGINT) AS d
          FROM documents WHERE text IS NOT NULL),
        t AS (
          SELECT block, n, (d * 1000000) // n AS ttr FROM per)
        SELECT block, ttr // 100000 AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS sum_tokens
        FROM t GROUP BY 1, 2
        """ + orderedSql(Seq("block", "bucket", "n_docs",
          "sum_tokens")))),

    // x165 — prefix-duplicate spectrum: md5 of the first-10-token
    // prefix, group sizes rolled to the x160 spectrum shape. The
    // head-dup gauge whole-document and chunk dedup both miss.
    QueryDef("x165_prefix_dup",
      (s, dir) => ordered(TextAnalysis.prefixDupSpectrum(
        t(s, dir, "documents"), "text", k = 10)),
      Some("""WITH g AS (
          SELECT md5(array_to_string(
              (string_split(text, ' '))[1:10], ' ')) AS h,
            CAST(COUNT(*) AS BIGINT) AS group_size
          FROM documents WHERE text IS NOT NULL GROUP BY 1)
        SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
          group_size * CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1
        """ + orderedSql(Seq("group_size", "n_groups", "n_docs")))),

    // x166 — ANN-margin report: exact top-1/top-2 rounded cosines for
    // a 10% hash sample of query vectors, margin as a difference of
    // FLOOR(s·1000 + 0.5) integers (q18's rounded-cosine contract).
    // The index-confidence audit behind x7/x37/x93 probe tuning.
    QueryDef("x166_ann_margin",
      (s, dir) => ordered(Similarity.annMarginReport(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        sampleRate = 0.1)),
      Some("""WITH q AS (
          SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings
          WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '199a'),
        s AS (
          SELECT q.q_id, v.vec_id,
            ROUND(list_cosine_similarity(
              CAST(v.embedding AS DOUBLE[]), q.qv), 3) AS s3
          FROM embeddings v CROSS JOIN q WHERE v.vec_id <> q.q_id),
        r AS (
          SELECT q_id, vec_id, s3,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY s3 DESC, vec_id) AS rk
          FROM s)
        SELECT q_id,
          MIN(CASE WHEN rk = 1 THEN vec_id END) AS top1_id,
          MIN(CASE WHEN rk = 2 THEN vec_id END) AS top2_id,
          CAST(MIN(CASE WHEN rk = 1 THEN FLOOR(s3 * 1000 + 0.5) END)
            - MIN(CASE WHEN rk = 2 THEN FLOOR(s3 * 1000 + 0.5) END)
            AS BIGINT) AS margin_milli
        FROM r WHERE rk <= 2 GROUP BY q_id
        """ + orderedSql(Seq("q_id", "top1_id", "top2_id",
          "margin_milli")))),

    // x167 — session entry→exit matrix: q25/x152 gap-sessionization,
    // struct-min/max entry and exit types per session, x138's exact
    // row normalization. Whole-visit routing next to x138's
    // single-step matrix.
    QueryDef("x167_session_entry_exit",
      (s, dir) => ordered(graft.ops.EventAnalytics.sessionEntryExit(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH b AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
          FROM events),
        m AS (
          SELECT user_id, event_id, event_type, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, event_id, event_type,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        per AS (
          SELECT user_id, session_idx,
            min_by(event_type, event_id) AS entry_type,
            max_by(event_type, event_id) AS exit_type
          FROM sx GROUP BY 1, 2),
        mm AS (
          SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM per GROUP BY 1, 2)
        SELECT entry_type, exit_type, n,
          (n * 1000000)
            // CAST(SUM(n) OVER (PARTITION BY entry_type) AS BIGINT)
            AS p_micros
        FROM mm
        """ + orderedSql(Seq("entry_type", "exit_type", "n",
          "p_micros")))),

    // x168 — per-source trigram head coverage: top-10/top-100 gram
    // occurrence mass per block in exact micros — the boilerplate-
    // mass aggregate next to x157's per-gram signatures.
    QueryDef("x168_ngram_coverage",
      (s, dir) => ordered(TextAnalysis.ngramHeadCoverage(
        t(s, dir, "documents"), "text", "source", n = 3)),
      Some("""WITH tok AS (
          SELECT source AS block, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
            AS term
          FROM documents WHERE text IS NOT NULL),
        tf AS (
          SELECT block, term, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2),
        r AS (
          SELECT block, c, ROW_NUMBER() OVER (PARTITION BY block
            ORDER BY c DESC, term) AS rk
          FROM tf),
        g AS (
          SELECT block, CAST(SUM(c) AS BIGINT) AS total_occ,
            CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT)
              AS top10_occ,
            CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT)
              AS top100_occ
          FROM r GROUP BY 1)
        SELECT block, total_occ, top10_occ, top100_occ,
          (top10_occ * 1000000) // total_occ AS cov10_micros,
          (top100_occ * 1000000) // total_occ AS cov100_micros
        FROM g
        """ + orderedSql(Seq("block", "total_occ", "top10_occ",
          "top100_occ", "cov10_micros", "cov100_micros")))),

    // x169 — language × source lift matrix: exact cell counts with
    // window-sum marginals over the one aggregate and a broadcast
    // total; lift ~1e6 = language-neutral source.
    QueryDef("x169_lang_source_lift",
      (s, dir) => ordered(TextAnalysis.langSourceLift(
        t(s, dir, "documents"), "lang", "source")),
      Some("""WITH m AS (
          SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
          GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt FROM m)
        SELECT lang, source, n_docs,
          (n_docs * nt * 1000000) //
            (CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) *
             CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT))
            AS lift_micros
        FROM m CROSS JOIN tot
        """ + orderedSql(Seq("lang", "source", "n_docs",
          "lift_micros")))),

    // x170 — kNN label purity: top-5 rounded-cosine neighbors for a
    // 10% query sample, share with matching label in exact micros —
    // the embedding-quality audit under x65/x81.
    QueryDef("x170_knn_purity",
      (s, dir) => ordered(Similarity.knnLabelPurity(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        k = 5, sampleRate = 0.1)),
      Some("""WITH q AS (
          SELECT vec_id AS q_id, label AS ql,
            CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings
          WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '199a'),
        s AS (
          SELECT q.q_id, q.ql, v.label AS vl, v.vec_id,
            ROUND(list_cosine_similarity(
              CAST(v.embedding AS DOUBLE[]), q.qv), 3) AS s3
          FROM embeddings v CROSS JOIN q WHERE v.vec_id <> q.q_id),
        r AS (
          SELECT q_id, ql, vl, s3,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY s3 DESC, vec_id) AS rk
          FROM s)
        SELECT q_id, ql AS label,
          CAST(SUM(CASE WHEN vl = ql THEN 1 ELSE 0 END) AS BIGINT)
            AS n_matched,
          (CAST(SUM(CASE WHEN vl = ql THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000) // 5 AS purity_micros
        FROM r WHERE rk <= 5 GROUP BY 1, 2
        """ + orderedSql(Seq("q_id", "label", "n_matched",
          "purity_micros")))),

    // x171 — cross-source duplication matrix on the x165 head-dup key
    // (first-10-token prefix md5): shared-prefix groups spanning two
    // sources, one count per unordered source pair with each side's
    // doc mass. The who-copies-whom map a per-source dedup never
    // sees (the prefix key, not whole-text md5, because syndication
    // edits tails — and the fixture's exact-dup mass is zero below
    // sf0.1).
    QueryDef("x171_cross_source_dup",
      (s, dir) => ordered(TextAnalysis.crossSourceDupMatrix(
        t(s, dir, "documents"), "text", "source", prefixK = 10)),
      Some("""WITH g AS (
          SELECT md5(array_to_string(
              (string_split(text, ' '))[1:10], ' ')) AS h,
            source AS s, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents WHERE text IS NOT NULL GROUP BY 1, 2)
        SELECT a.s AS source_a, b.s AS source_b,
          CAST(COUNT(*) AS BIGINT) AS n_groups,
          CAST(SUM(a.c) AS BIGINT) AS n_docs_a,
          CAST(SUM(b.c) AS BIGINT) AS n_docs_b
        FROM g a JOIN g b ON a.h = b.h AND a.s < b.s
        GROUP BY 1, 2
        """ + orderedSql(Seq("source_a", "source_b", "n_groups",
          "n_docs_a", "n_docs_b")))),

    // x172 — session-length conversion lift: x152's sessionization,
    // x162's rate/lift arithmetic keyed by session event count —
    // does visit depth buy conversion.
    QueryDef("x172_session_conversion",
      (s, dir) => ordered(graft.ops.EventAnalytics
        .sessionConversionByLength(t(s, dir, "events"), "user_id",
          "ts", "event_id", "event_type", target = "purchase")),
      Some("""WITH b AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
          FROM events),
        m AS (
          SELECT user_id, event_id, event_type, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, event_type,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        sess AS (
          SELECT user_id, session_idx,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS conv
          FROM sx GROUP BY 1, 2),
        dist AS (
          SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
            CAST(SUM(conv) AS BIGINT) AS n_converted
          FROM sess GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(n_sessions) AS BIGINT) AS ts,
            CAST(SUM(n_converted) AS BIGINT) AS tc
          FROM dist)
        SELECT n_events, n_sessions, n_converted,
          (n_converted * 1000000) // n_sessions AS conv_micros,
          CASE WHEN tc > 0 THEN
            (n_converted * ts * 1000000) // (n_sessions * tc) END
            AS lift_micros
        FROM dist CROSS JOIN tot
        """ + orderedSql(Seq("n_events", "n_sessions", "n_converted",
          "conv_micros", "lift_micros")))),

    // x173 — hopping (sliding) window profile: 10-minute windows
    // advancing every 5, per (window, type) exact event and distinct
    // user counts via Spark's NATIVE window() expression — the same
    // operator Structured Streaming runs, so this batch row proves
    // the streaming spelling. The oracle expands each event to its
    // two epoch-aligned hop slots explicitly.
    QueryDef("x173_hopping_window",
      (s, dir) => ordered(graft.ops.EventAnalytics.hoppingProfile(
        t(s, dir, "events"), "ts", "user_id", "event_type",
        lengthSec = 600, hopSec = 300)),
      Some("""WITH b AS (
          SELECT event_type, user_id,
            epoch_us(ts) // 1000000 AS tsec
          FROM events),
        w AS (
          SELECT event_type, user_id,
            unnest([(tsec // 300) * 300, (tsec // 300) * 300 - 300])
              AS ws
          FROM b)
        SELECT make_timestamp(ws * 1000000) AS window_start,
          event_type,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM w GROUP BY 1, 2
        """ + orderedSql(Seq("window_start", "event_type", "n_events",
          "n_users")))),

    // x174 — RFM segmentation: per-user recency/frequency/monetary,
    // each split at its corpus lower median (rank (n+1) div 2 in the
    // (metric, user) order — computed WITHOUT a global window via the
    // two-pass PrefixSum ordinal), published as the 8-cell bit grid.
    // Monetary routes through DECIMAL(18,6) (x128 money convention)
    // so the sum is exact and order-independent in both engines.
    QueryDef("x174_rfm_segments",
      (s, dir) => ordered(graft.ops.EventAnalytics.rfmSegments(
        t(s, dir, "events"), "user_id", "ts", "event_type", "value",
        target = "purchase")),
      Some("""WITH base AS (
          SELECT user_id AS u,
            epoch_us(ts) // 86400000000 AS d,
            CASE WHEN event_type = 'purchase' AND value IS NOT NULL
              THEN CAST(value AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END AS v
          FROM events),
        cm AS (SELECT MAX(d) AS cd FROM base),
        rfm AS (
          SELECT u, cd - MAX(d) AS rec_days,
            CAST(COUNT(*) AS BIGINT) AS freq,
            CAST(SUM(v) * 1000000 AS BIGINT) AS mon
          FROM base CROSS JOIN cm GROUP BY u, cd),
        mr AS (SELECT rec_days AS m FROM (
          SELECT rec_days,
            ROW_NUMBER() OVER (ORDER BY rec_days, u) AS rk,
            COUNT(*) OVER () AS n
          FROM rfm) WHERE rk = (n + 1) // 2),
        mf AS (SELECT freq AS m FROM (
          SELECT freq,
            ROW_NUMBER() OVER (ORDER BY freq, u) AS rk,
            COUNT(*) OVER () AS n
          FROM rfm) WHERE rk = (n + 1) // 2),
        mm AS (SELECT mon AS m FROM (
          SELECT mon,
            ROW_NUMBER() OVER (ORDER BY mon, u) AS rk,
            COUNT(*) OVER () AS n
          FROM rfm) WHERE rk = (n + 1) // 2)
        SELECT CAST(rec_days > mr.m AS BIGINT) AS r_stale,
          CAST(freq > mf.m AS BIGINT) AS f_hi,
          CAST(mon > mm.m AS BIGINT) AS m_hi,
          CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(freq) AS BIGINT) AS sum_events,
          CAST(SUM(mon) AS BIGINT) AS sum_monetary_micros
        FROM rfm CROSS JOIN mr CROSS JOIN mf CROSS JOIN mm
        GROUP BY 1, 2, 3
        """ + orderedSql(Seq("r_stale", "f_hi", "m_hi", "n_users",
          "sum_events", "sum_monetary_micros")))),

    // x175 — second-order (Markov-2) transition matrix: x138's
    // contract with two lags; context-normalized probabilities in
    // exact floor-division micros within each (prev2, prev1) pair.
    QueryDef("x175_markov2",
      (s, dir) => ordered(graft.ops.EventAnalytics.transition2Report(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH p AS (
          SELECT user_id, event_type AS next_type,
            LAG(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev1_type,
            LAG(event_type, 2) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev2_type
          FROM events),
        m AS (
          SELECT prev2_type, prev1_type, next_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE prev2_type IS NOT NULL GROUP BY 1, 2, 3)
        SELECT prev2_type, prev1_type, next_type, n,
          (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY prev2_type,
            prev1_type) AS BIGINT) AS p_micros
        FROM m
        """ + orderedSql(Seq("prev2_type", "prev1_type", "next_type",
          "n", "p_micros")))),

    // x176 — weekly cohort VALUE curves (x130 upgraded from presence
    // to monetary mass): per (cohort week, age week) distinct actives,
    // exact booked micros, and the cohort-partitioned cumulative —
    // the LTV curve. Money through DECIMAL(18,6) (x128 convention);
    // weeks Monday-aligned in both engines.
    QueryDef("x176_cohort_value",
      (s, dir) => ordered(graft.ops.EventAnalytics.cohortValueCurves(
        t(s, dir, "events"), "user_id", "ts", "value")),
      Some("""WITH base AS (
          SELECT user_id AS u,
            CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS w,
            CAST(COALESCE(value, 0) AS DECIMAL(18,6)) AS v
          FROM events),
        f AS (SELECT u, MIN(w) AS cohort_week FROM base GROUP BY u),
        m AS (
          SELECT cohort_week,
            CAST(datediff('day', cohort_week, w) AS BIGINT) // 7
              AS age_weeks,
            CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active_users,
            CAST(SUM(v) * 1000000 AS BIGINT) AS value_micros
          FROM base JOIN f USING (u) GROUP BY 1, 2)
        SELECT cohort_week, age_weeks, n_active_users, value_micros,
          CAST(SUM(value_micros) OVER (PARTITION BY cohort_week
            ORDER BY age_weeks
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_value_micros
        FROM m
        """ + orderedSql(Seq("cohort_week", "age_weeks",
          "n_active_users", "value_micros", "cum_value_micros")))),

    // x177 — per-source quantile normalization of doc length: each
    // doc's exact empirical quantile position within its source in
    // micros ((rank-1)·1e6 div (n-1), ranks over the FULL stratum),
    // published for the deterministic 10% md5 id sample (the
    // x166/x170 convention). The cross-source score calibration.
    QueryDef("x177_quantile_norm",
      (s, dir) => ordered(graft.ops.DataPipeline.quantileNormalize(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "source",
        size(split(col("text"), " ")).cast(LongType))),
      Some("""WITH base AS (
          SELECT doc_id AS id, source AS stratum,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS v
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT id, stratum, v,
            CAST(ROW_NUMBER() OVER (PARTITION BY stratum
              ORDER BY v, id) AS BIGINT) AS i,
            CAST(COUNT(*) OVER (PARTITION BY stratum) AS BIGINT) AS n
          FROM base)
        SELECT id, stratum, v,
          CASE WHEN n = 1 THEN 0
            ELSE ((i - 1) * 1000000) // (n - 1) END AS pr_micros
        FROM r WHERE substr(md5(CAST(id AS VARCHAR)), 1, 4) < '199a'
        """ + orderedSql(Seq("id", "stratum", "v", "pr_micros")))),

    // x178 — robust daily-volume anomaly gate: median/MAD z-scores in
    // exact micros over the calendar-day frame, the repo's
    // lower-median convention ((n+1) div 2 rank) for BOTH medians,
    // MAD=0 degenerating to the strict any-deviation flag.
    QueryDef("x178_daily_anomaly",
      (s, dir) => ordered(graft.ops.EventAnalytics.dailyAnomaly(
        t(s, dir, "events"), "ts")),
      Some("""WITH d AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
            CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1),
        md AS (SELECT n_events AS m FROM (
          SELECT n_events,
            ROW_NUMBER() OVER (ORDER BY n_events, day) AS rk,
            COUNT(*) OVER () AS n
          FROM d) WHERE rk = (n + 1) // 2),
        dv AS (SELECT day, n_events,
            n_events - md.m AS dev, abs(n_events - md.m) AS ad
          FROM d CROSS JOIN md),
        mad AS (SELECT ad AS m FROM (
          SELECT ad, day,
            ROW_NUMBER() OVER (ORDER BY ad, day) AS rk,
            COUNT(*) OVER () AS n
          FROM dv) WHERE rk = (n + 1) // 2)
        SELECT day, n_events, dev,
          CASE WHEN mad.m > 0
            THEN (ad * 1000000) // mad.m END AS z_micros,
          CASE WHEN mad.m > 0
            THEN CAST((ad * 1000000) // mad.m > 3500000 AS BIGINT)
            ELSE CAST(dev <> 0 AS BIGINT) END AS is_anomaly
        FROM dv CROSS JOIN mad
        """ + orderedSql(Seq("day", "n_events", "dev", "z_micros",
          "is_anomaly")))),

    // x179 — Benford first-digit audit on positive event values:
    // digits from the BIGINT micro rendering (never float log10),
    // frozen integer expectations, floor-division shares; all nine
    // digit rows publish even at zero count.
    QueryDef("x179_benford",
      (s, dir) => ordered(graft.ops.EventAnalytics.benfordAudit(
        t(s, dir, "events"), "value")),
      Some("""WITH v AS (
          SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000
            AS BIGINT) AS vm
          FROM events WHERE value IS NOT NULL),
        c AS (
          SELECT CAST(substr(CAST(vm AS VARCHAR), 1, 1) AS BIGINT)
              AS digit,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM v WHERE vm > 0 GROUP BY 1),
        tot AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS t
          FROM c),
        b AS (
          SELECT CAST(UNNEST([1,2,3,4,5,6,7,8,9]) AS BIGINT)
              AS digit,
            CAST(UNNEST([301029,176091,124938,96910,79181,66946,
              57991,51152,45757]) AS BIGINT) AS benford_micros)
        , out AS (
          SELECT b.digit AS digit,
            CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
            CASE WHEN tot.t > 0
              THEN (COALESCE(c.n, 0) * 1000000) // tot.t
              ELSE 0 END AS share_micros,
            b.benford_micros AS benford_micros,
            (CASE WHEN tot.t > 0
              THEN (COALESCE(c.n, 0) * 1000000) // tot.t
              ELSE 0 END) - b.benford_micros AS dev_micros
          FROM b LEFT JOIN c ON b.digit = c.digit CROSS JOIN tot)
        SELECT * FROM out
        """ + orderedSql(Seq("digit", "n", "share_micros",
          "benford_micros", "dev_micros")))),

    // x180 — calendar-densified daily series: the full min..max day
    // grid with zero-filled counts and explicit gap flags; grid from
    // native sequence()/generate_series on UTC midnights.
    QueryDef("x180_calendar_densify",
      (s, dir) => ordered(graft.ops.EventAnalytics.calendarDensify(
        t(s, dir, "events"), "ts", "user_id")),
      Some("""WITH d AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events GROUP BY 1),
        b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
        g AS (SELECT UNNEST(generate_series(d0, d1,
          INTERVAL 1 DAY)) AS day FROM b)
, out AS (
          SELECT g.day AS day,
            CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
            CAST(COALESCE(d.n_users, 0) AS BIGINT) AS n_users,
            CAST(d.day IS NULL AS BIGINT) AS is_gap
          FROM g LEFT JOIN d ON g.day = d.day)
        SELECT * FROM out
        """ + orderedSql(Seq("day", "n_events", "n_users",
          "is_gap")))),

    // x181 — daily peak session concurrency: q25-convention gap
    // sessions, day-clipped spans, inclusive-endpoint sweep line
    // (+1 before −1 on ties) under a day-partitioned running sum.
    QueryDef("x181_peak_concurrency",
      (s, dir) => ordered(graft.ops.EventAnalytics.peakConcurrency(
        t(s, dir, "events"), "user_id", "ts", "event_id")),
      Some("""WITH b AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        m AS (
          SELECT user_id, event_id, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, tus,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        se AS (SELECT user_id AS u, session_idx,
            MIN(tus) AS t0, MAX(tus) AS t1
          FROM sx GROUP BY 1, 2),
        sp AS (SELECT u, session_idx, t0, t1,
            UNNEST(generate_series(t0 // 86400000000,
              t1 // 86400000000)) AS day
          FROM se),
        cl AS (SELECT day, u, session_idx,
            GREATEST(t0, day * 86400000000) AS s,
            LEAST(t1, (day + 1) * 86400000000 - 1) AS e
          FROM sp),
        pts AS (
          SELECT day, s AS t, CAST(1 AS BIGINT) AS delta, u,
            session_idx FROM cl
          UNION ALL
          SELECT day, e AS t, CAST(-1 AS BIGINT) AS delta, u,
            session_idx FROM cl),
        run AS (SELECT day,
            SUM(delta) OVER (PARTITION BY day
              ORDER BY t, delta DESC, u, session_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
          FROM pts)
        SELECT make_timestamp(day * 86400000000) AS day,
          CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
          CAST(MAX(r) AS BIGINT) AS peak_concurrency
        FROM run GROUP BY 1
        """ + orderedSql(Seq("day", "n_sessions",
          "peak_concurrency")))),

    // x182 — duplication-vs-quality lift: md5 exact-dup clusters
    // (q19d key), size classes capped at 5+, means micro-rounded
    // BEFORE the lift division in both engines.
    QueryDef("x182_dup_quality",
      (s, dir) => ordered(graft.ops.TextAnalysis.dupQualityLift(
        t(s, dir, "documents"), "text", "n_chars")),
      Some("""WITH g AS (
          SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(SUM(n_chars) AS BIGINT) AS slen
          FROM documents GROUP BY 1),
        cl AS (
          SELECT LEAST(c, 5) AS size_class,
            CAST(SUM(c) AS BIGINT) AS n_docs,
            CAST(SUM(slen) AS BIGINT) AS s
          FROM g GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
            CAST(SUM(s) AS BIGINT) AS l
          FROM cl)
        SELECT size_class, n_docs,
          (s * 1000000) // n_docs AS mean_len_micros,
          (((s * 1000000) // n_docs) * 1000000) //
            ((l * 1000000) // n) AS lift_micros
        FROM cl CROSS JOIN tot
        """ + orderedSql(Seq("size_class", "n_docs",
          "mean_len_micros", "lift_micros")))),

    // x183 — event-type audience overlap: distinct-user Jaccard per
    // unordered type pair by inclusion–exclusion; the user-grain
    // companion of x155's session-grain lift.
    QueryDef("x183_audience_overlap",
      (s, dir) => ordered(graft.ops.EventAnalytics.audienceOverlap(
        t(s, dir, "events"), "user_id", "event_type")),
      Some("""WITH tu AS (
          SELECT DISTINCT event_type AS t, user_id AS u
          FROM events WHERE user_id IS NOT NULL),
        sz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
          FROM tu GROUP BY 1),
        p AS (
          SELECT a.t AS type_a, b.t AS type_b,
            CAST(COUNT(*) AS BIGINT) AS n_both
          FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
          GROUP BY 1, 2)
        SELECT type_a, type_b, n_both,
          (n_both * 1000000) // (sa.n + sb.n - n_both)
            AS jaccard_micros
        FROM p
        JOIN sz sa ON sa.t = type_a
        JOIN sz sb ON sb.t = type_b
        """ + orderedSql(Seq("type_a", "type_b", "n_both",
          "jaccard_micros")))),

    // x184 — weekday × hour traffic heatmap: dow from pure integer
    // epoch-day arithmetic ((d+4) mod 7, 0=Sunday — no engine
    // date_part conventions), lift vs the uniform 1/168 cell.
    QueryDef("x184_week_heatmap",
      (s, dir) => ordered(graft.ops.EventAnalytics.weekHeatmap(
        t(s, dir, "events"), "ts")),
      Some("""WITH b AS (
          SELECT epoch_us(ts) AS tus FROM events),
        c AS (
          SELECT ((tus // 86400000000 + 4) % 7 + 7) % 7 AS dow,
            ((tus // 3600000000) % 24 + 24) % 24 AS hour,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
        SELECT CAST(dow AS BIGINT) AS dow,
          CAST(hour AS BIGINT) AS hour, n,
          (n * 1000000) // tot.t AS share_micros,
          (n * 168 * 1000000) // tot.t AS lift_micros
        FROM c CROSS JOIN tot
        """ + orderedSql(Seq("dow", "hour", "n", "share_micros",
          "lift_micros")))),

    // x185 — transition latency: mean/max gap micros per ordered
    // type pair in the x138 (ts, id) order; same-instant transitions
    // contribute 0.
    QueryDef("x185_transition_latency",
      (s, dir) => ordered(graft.ops.EventAnalytics.transitionLatency(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH p AS (
          SELECT user_id, event_type AS next_type,
            LAG(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type,
            epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
              PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events)
        SELECT prev_type, next_type,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(gap) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
            AS mean_gap_micros,
          CAST(MAX(gap) AS BIGINT) AS max_gap_micros
        FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
        """ + orderedSql(Seq("prev_type", "next_type", "n",
          "mean_gap_micros", "max_gap_micros")))),

    // x186 — per-source sentence statistics: [.!?]+ segmentation,
    // trimmed non-blank segments, boundary-free doc share.
    QueryDef("x186_sentence_stats",
      (s, dir) => ordered(graft.ops.TextAnalysis.sentenceStats(
        t(s, dir, "documents"), "text", "source")),
      Some("""WITH per AS (
          SELECT source AS block,
            len(list_filter(list_transform(
              string_split_regex(text, '[.!?]+'), s -> trim(s)),
              s -> s <> '')) AS ns,
            list_sum(list_transform(list_filter(list_transform(
              string_split_regex(text, '[.!?]+'), s -> trim(s)),
              s -> s <> ''), s -> CAST(len(s) AS BIGINT))) AS sl,
            CAST(NOT regexp_matches(text, '[.!?]') AS BIGINT) AS nb
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT block, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(ns) AS BIGINT) AS n_sentences,
            CAST(SUM(COALESCE(sl, 0)) AS BIGINT) AS sum_len,
            CAST(SUM(nb) AS BIGINT) AS nbd
          FROM per GROUP BY 1)
        SELECT block, n_docs, n_sentences,
          CASE WHEN n_sentences > 0
            THEN (sum_len * 1000000) // n_sentences
            END AS mean_sent_len_micros,
          (nbd * 1000000) // n_docs AS no_boundary_micros
        FROM r
        """ + orderedSql(Seq("block", "n_docs", "n_sentences",
          "mean_sent_len_micros", "no_boundary_micros")))),

    // x187 — per-source markup/contact incidence: URL, email, and
    // HTML-tag doc shares off three explicit-ASCII regex probes.
    QueryDef("x187_markup_profile",
      (s, dir) => ordered(graft.ops.TextAnalysis.markupProfile(
        t(s, dir, "documents"), "text", "source")),
      Some("""WITH per AS (
          SELECT source AS block,
            CAST(regexp_matches(text, 'https?://') AS BIGINT) AS u,
            CAST(regexp_matches(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')
              AS BIGINT) AS e,
            CAST(regexp_matches(text,
              '<[A-Za-z][A-Za-z0-9]*[^>]*>') AS BIGINT) AS tg
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT block, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(u) AS BIGINT) AS su,
            CAST(SUM(e) AS BIGINT) AS se,
            CAST(SUM(tg) AS BIGINT) AS st
          FROM per GROUP BY 1)
        SELECT block, n_docs,
          (su * 1000000) // n_docs AS url_micros,
          (se * 1000000) // n_docs AS email_micros,
          (st * 1000000) // n_docs AS tag_micros
        FROM r
        """ + orderedSql(Seq("block", "n_docs", "url_micros",
          "email_micros", "tag_micros")))),

    // x188 — session survival curve: suffix-accumulated x152
    // histogram (sessions reaching ≥ k events) with share micros;
    // the suffix sum runs via the two-pass prefix-sum primitive, not
    // a global window.
    QueryDef("x188_session_survival",
      (s, dir) => ordered(graft.ops.EventAnalytics.sessionSurvival(
        t(s, dir, "events"), "user_id", "ts", "event_id")),
      Some("""WITH b AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        m AS (
          SELECT user_id, event_id,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        sl AS (SELECT user_id, session_idx,
            CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sx GROUP BY 1, 2),
        h AS (SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions
          FROM sl GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS t FROM h),
        sfx AS (SELECT n_events, n_sessions,
            CAST(SUM(n_sessions) OVER (ORDER BY n_events DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_reached
          FROM h)
        SELECT n_events, n_sessions, n_reached,
          (n_reached * 1000000) // tot.t AS survival_micros
        FROM sfx CROSS JOIN tot
        """ + orderedSql(Seq("n_events", "n_sessions", "n_reached",
          "survival_micros")))),

    // x189 — per-label class profile: exact balance shares plus the
    // x159-quantized mean squared norm (the silent-mixup tell).
    QueryDef("x189_label_profile",
      (s, dir) => ordered(Similarity.labelProfile(
        t(s, dir, "embeddings"), "embedding", "label")),
      Some("""WITH per AS (
          SELECT label,
            CAST(FLOOR(list_dot_product(
              CAST(embedding AS DOUBLE[]),
              CAST(embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT)
              AS q
          FROM embeddings),
        r AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
            CAST(SUM(q) AS BIGINT) AS sq
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM r)
        SELECT label, n_vecs,
          (n_vecs * 1000000) // tot.t AS share_micros,
          sq // n_vecs AS mean_normsq_q4
        FROM r CROSS JOIN tot
        """ + orderedSql(Seq("label", "n_vecs", "share_micros",
          "mean_normsq_q4")))),

    // x190 — props payload health: q17's JSON extraction read as a
    // null-share + mean/min/max profile per type.
    QueryDef("x190_props_profile",
      (s, dir) => ordered(graft.ops.EventAnalytics.propsProfile(
        t(s, dir, "events"), "props", "event_type")),
      Some("""WITH per AS (
          SELECT event_type,
            CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events),
        r AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(k IS NULL AS BIGINT)) AS BIGINT) AS nn,
            CAST(SUM(k) AS BIGINT) AS sk,
            CAST(MIN(k) AS BIGINT) AS min_k,
            CAST(MAX(k) AS BIGINT) AS max_k
          FROM per GROUP BY 1)
        SELECT event_type, n,
          (nn * 1000000) // n AS null_micros,
          CASE WHEN n - nn > 0
            THEN (sk * 1000000) // (n - nn) END AS mean_k_micros,
          min_k, max_k
        FROM r
        """ + orderedSql(Seq("event_type", "n", "null_micros",
          "mean_k_micros", "min_k", "max_k")))),

    // x191 — per-type value spectrum: x128 money micros bucketed by
    // bit length (the x147 grid), exact counts and sums per cell.
    QueryDef("x191_value_spectrum",
      (s, dir) => ordered(graft.ops.EventAnalytics.valueSpectrum(
        t(s, dir, "events"), "event_type", "value")),
      Some("""WITH v AS (
          SELECT event_type,
            CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
              AS vm
          FROM events WHERE value IS NOT NULL),
        b AS (
          SELECT event_type,
            CASE WHEN vm <= 0 THEN 0
              ELSE CAST(length(bin(vm)) AS BIGINT) END AS bucket, vm
          FROM v)
        SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(vm) AS BIGINT) AS sum_value_micros
        FROM b GROUP BY 1, 2
        """ + orderedSql(Seq("event_type", "bucket", "n",
          "sum_value_micros")))),

    // x192 — bounce rate by session entry type: one-event-session
    // share per landing surface (x167's sessionization + min_by
    // entry, x162's floor-division share).
    QueryDef("x192_bounce_rate",
      (s, dir) => ordered(graft.ops.EventAnalytics.bounceRate(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH b AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
          FROM events),
        m AS (
          SELECT user_id, event_id, event_type, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, event_id, event_type,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        per AS (
          SELECT user_id, session_idx,
            min_by(event_type, event_id) AS entry_type,
            CAST(CAST(COUNT(*) AS BIGINT) = 1 AS BIGINT) AS bounce
          FROM sx GROUP BY 1, 2)
        SELECT entry_type,
          CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(SUM(bounce) AS BIGINT) AS n_bounce,
          (CAST(SUM(bounce) AS BIGINT) * 1000000)
            // CAST(COUNT(*) AS BIGINT) AS bounce_micros
        FROM per GROUP BY 1
        """ + orderedSql(Seq("entry_type", "n_sessions", "n_bounce",
          "bounce_micros")))),

    // x193 — hourly conversion propensity: x184's integer hour, the
    // x162 rate/lift arithmetic against the all-hours baseline.
    QueryDef("x193_hourly_conversion",
      (s, dir) => ordered(graft.ops.EventAnalytics.hourlyConversion(
        t(s, dir, "events"), "ts", "event_type",
        target = "purchase")),
      Some("""WITH per AS (
          SELECT ((epoch_us(ts) // 3600000000) % 24 + 24) % 24
              AS hour,
            CAST(event_type = 'purchase' AS BIGINT) AS t
          FROM events),
        r AS (
          SELECT CAST(hour AS BIGINT) AS hour,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(t) AS BIGINT) AS n_target
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
            CAST(SUM(n_target) AS BIGINT) AS tt
          FROM r)
        SELECT hour, n, n_target,
          (n_target * 1000000) // n AS conv_micros,
          CASE WHEN tot.tt > 0
            THEN (n_target * tot.tn * 1000000) // (n * tot.tt)
            END AS lift_micros
        FROM r CROSS JOIN tot
        """ + orderedSql(Seq("hour", "n", "n_target", "conv_micros",
          "lift_micros")))),

    // x194 — source Lorenz curve: cumulative corpus mass through the
    // (count DESC, source) rank order — x145's Gini unrolled into
    // the worklist.
    QueryDef("x194_lorenz_sources",
      (s, dir) => ordered(graft.ops.DataPipeline.lorenzSources(
        t(s, dir, "documents"), "source")),
      Some("""WITH r AS (
          SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM r),
        c AS (
          SELECT stratum, n_docs,
            CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, stratum
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_docs
          FROM r)
        SELECT stratum, n_docs, cum_docs,
          (cum_docs * 1000000) // tot.t AS cum_micros
        FROM c CROSS JOIN tot
        """ + orderedSql(Seq("stratum", "n_docs", "cum_docs",
          "cum_micros")))),

    // x195 — weekly growth accounting: new/retained/resurrected
    // actives plus right-censored next-week churn, all off ONE
    // distinct (user, week) frame with exact 7-day adjacency joins.
    QueryDef("x195_growth_accounting",
      (s, dir) => ordered(graft.ops.EventAnalytics.growthAccounting(
        t(s, dir, "events"), "user_id", "ts")),
      Some("""WITH act AS (
          SELECT DISTINCT user_id AS u,
            CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
          FROM events),
        f AS (SELECT u, MIN(w) AS fw FROM act GROUP BY 1),
        j AS (
          SELECT act.w AS week,
            CASE WHEN act.w = f.fw THEN 1 ELSE 0 END AS is_new,
            CASE WHEN act.w <> f.fw AND p.u IS NOT NULL
              THEN 1 ELSE 0 END AS is_ret,
            CASE WHEN act.w <> f.fw AND p.u IS NULL
              THEN 1 ELSE 0 END AS is_res,
            CASE WHEN nx.u IS NULL THEN 1 ELSE 0 END AS is_ch
          FROM act
          JOIN f ON act.u = f.u
          LEFT JOIN act p ON p.u = act.u
            AND p.w + INTERVAL 7 DAYS = act.w
          LEFT JOIN act nx ON nx.u = act.u
            AND nx.w - INTERVAL 7 DAYS = act.w)
        SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active,
          CAST(SUM(is_new) AS BIGINT) AS n_new,
          CAST(SUM(is_ret) AS BIGINT) AS n_retained,
          CAST(SUM(is_res) AS BIGINT) AS n_resurrected,
          CAST(SUM(is_ch) AS BIGINT) AS n_churned_next
        FROM j GROUP BY 1
        """ + orderedSql(Seq("week", "n_active", "n_new",
          "n_retained", "n_resurrected", "n_churned_next")))),

    // x196 — customer revenue Lorenz (the whale curve): x194's
    // cumulative generalized to exact money micros over orders,
    // published for the 10% md5 customer sample (cumulative over the
    // FULL ranking).
    QueryDef("x196_customer_lorenz",
      (s, dir) => ordered(graft.ops.DataPipeline.lorenzValue(
        t(s, dir, "orders"), "o_custkey",
        (col("o_totalprice").cast(D18_6) * lit(1000000L))
          .cast(LongType))),
      Some("""WITH per AS (
          SELECT o_custkey AS id,
            CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6))
              * 1000000 AS BIGINT)) AS BIGINT) AS v_micros
          FROM orders GROUP BY 1),
        tot AS (SELECT CAST(SUM(v_micros) AS BIGINT) AS t FROM per),
        c AS (
          SELECT id, v_micros,
            CAST(SUM(v_micros) OVER (ORDER BY v_micros DESC, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_v_micros
          FROM per)
        SELECT id, v_micros, cum_v_micros,
          CASE WHEN tot.t > 9223372036854
            THEN cum_v_micros // (tot.t // 1000000)
            ELSE (cum_v_micros * 1000000) // tot.t
            END AS cum_share_micros
        FROM c CROSS JOIN tot
        WHERE substr(md5(CAST(id AS VARCHAR)), 1, 4) < '199a'
        """ + orderedSql(Seq("id", "v_micros", "cum_v_micros",
          "cum_share_micros")))),

    // x197 — order cadence spectrum: x142's base-2 gap grid at DAY
    // grain over consecutive orders per customer.
    QueryDef("x197_order_cadence",
      (s, dir) => ordered(graft.ops.EventAnalytics.cadenceSpectrum(
        t(s, dir, "orders"), "o_custkey", "o_orderdate",
        "o_orderkey")),
      Some("""WITH b AS (
          SELECT o_custkey AS k, o_orderkey AS id,
            epoch_us(o_orderdate) // 86400000000 AS d
          FROM orders),
        g AS (
          SELECT d - lag(d) OVER (PARTITION BY k ORDER BY d, id)
            AS dt
          FROM b),
        bk AS (
          SELECT CASE WHEN dt <= 0 THEN 0
            ELSE CAST(length(bin(dt)) AS BIGINT) END AS bucket
          FROM g WHERE dt IS NOT NULL)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
          CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << (CAST(bucket AS INT) - 1))
            END AS lo_days,
          CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1
            END AS hi_days
        FROM bk GROUP BY 1
        """ + orderedSql(Seq("bucket", "n_gaps", "lo_days",
          "hi_days")))),

    // x198 — daily revenue with trailing 7-day total: the x141
    // explode-forward projection, so no ordered calendar window;
    // active days only (x180 densifies when zero rows matter).
    QueryDef("x198_trailing_revenue",
      (s, dir) => ordered(graft.ops.EventAnalytics.trailingRevenue(
        t(s, dir, "events"), "ts", "value")),
      Some("""WITH d AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
            CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,6))
              * 1000000 AS BIGINT)), 0) AS BIGINT) AS rev_micros
          FROM events GROUP BY 1),
        t AS (
          SELECT UNNEST(generate_series(day,
              day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day,
            rev_micros
          FROM d),
        s AS (SELECT day, CAST(SUM(rev_micros) AS BIGINT)
            AS trail_micros
          FROM t GROUP BY 1)
        SELECT d.day AS day, d.rev_micros, s.trail_micros
        FROM d JOIN s ON d.day = s.day
        """ + orderedSql(Seq("day", "rev_micros", "trail_micros")))),

    // x199 — inter-session gap spectrum: return time at visit grain
    // (end of one session to start of the next), the x142 base-2
    // second grid; mass starts at the 600 s band by construction.
    QueryDef("x199_session_gap",
      (s, dir) => ordered(graft.ops.EventAnalytics.sessionGapSpectrum(
        t(s, dir, "events"), "user_id", "ts", "event_id")),
      Some("""WITH b AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        m AS (
          SELECT user_id, event_id, tus,
            CASE WHEN lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) IS NULL
                 OR tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY event_id) > 600000000
                 THEN 1 ELSE 0 END AS is_new
          FROM b),
        sx AS (
          SELECT user_id, tus,
            CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
          FROM m),
        se AS (SELECT user_id AS u, session_idx,
            MIN(tus) AS t0, MAX(tus) AS t1
          FROM sx GROUP BY 1, 2),
        g AS (
          SELECT (t0 - lag(t1) OVER (PARTITION BY u
            ORDER BY session_idx)) // 1000000 AS dt
          FROM se),
        bk AS (
          SELECT CASE WHEN dt <= 0 THEN 0
            ELSE CAST(length(bin(dt)) AS BIGINT) END AS bucket
          FROM g WHERE dt IS NOT NULL)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
          CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << (CAST(bucket AS INT) - 1))
            END AS lo_s,
          CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1
            END AS hi_s
        FROM bk GROUP BY 1
        """ + orderedSql(Seq("bucket", "n_gaps", "lo_s", "hi_s")))),

    // x200 — month-over-month revenue growth: exact monthly money
    // micros, INTERVAL 1 MONTH adjacency join, x196's overflow-safe
    // ratio; first month and zero-predecessor publish NULLs.
    QueryDef("x200_monthly_growth",
      (s, dir) => ordered(graft.ops.EventAnalytics.monthlyGrowth(
        t(s, dir, "events"), "ts", "value")),
      Some("""WITH m AS (
          SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
            CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,6))
              * 1000000 AS BIGINT)), 0) AS BIGINT) AS rev_micros
          FROM events GROUP BY 1),
        p AS (
          SELECT month + INTERVAL 1 MONTH AS month,
            rev_micros AS prev_micros
          FROM m),
        out AS (
          SELECT m.month AS month, m.rev_micros AS rev_micros,
            p.prev_micros AS prev_micros,
            m.rev_micros - p.prev_micros AS delta_micros,
            CASE WHEN p.prev_micros > 0
                AND ABS(m.rev_micros) <= 9223372036854
              THEN (m.rev_micros * 1000000) // p.prev_micros
              WHEN p.prev_micros >= 1000000
              THEN m.rev_micros // (p.prev_micros // 1000000)
              END AS growth_micros
          FROM m LEFT JOIN p ON m.month = p.month)
        SELECT * FROM out
        """ + orderedSql(Seq("month", "rev_micros", "prev_micros",
          "delta_micros", "growth_micros")))),

    // x201 — transition time-reversal asymmetry: per unordered type
    // pair |n(a->b) - n(b->a)| / total in micros off the x138
    // matrix; self-loops excluded, one-way edges publish 1e6.
    QueryDef("x201_transition_asym",
      (s, dir) => ordered(graft.ops.EventAnalytics.transitionAsymmetry(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
      Some("""WITH p AS (
          SELECT user_id, event_type AS next_type,
            LAG(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type
          FROM events),
        m AS (
          SELECT prev_type, next_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM p
          WHERE prev_type IS NOT NULL AND prev_type <> next_type
          GROUP BY 1, 2)
        SELECT LEAST(prev_type, next_type) AS type_a,
          GREATEST(prev_type, next_type) AS type_b,
          CAST(COALESCE(SUM(CASE WHEN prev_type < next_type
            THEN n END), 0) AS BIGINT) AS n_ab,
          CAST(COALESCE(SUM(CASE WHEN prev_type > next_type
            THEN n END), 0) AS BIGINT) AS n_ba,
          (abs(CAST(COALESCE(SUM(CASE WHEN prev_type < next_type
              THEN n END), 0) AS BIGINT)
            - CAST(COALESCE(SUM(CASE WHEN prev_type > next_type
              THEN n END), 0) AS BIGINT)) * 1000000)
            // (CAST(COALESCE(SUM(CASE WHEN prev_type < next_type
              THEN n END), 0) AS BIGINT)
            + CAST(COALESCE(SUM(CASE WHEN prev_type > next_type
              THEN n END), 0) AS BIGINT)) AS asym_micros
        FROM m GROUP BY 1, 2
        """ + orderedSql(Seq("type_a", "type_b", "n_ab", "n_ba",
          "asym_micros")))),

    // x202 — supplier revenue whale curve: x196's lorenzValue reused
    // verbatim on lineitem discounted revenue per supplier — the
    // supply-concentration risk read.
    QueryDef("x202_supplier_lorenz",
      (s, dir) => ordered(graft.ops.DataPipeline.lorenzValue(
        t(s, dir, "lineitem"), "l_suppkey",
        (expr("l_extendedprice * (1 - l_discount)").cast(D18_6) *
          lit(1000000L)).cast(LongType))),
      Some("""WITH per AS (
          SELECT l_suppkey AS id,
            CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
              AS v_micros
          FROM lineitem GROUP BY 1),
        tot AS (SELECT CAST(SUM(v_micros) AS BIGINT) AS t FROM per),
        c AS (
          SELECT id, v_micros,
            CAST(SUM(v_micros) OVER (ORDER BY v_micros DESC, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_v_micros
          FROM per)
        SELECT id, v_micros, cum_v_micros,
          CASE WHEN tot.t > 9223372036854
            THEN cum_v_micros // (tot.t // 1000000)
            ELSE (cum_v_micros * 1000000) // tot.t
            END AS cum_share_micros
        FROM c CROSS JOIN tot
        WHERE substr(md5(CAST(id AS VARCHAR)), 1, 4) < '199a'
        """ + orderedSql(Seq("id", "v_micros", "cum_v_micros",
          "cum_share_micros")))),

    // x203 — discount-band revenue impact: per whole-percent discount
    // band (via the exact DECIMAL(18,6) cast — never double*100,
    // whose binary representation truncates 0.04 to 3), exact line
    // counts, discounted revenue micros, and the forgone discount
    // micros.
    QueryDef("x203_discount_bands",
      (s, dir) => ordered(t(s, dir, "lineitem")
        .select(floor(col("l_discount").cast(D18_6) * lit(100L))
            .cast(LongType).as("band_pct"),
          (expr("l_extendedprice * (1 - l_discount)").cast(D18_6) *
            lit(1000000L)).cast(LongType).as("_rev"),
          (expr("l_extendedprice * l_discount").cast(D18_6) *
            lit(1000000L)).cast(LongType).as("_disc"))
        .groupBy(col("band_pct"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("_rev")).as("rev_micros"),
          sum(col("_disc")).as("forgone_micros"))),
      Some("""SELECT
          CAST(FLOOR(CAST(l_discount AS DECIMAL(18,6)) * 100)
            AS BIGINT) AS band_pct,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
            AS rev_micros,
          CAST(SUM(CAST(CAST(l_extendedprice * l_discount
            AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
            AS forgone_micros
        FROM lineitem GROUP BY 1
        """ + orderedSql(Seq("band_pct", "n_lines", "rev_micros",
          "forgone_micros")))),

    // x204 — brand revenue mix: lineitem ⋈ part on the part key. NO
    // broadcast hint — part grows with SF (the r15 q4/q5 discipline:
    // a forced hint is a driver OOM at 100×); AQE broadcasts while
    // the pruned two-column dim fits and degrades to a shuffle join
    // when it outgrows that. Per brand: exact line count, discounted
    // revenue micros, corpus revenue share (x196 overflow-safe).
    QueryDef("x204_brand_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_partkey"),
          (expr("l_extendedprice * (1 - l_discount)").cast(D18_6) *
            lit(1000000L)).cast(LongType).as("_rev"))
        val p = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val per = li.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("_rev")).as("rev_micros"))
          .localCheckpoint(eager = false)
        val tot = per.agg(sum(col("rev_micros")).as("_t"))
        ordered(per.crossJoin(broadcast(tot))
          .select(col("p_brand"), col("n_lines"), col("rev_micros"),
            when(col("_t") > 9223372036854L,
              expr("rev_micros div (_t div 1000000)"))
              .otherwise(expr("(rev_micros * 1000000) div _t"))
              .as("share_micros")))
      },
      Some("""WITH per AS (
          SELECT p_brand,
            CAST(COUNT(*) AS BIGINT) AS n_lines,
            CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
              AS rev_micros
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1),
        tot AS (SELECT CAST(SUM(rev_micros) AS BIGINT) AS t FROM per)
        SELECT p_brand, n_lines, rev_micros,
          CASE WHEN tot.t > 9223372036854
            THEN rev_micros // (tot.t // 1000000)
            ELSE (rev_micros * 1000000) // tot.t
            END AS share_micros
        FROM per CROSS JOIN tot
        """ + orderedSql(Seq("p_brand", "n_lines", "rev_micros",
          "share_micros")))),

    // x113 — containment dedup in the PRODUCTION configuration: the
    // x103 inverted (block, token) join with the df-cap ON (within-
    // block document frequency > 20 ⇒ the token identifies nothing
    // and its join bucket is quadratic — drop it before the pair
    // join, the x38 precedent). The denominator stays |set(A)|, so
    // capping only undercounts `shared`: capped containment is a
    // lower bound and the miss is pure recall (379/500 top-host rows
    // survive on this deliberately dense 31-type fixture; DedupSpec
    // pins capped ⊆ uncapped and the recall floor). The oracle
    // spells the identical HAVING-count cap, so this green row
    // proves the production path, not just the oracle-friendly one.
    QueryDef("x113_containment_capped",
      (s, dir) => ordered(Dedup.containmentTopHost(
        t(s, dir, "documents"), "doc_id", "text", "source",
        minContainment = 0.5, dfCap = Some(20L))),
      Some("""WITH base AS (
          SELECT doc_id, source,
            list_distinct(string_split(text, ' ')) AS tok
          FROM documents WHERE text IS NOT NULL),
        sets AS (SELECT doc_id, source, unnest(tok) AS tok FROM base),
        keep AS (SELECT source, tok FROM sets
          GROUP BY source, tok HAVING COUNT(*) <= 20),
        k AS (SELECT s.doc_id, s.source, s.tok
          FROM sets s JOIN keep USING (source, tok)),
        sh AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(COUNT(*) AS BIGINT) AS shared
          FROM k a JOIN k b
            ON a.source = b.source AND a.tok = b.tok
              AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        na AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS na FROM base),
        c AS (
          SELECT a_id, b_id, shared,
            CAST(shared AS DOUBLE) / na.na AS containment
          FROM sh JOIN na ON sh.a_id = na.doc_id
          WHERE CAST(shared AS DOUBLE) / na.na >= 0.5),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY containment DESC, b_id) AS rk
          FROM c)
        SELECT a_id, b_id, shared, containment FROM r WHERE rk = 1
        """ + orderedSql(Seq("a_id", "b_id", "shared", "containment")))),

    // x114 — portable KMV distinct sketch (the x43-style twin closing
    // x16's no-oracle gap): k-minimum-values over md5 hex with the
    // (k-1)/h_(k) estimator on a 16-bit prefix grid, spelled from
    // primitives both engines own so the driver hash-checks the whole
    // sketch→estimate pipeline shape x16 runs as native HLL. k=64 <
    // the fixture's 150 distinct users per type, so the ESTIMATOR
    // branch is live (not the sub-k exact short-circuit); n_exact
    // rides along so the row also reports the sketch's observed
    // accuracy. Estimate arithmetic: exact integers → one IEEE
    // division → floor, identical both sides.
    QueryDef("x114_portable_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val est = Cardinality.portableKmvDistinct(
          ev, "event_type", "user_id", k = 64)
        val exact = ev.filter(col("user_id").isNotNull)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        ordered(est.join(exact, "event_type"))
      },
      Some("""WITH h AS (
          SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        sel AS (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM h),
        kv AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_k,
            MAX(substr(h, 1, 4)) AS kh
          FROM sel WHERE rk <= 64 GROUP BY event_type),
        v AS (
          SELECT event_type, n_k,
            CAST((strpos('0123456789abcdef', substr(kh, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(kh, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(kh, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(kh, 4, 1)) - 1)
              AS BIGINT) AS kth_v
          FROM kv),
        ex AS (
          SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
            AS n_exact
          FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
        SELECT v.event_type AS event_type, n_k, kth_v,
          CAST(CASE WHEN n_k < 64 THEN n_k
            ELSE FLOOR(CAST(63 * 65536 AS DOUBLE) /
              CAST(kth_v + 1 AS DOUBLE)) END AS BIGINT) AS est_distinct,
          n_exact
        FROM v JOIN ex USING (event_type)
        """ + orderedSql(Seq("event_type", "n_k", "kth_v",
          "est_distinct", "n_exact")))),

    // x11 — footer inspection (reference R2 footer deserialize): row
    // counts read from Parquet footers only (no data scan), cross-checked
    // against the oracle's full COUNT(*).
    QueryDef("x11_inspect_footer",
      (s, dir) => {
        import s.implicits._
        // a table may be one file (driver fixture) or a multi-part
        // dataset directory (fixture mirror): sum footer row counts
        // over the dataset's files — still footer-only (no data scan),
        // and the per-file opens run DISTRIBUTED via inspectFiles (a
        // driver-side loop over 320 mirror part files cost 4 s serial)
        val fileTable = Tables.names.flatMap { n =>
          graft.inspect.ParquetInspector
            .datasetFiles(Tables.path(dir, n)).map(f => (n, f))
        }
        val byFile = // file path → table; file paths are unique
          fileTable.map { case (tn, f) => f -> tn }.toMap
        val counts = graft.inspect.ParquetInspector
          .inspectFiles(s, fileTable.map(_._2))
          .select("path", "numRows").collect()
          .map(r => byFile(r.getString(0)) -> r.getLong(1))
        val rows = Tables.names.map { n =>
          (n, counts.collect { case (t2, c) if t2 == n => c }.sum)
        }
        ordered(rows.toDF("table_name", "num_rows"))
      },
      Some {
        val unions = Tables.names.map(n =>
          s"SELECT '$n' AS table_name, COUNT(*) AS num_rows FROM $n")
          .mkString(" UNION ALL ")
        s"SELECT * FROM ($unions) " +
          orderedSql(Seq("table_name", "num_rows"))
      }),

    // x205 — partition-PRUNED day-range report over the hive-laid-out
    // events dataset ([[graft.sources.PartitionedTables]]): the query
    // reads the multi-file tree with a filter on the partition column
    // (7 of 30 day directories survive — PlanQualitySpec pins the
    // pruned file count), while the oracle computes the identical
    // aggregate from the single-file base table, so any row the
    // write/prune/read cycle loses or duplicates goes hash-red. This
    // is the one 100 TB surface a single-file fixture cannot show:
    // pruning happens at the DIRECTORY level, before any footer opens.
    QueryDef("x205_part_day_prune",
      (s, dir) => {
        val ev = graft.sources.PartitionedTables.eventsByDay(s, dir)
        ordered(ev
          .filter(col("day").between(to_date(lit("2024-01-08")),
            to_date(lit("2024-01-14"))))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum((col("value").cast(D18_6) * lit(1000000L))
              .cast(LongType)).as("value_micros")))
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
            AS BIGINT)) AS BIGINT) AS value_micros
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
          AND DATE '2024-01-14'
        GROUP BY 1
        """ + orderedSql(Seq("event_type", "n_events",
          "value_micros")))),

    // x206 — partition-pruned source scan over the hive documents
    // dataset: 2 of 20 source directories survive the IN filter; the
    // partition key lives in directory names (zero decode), the text
    // column decodes only inside the surviving directories. The x1
    // token accounting, recomputed by the oracle from the base table.
    QueryDef("x206_part_source_prune",
      (s, dir) => {
        val docs = graft.sources.PartitionedTables.docsBySource(s, dir)
        ordered(docs
          .filter(col("source").isin("src3", "src7"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
            sum(col("n_chars")).as("sum_chars")))
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
            AS sum_tokens,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE source IN ('src3', 'src7')
        GROUP BY 1
        """ + orderedSql(Seq("lang", "n_docs", "sum_tokens",
          "sum_chars")))),

    // x207 — full multi-file scan grouped by the PARTITION column
    // itself: every one of the 30 day directories is read (file-
    // granularity parallelism — the scan splits per file, not per
    // table), and the directory-derived day values must reproduce the
    // base table's CAST(ts AS DATE) exactly or the hash goes red.
    // Published as midnight TIMESTAMP, not DATE — the
    // PublishedTypeSpec portability convention (q15/q20 precedent).
    QueryDef("x207_part_day_scan",
      (s, dir) => {
        val ev = graft.sources.PartitionedTables.eventsByDay(s, dir)
        ordered(ev.groupBy(col("day"))
          .agg(count(lit(1)).as("n_events"),
            sum((col("value").cast(D18_6) * lit(1000000L))
              .cast(LongType)).as("value_micros"))
          .select(col("day").cast(TimestampNTZType).as("day"),
            col("n_events"), col("value_micros")))
      },
      Some("""SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
            AS BIGINT)) AS BIGINT) AS value_micros
        FROM events GROUP BY 1
        """ + orderedSql(Seq("day", "n_events", "value_micros")))),

    // x208–x210 — the INCREMENTAL-INGEST family (r19 verdict item 6:
    // the continuous-ingest-against-a-growing-hive-tree production
    // shape, previously spec-only): the fixture's src19 plays a newly
    // arriving crawl drop, near-dup deduped (x59's recall-certain
    // 96×24 banding, cross-side only) against the standing
    // docsBySource tree with the source=src19 directory PRUNED away,
    // and the survivors appended as a new partition directory. One
    // shared pair spelling ([[Ingest.crossIngestPairs]] /
    // `ingestPairsCtes`) feeds all three views so they cannot drift.

    // x208 — per-arriving-document ingest decision: match count
    // against the ingested corpus and the keep/drop verdict.
    QueryDef("x208_ingest_dedup",
      (s, dir) => ordered(Ingest.ingestDecision(s, dir)),
      Some(s"""WITH $ingestPairsCtes,
        m AS (
          SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_matches
          FROM im GROUP BY 1)
        SELECT d.doc_id, COALESCE(m.n_matches, 0) AS n_matches,
          m.new_id IS NULL AS kept
        FROM documents d LEFT JOIN m ON m.new_id = d.doc_id
        WHERE d.source = 'src19'
        """ + orderedSql(Seq("doc_id", "n_matches", "kept")))),

    // x209 — the pair evidence behind x208's decisions: every
    // exactly-verified (new, seen) near-dup pair at the ingest
    // threshold. The oracle is the literal cross-side all-pairs
    // spelling (the x59 precedent — LSH recall certainty at 96×24 is
    // what makes the equality exact, IngestSpec pins it).
    QueryDef("x209_ingest_pairs",
      (s, dir) => ordered(Ingest.crossIngestPairs(s, dir)),
      Some(s"""WITH $ingestPairsCtes
        SELECT new_id, seen_id, jaccard FROM im
        """ + orderedSql(Seq("new_id", "seen_id", "jaccard")))),

    // x210 — the END-TO-END round trip: deduped arrivals appended as
    // a new source=src19 directory next to the 19 untouched standing
    // directories, the whole tree re-read through hive partition
    // discovery, and the per-source accounting hash-checked against a
    // base-table oracle — any row lost or duplicated by the
    // dedup/append/re-infer cycle goes red at the driver.
    QueryDef("x210_ingest_append",
      (s, dir) => ordered(Ingest.appendedTree(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),
      Some(s"""WITH $ingestPairsCtes,
        dup AS (SELECT DISTINCT new_id FROM im)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents d
        WHERE d.source <> 'src19'
           OR d.doc_id NOT IN (SELECT new_id FROM dup)
        GROUP BY 1
        """ + orderedSql(Seq("source", "n_docs", "sum_chars")))),

    // x211 — the INGEST AUDIT CARD: the one-row report a data team
    // reads after each drop (arrived / kept / dropped, the drop rate
    // in exact BIGINT micros, and the post-append corpus accounting
    // measured from the round-tripped TREE, not recomputed from the
    // base table — so the card itself re-proves the append). The
    // x96/x83 audit-card pattern applied to the x208–x210 family;
    // cross of two one-row aggregates rides a broadcast (the x152
    // one-row-total convention, no cartesian).
    QueryDef("x211_ingest_card",
      (s, dir) => {
        // ONE cross-ingest dedup per invocation (§2.4, lazy barrier):
        // the decision leg and the append leg both consume the pair
        // frame — without the checkpoint each would re-run the full
        // band-join + verify per run. The append (an eager write
        // inside the timed window since r21's per-run protocol)
        // materializes the checkpoint; the decision leg reuses it.
        val pairs = Ingest.crossIngestPairs(s, dir)
          .localCheckpoint(eager = false)
        val dec = Ingest.ingestDecisionFrom(s, dir, pairs)
        val arr = dec.agg(count(lit(1)).as("n_arrived"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
        val after = Ingest.appendedTreeFrom(s, dir, pairs).agg(
          countDistinct(col("source")).as("n_sources_after"),
          count(lit(1)).as("n_docs_after"))
        ordered(arr.crossJoin(broadcast(after)).select(
          col("n_arrived"),
          (col("n_arrived") - col("n_dropped")).as("n_kept"),
          col("n_dropped"),
          expr("n_dropped * 1000000 div n_arrived")
            .as("drop_rate_micros"),
          col("n_sources_after"), col("n_docs_after")))
      },
      Some(s"""WITH $ingestPairsCtes,
        dup AS (SELECT DISTINCT new_id FROM im),
        arr AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_arrived,
            CAST(SUM(CASE WHEN doc_id IN (SELECT new_id FROM dup)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
          FROM documents WHERE source = 'src19'),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
            CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          FROM documents)
        SELECT n_arrived, n_arrived - n_dropped AS n_kept, n_dropped,
          (n_dropped * 1000000) // n_arrived AS drop_rate_micros,
          n_sources AS n_sources_after,
          n_total - n_dropped AS n_docs_after
        FROM arr CROSS JOIN tot
        """ + orderedSql(Seq("n_arrived", "n_kept", "n_dropped",
          "drop_rate_micros", "n_sources_after", "n_docs_after"))))
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.linesIterator
      .map(_.trim).filter(_.nonEmpty).mkString(" "))).toMap

  /** Every rows-only sketch op (no DuckDB-expressible oracle — the
    * driver records a weaker rows-only check) mapped to its
    * oracle-checked PORTABLE TWIN: a query exercising the same
    * pipeline shape through engine-portable primitives (md5-derived
    * hashes, exact integer votes) so the shape itself is hash-verified
    * even though the production op keeps its faster native kernel
    * (xxhash64, float SIMD). TwinCoverageSpec asserts this map stays
    * total and its twins stay oracle-backed; SURVEY §2.2b documents
    * each pairing.
    */
  val portableTwins: Map[String, String] = Map(
    "x8_minhash_lsh" -> "x43_portable_minhash",
    "x9_simhash" -> "x71_portable_simhash",
    "x13_minhash_agg" -> "x122_portable_corpus_sig",
    "x15_sign_lsh_pairs" -> "x72_portable_srp",
    "x16_approx_distinct" -> "x114_portable_distinct",
    "x52_approx_quantiles" -> "x120_portable_quantiles",
    "x68_heavy_hitters" -> "x121_portable_topk"
  )

  /** Driver-observed sf0.01 row counts for the rows-only sketch
    * queries, STABLE across every CORRECTNESS_r15–r18 artifact (r18
    * verdict item 4). Verify emits these next to each dump
    * (`no_oracle_twins.json`) so a no-oracle row is self-describing
    * in the round artifact: which twin hash-verifies its pipeline
    * shape, and whether its own row count still matches the
    * multi-round constant. A drift here is a REAL behavior change —
    * update the constant only with a committed adjudication note.
    */
  val noOracleRowsSf001: Map[String, Long] = Map(
    "x8_minhash_lsh" -> 428L,
    "x9_simhash" -> 17L,
    "x13_minhash_agg" -> 1280L,
    "x15_sign_lsh_pairs" -> 17L,
    "x16_approx_distinct" -> 5L,
    "x52_approx_quantiles" -> 5L,
    "x68_heavy_hitters" -> 31L
  )
}
