package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector-similarity search over an embedding column (north star:
  * approximate-nearest-neighbor at 100 TB).
  *
  * Methods, in ascending scale:
  *  - cosine / brute-force top-k: exact, one broadcast of the query —
  *    the correctness baseline.
  *  - blocked near-dup pairs: brute force confined to a blocking key.
  *  - IVF: assign every vector to its nearest seed centroid (one
  *    broadcast join), search only the query's cell. Deterministic seed
  *    choice (vec_id stride) keeps it oracle-checkable; swap in k-means
  *    centroids at real scale without changing the plan shape.
  */
object Similarity {

  /** Cast array<float> → array<double> for stable arithmetic. */
  def toDouble(v: Column): Column = transform(v, x => x.cast(DoubleType))

  /** Native codegen dot product (graft.functions.DotProduct): float
    * arrays accumulate in double, bit-identical to cast-then-HOF but
    * ~30× faster (no per-element interpreted lambda).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact brute-force cosine top-k against a single query vector
    * (broadcast). Ranked on the rounded score with an id tie-break so
    * the cutoff is deterministic.
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val v = vectors.select(col(idCol), toDouble(col(vecCol)).as("_v"))
      .crossJoin(broadcast(
        query.select(toDouble(col(queryVecCol)).as("_q"))))
    v.select(col(idCol), round(cosine(col("_v"), col("_q")), 3).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force near-duplicate pairs within a blocking key. */
  def cosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
      blockCol: Column, minCosine: Double): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), blockCol.as("block"),
      toDouble(col(vecCol)).as("v"))
    BandJoin.bucketJoin(base, base, Seq("block"), Seq("v"))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_v"), col("b_v")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("a_id"), col("b_id"), round(col("cos"), 3).as("sim"))
  }

  /** The 100 TB embedding near-dup path — sign-random-projection LSH
    * (Charikar SimHash for vectors) generating candidates, exact cosine
    * verifying them. Mirrors Dedup.nearDupPairs' generator∘verifier
    * shape: signature per row (one codegen kernel pass), explode into
    * `bands` chunks, shuffle once on (band, chunk), id-only candidate
    * join, one vector re-join per unique pair, exact verify.
    *
    * Recall is the SRP S-curve: with chunk width w = 64/bands,
    * P(candidate) = 1 − (1 − (1 − θ/π)^w)^bands — near-1 for genuine
    * near-duplicates (θ→0), falling fast for unrelated vectors. No
    * false positives survive the exact verify.
    */
  def signLshPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 8, seed: Long = 42L,
      blockCol: Column = lit(0)): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), blockCol.as("block"),
      toDouble(col(vecCol)).as("v"))
    val chunked = BandJoin.chunkBands(base.select(col("id"), col("block"),
        graft.functions.VectorFunctions.srpSignature(col("v"), seed)
          .as("sig")), Seq("id", "block"), 64, bands)
    val candidates = BandJoin.bucketJoin(chunked, chunked,
        Seq("block", "band_id", "band_val"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    BandJoin.verify(candidates, base, base, "v", cosine, "cos", minCosine)
      .select(col("a_id"), col("b_id"), round(col("cos"), 3).as("sim"))
  }

  // ---- IVF / k-means internals ---------------------------------------
  //
  // Centroid sets are SMALL (k rows, bounded by the centroid count,
  // never by data size), so they are collected to the driver and folded
  // into the plan as literals. That makes cell assignment a per-row
  // PROJECTION — zero shuffle — where the round-4 formulation
  // (crossJoin(broadcast) → groupBy(id) arg-max) shuffled all N vectors
  // once per assignment (and once per k-means iteration): at 100 TB ×
  // iters that shuffle was the bill. Beyond a few hundred centroids the
  // next step is a single codegen kernel over a matrix literal; at the
  // IVF cell counts used here the k codegen dot products below stay
  // comfortably inside one whole-stage-codegen span.

  /** Hard bound on centroids folded into the plan as literals. Past a
    * few hundred literal vectors, whole-stage codegen falls over and
    * the driver collect stops being "k rows" — so the collect ASSERTS
    * the bound instead of silently growing with the data. Production
    * path for big corpora: [[kmeansCentroids]] with a bounded k feeding
    * [[ivfTopKWith]]; stride-seeded [[ivfTopK]] (whose cell count is
    * N/seedStride, i.e. data-proportional) is the fixture-scale
    * correctness baseline only.
    */
  val MaxPlanCentroids = 512

  /** Collect `(cell, cv)` centroid rows to the driver, sorted by cell
    * id for a deterministic literal layout. Throws if the centroid set
    * exceeds [[MaxPlanCentroids]] — the caller picked a
    * data-proportional centroid source (see note above).
    */
  /** Per-label int8 symmetric-quantization error report — the
    * "can we ship these embeddings at 4× less storage/bandwidth?"
    * check run before quantizing a 100 TB vector corpus. Per vector:
    * scale = 127 / max|x|, q_j = floor(x_j·scale + 0.5) (spelled as
    * floor(+0.5), NOT round(), because Java round-HALF_UP-on-decimal-
    * repr and C round-half-away-on-binary disagree on .5 boundaries
    * while floor is pure IEEE in every engine), reconstruction error
    * e_j = |x_j − q_j/scale|. Per-row math is bit-deterministic
    * cross-engine; the group mean routes through DECIMAL(18,12) like
    * every other cross-engine aggregate. Zero-vector rows would make
    * scale infinite and are counted separately (error defined 0).
    *
    * Pure projection + one partial-aggregated groupBy — no joins, no
    * driver state; scales to any corpus the groupBy keys fit.
    *
    * Returns `(label, n_vecs, n_zero, avg_mae, max_err)`.
    */
  def quantizationReport(vectors: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    // every lambda below captures only materialized ATTRIBUTES (_vd,
    // _s, _err): an interpreted HOF re-evaluates a captured EXPRESSION
    // per element (no CSE), which would make the scale's array_max
    // O(dim) per element — O(dim²) per row (see TextAnalysis.ngrams)
    val withScale = vectors
      .select(col(labelCol).as("label"), toDouble(col(vecCol)).as("_vd"))
      .select(col("label"), col("_vd"),
        array_max(transform(col("_vd"), x => abs(x))).as("_m"))
      .select(col("label"), col("_vd"), col("_m"),
        // dummy scale 1.0 for zero/EMPTY vectors (array_max of an empty
        // array is NULL; ANSI divide-by-zero would throw eagerly here);
        // their mae/mx are overridden to 0 below
        when(col("_m").isNull || col("_m") === 0.0, lit(1.0))
          .otherwise(lit(127.0) / col("_m")).as("_s"))
    val withErr = withScale.select(col("label"), col("_vd"), col("_m"),
      transform(col("_vd"), x =>
        abs(x - floor(x * col("_s") + lit(0.5)) / col("_s"))).as("_err"))
    // 0.0 + e1 is exact for e1 >= 0, so the left fold from a 0.0 init
    // equals DuckDB's list_reduce fold seeded with the first element
    val degenerate = col("_m").isNull || col("_m") === 0.0
    val mae = when(degenerate, lit(0.0)).otherwise(
      aggregate(col("_err"), lit(0.0), (acc, e) => acc + e) /
        size(col("_vd")))
    val mx = when(degenerate, lit(0.0)).otherwise(array_max(col("_err")))
    withErr.select(col("label"), mae.as("_mae"), mx.as("_mx"),
        degenerate.as("_zero"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("_zero"), 1L).otherwise(0L)).as("n_zero"),
        (sum(col("_mae").cast(DecimalType(18, 12))).cast(DoubleType) /
          count(lit(1))).as("avg_mae"),
        max(col("_mx")).as("max_err"))
  }

  private def collectCentroids(centroids: DataFrame): Array[(Long, Array[Double])] = {
    val cents = centroids.select(col("cell").cast(LongType), col("cv"))
      .limit(MaxPlanCentroids + 1)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.length <= MaxPlanCentroids,
      s"centroid set exceeds MaxPlanCentroids=$MaxPlanCentroids; plan-literal " +
        "assignment needs a bounded centroid count — train kmeansCentroids " +
        "with bounded k and use ivfTopKWith (stride-seeded ivfTopK grows " +
        "its cell count with the data and is fixture-scale only)")
    cents.sortBy(_._1)
  }

  /** Unit-normalize centroids once at the driver: arg-max cosine(v, cv)
    * equals arg-max dot(v, cv/|cv|) (positive per-centroid scaling),
    * so per-row assignment needs ONE codegen dot per centroid instead
    * of three (dot + two norms). Zero-norm centroids are DROPPED: they
    * have no direction, can never meaningfully win a cosine arg-max,
    * and engines disagree on cosine-vs-zero (Spark's dot scores 0.0
    * where DuckDB's list_cosine_similarity divides by zero) — dropping
    * keeps the assignment oracle-portable if a k-means cell mean ever
    * collapses to the zero vector.
    */
  private def unitNorm(cents: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] =
    cents.flatMap { case (cell, cv) =>
      val n = math.sqrt(dotLocal(cv, cv))
      if (n == 0.0) None else Some((cell, cv.map(_ / n)))
    }

  /** Driver-side dot product — sequential accumulation, bit-identical
    * to [[graft.functions.VectorKernels.dot]] on the same doubles, so
    * driver-side probe ranking agrees exactly with the in-plan kernel.
    */
  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Zero-shuffle arg-max cell assignment: k codegen dot products
    * against unit-centroid array literals, reduced by `array_max` over
    * `struct(sim, cell)` (lexicographic: max sim, ties to the higher
    * cell — ties do not occur on real-valued data).
    */
  private def bestCellExpr(v: Column,
      unitCents: Array[(Long, Array[Double])]): Column = {
    // an empty array() of structs would fail analysis inside array_max
    // with an unhelpful NullType error — fail loudly here instead
    require(unitCents.nonEmpty,
      "no usable centroids (empty or all-zero centroid set) — cell " +
        "assignment needs at least one non-zero centroid")
    val scored = unitCents.map { case (cell, cvn) =>
      struct(dot(v, typedLit(cvn.toSeq)).as("sim"), lit(cell).as("cell"))
    }
    array_max(array(scored.toIndexedSeq: _*)).getField("cell")
  }

  /** Shared IVF search: assign every vector to its arg-max cell (pure
    * projection), probe the query's `nProbe` closest cells (ranked at
    * the driver over the same k-row centroid set), scan only those
    * cells. The whole plan is scan → project → filter → top-k: no
    * exchange anywhere (asserted by SimilaritySpec).
    */
  private def ivfSearch(base: DataFrame, cents: Array[(Long, Array[Double])],
      queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val qv = base.filter(col("id") === queryId).select(col("v"))
      .head(1).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"query id $queryId not found in the vector input"))
      .getSeq[Double](0).toArray
    val unit = unitNorm(cents)
    val probeCells = unit.map { case (cell, cvn) => (cell, dotLocal(qv, cvn)) }
      .sortBy { case (cell, s) => (-s, cell) }
      .take(nProbe).map(_._1).toSeq
    base.withColumn("cell", bestCellExpr(col("v"), unit))
      .filter(col("cell").isin(probeCells: _*) && col("id") =!= queryId)
      .select(col("id"),
        round(cosine(col("v"), typedLit(qv.toSeq)), 3).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** IVF-style ANN: seeds are every `seedStride`-th vec_id (deterministic
    * stand-in for k-means centroids); every vector is assigned its
    * arg-max cosine seed per-row (no shuffle); the query searches only
    * its own cell.
    *
    * Fixture-scale correctness baseline ONLY: the seed count is
    * N/seedStride — data-proportional — so [[collectCentroids]] throws
    * past [[MaxPlanCentroids]]. The production path is
    * [[kmeansCentroids]] (bounded k) + [[ivfTopKWith]].
    */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      seedStride: Int, queryId: Long, k: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val seeds = base.filter(col("id") % seedStride === 0)
      .select(col("id").as("cell"), col("v").as("cv"))
    ivfSearch(base, collectCentroids(seeds), queryId, k, nProbe = 1)
  }

  /** Lloyd k-means on cosine assignment — the "swap in k-means without
    * changing the plan shape" step promised by [[ivfTopK]]'s stride
    * seeds. Deterministic: stride-seed init and a fixed iteration
    * count. Each iteration is ONE job: a zero-shuffle per-row arg-max
    * assignment (centroids live in the plan as literals) feeding a
    * map-side-combinable [[graft.functions.VectorSumAgg]]/count
    * aggregate that moves only k·dim doubles per task; the k-row result
    * is collected back to the driver for the next round — the same
    * loop shape Spark MLlib's KMeans uses, with no N-row shuffle
    * anywhere. Returns `(cell, cv)` mean-centroid rows.
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      seedStride: Int, iters: Int): DataFrame = {
    val sp = vectors.sparkSession
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    var cents = collectCentroids(
      base.filter(col("id") % seedStride === 0)
        .select(col("id").as("cell"), col("v").as("cv")))
    for (_ <- 1 to iters) {
      cents = collectCentroids(
        base.withColumn("cell", bestCellExpr(col("v"), unitNorm(cents)))
          .groupBy("cell")
          .agg(graft.functions.VectorFunctions.vectorSum(col("v")).as("s"),
            count(lit(1)).as("n"))
          .select(col("cell"),
            transform(col("s"), x => x / col("n")).as("cv")))
    }
    import sp.implicits._
    cents.toSeq.map { case (c, cv) => (c, cv.toSeq) }.toDF("cell", "cv")
  }

  /** Nearest-centroid label-coherence report — "are my embedding
    * labels separable?", the sanity check run on an embedding corpus
    * before trusting it for retrieval or clustering: compute each
    * label's mean centroid (one map-side-combinable
    * [[graft.functions.VectorSumAgg]] pass, state = labels × dim —
    * bounded by the LABEL count, so [[collectCentroids]]' plan-literal
    * contract holds by construction), assign every vector to its
    * arg-max-cosine label centroid as a zero-shuffle per-row projection
    * ([[bestCellExpr]]), and roll up the confusion matrix
    * `(label, pred, n)`. Off-diagonal mass = incoherent labels.
    */
  def centroidConfusion(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val base = vectors.select(col(labelCol).cast(LongType).as("cell"),
      toDouble(col(vecCol)).as("v"))
    val cents = collectCentroids(
      base.groupBy("cell")
        .agg(graft.functions.VectorFunctions.vectorSum(col("v")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell"),
          transform(col("s"), x => x / col("n")).as("cv")))
    base.withColumn("pred", bestCellExpr(col("v"), unitNorm(cents)))
      .groupBy(col("cell").as("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Multi-probe IVF ANN against precomputed centroids: vectors assign
    * to their arg-max cell per-row (no shuffle); the query searches its
    * `nProbe` closest cells instead of one, trading a bounded fan-out
    * for recall.
    */
  def ivfTopKWith(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryId: Long, k: Int,
      nProbe: Int = 1): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    ivfSearch(base, collectCentroids(centroids), queryId, k, nProbe)
  }

  // ---------------- Product quantization (x93) ----------------
  //
  // PQ (Jégou/Douze/Schmid, PAMI 2011): split each vector into
  // `numSub` subspaces, train a small k-means codebook per subspace,
  // represent every vector by its `numSub` nearest-centroid codes, and
  // answer queries with ADC (asymmetric distance computation) — the
  // query's exact per-subspace distance to every centroid is a tiny
  // table, and each database vector's approximate distance is the sum
  // of its codes' table entries. This is THE memory-bound trade for
  // vector search at corpus scale: codes are numSub bytes-ish per
  // vector instead of dim floats, and search never touches the raw
  // vectors again.
  //
  // Cross-engine exactness (tightening x37's "far from any decision
  // boundary" robustness argument into a guarantee): the whole
  // pipeline is INTEGER arithmetic. Vectors snap to the x79 grid
  // (floor(x*1000), exact in both engines); centroids live on a
  // 1000×-finer integer grid — the ONLY non-integer op anywhere is
  // the per-coordinate mean rounding round(1000·Σa/n, 0), a single
  // correctly-rounded IEEE division + the ROUND both engines share
  // (the x73 contract; exact .5 midpoints agree too — Java HALF_UP
  // and C round() both round away from zero). Distances
  // Σ(1000·a − C)² and ADC sums are exact Longs, so assignments,
  // codes and distances hash-match the oracle bit-for-bit.

  /** The x79 exact integer grid: `floor(x * 1000)` per coordinate. */
  private def pqGrid(vec: Column): Column =
    transform(toDouble(vec), x => floor(x * 1000).cast(LongType))

  private def pqSubvec(grid: Column, m: Int, subDim: Int): Column =
    slice(grid, m * subDim + 1, subDim)

  /** A trained PQ model: one milli-grid integer codebook per subspace
    * ([[graft.functions.PqBook]]), each bounded by
    * [[MaxPlanCentroids]] (codes assign as plan-bound projections, the
    * x37 contract).
    */
  final case class PqModel(subDim: Int,
      codebooks: IndexedSeq[graft.functions.PqBook])

  /** The numSub code columns for a grid vector — ONE
    * [[graft.functions.PqKernel]] codegen scan (a tight Long loop; the
    * HOF spelling of the same argmin ran 30× slower interpreted).
    */
  private def pqCodes(grid: Column, model: PqModel): Column =
    graft.functions.PqFunctions.pqCodes(grid, model.codebooks,
      model.subDim)

  /** Train per-subspace codebooks: stride seeds (cell id = seed vector
    * id, the x37 convention), `iters` Lloyd rounds with exact
    * integer-grid means snapped to the milli grid. Cells that keep no
    * vectors drop (standard Lloyd). Per round: assignment is one
    * zero-shuffle kernel projection, and all subspaces share one
    * map-side-combinable `(m, cell, pos)` mean aggregate whose result
    * — bounded by numSub × cells × subDim — is the only driver
    * collect.
    */
  def pqTrain(vectors: DataFrame, idCol: String, vecCol: String,
      numSub: Int, subDim: Int, seedStride: Int, iters: Int): PqModel = {
    val base = vectors.select(col(idCol).cast(LongType).as("id"),
      pqGrid(col(vecCol)).as("q"))
    pqTrainOnGrid(base, numSub, subDim, seedStride, iters)
  }

  /** [[pqTrain]] over an already-gridded `(id, q)` frame — the reuse
    * point for residual quantization ([[ivfPqTrain]] feeds residual
    * grids through the identical trainer).
    */
  private def pqTrainOnGrid(base: DataFrame, numSub: Int, subDim: Int,
      seedStride: Int, iters: Int): PqModel = {
    require(numSub >= 1 && subDim >= 1 && seedStride >= 1 && iters >= 0,
      "need numSub/subDim/seedStride >= 1 and iters >= 0")
    val seeds = base.filter(col("id") % seedStride === 0)
      .select(col("id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, "no PQ seeds: seedStride matched no ids")
    require(seeds.length <= MaxPlanCentroids,
      "PQ seed set exceeds MaxPlanCentroids — raise seedStride")
    var model = PqModel(subDim, (0 until numSub).map { m =>
      graft.functions.PqBook(seeds.map(_._1),
        seeds.map(_._2.slice(m * subDim, (m + 1) * subDim)
          .map(_ * 1000L)))
    })
    for (_ <- 1 to iters) {
      // ONE scan feeds every subspace's mean: explode the whole grid
      // and derive (m, pos) from the position — a per-subspace union
      // would re-read the base numSub times per round
      val assigned = base.select(col("q"),
        pqCodes(col("q"), model).as("codes"))
      val mCol = floor(col("p") / subDim).cast(IntegerType)
      val expl = assigned
        .select(posexplode(col("q")).as(Seq("p", "v")), col("codes"))
        .select(mCol.as("m"),
          element_at(col("codes"), mCol + 1).as("cell"),
          pmod(col("p"), lit(subDim)).cast(IntegerType).as("pos"),
          col("v"))
      val rows = expl.groupBy("m", "cell", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("m"), col("cell"), col("pos"),
          round(lit(1000.0) * col("s") / col("n"), 0).cast(LongType)
            .as("mc"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      model = PqModel(subDim, (0 until numSub).map { m =>
        val cells = rows.filter(_._1 == m).groupBy(_._2).toSeq
          .map { case (cell, ps) =>
            val arr = new Array[Long](subDim)
            ps.foreach(p => arr(p._3) = p._4)
            (cell, arr)
          }.sortBy(_._1)
        require(cells.length <= MaxPlanCentroids,
          s"PQ codebook for subspace $m exceeds MaxPlanCentroids")
        graft.functions.PqBook(cells.map(_._1).toArray,
          cells.map(_._2).toArray)
      })
    }
    model
  }

  /** Encode + ADC top-k against a trained [[PqModel]]: every vector's
    * codes are one zero-shuffle kernel projection; the query's
    * per-subspace distance tables are exact-Long driver arithmetic
    * through the kernel's own [[graft.functions.PqKernel.sqDist]] (the
    * two can't drift) folded in as literal maps; the approximate
    * distance is the exact Long sum of the looked-up entries. Returns
    * `(id, code0..code{numSub-1}, adc_dist)`, the k nearest by
    * `(adc_dist, id)` — the orderBy+limit fuses to
    * TakeOrderedAndProject (per-partition cut).
    */
  private def pqQueryGrid(base: DataFrame, queryId: Long): Array[Long] = {
    val qRows = base.filter(col("id") === queryId)
      .select(col("q")).collect()
    require(qRows.nonEmpty, s"PQ query id $queryId not found")
    qRows.head.getSeq[Long](0).toArray
  }

  /** The query's per-subspace ADC tables — bounded driver arithmetic
    * through the kernel's own sqDist (the two can't drift).
    */
  private def pqAdcTables(model: PqModel, qGrid: Array[Long])
      : IndexedSeq[Map[Long, Long]] =
    model.codebooks.indices.map { m =>
      val sub = qGrid.slice(m * model.subDim, (m + 1) * model.subDim)
      val b = model.codebooks(m)
      b.cells.indices.map(i =>
        b.cells(i) -> graft.functions.PqKernel.sqDist(sub, b.cents(i)))
        .toMap
    }

  def pqTopK(vectors: DataFrame, idCol: String, vecCol: String,
      model: PqModel, queryId: Long, k: Int): DataFrame = {
    val numSub = model.codebooks.length
    val base = vectors.select(col(idCol).cast(LongType).as("id"),
      pqGrid(col(vecCol)).as("q"))
    val qGrid = pqQueryGrid(base, queryId)
    val tables = pqAdcTables(model, qGrid)
    val coded = base
      .select(col("id"), pqCodes(col("q"), model).as("codes"))
      .select(col("id") +: (0 until numSub).map(m =>
        element_at(col("codes"), m + 1).as(s"code$m")): _*)
    val adc = (0 until numSub).map { m =>
      val entries = model.codebooks(m).cells.toIndexedSeq.flatMap(cell =>
        Seq(lit(cell), lit(tables(m)(cell))))
      element_at(map(entries: _*), col(s"code$m"))
    }.reduce[Column](_ + _)
    coded.filter(col("id") =!= queryId)
      .select(col("id") +:
        (0 until numSub).map(m => col(s"code$m")) :+
        adc.as("adc_dist"): _*)
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** PQ recall QA (the x76 analog for x93): how much of the TRUE
    * top-k does the ADC answer recover? Ground truth is exact
    * squared-L2 top-k on the SAME integer grid the codes were trained
    * on (an exact Long fold, so both engines agree bit-for-bit and
    * the report isolates quantization loss from arithmetic noise).
    * Returns one row `(k, n_hits, recall)` — the go/no-go a team
    * checks before swapping raw vectors for codes at corpus scale.
    */
  def pqRecall(vectors: DataFrame, idCol: String, vecCol: String,
      model: PqModel, queryId: Long, k: Int): DataFrame = {
    val base = vectors.select(col(idCol).cast(LongType).as("id"),
      pqGrid(col(vecCol)).as("q"))
    val qGrid = pqQueryGrid(base, queryId)
    val tables = pqAdcTables(model, qGrid)
    val qLit = array(qGrid.toIndexedSeq.map(lit): _*)
    val codes = pqCodes(col("q"), model)
    val adcCol = model.codebooks.indices.map { m =>
      val entries = model.codebooks(m).cells.toIndexedSeq.flatMap(cell =>
        Seq(lit(cell), lit(tables(m)(cell))))
      element_at(map(entries: _*), element_at(codes, m + 1))
    }.reduce[Column](_ + _)
    // ONE scan computes both rankings' inputs (codes + the exact Long
    // fold); the checkpoint pins it so the two top-k cuts and the
    // 10×10 join replay tiny materialized rows, not the pipeline
    val scored = base.filter(col("id") =!= queryId)
      .select(col("id"), adcCol.as("ad"),
        aggregate(zip_with(col("q"), qLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, d) => acc + d).as("ed"))
      .localCheckpoint()
    val adcTop = scored.orderBy(col("ad").asc, col("id").asc)
      .limit(k).select(col("id"))
    val exactTop = scored.orderBy(col("ed").asc, col("id").asc)
      .limit(k).select(col("id"))
    adcTop.join(exactTop, "id").agg(count(lit(1)).as("n_hits"))
      .select(lit(k.toLong).as("k"), col("n_hits"),
        (col("n_hits").cast(DoubleType) / k).as("recall"))
  }

  // -------- IVF-PQ (x95): residual quantization within coarse cells --
  //
  // The canonical billion-scale ANN layout (FAISS IVFPQ; Jégou et al.
  // PAMI 2011 §V): a coarse k-means partitions the corpus into cells;
  // each vector stores only its cell id + the PQ codes of its RESIDUAL
  // (vector − cell centroid); a query probes its nProbe closest cells
  // and ranks candidates by ADC over per-cell residual tables. The
  // inverted-list pruning is what makes 100 TB search tractable: a
  // probe touches nProbe/k of the corpus, and codes are bytes.
  //
  // Same all-integer contract as x93, two rounded divisions total:
  // the coarse Lloyd mean (milli centroids) and the residual re-grid
  // round((1000g − C)/1000) — both the x73 ROUND both engines share;
  // everything else (coarse assignment, PQ training on residual grids,
  // codes, per-cell ADC tables, final sums) is exact Long arithmetic.

  final case class IvfPqModel(coarse: graft.functions.PqBook,
      subDim: Int, pq: PqModel)

  /** The residual-grid frame `(id, cell, q)` for a coarse model:
    * cell = nearest coarse centroid (PqKernel, zero shuffle), q =
    * round((1000·g − C_cell)/1000) per coordinate — the residual
    * snapped back to grid scale so the x93 kernel contract (and its
    * Long bounds) apply unchanged.
    */
  private def residualGrid(vectors: DataFrame, idCol: String,
      vecCol: String, coarse: graft.functions.PqBook, dim: Int)
      : DataFrame = {
    val base = vectors.select(col(idCol).cast(LongType).as("id"),
      pqGrid(col(vecCol)).as("g"))
    val coarseModel = PqModel(dim, IndexedSeq(coarse))
    val centMap = map(coarse.cells.toIndexedSeq.zipWithIndex.flatMap {
      case (cell, i) => Seq(lit(cell),
        array(coarse.cents(i).toIndexedSeq.map(lit): _*))
    }: _*)
    base
      .select(col("id"), col("g"),
        element_at(pqCodes(col("g"), coarseModel), 1).as("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("g"), element_at(centMap, col("cell")),
          (g, c) => round((g * lit(1000L) - c) / lit(1000.0), 0)
            .cast(LongType)).as("q"))
  }

  /** Train the IVF-PQ model: coarse codebook via [[pqTrain]] with ONE
    * full-dim "subspace" (stride seeds, `coarseIters` Lloyd rounds),
    * then the x93 trainer verbatim over the residual grids (a SHARED
    * PQ codebook across cells — the standard IVFPQ layout).
    */
  def ivfPqTrain(vectors: DataFrame, idCol: String, vecCol: String,
      coarseStride: Int, coarseIters: Int, numSub: Int, subDim: Int,
      pqStride: Int, pqIters: Int): IvfPqModel = {
    val dim = numSub * subDim
    val coarse = pqTrain(vectors, idCol, vecCol, 1, dim,
      coarseStride, coarseIters).codebooks.head
    val resid = residualGrid(vectors, idCol, vecCol, coarse, dim)
    IvfPqModel(coarse, subDim,
      pqTrainOnGrid(resid.select(col("id"), col("q")),
        numSub, subDim, pqStride, pqIters))
  }

  /** IVF-PQ search: probe the query's `nProbe` closest coarse cells
    * (driver-side exact-Long arithmetic over the bounded coarse book),
    * keep only vectors living in probed cells (the inverted-list
    * prune — a partition-local filter), rank them by ADC over
    * PER-CELL residual tables (the query's residual differs per
    * probed cell, so each cell gets its own numSub×k table — all
    * exact Longs through the kernel's own sqDist). Returns
    * `(id, cell, code0.., adc_dist)`, the k nearest by
    * `(adc_dist, id)`; TakeOrderedAndProject cuts per partition.
    */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, queryId: Long, k: Int, nProbe: Int)
      : DataFrame = {
    val numSub = model.pq.codebooks.length
    val dim = numSub * model.subDim
    val base = vectors.select(col(idCol).cast(LongType).as("id"),
      pqGrid(col(vecCol)).as("g"))
    val qRows = base.filter(col("id") === queryId)
      .select(col("g")).collect()
    require(qRows.nonEmpty, s"IVF-PQ query id $queryId not found")
    val qg = qRows.head.getSeq[Long](0).toArray
    // probe: (dist, cell) over the coarse book, exact Longs
    val probed = model.coarse.cells.indices
      .map(i => (graft.functions.PqKernel.sqDist(qg, model.coarse.cents(i)),
        model.coarse.cells(i), i))
      .sorted.take(nProbe)
    // per probed cell: the query's residual grid and its ADC tables
    val tables: Map[Long, IndexedSeq[Map[Long, Long]]] =
      probed.map { case (_, cell, ci) =>
        val cv = model.coarse.cents(ci)
        val rq = Array.tabulate(dim) { i =>
          BigDecimal(((1000L * qg(i) - cv(i)) / 1000.0))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
        cell -> (0 until numSub).map { m =>
          val sub = rq.slice(m * model.subDim, (m + 1) * model.subDim)
          val b = model.pq.codebooks(m)
          b.cells.indices.map(i =>
            b.cells(i) -> graft.functions.PqKernel.sqDist(sub, b.cents(i)))
            .toMap
        }
      }.toMap
    val resid = residualGrid(vectors, idCol, vecCol, model.coarse, dim)
    val coded = resid
      .filter(col("cell").isin(probed.map(_._2): _*) &&
        col("id") =!= queryId)
      .select(col("id"), col("cell"),
        pqCodes(col("q"), model.pq).as("codes"))
      .select(col("id") +: col("cell") +: (0 until numSub).map(m =>
        element_at(col("codes"), m + 1).as(s"code$m")): _*)
    val adc = (0 until numSub).map { m =>
      probed.map { case (_, cell, _) =>
        val entries = model.pq.codebooks(m).cells.toIndexedSeq
          .flatMap(c => Seq(lit(c), lit(tables(cell)(m)(c))))
        (cell, element_at(map(entries: _*), col(s"code$m")))
      }.foldLeft(lit(null).cast(LongType)) { case (acc, (cell, e)) =>
        when(col("cell") === cell, e).otherwise(acc)
      }
    }.reduce[Column](_ + _)
    coded
      .select(col("id") +: col("cell") +: (0 until numSub).map(m =>
        col(s"code$m")) :+ adc.as("adc_dist"): _*)
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** The ±1 projection weight for portable-SRP bit `i`, dimension `j`:
    * the high bit of the first hex digit of `md5("i|j")` — a
    * deterministic, DATA-INDEPENDENT constant both engines derive from
    * the same string, so the weight matrix folds into the Spark plan
    * as literals while the oracle spells the identical derivation in
    * SQL (`substr(md5(i || '|' || j), 1, 1) IN ('8'..'f')`).
    */
  def portableSrpWeight(i: Int, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) >= 8) 1L else -1L
  }

  /** PORTABLE twin of [[signLshPairs]] (the x43 pattern, closing the
    * SRP path's "rows-only checkable" caveat): sign-random-projection
    * where BOTH the projection weights ([[portableSrpWeight]]) and the
    * vector are deterministic integers, so the signature — and hence
    * the pair set — hash-checks cross-engine. The vector quantizes as
    * `floor(double(x) * 1000)` per element (per-element IEEE, exact in
    * both engines); each bit's vote is then an INTEGER dot product —
    * order-independent exact arithmetic, where a float sum's rounding
    * would depend on summation order and break the cross-engine hash.
    * Same chunk-banding as the SimHash pairs: `numChunks` chunks over
    * the `bits`-bit signature, pigeonhole-exact for
    * `maxHamming < numChunks`.
    */
  def portableSrpPairs(vectors: DataFrame, idCol: String, vecCol: String,
      maxHamming: Int, bits: Int = 32, numChunks: Int = 4,
      dim: Int = 64): DataFrame = {
    require(bits <= 63, "bits must fit a long")
    // signature = one codegen kernel pass (PortableSrpKernel, weights
    // from portableSrpWeight's derivation) — the HOF spelling costs
    // bits×dim interpreted lambdas per row, per join side. Unlike the
    // SimHash twins, no barrier on the chunked frame.
    BandJoin.hammingPairs(vectors, idCol, portableSrpSig(col(vecCol), bits,
      dim), bits, numChunks, maxHamming, checkpoint = false)
  }

  /** The portable SRP signature of a vector column: [[portableSrpWeight]]
    * votes over the `floor(double(x) * 1000)`-quantized elements.
    */
  private def portableSrpSig(vecCol: Column, bits: Int, dim: Int): Column =
    graft.functions.PortableMinHashFunctions.portableSrpSig(
      transform(vecCol, x =>
        floor(x.cast(DoubleType) * lit(1000)).cast(LongType)),
      bits, dim)

  /** SemDeDup-style semantic deduplication: partition the embedding
    * space into LSH buckets (the top `bucketBits` bits of the portable
    * SRP signature — a data-independent space partition BOTH engines
    * derive exactly, the x72 integer spelling), verify within-bucket
    * pairs with exact cosine ≥ `minCosine`, connect them into
    * components, and keep one representative per component (the
    * minimum id — the same canonicalization every CC path here
    * converges to). Vectors in different buckets are never compared —
    * the same within-cluster-only contract SemDeDup (Abbas et al.,
    * 2023) has with its k-means clusters; the cluster granularity is
    * `bucketBits` (256 buckets at 8 bits, 65k at 16 — raise it with
    * corpus size so buckets stay verifier-sized).
    *
    * Scale design (100 TB): the bucket id is one codegen kernel pass
    * per row (no training job, no centroid broadcast); the only
    * shuffles are the bucket-keyed pair join and the CC rounds on the
    * (sparse) match edges. All-pairs work is confined within buckets,
    * exactly like the banded text-LSH paths; a verbatim-duplicate hot
    * bucket is bounded by the duplication factor, the same argument as
    * the sf1-shared check.
    *
    * Returns `(vec_id, bucket, rep_id, is_rep)` — the decision table a
    * pipeline semi-joins against to drop semantic duplicates.
    */
  /** The LSH-space partition [[semanticDedup]] (and its streaming twin
    * [[graft.streaming.VecStreams.semanticDedupCandidates]]) bucket by:
    * the top `bucketBits` bits of the portable SRP signature over the
    * `floor(x*1000)`-quantized vector — integer arithmetic both engines
    * derive exactly (the x72 spelling).
    */
  def srpBucket(vecCol: Column, bucketBits: Int, bits: Int = 32,
      dim: Int = 64): Column = {
    require(bucketBits >= 1 && bucketBits <= bits,
      s"need 1 <= bucketBits <= $bits, got $bucketBits")
    require(bits <= 63, "bits must fit a long")
    shiftright(portableSrpSig(vecCol, bits, dim), bits - bucketBits)
  }

  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bucketBits: Int = 8, bits: Int = 32,
      dim: Int = 64): DataFrame = {
    val sigs = vectors.select(col(idCol).as("vec_id"),
        toDouble(col(vecCol)).as("_v"),
        srpBucket(col(vecCol), bucketBits, bits, dim).as("bucket"))
    val pairs = cosinePairs(sigs, "vec_id", "_v", col("bucket"), minCosine)
    graft.ops.Clusters.assignComponents(
        sigs.select(col("vec_id"), col("bucket")), "vec_id",
        pairs, "a_id", "b_id")
      .select(col("vec_id"), col("bucket"),
        col("component").as("rep_id"),
        (col("vec_id") === col("component")).as("is_rep"))
  }

  /** Cluster-balanced diversity subset — the "diversify" step a
    * curation pipeline runs after dedup (the DCLM/SemDeDup recipe):
    * assign every vector to its arg-max seed cell (the x7 zero-shuffle
    * plan-literal assignment), rank within each cell by similarity to
    * the cell centroid (closest first, on round(cosine,6) with an id
    * tie-break so the cutoff is deterministic cross-engine — the x76
    * precedent) and keep `cap` per cell: a fixed quota per region of
    * embedding space, so no dense region dominates the subset.
    *
    * Scale design (100 TB): assignment is a per-row codegen projection
    * (centroids are plan literals, bounded by `MaxPlanCentroids`); the
    * only shuffle is the cell-partitioned rank window, which plans a
    * WindowGroupLimit — `cap` rows survive per input partition before
    * the exchange. Stride seeds are the fixture-scale oracle contract;
    * swap in [[kmeansCentroids]] at real scale via [[clusterBalancedWith]].
    */
  def clusterBalancedSample(vectors: DataFrame, idCol: String,
      vecCol: String, seedStride: Int, cap: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("_v"))
    val seeds = base.filter(col("vec_id") % seedStride === 0)
      .select(col("vec_id").as("cell"), col("_v").as("cv"))
    clusterBalancedImpl(base, collectCentroids(seeds), cap)
  }

  /** [[clusterBalancedSample]] with an explicit (trained, bounded)
    * centroid frame `(cell, cv)` — the production path.
    */
  def clusterBalancedWith(vectors: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, cap: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("_v"))
    clusterBalancedImpl(base, collectCentroids(centroids), cap)
  }

  private def clusterBalancedImpl(base: DataFrame,
      cents: Array[(Long, Array[Double])], cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // RAW centroids, not unit-normalized: the reported sim must be the
    // bit-identical expression the oracle spells
    // (list_cosine_similarity against the seed vector); the arg-max is
    // scaling-invariant either way. Zero-norm centroids are dropped for
    // the same reason unitNorm drops them.
    val usable = cents.filter { case (_, v) => v.exists(_ != 0.0) }
    require(usable.nonEmpty, "no usable centroids for cluster balancing")
    // one array_max over struct(sim, cell) yields the arg-max cell AND
    // its similarity in a single projection (full-precision arg-max,
    // the x7 contract; ties cannot occur on real-valued data)
    val scored = usable.map { case (cell, cv) =>
      struct(cosine(col("_v"), typedLit(cv.toSeq)).as("sim"),
        lit(cell).as("cell"))
    }
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    base.withColumn("_b", array_max(array(scored.toIndexedSeq: _*)))
      .select(col("vec_id"), col("_b.cell").as("cell"),
        round(col("_b.sim"), 6).as("sim"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= cap)
  }

  /** Exact brute-force cosine top-k for EVERY query in a deterministic
    * id-stride query set — the batch twin of [[bruteForceTopK]] and the
    * ground truth an ANN index is graded against. The query side is a
    * stride-bounded sample (|corpus|/queryStride rows), broadcast
    * against one corpus scan; ranking is a q_id-partitioned row_number
    * window (WindowGroupLimit keeps k rows per partition before the
    * exchange, the x74 pattern), on the rounded score with an id
    * tie-break so the cutoff is deterministic cross-engine.
    */
  def bruteTopKBatch(vectors: DataFrame, idCol: String, vecCol: String,
      queryStride: Int, k: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val qs = base.filter(col("id") % queryStride === 0)
      .select(col("id").as("q_id"), col("v").as("qv"))
    val scored = base.crossJoin(broadcast(qs))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        round(cosine(col("v"), col("qv")), 3).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("id"), col("sim"))
  }

  /** Multi-probe IVF top-k for the same stride-bounded query set — the
    * batch twin of [[ivfTopKWith]]. Corpus assignment is the usual
    * zero-shuffle plan-literal arg-max; each query's `nProbe` probe
    * cells are ALSO a per-row projection (sort the plan-literal
    * centroid scores, slice nProbe), so the query side never touches
    * the driver; candidates come from one equi-join on the cell key
    * with the query side broadcast. Probe ranking scores the RAW
    * centroid with full cosine rounded to 6 dp (cell-asc tie-break):
    * the unit-dot shortcut used for assignment would scale scores by
    * |qv| and round differently than an oracle's cosine.
    */
  def ivfTopKBatch(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryStride: Int, k: Int,
      nProbe: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val cents = collectCentroids(centroids)
    val unit = unitNorm(cents)
    val nonZeroCells = unit.map(_._1).toSet
    val assigned = base.withColumn("cell", bestCellExpr(col("v"), unit))
    val probeScored = cents.filter(c => nonZeroCells(c._1)).map {
      case (cell, cv) =>
        struct((-round(cosine(col("qv"), typedLit(cv.toSeq)), 6)).as("nsim"),
          lit(cell).as("cell"))
    }
    val withProbes = base.filter(col("id") % queryStride === 0)
      .select(col("id").as("q_id"), col("v").as("qv"))
      .select(col("q_id"), col("qv"),
        explode(slice(array_sort(array(probeScored.toIndexedSeq: _*)),
          1, nProbe)).as("probe"))
      .select(col("q_id"), col("qv"), col("probe.cell").as("cell"))
    val cands = assigned.join(broadcast(withProbes), Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        round(cosine(col("v"), col("qv")), 3).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("id"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("id"), col("sim"))
  }

  /** ANN index QA: recall@k of the multi-probe IVF path against exact
    * brute force, per query — the report a training pipeline runs
    * before trusting an index for retrieval dedup. Output
    * `(q_id, n_match, recall)`, one row per stride-sampled query;
    * recall = |ivf top-k ∩ brute top-k| / k as an exact integer
    * division. Two corpus scans (ground truth + index side) — it is a
    * VALIDATION op over a bounded query sample, not a per-ingest path;
    * at scale the brute side is the cost and the sample bounds it.
    */
  def annRecallReport(vectors: DataFrame, idCol: String, vecCol: String,
      seedStride: Int, queryStride: Int, k: Int, nProbe: Int): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val seeds = base.filter(col("id") % seedStride === 0)
      .select(col("id").as("cell"), col("v").as("cv"))
    val brute = bruteTopKBatch(vectors, idCol, vecCol, queryStride, k)
    val ivf = ivfTopKBatch(vectors, idCol, vecCol, seeds, queryStride, k,
      nProbe)
    val matches = brute.select(col("q_id"), col("id"))
      .join(ivf.select(col("q_id"), col("id")), Seq("q_id", "id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_match"))
    base.filter(col("id") % queryStride === 0).select(col("id").as("q_id"))
      .join(matches, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast(DoubleType) / k)
          .as("recall"))
  }

  /** Matryoshka truncation QA (Kusupati et al., NeurIPS 2022): recall@k
    * of brute-force cosine top-k computed on only the FIRST `mDims`
    * dimensions against full-dimension brute force, per stride-sampled
    * query — the gauge a retrieval pipeline reads before serving
    * truncated ("Matryoshka") embeddings, whose leading prefix is
    * trained to carry most of the signal: how much neighbor structure
    * survives the cut. Output `(q_id, n_match, recall)`, one row per
    * query; recall = |trunc top-k ∩ full top-k| / k (the x76 contract —
    * both top-k lists rank on round(cosine, 3) with the id tie-break,
    * so the cutoff is deterministic cross-engine).
    *
    * Scale: a VALIDATION op over a bounded query sample, like
    * [[annRecallReport]] — both sides are one corpus scan against the
    * broadcast query set; the truncated side's scan reads the same
    * column and slices per row (no second copy of the vectors). The
    * sample stride bounds the cost; it is not a per-ingest path.
    */
  def truncationRecallReport(vectors: DataFrame, idCol: String,
      vecCol: String, queryStride: Int, k: Int, mDims: Int): DataFrame = {
    require(queryStride >= 1 && k >= 1 && mDims >= 1,
      s"need positive stride/k/mDims, got $queryStride/$k/$mDims")
    val full = bruteTopKBatch(vectors, idCol, vecCol, queryStride, k)
    val base = vectors.select(col(idCol).as("id"),
      slice(toDouble(col(vecCol)), 1, mDims).as("v"))
    val qs = base.filter(col("id") % queryStride === 0)
      .select(col("id").as("q_id"), col("v").as("qv"))
    val scored = base.crossJoin(broadcast(qs))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        round(cosine(col("v"), col("qv")), 3).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("id"))
    val trunc = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select(col("q_id"), col("id"))
    val matches = full.select(col("q_id"), col("id"))
      .join(trunc, Seq("q_id", "id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_match"))
    vectors.select(col(idCol).as("q_id"))
      .filter(col("q_id") % queryStride === 0)
      .join(matches, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast(DoubleType) / k)
          .as("recall"))
  }

  /** Top principal direction of the embedding second-moment matrix by
    * power iteration — the whitening/centering direction SemDeDup-style
    * embedding pipelines strip before cosine clustering (dominant
    * directions are corpus boilerplate, not meaning). ALL-INTEGER
    * (the x93 contract): vectors snap to the x79 grid, the uncentered
    * second-moment matrix `S = Σ g gᵀ` accumulates in exact Longs via
    * one position-pair explode + partial-aggregating SUM (the PQ
    * trainer's explode-and-sum shape — 4096 keys for dim 64, map-side
    * combined), and each of the `iters` matvec+renormalize rounds is
    * exact integer arithmetic: `w = S·v`, then
    * `v ← sign(w) · ((2·scale·|w| + m) div (2·m))`, `m = max|w|` —
    * floor division of NON-NEGATIVE operands, which truncating and
    * flooring engines evaluate identically, so the oracle unrolls the
    * same rounds bit-for-bit. If a round's `w` is all-zero the vector
    * collapses to zero (and stays there) in both engines.
    *
    * Scale design (100 TB): the corpus-touching stage is the ONE
    * aggregate (dim² Long cells, map-side combined); the collected
    * matrix and the iteration are model-sized driver state (dim²
    * Longs — the kmeans-centroid/PQ-codebook precedent), never
    * corpus-sized. Long-overflow headroom: |S_ij| ≤ N·10⁶-ish grid
    * units — beyond ~10¹¹ vectors pre-scale S entries by a rounded
    * division before iterating (documented trade, same contract).
    *
    * Returns `(comp, v)` — the `dim` components of the scaled
    * direction, `|v| ≤ scale`.
    */
  def topPrincipalComponent(emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 3, scale: Long = 100L): DataFrame = {
    require(iters >= 1 && scale >= 1L, "need iters >= 1 and scale >= 1")
    val grid = transform(toDouble(col(vecCol)),
      x => floor(x * 1000).cast(LongType))
    // NO Parallelize.ensure rescue, DELIBERATELY (r20 measured): the
    // dim²-row explode + partial aggregate runs as two tasks on the
    // mirror, but spreading it to 32 raised warm suite CPU 1.1 → 2.8 s
    // for zero wall gain (0.75 → 0.72) — the stage is too short for
    // the round-robin exchange + 16× more partial-agg hash maps to
    // pay off. At scale the scan has real splits and parallelism
    // comes free.
    val s = emb.filter(col(vecCol).isNotNull)
      .select(posexplode(grid), grid.as("g"))
      .toDF("i", "gi", "g")
      .select(col("i"), col("gi"), posexplode(col("g")))
      .toDF("i", "gi", "j", "gj")
      .select(col("i"), col("j"), (col("gi") * col("gj")).as("p"))
      .groupBy("i", "j").agg(sum(col("p")).as("s"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .toMap
    val dim = if (s.isEmpty) 0 else s.keysIterator.map(_._1).max + 1
    var v = Array.fill(dim)(scale)
    var t = 0
    while (t < iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += s.getOrElse((i, j), 0L) * v(j); j += 1 }
        acc
      }
      val m = if (dim == 0) 0L else w.map(math.abs).max
      v =
        if (m == 0L) Array.fill(dim)(0L)
        else w.map(x => math.signum(x) *
          ((2L * scale * math.abs(x) + m) / (2L * m)))
      t += 1
    }
    val sp = emb.sparkSession
    import sp.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toSeq
      .toDF("comp", "v")
  }

  /** Embedding-space DRIFT report between two corpus snapshots — the
    * x105 corpus-drift idea for the vector modality: split the corpus
    * deterministically (md5-prefix hash at `rate` — in production the
    * two sides are consecutive crawl snapshots), compute each side's
    * centroid on the x79 exact integer grid, and report the angle and
    * distance between them. A drifting embedding distribution is the
    * earliest signal that an ANN index, a SemDeDup threshold, or a
    * quality classifier trained on last month's corpus no longer fits
    * this month's.
    *
    * Determinism contract (the x93/x102 all-integer discipline): grid
    * coords and per-dimension per-side SUMS are exact Longs; counts
    * cancel in the cosine, so `cos = dot(s₁,s₂)/(√Σs₁²·√Σs₂²)` over
    * exact integers with IEEE-correctly-rounded sqrt/division; the
    * mean-shift L2 uses the cross-multiplied differences
    * `s₁ᵢn₂ − s₂ᵢn₁` with each factor cast to DECIMAL(19,0) BEFORE
    * the multiply (so the product never wraps in Long — exact while
    * |sᵢ·n| < 10¹⁹ per side, i.e. ~10¹⁰ unit vectors a side), squared
    * and summed in DECIMAL(38,0) INTERNALLY, then PUBLISHED as BIGINT
    * (r14): precision-38 decimals are hugeint-backed in DuckDB and
    * were exactly the r13 driver-hash-divergent surface
    * (CORRECTNESS_r13 — this row plus the five moneySum queries), so
    * the published-type contract (PublishedTypeSpec) now bans them.
    * The diff is downcast to DECIMAL(18,0) before squaring so the
    * square fits both engines' 38-digit cap, and the published BIGINT
    * bounds the SUM at 2⁶³ — exact while Σ(sᵢn − sᵢ'n')² < 9.2·10¹⁸
    * (fixture value 2.8·10¹³, ~5 orders of headroom; past the bound
    * DuckDB errors loudly at the cast while a Spark cast nulls — the
    * honest bound, stated not hidden), then ONE sqrt and division.
    *
    * The two derived gauges are published as BIGINT MICRO-UNITS via
    * `FLOOR(x·10⁶ + 0.5)` — the r13 portability rule: engine
    * ROUND(double, n) implementations differ near boundaries (the
    * r12 driver divergence on this very row), while FLOOR/·/+ are
    * core IEEE ops bit-identical in every engine. `cosine_u6`'s
    * input doubles come only from int64→double conversions
    * (correctly rounded in both the JVM and C++ per IEEE 754) and a
    * fixed sqrt/division chain, so it is bit-identical
    * unconditionally; `mean_shift_u6` converts the BIGINT
    * `mean_shift_sq`, whose value can exceed 2⁵³ (int64→double is
    * then correctly rounded but value-lossy), so its boundary margin
    * is pinned on the fixture by RoundingMarginSpec.
    *
    * Scale: one pass over the vectors (posexplode → per-(side, dim)
    * partial-aggregated sums); everything after is a 2·dim-row model
    * table. Returns ONE row
    * `(n_a, n_b, dot, norm_a_sq, norm_b_sq, mean_shift_sq,
    * cosine_u6, mean_shift_u6)`.
    */
  def embeddingDriftReport(vectors: DataFrame, idCol: String,
      vecCol: String, rate: Double): DataFrame = {
    val g = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), pqGrid(col(vecCol)).as("gv"))
      .withColumn("snap",
        when(Sampling.keepPredicate(col("id"), rate), 0).otherwise(1))
    val dims = g.select(col("snap"), posexplode(col("gv")))
      .toDF("snap", "pos", "v")
      .groupBy("snap", "pos").agg(sum(col("v")).as("s"))
    val counts = g.groupBy("snap").agg(count(lit(1)).as("n"))
    val a = dims.filter(col("snap") === 0)
      .select(col("pos"), col("s").as("sa"))
    val b = dims.filter(col("snap") === 1)
      .select(col("pos"), col("s").as("sb"))
    val na = counts.filter(col("snap") === 0).select(col("n").as("n_a"))
    val nb = counts.filter(col("snap") === 1).select(col("n").as("n_b"))
    val joined = a.join(b, "pos")
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
    // each factor to DECIMAL(19,0) BEFORE the multiply: BIGINT·BIGINT
    // would silently wrap in Spark past 2⁶³ (DuckDB errors); the
    // (19,0)·(19,0) product caps at Spark's 38-digit ceiling with
    // scale 0, so no fractional loss — exact while |sᵢ·n| < 10¹⁹
    val diff = (col("sa").cast(DecimalType(19, 0)) *
        col("n_b").cast(DecimalType(19, 0)) -
      col("sb").cast(DecimalType(19, 0)) *
        col("n_a").cast(DecimalType(19, 0)))
      .cast(DecimalType(18, 0))
    val agg = joined.agg(
      first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
      sum(col("sa") * col("sb")).cast(LongType).as("dot"),
      sum(col("sa") * col("sa")).cast(LongType).as("norm_a_sq"),
      sum(col("sb") * col("sb")).cast(LongType).as("norm_b_sq"),
      sum(diff * diff).cast(LongType).as("mean_shift_sq"))
    val cosRaw = col("dot").cast(DoubleType) /
      (sqrt(col("norm_a_sq").cast(DoubleType)) *
        sqrt(col("norm_b_sq").cast(DoubleType)))
    val msRaw = sqrt(col("mean_shift_sq").cast(DoubleType)) /
      (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))
    agg.select(col("n_a"), col("n_b"), col("dot"),
      col("norm_a_sq"), col("norm_b_sq"), col("mean_shift_sq"),
      floor(cosRaw * lit(1000000.0) + lit(0.5)).cast(LongType)
        .as("cosine_u6"),
      floor(msRaw * lit(1000000.0) + lit(0.5)).cast(LongType)
        .as("mean_shift_u6"))
  }

  /** Per-label class profile — the balance + scale audit a training
    * run reads before trusting its labels: per label, the exact
    * vector count, its corpus share in floor-division micros (class
    * imbalance at a glance), and the mean squared norm in the
    * [[normSpectrum]] 10⁻⁴ quantization (a label whose mean norm sits
    * far off its peers was embedded by a different code path — the
    * classic silent-mixup tell).
    *
    * Determinism: [[normSpectrum]]'s contract — per-row IEEE dot
    * (bit-deterministic), FLOOR(·10⁴ + 0.5) quantization, exact
    * BIGINT sums, floor-division publishes.
    *
    * Scale: ONE stateless projection into a label-bounded map-side-
    * combinable aggregate; the one-row total broadcasts back onto
    * the label-bounded frame (lazily checkpointed so the total does
    * not re-scan the corpus). No joins, no windows.
    *
    * Returns `(label, n_vecs BIGINT, share_micros BIGINT,
    * mean_normsq_q4 BIGINT)`.
    */
  def labelProfile(vectors: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val dv = toDouble(col(vecCol))
    val q = floor(dot(dv, dv) * lit(10000.0) + lit(0.5)).cast(LongType)
    val per = vectors
      .select(col(labelCol).as("label"), q.as("_q"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("_q")).as("_sq"))
      // lazy barrier: the total and the publish both read this
      // label-bounded frame — one corpus scan, not two
      .localCheckpoint(eager = false)
    val total = per.agg(sum(col("n_vecs")).as("_tot"))
    per.crossJoin(broadcast(total))
      .select(col("label"), col("n_vecs"),
        expr("(n_vecs * 1000000) div _tot").as("share_micros"),
        expr("_sq div n_vecs").as("mean_normsq_q4"))
  }

  /** Embedding-norm spectrum — the vector-health audit run before
    * trusting ANY cosine machinery (x6/x7/x18/x79): per label, the
    * distribution of squared L2 norms on a base-2 grid over exact
    * 1e-4 norm² units (`q = FLOOR(‖v‖²·10⁴ + 0.5)`, bucket = bit
    * length of q; bucket 0 collects the ~zero vectors that break
    * cosine normalization). A spread-out spectrum inside one label
    * flags unnormalized mixtures; a bucket-0 population flags dead
    * embeddings.
    *
    * Determinism: the norm² is the same sequential-fold dot product
    * as the proven cosine chain (q18 driver-green precedent —
    * DuckDB's list_dot_product folds in the same order); one
    * FLOOR(x·10⁴+0.5) quantization (margin-gated); exact BIGINT
    * sums; the bit-length bucket is the x142 grid.
    *
    * Scale: ONE stateless projection (codegen dot) into a
    * (label × ~60 bucket)-bounded map-side-combinable aggregate — no
    * joins, no windows.
    *
    * Returns `(label, bucket, n_vecs, sum_q)`.
    */
  def normSpectrum(vectors: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val dv = toDouble(col(vecCol))
    val q = floor(dot(dv, dv) * lit(10000.0) + lit(0.5)).cast(LongType)
    vectors
      .select(col(labelCol).as("label"), q.as("_q"))
      .select(col("label"),
        when(col("_q") <= 0L, 0L)
          .otherwise(length(bin(col("_q"))).cast(LongType)).as("bucket"),
        col("_q"))
      .groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"), sum(col("_q")).as("sum_q"))
  }

  /** ANN-margin report — the nearest-neighbor CONFIDENCE audit: for a
    * deterministic sample of query vectors, the exact top-1 and top-2
    * cosine neighbors and their separation in integer milli-units.
    * Small margins mean the top-1 answer is fragile (any approximate
    * index will flip it); the margin distribution is the
    * recall-vs-speed dial for tuning x7/x37/x93's probe counts.
    *
    * Determinism: q18's rounded-cosine contract — per-pair IEEE dot,
    * ROUND(·, 3), rank on (sim DESC, id ASC); the margin is a
    * difference of FLOOR(s·1000 + 0.5) integers, so the published
    * value is exact.
    *
    * Scale: the query set is a bounded hash sample (broadcast), so
    * the scored frame is |corpus| × |sample| with NO shuffle until
    * the per-query rank window (WindowGroupLimit caps it map-side at
    * rk ≤ 2). At production scale the sample rides the same plan; the
    * brute-force scoring side is the audit's cost by construction —
    * run it on the x112-style sampled corpus when |corpus| · |sample|
    * outgrows the cluster.
    *
    * Returns `(q_id, top1_id, top2_id, margin_milli)`.
    */
  def annMarginReport(vectors: DataFrame, idCol: String,
      vecCol: String, sampleRate: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = vectors
      .filter(Sampling.keepPredicate(col(idCol), sampleRate))
      .select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("_q"))
    val v = vectors
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("_v"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("_v"), col("_q")), 3).as("_s3"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_s3").desc, col("vec_id").asc)
    val milli = (rk: Int) => floor(
      min(when(col("rk") === rk, col("_s3"))) * 1000 + 0.5)
      .cast(LongType)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("q_id")
      .agg(min(when(col("rk") === 1, col("vec_id"))).as("top1_id"),
        min(when(col("rk") === 2, col("vec_id"))).as("top2_id"),
        (milli(1) - milli(2)).as("margin_milli"))
  }

  /** kNN label purity — the embedding-quality audit run before any
    * label-aware curation (x65's centroid confusion, x81's balanced
    * subsets): for a deterministic sample of query vectors, the
    * fraction of their exact top-`k` cosine neighbors sharing the
    * query's label, in integer micros. Low purity means the space
    * does not separate the labels and every cluster-based gate built
    * on it inherits the noise.
    *
    * Determinism: the [[annMarginReport]] contract — rounded cosine,
    * (sim DESC, id ASC) rank — plus one exact match-count aggregate
    * and one floor division by the constant `k`.
    *
    * Scale: same shape as [[annMarginReport]] (bounded broadcast
    * sample, WindowGroupLimit-capped rank window at rk ≤ k); same
    * sampled-corpus knob past cluster scale.
    *
    * Returns `(q_id, label, n_matched, purity_micros)`.
    */
  def knnLabelPurity(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 5,
      sampleRate: Double = 0.1): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val q = vectors
      .filter(Sampling.keepPredicate(col(idCol), sampleRate))
      .select(col(idCol).as("q_id"), col(labelCol).as("_ql"),
        toDouble(col(vecCol)).as("_q"))
    val v = vectors
      .select(col(idCol).as("vec_id"), col(labelCol).as("_vl"),
        toDouble(col(vecCol)).as("_v"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("_ql"), col("_vl"), col("vec_id"),
        round(cosine(col("_v"), col("_q")), 3).as("_s3"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_s3").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("q_id"), col("_ql").as("label"))
      .agg(sum((col("_vl") === col("_ql")).cast(LongType))
        .as("n_matched"))
      .select(col("q_id"), col("label"), col("n_matched"),
        expr(s"(n_matched * 1000000) div $k").as("purity_micros"))
  }
}
