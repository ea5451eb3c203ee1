package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The three steps every bucketed pair generator in [[Dedup]] and
  * [[Similarity]] is built from: band a signature into bucket keys,
  * join two banded frames on those keys, and verify each unique
  * candidate by re-joining its payloads. Input frames carry an `id`
  * column; a carried column `c` leaves the bucket join as `a_c`/`b_c`.
  * Each step is a plain composition of DataFrame operators, so a
  * generator built from them plans exactly as its hand-written
  * spelling would.
  */
private[ops] object BandJoin {

  /** `frame`'s `keep` columns plus `(band_id, band_val)`, one row per
    * equal-width bit chunk of its Long `sig` column: `numChunks`
    * chunks of `bits / numChunks` bits each, low chunk first.
    */
  def chunkBands(frame: DataFrame, keep: Seq[String], bits: Int,
      numChunks: Int): DataFrame = {
    require(bits % numChunks == 0, s"numChunks must divide $bits")
    val width = bits / numChunks
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val chunks = (0 until numChunks).map { j =>
      struct(lit(j).as("band_id"),
        shiftright(col("sig"), j * width).bitwiseAND(lit(mask))
          .as("band_val"))
    }
    frame.select(keep.map(col) :+ explode(array(chunks: _*)).as("c"): _*)
      .select(keep.map(col) ++ Seq(col("c.band_id"), col("c.band_val")): _*)
  }

  /** Row pairs of `left` × `right` that agree on every bucket `keys`
    * column: `ids` plus each key and `carry` column as `a_<c>`/`b_<c>`.
    * The default `keep` emits each self-join pair once
    * (`a_id < b_id`); a cross-side join passes `_ =!= _` so no row
    * pairs with itself. Pairs colliding in several buckets repeat —
    * callers dedupe.
    *
    * Each side renames every column, in `(id, keys, carry)` order: a
    * frame laid out the same way keeps the rename inside its own
    * projection, even below a repartition (Catalyst collapses a pure
    * positional rename through one).
    */
  def bucketJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      carry: Seq[String] = Nil, ids: (String, String) = ("a_id", "b_id"),
      keep: (Column, Column) => Column = _ < _): DataFrame = {
    def side(df: DataFrame, id: String, prefix: String) =
      df.select(col("id").as(id) +:
        (keys ++ carry).map(c => col(c).as(s"${prefix}_$c")): _*)
    side(left, ids._1, "a").join(side(right, ids._2, "b"),
        keys.map(k => col(s"a_$k") === col(s"b_$k")).reduce(_ && _))
      .filter(keep(col(ids._1), col(ids._2)))
  }

  /** Score each candidate `(ids._1, ids._2)` pair once: re-join the
    * `payload` of `left`/`right` by id, score the two payloads as
    * column `name`, and keep pairs scoring at least `min`. Candidates
    * carry ids only, so the bucket shuffle never moves a payload and
    * the scoring work is |candidates|, not |bucket pairs|.
    */
  def verify(cands: DataFrame, left: DataFrame, right: DataFrame,
      payload: String, score: (Column, Column) => Column, name: String,
      min: Double, ids: (String, String) = ("a_id", "b_id")): DataFrame = {
    val (l, r) = ids
    cands.join(left.select(col("id").as(l), col(payload).as("_l")), l)
      .join(right.select(col("id").as(r), col(payload).as("_r")), r)
      .select(col(l), col(r), score(col("_l"), col("_r")).as(name))
      .filter(col(name) >= min)
  }

  /** Pairs `(a_id, b_id, hamming)` within `maxHamming` bits of a
    * `bits`-wide Long signature: candidates share one of `numChunks`
    * equal-width chunks, then exact Hamming distance filters them.
    *
    * Recall contract (pigeonhole): a pair at distance d differs in at
    * most d chunks, so `maxHamming < numChunks` guarantees every
    * qualifying pair collides somewhere — enforced here.
    *
    * The signature rides the bucket join (8 bytes a side), so the
    * distance is scored on the join output with no re-join. The filter
    * runs BEFORE the dedupe: hamming is a function of the pair, so the
    * order is equivalence-preserving, and the dedupe shuffle shrinks
    * from every banded candidate to just the matches (~200x on the
    * clustered sf0.1 signatures). `checkpoint` puts a lazy barrier on
    * the chunked frame so the join's two sides do not each re-run the
    * signature kernel.
    */
  def hammingPairs(docs: DataFrame, idCol: String, sig: Column,
      bits: Int, numChunks: Int, maxHamming: Int,
      checkpoint: Boolean): DataFrame = {
    require(maxHamming < numChunks,
      s"pigeonhole recall guarantee needs maxHamming < numChunks " +
        s"(got maxHamming=$maxHamming, numChunks=$numChunks): a pair at " +
        s"distance >= numChunks can differ in every chunk and be missed")
    val chunked = chunkBands(docs.select(col(idCol).as("id"), sig.as("sig")),
      Seq("id", "sig"), bits, numChunks)
    val banded =
      if (checkpoint) chunked.localCheckpoint(eager = false) else chunked
    bucketJoin(banded, banded, Seq("band_id", "band_val"), Seq("sig"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }
}
