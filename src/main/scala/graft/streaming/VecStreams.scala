package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Similarity

/** Online embedding-dedup candidate generation — the streaming twin of
  * [[graft.ops.Similarity.semanticDedup]]'s generator stage, for the
  * ingest-time question "is this vector semantically new?". Arriving
  * vectors bucket by [[Similarity.srpBucket]] (one stateless codegen
  * projection — IDENTICAL to the batch partition, so stream and batch
  * agree on which pairs are in contract), and per-bucket keyed state
  * retains member ids; each arrival emits a candidate pair with every
  * retained bucket-mate, exactly once per bucket (the
  * [[DocStreams.pairInBucket]] fold). Exact-cosine
  * verification composes downstream — a re-join with the vector store,
  * batch or stream-static, exactly as in the batch x79 path.
  *
  * Scale design (100 TB/day feed): state is partitioned by the bucket
  * key and holds ids ONLY — 8 bytes per retained vector; `maxBucket`
  * caps the per-bucket member list (the [[DocStreams.nearDupCandidates]]
  * bounded-state trade: arrivals after the cap still pair with the
  * retained members, the cap costs recall only against the overflow
  * tail). `NoTimeout` is sanctioned here (the
  * [[DocStreams.boundedDocState]] exception class) because the KEY
  * population is bounded by construction — SRP buckets are a
  * `bucketBits`-bit space, so total state can never exceed
  * `2^bucketBits × maxBucket × 8 B` (16 KiB at the defaults)
  * regardless of corpus size; there is no idle-key growth to expire.
  */
object VecStreams {

  /** Online SRP-bucket candidate pairs over a vector stream. Also runs
    * on a batch DataFrame (state starts empty, one "micro-batch") — the
    * batch-equivalence tests exploit this: streamed output under any
    * batching equals the batch within-bucket pair set.
    */
  def semanticDedupCandidates(vectors: DataFrame, idCol: String,
      vecCol: String, bucketBits: Int = 8, bits: Int = 32, dim: Int = 64,
      maxBucket: Int = 64): Dataset[CandidatePair] = {
    import vectors.sparkSession.implicits._
    vectors.select(col(idCol).cast("long").as("id"),
        Similarity.srpBucket(col(vecCol), bucketBits, bits, dim)
          .as("bucket"))
      .as[(Long, Long)]
      .groupByKey { case (_, bucket) => bucket }
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long)],
            state: GroupState[Seq[Long]]) =>
          val (seen, out) = DocStreams.pairInBucket(
            state.getOption.getOrElse(Seq.empty), rows.map(_._1), maxBucket)
          state.update(seen)
          out
      }
  }
}
