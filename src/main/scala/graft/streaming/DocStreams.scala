package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DoubleType

import graft.ops.Dedup
import graft.ops.TextAnalysis.{Kn3Model, LmModel}

/** Candidate near-duplicate pair emitted by the online detector. */
case class CandidatePair(a_id: Long, b_id: Long)

/** A chunk instance flagged as corpus-boilerplate by the online
  * detector: `first_id` is the earlier document that already carried
  * the same chunk.
  */
case class ChunkRepeat(doc_id: Long, chunk_id: Long, first_id: Long)

/** An arriving train document sharing `n_shared` distinct k-shingles
  * with eval document `eval_id` — the online contamination flag.
  */
case class ContaminationHit(train_id: Long, eval_id: Long, n_shared: Long)

/** An arriving document's LM quality score under a frozen corpus
  * model — the online twin of the batch x73 row.
  */
case class DocLmScore(doc_id: Long, n_bigrams: Long, avg_nll: Double)

/** One slot of a stratum's online weighted reservoir (A-Res) after
  * its latest update: `rk` ranks within the stratum by
  * (key_units, doc_id); `version` counts the stratum's state
  * updates — the emission with the highest version is the current
  * reservoir.
  */
case class ReservoirRow(stratum: String, doc_id: Long, weight: Long,
    key_units: Long, rk: Long, version: Long)

case class DocKn3Score(doc_id: Long, n_trigrams: Long, avg_nll: Double)

case class DocKn3Bucket(doc_id: Long, lang: String, n_trigrams: Long,
  avg_nll: Double, bucket: String)

case class SpanHit(doc_id: Long, n_spans: Long, n_covered: Long)

case class DocCcnetBucket(doc_id: Long, lang: String, n_bigrams: Long,
  avg_nll: Double, bucket: String)

/** An arriving document's exactly-verified near-dup match against the
  * frozen ingested corpus — the online x209 row.
  */
case class IngestPair(new_id: Long, seen_id: Long, jaccard: Double)

/** Streaming document-pipeline surface: ONLINE near-duplicate detection.
  *
  * A training-data ingest doesn't get to re-run batch dedup over the
  * full corpus for every new crawl drop; it needs each arriving
  * document checked against everything already seen. This is the
  * incremental twin of [[graft.ops.Dedup.lshCandidatePairs]]: the same
  * stateless banded-MinHash projection ([[Dedup.bandedSignatures]])
  * keys each document into its LSH buckets, and per-bucket keyed state
  * (`flatMapGroupsWithState`) holds the ids already seen in that
  * bucket — a new arrival emits one candidate pair per retained
  * bucket-mate, exactly once per bucket.
  *
  * Scale design (100 TB/day feed): state is partitioned by
  * (band, band_hash) — the same key the batch generator shuffles on —
  * and holds ids ONLY (8 bytes per retained doc per band). `maxBucket`
  * caps the per-bucket member list, bounding total state at
  * `bands × maxBucket × 8 B` per distinct bucket even when boilerplate
  * documents pile into one bucket (the streaming analog of
  * Contamination's df cap — an overfull bucket's members are
  * near-indistinguishable anyway, the standard bounded-state trade).
  * New arrivals are still compared against the retained members after
  * the cap engages, so the cap costs recall only against the overflow
  * tail. Idle keys expire after `idleTtlMs` of arrival time
  * ([[DocStreams.boundedDocState]]) — the KEY population is otherwise
  * linear in every bucket ever touched; within the retention window
  * dedup coverage is exact, and a bucket idle past it restarts empty
  * (its pre-expiry members can re-pair — pure recall cost against
  * content older than the retention, the same trade every
  * state-store deployment makes).
  *
  * Emitted pairs are LSH *candidates* (min-id first); verification —
  * exact Jaccard via a re-join with token sets — composes downstream,
  * batch or stream-static, exactly as in the batch x12 path.
  *
  * Stateless batch ops need no twin here: DSIR scoring, language ID,
  * the Gopher and blocklist gates, the domain gate and the FIM rewrite
  * are per-row projections that run on a streaming frame verbatim
  * (StreamingSpec streams the batch ops themselves). The projection
  * twins below ([[piiScrubbed]], [[bpeTokenCounts]], [[mainContent]],
  * [[canonicalUrls]]) exist because they turn kernel column functions
  * and struct fields into named output columns.
  */
object DocStreams {

  /** Default idle-state retention for the document twins: 30 days of
    * processing time — [[boundedDocState]].
    */
  val DefaultIdleTtlMs: Long = 30L * 86400L * 1000L

  /** The r17 bounded-state contract for DocStreams (closing the r16
    * verdict's idle-key finding for the DOCUMENT side the way
    * `EventStreams.boundedStateDoc` closed the event side): no keyed
    * state in this object runs `NoTimeout` over an unbounded key
    * population. Documents carry no event-time column, so
    * [[arrivalTtl]] synthesizes one — `_ats = current_timestamp()`
    * (the micro-batch timestamp: per-batch-constant,
    * retry-deterministic) under a 0-delay watermark — and runs
    * `GroupStateTimeout.EventTimeTimeout` against it: every state
    * access re-arms an `idleTtlMs` timer off the batch's arrival
    * time, and a key idle past it is REMOVED outright (state is
    * therefore linear only in keys active within the retention
    * window, the same contract as any RocksDB state-store TTL
    * deployment). Arrival-time timers, NOT `ProcessingTimeTimeout`:
    * a processing-time timer makes the micro-batch engine schedule
    * batches CONTINUOUSLY to fire timers (`shouldRunAnotherBatch` is
    * unconditionally true), a busy-loop that also never quiesces
    * `processAllAvailable` — measured as a test-suite hang; event-time
    * timers fire only when a data batch advances the watermark, so an
    * idle QUERY costs nothing and expiry is lazy (an idle key is
    * collected on the next data batch after its horizon). Semantics
    * inside the window are unchanged; past it:
    *  - dedup-memory keys (LSH buckets, chunk hashes) restart empty —
    *    a re-arrival can re-pair/re-flag against post-expiry content
    *    only (pure recall cost against expired content);
    *  - per-document re-delivery guards (the one-Boolean keys of
    *    [[emitOnce]]) lapse — a document re-delivered LATER than the
    *    retention window re-emits its row, the standard at-least-once
    *    tail every TTL'd dedup guard has (downstream consumers key on
    *    doc_id).
    * Batch execution is untouched: the watermark node is eliminated
    * and timers never fire (`setTimeoutTimestamp` records, nothing
    * expires), so batch ≡ stream equivalence holds verbatim. The ONE deliberate
    * `NoTimeout` left is [[weightedReservoir]], whose key population
    * (strata) is the bounded dimension by declaration — StreamingSpec
    * gates the source so no new `NoTimeout` site can appear.
    */
  private[streaming] def boundedDocState(): Unit = ()

  /** The one keyed-state skeleton of this object ([[boundedDocState]]):
    * stamps `rows` with the arrival time `_ats` under a 0-delay
    * watermark (arrival time never regresses, and stateful operators
    * do not late-filter rows, so a 0 delay is safe; in batch execution
    * the watermark node is eliminated and the column is a query
    * constant), groups by `key`, and per key either REMOVES the state
    * on an idle timeout or runs `fold(key, this batch's rows, state)`,
    * stores the state it returns and re-arms the idle timer at (this
    * batch's arrival time + TTL). The arrival timestamp rides next to
    * each row unprojected: the analyzer's event-time-timeout check
    * requires the watermark-tagged column in the stateful operator's
    * child output.
    */
  private def arrivalTtl[V, K: Encoder, S: Encoder, U: Encoder](
      rows: Dataset[V], idleTtlMs: Long)(key: V => K)(
      fold: (K, Seq[V], Option[S]) => (S, Iterator[U])): Dataset[U] =
    rows.select(struct(col("*")).as("v"))
      .withColumn("_ats", current_timestamp())
      .withWatermark("_ats", "0 seconds")
      .as(Encoders.tuple(rows.encoder, Encoders.TIMESTAMP))
      .groupByKey(r => key(r._1))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, it: Iterator[(V, java.sql.Timestamp)], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = it.toSeq
            val (next, out) = fold(k, batch.map(_._1), state.getOption)
            state.update(next)
            state.setTimeoutTimestamp(
              batch.iterator.map(_._2.getTime).max + idleTtlMs)
            out
          }
      }

  /** [[arrivalTtl]] with a one-Boolean re-delivery guard: the first
    * batch that carries a key emits `emit(key, rows)`, later batches
    * within the retention window emit nothing. A document's rows all
    * arrive in its own micro-batch (whole documents enter the stream
    * atomically), so the first invocation sees the key's complete
    * input.
    */
  private def emitOnce[V, K: Encoder, U: Encoder](rows: Dataset[V],
      idleTtlMs: Long)(key: V => K)(emit: (K, Seq[V]) => U): Dataset[U] = {
    implicit val guardEnc: Encoder[Boolean] = Encoders.scalaBoolean
    arrivalTtl(rows, idleTtlMs)(key) {
      (k: K, batch: Seq[V], seen: Option[Boolean]) =>
        (true,
          if (seen.isDefined) Iterator.empty
          else Iterator.single(emit(k, batch)))
    }
  }

  /** The bucket-pairing fold shared by [[nearDupCandidates]] and
    * [[VecStreams.semanticDedupCandidates]]: each new id pairs with
    * every retained bucket-mate (min id first) and joins the bucket
    * while it holds fewer than `maxBucket` members; re-deliveries and
    * same-batch duplicates of an id emit nothing new (the bucket
    * already reported its pairs).
    */
  private[streaming] def pairInBucket(retained: Seq[Long],
      ids: Iterator[Long], maxBucket: Int)
      : (Seq[Long], Iterator[CandidatePair]) = {
    val seen = retained.toBuffer
    val out = mutable.ArrayBuffer.empty[CandidatePair]
    ids.foreach { id =>
      if (!seen.contains(id)) {
        seen.foreach { s =>
          out += CandidatePair(math.min(s, id), math.max(s, id))
        }
        if (seen.length < maxBucket) seen += id
      }
    }
    (seen.toSeq, out.iterator)
  }

  /** The per-document mean of the LM twins: accumulates the
    * 6-dp-rounded nll values re-quantized at scale 6 (what Spark's
    * double→DECIMAL(18,6) cast does) in exact BigDecimal, then ONE
    * double division like the batch plan — bit-identical to the batch
    * DECIMAL(18,6) route on shared n-grams.
    */
  private def exactMean6(nlps: Seq[Double]): Double =
    nlps.map(d => BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
      nlps.size

  /** Head/middle/tail against frozen per-language cutoffs, shared by
    * [[ccnetGate]] and [[kn3Gate]]: a doc exactly on a cutoff goes to
    * the lower bucket (batch ntile splits such ties by doc_id), and
    * unknown or null languages go to `tail` — an ungated language
    * shouldn't sneak into head.
    */
  private def cutoffBucket(cutoffs: Map[String, (Double, Double)],
      lang: String, avg: Double): String =
    cutoffs.get(lang) match {
      case Some((c1, _)) if avg <= c1 => "head"
      case Some((_, c2)) if avg <= c2 => "middle"
      case _ => "tail"
    }

  /** Online LSH candidate pairs over a document stream. Also runs on a
    * batch DataFrame (state starts empty, one "micro-batch") — the
    * batch-equivalence tests exploit this: streamed-in-any-batching
    * output, deduplicated, equals `lshCandidatePairs` on the union.
    */
  def nearDupCandidates(docs: DataFrame, idCol: String, tokenSetCol: String,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 64,
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val banded =
      Dedup.bandedSignatures(docs, idCol, tokenSetCol, numHashes, bands)
        .select(col("id"), col("band_id"), col("band_hash"))
        .as[(Long, Int, Long)]
    arrivalTtl(banded, idleTtlMs)(r => (r._2, r._3)) {
      (_: (Int, Long), batch: Seq[(Long, Int, Long)],
          retained: Option[Seq[Long]]) =>
        pairInBucket(retained.getOrElse(Seq.empty), batch.iterator.map(_._1),
          maxBucket)
    }
  }

  /** ONLINE train/eval contamination guard — the streaming twin of
    * [[graft.ops.Contamination.report]], in the production direction:
    * the eval/benchmark set is FIXED and bounded, the training corpus
    * is the unbounded side, and every arriving train document must be
    * checked for eval overlap before it is allowed into the corpus.
    *
    * Shape: the eval side is a static `(eval_id, shingle-hash)` frame
    * (distinct hashed k-shingles per eval doc — same one-pass
    * `NGramHashes` kernel as the batch operator), explicitly
    * `broadcast` so the stream-static join is stateless and map-side;
    * arriving documents explode to their distinct shingle hashes,
    * join, and aggregate per (train, eval) pair via one-boolean keyed
    * state ([[emitOnce]]) that also makes re-delivered documents emit
    * nothing new. State is one boolean per CONTAMINATED pair —
    * proportional to the contamination found (rare by construction),
    * never to the corpus.
    *
    * Emits each hit exactly once, in the arrival micro-batch, with the
    * exact distinct-shingle overlap count — same numbers the batch
    * report would compute for that (train, eval) pair.
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 5,
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[ContaminationHit] = {
    import docs.sparkSession.implicits._
    def shingleRows(df: DataFrame, id: String, text: String,
        as: String): DataFrame =
      df.select(col(id).as(as),
        explode(array_distinct(graft.functions.HashFunctions.ngramHashes(
          split(col(text), " ", -1), k, keepPartial = true))).as("sk"))
    val ev = broadcast(shingleRows(evalDocs, evalIdCol, evalTextCol,
      "eval_id"))
    val hits = shingleRows(docs, idCol, textCol, "train_id").join(ev, "sk")
      .select(col("train_id"), col("eval_id")).as[(Long, Long)]
    emitOnce(hits, idleTtlMs)(identity) {
      (pair: (Long, Long), batch: Seq[(Long, Long)]) =>
        ContaminationHit(pair._1, pair._2, batch.size.toLong)
    }
  }

  /** Per-bigram add-one nll under a frozen [[LmModel]], joined onto
    * `pr`'s bigram rows as `nlp`: bigrams the model has never seen
    * score with the smoothing the batch model gives count-0 events —
    * `-ln(1 / (cu + V))` under a known prefix, `-ln(1 / V)` under an
    * unknown one. The model tables are vocabulary-bounded right sides,
    * all broadcast.
    */
  private def lmNlp(pr: DataFrame, model: LmModel): DataFrame =
    pr.join(broadcast(model.bigrams), Seq("w1", "w2"), "left")
      .join(broadcast(model.prefixes), Seq("w1"), "left")
      .withColumn("nlp", round(-log(
        (coalesce(col("cb"), lit(0L)) + 1).cast("double") /
          (coalesce(col("cu"), lit(0L)).cast("double") +
            lit(model.vocabSize))), 6))

  /** ONLINE LM quality scoring: every arriving document scored against
    * a FROZEN corpus model ([[graft.ops.TextAnalysis.lmModel]]) — the
    * ingest-side twin of the batch x73 perplexity filter, the way
    * production pipelines actually run it (model trained offline on
    * the existing corpus; each crawl drop scored as it lands, atypical
    * documents flagged before they enter the training set).
    *
    * The model tables join stream-static ([[lmNlp]]), so scoring is
    * stateless per bigram row; the per-document mean ([[exactMean6]])
    * uses one keyed-state pass with a boolean guard ([[emitOnce]]:
    * documents arrive atomically in their micro-batch; re-delivery
    * emits nothing).
    */
  def lmScores(docs: DataFrame, idCol: String, textCol: String,
      model: LmModel,
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[DocLmScore] = {
    import docs.sparkSession.implicits._
    // the model carries its tokenizer (LmModel.tokenize): a probe
    // tokenized differently from the corpus the counts came from would
    // silently score every bigram as unseen
    val pr = graft.ops.TextAnalysis.bigramRows(docs, idCol, textCol,
      model.tokenize)
    val scored = lmNlp(pr, model).select(col("doc_id"), col("nlp"))
      .as[(Long, Double)]
    emitOnce(scored, idleTtlMs)(_._1) {
      (doc: Long, batch: Seq[(Long, Double)]) =>
        val nlps = batch.map(_._2)
        DocLmScore(doc, nlps.size.toLong, exactMean6(nlps))
    }
  }

  /** The per-trigram back-off nll of [[kn3Scores]]/[[kn3Gate]], joined
    * onto `pr`'s trigram rows as `nlp` (model tables
    * vocabulary-bounded, all broadcast) — spelled to be BIT-EQUAL to
    * the batch x111 expression wherever every lookup hits:
    * greatest(x−d, 0) = x−d exactly for counts ≥ 1, and each when()
    * branch reproduces the batch arithmetic order.
    */
  private def kn3Nlp(pr: DataFrame, model: Kn3Model): DataFrame = {
    val bt = lit(model.btCount)
    val pc1 = when(col("pred").isNotNull,
        col("pred").cast(DoubleType) / bt)
      .otherwise(lit(0.75) / bt.cast(DoubleType))
    val pc2 = when(col("mid").isNotNull,
        (greatest(coalesce(col("cont"), lit(0L)) - 0.75, lit(0.0)) /
          col("mid")) +
        (((lit(0.75) * col("n2f")) / col("mid")) * pc1))
      .otherwise(pc1)
    val p = when(col("ctx").isNotNull,
        (greatest(coalesce(col("c3"), lit(0L)) - 0.75, lit(0.0)) /
          col("ctx")) +
        (((lit(0.75) * col("n3f")) / col("ctx")) * pc2))
      .otherwise(pc2)
    pr.join(broadcast(model.tri), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(model.ctx), Seq("w1", "w2"), "left")
      .join(broadcast(model.cont), Seq("w2", "w3"), "left")
      .join(broadcast(model.mid), Seq("w2"), "left")
      .join(broadcast(model.pred), Seq("w3"), "left")
      .withColumn("nlp", round(-log(p), 6))
  }

  /** ONLINE trigram-KN quality scoring against a FROZEN model
    * ([[graft.ops.TextAnalysis.kn3Model]]) — [[lmScores]] one order
    * up, the ingest-side twin of batch x111/x115 (the
    * closer-to-production configuration: CCNet scores crawl drops
    * with a frozen KenLM). Model tables join stream-static as
    * broadcasts; the per-document mean is the same one-pass
    * keyed-state rollup (atomic-arrival + emit-once, the standing
    * contract).
    *
    * Back-off for events the frozen model never saw (the streaming
    * case batch x111 excludes by contract) follows the KN recursion:
    * an unseen trigram under a KNOWN context keeps the discounted
    * top-level form with its numerator clipped at 0 (`max(c3−d, 0)`);
    * an unknown context backs off entirely to the continuation level,
    * recursively; an unknown final token takes `d/B` at the unigram
    * floor — the discount mass, strictly below any seen type's
    * `≥ 1/B`, keeping every probability finite positive. On documents
    * whose trigrams are all model-observed, every clip is inactive
    * and every branch follows the observed path — bit-identical to
    * batch x111 (StreamingSpec pins it).
    */
  def kn3Scores(docs: DataFrame, idCol: String, textCol: String,
      model: Kn3Model,
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[DocKn3Score] = {
    import docs.sparkSession.implicits._
    val pr = graft.ops.TextAnalysis.trigramRows(docs, idCol, textCol,
      model.tokenize)
    val scored = kn3Nlp(pr, model).select(col("doc_id"), col("nlp"))
      .as[(Long, Double)]
    emitOnce(scored, idleTtlMs)(_._1) {
      (doc: Long, batch: Seq[(Long, Double)]) =>
        val nlps = batch.map(_._2)
        DocKn3Score(doc, nlps.size.toLong, exactMean6(nlps))
    }
  }

  /** Online trigram-KN CCNet gate — the ingest-time twin of batch
    * x115 ([[ccnetGate]] scored by [[kn3Scores]]' frozen trigram-KN
    * model instead of the add-one bigram LM): each arriving document
    * is scored and bucketed head/middle/tail against FROZEN
    * per-language cutoffs
    * ([[graft.ops.TextAnalysis.ccnetCutoffsKn3]], computed offline)
    * with [[ccnetGate]]'s tie/unknown-language rule ([[cutoffBucket]]).
    */
  def kn3Gate(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, model: Kn3Model,
      cutoffs: Map[String, (Double, Double)],
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[DocKn3Bucket] = {
    import docs.sparkSession.implicits._
    val pr = graft.ops.TextAnalysis.trigramRowsWith(docs, idCol,
      textCol, langCol, model.tokenize)
    val scored = kn3Nlp(pr, model)
      .select(col("doc_id"), col("carry"), col("nlp"))
      .as[(Long, String, Double)]
    emitOnce(scored, idleTtlMs)(r => (r._1, r._2)) {
      (key: (Long, String), batch: Seq[(Long, String, Double)]) =>
        val nlps = batch.map(_._3)
        val avg = exactMean6(nlps)
        DocKn3Bucket(key._1, key._2, nlps.size.toLong, avg,
          cutoffBucket(cutoffs, key._2, avg))
    }
  }

  /** Online CCNet gate — the ingest-time twin of batch x92: each
    * arriving document is scored against the FROZEN corpus LM (the
    * [[lmScores]] machinery, bit-identical to batch on shared
    * bigrams) and bucketed head/middle/tail against FROZEN
    * per-language tercile cutoffs
    * ([[graft.ops.TextAnalysis.ccnetCutoffs]], computed offline).
    * Bucket assignment matches batch exactly when no two documents
    * tie on a cutoff score ([[cutoffBucket]]).
    */
  def ccnetGate(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, model: LmModel,
      cutoffs: Map[String, (Double, Double)],
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[DocCcnetBucket] = {
    import docs.sparkSession.implicits._
    val pr = graft.ops.TextAnalysis.bigramRowsWith(docs, idCol, textCol,
      langCol, model.tokenize)
    val scored = lmNlp(pr, model)
      .select(col("doc_id"), col("carry"), col("nlp"))
      .as[(Long, String, Double)]
    emitOnce(scored, idleTtlMs)(r => (r._1, r._2)) {
      (key: (Long, String), batch: Seq[(Long, String, Double)]) =>
        val nlps = batch.map(_._3)
        val avg = exactMean6(nlps)
        DocCcnetBucket(key._1, key._2, nlps.size.toLong, avg,
          cutoffBucket(cutoffs, key._2, avg))
    }
  }

  /** Online repeated-chunk (boilerplate) detection — the streaming twin
    * of [[graft.ops.Dedup.dropRepeatedChunks]]: each arriving document
    * splits into non-overlapping `chunkSize`-token chunks (the same
    * stateless [[graft.ops.TextAnalysis.tokenChunks]] projection), and
    * per-chunk-key state holds ONE long — the smallest document id seen
    * carrying that chunk. An arrival whose chunk was already seen in an
    * earlier (smaller-id) document emits a [[ChunkRepeat]] flag;
    * downstream drops the flagged chunk instances and reassembles, or
    * routes flagged docs to quarantine.
    *
    * State is strictly bounded: 8 bytes per DISTINCT chunk ever seen,
    * regardless of how often boilerplate repeats — the first-seen id is
    * the entire state (vs the batch operator's one-row-per-hot-key freq
    * side). Same-document repetition is never flagged (matching the
    * batch operator's min(doc)<max(doc) contract). Within a micro-batch
    * the group is processed in (doc_id, chunk_id) order, so emissions
    * are deterministic under any batching of an id-ordered feed; an
    * out-of-order smaller id simply becomes the new first and is itself
    * never flagged — the inherent online-vs-batch attribution gap.
    */
  def repeatedChunkFlags(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int,
      idleTtlMs: Long = DefaultIdleTtlMs): Dataset[ChunkRepeat] = {
    import docs.sparkSession.implicits._
    val chunks = graft.ops.TextAnalysis.tokenChunks(docs, idCol, textCol,
        chunkSize = chunkSize, stride = chunkSize)
      .select(col("doc_id"), col("chunk_id"), xxhash64(col("chunk")))
      .as[(Long, Long, Long)]
    arrivalTtl(chunks, idleTtlMs)(_._3) {
      (_: Long, batch: Seq[(Long, Long, Long)], first0: Option[Long]) =>
        val out = mutable.ArrayBuffer.empty[ChunkRepeat]
        var first = first0.getOrElse(Long.MaxValue)
        batch.sortBy(r => (r._1, r._2)).foreach { case (doc, cid, _) =>
          if (first < doc) out += ChunkRepeat(doc, cid, first)
          else if (doc < first) first = doc
        }
        (first, out.iterator)
    }
  }

  /** Online PII scrub — the ingest-time twin of the batch x46 pass:
    * every arriving document leaves with its email/IPv4 counts and the
    * redacted text, via the same native one-pass
    * [[graft.ops.TextAnalysis.piiScan]] kernel. Completely STATELESS
    * (a pure per-row projection — no watermark, no state store, no
    * shuffle), so it rides any trigger at feed rate and composes in
    * front of the stateful detectors above: scrub first, dedup on the
    * scrubbed text.
    */
  def piiScrubbed(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val scan = graft.ops.TextAnalysis.piiScan(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      scan.getField("n_emails").as("n_emails"),
      scan.getField("n_ips").as("n_ips"),
      scan.getField("redacted").as("redacted"))
  }

  /** Online BPE token counting under a FROZEN learned merge list — the
    * streaming twin of batch x88's encode side (merges trained offline
    * via [[graft.ops.TextAnalysis.bpeLearnMerges]], each arriving
    * document's token count computed at feed rate, e.g. for live
    * token-budget accounting before packing).
    * [[graft.ops.TextAnalysis.bpeTokenCountLearned]] is a stateless
    * zero-shuffle projection chain (the merge list is a plan literal),
    * so it applies to a streaming frame verbatim: no state, no
    * watermark, any trigger.
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol), col(textCol),
      graft.ops.TextAnalysis.bpeTokenCountLearned(col(textCol), merges)
        .as("n_bpe_tokens"))

  /** Online HTML main-content extraction — the ingest-time twin of
    * batch x89 (strip boilerplate the moment a crawled page arrives,
    * before any downstream text op sees it). The
    * [[graft.ops.TextAnalysis.htmlMainContent]] kernel is one
    * stateless per-row projection, so it applies to a streaming frame
    * verbatim: no state, no watermark, any trigger.
    */
  def mainContent(docs: DataFrame, idCol: String, htmlCol: String)
      : DataFrame = {
    val ex = graft.ops.TextAnalysis.htmlMainContent(col(htmlCol))
    docs.select(col(idCol),
      ex.getField("n_blocks").as("n_blocks"),
      ex.getField("n_kept").as("n_kept"),
      ex.getField("main_text").as("main_text"))
  }

  /** Online ExactSubstr span flags against a FROZEN corpus — the
    * ingest-time half of batch x100 (an arriving document sharing any
    * `k`-token span with the existing corpus is by construction a
    * cross-document duplicate span: flag its spans before it enters
    * the training set). The static side is the corpus's distinct
    * md5-gram table (the x49/x100 portable key); the stream side's
    * [[graft.functions.SketchKernels.ngramMd5]] positions join
    * stream-static per micro-batch, and the per-document rollup —
    * span hits + distinct covered token positions (overlaps unioned,
    * the x100 contract) — runs in one keyed-state pass with the
    * standing atomic-arrival boolean guard ([[emitOnce]]: re-delivery
    * emits nothing).
    *
    * ATOMIC-ARRIVAL CONTRACT (explicit, like every keyed-state op in
    * this package): each document's full text arrives in ONE
    * micro-batch. A source that re-chunks a document across batches
    * would trip the emit-once guard — the later chunks' gram rows are
    * dropped and `n_spans`/`n_covered` silently undercount. If split
    * delivery is possible upstream, pre-assemble documents (or
    * accumulate positions in state and emit on an event-time
    * timeout/watermark instead of first-sight). The one-Boolean-per-
    * flagged-doc guard expires after `idleTtlMs` idle
    * ([[boundedDocState]]): exactly-once emission holds within the
    * retention window; a document re-delivered later re-emits.
    */
  def exactSubstrHits(docs: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      k: Int, idleTtlMs: Long = DefaultIdleTtlMs): Dataset[SpanHit] = {
    import docs.sparkSession.implicits._
    val corpusFp = corpus
      .select(explode(array_distinct(
        graft.functions.HashFunctions.ngramMd5(
          split(col(corpusTextCol), " ", -1), k))).as("fp"))
      .distinct()
    val spans = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.HashFunctions.ngramMd5(
          split(col(textCol), " ", -1), k)))
      .toDF("doc_id", "p", "fp")
      .join(corpusFp, "fp")
      .select(col("doc_id"), col("p"))
      .as[(Long, Int)]
    emitOnce(spans, idleTtlMs)(_._1) {
      (id: Long, batch: Seq[(Long, Int)]) =>
        val covered = batch.iterator.flatMap(r => r._2 until r._2 + k)
        SpanHit(id, batch.size.toLong, covered.toSet.size.toLong)
    }
  }

  /** Online URL canonicalization — the ingest-time half of batch x90
    * (the per-domain dedup/cap stays a batch op: it needs the corpus;
    * the canonical form and domain are pure per-row projections a feed
    * can stamp at arrival, e.g. to route by domain or pre-key a
    * downstream dedup).
    */
  def canonicalUrls(docs: DataFrame, idCol: String, urlCol: String)
      : DataFrame = {
    val canon = graft.ops.UrlCanon.canonicalizeUrl(col(urlCol))
    docs.select(col(idCol), col(urlCol),
      canon.as("canon_url"),
      graft.ops.UrlCanon.urlDomain(canon).as("domain"))
  }

  /** Online weighted reservoir — the ingest-time twin of batch x127,
    * and the shape Efraimidis–Spirakis was DESIGNED for (A-Res is a
    * reservoir algorithm): maintain the k smallest exponential keys
    * per stratum as documents arrive, so a weight-proportional
    * without-replacement sample is available at every instant without
    * a corpus pass. Keys come from [[graft.ops.Sampling.esKeyed]] —
    * the identical deterministic projection batch x127 ranks — so the
    * reservoir CONVERGES to the batch sample: after any prefix of
    * arrivals, state equals batch top-k over that prefix, regardless
    * of batching (keys are per-row pure; merging then truncating a
    * sorted bounded buffer is associative — StreamingSpec pins final
    * state ≡ batch x127 bit-for-bit).
    *
    * State per stratum is `(version, k slots)` — bounded, no
    * watermark needed (the one sanctioned `NoTimeout` in this object,
    * [[boundedDocState]]: STRATA are the bounded key dimension by
    * declaration, so the key population cannot grow with the corpus;
    * expiring a stratum would silently discard its reservoir).
    * Each update EMITS the stratum's full current reservoir stamped
    * with a monotone `version`; downstream keeps the max-version rows
    * per stratum (Update mode).
    */
  def weightedReservoir(docs: DataFrame, idCol: String,
      strataCol: String, weightCol: String, k: Int)
      : Dataset[ReservoirRow] = {
    import docs.sparkSession.implicits._
    graft.ops.Sampling.esKeyed(docs, idCol, strataCol, weightCol)
      .select(col(strataCol).cast("string").as("s"),
        col(idCol).cast("long").as("id"), col("weight"),
        col("key_units"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (s: String, rows: Iterator[(String, Long, Long, Long)],
            state: GroupState[(Long, Seq[(Long, Long, Long)])]) =>
          val (ver, cur) = state.getOption.getOrElse((0L, Seq.empty))
          val merged = (cur.iterator ++
              rows.map(r => (r._4, r._2, r._3)))
            .toSeq.sortBy(e => (e._1, e._2)).take(k)
          val nv = ver + 1
          state.update((nv, merged))
          merged.zipWithIndex.iterator.map { case ((key, id, w), i) =>
            ReservoirRow(s, id, w, key, (i + 1).toLong, nv)
          }
      }
  }

  /** ONLINE incremental-ingest near-dup pairs — the streaming twin of
    * [[graft.ops.Ingest.crossIngestPairs]] (batch x209) and the
    * continuous form of the x208–x210 ingest shape: arriving documents
    * stream in, the INGESTED corpus is a frozen static frame (the
    * standing hive tree), and each arrival is LSH-banded then
    * stream-static joined against the corpus' banded signatures, with
    * exact Jaccard verification inline. The corpus never pairs with
    * itself and never re-shuffles per batch — its banded+token side is
    * a static plan the engine re-reads per micro-batch (or caches).
    *
    * The stream side inlines the [[Dedup.bandedSignatures]] expansion
    * so the token set rides WITH the band keys: the batch path re-joins
    * tokens by id afterwards, but on a stream that re-join would be a
    * stream-stream self-join (watermark-bound, append-delayed); the
    * payload-carrying expansion keeps the whole pipeline one
    * stream-static join plus a per-pair re-delivery guard.
    *
    * A pair colliding in several bands produces several identical
    * verified rows; per-(new, seen) one-Boolean keyed state
    * ([[emitOnce]]) emits the first and swallows the rest (all of a
    * document's bands arrive in its own batch, so emission is not
    * delayed). State follows the [[boundedDocState]] contract:
    * `idleTtlMs` of arrival time, then the key is removed — a document
    * re-delivered past the retention re-emits its pairs, the standard
    * at-least-once tail. Recall per pair is the batch generator's
    * 1−(1−j^rows)^bands regardless of batching, since banding is
    * per-document.
    *
    * Returns `(new_id, seen_id, jaccard)` with `jaccard >= minJaccard`
    * exactly verified — assembled output, deduplicated, equals the
    * batch twin on the union of arrivals (StreamingSpec pins this from
    * the hive tree's arriving partition).
    */
  def ingestPairs(newDocs: DataFrame, seen: DataFrame, idCol: String,
      tokenSetCol: String, minJaccard: Double, numHashes: Int = 96,
      bands: Int = 24, idleTtlMs: Long = DefaultIdleTtlMs)
      : Dataset[IngestPair] = {
    import newDocs.sparkSession.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sb = Dedup.bandedSignatures(seen, idCol, tokenSetCol, numHashes,
        bands)
      .join(seen.select(col(idCol).as("id"),
        col(tokenSetCol).as("_sa")), "id")
      .select(col("band_id"), col("band_hash"),
        col("id").as("seen_id"), col("_sa"))
    val nb = newDocs
      .select(col(idCol).as("new_id"), col(tokenSetCol).as("_na"),
        graft.functions.HashFunctions.minhashSig(
          col(tokenSetCol), numHashes).as("sig"))
      .select(col("new_id"), col("_na"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1,
              lit(rowsPerBand))).as("band_hash")))).as("band"))
      .select(col("new_id"), col("_na"),
        col("band.band_id"), col("band.band_hash"))
    val verified = nb.join(sb, Seq("band_id", "band_hash"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        graft.functions.VectorFunctions.setJaccardSorted(
          col("_na"), col("_sa")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .as[(Long, Long, Double)]
    emitOnce(verified, idleTtlMs)(r => (r._1, r._2)) {
      (pair: (Long, Long), batch: Seq[(Long, Long, Double)]) =>
        IngestPair(pair._1, pair._2, batch.head._3)
    }
  }
}
