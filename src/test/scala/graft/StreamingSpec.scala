package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.streaming.{DocStreams, EventStreams, VecStreams}

/** Streaming batch-equivalence (SURVEY.md §2.3): the streaming tumbling
  * window over a file replay of `events` must equal the Q20 batch form
  * (which is itself DuckDB-oracle-checked), and streaming dedup must
  * collapse duplicate event_ids.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def replayDir(): String = {
    // re-write events as micros so readStream needs no nanos handling
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    Tables.load(spark, sf0001, "events")
      .withColumn("ts", $"ts".cast("timestamp")) // NTZ → instant (UTC session)
      .repartition(4) // several files → several "arrivals"
      .write.mode("overwrite").parquet(dir + "/in")
    dir + "/in"
  }

  test("streaming tumbling window equals Q20 batch aggregation") {
    val stream = EventStreams.readEventStream(spark, replayDir())
    val agg = EventStreams.tumblingCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_q20")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_q20")
        .select($"h".cast("timestamp").as("h"), $"event_type", $"n",
          $"sum_value_micros")
        .orderBy($"h", $"event_type")
        .collect().toSeq
      val batch = SparkEntry.queries("q20_tumbling_window")(spark, sf0001)
        .select($"h".cast("timestamp").as("h"), $"event_type", $"n",
          $"sum_value_micros")
        .orderBy($"h", $"event_type")
        .collect().toSeq
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("streaming sliding window equals batch sliding aggregation") {
    val stream = EventStreams.readEventStream(spark, replayDir())
    val q = EventStreams.slidingCounts(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_slide")
      .start()
    try {
      q.processAllAvailable()
      val cols = Seq($"w_start", $"w_end", $"event_type", $"n")
      val streamed = spark.table("stream_slide")
        .orderBy(cols: _*).collect().toSeq
      // same transform over the same rows as a batch DataFrame
      // (withWatermark is a no-op in batch execution)
      val batchIn = Tables.load(spark, sf0001, "events")
        .withColumn("ts", $"ts".cast("timestamp"))
      val batch = EventStreams.slidingCounts(batchIn)
        .orderBy(cols: _*).collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("streaming session window equals batch session aggregation") {
    val stream = EventStreams.readEventStream(spark, replayDir())
    val q = EventStreams.sessionCounts(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_session")
      .start()
    try {
      q.processAllAvailable()
      val cols = Seq($"user_id", $"s_start", $"s_end", $"n")
      val streamed = spark.table("stream_session")
        .orderBy(cols: _*).collect().toSeq
      val batchIn = Tables.load(spark, sf0001, "events")
        .withColumn("ts", $"ts".cast("timestamp"))
      val batch = EventStreams.sessionCounts(batchIn)
        .orderBy(cols: _*).collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("session window + watermark drops an event older than the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
      .toString + "/in"
    // 2024-01-01 10:00:00 UTC
    def ev(id: Long, minute: Int, user: Long) =
      (id, new java.sql.Timestamp(1704103200000L + minute * 60000L),
        user, "click", 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
      "props")
    // batch 1: a two-event session for user 7 (10:00, 10:05) plus an
    // event 2h later that advances the watermark to 11:30 (30-min delay)
    Seq(ev(1, 0, 7), ev(2, 5, 7), ev(3, 120, 8))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val q = EventStreams.sessionCounts(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_late").start()
    try {
      q.processAllAvailable() // watermark advances after this batch
      // batch 2: a LATE event at 10:07, far behind the 11:30 watermark —
      // it must be DROPPED, not merged into (or re-opening) the session
      Seq(ev(4, 7, 7)).toDF(cols: _*)
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val user7 = spark.table("stream_late").filter($"user_id" === 7L)
        .select($"n",
          unix_timestamp($"s_end") - unix_timestamp($"s_start"))
        .as[(Long, Long)].collect().toSeq
      // the finalized session counts only the 2 on-time events and spans
      // [10:00, 10:15) = 900 s (last event + 10-min gap); had the late
      // event been admitted it would read n=3 over 1020 s
      assert(user7 === Seq((2L, 900L)))
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join") {
    val dim = Tables.load(spark, sf0001, "events")
      .select($"user_id").distinct()
      .withColumn("tier", when($"user_id" % 3 === 0, "gold").otherwise("std"))
    val stream = EventStreams.readEventStream(spark, replayDir())
    val q = EventStreams.enrichedStream(stream, dim)
      .select($"event_id", $"user_id", $"tier")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_enriched")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_enriched")
        .orderBy($"event_id").collect().toSeq
      val batch = Tables.load(spark, sf0001, "events")
        .join(broadcast(dim), Seq("user_id"), "left")
        .select($"event_id", $"user_id", $"tier")
        .orderBy($"event_id").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries per-user totals across micro-batches") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1) // force several micro-batches
      .parquet(dir)
    val q = EventStreams.statefulUserTotals(stream)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("stream_state")
      .start()
    try {
      q.processAllAvailable()
      // update mode emits one row per user per touched batch; the final
      // state per user is the row with the highest running count
      val finals = spark.table("stream_state")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"sum_ids")).as("m"))
        .select($"user_id", $"m.n_events", $"m.sum_ids")
        .orderBy($"user_id").collect().toSeq
      val batch = Tables.load(spark, sf0001, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"event_id").as("sum_ids"))
        .orderBy($"user_id").collect().toSeq
      assert(finals.nonEmpty)
      assert(finals.map(_.toString) === batch.map(_.toString))
      // and state genuinely crossed batches: some user must have been
      // updated in more than one micro-batch
      val multi = spark.table("stream_state")
        .groupBy($"user_id").count().filter($"count" > 1).count()
      assert(multi > 0, "expected at least one user updated across batches")
    } finally q.stop()
  }

  test("retentionOnline final state aggregates to the batch x130 " +
      "matrix under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.retentionOnline(stream)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("stream_retention")
      .start()
    try {
      q.processAllAvailable()
      // keep each user's max-version emission set, then aggregate to
      // the (cohort, offset) matrix
      val emitted = spark.table("stream_retention")
      // max-version rows per user via a window (a self-join on the
      // memory-sink view trips conflicting-reference resolution)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      val finalMatrix = latest
        .groupBy($"cohort_day", $"day_offset")
        .agg(count(lit(1)).as("n_users"))
        .as[(Long, Long, Long)].collect().toSet
      // batch x130 over the same events, with cohort in epoch days
      val batch = graft.ops.EventAnalytics.retentionCohorts(
          Tables.load(spark, sf0001, "events"), "user_id", "ts")
        .select(
          (unix_timestamp($"cohort_date") / 86400L).cast("long")
            .as("cohort_day"),
          $"day_offset", $"n_users")
        .as[(Long, Long, Long)].collect().toSet
      assert(finalMatrix.nonEmpty)
      assert(finalMatrix === batch)
      // state genuinely crossed micro-batches
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v"))
        .filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("funnelOnline final state aggregates to the batch x135 step " +
      "counts under forced multi-batch replay") {
    val steps = Seq("signup", "view", "click", "purchase")
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.funnelOnline(stream, steps)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_funnel").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_funnel")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .select($"user_id", $"version", $"max_step")
        .as[(Long, Long, Long)].collect()
      // counts per step from the final states
      val streamCounts = steps.indices.map(i =>
        latest.count(_._3 >= i + 1).toLong)
      val batch = graft.ops.EventAnalytics.funnelReport(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_type", steps)
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
        .map(_._3).toSeq
      assert(streamCounts === batch)
      assert(streamCounts.head > 0L)
      // state genuinely crossed micro-batches
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("interArrivalOnline final state aggregates to the batch x142 " +
      "spectrum under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.interArrivalOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_spectrum").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_spectrum")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      val streamSpectrum = latest
        .groupBy($"event_type", $"bucket")
        .agg(sum($"n").as("n"))
        .as[(String, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.interArrivalSpectrum(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .select($"event_type", $"bucket", $"n")
        .as[(String, Long, Long)].collect().toSet
      assert(streamSpectrum.nonEmpty)
      assert(streamSpectrum === batch)
      // state genuinely crossed micro-batches
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("transitionsOnline final state aggregates to the batch x138 " +
      "matrix (counts AND p_micros) under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.transitionsOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_transitions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_transitions")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      // assemble the published report: sum per pair, then the batch
      // op's own exact BIGINT row normalization
      val wrow = org.apache.spark.sql.expressions.Window
        .partitionBy($"from_type")
      val assembled = latest
        .groupBy($"from_type", $"to_type")
        .agg(sum($"n").as("n"))
        .withColumn("_tot", sum($"n").over(wrow))
        .select($"from_type", $"to_type", $"n",
          expr("(n * 1000000) div _tot").as("p_micros"))
        .as[(String, String, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.transitionReport(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, String, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      // the same final rows also assemble batch x161's entropy report
      // (sum per pair → the x149 quantization chain) — one stream
      // serves both published gauges
      val entropy = latest
        .groupBy($"from_type", $"to_type")
        .agg(sum($"n").as("_c"))
        .withColumn("_q", floor($"_c".cast("double") *
          log($"_c".cast("double")) * 1e6 + 0.5).cast("long"))
        .groupBy($"from_type")
        .agg(sum($"_c").as("n"), sum($"_q").as("_qs"))
        .withColumn("_hn", floor($"n".cast("double") *
          log($"n".cast("double")) * 1e6 + 0.5).cast("long"))
        .select($"from_type", $"n",
          expr("greatest(_hn - _qs, 0L) div n").as("entropy_micros"))
        .as[(String, Long, Long)].collect().toSet
      val batchEntropy = graft.ops.EventAnalytics.transitionEntropy(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, Long, Long)].collect().toSet
      assert(entropy === batchEntropy)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("activeDaysOnline final state assembles to the batch x141 " +
      "DAU/WAU/MAU report under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.activeDaysOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_activedays").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_activedays")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      // final rows ARE the (user, day) activity table — rebuild a
      // day-resolution event frame and run the batch derivation on it
      val activity = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .select($"user_id",
          ($"day" * 86400L).cast("timestamp").as("ts"))
      // day publishes NTZ on the batch path and instant on the
      // rebuilt one — normalize both to epoch days for the compare
      def epochDays(df: org.apache.spark.sql.DataFrame) = df
        .select((unix_timestamp($"day") / 86400L).cast("long").as("d"),
          $"dau", $"wau", $"mau", $"stickiness_micros")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val assembled = epochDays(graft.ops.EventAnalytics
        .activeUsersReport(activity, "user_id", "ts"))
      val batch = epochDays(graft.ops.EventAnalytics.activeUsersReport(
        Tables.load(spark, sf0001, "events"), "user_id", "ts"))
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("sessionStatsOnline final state assembles to the batch x152 " +
      "distribution under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.sessionStatsOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_sessions")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      val dist = latest.groupBy($"n_events")
        .agg(sum($"n_sessions").as("n_sessions"),
          sum($"sum_duration_us").as("sum_duration_us"))
      val total = dist.agg(sum($"n_sessions").as("_tot"))
      val assembled = dist.crossJoin(broadcast(total))
        .select($"n_events", $"n_sessions", $"sum_duration_us",
          expr("(n_sessions * 1000000) div _tot").as("p_micros"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.sessionStats(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("bounceOnline final state assembles to the batch x192 bounce " +
      "table under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.bounceOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_bounce").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_bounce")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      // the batch op's own publish tail over the assembled partials
      val assembled = graft.ops.EventAnalytics.bouncePublish(
          latest.select($"entry_type", $"n_sessions".as("_n"),
            $"n_bounce".as("_b")))
        .as[(String, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.bounceRate(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("activeWeeksOnline final state assembles to the batch x195 " +
      "growth ledger under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.activeWeeksOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_weeks").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_weeks")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      // the kept rows ARE the distinct (user, week) frame; the batch
      // op's own ledger arithmetic publishes from it
      val assembled = graft.ops.EventAnalytics.growthLedger(
          latest.select($"user_id".as("_u"),
            timestamp_micros($"week_us").as("_w")).distinct())
        .select(unix_micros($"week").as("week_us"), $"n_active",
          $"n_new", $"n_retained", $"n_resurrected", $"n_churned_next")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.growthAccounting(
          Tables.load(spark, sf0001, "events"), "user_id", "ts")
        .select(unix_micros($"week").as("week_us"), $"n_active",
          $"n_new", $"n_retained", $"n_resurrected", $"n_churned_next")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("sub-second event-time ordering: transitionsOnline and " +
      "interArrivalOnline match batch when siblings share a second " +
      "(the r14 second-truncated sort-key divergence)") {
    import java.sql.Timestamp
    // one user, three events inside the same second plus one later:
    // full-precision order is (A .100, B .400, C .900, D +5s) but id
    // order disagrees with sub-second time order — a second-truncated
    // sort key would attribute gaps to the wrong from_type
    val rows = Seq(
      (3L, Timestamp.valueOf("2024-01-01 00:00:10.1"), 1L, "A", 0.0, ""),
      (1L, Timestamp.valueOf("2024-01-01 00:00:10.4"), 1L, "B", 0.0, ""),
      (2L, Timestamp.valueOf("2024-01-01 00:00:10.9"), 1L, "C", 0.0, ""),
      (4L, Timestamp.valueOf("2024-01-01 00:00:15.0"), 1L, "D", 0.0, ""))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val batchT = graft.ops.EventAnalytics.transitionReport(
        events, "user_id", "ts", "event_id", "event_type")
      .select($"from_type", $"to_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(batchT === Set(("A", "B", 1L), ("B", "C", 1L),
      ("C", "D", 1L)), s"batch order not full-precision: $batchT")
    // one-shot batch-mode run of both stateful twins
    val onlineT = EventStreams.transitionsOnline(events)
      .collect().map(r => (r.from_type, r.to_type, r.n)).toSet
    assert(onlineT === batchT,
      s"transitionsOnline diverged on sub-second siblings: $onlineT")
    val batchS = graft.ops.EventAnalytics.interArrivalSpectrum(
        events, "user_id", "ts", "event_id", "event_type")
      .select($"event_type", $"bucket", $"n")
      .as[(String, Long, Long)].collect().toSet
    val onlineS = EventStreams.interArrivalOnline(events)
      .collect().map(r => (r.event_type, r.bucket, r.n)).toSet
    assert(onlineS === batchS,
      s"interArrivalOnline diverged on sub-second siblings: $onlineS")
    // the C→D gap is 5 truncated seconds → bucket 3; the same-second
    // gaps land in bucket 0 under A and B
    assert(batchS === Set(("A", 0L, 1L), ("B", 0L, 1L), ("C", 3L, 1L)))
  }

  test("funnelOnline handles OUT-OF-ORDER arrivals: a late step-1 " +
      "event re-folds the whole funnel and supersedes prior emissions") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files
      .createTempDirectory("graft-funnel-ooo").toString + "/in"
    def write(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val df = rows.zipWithIndex.map { case ((u, t, et), i) =>
        (u * 1000 + i, Timestamp.valueOf(t), u, et, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
    // batch 1: user 1 does B then C — no A yet, so max_step stays 0
    write("b1", Seq(
      (1L, "2024-01-05 10:00:00", "B"), (1L, "2024-01-05 11:00:00", "C")))
    // batch 2: the LATE A arrives BEFORE both — the fold cascades to 3
    write("b2", Seq((1L, "2024-01-05 09:00:00", "A")))
    val f1 = new java.io.File(s"$dir/b1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/b2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f2.setLastModified(f1.lastModified() + 60000)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(s"$dir/*")
    val q = EventStreams.funnelOnline(stream, Seq("A", "B", "C"))
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_funnel_ooo").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("stream_funnel_ooo")
        .as[(Long, Long, Long)].collect().sortBy(_._2)
      assert(rows.map(_._2).toSeq === Seq(1L, 2L))
      assert(rows.map(_._3).toSeq === Seq(0L, 3L),
        s"expected the late step-1 cascade 0 -> 3, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("retentionOnline handles OUT-OF-ORDER arrivals: a late earlier " +
      "day re-cohorts the user and supersedes prior emissions") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files
      .createTempDirectory("graft-retention-ooo").toString + "/in"
    def write(name: String, rows: Seq[(Long, String)]): Unit = {
      val df = rows.map { case (u, t) =>
        (u * 1000, Timestamp.valueOf(t), u, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
    // batch 1: user 1 seen on day 5 (cohort provisionally day 5)
    write("b1", Seq((1L, "2024-01-05 10:00:00")))
    // batch 2: the LATE day-2 event arrives — true cohort is day 2
    write("b2", Seq((1L, "2024-01-02 09:00:00")))
    // order the file-stream by mtime: b2 strictly later
    val f1 = new java.io.File(s"$dir/b1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f2 = new java.io.File(s"$dir/b2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f2.setLastModified(f1.lastModified() + 60000)
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(s"$dir/*")
    val q = EventStreams.retentionOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_retention_ooo").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("stream_retention_ooo")
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._2, r._4))
      // two emissions happened (state crossed batches)
      assert(rows.map(_._2).distinct.sorted === Seq(1L, 2L))
      // final (max-version) rows: cohort moved to day 2, offsets {0, 3}
      val fin = rows.filter(_._2 == 2L)
      val day = (d: String) =>
        Timestamp.valueOf(d + " 00:00:00").getTime / 86400000L
      assert(fin.map(r => (r._3, r._4)).toSet ===
        Set((day("2024-01-02"), 0L), (day("2024-01-02"), 3L)),
        s"final emissions wrong: ${fin.toSeq}")
      // the superseded version-1 row carried the provisional cohort
      assert(rows.filter(_._2 == 1L).map(r => (r._3, r._4)).toSet ===
        Set((day("2024-01-05"), 0L)))
    } finally q.stop()
  }

  test("conversionLagOnline final state assembles to the batch x158 " +
      "spectrum under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.conversionLagOnline(stream, "purchase")
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_lag").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_lag")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .filter($"bucket" >= 0L)
        .select($"bucket")
      val assembled = graft.ops.EventAnalytics
        .lagSpectrumPublish(latest)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.conversionLagSpectrum(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_type", target = "purchase")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      // state genuinely crossed micro-batches
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("transitionsOnline final state assembles to the batch x161 " +
      "transition entropy (the shared matrix reduction)") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.transitionsOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_trans_ent").start()
    try {
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val matrix = spark.table("stream_trans_ent")
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .groupBy($"from_type", $"to_type")
        .agg(sum($"n").as("n"))
      val assembled = graft.ops.EventAnalytics
        .transitionEntropyFromMatrix(matrix)
        .as[(String, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.transitionEntropy(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
    } finally q.stop()
  }

  test("entryTypeOnline final state assembles to the batch x162 lift " +
      "table under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.entryTypeOnline(stream, "purchase")
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_entry").start()
    try {
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = spark.table("stream_entry")
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .select($"entry_type", $"converted".as("_conv"))
      val assembled = graft.ops.EventAnalytics.entryLiftPublish(latest)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.entryTypeLift(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type", target = "purchase")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
    } finally q.stop()
  }

  test("r16 bounded state: the per-user history cap trims the OLDEST " +
      "events (interArrivalOnline, maxEventsPerUser = 3)") {
    import java.sql.Timestamp
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams
      .interArrivalOnline(events, maxEventsPerUser = 3)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_cap").start()
    // user 1, type E, gaps 1 s / 1 s / 2 s / 4 s — uncapped buckets
    // {1:2, 2:1, 3:1}; with the newest 3 events kept, only the 2 s
    // and 4 s gaps survive
    def ev(id: Long, t: String) =
      (id, Timestamp.valueOf(t), 1L, "E", 1.0, "{}")
    try {
      ms.addData(
        ev(1, "2024-01-05 10:00:00"), ev(2, "2024-01-05 10:00:01"),
        ev(3, "2024-01-05 10:00:02"), ev(4, "2024-01-05 10:00:04"),
        ev(5, "2024-01-05 10:00:08"))
      q.processAllAvailable()
      val rows = spark.table("stream_cap")
        .as[(Long, Long, String, Long, Long)].collect()
      val maxV = rows.map(_._2).max
      val latest = rows.filter(_._2 == maxV)
        .map(r => (r._3, r._4, r._5)).toSet
      assert(latest === Set(("E", 2L, 1L), ("E", 3L, 1L)),
        s"capped spectrum wrong: $latest")
    } finally q.stop()
  }

  test("r16 bounded state: idle collapse drops a user's history at " +
      "the event-time TTL but keeps the version monotone " +
      "(transitionsOnline)") {
    import java.sql.Timestamp
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // tight deployment bounds: 1-minute disorder, 30-day idle horizon
    val q = EventStreams.transitionsOnline(events,
        watermarkDelay = "1 minute",
        idleTtlUs = 30L * 86400L * 1000000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_idle").start()
    def ev(id: Long, t: String, u: Long, et: String) =
      (id, Timestamp.valueOf(t), u, et, 1.0, "{}")
    try {
      // batch 1: user 1 walks X -> Y -> Z (v1: pairs XY, YZ)
      ms.addData(ev(1, "2024-01-05 10:00:00", 1L, "X"),
        ev(2, "2024-01-05 10:00:01", 1L, "Y"),
        ev(3, "2024-01-05 10:00:02", 1L, "Z"))
      q.processAllAvailable()
      // batch 2: user 2 far in the future — advances the watermark
      // past user 1's (last event + TTL)
      ms.addData(ev(10, "2024-07-25 10:00:00", 2L, "X"))
      q.processAllAvailable()
      // batch 3: the timeout fires against batch 2's watermark —
      // user 1's history collapses (no emission)
      ms.addData(ev(11, "2024-07-25 11:00:00", 2L, "Y"))
      q.processAllAvailable()
      // batch 4: user 1 returns with P -> Q
      ms.addData(ev(20, "2024-07-26 10:00:00", 1L, "P"),
        ev(21, "2024-07-26 10:00:01", 1L, "Q"))
      q.processAllAvailable()
      val rows = spark.table("stream_idle")
        .filter($"user_id" === 1L)
        .as[(Long, Long, String, String, Long)].collect()
      val maxV = rows.map(_._2).max
      val latest = rows.filter(_._2 == maxV)
        .map(r => (r._3, r._4, r._5)).toSet
      // post-return emission covers POST-RETURN history only: no
      // Z -> P pair across the idle horizon, no stale X/Y/Z pairs
      assert(latest === Set(("P", "Q", 1L)),
        s"post-collapse matrix wrong: $latest")
      // and the version stayed monotone (supersede still works)
      val v1 = rows.filter(_._2 < maxV)
      assert(v1.nonEmpty && v1.map(_._2).max < maxV)
      assert(rows.filter(_._2 == 1L).map(r => (r._3, r._4)).toSet ===
        Set(("X", "Y"), ("Y", "Z")))
    } finally q.stop()
  }

  test("r17 bounded state: retentionOnline collapses the day set at " +
      "the TTL but the cohort day survives into post-return emissions") {
    import java.sql.Timestamp
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.retentionOnline(events,
        watermarkDelay = "1 minute",
        idleTtlUs = 30L * 86400L * 1000000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_ret_idle").start()
    def ev(id: Long, t: String, u: Long) =
      (id, Timestamp.valueOf(t), u, "view", 1.0, "{}")
    try {
      // batch 1: user 1 active on Jan 5 and Jan 6 (v1: offsets 0, 1)
      ms.addData(ev(1, "2024-01-05 10:00:00", 1L),
        ev(2, "2024-01-06 10:00:00", 1L))
      q.processAllAvailable()
      // batches 2+3: user 2 far in the future advances the watermark
      // past user 1's last event + TTL; the second batch fires the
      // timeout (day set collapses, NO emission for user 1)
      ms.addData(ev(10, "2024-07-25 10:00:00", 2L))
      q.processAllAvailable()
      ms.addData(ev(11, "2024-07-25 11:00:00", 2L))
      q.processAllAvailable()
      // batch 4: user 1 returns on Jul 26
      ms.addData(ev(20, "2024-07-26 10:00:00", 1L))
      q.processAllAvailable()
      val rows = spark.table("stream_ret_idle")
        .filter($"user_id" === 1L)
        .as[(Long, Long, Long, Long)].collect()
      val maxV = rows.map(_._2).max
      val v1 = rows.filter(_._2 == 1L)
      val latest = rows.filter(_._2 == maxV)
      assert(maxV > 1L, "post-return emission must supersede (version)")
      assert(v1.map(_._4).toSet === Set(0L, 1L),
        s"v1 offsets wrong: ${v1.mkString(",")}")
      // the collapse dropped Jan 5/6 from the retained set, but the
      // COHORT survived: the post-return row publishes Jul 26 against
      // the ORIGINAL Jan 5 cohort day
      val cohort = v1.head._3
      val julOffset =
        java.time.LocalDate.of(2024, 7, 26).toEpochDay -
          java.time.LocalDate.of(2024, 1, 5).toEpochDay
      assert(latest.map(r => (r._3, r._4)).toSet ===
        Set((cohort, julOffset)),
        s"post-return rows wrong: ${latest.mkString(",")}")
    } finally q.stop()
  }

  test("r17 bounded state: conversionLagOnline removes an idle key at " +
      "the 2xTTL horizon (single-phase O(1) contract)") {
    import java.sql.Timestamp
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.conversionLagOnline(events, "purchase",
        watermarkDelay = "1 minute",
        idleTtlUs = 15L * 86400L * 1000000L) // 2xTTL = 30 days
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_lag_idle").start()
    def ev(id: Long, t: String, u: Long, et: String) =
      (id, Timestamp.valueOf(t), u, et, 1.0, "{}")
    try {
      // batch 1: user 1 converts (v1, bucket >= 0)
      ms.addData(ev(1, "2024-01-05 10:00:00", 1L, "view"),
        ev(2, "2024-01-05 10:30:00", 1L, "purchase"))
      q.processAllAvailable()
      // batches 2+3: watermark sails past last event + 2xTTL; the
      // timeout REMOVES user 1 outright (no emission)
      ms.addData(ev(10, "2024-07-25 10:00:00", 2L, "view"))
      q.processAllAvailable()
      ms.addData(ev(11, "2024-07-25 11:00:00", 2L, "view"))
      q.processAllAvailable()
      // batch 4: user 1 returns unconverted — version RESTARTS at 1
      // (the key was removed; downstream treats rows older than 2xTTL
      // as expired per the boundedStateDoc contract)
      ms.addData(ev(20, "2024-07-26 10:00:00", 1L, "view"))
      q.processAllAvailable()
      val rows = spark.table("stream_lag_idle")
        .filter($"user_id" === 1L)
        .as[(Long, Long, Long)].collect()
      assert(rows.map(_._2).max === 1L,
        s"expected version restart at 1 after removal: ${rows.mkString(",")}")
      assert(rows.exists(r => r._2 == 1L && r._3 >= 0L),
        "pre-idle converted emission missing")
      assert(rows.map(r => (r._2, r._3)).toSet.contains((1L, -1L)),
        "post-return not-yet-converted emission missing")
    } finally q.stop()
  }

  test("bounded state: a history key idle for TWO horizons is removed " +
      "and a returning user restarts at version 1 (sessionStatsOnline)") {
    import java.sql.Timestamp
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.sessionStatsOnline(events,
        watermarkDelay = "1 minute",
        idleTtlUs = 30L * 86400L * 1000000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_sess_idle").start()
    def ev(id: Long, t: String, u: Long) =
      (id, Timestamp.valueOf(t), u, "view", 1.0, "{}")
    def stateRows(): Long =
      q.lastProgress.stateOperators.head.numRowsTotal
    try {
      // batch 1: user 1 opens one 2-event, 30 s session (v1)
      ms.addData(ev(1, "2024-01-05 10:00:00", 1L),
        ev(2, "2024-01-05 10:00:30", 1L))
      q.processAllAvailable()
      // batches 2+3: user 2 far in the future moves the watermark past
      // user 1's last event + TTL — the FIRST horizon: collapse, the
      // key (and its version counter) stays
      ms.addData(ev(10, "2024-07-25 10:00:00", 2L))
      q.processAllAvailable()
      ms.addData(ev(11, "2024-07-25 11:00:00", 2L))
      q.processAllAvailable()
      assert(stateRows() === 2L, "collapse must keep user 1's key")
      // batches 4+5: the watermark passes the collapse + TTL — the
      // SECOND horizon: user 1's key is removed outright
      ms.addData(ev(20, "2024-12-01 10:00:00", 2L))
      q.processAllAvailable()
      ms.addData(ev(21, "2024-12-01 11:00:00", 2L))
      q.processAllAvailable()
      assert(stateRows() === 1L, "user 1's key must be removed")
      // batch 6: user 1 returns with one event
      ms.addData(ev(30, "2024-12-02 10:00:00", 1L))
      q.processAllAvailable()
      val rows = spark.table("stream_sess_idle")
        .filter($"user_id" === 1L)
        .as[(Long, Long, Long, Long, Long)].collect()
      // a collapsed-but-kept key would publish version 2 here
      assert(rows.map(_._2).max === 1L,
        s"expected version restart at 1 after removal: ${rows.mkString(",")}")
      assert(rows.map(r => (r._2, r._3, r._4, r._5)).toSet ===
        Set((1L, 2L, 1L, 30000000L), (1L, 1L, 1L, 0L)),
        s"pre-idle / post-return emissions wrong: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming LSH candidates equal the batch generator, any batching") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(120).cache()
    val withTok = docs.withColumn("tok", Dedup.tokenSet($"text"))
    val batchPairs = Dedup.lshCandidatePairs(withTok, "doc_id", "tok")
      .as[(Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty)
    // batch-mode run of the same stateful function: one empty-state pass
    val oneShot = DocStreams.nearDupCandidates(withTok, "doc_id", "tok",
        maxBucket = 1 << 20)
      .collect().map(p => (p.a_id, p.b_id)).toSet
    assert(oneShot === batchPairs)
    // replayed as several micro-batches: the union of incremental
    // emissions must still be exactly the batch candidate set
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir + "/in")
      .withColumn("tok", Dedup.tokenSet($"text"))
    val q = DocStreams.nearDupCandidates(stream, "doc_id", "tok",
        maxBucket = 1 << 20)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_neardup")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_neardup")
        .as[(Long, Long)].collect().toSet
      assert(streamed === batchPairs)
    } finally q.stop()
  }

  test("bucket cap bounds state; arrivals still pair with retained members") {
    // 5 identical docs share every bucket; cap 2 retains two members per
    // bucket, so the 3 overflow docs each pair with exactly the 2
    // retained ones: 1 retained-retained pair + 3×2 = 7 pairs, and the
    // 3 overflow-overflow pairs are the (documented) recall cost
    val five = (1L to 5L).map(i => (i, "x y z")).toDF("doc_id", "text")
      .coalesce(1)
      .withColumn("tok", Dedup.tokenSet($"text"))
    val pairs = DocStreams.nearDupCandidates(five, "doc_id", "tok",
        maxBucket = 2)
      .collect().map(p => (p.a_id, p.b_id)).toSet
    assert(pairs.size === 7, s"got $pairs")
    val full = DocStreams.nearDupCandidates(five, "doc_id", "tok")
      .collect().map(p => (p.a_id, p.b_id)).toSet
    assert(full.size === 10 && pairs.subsetOf(full))
  }

  test("streaming vector-dedup candidates equal the batch bucket pairs") {
    val emb = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").limit(200).cache()
    // batch comparator: ALL within-bucket unordered pairs under the
    // same srpBucket partition the batch x79 generator uses
    val buckets = emb.select($"vec_id",
      graft.ops.Similarity.srpBucket($"embedding", 8).as("bucket"))
    val batchPairs = buckets.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"))
      .as[(Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty)
    val oneShot = VecStreams.semanticDedupCandidates(emb, "vec_id",
        "embedding", maxBucket = 1 << 20)
      .collect().map(p => (p.a_id, p.b_id)).toSet
    assert(oneShot === batchPairs)
    // replayed as micro-batches: incremental emissions union to exactly
    // the batch pair set, and a full re-delivery emits nothing new
    val dir = java.nio.file.Files.createTempDirectory("graft-vecs").toString
    emb.repartition(4).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir + "/in")
    val q = VecStreams.semanticDedupCandidates(stream, "vec_id",
        "embedding", maxBucket = 1 << 20)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_vecdedup")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_vecdedup")
        .as[(Long, Long)].collect().toSet === batchPairs)
      emb.write.mode("append").parquet(dir + "/in")
      q.processAllAvailable()
      assert(spark.table("stream_vecdedup").count() === batchPairs.size,
        "re-delivered vectors emitted duplicate candidate pairs")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses replayed event_ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val ev = Tables.load(spark, sf0001, "events")
      .withColumn("ts", $"ts".cast("timestamp"))
    ev.union(ev).write.mode("overwrite").parquet(dir + "/in")
    val deduped = EventStreams.dedupedStream(
      EventStreams.readEventStream(spark, dir + "/in"))
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dedup")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_dedup").count() === ev.count())
    } finally q.stop()
  }

  test("online repeated-chunk flags equal the batch min-doc predicate") {
    // chunkSize=2: "b1 b2" is boilerplate carried by docs 1, 3 and 5;
    // "c1 c2" repeats WITHIN doc 2 only (never flagged); doc 4 is clean
    val docs = Seq(
      (1L, "b1 b2 u1 u2"),
      (2L, "c1 c2 c1 c2"),
      (3L, "v1 v2 b1 b2"),
      (4L, "w1 w2 w3 w4"),
      (5L, "b1 b2 x1 x2")).toDF("doc_id", "text")
    // batch truth: an instance is boilerplate iff its chunk's min doc id
    // is smaller than its own doc id
    val expected = Set((3L, 1L, 1L), (5L, 0L, 1L))
    val oneShot = DocStreams.repeatedChunkFlags(docs, "doc_id", "text", 2)
      .collect().map(r => (r.doc_id, r.chunk_id, r.first_id)).toSet
    assert(oneShot === expected)
    // replayed as id-ordered micro-batches: same flags, incrementally
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = DocStreams.repeatedChunkFlags(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 2)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_chunks")
      .start()
    try {
      ms.addData((1L, "b1 b2 u1 u2"), (2L, "c1 c2 c1 c2"))
      q.processAllAvailable()
      ms.addData((3L, "v1 v2 b1 b2"), (4L, "w1 w2 w3 w4"))
      q.processAllAvailable()
      ms.addData((5L, "b1 b2 x1 x2"))
      q.processAllAvailable()
      val streamed = spark.table("stream_chunks")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("online PII scrub equals the batch kernel outputs, per micro-batch") {
    val rows = Seq(
      (1L, "mail bob+x%y@sub.example.org via 10.1.0.250 ok"),
      (2L, "no pii here at all"),
      (3L, "two a@b.co c@d.io and ip 192.168.0.1 plus 1.2.3.4"))
    val batch = graft.streaming.DocStreams.piiScrubbed(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSet
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocStreams.piiScrubbed(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_pii")
      .start()
    try {
      ms.addData(rows(0), rows(1))
      q.processAllAvailable()
      ms.addData(rows(2))
      q.processAllAvailable()
      val streamed = spark.table("stream_pii")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(streamed === batch)
      assert(batch.map(t => t._1 -> ((t._2, t._3))).toMap ===
        Map(1L -> ((1L, 1L)), 2L -> ((0L, 0L)), 3L -> ((2L, 2L))))
    } finally q.stop()
  }

  test("online DSIR scores against a frozen model equal the batch aggregate") {
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"source").limit(60).cache()
    val model = graft.ops.Sampling.dsirModel(corpus, "doc_id", "text",
      $"source" === "src0", 16)
    val expected = graft.ops.Sampling.dsirWeights(corpus, "doc_id", "text",
        $"source" === "src0", 16)
      .select("doc_id", "n_bigrams", "logw")
      .as[(Long, Long, Double)].collect().toSet
    val rows = corpus.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.ops.Sampling.dsirScore(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dsir")
      .start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_dsir")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === expected)
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online language ID against a frozen model equals the batch projection") {
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"lang", $"text").limit(60).cache()
    val model = graft.ops.TextAnalysis.langTrigramModel(
      corpus, "lang", "text", 32)
    val expected = graft.ops.TextAnalysis.langIdScore(
        corpus, "doc_id", "text", model)
      .as[(Long, String, Long, Double)].collect().toSet
    val rows = corpus.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.ops.TextAnalysis.langIdScore(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_langid")
      .start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_langid")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed === expected)
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online blocklist gate equals the batch x99 projection") {
    val pats = Seq("slow table", "dup", "zzz")
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
      .limit(60).cache()
    val expected = graft.ops.TextAnalysis.blocklistFilter(
        corpus, "doc_id", "text", pats)
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.exists(_._2 > 0L)) // the gate fires on the fixture
    val rows = corpus.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.ops.TextAnalysis.blocklistFilter(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", pats)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_blocklist")
      .start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_blocklist")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === expected)
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online ExactSubstr span flags equal the batch join + rollup") {
    val k = 5
    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull).cache()
    val corpus = all.filter($"doc_id" < 40L)
    val arriving = all.filter($"doc_id" >= 40L)
    // batch expectation: the same stream-static join, rolled up locally
    // with the identical span-union arithmetic
    val corpusFp = corpus.select(explode(array_distinct(
        graft.functions.HashFunctions.ngramMd5(
          split($"text", " ", -1), k))).as("fp")).distinct()
    val hits = arriving.select($"doc_id",
        posexplode(graft.functions.HashFunctions.ngramMd5(
          split($"text", " ", -1), k)))
      .toDF("doc_id", "p", "fp")
      .join(corpusFp, "fp")
      .select($"doc_id", $"p").as[(Long, Int)].collect()
    assert(hits.nonEmpty) // the fixture shares spans across the split
    val expected = hits.groupBy(_._1).map { case (id, rows) =>
      val covered = rows.flatMap(r => r._2 until r._2 + k).distinct
      (id, rows.length.toLong, covered.length.toLong)
    }.toSet
    val rows = arriving.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocStreams.exactSubstrHits(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        corpus, "doc_id", "text", k)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_exact_substr")
      .start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_exact_substr")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === expected)
    } finally {
      q.stop()
      all.unpersist()
    }
  }

  test("online BPE token counts under frozen merges equal the batch projection") {
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
      .limit(60).cache()
    val merges = graft.ops.TextAnalysis.bpeLearnMerges(corpus, "text", k = 8)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val expected = corpus.select($"doc_id", $"text",
        graft.ops.TextAnalysis.bpeTokenCountLearned($"text", merges)
          .as("n_bpe_tokens"))
      .as[(Long, String, Long)].collect().toSet
    val rows = corpus.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DocStreams.bpeTokenCounts(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_bpe")
      .start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_bpe")
        .as[(Long, String, Long)].collect().toSet
      assert(streamed === expected)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online CCNet gate equals the batch terciles under frozen cutoffs") {
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(60)
      .select($"doc_id", $"text", $"lang").cache()
    val model = graft.ops.TextAnalysis.lmModel(corpus, "doc_id", "text")
    try {
      val cutoffs = graft.ops.TextAnalysis.ccnetCutoffs(
        corpus, "doc_id", "text", "lang")
      assert(cutoffs.nonEmpty)
      cutoffs.values.foreach { case (c1, c2) => assert(c1 <= c2) }
      val expected = graft.ops.TextAnalysis.ccnetBuckets(
          corpus, "doc_id", "text", "lang")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSet
      val rows = corpus.as[(Long, String, String)].collect().toSeq
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)](spark)
      val stream = ms.toDF().toDF("doc_id", "text", "lang")
      val q = graft.streaming.DocStreams.ccnetGate(
          stream, "doc_id", "text", "lang", model, cutoffs)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_ccnet").start()
      try {
        val (h, t) = rows.splitAt(rows.size / 2)
        ms.addData(h: _*)
        q.processAllAvailable()
        ms.addData(t: _*)
        q.processAllAvailable()
        val got = spark.table("stream_ccnet")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getDouble(3), r.getString(4))).toSet
        assert(got === expected)
        assert(got.nonEmpty)
      } finally q.stop()
    } finally {
      model.release()
      corpus.unpersist()
    }
  }

  test("online trigram-KN CCNet gate equals the batch x115 terciles " +
      "under frozen cutoffs") {
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(60)
      .select($"doc_id", $"text", $"lang").cache()
    val model = graft.ops.TextAnalysis.kn3Model(corpus, "doc_id", "text")
    try {
      val cutoffs = graft.ops.TextAnalysis.ccnetCutoffsKn3(
        corpus, "doc_id", "text", "lang")
      assert(cutoffs.nonEmpty)
      cutoffs.values.foreach { case (c1, c2) => assert(c1 <= c2) }
      val expected = graft.ops.TextAnalysis.ccnetBucketsKn3(
          corpus, "doc_id", "text", "lang")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSet
      val rows = corpus.as[(Long, String, String)].collect().toSeq
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)](spark)
      val stream = ms.toDF().toDF("doc_id", "text", "lang")
      val q = graft.streaming.DocStreams.kn3Gate(
          stream, "doc_id", "text", "lang", model, cutoffs)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_kn3gate").start()
      try {
        val (h, t) = rows.splitAt(rows.size / 2)
        ms.addData(h: _*)
        q.processAllAvailable()
        ms.addData(t: _*)
        q.processAllAvailable()
        val got = spark.table("stream_kn3gate")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getDouble(3), r.getString(4))).toSet
        assert(got === expected)
        assert(got.nonEmpty)
      } finally q.stop()
    } finally {
      model.release()
      corpus.unpersist()
    }
  }

  test("online Gopher quality gate equals the batch rule suite") {
    // stateless kernel scan + threshold projection — bit-identical
    // rows from the streaming frame, any batching
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(40)
      .select($"doc_id",
        when($"doc_id" % 5 === 0, concat(lit("# "), $"text", lit(" ...")))
          .when($"doc_id" % 5 === 1, concat(lit("- "), $"text"))
          .otherwise($"text").as("text"))
      .cache()
    val expected = graft.ops.TextAnalysis.gopherRules(
        corpus, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val rows = corpus.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = graft.ops.TextAnalysis.gopherRules(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_gopher").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      assert(spark.table("stream_gopher")
        .collect().map(_.toSeq).toSet === expected)
      assert(expected.nonEmpty)
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online HTML extraction and URL canonicalization equal their batch projections") {
    // both are stateless per-row kernels/projection chains — the pin is
    // that the STREAMING frame yields bit-identical rows, any batching
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(40)
      .select($"doc_id",
        concat(lit("<html><script>s()</script><div>nav | x</div><p>"),
          $"text", lit(" &amp; t</p></html>")).as("html"),
        concat(lit("HTTPS://WWW."), upper($"source"),
          lit(".Ex.COM/d/"), ($"doc_id" % 7).cast("string"),
          lit("?utm_source=a&id=1#f")).as("url"))
      .cache()
    val expectedHtml = graft.streaming.DocStreams.mainContent(
        corpus, "doc_id", "html")
      .as[(Long, Long, Long, String)].collect().toSet
    val expectedUrl = graft.streaming.DocStreams.canonicalUrls(
        corpus, "doc_id", "url")
      .as[(Long, String, String, String)].collect().toSet
    val rows = corpus.as[(Long, String, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](spark)
    val stream = ms.toDF().toDF("doc_id", "html", "url")
    val q1 = graft.streaming.DocStreams.mainContent(stream, "doc_id", "html")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_html").start()
    val q2 = graft.streaming.DocStreams.canonicalUrls(stream, "doc_id", "url")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_url").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      ms.addData(t: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("stream_html")
        .as[(Long, Long, Long, String)].collect().toSet === expectedHtml)
      assert(spark.table("stream_url")
        .as[(Long, String, String, String)].collect().toSet === expectedUrl)
      assert(expectedHtml.nonEmpty && expectedUrl.nonEmpty)
    } finally {
      q1.stop(); q2.stop()
      corpus.unpersist()
    }
  }

  test("checkpointed file sink resumes after a stop: no loss, no duplication") {
    // production ingest shape: parquet in → stateless curation →
    // parquet out with a checkpoint; kill the query mid-corpus and
    // restart — the sink must end exactly-once-complete
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(120).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    docs.repartition(6).write.mode("overwrite").parquet(base + "/in")
    def startQuery() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/in")
      graft.ops.Sampling.splitAssign(stream, "doc_id", 0.8, 0.1)
        .writeStream
        .option("checkpointLocation", base + "/ckpt")
        .outputMode("append")
        .format("parquet")
        .option("path", base + "/out")
        .start()
    }
    val q1 = startQuery()
    try {
      // let at least one micro-batch commit, then stop mid-stream
      var waited = 0
      while (q1.recentProgress.length < 2 && waited < 300) {
        Thread.sleep(100); waited += 1
      }
    } finally q1.stop()
    q1.awaitTermination()
    val afterStop = spark.read.parquet(base + "/out").count()
    // restart from the checkpoint and drain the rest
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(base + "/out")
      .select($"doc_id").as[Long].collect().toSeq
    assert(afterStop > 0L, "no micro-batch committed before the stop")
    assert(out.size === out.distinct.size, "duplicated rows after resume")
    assert(out.toSet === docs.select($"doc_id").as[Long].collect().toSet,
      "lost rows after resume")
  }

  test("stateless curation ops run unchanged on a stream: classify + split") {
    // hashClassifierScore and splitAssign are pure projections, so the
    // SAME operator code must run on an unbounded stream with zero
    // state and append output — the property that lets one codebase
    // serve batch curation and live ingest
    val weights = Seq.tabulate(16)(i => (i - 8) / 8.0)
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(100).cache()
    val batch = graft.ops.Sampling.splitAssign(
        graft.ops.TextAnalysis.hashClassifierScore(docs, "doc_id", "text",
          weights, bias = 0.25),
        "doc_id", 0.8, 0.1)
      .as[(Long, Double, Boolean, String)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-curate").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir + "/in")
    val q = graft.ops.Sampling.splitAssign(
        graft.ops.TextAnalysis.hashClassifierScore(stream, "doc_id", "text",
          weights, bias = 0.25),
        "doc_id", 0.8, 0.1)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_curate")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_curate")
        .as[(Long, Double, Boolean, String)].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("online contamination hits equal the batch shingle join, any batching") {
    // train corpus from the fixture; eval set = verbatim spans lifted
    // from two train docs (guaranteed 5-gram overlap) + one clean doc
    val train = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(150).cache()
    val lifted = train.filter($"doc_id".isin(3L, 7L))
      .as[(Long, String)].collect().toMap
    def span(s: String): String = s.split(" ").take(12).mkString(" ")
    val evalDocs = Seq(
      (9001L, span(lifted(3L))),
      (9002L, span(lifted(7L))),
      (9003L, "no overlap with anything in the corpus qqq zzz www vvv uuu ttt")
    ).toDF("eval_id", "etext").cache()
    // batch truth: distinct-shingle hash join, counted per (train, eval)
    def sh(df: org.apache.spark.sql.DataFrame, id: String, text: String,
        as: String) =
      df.select(col(id).as(as),
        explode(array_distinct(graft.functions.HashFunctions.ngramHashes(
          split(col(text), " ", -1), 5, keepPartial = true))).as("sk"))
    val expected = sh(train, "doc_id", "text", "train_id")
      .join(sh(evalDocs, "eval_id", "etext", "eval_id"), "sk")
      .groupBy($"train_id", $"eval_id")
      .agg(countDistinct($"sk").as("n"))
      .as[(Long, Long, Long)].collect().toSet
    // the lifted spans must be found against their source docs
    assert(expected.exists(h => h._1 === 3L && h._2 === 9001L))
    assert(expected.exists(h => h._1 === 7L && h._2 === 9002L))
    assert(!expected.exists(_._2 === 9003L), "clean doc must not hit")
    // one-shot batch-mode run of the stateful function
    val oneShot = DocStreams.contaminationHits(train, "doc_id", "text",
        evalDocs, "eval_id", "etext")
      .collect().map(h => (h.train_id, h.eval_id, h.n_shared)).toSet
    assert(oneShot === expected)
    // replayed as micro-batches (+ a re-delivery, which must emit nothing)
    val dir = java.nio.file.Files.createTempDirectory("graft-contam").toString
    train.repartition(4).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir + "/in")
    val q = DocStreams.contaminationHits(stream, "doc_id", "text",
        evalDocs, "eval_id", "etext")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_contam")
      .start()
    try {
      q.processAllAvailable()
      // re-deliver the whole corpus: the boolean state must swallow it
      train.repartition(2).write.mode("append").parquet(dir + "/in")
      q.processAllAvailable()
      val streamed = spark.table("stream_contam")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("online LM scores equal batch x73 on shared docs; unseen bigrams smooth") {
    import graft.ops.TextAnalysis
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(120).cache()
    val model = TextAnalysis.lmModel(corpus, "doc_id", "text")
    // batch truth from the oracle-paired x73 path on the same corpus
    val expected = TextAnalysis.lmQuality(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // one-shot batch-mode run of the stateful scorer
    val oneShot = DocStreams.lmScores(corpus, "doc_id", "text", model)
      .collect().map(s => s.doc_id -> (s.n_bigrams, s.avg_nll)).toMap
    assert(oneShot.keySet === expected.keySet)
    expected.foreach { case (id, (n, nll)) =>
      assert(oneShot(id)._1 === n, s"doc $id n_bigrams")
      assert(oneShot(id)._2 === nll, s"doc $id avg_nll (must be bit-equal)")
    }
    // micro-batched replay + re-delivery guard
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    corpus.repartition(3).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir + "/in")
    val q = DocStreams.lmScores(stream, "doc_id", "text", model)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_lm").start()
    try {
      q.processAllAvailable()
      corpus.limit(10).write.mode("append").parquet(dir + "/in")
      q.processAllAvailable()
      val streamed = spark.table("stream_lm")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed === expected.map { case (k, v) => k -> v })
    } finally q.stop()
    // a NOVEL document: unseen bigrams take the add-one count-0 score
    val novel = Seq((99001L, "zzqq wwvv zzqq")).toDF("doc_id", "text")
    val got = DocStreams.lmScores(novel, "doc_id", "text", model)
      .collect().head
    val v = model.vocabSize
    val nllUnknown = BigDecimal(-math.log(1.0 / v))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got.n_bigrams === 2L)
    assert(got.avg_nll === (nllUnknown * 2).toDouble / 2)
  }

  test("online trigram-KN scores equal batch x111 on shared docs; " +
      "unseen events back off finite-positive") {
    import graft.ops.TextAnalysis
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").limit(120).cache()
    val model = TextAnalysis.kn3Model(corpus, "doc_id", "text")
    try {
      // batch truth from the oracle-paired x111 path on the same corpus
      val expected = TextAnalysis.knTrigramQuality(corpus, "doc_id", "text")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val oneShot = DocStreams.kn3Scores(corpus, "doc_id", "text", model)
        .collect().map(s => s.doc_id -> (s.n_trigrams, s.avg_nll)).toMap
      assert(oneShot.keySet === expected.keySet)
      expected.foreach { case (id, (n, nll)) =>
        assert(oneShot(id)._1 === n, s"doc $id n_trigrams")
        assert(oneShot(id)._2 === nll, s"doc $id avg_nll (must be bit-equal)")
      }
      // micro-batched replay + re-delivery guard
      val dir = java.nio.file.Files.createTempDirectory("graft-kn3").toString
      corpus.repartition(3).write.mode("overwrite").parquet(dir + "/in")
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir + "/in")
      val q = DocStreams.kn3Scores(stream, "doc_id", "text", model)
        .writeStream.outputMode("append")
        .format("memory").queryName("stream_kn3").start()
      try {
        q.processAllAvailable()
        corpus.limit(10).write.mode("append").parquet(dir + "/in")
        q.processAllAvailable()
        val streamed = spark.table("stream_kn3")
          .as[(Long, Long, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(streamed === expected.map { case (k, v) => k -> v })
      } finally q.stop()
      // a fully NOVEL document: unknown contexts back off through the
      // recursion to the d/B unigram floor — finite positive score
      val novel = Seq((99002L, "zzqq wwvv zzqq wwvv")).toDF("doc_id", "text")
      val got = DocStreams.kn3Scores(novel, "doc_id", "text", model)
        .collect().head
      val floorNll = BigDecimal(-math.log(0.75 / model.btCount))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(got.n_trigrams === 2L)
      assert(got.avg_nll === (floorNll * 2).toDouble / 2)
      assert(got.avg_nll > 0.0 && !got.avg_nll.isInfinite)
      // a PARTIALLY novel doc (seen tokens, unseen trigram): the
      // clipped top level + continuation back-off stays in (0, nllMax)
      val someTok = corpus.limit(1)
        .select(split($"text", " ", -1).getItem(0).as("w"))
        .as[String].collect().head
      val partial = Seq((99003L, s"$someTok zzqq $someTok"))
        .toDF("doc_id", "text")
      val gotP = DocStreams.kn3Scores(partial, "doc_id", "text", model)
        .collect().head
      assert(gotP.n_trigrams === 1L)
      assert(gotP.avg_nll > 0.0 && !gotP.avg_nll.isInfinite)
    } finally model.release()
  }

  test("online domain blocklist gate equals the batch x123 projection") {
    // stateless per-row projection (canonicalize -> suffix set ->
    // frozen-list intersect) -- the pin is bit-identical rows from the
    // streaming frame under any batching
    val blocked = Seq("src3.example.com", "cdn.src5.example.com")
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(40)
      .select($"doc_id",
        concat(lit("HTTPS://"),
          when($"doc_id" % 2 === 0, lit("CDN.")).otherwise(lit("WWW.")),
          upper($"source"), lit(".Example.COM/d/"),
          ($"doc_id" % 7).cast("string"),
          lit("?utm_source=a&id=1#f")).as("url"))
      .cache()
    val expected = graft.ops.UrlCanon.domainBlocklistGate(
        corpus, "doc_id", "url", blocked)
      .as[(Long, String, Long, Option[String], Long)].collect().toSet
    val rows = corpus.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.ops.UrlCanon.domainBlocklistGate(
        ms.toDF().toDF("doc_id", "url"), "doc_id", "url", blocked)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_domgate").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      assert(spark.table("stream_domgate")
        .as[(Long, String, Long, Option[String], Long)]
        .collect().toSet === expected)
      // both gate outcomes live on the fixture
      assert(expected.exists(_._5 == 0L) && expected.exists(_._5 == 1L))
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online FIM rewrite equals the batch x125 projection") {
    // stateless per-row projection (md5 coin -> md5 cut draws ->
    // substr splice) — the pin is bit-identical rows from the
    // streaming frame under any batching
    val corpus = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).limit(60)
      .select($"doc_id", $"text").cache()
    val expected = graft.ops.DataPipeline.fimTransform(
        corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Long, Long, String, Long)].collect().toSet
    val rows = corpus.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = graft.ops.DataPipeline.fimTransform(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_fim").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      assert(spark.table("stream_fim")
        .as[(Long, Long, Long, Long, String, Long)]
        .collect().toSet === expected)
      // both coin branches live on the fixture
      assert(expected.exists(_._2 == 0L) && expected.exists(_._2 == 1L))
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("online weighted reservoir converges to the batch x127 sample") {
    // keyed-state A-Res: after all arrivals the max-version emission
    // per stratum must equal the batch top-k bit-for-bit, under any
    // batching (keys are per-row pure; merge+truncate is associative)
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"source",
        coalesce(size(split($"text", " ")).cast("long"), lit(0L))
          .as("n_tokens")).cache()
    val expected = graft.ops.Sampling.weightedSampleTopK(
        corpus, "doc_id", "source", "n_tokens", k = 5)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val rows = corpus.as[(Long, String, Long)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)](spark)
    val q = graft.streaming.DocStreams.weightedReservoir(
        ms.toDF().toDF("doc_id", "source", "n_tokens"),
        "doc_id", "source", "n_tokens", k = 5)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_reservoir").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h: _*)
      q.processAllAvailable()
      ms.addData(t: _*)
      q.processAllAvailable()
      val all = spark.table("stream_reservoir")
        .as[(String, Long, Long, Long, Long, Long)].collect()
      val latest = all.groupBy(_._1).values.flatMap { emits =>
        val maxV = emits.map(_._6).max
        emits.filter(_._6 == maxV)
      }.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
      assert(latest === expected)
      // the two-batch split must actually update some stratum twice
      assert(all.exists(_._6 == 2L), "no stratum saw a second update")
    } finally {
      q.stop()
      corpus.unpersist()
    }
  }

  test("transitionLatencyOnline final state assembles to the batch " +
      "x185 latency matrix under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.transitionLatencyOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_trans_lat").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_trans_lat")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      // keep-max-version assembly, then the batch op's own publish:
      // the (Σn, Σsum_gap, max max_gap) partials merge exactly
      val assembled = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .groupBy($"from_type".as("prev_type"),
          $"to_type".as("next_type"))
        .agg(sum($"n").as("n"), sum($"sum_gap").as("_sg"),
          max($"max_gap").as("max_gap_micros"))
        .select($"prev_type", $"next_type", $"n",
          expr("_sg div n").as("mean_gap_micros"),
          $"max_gap_micros")
        .as[(String, String, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.transitionLatency(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, String, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      // state genuinely crossed micro-batches
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1)
        .count()
      assert(multi > 0, "expected a user updated across batches")
    } finally q.stop()
  }

  test("transitions2Online final state assembles to the batch x175 " +
      "Markov-2 matrix under forced multi-batch replay") {
    val dir = replayDir()
    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = EventStreams.transitions2Online(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_markov2").start()
    try {
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val wctx = org.apache.spark.sql.expressions.Window
        .partitionBy($"prev2_type", $"prev1_type")
      val assembled = spark.table("stream_markov2")
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
        .groupBy($"prev2_type", $"prev1_type", $"next_type")
        .agg(sum($"n").as("n"))
        .withColumn("_tot", sum($"n").over(wctx))
        .select($"prev2_type", $"prev1_type", $"next_type", $"n",
          expr("(n * 1000000) div _tot").as("p_micros"))
        .as[(String, String, String, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.transition2Report(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id", "event_type")
        .as[(String, String, String, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
    } finally q.stop()
  }

  test("DocStreams idle TTL expires an idle chunk key; default TTL retains it") {
    // boundedDocState (r17, arrival-time timers): doc 1's chunk key is
    // armed at (batch-1 arrival + ttl). The watermark lags one batch,
    // so batch 2 advances it past the 1 ms deadline and batch 3 FIRES
    // the timer (key idle both batches) — removal. Doc 4's identical
    // chunk then re-arrives as FIRST: no flag. The same replay under
    // the default 30-day TTL flags doc 4 against doc 1 — proving the
    // timer, not some other state loss, caused the difference.
    def replay(name: String, ttlMs: Long): Long = {
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](spark)
      val q = DocStreams.repeatedChunkFlags(
          ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 2,
          idleTtlMs = ttlMs)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        ms.addData((1L, "b1 b2"))
        q.processAllAvailable()
        Thread.sleep(50)
        ms.addData((2L, "z1 z2")) // watermark → batch-2 arrival
        q.processAllAvailable()
        ms.addData((3L, "y1 y2")) // deadline < watermark: timer fires
        q.processAllAvailable()
        ms.addData((4L, "b1 b2"))
        q.processAllAvailable()
        spark.table(name).filter("first_id = 1").count()
      } finally q.stop()
    }
    assert(replay("chunk_ttl_tiny", 1L) === 0L)
    assert(replay("chunk_ttl_default",
      DocStreams.DefaultIdleTtlMs) === 1L)
  }

  test("NoTimeout keyed state only at sanctioned bounded-key sites") {
    // The boundedDocState/boundedStateDoc contract, CI-enforced at the
    // source level: every keyed-state twin must bound its state — by
    // TTL (unbounded key populations) or by a declared-bounded key
    // dimension. Sanctioned NoTimeout sites: DocStreams.weightedReservoir
    // (strata are the bounded dimension) and VecStreams (SRP bucket
    // space is 2^bucketBits). Adding a NoTimeout site moves this count.
    def noTimeoutSites(f: String): Int = {
      // r17 ADVICE: resolve the source tree from the working directory
      // by walking UP until build.sbt is found — robust to runners
      // that start tests from a module/IDE directory, not repo root
      val start = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", ".")).toAbsolutePath
      val root = Iterator.iterate(start)(_.getParent)
        .takeWhile(_ != null)
        .find(d => java.nio.file.Files.exists(d.resolve("build.sbt")))
        .getOrElse(start)
      val p = root.resolve(s"src/main/scala/graft/streaming/$f")
      assert(java.nio.file.Files.exists(p), s"missing source $p")
      "GroupStateTimeout\\.NoTimeout\\(\\)".r
        .findAllIn(java.nio.file.Files.readString(p)).length
    }
    assert(noTimeoutSites("EventStreams.scala") === 0)
    assert(noTimeoutSites("DocStreams.scala") === 1)
    assert(noTimeoutSites("VecStreams.scala") === 1)
  }

  // ——— streaming over the hive-partitioned trees (r17 verdict item
  // 6): the production ingest shape is a file-stream source watching a
  // standing hive root while new partition directories arrive over
  // time. These pins prove (a) the x205/x206 trees are consumable as
  // STREAM sources with multi-batch replay, (b) the partition column
  // (directory names, not data pages) survives the stream reader with
  // correct per-row values, and (c) a streaming twin assembled from
  // that source equals its batch form on the same tree.

  test("EventStreams tumbling twin over the hive events_by_day tree: " +
      "assembled == batch, partition column survives the stream reader") {
    import org.apache.spark.sql.types._
    val tree = graft.sources.PartitionedTables
      .eventsByDayPath(spark, sf0001)
    // the tree stores ts as TIMESTAMP_NTZ (Tables.load normalization);
    // `day` is the hive partition column, present only in dir names
    val treeSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
      StructField("day", DateType)))
    def readTree() = spark.readStream
      .schema(treeSchema)
      .option("maxFilesPerTrigger", 1) // ≥30 day dirs → ≥30 micro-batches
      .parquet(tree)

    // (b) partition-column fidelity: per-day counts computed FROM THE
    // PARTITION COLUMN must equal batch per-day counts computed from
    // the data column ts — wrong or missing dir-derived values go red
    val qDays = readTree()
      .groupBy($"day").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hive_days").start()
    try {
      qDays.processAllAvailable()
      val streamed = spark.table("hive_days")
        .orderBy($"day").collect().toSeq
      val batch = Tables.load(spark, sf0001, "events")
        .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
        .orderBy($"day").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally qDays.stop()

    // (c) twin equivalence: the q20 tumbling twin assembled from the
    // partitioned stream equals the oracle-checked batch form
    val qAgg = EventStreams.tumblingCounts(
        readTree().withColumn("ts", $"ts".cast("timestamp")))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hive_q20").start()
    try {
      qAgg.processAllAvailable()
      val streamed = spark.table("hive_q20")
        .select($"h".cast("timestamp").as("h"), $"event_type", $"n",
          $"sum_value_micros")
        .orderBy($"h", $"event_type").collect().toSeq
      val batch = SparkEntry.queries("q20_tumbling_window")(spark, sf0001)
        .select($"h".cast("timestamp").as("h"), $"event_type", $"n",
          $"sum_value_micros")
        .orderBy($"h", $"event_type").collect().toSeq
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally qAgg.stop()
  }

  test("DocStreams gopher twin over the hive docs_by_source tree: " +
      "assembled == batch, source partition column survives") {
    import org.apache.spark.sql.types._
    val tree = graft.sources.PartitionedTables
      .docsBySourcePath(spark, sf0001)
    val treeSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("source", StringType)))
    def readTree() = spark.readStream
      .schema(treeSchema)
      .option("maxFilesPerTrigger", 1) // 20 source dirs → 20 batches
      .parquet(tree)
    val batchDocs = spark.read.parquet(s"$sf0001/documents.parquet")

    // (b) partition-column fidelity: per-source doc counts from the
    // dir-derived column vs the base table's data column
    val qSrc = readTree().groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hive_sources").start()
    try {
      qSrc.processAllAvailable()
      val streamed = spark.table("hive_sources")
        .orderBy($"source").collect().toSeq
      val batch = batchDocs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally qSrc.stop()

    // (c) twin equivalence: the stateless gopher gate assembled from
    // the partitioned stream (multi-batch append) equals its batch
    // form on the base table, row for row
    val qGate = graft.ops.TextAnalysis.gopherRules(readTree(), "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("hive_gopher").start()
    try {
      qGate.processAllAvailable()
      val streamed = spark.table("hive_gopher")
        .orderBy($"doc_id").collect().toSeq
      val batch = graft.ops.TextAnalysis
        .gopherRules(batchDocs, "doc_id", "text")
        .orderBy($"doc_id").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    } finally qGate.stop()
  }

  test("sessionStatsOnline from the hive events_by_day tree (r18 " +
      "verdict item 6): STATEFUL twin assembled from day-partitioned " +
      "replay equals batch x152") {
    // extends the r17 hive-stream pins (stateless q20/gopher twins
    // above) to the session-analytics wave: the x205 day-partitioned
    // tree feeds a flatMapGroupsWithState twin, one micro-batch per
    // part file, so keyed state must merge a user's sessions across
    // day directories — the production continuous-ingest shape where
    // each day's partition dir arrives as a separate trigger
    import org.apache.spark.sql.types._
    val tree = graft.sources.PartitionedTables
      .eventsByDayPath(spark, sf0001)
    val treeSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
      StructField("day", DateType)))
    val stream = spark.readStream
      .schema(treeSchema)
      .option("maxFilesPerTrigger", 1) // one trigger per day-part file
      .parquet(tree)
      // NTZ → instant is exact in the UTC test session; watermarks
      // need an instant-typed event time
      .withColumn("ts", $"ts".cast("timestamp"))
    val q = EventStreams.sessionStatsOnline(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("hive_sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("hive_sessions")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
      val latest = emitted
        .withColumn("_mv", max($"version").over(w))
        .filter($"version" === $"_mv")
      val dist = latest.groupBy($"n_events")
        .agg(sum($"n_sessions").as("n_sessions"),
          sum($"sum_duration_us").as("sum_duration_us"))
      val total = dist.agg(sum($"n_sessions").as("_tot"))
      val assembled = dist.crossJoin(broadcast(total))
        .select($"n_events", $"n_sessions", $"sum_duration_us",
          expr("(n_sessions * 1000000) div _tot").as("p_micros"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.EventAnalytics.sessionStats(
          Tables.load(spark, sf0001, "events"), "user_id", "ts",
          "event_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(assembled.nonEmpty)
      assert(assembled === batch)
      // day-partitioned replay must actually be multi-batch: a user
      // active on several days is re-emitted at a higher version as
      // later day dirs arrive (state survival across partitions)
      val multi = emitted.groupBy($"user_id")
        .agg(countDistinct($"version").as("v")).filter($"v" > 1).count()
      assert(multi > 0, "expected a user updated across day batches")
    } finally q.stop()
  }

  test("DocStreams.ingestPairs: arriving hive partition streamed " +
      "against the frozen ingested tree equals batch x209") {
    // the continuous form of the r20 x208-x210 ingest family: the
    // arriving source=src19 directory replays as a file stream (one
    // part file per trigger), the ingested corpus is the pruned
    // standing tree as a STATIC frame, and the assembled online pairs
    // must equal the batch crossIngestPairs rows exactly
    import org.apache.spark.sql.types._
    val treePath = graft.sources.PartitionedTables
      .docsBySourcePath(spark, sf0001)
    val arrSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val arriving = spark.readStream
      .schema(arrSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$treePath/source=${graft.ops.Ingest.ArrivingSource}")
      .select($"doc_id", graft.ops.Dedup.tokenSet($"text").as("tok"))
    val seen = graft.ops.Ingest.ingested(spark, sf0001)
      .select($"doc_id", graft.ops.Dedup.tokenSet($"text").as("tok"))
    val q = DocStreams.ingestPairs(arriving, seen, "doc_id", "tok",
        minJaccard = 0.9)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_pairs").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ingest_pairs")
        .select($"new_id", $"seen_id", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.ops.Ingest.crossIngestPairs(spark, sf0001)
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty)
      assert(streamed === batch,
        s"missed=${batch -- streamed} extra=${streamed -- batch}")
      // the re-delivery guard emitted each pair exactly once
      val n = spark.table("ingest_pairs").count()
      assert(n == streamed.size.toLong,
        s"duplicate emissions: $n rows for ${streamed.size} pairs")
    } finally q.stop()
  }
}
