package graft

import graft.streaming.Events

/** Structured Streaming equivalence: the streaming tumbling-window aggregation
  * over the static events dir must equal the batch form (Structured
  * Streaming's batch-equivalence contract).
  */
class StreamingSpec extends SparkSuite {

  /** File-source streams need a directory; stage the single parquet file. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("streaming tumbling agg == batch tumbling agg") {
    val streamed = Events.tumblingAgg(
      Events.readStream(spark, eventsDir))
    val got = Events.runToMemory(spark, streamed, "graft_stream_test")
    val expected = Events.tumblingAggBatch(Engine.events(spark, sfDir))
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.count() > 0)
  }

  test("stateful streaming sessionization == batch sessionization across micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val batch = Events.sessionizeBatch(Engine.events(spark, sfDir))

    // split the raw events in event-time order into two files => two
    // micro-batches; sessions spanning the cut must merge via GroupState
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    // NTZ column: do the split arithmetic in epoch-micros (session tz = UTC)
    val tsm = unix_micros(col("ts").cast("timestamp"))
    val cut = raw.select(tsm.as("tsm")).stat.approxQuantile("tsm", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sess_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sess_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs) // file source orders batches by mod time
    }
    val now = System.currentTimeMillis()
    stage(raw.filter(tsm <= cut), "half1.parquet", now - 60000)
    stage(raw.filter(tsm > cut), "half2.parquet", now)

    // watermark 0s: after the final (no-data) batch the watermark reaches
    // max(ts), closing every session except those ending within `gap` of it
    val streamed = Events.sessionizeStream(
      Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)),
      watermark = "0 seconds")
    val q = streamed.writeStream.format("memory")
      .queryName("graft_sessions").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_sessions")

    val maxTsMs = raw.agg(max(tsm)).head().getLong(0) / 1000L // µs → ms
    val gapMs = 30 * 60000L
    val lastPerUser = Window.partitionBy("user_id").orderBy(col("session_id").desc)
    val expected = batch
      .withColumn("rn", row_number().over(lastPerUser))
      .filter(col("rn") > 1 ||
        (expr("unix_micros(sess_end) div 1000") + gapMs) < maxTsMs)
      .drop("rn")
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.count() > 0)
  }

  test("sessionization handles out-of-order events across micro-batches within the watermark") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // user 1: batch 1 delivers t=100min; batch 2 delivers LATE events t=10min
    // (own earlier session: 90min before the open one) and t=95min (extends
    // the open session backward: within gap of its start). Batch 3 is a far-
    // future event for user 2 that pushes the watermark past everything and
    // times user 1's sessions out. Watermark 2h keeps the late events
    // admissible.
    val base = 1577836800L * 1000000L // 2020-01-01 in micros
    def ns(min: Long): Long = base + min * 60L * 1000000L
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ooo_stream")
    def stage(rows: Seq[(Long, Long, Long)], name: String, modTimeMs: Long): Unit = {
      val df = rows.toDF("event_id", "ts", "user_id")
        // files must match rawSchema: ts → timestamp[us] NTZ (session tz UTC)
        .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
        .withColumn("event_type", lit("click"))
        .withColumn("value", lit(1.0))
        .withColumn("props", lit("{}"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ooo_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    stage(Seq((1L, ns(100), 1L)), "b1.parquet", now - 120000)
    stage(Seq((2L, ns(10), 1L), (3L, ns(95), 1L)), "b2.parquet", now - 60000)
    stage(Seq((4L, ns(10000), 2L)), "b3.parquet", now)

    val streamed = Events.sessionizeStream(
      Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)),
      gapMinutes = 30, watermark = "2 hours")
    val q = streamed.writeStream.format("memory")
      .queryName("graft_ooo_sessions").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_ooo_sessions")
      .filter(col("user_id") === 1L)
      .select(col("session_id"), col("n_events"),
        unix_micros(col("sess_start")).as("s"), unix_micros(col("sess_end")).as("e"))
    def us(min: Long): Long = base + min * 60L * 1000000L
    assertSameRows(got,
      Seq(Seq(0L, 1L, us(10), us(10)),   // late lone event: own session
          Seq(1L, 2L, us(95), us(100)))) // open session extended backward
  }

  test("stream-stream interval join == batch twin") {
    val streamed = Events.clickPurchaseJoin(
      Events.readStream(spark, eventsDir), windowMinutes = 60)
    val q = streamed.writeStream.format("memory")
      .queryName("graft_ssjoin").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_ssjoin")
    val expected = Events.clickPurchaseJoinBatch(
      Engine.events(spark, sfDir), windowMinutes = 60)
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.count() > 0)
  }

  test("stream-stream LEFT OUTER interval join == batch twin (null rows flush on watermark)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // An unmatched click emits its null row only once the watermark passes
    // click_ts + window, so stage the real events plus a far-future flush
    // click+purchase pair (sentinel user -1) that drags BOTH sides'
    // watermarks past every real click's flush point; the sentinels are
    // excluded from the comparison (the flush click itself stays in state
    // forever — nothing ever advances the watermark past it).
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val maxTs = raw.agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val flushTs = maxTs + 4L * 3600L * 1000000L // +4h (µs) > watermark 2h + window 1h
    val streamDir = java.nio.file.Files.createTempDirectory("graft_outer_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_outer_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    stage(raw, "all.parquet", now - 60000)
    stage(Seq(
      (-1L, flushTs, -1L, "click", 0.0, "{}"),
      (-2L, flushTs, -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz")),
      "flush.parquet", now)

    val streamed = Events.clickPurchaseJoinOuter(
      Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
    val q = streamed.writeStream.format("memory")
      .queryName("graft_outer_join").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_outer_join").filter(col("user_id") >= 0)
    val expected = Events.clickPurchaseJoinOuterBatch(Engine.events(spark, sfDir))
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.filter(col("p_ts").isNull).count() > 0) // outer rows present
  }

  test("left-outer null row is WITHHELD until the watermark passes click_ts + window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Flush-timing semantics, not just final equivalence: an unmatched
    // click's null row must appear only once the global watermark
    // (min across both sides, each = max_event_time − 2h) strictly passes
    // click_ts + 60min. Three staged micro-batches:
    //   b1: click u10 @ t0          → no output (nothing matched, no flush)
    //   b2: events @ t0+2h          → watermark t0, still ≤ t0+1h → withheld
    //   b3: events @ t0+3.5h        → watermark t0+1.5h > t0+1h  → flush
    // Each batch carries a purchase row too: a side that sees no rows never
    // advances its watermark, and the global watermark is the min.
    val t0 = 1700000000000000L // µs
    val dir = java.nio.file.Files.createTempDirectory("graft_flush_timing")
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_flush_half").toString
      rows.map { case (id, ts, uid, typ) => (id, ts, uid, typ, 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(name))
    }
    val h = 3600L * 1000000L
    stage("b1.parquet", Seq((1L, t0, 10L, "click"), (2L, t0, 99L, "purchase")))
    val q = Events.clickPurchaseJoinOuter(
      Events.readStream(spark, dir.toString, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName("graft_flush_timing")
      .outputMode("append").start()
    def nullRows(): Long =
      spark.table("graft_flush_timing").filter(col("p_ts").isNull).count()
    q.processAllAvailable()
    assert(nullRows() == 0, "null row leaked before any watermark advance")
    stage("b2.parquet", Seq((3L, t0 + 2 * h, 12L, "click"), (4L, t0 + 2 * h, 99L, "purchase")))
    q.processAllAvailable()
    assert(nullRows() == 0, "null row leaked at watermark == t0 (needs > t0+window)")
    stage("b3.parquet", Seq(
      (5L, t0 + 7 * h / 2, 13L, "click"), (6L, t0 + 7 * h / 2, 99L, "purchase")))
    q.processAllAvailable()
    q.stop()
    val flushed = spark.table("graft_flush_timing").filter(col("p_ts").isNull)
    assert(flushed.count() == 1, "exactly u10's click should have flushed")
    assert(flushed.head.getLong(flushed.columns.indexOf("user_id")) == 10L)
  }

  test("stream-stream FULL OUTER interval join == batch twin (both sides flush)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same flush-sentinel staging as the left-outer test: an unmatched click
    // flushes when the PURCHASE watermark passes click_ts; an unmatched
    // purchase flushes when the CLICK watermark passes p_ts + window
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val maxTs = raw.agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val flushTs = maxTs + 4L * 3600L * 1000000L
    val streamDir = java.nio.file.Files.createTempDirectory("graft_full_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_full_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    stage(raw, "all.parquet", now - 60000)
    stage(Seq(
      (-1L, flushTs, -1L, "click", 0.0, "{}"),
      (-2L, flushTs, -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz")),
      "flush.parquet", now)

    val streamed = Events.clickPurchaseJoinFull(
      Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
    val q = streamed.writeStream.format("memory")
      .queryName("graft_full_join").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_full_join").filter(col("user_id") >= 0)
    val expected = Events.clickPurchaseJoinFullBatch(Engine.events(spark, sfDir))
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.filter(col("p_ts").isNull).count() > 0)     // click-only rows
    assert(got.filter(col("click_id").isNull).count() > 0) // purchase-only rows
  }

  test("built-in session_window sessionization == explicit batch sessionization") {
    val ev = Engine.events(spark, sfDir)
    val viaWindow = Events.sessionizeWindow(ev)
    val viaBatch = Events.sessionizeBatch(ev)
      .select("user_id", "n_events", "sess_start", "sess_end")
    assert(rows(viaWindow).map(_.toString).sorted ==
      rows(viaBatch).map(_.toString).sorted)
  }

  test("stream-static dim enrichment == batch twin") {
    val cust = Engine.table(spark, sfDir, "customer")
    val streamed = Events.enrichedSegmentStats(
      Events.readStream(spark, eventsDir), cust,
      "user_id", "c_custkey", "c_mktsegment")
    val got = Events.runToMemory(spark, streamed, "graft_enrich")
    val expected = Events.enrichedSegmentStats(
      Engine.events(spark, sfDir), cust,
      "user_id", "c_custkey", "c_mktsegment")
    assert(rows(got).map(_.toString).sorted ==
      rows(expected).map(_.toString).sorted)
    assert(got.count() > 0)
  }

  test("sliding window produces more buckets than tumbling") {
    val slid = Events.runToMemory(spark,
      Events.slidingAgg(Events.readStream(spark, eventsDir)),
      "graft_stream_slide")
    val tumb = Events.tumblingAggBatch(Engine.events(spark, sfDir))
    assert(slid.count() > tumb.count())
  }

  test("streaming dedup drops replayed event_ids") {
    val dup = Events.dedupStream(Events.readStream(spark, eventsDir))
    val q = dup.writeStream.format("memory")
      .queryName("graft_dedup").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_dedup")
    val expected = Events.dedupBatch(Engine.events(spark, sfDir)).count()
    assert(got.count() == expected)
  }

  test("streaming dedup == batch twin on replayed input across micro-batches") {
    import org.apache.spark.sql.functions._
    // at-least-once delivery: the full file plus a later file replaying
    // every 10th event — two micro-batches, replays arriving in batch 2
    // must be dropped by state carried from batch 1 (q113's batch twin
    // gates the same semantics under the DuckDB oracle)
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    stage(raw, "all.parquet", now - 60000)
    stage(raw.filter(col("event_id") % 10 === 0), "replay.parquet", now)

    val streamed = Events.dedupStream(
      Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
    val q = streamed.writeStream.format("memory")
      .queryName("graft_dedup_replay").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_dedup_replay")

    val ev = Engine.events(spark, sfDir)
    val expected = Events.dedupBatch(ev.unionAll(ev.filter(col("event_id") % 10 === 0)))
    assert(got.count() == expected.count())
    assert(rows(got.select("event_id", "user_id", "event_type")).map(_.toString).sorted ==
      rows(expected.select("event_id", "user_id", "event_type")).map(_.toString).sorted)
  }

  test("transformWithState running totals == batch twin across micro-batches (RocksDB state)") {
    import org.apache.spark.sql.functions._
    // split by event_id so micro-batch order respects the accumulation
    // order; state (one long per user) carries across the cut
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val cut = raw.stat.approxQuantile("event_id", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft_rt_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rt_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    stage(raw.filter(col("event_id") <= cut), "half1.parquet", now - 60000)
    stage(raw.filter(col("event_id") > cut), "half2.parquet", now)

    // transformWithState requires the RocksDB state store; scope the
    // provider override to this query (read at stream start)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Events.runningTotalsStream(
        Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
      val q = streamed.writeStream.format("memory")
        .queryName("graft_running_totals").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("graft_running_totals")
      val expected = Events.runningTotalsBatch(Engine.events(spark, sfDir))
      assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
      assert(got.count() > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState TWAP intervals == batch lag twin across micro-batches") {
    import org.apache.spark.sql.functions._
    // split by EVENT TIME (not event_id): the TWAP state is the user's last
    // sample, so micro-batch order must respect time order; the open
    // interval at the cut carries across it in RocksDB state
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    // normalize ts once; session zone is UTC so the parquet round-trip of
    // the halves preserves epoch micros exactly
    val norm = Events.withTs(raw).withColumn("__us", unix_micros(col("ts")))
    val cutTs = norm.stat.approxQuantile("__us", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft_tw_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_tw_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    // back to NTZ so the staged halves match rawSchema exactly
    def half(pred: org.apache.spark.sql.Column) = norm.filter(pred)
      .withColumn("ts", col("ts").cast("timestamp_ntz")).drop("__us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    stage(half(col("__us") <= cutTs), "half1.parquet", now - 60000)
    stage(half(col("__us") > cutTs), "half2.parquet", now)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Events.twapStream(
        Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
      val q = streamed.writeStream.format("memory")
        .queryName("graft_twap").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("graft_twap")
      val expected = Events.twapBatch(Engine.events(spark, sfDir))
      assert(got.count() > 0)
      assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState peak/drawdown == batch running-max twin across micro-batches") {
    import org.apache.spark.sql.functions._
    // same event-time split discipline as the TWAP test: the state is the
    // user's lifetime max, monotone under any time-ordered slicing
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val norm = Events.withTs(raw).withColumn("__us", unix_micros(col("ts")))
    val cutTs = norm.stat.approxQuantile("__us", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft_pd_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pd_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    def half(pred: org.apache.spark.sql.Column) = norm.filter(pred)
      .withColumn("ts", col("ts").cast("timestamp_ntz")).drop("__us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    stage(half(col("__us") <= cutTs), "half1.parquet", now - 60000)
    stage(half(col("__us") > cutTs), "half2.parquet", now)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Events.peakDropStream(
        Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
      val q = streamed.writeStream.format("memory")
        .queryName("graft_peak_drop").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("graft_peak_drop")
      val expected = Events.peakDropBatch(Engine.events(spark, sfDir))
      assert(got.count() > 0)
      assert(got.filter(col("drop_cents") > 0).count() > 0,
        "fixture should contain at least one below-peak purchase")
      assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState sessionized TWAP == batch lag twin across micro-batches") {
    import org.apache.spark.sql.functions._
    // event-time split like the TWAP test: the state is the user's last
    // sample + session ordinal, so micro-batch order must respect time
    // order; both the open interval AND the session counter carry across
    // the cut in RocksDB state — a session straddling the cut must keep
    // one ordinal, not restart
    val raw = spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet")
    val norm = Events.withTs(raw).withColumn("__us", unix_micros(col("ts")))
    val cutTs = norm.stat.approxQuantile("__us", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stw_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stw_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val now = System.currentTimeMillis()
    def half(pred: org.apache.spark.sql.Column) = norm.filter(pred)
      .withColumn("ts", col("ts").cast("timestamp_ntz")).drop("__us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    stage(half(col("__us") <= cutTs), "half1.parquet", now - 60000)
    stage(half(col("__us") > cutTs), "half2.parquet", now)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Events.sessTwapStream(
        Events.readStream(spark, streamDir.toString, maxFilesPerTrigger = Some(1)))
      val q = streamed.writeStream.format("memory")
        .queryName("graft_sess_twap").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("graft_sess_twap")
      val expected = Events.sessTwapBatch(Engine.events(spark, sfDir))
      assert(got.count() > 0)
      assert(got.select("session_id").distinct().count() > 1,
        "fixture should contain multi-session users")
      assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("incremental corpus screening: foreachBatch stream == batch") {
    import org.apache.spark.sql.functions._
    import graft.llm.Dedup
    val d = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val fresh = d.filter(col("doc_id") % 10 === 0)
    val idx = Dedup.buildCorpusIndex(corpus, "doc_id", "text",
      bands = 16, rowsPerBand = 2)
    val batchOut = Dedup.screenAgainstCorpus(fresh, "doc_id", "text", idx, 0.8)
      .select("new_id", "corpus_id").collect().map(_.toString).sorted.toSeq

    // stage the fresh docs as two files → two micro-batches; the corpus is
    // static, so screening each batch independently must reproduce the
    // all-at-once batch result exactly
    val streamDir = java.nio.file.Files.createTempDirectory("graft_screen_stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, modTimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_screen_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = streamDir.resolve(name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTimeMs)
    }
    val cut = fresh.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val now = System.currentTimeMillis()
    stage(fresh.filter(col("doc_id") <= cut), "b1.parquet", now - 60000)
    stage(fresh.filter(col("doc_id") > cut), "b2.parquet", now)

    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val q = stream.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf.synchronized {
          buf ++= Dedup.screenAgainstCorpus(b, "doc_id", "text", idx, 0.8)
            .select("new_id", "corpus_id").collect().map(_.toString)
        }
        ()
    }.start()
    q.processAllAvailable(); q.stop()
    idx.release()
    assert(buf.sorted.toSeq == batchOut)
  }

  test("streaming OHLC bars == batch ohlcBars") {
    val streamed = Events.ohlcStream(Events.readStream(spark, eventsDir))
    val got = Events.runToMemory(spark, streamed, "graft_ohlc_stream")
    val expected = graft.operators.Analytics.ohlcBars(
      Engine.events(spark, sfDir), Seq("user_id"), "ts", "value",
      "event_id", 3600L * 1000000L)
      .select("user_id", "bucket_us", "open", "high", "low", "close", "n")
    assert(rows(got).map(_.toString).sorted == rows(expected).map(_.toString).sorted)
    assert(got.count() > 0)
  }

  test("incremental agg maintenance: replayed batch is a no-op, untouched shards keep their files") {
    import graft.streaming.Incremental
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val state = java.nio.file.Files.createTempDirectory("graft_incr_spec")
      .toString + "/state"
    val b0 = Seq((1L, 10L, 100L), (2L, 11L, 200L), (17L, 12L, 300L))
      .toDF("user_id", "event_id", "cents")
    Incremental.applyBatch(spark, b0, 0L, state, nShards = 16)
    val after0 = rows(spark.read.parquet(state)
      .select("user_id", "n", "cents")).map(_.toString).sorted
    // replay of batch 0 (at-least-once retry) must not double-count
    Incremental.applyBatch(spark, b0, 0L, state, nShards = 16)
    val afterReplay = rows(spark.read.parquet(state)
      .select("user_id", "n", "cents")).map(_.toString).sorted
    assert(afterReplay == after0)
    // batch 1 touches only shard 2 (user 18); shard-1 files stay untouched
    def files(shard: Long) = new java.io.File(s"$state/shard=$shard")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val shard1Before = files(1L)
    Incremental.applyBatch(spark,
      Seq((18L, 13L, 50L)).toDF("user_id", "event_id", "cents"),
      1L, state, nShards = 16)
    assert(files(1L) == shard1Before) // dynamic overwrite left shard 1 alone
    val m = spark.read.parquet(state).select("user_id", "n", "cents")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map(1L -> (1L, 100L), 2L -> (1L, 200L),
      17L -> (1L, 300L), 18L -> (1L, 50L)))
  }

  test("exactly-once parquet sink: restart from checkpoint neither duplicates nor drops") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_e1s_spec").toString
    val ev = Engine.events(spark, sfDir)
    val got = Events.exactlyOnceReplay(spark, ev, work)
    // every event exactly once — a replayed first half would double these
    val dupes = got.groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dupes == 0)
    assert(got.count() == ev.count())
    // the sink reader must go through the _spark_metadata commit log
    assert(new java.io.File(s"$work/out/_spark_metadata").exists())
    // values survive the round trip
    val expected = ev.select(sum(floor(col("value") * 100 + 0.5).cast("long")))
      .head().getLong(0)
    assert(got.select(sum(col("cents"))).head().getLong(0) == expected)
  }

  test("incremental curation: supersession retracts, replay is a no-op, " +
      "report == global-min batch semantics") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val work = java.nio.file.Files.createTempDirectory("graft_inccur_spec").toString
    val state = s"$work/state"; val delta = s"$work/delta"
    def rep() = rows(Incremental.curationReport(spark, delta)
      .orderBy("source")).map(_.mkString(","))
    // (doc_id, source, norm_key, n_words, ok_rules, ok_clf)
    val b0 = Seq(
      (10L, "src0", "kA", 100L, 1L, 1L), // kA survivor for now: kept
      (20L, "src1", "kB", 50L, 1L, 0L)   // kB survivor: passes rules only
    ).toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    Incremental.applyCurationBatch(spark, b0, 0L, state, delta, nShards = 8)
    assert(rep() == Seq("src0,1,1,1,1,100", "src1,1,1,1,0,0"))
    // batch 1: a SMALLER doc_id for kA arrives late, from another source,
    // failing the rules — src0's kept contribution must be retracted and
    // kA's dedup slot must move to src1 (global lowest-id-survives)
    val b1 = Seq((5L, "src1", "kA", 80L, 0L, 0L))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    Incremental.applyCurationBatch(spark, b1, 1L, state, delta, nShards = 8)
    val afterB1 = rep()
    assert(afterB1 == Seq("src0,1,0,0,0,0", "src1,2,2,1,0,0"))
    // at-least-once retry: replaying batch 1 changes nothing
    Incremental.applyCurationBatch(spark, b1, 1L, state, delta, nShards = 8)
    assert(rep() == afterB1)
    // key index holds exactly one row per key, the global-min survivor
    val idx = spark.read.parquet(state)
      .select("norm_key", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == Map("kA" -> 5L, "kB" -> 20L))
  }

  test("incremental curation maintenance across a restart == one-shot, " +
      "arrival-order-independent") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // already-enriched rows staged as arrival files; enrich = identity.
    // Key k1 is duplicated across arrivals with its LOWEST id in the LAST
    // arrival (forces supersession through the restart).
    val all = Seq(
      (7L, "s0", "k1", 60L, 1L, 1L),
      (3L, "s1", "k2", 40L, 1L, 0L),
      (9L, "s0", "k3", 75L, 0L, 1L),
      (2L, "s1", "k1", 55L, 1L, 0L),
      (8L, "s0", "k2", 45L, 1L, 1L))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    def run(splits: Seq[Seq[Long]]): Seq[String] = {
      val work = java.nio.file.Files.createTempDirectory("graft_inccur_mt").toString
      splits.zipWithIndex.foreach { case (ids, i) =>
        all.filter(col("doc_id").isin(ids: _*)).coalesce(1)
          .write.parquet(s"$work/src/b$i")
        // maintain after EVERY arrival: each call past the first is a
        // restart on the same checkpoint and must process only new files
        Incremental.maintainCuration(spark, s"$work/src/*", s"$work/state",
          s"$work/delta", s"$work/ck", all.schema, identity, nShards = 8)
      }
      rows(Incremental.curationReport(spark, s"$work/delta")
        .orderBy("source")).map(_.mkString(","))
    }
    val incremental = run(Seq(Seq(7L, 3L), Seq(9L, 8L), Seq(2L)))
    val oneShot = run(Seq(Seq(2L, 3L, 7L, 8L, 9L)))
    assert(incremental == oneShot)
    // and both equal the from-scratch global-min batch recompute
    val batch = all
      .withColumn("sv1", (col("doc_id") === min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("norm_key")))
        .cast("long"))
      .groupBy("source").agg(
        count(lit(1)).as("docs_in"),
        sum("sv1").as("after_dedup"),
        sum(col("sv1") * col("ok_rules")).as("after_rules"),
        sum(col("sv1") * col("ok_rules") * col("ok_clf")).as("kept_docs"),
        sum(col("sv1") * col("ok_rules") * col("ok_clf") * col("n_words"))
          .as("kept_tokens"))
    assert(incremental == rows(batch.orderBy("source")).map(_.mkString(",")))
  }

  test("incremental near-dup screen: keep-first across batches and restart, replay no-op") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val work = java.nio.file.Files.createTempDirectory("graft_incnd_spec").toString
    val state = s"$work/state"
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six seven"
    val docs = Seq(
      (0L, textA), (1L, textB), (2L, textB), // 2 = in-batch copy of 1
      (4L, textA),                           // 4 = cross-batch copy of 0
      (5L, "unique words only here nothing shared"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    def enrich(bt: org.apache.spark.sql.DataFrame) =
      bt.select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
    def stage(ids: Seq[Long], name: String, modMs: Long): Unit = {
      docs.filter(col("doc_id").isin(ids: _*)).select("doc_id", "source", "text")
        .coalesce(1).write.parquet(s"$work/src/$name")
      new java.io.File(s"$work/src/$name").listFiles()
        .foreach(_.setLastModified(modMs))
    }
    val schema = docs.select("doc_id", "source", "text").schema
    val now = 1000000000000L + 60000L // fixed epoch: deterministic order
    stage(Seq(0L, 1L, 2L), "b0", now - 60000)
    Incremental.maintainNearDup(spark, s"$work/src/*", state, s"$work/ck",
      schema, enrich)
    stage(Seq(4L, 5L), "b1", now)
    Incremental.maintainNearDup(spark, s"$work/src/*", state, s"$work/ck",
      schema, enrich) // restart on the same checkpoint: only b1 processes
    def decisions() = spark.read.parquet(s"$state/decisions")
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val d = decisions()
    assert(d == Map(
      0L -> (1L, -1L), 1L -> (1L, -1L),
      2L -> (0L, 1L),  // in-batch copy: dropped, matched to the earlier id
      4L -> (0L, 0L),  // cross-restart copy: dropped against the index
      5L -> (1L, -1L)))
    // at-least-once retry: re-applying batch 1 rewrites its partitions
    // with identical content (index state for earlier batches unchanged)
    Incremental.applyNearDupBatch(spark,
      enrich(docs.filter(col("doc_id").isin(4L, 5L))
        .select("doc_id", "source", "text")),
      1L, state, bands = 16, rowsPerBand = 2, thresholdPct = 70)
    assert(decisions() == d)
  }

  test("state layout parameters are pinned: a mid-stream change throws") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shard/bucket-prefix counts DERIVE the partition keys the pruned reads
    // consult — changing one mid-stream would silently read the wrong
    // partitions, so the second batch must throw, not corrupt
    val work = java.nio.file.Files.createTempDirectory("graft_pin").toString
    val b = Seq((1L, "s", "k1", 10L, 1L, 1L))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    Incremental.applyCurationBatch(spark, b, 0L, s"$work/key", s"$work/delta",
      nShards = 8)
    val e1 = intercept[IllegalArgumentException] {
      Incremental.applyCurationBatch(spark, b, 1L, s"$work/key",
        s"$work/delta", nShards = 16)
    }
    assert(e1.getMessage.contains("pinned"))
    val nd = Seq((1L, "s", "alpha beta gamma delta")).toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
    Incremental.applyNearDupBatch(spark, nd, 0L, s"$work/nd",
      bands = 16, rowsPerBand = 2, thresholdPct = 70)
    val e2 = intercept[IllegalArgumentException] {
      Incremental.applyNearDupBatch(spark, nd, 1L, s"$work/nd",
        bands = 16, rowsPerBand = 2, thresholdPct = 70, nBp = 64)
    }
    assert(e2.getMessage.contains("pinned"))
    // same parameters: proceeds fine
    Incremental.applyNearDupBatch(spark, nd, 1L, s"$work/nd",
      bands = 16, rowsPerBand = 2, thresholdPct = 70)
  }

  test("incremental state compaction: reads identical, folded-batch replay " +
      "is a no-op, new batches unaffected, file count drops") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    def countFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      walk(new java.io.File(dir))
    }
    val docs = graft.tools.ScaleProbe.corpus(spark, 900)
      .withColumn("source", lit("s")).persist()
    def enrich(bt: org.apache.spark.sql.DataFrame) =
      bt.select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
    def applyK(state: String, k: Int): Unit =
      Incremental.applyNearDupBatch(spark,
        enrich(docs.filter(pmod(col("doc_id"), lit(3)) === k)), k.toLong,
        state, bands = 16, rowsPerBand = 2, thresholdPct = 70)
    def snap(state: String): (Set[String], Set[String]) = (
      Incremental.ndDecisions(spark, state).collect()
        .map(_.mkString(",")).toSet,
      Incremental.ndPairs(spark, state).collect().map(_.mkString(",")).toSet)
    val work = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val state = s"$work/state"; val control = s"$work/control"
    applyK(state, 0); applyK(state, 1)
    val before = snap(state)
    val filesBefore = countFiles(state)
    Incremental.compactNearDup(spark, state, upToBatch = 1L)
    assert(countFiles(state) < filesBefore,
      s"compaction did not shrink files: $filesBefore -> ${countFiles(state)}")
    assert(snap(state) == before) // folded history reads identically
    // a late replay of a folded batch is a guarded no-op
    applyK(state, 1)
    assert(snap(state) == before)
    assert(!new java.io.File(s"$state/decisions/batch=1").exists())
    // a NEW batch over compacted state == the never-compacted control run
    applyK(state, 2)
    applyK(control, 0); applyK(control, 1); applyK(control, 2)
    assert(snap(state) == snap(control))
    // compaction preserved the keep-first choices exactly (decisions carry
    // matched_id picked by min(e_batch, e_id) — original batch ids must
    // survive the fold as a data column)
    docs.unpersist(blocking = false)

    // delta-stream fold: the report is a sum over deltas, so folding must
    // preserve it bit-for-bit, and new deltas still land afterwards
    import spark.implicits._
    val dwork = java.nio.file.Files.createTempDirectory("graft_compactd").toString
    val st = s"$dwork/state"; val dl = s"$dwork/delta"
    def cb(id: Long, rows: Seq[(Long, String, String, Long, Long, Long)]): Unit =
      Incremental.applyCurationBatch(spark,
        rows.toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf"),
        id, st, dl, nShards = 8)
    cb(0L, Seq((10L, "a", "k1", 10L, 1L, 1L), (20L, "b", "k2", 5L, 1L, 0L)))
    cb(1L, Seq((5L, "b", "k1", 8L, 0L, 0L)))
    cb(2L, Seq((30L, "a", "k3", 7L, 1L, 1L)))
    def rep() = Incremental.curationReport(spark, dl)
      .orderBy("source").collect().map(_.mkString(",")).toSeq
    val repBefore = rep()
    val dFilesBefore = countFiles(dl)
    Incremental.compactDeltas(spark, dl, upToBatch = 2L)
    assert(countFiles(dl) < dFilesBefore)
    assert(rep() == repBefore)
    cb(3L, Seq((40L, "b", "k4", 9L, 1L, 1L)))
    val repAfter = rep()
    assert(repAfter != repBefore) // new batch landed
    // source b: docs 20 (k2, rules-only), 5 (k1 survivor, fails rules),
    // 40 (k4, kept, 9 tokens)
    assert(repAfter.contains("b,3,3,2,1,9"))
  }

  test("compaction re-buckets the posting index: layout re-pins, new batches " +
      "prune on the new prefix space, decisions unchanged") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    val docs = graft.tools.ScaleProbe.corpus(spark, 600)
      .withColumn("source", lit("s")).persist()
    def applyK(state: String, k: Int, nBp: Int = 32): Unit =
      Incremental.applyNearDupBatch(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === k)
          .select(col("doc_id"), col("source"),
            graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32)
              .as("sig")),
        k.toLong, state, bands = 16, rowsPerBand = 2, thresholdPct = 70,
        nBp = nBp)
    def snap(state: String) = Incremental.ndDecisions(spark, state)
      .collect().map(_.mkString(",")).toSet
    val work = java.nio.file.Files.createTempDirectory("graft_rebkt").toString
    val state = s"$work/state"; val control = s"$work/control"
    applyK(state, 0); applyK(state, 1)
    Incremental.compactNearDup(spark, state, upToBatch = 1L, newNBp = 8)
    // the re-bucketed base lives entirely in the new prefix space
    val bps = new java.io.File(s"$state/idx_base").listFiles()
      .filter(_.getName.startsWith("bp=")).map(_.getName.stripPrefix("bp=").toLong)
    assert(bps.nonEmpty && bps.forall(_ < 8), s"unexpected prefixes: ${bps.sorted.mkString(",")}")
    // the pin re-points to the new layout: the old nBp now throws…
    val e = intercept[IllegalArgumentException] { applyK(state, 2, nBp = 32) }
    assert(e.getMessage.contains("pinned"))
    // …and a batch on the new layout matches the never-compacted control
    applyK(state, 2, nBp = 8)
    applyK(control, 0); applyK(control, 1); applyK(control, 2)
    assert(snap(state) == snap(control))
    docs.unpersist(blocking = false)
  }

  test("incremental span screen: crossing retro-covers the holder, " +
      "replay is a no-op, verdicts == batch scrub recompute") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_incspan_spec").toString
    val state = s"$work/state"
    // n=3 windows over short docs; gram "a b c" is a SINGLETON after batch
    // 0 (held by doc 0) and crosses to duplicated in batch 1 — doc 0's
    // verdict must be retracted retroactively. Grams "m n o" duplicate
    // WITHIN batch 0 (docs 1 and 2), covering both on arrival.
    val b0 = Seq(
      (0L, "s", "a b c d e"),
      (1L, "s", "m n o p q"),
      (2L, "s", "z m n o y")).toDF("doc_id", "source", "text")
    val b1 = Seq(
      (3L, "s", "r a b c t")).toDF("doc_id", "source", "text")
    def verdicts() = Incremental.spanVerdicts(spark, state, n = 3)
      .select("doc_id", "n_tok", "n_kept", "ok_span").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    Incremental.applySpanBatch(spark, b0, 0L, state, n = 3,
      nGramShards = 8, nDocShards = 8)
    // in-batch dup: docs 1/2 covered on [pos..pos+2]; doc 0 untouched
    assert(verdicts() == Map(
      0L -> (5L, 5L, 1L), 1L -> (5L, 2L, 0L), 2L -> (5L, 2L, 0L)))
    Incremental.applySpanBatch(spark, b1, 1L, state, n = 3,
      nGramShards = 8, nDocShards = 8)
    val afterB1 = verdicts()
    // retraction: doc 0's "a b c" (window start 0 → tokens 0..2) is now
    // corpus-duplicated; doc 3's occurrence (start 1 → tokens 1..3) too
    assert(afterB1 == Map(
      0L -> (5L, 2L, 0L), 1L -> (5L, 2L, 0L), 2L -> (5L, 2L, 0L),
      3L -> (5L, 2L, 0L)))
    // at-least-once retry: replaying batch 1 changes nothing
    Incremental.applySpanBatch(spark, b1, 1L, state, n = 3,
      nGramShards = 8, nDocShards = 8)
    assert(verdicts() == afterB1)
    // and the maintained verdicts equal the from-scratch batch scrub
    val batch = graft.llm.Dedup.scrubDuplicateSpans(
      b0.unionByName(b1), "doc_id", "text", n = 3, minCount = 2)
      .select("doc_id", "n_tok", "n_kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(afterB1.view.mapValues(v => (v._1, v._2)).toMap == batch)
  }

  test("full-funnel report reflects RETROACTIVE span flips without reprocessing") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 0 (source a, batch 0) passes every stage; batch 1 brings doc 1
    // (source b) whose whole text equals 15 consecutive tokens of doc 0 —
    // the shared 15-gram crosses to duplicated, covering 15 of doc 0's 20
    // tokens (> 50%), so doc 0's span verdict flips AFTER its funnel
    // contribution was counted. The report must reflect the flip because
    // span verdicts are read at REPORT time — no batch-0 reprocessing.
    val work = java.nio.file.Files.createTempDirectory("graft_retro").toString
    val t0 = (1 to 20).map(i => s"w$i").mkString(" ")
    val t1 = (2 to 16).map(i => s"w$i").mkString(" ")
    def enrich(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), col("source"), md5(col("text")).as("norm_key"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      lit(1L).as("ok_rules"), lit(1L).as("ok_clf"))
    def apply(id: Long, rows: Seq[(Long, String, String)]): Unit = {
      val df = rows.toDF("doc_id", "source", "text")
      Incremental.applySpanBatch(spark, df, id, s"$work/state/span",
        n = 15, nGramShards = 8, nDocShards = 8)
      Incremental.applyCurationBatch(spark, enrich(df), id,
        s"$work/state/key", s"$work/state/delta", nShards = 8)
    }
    def rep() = Incremental.fullFunnelReport(spark, s"$work/state")
      .orderBy("source").collect().map(_.mkString(",")).toSeq
    apply(0L, Seq((0L, "a", t0)))
    assert(rep() == Seq("a,1,1,1,1,1,20")) // doc 0 fully kept
    apply(1L, Seq((1L, "b", t1)))
    // doc 0: 15/20 tokens covered -> flipped out at the span stage; doc 1:
    // fully covered. docs_in/after_dedup/after_rules stay (delta-derived)
    assert(rep() == Seq("a,1,1,1,0,0,0", "b,1,1,1,0,0,0"))
  }

  test("near-dup index: per-batch state read prunes to the batch's bucket prefixes") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    // Build a 3-batch posting index, then measure the FILES a pruned read
    // actually opens (input_file_name over the filtered read): restricting
    // to a small bucket-prefix set + earlier batches must touch strictly
    // fewer files than the index holds — the property that makes per-batch
    // state access O(touched prefixes) instead of O(history).
    val work = java.nio.file.Files.createTempDirectory("graft_ndprune").toString
    val state = s"$work/state"
    val docs = graft.tools.ScaleProbe.corpus(spark, 600)
      .withColumn("source", lit("s"))
    for (k <- 0 until 3) {
      val bt = docs.filter(pmod(col("doc_id"), lit(3)) === k)
        .select(col("doc_id"), col("source"),
          graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
      Incremental.applyNearDupBatch(spark, bt, k.toLong, state,
        bands = 16, rowsPerBand = 2, thresholdPct = 70)
    }
    val idx = spark.read.parquet(s"$state/idx")
    val totalFiles = idx.select(input_file_name()).distinct().count()
    val prunedFiles = idx
      .filter(col("bp").isin(0L, 1L, 2L, 3L) && col("batch") < 2)
      .select(input_file_name()).distinct().count()
    assert(totalFiles >= 64, s"expected one file per (bp, batch): $totalFiles")
    assert(prunedFiles <= 8 && prunedFiles < totalFiles / 8,
      s"pruned read opened $prunedFiles of $totalFiles files")
    // postings carry the signature: verification is a projection of the
    // candidate join, no second state fetch
    assert(idx.columns.toSet ==
      Set("band", "bucket", "doc_id", "sig", "bp", "batch"))
  }

  test("embedding near-dup: keep-first across batches, replay no-op, " +
      "pruned bucket read") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_embdup_spec")
      .toString
    val state = s"$work/state"
    // quantized 4-dim-prefix vectors: ids 1/2 are near-identical (same
    // bucket 15, cosine ≈ 1), id 3 shares their bucket but is orthogonal
    // enough to stay kept, id 4 lives in another bucket entirely
    def v(sgn: Long, tail: Long*) =
      Array(sgn * 500L, 500L, 500L, 500L) ++ tail
    val b0 = Seq(
      (1L, v(1, 500L, 0L)), (3L, v(1, -500L, 0L)), (4L, v(-1, 0L, 500L)))
      .toDF("doc_id", "qv")
    Incremental.applyEmbDupBatch(spark, b0, 0L, state)
    val d0 = spark.read.parquet(s"$state/decisions")
      .select("doc_id", "kept").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(d0 == Map(1L -> 1L, 3L -> 1L, 4L -> 1L)) // nothing similar yet
    // batch 1: id 2 duplicates id 1 (dropped, matched to 1); replay of
    // batch 1 must leave every decision identical (at-least-once retry)
    val b1 = Seq((2L, v(1, 499L, 1L))).toDF("doc_id", "qv")
    Incremental.applyEmbDupBatch(spark, b1, 1L, state)
    def decisions() = rows(spark.read.parquet(s"$state/decisions")
      .select("doc_id", "kept", "matched_id", "batch")
      .orderBy("doc_id")).map(_.toString)
    val after1 = decisions()
    assert(spark.read.parquet(s"$state/decisions")
      .filter(col("doc_id") === 2L).select("kept", "matched_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    Incremental.applyEmbDupBatch(spark, b1, 1L, state)
    assert(decisions() == after1, "replayed batch changed decisions")
    // the per-batch history read is bucket-pruned: a read filtered to one
    // bucket + earlier batches opens strictly fewer index files
    val idx = spark.read.parquet(s"$state/idx")
    val total = idx.select(input_file_name()).distinct().count()
    val pruned = idx.filter(col("bucket") === 15L && col("batch") < 1L)
      .select(input_file_name()).distinct().count()
    assert(pruned < total, s"pruned read opened $pruned of $total files")
    // postings carry the quantized vector + norm: verification is a
    // projection of the bucket join, no second state fetch
    assert(idx.columns.toSet == Set("doc_id", "qv", "n2", "bucket", "batch"))
  }

  test("incremental decontamination: a later benchmark arrival " +
      "RETROACTIVELY flips an earlier training doc; replay is a no-op") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_contam_spec")
      .toString
    val state = s"$work/state"
    def verd() = spark.read.parquet(s"$state/ver")
      .select("doc_id", "n_grams", "n_matched")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch 0: two training docs, no benchmark yet — both clean
    val b0 = Seq(
      (1L, "s", "alpha beta gamma delta epsilon", false),
      (2L, "s", "one two three four", false))
      .toDF("doc_id", "source", "text", "is_eval")
    Incremental.applyContamBatch(spark, b0, 0L, state, n = 4)
    assert(verd() == Map(1L -> (2L, 0L), 2L -> (1L, 0L)))
    // batch 1: a benchmark doc sharing doc 1's first 4-gram arrives —
    // doc 1 must flip retroactively; doc 2 stays clean. A same-batch
    // training doc sharing the gram is flagged immediately.
    val b1 = Seq(
      (100L, "s", "alpha beta gamma delta", true),
      (3L, "s", "alpha beta gamma delta zeta", false))
      .toDF("doc_id", "source", "text", "is_eval")
    Incremental.applyContamBatch(spark, b1, 1L, state, n = 4)
    val after1 = verd()
    assert(after1 == Map(1L -> (2L, 1L), 2L -> (1L, 0L), 3L -> (2L, 1L)),
      s"retro flip missing: $after1")
    // replay of batch 1 (at-least-once retry): counts must not double —
    // the benchmark-set anti-join finds nothing new and the verdict
    // shards' bmax guard skips the applied merge
    Incremental.applyContamBatch(spark, b1, 1L, state, n = 4)
    assert(verd() == after1, "replayed batch changed verdicts")
    // a SECOND benchmark doc with the same gram adds no new gram — no
    // double count on doc 1
    val b2 = Seq((101L, "s", "alpha beta gamma delta", true))
      .toDF("doc_id", "source", "text", "is_eval")
    Incremental.applyContamBatch(spark, b2, 2L, state, n = 4)
    assert(verd()(1L) == (2L, 1L), "duplicate benchmark gram double-counted")
  }

  test("incremental join MV: facts join LATE when their dimension " +
      "arrives; replay is a no-op") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_joinmv_spec")
      .toString + "/state"
    def mk(rows: Seq[(Long, String, java.lang.Long, String)]) =
      rows.toDF("okey", "side", "lv", "ov")
    def mv() = Incremental.joinMv(spark, state, "okey")
      .orderBy("okey", "lv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // batch 0: two facts for key 1, no dimension yet → MV stays empty
    Incremental.applyJoinBatch(spark,
      mk(Seq((1L, "l", 10L, null), (1L, "l", 11L, null))),
      0L, state, "okey", Seq("lv"), Seq("ov"))
    // no dimension yet → the MV surface has nothing committed at all
    assert(!new java.io.File(s"$state/mv").exists())
    // batch 1: the dimension arrives WITH one more fact — the two waiting
    // facts join late (L_old ⋈ ΔO) and the in-batch fact joins once
    // (ΔL ⋈ ΔO, counted exactly once)
    val b1 = mk(Seq((1L, "o", null, "A"), (1L, "l", 12L, null)))
    Incremental.applyJoinBatch(spark, b1, 1L, state, "okey",
      Seq("lv"), Seq("ov"))
    val after1 = Seq((1L, 10L, "A"), (1L, 11L, "A"), (1L, 12L, "A"))
    assert(mv() == after1, s"late join wrong: ${mv()}")
    // replay (at-least-once retry): bmax guards skip every surface
    Incremental.applyJoinBatch(spark, b1, 1L, state, "okey",
      Seq("lv"), Seq("ov"))
    assert(mv() == after1, "replayed batch duplicated MV rows")
    // batch 2: a fact for a key whose dimension is already old state
    Incremental.applyJoinBatch(spark,
      mk(Seq((1L, "l", 13L, null))), 2L, state, "okey", Seq("lv"), Seq("ov"))
    assert(mv() == after1 :+ ((1L, 13L, "A")))
  }

  test("incremental sessionization: a late event MERGES two stored " +
      "sessions; replay is a no-op") {
    import graft.streaming.Incremental
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_sess_spec")
      .toString + "/state"
    val m = 60L * 1000000 // one minute in µs
    def sessions() = Incremental.sessionTable(spark, state)
      .orderBy("user_id", "sess_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // batch 0: two events 40 min apart → two sessions (gap 30 min)
    Incremental.applySessionBatch(spark,
      Seq((1L, 0L), (1L, 40 * m)).toDF("user_id", "ts_us"), 0L, state)
    assert(sessions() == Seq((1L, 0L, 0L, 1L), (1L, 40 * m, 40 * m, 1L)))
    // batch 1: a LATE event between them bridges both gaps — the two
    // stored sessions must merge into one
    Incremental.applySessionBatch(spark,
      Seq((1L, 20 * m)).toDF("user_id", "ts_us"), 1L, state)
    assert(sessions() == Seq((1L, 0L, 40 * m, 3L)),
      s"late event did not merge sessions: ${sessions()}")
    // replay (at-least-once retry): n counts make the merge non-idempotent
    // by algebra — the per-shard bmax guard is what keeps it exact
    Incremental.applySessionBatch(spark,
      Seq((1L, 20 * m)).toDF("user_id", "ts_us"), 1L, state)
    assert(sessions() == Seq((1L, 0L, 40 * m, 3L)),
      "replayed batch double-counted")
  }

  test("incremental CDC apply: highest (batch, seq) wins, delete then " +
      "re-create, replay no-op") {
    import graft.streaming.Incremental
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_cdc_spec")
      .toString + "/state"
    def table() = Incremental.cdcTable(spark, state, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b0 = Seq((1L, "a", "I", 0L), (2L, "b", "I", 1L), (17L, "c", "I", 2L))
      .toDF("k", "v", "op", "seq")
    Incremental.applyCdcBatch(spark, b0, 0L, state, "k")
    assert(table() == Map(1L -> "a", 2L -> "b", 17L -> "c"))
    // batch 1: update (with an out-of-order multi-change key — the
    // highest in-batch seq must win), delete, insert
    val b1 = Seq((1L, "a2", "U", 1L), (1L, "a3", "U", 5L),
      (2L, "b", "D", 2L), (3L, "d", "I", 3L))
      .toDF("k", "v", "op", "seq")
    Incremental.applyCdcBatch(spark, b1, 1L, state, "k")
    val after1 = table()
    assert(after1 == Map(1L -> "a3", 3L -> "d", 17L -> "c"), s"$after1")
    // replay (at-least-once retry): the per-shard bmax guard skips it —
    // in particular the deleted key must NOT resurrect
    Incremental.applyCdcBatch(spark, b1, 1L, state, "k")
    assert(table() == after1, "replayed changeset altered the table")
    // a later batch re-creates the deleted key
    Incremental.applyCdcBatch(spark,
      Seq((2L, "b2", "I", 1L)).toDF("k", "v", "op", "seq"), 2L, state, "k")
    assert(table() ==
      Map(1L -> "a3", 2L -> "b2", 3L -> "d", 17L -> "c"))
  }

  test("embdup compaction: reads identical, folded replay no-op, retro " +
      "candidates found in the base partitions") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_embcmp_spec")
      .toString
    val state = s"$work/state"
    def v(sgn: Long, tail: Long*) =
      Array(sgn * 500L, 500L, 500L, 500L) ++ tail
    val b0 = Seq((1L, v(1, 500L, 0L)), (4L, v(-1, 0L, 500L)))
      .toDF("doc_id", "qv")
    val b1 = Seq((3L, v(1, -500L, 0L))).toDF("doc_id", "qv")
    Incremental.applyEmbDupBatch(spark, b0, 0L, state)
    Incremental.applyEmbDupBatch(spark, b1, 1L, state)
    def dec() = rows(Incremental.embDecisions(spark, state)
      .select("doc_id", "kept", "matched_id", "batch")
      .orderBy("doc_id")).map(_.toString)
    val before = dec()
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(p))
    }
    val filesBefore = parquetFiles(s"$state/idx")
    Incremental.compact(spark, state, upToBatch = 1L)
    assert(dec() == before, "compaction changed the decision read")
    assert(parquetFiles(s"$state/idx") == 0 &&
      parquetFiles(s"$state/idx_base") > 0 &&
      parquetFiles(s"$state/idx_base") < filesBefore,
      "fold did not shrink the posting file count")
    // a replay of a folded batch is a guarded no-op (highwater)
    Incremental.applyEmbDupBatch(spark, b1, 1L, state)
    assert(dec() == before, "folded-batch replay changed state")
    // a NEW batch's duplicate of a folded doc must match against the BASE
    // partitions (same bucket, near-identical vector → dropped, matched 1)
    Incremental.applyEmbDupBatch(spark,
      Seq((9L, v(1, 499L, 1L))).toDF("doc_id", "qv"), 2L, state)
    val d9 = Incremental.embDecisions(spark, state)
      .filter(col("doc_id") === 9L).select("kept", "matched_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(d9 == Seq((0L, 1L)), s"base-partition candidate missed: $d9")
  }

  test("contam compaction: a crossing AFTER the fold still retro-flips a " +
      "doc whose posting lives in tg_base") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ctcmp_spec")
      .toString
    val state = s"$work/state"
    def verd() = spark.read.parquet(s"$state/ver")
      .select("doc_id", "n_matched")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, "s", "alpha beta gamma delta epsilon", false))
      .toDF("doc_id", "source", "text", "is_eval")
    Incremental.applyContamBatch(spark, b0, 0L, state, n = 4)
    Incremental.compact(spark, state, upToBatch = 0L)
    assert(verd() == Map(1L -> 0L))
    // replay of the folded batch: guarded no-op (would otherwise
    // duplicate the folded postings)
    Incremental.applyContamBatch(spark, b0, 0L, state, n = 4)
    assert(verd() == Map(1L -> 0L))
    // the benchmark gram arrives AFTER the fold — the retro probe must
    // find doc 1's posting in tg_base
    val b1 = Seq((100L, "s", "alpha beta gamma delta", true))
      .toDF("doc_id", "source", "text", "is_eval")
    Incremental.applyContamBatch(spark, b1, 1L, state, n = 4)
    assert(verd() == Map(1L -> 1L), s"retro flip missed tg_base: ${verd()}")
  }

  test("incremental CC: lazy relabel through compressed forwarding, " +
      "replay + marker-less retry converge, compaction folds") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_inccc_spec")
      .toString
    val state = s"$work/state"
    def labels() = Incremental.ccLabels(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def stored() = spark.read.parquet(s"$state/lbl")
      .select("v", "lbl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 0: two separate components
    Incremental.applyCcBatch(spark,
      Seq((1L, 2L), (5L, 6L)).toDF("a", "b"), 0L, state)
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // batch 1: one edge merges them — NO member rows are rewritten; the
    // stored label of vertex 6 stays stale (5) and resolves through fwd
    Incremental.applyCcBatch(spark, Seq((2L, 5L)).toDF("a", "b"), 1L, state)
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    // a brand-new vertex stores its PRE-merge root (itself) — stale from
    // the start; resolution always goes through the forwarding snapshot
    assert(stored()(6L) == 6L, "lazy relabel: stored label must stay stale")
    // committed replay: the _applied marker makes it a guarded no-op
    Incremental.applyCcBatch(spark, Seq((2L, 5L)).toDF("a", "b"), 1L, state)
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    // batch 2: a smaller vertex takes over as the component min — every
    // forwarding entry re-points (path compression: no dst is ever a src)
    Incremental.applyCcBatch(spark, Seq((0L, 1L)).toDF("a", "b"), 2L, state)
    assert(labels() ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L))
    def fwdRows() = spark.read
      .parquet(s"$state/fwd/batch=2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fwd2 = fwdRows()
    assert(fwd2.values.toSet.intersect(fwd2.keySet).isEmpty,
      s"forwarding not compressed: $fwd2")
    // marker-less retry (crash after all writes, before the commit
    // marker): re-running the batch must converge to the identical state
    // — pre-merge-root inserts make every write recompute bit-identically
    new java.io.File(state, "_applied").delete()
    Incremental.applyCcBatch(spark, Seq((0L, 1L)).toDF("a", "b"), 2L, state)
    assert(labels() ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L))
    assert(fwdRows() == fwd2, "retry rewrote a different forwarding table")
    // compaction folds fwd into lbl (global path compression) and later
    // batches start from the folded state
    Incremental.compactCc(spark, state, upToBatch = 2L)
    assert(stored() ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L))
    assert(labels() ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L))
    Incremental.applyCcBatch(spark, Seq((6L, 9L)).toDF("a", "b"), 3L, state)
    assert(labels()(9L) == 0L, "post-compaction batch missed the fold")
  }

  test("incremental near-dup maxBucket cap: equals the batch path's drop " +
      "rule, kills a bucket at its crossing batch, dead buckets stay dead") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ndcap").toString
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    def docsDf(ids: Seq[Long], text: String) = ids.map(i => (i, text))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    def enrich(bt: org.apache.spark.sql.DataFrame) =
      bt.select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32)
          .as("sig"))
    def apply(state: String, ids: Seq[Long], batch: Long, cap: Int,
        text: String = boiler): Unit =
      Incremental.applyNearDupBatch(spark, enrich(docsDf(ids, text)), batch,
        state, bands = 16, rowsPerBand = 2, thresholdPct = 70,
        maxBucket = cap)
    def kept(state: String): Map[Long, Long] =
      spark.read.parquet(s"$state/decisions").select("doc_id", "kept")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (1) batch-path equivalence on a single arrival: 12 identical docs
    // over cap 8 — every band bucket has population 12 > 8, so the batch
    // path's capBuckets drops them all (zero candidates) and the capped
    // incremental screen must agree: zero pairs, everything kept
    val batchCands = graft.llm.Dedup.minhashCandidates(
      docsDf(0L to 11L, boiler), "doc_id", "text",
      bands = 16, rowsPerBand = 2, maxBucket = 8)
    assert(batchCands.count() == 0L, "batch path should cap the bucket")
    val s1 = s"$work/s1"
    apply(s1, 0L to 11L, 0L, cap = 8)
    assert(Incremental.parquetIfAny(spark, s"$s1/pairs")
      .map(_.count()).getOrElse(0L) == 0L)
    assert(kept(s1).values.forall(_ == 1L), "capped bucket must match nothing")
    // ...and with the cap ABOVE the population both paths pair them up
    assert(graft.llm.Dedup.minhashCandidates(docsDf(0L to 11L, boiler),
      "doc_id", "text", bands = 16, rowsPerBand = 2,
      maxBucket = 1000).count() > 0L)
    val s2 = s"$work/s2"
    apply(s2, 0L to 11L, 0L, cap = 1000)
    assert(kept(s2) == (0L to 11L).map(i => i -> (if (i == 0L) 1L else 0L))
      .toMap, "under the cap, keep-first applies")
    // (2) the crossing batch: pop 5 ≤ 8 pairs normally, then +7 copies
    // crosses to 12 > 8 — the bucket dies AT that batch (its dupes kept),
    // and stays dead for later arrivals; the audit table records the death
    val s3 = s"$work/s3"
    apply(s3, 0L to 4L, 0L, cap = 8)
    assert(kept(s3) == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    apply(s3, 20L to 26L, 1L, cap = 8)
    val k3 = kept(s3)
    assert((20L to 26L).forall(k3(_) == 1L),
      "crossing batch must generate no candidates from the dead bucket")
    val dead1 = Incremental.ndDeadBuckets(spark, s3)
      .filter(col("batch") === 1L)
    assert(dead1.count() == 16L, "16 bands × 1 monster bucket die at batch 1")
    assert(dead1.agg(min("pop"), max("pop")).collect()(0).toSeq ==
      Seq(12L, 12L), "population at death = 5 history + 7 batch")
    apply(s3, Seq(30L), 2L, cap = 8)
    assert(kept(s3)(30L) == 1L, "dead bucket stays dead")
    assert(Incremental.ndDeadBuckets(spark, s3)
      .filter(col("batch") === 2L).count() == 0L,
      "a dead bucket must not be re-recorded")
    // an under-cap near-dup group in the SAME arrivals still matches
    apply(s3, Seq(40L, 41L), 3L,
      cap = 8, text = "one two three four five six seven")
    assert(kept(s3)(40L) == 1L && kept(s3)(41L) == 0L,
      "live buckets keep matching while the dead one is excluded")
    // (3) replay idempotence: re-applying the crossing batch is bit-stable
    apply(s3, Seq(30L), 2L, cap = 8)
    assert(kept(s3) == (k3 ++ Map(30L -> 1L, 40L -> 1L, 41L -> 0L)))
    // (4) compaction folds the dead table and the cap survives the fold
    Incremental.compactNearDup(spark, s3, upToBatch = 3L)
    assert(Incremental.ndDeadBuckets(spark, s3).count() == 16L)
    apply(s3, Seq(50L), 4L, cap = 8)
    assert(kept(s3)(50L) == 1L, "dead-ness must survive compaction")
  }

  test("incremental embedding near-dup maxBucket cap: crossing batch kills " +
      "the sign-bucket, live buckets unaffected, audit recorded") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_embcap").toString
    val state = s"$work/state"
    // all-positive first-4 components → bucket 15; near-identical vectors
    val boilerQv = Seq(100L, 100L, 100L, 100L, 50L, 50L)
    // bucket 0 (all-negative first 4): a small live near-dup pair
    val otherQv = Seq(-100L, -100L, -100L, -100L, 80L, 10L)
    def vecs(ids: Seq[Long], qv: Seq[Long]) =
      ids.map(i => (i, qv)).toDF("doc_id", "qv")
    def kept(): Map[Long, Long] =
      spark.read.parquet(s"$state/decisions").select("doc_id", "kept")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 0: 4 boilerplate copies, pop 4 ≤ 6 → keep-first applies
    Incremental.applyEmbDupBatch(spark, vecs(0L to 3L, boilerQv), 0L, state,
      nBits = 4, thresholdPct = 80, maxBucket = 6)
    assert(kept() == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // batch 1: +6 copies crosses to 10 > 6 — bucket 15 dies AT this batch
    // (all 6 kept), while the bucket-0 pair in the same batch still matches
    Incremental.applyEmbDupBatch(spark,
      vecs(10L to 15L, boilerQv).unionByName(vecs(Seq(20L, 21L), otherQv)),
      1L, state, nBits = 4, thresholdPct = 80, maxBucket = 6)
    val k1 = kept()
    assert((10L to 15L).forall(k1(_) == 1L),
      "crossing batch must generate no candidates from the dead bucket")
    assert(k1(20L) == 1L && k1(21L) == 0L, "live bucket still matches")
    val dead = Incremental.embDeadBuckets(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dead.toSeq == Seq((15L, 10L, 1L)),
      s"expected bucket 15 dead at batch 1 with pop 10, got ${dead.toSeq}")
    // batch 2: the dead bucket stays dead; replay is a no-op
    Incremental.applyEmbDupBatch(spark, vecs(Seq(30L), boilerQv), 2L, state,
      nBits = 4, thresholdPct = 80, maxBucket = 6)
    assert(kept()(30L) == 1L, "dead bucket stays dead")
    Incremental.applyEmbDupBatch(spark, vecs(Seq(30L), boilerQv), 2L, state,
      nBits = 4, thresholdPct = 80, maxBucket = 6)
    assert(kept() == k1 ++ Map(30L -> 1L))
    // compaction folds dead/ and the cap survives the fold
    Incremental.compactEmbDup(spark, state, upToBatch = 2L)
    assert(Incremental.embDeadBuckets(spark, state).count() == 1L)
    Incremental.applyEmbDupBatch(spark, vecs(Seq(40L), boilerQv), 3L, state,
      nBits = 4, thresholdPct = 80, maxBucket = 6)
    assert(kept()(40L) == 1L, "dead-ness must survive compaction")
  }

  test("embedding quantization overflow guard: n2 above the int64-safe " +
      "bound fails fast instead of wrapping") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_embovf").toString
    // n2 = 128 × 500² = 3.2e7 > 3.0e7 — the documented overflow regime
    val big = Seq((1L, Seq.fill(128)(500L))).toDF("doc_id", "qv")
    val e = intercept[IllegalArgumentException] {
      Incremental.applyEmbDupBatch(spark, big, 0L, s"$work/state")
    }
    assert(e.getMessage.contains("int64-safe"))
  }

  test("single-writer lease: a foreign holder blocks with a clear error, " +
      "an in-process second thread fails fast, release is exception-safe") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_lease").toString
    val state = s"$work/state"
    def applyOne(batch: Long): Unit =
      Incremental.applyCdcBatch(spark,
        Seq((1L, "I", batch, "a")).toDF("k", "op", "seq", "v"),
        batch, state, "k")
    // (1) a stale lease from another (dead) maintainer blocks with the
    // file to delete; deleting it reclaims the dir
    new java.io.File(state).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state, "_lease"), "12345@deadhost")
    val e1 = intercept[IllegalStateException] { applyOne(0L) }
    assert(e1.getMessage.contains("leased by '12345@deadhost'"))
    assert(e1.getMessage.contains("_lease"))
    new java.io.File(state, "_lease").delete()
    applyOne(0L) // reclaimed: proceeds and releases
    assert(!new java.io.File(state, "_lease").exists(),
      "lease must be released after a successful batch")
    // (2) concurrent in-process maintainers: one holds, the other errors
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      Incremental.withLease(state) { held.countDown(); release.await() })
    holder.start(); held.await()
    val e2 = intercept[IllegalStateException] { applyOne(1L) }
    assert(e2.getMessage.contains("single-writer"))
    release.countDown(); holder.join()
    // (3) an exception inside the body still releases both layers
    intercept[RuntimeException] {
      Incremental.withLease(state) { throw new RuntimeException("boom") }
    }
    applyOne(1L) // lease is free again
    assert(Incremental.cdcTable(spark, state, "k").count() == 1L)
  }

  test("stale-lease recovery: a provably dead same-host holder is broken " +
      "and logged, a live same-host pid still blocks, cross-host blocks") {
    import graft.streaming.Incremental
    import spark.implicits._
    assume(new java.io.File("/proc/self").exists(),
      "liveness probe needs procfs")
    val work = java.nio.file.Files.createTempDirectory("graft_lease3").toString
    val state = s"$work/state"
    def applyOne(batch: Long): Unit =
      Incremental.applyCdcBatch(spark,
        Seq((1L, "I", batch, "a")).toDF("k", "op", "seq", "v"),
        batch, state, "k")
    val thisHost = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.split("@")(1)
    new java.io.File(state).mkdirs()
    // (1) dead pid on THIS host (pid_max caps real pids well below this):
    // auto-broken, the batch proceeds, lease released after
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state, "_lease"), s"999999999@$thisHost")
    applyOne(0L)
    assert(!new java.io.File(state, "_lease").exists(),
      "broken-then-taken lease must be released after the batch")
    assert(Incremental.cdcTable(spark, state, "k").count() == 1L)
    // (2) a LIVE pid on this host (our own) still blocks
    val myPid = ProcessHandle.current().pid()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state, "_lease"), s"$myPid@$thisHost")
    val e1 = intercept[IllegalStateException] { applyOne(1L) }
    assert(e1.getMessage.contains("leased by"))
    new java.io.File(state, "_lease").delete()
    // (3) a cross-host holder has no liveness oracle here: still blocks
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state, "_lease"), "12345@some-other-host")
    val e2 = intercept[IllegalStateException] { applyOne(1L) }
    assert(e2.getMessage.contains("leased by '12345@some-other-host'"))
    new java.io.File(state, "_lease").delete()
    applyOne(1L)
  }

  test("IVF reads serve the pre-refresh snapshot while a crashed refresh " +
      "is pending; maintainers fail fast; the re-run swap is still exact") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions._
    val work =
      java.nio.file.Files.createTempDirectory("graft_ivf_serve").toString
    val state = s"$work/state"
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2000)) - 1000) / 1000.0)
          .cast("float")).as("embedding")).persist()
    Similarity.applyIvfIndexBatch(spark, vecs.filter(col("vec_id") % 2 === 0),
      0L, state, "vec_id", "embedding", nlist = 4)
    Similarity.applyIvfIndexBatch(spark, vecs.filter(col("vec_id") % 2 === 1),
      1L, state, "vec_id", "embedding", nlist = 4)
    def answers(nprobe: Int) = Similarity.queryIvfIndex(spark, state,
      vecs.limit(20), "vec_id", "embedding", k = 1, nprobe = nprobe)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = answers(4)
    // simulate a refresh crashed between its two surface swaps: centroids
    // already promoted to a DIFFERENT (here: corrupted — every component
    // negated) generation with the retiree preserved, posts untouched,
    // the pending marker up. A reader on the primaries would probe the
    // wrong lists; the retiree fallback must keep it on the pre-refresh
    // pair.
    val marker = graft.streaming.Incremental.reshardMarkerFile(state)
    java.nio.file.Files.writeString(marker.toPath, "pending")
    val cdir = new java.io.File(state, "centroids")
    assert(cdir.renameTo(new java.io.File(state, "_centroids.old")))
    spark.read.parquet(s"$state/_centroids.old")
      .select(col("cid"), transform(col("centroid"), x => -x).as("centroid"))
      .coalesce(1).write.parquet(s"$state/centroids")
    assert(answers(4) == pre,
      "queries during a crashed refresh must serve the pre-refresh snapshot")
    // maintainers still fail fast on the marker
    val e = intercept[IllegalArgumentException](
      Similarity.applyIvfIndexBatch(spark, vecs.limit(5), 2L, state,
        "vec_id", "embedding", nlist = 4))
    assert(e.getMessage.contains("interrupted mid-swap"))
    // the re-run converges: marker cleared, answers exact at the (grown)
    // nprobe = nlist, corrupted primary discarded, retirees vacuumed
    Similarity.compactIvf(spark, state, upToBatch = 1L, newNlist = 5)
    assert(!marker.exists(), "completed refresh must clear the marker")
    assert(answers(5) == pre, "re-run refresh must stay exact")
    for (name <- Seq("posts", "centroids")) {
      assert(new java.io.File(state, name).exists())
      assert(!new java.io.File(state, s"_$name.old").exists(),
        "retiree must be vacuumed once the marker is down")
    }
    vecs.unpersist(blocking = false)
  }

  test("foldBatches double-crash repair: with base retired to _base.old, " +
      "a re-run folds from the retiree and never deletes it pre-promote") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_fold2").toString
    val state = s"$work/state"
    def enrich(ids: Seq[Long]) = ids
      .map(i => (i, "same boilerplate text for everyone here"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
      .select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32)
          .as("sig"))
    Incremental.applyNearDupBatch(spark, enrich(Seq(1L, 2L)), 0L, state,
      bands = 16, rowsPerBand = 2, thresholdPct = 70)
    Incremental.compactNearDup(spark, state, upToBatch = 0L)
    Incremental.applyNearDupBatch(spark, enrich(Seq(3L)), 1L, state,
      bands = 16, rowsPerBand = 2, thresholdPct = 70)
    val before = Incremental.ndDecisions(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(before == Set(1L, 2L, 3L))
    // simulate the prior fold having crashed BETWEEN its two renames: the
    // base lives only under _<base>.old (the exact double-crash window the
    // round-13 advice flagged — the old repair deleted the retiree before
    // promoting, so a second crash lost all folded history)
    for (base <- Seq("idx_base", "pairs_base", "decisions_base")) {
      val b = new java.io.File(state, base)
      assert(b.renameTo(new java.io.File(state, s"_$base.old")),
        s"test setup: failed to retire $base")
    }
    Incremental.compactNearDup(spark, state, upToBatch = 1L)
    val after = Incremental.ndDecisions(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 2L, 3L),
      "re-run must recover the folded history from the retiree")
    for (base <- Seq("idx_base", "pairs_base", "decisions_base")) {
      assert(!new java.io.File(state, s"_$base.old").exists(),
        "retiree must be vacuumed after the successful promote")
      assert(new java.io.File(state, base).exists())
    }
  }

  test("IVF centroid refresh: exactness survives the swap, nlist grows, " +
      "late replay is a no-op, restart-during-swap converges") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_civf_spec").toString
    val state = s"$work/state"
    // deterministic 8-dim vectors (hash-driven, like the embeddings table)
    val vecs = spark.range(120).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2000)) - 1000) / 1000.0)
          .cast("float")).as("embedding")).persist()
    def batchOf(k: Int) = vecs.filter(col("vec_id") % 2 === k)
    Similarity.applyIvfIndexBatch(spark, batchOf(0), 0L, state,
      "vec_id", "embedding", nlist = 4)
    Similarity.applyIvfIndexBatch(spark, batchOf(1), 1L, state,
      "vec_id", "embedding", nlist = 4)
    def queryAll(nprobe: Int) = Similarity.queryIvfIndex(spark, state,
      vecs.limit(30), "vec_id", "embedding", k = 1, nprobe = nprobe)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.bruteForceTopK(vecs, vecs.limit(30),
      "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(queryAll(nprobe = 4) == exact)
    // refresh with nlist growth: still exactly brute force at nprobe=nlist
    Similarity.compactIvf(spark, state, upToBatch = 1L, newNlist = 6)
    assert(queryAll(nprobe = 6) == exact,
      "centroid refresh must be invisible at nprobe = nlist")
    // late replay of a folded batch: guarded no-op (would otherwise write
    // stale-centroid assignments over refreshed partitions)
    Similarity.applyIvfIndexBatch(spark, batchOf(0), 0L, state,
      "vec_id", "embedding", nlist = 6)
    assert(queryAll(nprobe = 6) == exact, "late replay must be a no-op")
    // restart-during-swap: simulate a crash between the two promotes (one
    // surface retired to _<name>.old, the primary gone) — re-running the
    // same compact must converge and vacuum the retirees
    for (name <- Seq("posts", "centroids")) {
      val d = new java.io.File(state, name)
      assert(d.renameTo(new java.io.File(state, s"_$name.old")))
    }
    Similarity.compactIvf(spark, state, upToBatch = 1L, newNlist = 6)
    assert(queryAll(nprobe = 6) == exact, "re-run after crash must converge")
    for (name <- Seq("posts", "centroids")) {
      assert(new java.io.File(state, name).exists())
      assert(!new java.io.File(state, s"_$name.old").exists(),
        "retiree must be vacuumed after the promote")
    }
    vecs.unpersist(blocking = false)
  }

  test("IVF centroid refresh: recall on a DRIFTED corpus recovers to at " +
      "least the fixed-centroid baseline") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions._
    // two planted cluster families: batch 0 draws around centers in one
    // half-space, batch 1 (the drift) around DIFFERENT centers — centroids
    // trained on batch 0 alone crowd the drifted vectors into few lists,
    // so recall@5 at nprobe=2 suffers for drifted queries; retraining at
    // compaction must recover it
    def family(ids: org.apache.spark.sql.Column, base: Double) =
      transform(sequence(lit(0), lit(7)), i =>
        (lit(base) * when(
            pmod(ids + i.cast("long"), lit(4)) === pmod(ids, lit(4)), 1.0)
          .otherwise(0.1) +
          (pmod(xxhash64(ids, i), lit(200)) - 100) / 1000.0).cast("float"))
    val a = spark.range(300).select(col("id").as("vec_id"),
      family(col("id"), 1.0).as("embedding"))
    val b = spark.range(300).select((col("id") + 1000L).as("vec_id"),
      family(col("id"), -1.0).as("embedding"))
    val all = a.unionByName(b).persist()
    val work = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val state = s"$work/state"
    Similarity.applyIvfIndexBatch(spark, a, 0L, state,
      "vec_id", "embedding", nlist = 8)
    Similarity.applyIvfIndexBatch(spark, b, 1L, state,
      "vec_id", "embedding", nlist = 8)
    val queries = all.filter(col("vec_id") % 10 === 1) // both families
    val truth = Similarity.bruteForceTopK(all, queries,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(): Double = {
      val got = Similarity.queryIvfIndex(spark, state, queries,
        "vec_id", "embedding", k = 5, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val fixed = recall()
    Similarity.compactIvf(spark, state, upToBatch = 1L)
    val refreshed = recall()
    info(f"recall@5 nprobe=2: fixed=$fixed%.3f refreshed=$refreshed%.3f")
    assert(refreshed >= fixed,
      f"refresh must not lose recall: fixed=$fixed%.3f refreshed=$refreshed%.3f")
    assert(refreshed >= 0.9, f"refreshed recall too low: $refreshed%.3f")
    all.unpersist(blocking = false)
  }

  test("compaction-time re-sharding: reads identical across CDC/join/span " +
      "families, layout pin updates, old count rejected, replay guarded") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_reshard").toString
    // CDC: build at nShards=4, reshard to 16, table identical, pin moved
    val cdc = s"$work/cdc"
    Incremental.applyCdcBatch(spark, (0L until 40L)
      .map(k => (k, "I", k, s"v$k")).toDF("k", "op", "seq", "v"),
      0L, cdc, "k", nShards = 4)
    Incremental.applyCdcBatch(spark,
      Seq((3L, "U", 0L, "updated"), (7L, "D", 1L, "x"))
        .toDF("k", "op", "seq", "v"), 1L, cdc, "k", nShards = 4)
    def cdcRows() = Incremental.cdcTable(spark, cdc, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = cdcRows()
    Incremental.reshardCdc(spark, cdc, newNShards = 16)
    assert(cdcRows() == before, "reshard must not change the table")
    assert(new java.io.File(cdc).listFiles()
      .count(_.getName.startsWith("shard=")) == 16,
      "16 shard partitions after reshard")
    // the pin now requires the new count...
    val e = intercept[IllegalArgumentException] {
      Incremental.applyCdcBatch(spark, Seq((100L, "I", 0L, "new"))
        .toDF("k", "op", "seq", "v"), 2L, cdc, "k", nShards = 4)
    }
    assert(e.getMessage.contains("pinned"))
    // ...and a replay of a pre-reshard batch is guarded (bmax pinned to
    // the global max at reshard): re-applying batch 1 must be a no-op
    Incremental.applyCdcBatch(spark,
      Seq((3L, "U", 0L, "updated"), (7L, "D", 1L, "x"))
        .toDF("k", "op", "seq", "v"), 1L, cdc, "k", nShards = 16)
    assert(cdcRows() == before, "pre-reshard replay must be a no-op")
    // ...and new batches merge correctly at the new layout
    Incremental.applyCdcBatch(spark, Seq((100L, "I", 0L, "new"))
      .toDF("k", "op", "seq", "v"), 2L, cdc, "k", nShards = 16)
    assert(cdcRows() == before + (100L -> "new"))
    // a reshard that crashed mid-swap leaves the sibling pending marker:
    // every maintainer must fail fast until the reshard re-runs
    val marker = new java.io.File(s"$work/_cdc.reshard_pending")
    java.nio.file.Files.writeString(marker.toPath, "pending")
    val eP = intercept[IllegalArgumentException] {
      Incremental.applyCdcBatch(spark, Seq((101L, "I", 0L, "x"))
        .toDF("k", "op", "seq", "v"), 3L, cdc, "k", nShards = 16)
    }
    assert(eP.getMessage.contains("interrupted mid-swap"))
    Incremental.reshardCdc(spark, cdc, newNShards = 16) // re-run clears it
    assert(!marker.exists(), "completed reshard must clear the marker")
    Incremental.applyCdcBatch(spark, Seq((101L, "I", 0L, "x"))
      .toDF("k", "op", "seq", "v"), 3L, cdc, "k", nShards = 16)
    assert(cdcRows()(101L) == "x")
    val expect = cdcRows()
    // worst flat-table crash window: death BETWEEN the two renames — the
    // state dir is retired to _<name>.old and the primary is gone (with
    // _layout inside the retiree). The recovery re-run must read the
    // retiree (data AND layout pin), promote, and clear everything.
    assert(new java.io.File(cdc)
      .renameTo(new java.io.File(s"$work/_cdc.old")), "test setup")
    java.nio.file.Files.writeString(marker.toPath, "pending")
    Incremental.reshardCdc(spark, cdc, newNShards = 16)
    assert(cdcRows() == expect, "mid-swap recovery must restore the table")
    assert(!marker.exists() && !new java.io.File(s"$work/_cdc.old").exists()
      && new java.io.File(cdc, "_layout").exists(),
      "recovery must promote, vacuum the retiree, and carry the pin")
    // JOIN MV: all three surfaces reshard together
    val jn = s"$work/join"
    val lb = Seq((1L, 10L), (2L, 20L)).toDF("okey", "lv")
      .withColumn("side", lit("l"))
    val ob = Seq((1L, 7L)).toDF("okey", "ov").withColumn("side", lit("o"))
    Incremental.applyJoinBatch(spark,
      lb.unionByName(ob, allowMissingColumns = true), 0L, jn, "okey",
      Seq("lv"), Seq("ov"), nShards = 4)
    val mvBefore = Incremental.joinMv(spark, jn, "okey").collect()
      .map(_.toSeq).toSet
    Incremental.reshardJoin(spark, jn, newNShards = 8)
    assert(Incremental.joinMv(spark, jn, "okey").collect()
      .map(_.toSeq).toSet == mvBefore)
    // SPANS: gram + doc surfaces reshard, verdicts identical
    val sp = s"$work/spans"
    val docs = Seq((1L, "s", "a b c d e f g h i j k l m n o p q r"),
      (2L, "s", "a b c d e f g h i j k l m n o p q r"),
      (3L, "s", "totally different words here nothing shared at all " +
        "one two three four five six seven"))
      .toDF("doc_id", "source", "text")
    Incremental.applySpanBatch(spark, docs, 0L, sp, n = 15,
      nGramShards = 4, nDocShards = 4)
    def verdicts() = Incremental.spanVerdicts(spark, sp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val vBefore = verdicts()
    Incremental.reshardSpans(spark, sp, newNGramShards = 16,
      newNDocShards = 8)
    assert(verdicts() == vBefore, "span verdicts must survive the reshard")
    Incremental.applySpanBatch(spark, Seq((9L, "s",
      "a b c d e f g h i j k l m n o p q r"))
      .toDF("doc_id", "source", "text"), 1L, sp, n = 15,
      nGramShards = 16, nDocShards = 8)
    assert(verdicts().contains(9L), "post-reshard batches apply")
  }

  test("CDC per-key duplicate seq within a batch fails fast (contract)") {
    import graft.streaming.Incremental
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_cdcdup").toString
    val bad = Seq((1L, "I", 5L, "a"), (1L, "U", 5L, "b"))
      .toDF("k", "op", "seq", "v")
    val e = intercept[IllegalArgumentException] {
      Incremental.applyCdcBatch(spark, bad, 0L, s"$work/state", "k")
    }
    assert(e.getMessage.contains("duplicate"))
    // distinct seqs on the same key are fine
    val ok = Seq((1L, "I", 5L, "a"), (1L, "U", 6L, "b"))
      .toDF("k", "op", "seq", "v")
    Incremental.applyCdcBatch(spark, ok, 1L, s"$work/state2", "k")
    assert(Incremental.cdcTable(spark, s"$work/state2", "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "b")))
  }

  test("serving reads survive a crashed reshard (retiree fallback) and a " +
      "crashed fold (double-visibility guard); maintainers still fail fast") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_serve").toString
    // ── flat family (CDC): a reshard crashed BETWEEN its two renames
    // leaves the marker up and the data only in _cdc.old. A bare read
    // would throw on the missing primary — or, after a failed maintainer
    // attempt recreates an empty shell, silently return ZERO rows as if
    // the MV were empty. Serving reads must fall back to the retiree.
    val cdc = s"$work/cdc"
    Incremental.applyCdcBatch(spark, (0L until 30L)
      .map(k => (k, "I", k, s"v$k")).toDF("k", "op", "seq", "v"),
      0L, cdc, "k", nShards = 4)
    def cdcRows() = Incremental.cdcTable(spark, cdc, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = cdcRows()
    val marker = Incremental.reshardMarkerFile(cdc)
    java.nio.file.Files.writeString(marker.toPath, "pending")
    assert(new java.io.File(cdc)
      .renameTo(new java.io.File(s"$work/_cdc.old")), "test setup")
    assert(cdcRows() == before,
      "reads during a crashed reshard must serve the retiree snapshot")
    // maintainers must NOT serve stale state — fail fast until the re-run
    val eM = intercept[IllegalArgumentException] {
      Incremental.applyCdcBatch(spark, Seq((99L, "I", 0L, "x"))
        .toDF("k", "op", "seq", "v"), 1L, cdc, "k", nShards = 4)
    }
    assert(eM.getMessage.contains("interrupted mid-swap"))
    // ...and the failed attempt's empty primary shell must not shadow the
    // retiree for readers
    assert(cdcRows() == before,
      "an empty primary shell must not shadow the retiree")
    Incremental.reshardCdc(spark, cdc, newNShards = 8) // recovery re-run
    assert(!marker.exists() && cdcRows() == before,
      "recovery must converge and reads must return to the primary")
    // ── subdir family (CC): lbl/ retired mid-swap under the family marker
    val cc = s"$work/cc"
    Incremental.applyCcBatch(spark, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"),
      0L, cc, nShards = 4)
    Incremental.applyCcBatch(spark, Seq((2L, 3L)).toDF("a", "b"),
      1L, cc, nShards = 4)
    def labels() = Incremental.ccLabels(spark, cc).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lBefore = labels()
    val ccMarker = Incremental.reshardMarkerFile(cc)
    java.nio.file.Files.writeString(ccMarker.toPath, "pending")
    assert(new java.io.File(s"$cc/lbl")
      .renameTo(new java.io.File(s"$cc/_lbl.old")), "test setup")
    assert(labels() == lBefore,
      "ccLabels must serve the retiree label table during a crashed reshard")
    Incremental.reshardCc(spark, cc, newNShards = 8)
    assert(!ccMarker.exists() && labels() == lBefore)
    // ── fold-crash double-visibility: a compact that crashed between its
    // base promote and its live-partition delete leaves folded rows in
    // BOTH the new base and the live batch dirs. The baseLiveUnion guard
    // (live batch > footer-max of base's batch column) must collapse the
    // overlap so ndPairs/ndDecisions stay exact in the window.
    val docs = graft.tools.ScaleProbe.corpus(spark, 300)
      .withColumn("source", lit("s")).persist()
    def enrich(bt: org.apache.spark.sql.DataFrame) =
      bt.select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
    val nd = s"$work/nd"
    for (k <- 0 until 2)
      Incremental.applyNearDupBatch(spark,
        enrich(docs.filter(pmod(col("doc_id"), lit(2)) === k)), k.toLong,
        nd, bands = 16, rowsPerBand = 2, thresholdPct = 70)
    def snap() = (
      Incremental.ndDecisions(spark, nd).collect().map(_.mkString(",")).toSet,
      Incremental.ndPairs(spark, nd).collect().map(_.mkString(",")).toSet)
    val ndBefore = snap()
    // snapshot the live decision/pair partitions, compact, then restore
    // them beside the folded base — exactly the crashed-delete window
    def copyRec(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
          .foreach(f => copyRec(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val saved = s"$work/saved"
    for (sub <- Seq("decisions", "pairs"))
      copyRec(new java.io.File(s"$nd/$sub"), new java.io.File(s"$saved/$sub"))
    Incremental.compactNearDup(spark, nd, upToBatch = 1L)
    assert(snap() == ndBefore) // healthy compacted reads (guard is a no-op)
    for (sub <- Seq("decisions", "pairs"))
      copyRec(new java.io.File(s"$saved/$sub"), new java.io.File(s"$nd/$sub"))
    assert(snap() == ndBefore,
      "folded rows double-visible after a crashed fold must read once")
    docs.unpersist(blocking = false)
  }

  test("delta fold: crash-self-repairing swap, retiree-served report, " +
      "auto-fold cadence bounded and invisible") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val work = java.nio.file.Files.createTempDirectory("graft_deltafold").toString
    def mkBatch(i: Int) = Seq(
      (i * 10L + 1L, "s0", s"k${i}a", 10L + i, 1L, 1L),
      (i * 10L + 2L, "s1", s"k${i}b", 20L + i, 1L, (i % 2).toLong))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    def rep(dl: String) = rows(Incremental.curationReport(spark, dl)
      .orderBy("source")).map(_.mkString(","))
    // ── crash matrix on a hand-driven surface
    val key = s"$work/key"; val dl = s"$work/delta"
    Incremental.applyCurationBatch(spark, mkBatch(0), 0L, key, dl, nShards = 4)
    Incremental.applyCurationBatch(spark, mkBatch(1), 1L, key, dl, nShards = 4)
    val before = rep(dl)
    Incremental.compactDeltas(spark, dl, upToBatch = 1L) // healthy: invisible
    assert(rep(dl) == before)
    assert(!new java.io.File(s"$work/_delta.old").exists()) // clean swap
    // a fold crashed between its two renames: marker up, data only in the
    // retiree; the report must keep answering, appends must not corrupt
    val marker = Incremental.reshardMarkerFile(dl)
    java.nio.file.Files.writeString(marker.toPath, "pending")
    assert(new java.io.File(dl)
      .renameTo(new java.io.File(s"$work/_delta.old")), "test setup")
    assert(rep(dl) == before, "report must serve the retiree mid-crash")
    val e = intercept[IllegalArgumentException] { // cadence off → fail fast
      Incremental.applyCurationBatch(spark, mkBatch(2), 2L, key, dl,
        nShards = 4, deltaFoldMaxLive = 0)
    }
    assert(e.getMessage.contains("interrupted mid-swap"))
    assert(rep(dl) == before,
      "the failed append's empty shell must not shadow the retiree")
    // cadence on → the apply heals (re-runs the fold) and then appends
    Incremental.applyCurationBatch(spark, mkBatch(2), 2L, key, dl, nShards = 4)
    assert(!marker.exists(), "healing must clear the marker")
    // the healed surface equals an untouched twin replay of all batches
    val k2 = s"$work/key2"; val d2 = s"$work/delta2"
    for (i <- 0 to 2)
      Incremental.applyCurationBatch(spark, mkBatch(i), i.toLong, k2, d2,
        nShards = 4)
    assert(rep(dl) == rep(d2))
    // ── auto-fold cadence: live partitions bounded, report invisible
    val ka = s"$work/ka"; val da = s"$work/da"
    val kb = s"$work/kb"; val db = s"$work/db"
    for (i <- 0 until 8) {
      Incremental.applyCurationBatch(spark, mkBatch(i), i.toLong, ka, da,
        nShards = 4, deltaFoldMaxLive = 2)
      Incremental.applyCurationBatch(spark, mkBatch(i), i.toLong, kb, db,
        nShards = 4, deltaFoldMaxLive = 0)
    }
    assert(rep(da) == rep(db), "the cadence must be invisible to the report")
    def liveBatches(d: String) = Option(new java.io.File(d).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(liveBatches(db) == 8) // the opted-out twin accumulates
    assert(liveBatches(da) <= 4,
      s"cadence must bound live partitions, got ${liveBatches(da)}")
  }

  test("runWrites awaits every write before rethrowing a failure") {
    import graft.streaming.Incremental
    val sibling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Incremental.runWrites(Seq(
        () => throw new IllegalStateException("write failed"),
        () => { Thread.sleep(1000); sibling.set(true) }))
    }
    assert(e.getMessage == "write failed")
    // the caller's lease is released right after the throw: a sibling
    // still running then would write past it
    assert(sibling.get, "a sibling write was still in flight after the throw")
  }

  test("CC fold cadence ignores crash debris under _temporary/ and " +
      ".spark-staging-*/") {
    import graft.streaming.Incremental
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_ccdebris")
      .toString + "/state"
    // batch 0: two components → a 2-row forwarding snapshot over 4 labels
    Incremental.applyCcBatch(spark, Seq((1L, 2L), (5L, 6L)).toDF("a", "b"),
      0L, state, fwdFoldMin = 2L)
    // debris a crashed write leaves behind: copies of committed files in
    // Spark's hidden staging dirs, which Spark's reader never sees
    for (dir <- Seq(s"$state/fwd/batch=0", s"$state/lbl/shard=1")) {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val root = if (dir.contains("lbl")) s"$state/lbl" else dir
      for (hidden <- Seq("_temporary/0", ".spark-staging-x")) {
        val to = new java.io.File(s"$root/$hidden", f.getName)
        to.getParentFile.mkdirs()
        java.nio.file.Files.copy(f.toPath, to.toPath)
      }
    }
    // |fwd| = 2 does not exceed fwdFoldMin = 2, so batch 1 must not fold;
    // counting the debris (6 > 2) would fold and drop fwd/batch=0
    Incremental.applyCcBatch(spark, Seq((2L, 5L)).toDF("a", "b"), 1L, state,
      fwdFoldMin = 2L)
    assert(new java.io.File(s"$state/fwd/batch=0").exists(),
      "debris changed the fold-cadence count")
    assert(Incremental.ccLabels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("shard merge without footer stats falls back to a pruned scan: " +
      "replays never double-count") {
    import graft.streaming.Incremental
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val state = java.nio.file.Files.createTempDirectory("graft_nostats")
      .toString + "/state"
    val k = "parquet.column.statistics.enabled"
    spark.conf.set(k, "false")
    try {
      val b0 = Seq((1L, 100L), (2L, 200L), (2L, 5L)).toDF("user_id", "cents")
      val b1 = Seq((2L, 7L), (3L, 300L)).toDF("user_id", "cents")
      Incremental.applyBatch(spark, b0, 0L, state, nShards = 4)
      Incremental.applyBatch(spark, b0, 0L, state, nShards = 4)
      Incremental.applyBatch(spark, b1, 1L, state, nShards = 4)
      Incremental.applyBatch(spark, b1, 1L, state, nShards = 4)
      Incremental.applyBatch(spark, b0, 0L, state, nShards = 4)
      // the files really lack bmax stats, so the kernel took the fallback
      val files = new java.io.File(state).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      for (f <- files) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath),
            spark.sessionState.newHadoopConf()))
        try {
          val st = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == "bmax").map(_.getStatistics)
          assert(st.forall(s => s == null || !s.hasNonNullValue),
            s"$f carries bmax statistics")
        } finally r.close()
      }
      val m = spark.read.parquet(state).select("user_id", "n", "cents")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(m == Map(1L -> (1L, 100L), 2L -> (3L, 212L), 3L -> (1L, 300L)))
    } finally spark.conf.unset(k)
  }

  /** Every state surface under `root` (a dir holding data files directly
    * or under `k=v` partition dirs), plus its first partition leaf — the
    * dirs serving reads take. `_`/`.` dirs are skipped, as Spark does.
    */
  private def surfaceDirs(root: java.io.File): Seq[java.io.File] = {
    def visible(f: java.io.File) = !"_.".contains(f.getName.head)
    def kids(d: java.io.File) =
      Option(d.listFiles()).toSeq.flatten.filter(visible).sortBy(_.getName)
    def parts(d: java.io.File) =
      kids(d).filter(f => f.isDirectory && f.getName.contains("="))
    def hasData(d: java.io.File): Boolean =
      kids(d).exists(f => f.isFile && f.getName.endsWith(".parquet")) ||
        parts(d).exists(hasData)
    def leaf(d: java.io.File): java.io.File =
      parts(d).find(hasData).fold(d)(leaf)
    if (hasData(root)) Seq(root, leaf(root)).distinct
    else kids(root).filter(_.isDirectory).flatMap(surfaceDirs)
  }

  test("state reads take their schema from a footer: equal to a bare " +
      "read on every surface of every family") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_footschema")
      .toString
    def check(): Unit = {
      val dirs = surfaceDirs(new java.io.File(work))
      assert(dirs.size >= 20, dirs)
      for (d <- dirs) {
        val got = Incremental.parquetIfAny(spark, d.getPath)
        assert(got.isDefined, d)
        assert(got.get.schema == spark.read.parquet(d.getPath).schema,
          s"schema differs at $d")
      }
    }
    Incremental.applyBatch(spark, Seq((1L, 100L), (6L, 5L))
      .toDF("user_id", "cents"), 0L, s"$work/agg", nShards = 4)
    val cur = Seq((10L, "s0", "kA", 100L, 1L, 1L), (20L, "s1", "kB", 50L, 1L, 0L))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    Incremental.applyCurationBatch(spark, cur, 0L, s"$work/cur/key",
      s"$work/cur/delta", nShards = 4)
    Incremental.applyCurationBatch(spark, cur.withColumn("doc_id",
      col("doc_id") - 5), 1L, s"$work/cur/key", s"$work/cur/delta", nShards = 4)
    val texts = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    def nd(b: Long) = Incremental.applyNearDupBatch(spark,
      texts.select((col("doc_id") + b * 10).as("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 8).as("sig")),
      b, s"$work/nd", bands = 4, rowsPerBand = 2, thresholdPct = 70, nBp = 4)
    nd(0L); nd(1L)
    Incremental.applyJoinBatch(spark, Seq[(Long, String, java.lang.Long, String)](
      (1L, "l", 10L, null), (1L, "o", null, "x")).toDF("okey", "side", "lv", "ov"),
      0L, s"$work/join", "okey", Seq("lv"), Seq("ov"), nShards = 4)
    Incremental.applySessionBatch(spark, Seq((1L, 0L), (2L, 5L))
      .toDF("user_id", "ts_us"), 0L, s"$work/sess", nShards = 4)
    Incremental.applyCdcBatch(spark, Seq((1L, "I", 0L, "a"))
      .toDF("k", "op", "seq", "v"), 0L, s"$work/cdc", "k", nShards = 4)
    Incremental.applyCcBatch(spark, Seq((1L, 2L), (5L, 6L)).toDF("a", "b"),
      0L, s"$work/cc", nShards = 4)
    Incremental.applyCcBatch(spark, Seq((2L, 5L)).toDF("a", "b"), 1L,
      s"$work/cc", nShards = 4)
    Incremental.applySpanBatch(spark, texts, 0L, s"$work/span", n = 3,
      nGramShards = 4, nDocShards = 4)
    Incremental.applyContamBatch(spark, texts.withColumn("is_eval",
      col("doc_id") === 2), 0L, s"$work/contam", n = 3, nGramShards = 4,
      nDocShards = 4)
    check()
    Incremental.compactNearDup(spark, s"$work/nd", upToBatch = 1L)
    assert(new java.io.File(s"$work/nd/decisions_base").exists())
    check()
  }

  test("near-dup decisions and the curation report start no " +
      "schema-inference job") {
    import graft.streaming.Incremental
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_noinfer")
      .toString
    Incremental.applyNearDupBatch(spark, Seq((0L, "s", "a b c d e f"))
      .toDF("doc_id", "source", "text").select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 8).as("sig")),
      0L, s"$work/nd", bands = 4, rowsPerBand = 2, thresholdPct = 70, nBp = 4)
    Incremental.applyCurationBatch(spark, Seq((10L, "s0", "kA", 100L, 1L, 1L))
      .toDF("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf"),
      0L, s"$work/key", s"$work/delta", nShards = 4)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        j.stageInfos.foreach(st => stages.add(st.name))
    }
    org.apache.spark.sql.graftbridge.ColumnBridge
      .waitListenerBusEmpty(spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Incremental.ndDecisions(spark, s"$work/nd").collect().length == 1)
      assert(Incremental.curationReport(spark, s"$work/delta").collect()
        .length == 1)
      org.apache.spark.sql.graftbridge.ColumnBridge
        .waitListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    assert(!stages.isEmpty)
    assert(!stages.asScala.exists(_.startsWith("parquet at")),
      stages.asScala.mkString("; "))
  }
}
