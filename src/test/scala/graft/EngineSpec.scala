package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.Events

/** Regression guard for the events-ts schema drift (round 6): the testdata
  * generator has shipped `ts` as BOTH raw int64 epoch-nanoseconds and
  * timestamp[us] (TIMESTAMP_NTZ) across rounds. `Engine.events` and
  * `Events.withTs` must normalize EITHER physical type to the same
  * session-zone TimestampType values, so a future flip cannot silently kill
  * the 15 event-time queries again.
  */
class EngineSpec extends SparkSuite {

  private def dumpAndRead(writeTs: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events_fmt").toString
    Seq((1L, 1577836800123456L, 7L), (2L, 1577840400654321L, 8L))
      .toDF("event_id", "us", "user_id")
      .withColumn("ts", writeTs)
      .select("event_id", "ts", "user_id")
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Engine.events normalizes int64-ns and timestamp-NTZ storage identically") {
    val ntzDir = dumpAndRead(timestamp_micros(col("us")).cast("timestamp_ntz"))
    val nsDir = dumpAndRead((col("us") * 1000L).cast(LongType))

    val fromNtz = Engine.events(spark, ntzDir)
    val fromNs = Engine.events(spark, nsDir)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNs.schema("ts").dataType == TimestampType)

    def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
    assert(micros(fromNtz) == Seq(1577836800123456L, 1577840400654321L))
    assert(micros(fromNs) == micros(fromNtz))
  }

  test("Events.withTs matches Engine.events on the real testdata and passes TimestampType through") {
    val viaStream = Events.withTs(
      spark.read.schema(Events.rawSchema).parquet(s"$sfDir/events.parquet"))
    val viaEngine = Engine.events(spark, sfDir)
    assert(viaStream.schema("ts").dataType == TimestampType)
    val a = viaStream.agg(sum(unix_micros(col("ts")))).head().getLong(0)
    val b = viaEngine.agg(sum(unix_micros(col("ts")))).head().getLong(0)
    assert(a == b)
    // already-TimestampType input is untouched
    assert(Events.withTs(viaEngine).schema("ts").dataType == TimestampType)
  }

  test("UTC session-tz pin is load-bearing for NTZ decode (non-UTC audit)") {
    // Engine.configure pins spark.sql.session.timeZone=UTC; that pin is WHY
    // NTZ→LTZ casting is value-preserving. This test (a) asserts the pin is
    // in effect, (b) demonstrates the exact hazard it guards against: under
    // America/New_York the same NTZ wall-clock decodes to a different
    // absolute instant, shifted by the NY offset — so every
    // unix_micros/window/withWatermark site is safe exactly as long as the
    // engine session is used.
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val utc = Engine.events(spark, sfDir)
      .agg(sum(unix_micros(col("ts")))).head().getLong(0)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ny = Engine.events(spark, sfDir)
        .agg(sum(unix_micros(col("ts")))).head().getLong(0)
      val n = Engine.events(spark, sfDir).count()
      // NY is UTC−5h (winter) / −4h (summer): each row shifts by a whole
      // number of hours; total shift = n × offset — nonzero and hour-aligned
      assert(ny != utc, "NTZ decode unexpectedly tz-independent")
      // every row shifts by a whole number of hours (4 or 5 depending on
      // DST), so the total is hour-aligned and bounded by n × 5h
      val shift = ny - utc
      assert(shift % 3600000000L == 0 &&
        shift >= n * 4L * 3600000000L && shift <= n * 5L * 3600000000L,
        s"unexpected shift: total=$shift rows=$n")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // restored: values match the pinned-UTC reading again
    val back = Engine.events(spark, sfDir)
      .agg(sum(unix_micros(col("ts")))).head().getLong(0)
    assert(back == utc)
  }

  test("Engine.spread is scan-rooted only: a post-shuffle frame returns " +
    "unchanged and runs NO jobs (round-15 hardening)") {
    // Under AQE, Dataset.rdd on a frame with upstream exchanges resolves
    // the final physical plan — eagerly RUNNING the upstream shuffle
    // stages just to count partitions. The guard must return such frames
    // untouched without triggering any job.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val shuffled = spark.range(1000)
        .groupBy((col("id") % 7).as("k")).agg(sum("id").as("s"))
      org.apache.spark.sql.graftbridge.ColumnBridge
        .waitListenerBusEmpty(spark.sparkContext, 30000)
      jobs.set(0)
      val out = Engine.spread(shuffled)
      org.apache.spark.sql.graftbridge.ColumnBridge
        .waitListenerBusEmpty(spark.sparkContext, 30000)
      assert(out eq shuffled, "post-shuffle frame must return unchanged")
      assert(jobs.get == 0,
        s"spread on a post-shuffle frame materialized ${jobs.get} job(s)")
      // scan-rooted frames still spread: a 1-partition narrow frame gains
      // the session parallelism, and the row multiset is unchanged
      val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
      spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir)
      val narrow = spark.read.parquet(dir).select(col("id"))
      val sp = Engine.spread(narrow)
      assert(sp.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
      assert(sp.agg(sum("id")).head().getLong(0) == 4950L)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("state merges run with AQE off and restore the session flag " +
    "(round-15 merge planning mode)") {
    import spark.implicits._
    val k = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(k) == "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_mergeconf").toString
    graft.streaming.Incremental.applyBatch(spark,
      Seq((1L, 100L), (2L, 250L)).toDF("user_id", "cents"), 0L,
      s"$dir/state", nShards = 4)
    // restored exactly once at the outermost lease exit
    assert(spark.conf.get(k) == "true",
      "merge body leaked spark.sql.adaptive.enabled=false into the session")
    // and the merge result is the exact aggregate
    val rows = spark.read.parquet(s"$dir/state")
      .select("user_id", "n", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 100L), (2L, 1L, 250L)))
  }

  test("concurrent maintainers of different dirs restore the session AQE " +
      "flag") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val k = "spark.sql.adaptive.enabled"
    val dir = java.nio.file.Files.createTempDirectory("graft_mergeconf2").toString
    // two maintainers on one session, each on its own state dir: their
    // lease entries and exits interleave
    val runs = (0 until 2).map(t => Future {
      (0L until 6L).foreach(b => graft.streaming.Incremental.applyBatch(spark,
        Seq((b, 10L), (b + 7, 20L)).toDF("user_id", "cents"), b,
        s"$dir/state$t", nShards = 4))
    })
    runs.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    assert(spark.conf.get(k) == "true",
      "interleaved merges left spark.sql.adaptive.enabled off")
  }
}
