package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Session + table-loading helpers for the graft engine.
  *
  * The reference (legate-dataframe) distributes tables across ranks and sizes its
  * launch domain from the machine scope; on Spark the analogous knobs are the
  * shuffle-partition count and AQE. We default shuffle partitions to the local
  * parallelism (not Spark's 200) and enable AQE so skewed joins / small partitions
  * re-plan at runtime — the behaviour we want on a real multi-executor cluster.
  */
object Engine {

  /** Apply graft's standard config to any builder (shared with Verify/Bench).
    *
    * Scale notes (100 TB design): AQE on (runtime coalescing + skew-join
    * splitting), broadcast threshold left at default (dims like region/nation/
    * supplier always broadcast), shuffle partitions sized to the local core
    * count for tests — on a real cluster this would be ~2-3x total cores and
    * AQE coalesces down.
    */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The reference's Arrow/cudf kernels use unchecked (wrapping) integer
      // arithmetic; ANSI mode (Spark 4 default) would instead throw on
      // overflow / bad casts. Match the reference's semantics.
      .config("spark.sql.ansi.enabled", "false")
      // If events.parquet stores timestamp[ns] (some testdata rounds did),
      // Spark's parquet reader rejects it natively; read as long nanos
      // (normalized in Engine.events). Harmless for µs-stored data.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Runtime bloom-filter join pruning: when a shuffle join's build side
      // is selective, inject might_contain(fact_key) into the probe side's
      // scan — at 100 TB this skips whole row groups of the fact table for
      // free. The default size thresholds (creation ≤ 10 MB after filter,
      // probe scan ≥ 10 GB) keep it off for tiny local data and engage it
      // exactly where it pays on a cluster (PlanSpec proves the injection
      // fires once the thresholds are met).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // bucketed-table warehouse (q111 co-located join) outside the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // ── filesystem-metadata overhead on the maintained-MV state paths ──
      // (round-14 optimization, guide §6: the per-batch stateful merges are
      // fs-metadata-bound — ProfInc attributed the q30x floor to the delta
      // write + dynamic shard overwrite, and BENCH fs-canaries drift 2-16×
      // on metadata-heavy days. Three cuts, A/B-measured on ProfInc's warm
      // streaming round: 11.7-13.2 s baseline → 9.2-9.5 s with all three.)
      //
      // 1. Partition discovery: past `threshold` partition dirs Spark
      // launches a DISTRIBUTED listing job per read — a whole job-submit
      // round trip to list a few hundred local dirs. The incremental state
      // layouts ((shard|bp) × batch) routinely exceed the default 32 dirs,
      // so every pruned state read paid one. Driver-side listing is the
      // right call up to ~10k dirs on any fs with cheap LIST (local, HDFS,
      // manifest-backed table formats); an object-store deployment would
      // lower it back in its own session config.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      // 2. FileOutputCommitter v2: task output moves to the final location
      // at TASK commit (one rename) instead of being renamed again at JOB
      // commit (two). Safe here by the same argument that makes retries
      // safe at all: every state/delta write lands in its own (shard|bp,
      // batch) partition dir under dynamic overwrite with bmax/marker
      // replay guards, so a partially-committed job is either invisible
      // (batch < bmax re-run overwrites) or repaired by the documented
      // crash-recovery paths. Standard production choice on HDFS-like
      // stores; object-store deployments swap in a cloud committer anyway.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // 3. No _SUCCESS markers: nothing in the engine reads them (replay
      // guards are bmax/footer-stats based), so each write was paying one
      // extra file create + one extra entry in every subsequent listing.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        "false")
      // Whole-stage codegen class cache, sized to the engine's working set.
      // Spark compiles one Janino class per distinct generated source and
      // keeps them in a JVM-wide LRU, 100 entries by default, split into 4
      // segments of ~25. One warm incremental-MV cycle plus its checks needs
      // ~380 distinct classes, so at the default every warm op recompiled
      // most of its plan (~2 s of Janino per 4-op cycle). 2000 entries gives
      // ~5x headroom; each costs ~18 KB of heap (Janino's class loader keeps
      // the bytecode), so a full cache holds ~36 MB. A static conf, read
      // once per JVM when codegen first builds the cache.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** The codegen class-cache size [[configure]] sets (see there). */
  val CodegenCacheEntries = 2000

  /** Build a local session configured the way every graft entry point expects. */
  def session(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.register(s)
    s
  }

  /** Load one star-schema table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.functions.Registry.register(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Spread a narrow scan across the cluster before heavy per-row work.
    *
    * Parquet splits cannot be finer than a ROW GROUP, and a table written
    * as one file with one row group (the local testdata shape — lineitem
    * sf0.1 is a single 10.8 MB row group) scans as ONE task no matter what
    * `maxPartitionBytes`/`minPartitionNum` say. Any expensive map-side
    * work that runs before the first exchange — tokenize + explode,
    * per-pair scoring after a broadcast join — then serializes onto one
    * core. Round-robin repartition ONLY when the frame has fewer
    * partitions than the session parallelism: at production corpus sizes
    * the scan already has more partitions, so this is a no-op and never
    * adds a shuffle at scale (round-14 optimization, guide §2.5/§2.6:
    * input skew and idle capacity). Row sets are unchanged; the engine's
    * exact-arithmetic discipline (decimal/integer/quantized sums) makes
    * the partitioning change invisible to every oracle.
    */
  def spread(df: DataFrame): DataFrame = {
    // Scan-rooted frames ONLY (round-15 hardening): probing partition count
    // via `Dataset.rdd` is free on a shuffle-free plan, but under AQE a
    // frame with upstream exchanges would resolve its final physical plan —
    // eagerly RUNNING every upstream shuffle stage just to count partitions,
    // work the real query then repeats. Every intended call site passes a
    // raw scan/projection; anything wider returns unchanged (the pre-probe
    // behaviour for frames whose parallelism is already set by an exchange).
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(plan: LogicalPlan): Boolean = plan match {
      case _: LeafNode => true
      case p @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias) =>
        p.children.forall(narrow)
      case _ => false
    }
    if (!narrow(df.queryExecution.analyzed)) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** The events table with `ts` normalized to a session-zone TimestampType,
    * whatever the file's physical type:
    *  - int64 (ns-precision parquet read with `nanosAsLong`): integer-`div`
    *    to µs then `timestamp_micros` — `div` keeps the math in int64 (a
    *    double round-trip would lose precision at epoch-nanos magnitudes);
    *  - timestamp[us] without timezone (reads as TIMESTAMP_NTZ): cast to
    *    TimestampType — value-preserving because the session zone is pinned
    *    to UTC in `configure`, and downstream `unix_micros`/watermarks need
    *    TimestampType, not NTZ;
    *  - already TimestampType: pass through.
    * The testdata generator has shipped both physical types across rounds, so
    * the engine detects rather than assumes.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
    }
  }
}
