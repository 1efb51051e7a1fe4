package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, each averaged per traced op. Every
  * workload reports the full list; a layer the workload never calls reads 0.
  */
object Layers {
  /** Span names at the calls into each layer's public functions. */
  val SpanNames: Seq[String] = Seq(
    "sources.scan", "plans.plan", "plans.asof_join",
    "operators.join", "operators.groupby", "operators.sort",
    "functions.tokenize", "llm.exact_dedup", "llm.near_dup", "llm.span_scrub", "llm.embed_topk",
    "streaming.apply", "streaming.maintain", "streaming.compact", "streaming.view_read")

  /** Counters recorded at layer boundaries, per traced op. */
  val Counters: Seq[String] = Seq(
    "llm.near_dup.candidates", "llm.embed_topk.pairs_scored",
    "streaming.apply.files_written", "streaming.apply.bytes_written",
    "streaming.apply.touched_shards", "streaming.compact.bytes_rewritten")

  /** Every per-layer metric name with its unit, in report order. */
  val Units: Seq[(String, String)] =
    SpanNames.flatMap(s => Seq(s"$s.self_s" -> "s", s"$s.jobs" -> "count", s"$s.tasks" -> "count",
      s"$s.wait_s" -> "s", s"$s.shuffle_bytes" -> "bytes", s"$s.spill_bytes" -> "bytes")) ++
      Seq("engine.jobs_per_op" -> "count", "engine.core_busy" -> "ratio", "engine.gc_s" -> "s",
        "plans.plan.plan_s" -> "s", "operators.join.task_skew" -> "ratio",
        "llm.near_dup.yield" -> "ratio") ++
      Counters.map(c => c -> (if (c.endsWith("bytes_written") || c.endsWith("bytes_rewritten")) "bytes" else "count")) ++
      Seq("streaming.write_amp" -> "ratio", "streaming.space_amp" -> "ratio",
        "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def metrics(spark: SparkSession, t: Trace, tracedOps: Seq[(Double, Long)], cores: Int,
      ops: Seq[Map[String, Any]], extra: Map[String, Any]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val n = math.max(1, tracedOps.size).toDouble
    val spans = t.spanList
    val self = t.selfSeconds
    val work = t.work.asScala
    val byName = spans.groupBy(_.name)
    def sumWork(ids: Seq[Int])(f: SpanWork => Double): Double = ids.flatMap(work.get).map(f).sum
    val perSpan = SpanNames.flatMap { name =>
      val ids = byName.getOrElse(name, Nil).map(_.id)
      Seq(
        s"$name.self_s" -> ids.map(self).sum / n,
        s"$name.jobs" -> sumWork(ids)(_.jobs) / n,
        s"$name.tasks" -> sumWork(ids)(_.tasks) / n,
        s"$name.wait_s" -> sumWork(ids)(_.waitMs / 1000.0) / n,
        s"$name.shuffle_bytes" -> sumWork(ids)(_.shuffleBytes) / n,
        s"$name.spill_bytes" -> sumWork(ids)(_.spillBytes) / n)
    }
    val allIds = spans.filterNot(_.name.startsWith("probe.")).map(_.id)
    val tracedWall = tracedOps.map(_._1).sum
    val joinStages = byName.getOrElse("operators.join", Nil).flatMap(s => work.get(s.id))
      .flatMap(_.stageTaskRun.values).filter(_.size >= 2)
    val skews = joinStages.map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.sorted
    val c = t.counters
    val candidates = c.getOrElse("llm.near_dup.candidates", 0.0)
    // tracing overhead: per op kind, median traced wall minus median untraced wall
    val byKind = ops.groupBy(_("kind").toString).values.flatMap { os =>
      val (tr, un) = os.partition(_("traced") == true)
      if (tr.isEmpty || un.isEmpty) None
      else Some((Stats.median(tr.map(_("wall_s").asInstanceOf[Double])),
        Stats.median(un.map(_("wall_s").asInstanceOf[Double]))))
    }.toSeq
    val (trSum, unSum) = (byKind.map(_._1).sum, byKind.map(_._2).sum)
    (perSpan ++ Seq(
      "engine.jobs_per_op" -> sumWork(allIds)(_.jobs) / n,
      "engine.core_busy" -> (if (tracedWall > 0) sumWork(allIds)(_.runNs / 1e9) / (tracedWall * cores) else 0.0),
      "engine.gc_s" -> tracedOps.map(_._2).sum / 1000.0 / n,
      "plans.plan.plan_s" -> t.planSeconds / n,
      "operators.join.task_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)),
      "llm.near_dup.yield" -> (if (candidates > 0) c.getOrElse("llm.near_dup.verified", 0.0) / candidates else 0.0)) ++
      Counters.map(k => k -> c.getOrElse(k, 0.0) / n) ++
      Seq("write_amp", "space_amp").map(k => s"streaming.$k" -> extra.get(k).map(_.asInstanceOf[Double]).getOrElse(0.0)) ++
      Seq("trace.overhead_s" -> (if (byKind.isEmpty) 0.0 else (trSum - unSum) / byKind.size),
        "trace.overhead_ratio" -> (if (unSum > 0) trSum / unSum else 0.0))).toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (R-7, as NumPy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  }
}
