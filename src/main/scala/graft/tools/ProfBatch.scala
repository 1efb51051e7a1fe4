package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-JOB attribution inside single incremental-merge batches (round-15
  * optimization, guide §1.1: find where the per-batch wall actually goes
  * before restructuring). Runs warm direct applyCurationBatch /
  * applyNearDupBatch / applySpanBatch calls with a listener that prints
  * every Spark job's wall, task count, and the phase label active at
  * submit — so the ~13 jobs/batch ProfInc counts become attributable to
  * specific actions (touched-collect, delta write, state write, …), and
  * each phase's codegen compile count and time.
  * Not part of the library surface.
  */
object ProfBatch {
  private class JobLog extends org.apache.spark.scheduler.SparkListener {
    case class J(id: Int, t0: Long, desc: String, var tasks: Int = 0,
      var t1: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[J]
    @volatile var phase: String = "?"
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.put(j.jobId, J(j.jobId, j.time, phase))
    override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      // attribute the stage's tasks to the newest live job that owns it
      s.stageInfo.stageId // (best-effort: task totals ride on job end below)
    }
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) { j.t1 = e.time; done.add(j) }
    }
    def dump(): Unit = {
      import scala.jdk.CollectionConverters._
      val ds = done.asScala.toSeq.sortBy(_.id)
      for (j <- ds)
        println(f"PROFBATCH   job=${j.id}%3d wall=${(j.t1 - j.t0) / 1e3}%6.3f s  phase=${j.desc}")
      done.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session(32)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.register(spark)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // A/B knob: SPARK_GRAFT_PROF_CONF="k=v;k=v" applied before the rounds
    sys.env.get("SPARK_GRAFT_PROF_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      println(s"PROFBATCH conf $k=$v")
    })
    val docs = graft.Engine.table(spark, sfDir, "documents")
      .select("doc_id", "source", "text")

    def enrich(bt: DataFrame): DataFrame = {
      val base = bt
        .withColumn("norm_key", md5(lower(col("text"))))
        .withColumn("toks", graft.llm.TextFns.portableTokens(col("text")))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .filter(col("n_words") > 0)
        .withColumn("ok_rules", (col("n_words") >= 50).cast("long"))
      val big = base.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id").agg(count(lit(1)).as("x"))
      base.join(big, Seq("doc_id"), "left")
        .withColumn("ok_clf", (col("x") % 2 === 0).cast("long"))
        .select("doc_id", "source", "norm_key", "n_words", "ok_rules", "ok_clf")
    }
    // Each phase also prints its Janino compiles (count and time), so a
    // slide back into per-batch recompilation shows without a profiler.
    def compiles = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    def time[T](label: String)(f: => T): T = {
      log.phase = label
      val (n0, c0) = compiles
      val t0 = System.nanoTime(); val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val (n1, c1) = compiles
      println(f"PROFBATCH phase=$label wall=$wall%6.3f s" +
        f"  compiles=${n1 - n0}%3d compile=${(c1 - c0) / 1e6}%7.1f ms")
      r
    }

    for (round <- 1 to 2) {
      println(s"PROFBATCH ===== round $round =====")
      val w = java.nio.file.Files.createTempDirectory("profbatch").toString
      for (k <- 0 to 2)
        time(s"curation_b$k") {
          graft.streaming.Incremental.applyCurationBatch(spark,
            enrich(docs.filter(col("doc_id") % 3 === k)), k.toLong,
            s"$w/state", s"$w/delta", 16)
        }
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(spark.sparkContext, 30000)
      log.dump()
      val ndEnrich = (bt: DataFrame) => bt.select(col("doc_id"), col("source"),
        graft.llm.Dedup.minhashSignature(col("text"), numHashes = 32).as("sig"))
      for (k <- 0 to 2)
        time(s"neardup_b$k") {
          graft.streaming.Incremental.applyNearDupBatch(spark,
            ndEnrich(docs.filter(col("doc_id") % 3 === k)), k.toLong,
            s"$w/nd", bands = 16, rowsPerBand = 2, thresholdPct = 70)
        }
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(spark.sparkContext, 30000)
      log.dump()
      for (k <- 0 to 2)
        time(s"span_b$k") {
          graft.streaming.Incremental.applySpanBatch(spark,
            docs.filter(col("doc_id") % 3 === k), k.toLong, s"$w/span")
        }
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(spark.sparkContext, 30000)
      log.dump()
      val edges = graft.Engine.table(spark, sfDir, "embeddings")
        .select((col("vec_id") % 1600).as("a"), (col("vec_id") % 997).as("b"))
      for (k <- 0 to 2)
        time(s"cc_b$k") {
          graft.streaming.Incremental.applyCcBatch(spark,
            edges.filter(col("a") % 3 === k), k.toLong, s"$w/cc")
        }
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(spark.sparkContext, 30000)
      log.dump()
    }
    spark.stop()
  }
}
