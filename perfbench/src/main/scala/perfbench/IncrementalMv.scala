package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, TextFns}
import graft.sources.IO
import graft.streaming.Incremental

/** `incremental_mv`: micro-batches land one at a time and three maintained
  * views absorb them. Event batches feed the per-user aggregate view through
  * `Incremental.maintain` (a streaming restart on every call, so its start-up
  * cost is paid); document batches feed the curation view
  * (`applyCurationBatch`) and the near-dup view (`applyNearDupBatch`). Some
  * documents repeat an earlier document's text under a smaller `doc_id`,
  * which forces the curation view to retract the earlier survivor. A
  * compaction op folds the curation deltas and the near-dup partitions once
  * per cycle. After every op the touched view is compared with a from-scratch
  * recompute over every batch applied so far.
  *
  * The op cycle is [agg, curation, near-dup, compact].
  */
final class IncrementalMv(spark: SparkSession, dir: String, t: Trace)
    extends Workload(spark, dir, t) {
  import IncrementalMv._

  private val eventSchema = StructType(Seq(StructField("user_id", LongType), StructField("cents", LongType)))
  private var epoch = 0
  private var state = ""
  private var applied = Map("agg" -> 0, "cur" -> 0, "nd" -> 0)
  private var inputBytes = 0L
  private var written = 0L
  private var files = Map.empty[String, (Long, Long)]
  private var spaceAmp = 0.0

  private val batches = new File(s"$dir/docs").listFiles().count(_.getName.startsWith("b="))
  private val batchBytes: Map[String, Long] = (0 until batches).flatMap(b => Seq("events", "docs").map(n =>
    s"$n$b" -> Main.bytesUnder(new File(s"$dir/$n/b=$b")))).toMap
  private val batchRows: Map[String, Long] = Seq("events", "docs").map(n =>
    n -> spark.read.parquet(s"$dir/$n/b=0").count()).toMap
  newEpoch()

  /** Fresh state directories; the batch sequence starts again from batch 0. */
  private def newEpoch(): Unit = {
    epoch += 1
    state = s"$dir/state$epoch"
    new File(s"$state/events").mkdirs()
    applied = Map("agg" -> 0, "cur" -> 0, "nd" -> 0)
    files = Map.empty
  }

  /** Warm-up: the first `WarmCycles` cycles, unchecked, on the live epoch, so
    * the timed window starts from state that already holds earlier batches'
    * survivors and compactions. Byte accounting starts after it.
    */
  def warmUp(): Unit = {
    (0 until WarmCycles * Cycle).foreach(i => op(i).run())
    files = listFiles(new File(state)).filterNot(_._1.contains("/events/"))
    inputBytes = 0L
    written = 0L
  }

  private def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, new File(to, f.getName).toPath))
  }

  override def mix: Int = Cycle

  private def docs(b: Int): DataFrame = t.layer("sources.scan")(IO.parquetRead(spark, Seq(s"$dir/docs/b=$b")))

  private def curEnrich(d: DataFrame): DataFrame = d.select(col("doc_id"), col("source"),
    TextFns.normalize(col("text")).as("norm_key"), TextFns.tokenCount(TextFns.normalize(col("text"))).cast("long").as("n_words"))
    .withColumn("ok_rules", (col("n_words") >= 60).cast("long"))
    .withColumn("ok_clf", (pmod(xxhash64(col("norm_key")), lit(3)) =!= 0).cast("long"))

  /** The near-dup view's input: normalized text (`functions`), then its
    * MinHash signature (`llm`), each a layer call of its own when traced.
    */
  private def ndEnrich(d: DataFrame, keep: String*): DataFrame = {
    val cols = Seq("doc_id", "source") ++ keep
    val norm = t.layer("functions.tokenize")(d.select(cols.map(col) :+ TextFns.normalize(col("text")).as("norm"): _*))
    t.layer("llm.near_dup")(norm.select(cols.map(col) :+
      Dedup.minhashSignature(col("norm"), numHashes = Bands * RowsPerBand).as("sig"): _*))
  }

  private def allDocs(upTo: Int): DataFrame =
    IO.parquetRead(spark, Seq(s"$dir/docs")).filter(col("b") < upTo).withColumn("batch", col("b").cast("long"))

  def op(i: Int): Op = {
    val kind = CycleKinds(i % Cycle)
    if (kind != "compact" && applied(kind) >= batches) newEpoch()
    val b = if (kind == "compact") -1 else applied(kind)
    val rows = kind match {
      case "agg" => batchRows("events")
      case "compact" => 0L
      case _ => batchRows("docs")
    }
    kind match {
      case "agg" =>
        // the batch lands in the stream's source directory before the op starts
        copyDir(new File(s"$dir/events/b=$b"), new File(s"$state/events/b$b"))
        inputBytes += batchBytes(s"events$b")
      case "cur" | "nd" => inputBytes += batchBytes(s"docs$b")
      case _ =>
    }
    Op(OpNames(kind), rows, () => run(kind, b), out => { account(kind); check(kind, out) })
  }

  private def run(kind: String, b: Int): Any = kind match {
    case "agg" =>
      val v = t.span("streaming.maintain") {
        Incremental.maintain(spark, s"$state/events/*", s"$state/agg", s"$state/agg_ck", eventSchema, nShards = 8)
      }
      applied += "agg" -> (b + 1)
      t.span("streaming.view_read")(v.collect().toSeq)
    case "cur" =>
      val e = t.layer("functions.tokenize")(curEnrich(docs(b)))
      t.span("streaming.apply")(Incremental.applyCurationBatch(spark, e, b, s"$state/key", s"$state/delta",
        nShards = 8, deltaFoldMaxLive = 0))
      applied += "cur" -> (b + 1)
      t.span("streaming.view_read")(Incremental.curationReport(spark, s"$state/delta").collect().toSeq)
    case "nd" =>
      val e = ndEnrich(docs(b))
      t.span("streaming.apply")(Incremental.applyNearDupBatch(spark, e, b, s"$state/nd", Bands, RowsPerBand,
        ThresholdPct, nBp = 8, autoCompactMinLive = 0))
      applied += "nd" -> (b + 1)
      t.span("streaming.view_read")(Incremental.ndDecisions(spark, s"$state/nd").collect().toSeq)
    case "compact" =>
      t.span("streaming.compact") {
        if (applied("nd") > 0) Incremental.compactNearDup(spark, s"$state/nd", applied("nd") - 1)
        if (applied("cur") > 0) Incremental.compactDeltas(spark, s"$state/delta", applied("cur") - 1)
      }
      t.span("streaming.view_read")(
        (Incremental.curationReport(spark, s"$state/delta").collect().toSeq,
          Incremental.ndDecisions(spark, s"$state/nd").collect().toSeq))
  }

  /** Bytes the op wrote under the state directories (new or changed files). */
  private def account(kind: String): Unit = {
    val now = listFiles(new File(state)).filterNot(_._1.contains("/events/"))
    val changed = now.filter { case (p, v) => !files.get(p).contains(v) }
    val bytes = changed.values.map(_._1).sum
    written += bytes
    if (kind == "compact") {
      t.count("streaming.compact.bytes_rewritten", bytes.toDouble)
      spaceAmp = now.values.map(_._1).sum.toDouble / math.max(1L, inputBytes)
    } else if (kind != "agg") {
      t.count("streaming.apply.files_written", changed.size.toDouble)
      t.count("streaming.apply.bytes_written", bytes.toDouble)
      t.count("streaming.apply.touched_shards", changed.keys
        .flatMap(_.split("/").find(s => s.startsWith("shard=") || s.startsWith("bp="))).toSet.size.toDouble)
    }
    files = now
  }

  private def listFiles(f: File): Map[String, (Long, Long)] =
    if (f.isFile) Map(f.getPath -> (f.length(), f.lastModified()))
    else Option(f.listFiles()).map(_.flatMap(c => listFiles(c)).toMap).getOrElse(Map.empty)

  private def check(kind: String, out: Any): Check = {
    def same(view: Seq[Row], want: DataFrame): Boolean = {
      val w = want.collect()
      view.map(_.toSeq).toSet == w.map(_.toSeq).toSet && view.size == w.length
    }
    val ok = kind match {
      case "agg" =>
        val want = IO.parquetRead(spark, (0 until applied("agg")).map(b => s"$state/events/b$b"))
          .groupBy("user_id").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        same(out.asInstanceOf[Seq[Row]], want)
      case "cur" => same(out.asInstanceOf[Seq[Row]], curationFromScratch())
      case "nd" => same(out.asInstanceOf[Seq[Row]], nearDupFromScratch())
      case _ =>
        val (cur, nd) = out.asInstanceOf[(Seq[Row], Seq[Row])]
        same(cur, curationFromScratch()) && same(nd, nearDupFromScratch())
    }
    Check(Some(ok), detail = if (ok) "" else s"$kind view differs from the from-scratch recompute")
  }

  /** The funnel report by global lowest-id-survives over every applied batch. */
  private def curationFromScratch(): DataFrame = {
    val e = curEnrich(allDocs(applied("cur")))
    val sv = e.withColumn("sv", (col("doc_id") === min("doc_id").over(Window.partitionBy("norm_key"))).cast("long"))
    sv.groupBy("source").agg(count(lit(1)).as("docs_in"), sum("sv").as("after_dedup"),
      sum(col("sv") * col("ok_rules")).as("after_rules"),
      sum(col("sv") * col("ok_rules") * col("ok_clf")).as("kept_docs"),
      sum(col("sv") * col("ok_rules") * col("ok_clf") * col("n_words")).as("kept_tokens"))
  }

  /** Near-dup decisions by the keep-first rule under the (batch, doc_id)
    * order: a doc drops iff an earlier doc shares a band bucket and agrees on
    * at least ThresholdPct% of the signature; it names the earliest such doc.
    */
  private def nearDupFromScratch(): DataFrame = {
    val d = ndEnrich(allDocs(applied("nd")), "batch")
    val post = d.select(col("doc_id"), col("batch"), col("sig"), posexplode(expr(
      s"transform(sequence(0, ${Bands - 1}), bb -> xxhash64(bb, slice(sig, bb * $RowsPerBand + 1, $RowsPerBand)))")))
    val l = post.select(col("doc_id").as("d_id"), col("batch"), col("sig").as("d_sig"), col("pos"), col("col"))
    val r = post.select(col("doc_id").as("e_id"), col("batch").as("e_batch"), col("sig").as("e_sig"), col("pos"), col("col"))
    val matched = l.join(r, Seq("pos", "col"))
      .filter(col("e_batch") < col("batch") || (col("e_batch") === col("batch") && col("e_id") < col("d_id")))
      .select("d_id", "e_id", "e_batch", "d_sig", "e_sig").distinct()
      .filter(expr("size(filter(zip_with(e_sig, d_sig, (x, y) -> x = y), m -> m))") * 100 >=
        lit(ThresholdPct.toLong) * (Bands * RowsPerBand))
      .groupBy("d_id").agg(min(struct(col("e_batch"), col("e_id"))).as("m"))
      .select(col("d_id").as("doc_id"), col("m.e_id").as("matched_id"))
    d.select("doc_id", "source", "batch").join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("matched_id").isNull.cast("long").as("kept"),
        col("matched_id"), col("batch"))
  }

  override def finish(): Map[String, Any] = Map(
    "write_amp" -> written.toDouble / math.max(1L, inputBytes),
    "space_amp" -> spaceAmp,
    "epochs" -> epoch,
    "state_fs" -> scala.util.Try(java.nio.file.Files.getFileStore(new File(dir).toPath).`type`()).getOrElse("unknown"))
}

object IncrementalMv {
  val Bands = 16
  val RowsPerBand = 2
  val ThresholdPct = 70
  val CycleKinds: Vector[String] = Vector("agg", "cur", "nd", "compact")
  val Cycle: Int = CycleKinds.size
  val WarmCycles = 1
  val OpNames = Map("agg" -> "agg_maintain", "cur" -> "curation_apply", "nd" -> "neardup_apply",
    "compact" -> "compact")
}
