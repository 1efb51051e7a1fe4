package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity, TextFns}
import graft.operators.Joins
import graft.sources.IO

/** Ground truth of one corpus shard, as `gen.py` planted it. */
final case class Truth(
    exactGroups: Set[(Long, Long)], // (keep_id, dup_count) of every group of 2+
    nearPairs: Set[(Long, Long)], // (lower id, higher id)
    spanDocs: Map[Long, Long], // doc -> tokens inside planted duplicate spans
    embPairs: Map[Long, Long]) // doc -> its planted nearest neighbour

/** `llm_curation`: each op is one curation pass over one shard of a seeded
  * corpus: normalize/tokenize, exact dedup, MinHash near-dup, duplicate-span
  * scrub, and embedding top-k. CPU-bound per-row kernels in `functions` and
  * `llm` dominate, with little shuffle. Every stage's output is checked
  * against the planted ground truth.
  */
final class LlmCuration(spark: SparkSession, dir: String, t: Trace)
    extends Workload(spark, dir, t) {
  import LlmCuration._

  /** truth.tsv lines: shard, kind (exact | near | span | emb), a, b */
  private val truths: Map[Int, Truth] = {
    val src = scala.io.Source.fromFile(s"$dir/truth.tsv")
    val lines = try src.getLines().map(_.split("\t")).toVector finally src.close()
    lines.groupBy(_(0).toInt).map { case (s, ls) =>
      def of(k: String) = ls.filter(_(1) == k).map(l => (l(2).toLong, l(3).toLong))
      s -> Truth(of("exact").toSet, of("near").toSet, of("span").toMap, of("emb").toMap)
    }
  }
  private val shards = truths.size

  /** A window runs whole rounds over every shard. */
  override def mix: Int = shards

  def warmUp(): Unit = { val o = op(0); o.check(o.run()) }

  /** One pass's outputs, collected for the checks. */
  final case class Pass(exact: Set[(Long, Long)], near: Set[(Long, Long)],
      scrubbed: Map[Long, Long], topk: Seq[(Long, Long, Int)], queries: Set[Long])

  def op(i: Int): Op = {
    val s = i % shards
    Op("curation_pass", shardRows(s), () => pass(s), out => check(s, out.asInstanceOf[Pass]))
  }

  private val shardRows = (0 until shards).map(s => spark.read.parquet(s"$dir/shard$s").count())

  private def pass(s: Int): Pass = {
    val raw = t.layer("sources.scan")(IO.parquetRead(spark, Seq(s"$dir/shard$s")))
    val docs = t.keep(t.layer("functions.tokenize")(raw.select(col("doc_id"), col("emb"),
      TextFns.normalize(col("text")).as("norm"), TextFns.tokenCount(col("text")).as("n_tok"))))
    val groups = t.layer("llm.exact_dedup")(Dedup.exact(docs, Seq("norm"), "doc_id"))
    val exact = groups.filter(col("dup_count") > 1).select("keep_id", "dup_count").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = t.keep(Joins.join(docs, groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "semi"))
    val pairs = t.span("llm.near_dup") {
      Dedup.nearDuplicates(survivors, "doc_id", "norm", threshold = 0.7, bands = 16, rowsPerBand = 2)
    }
    val near = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (t.active) t.span("probe.candidates") {
      t.count("llm.near_dup.candidates",
        Dedup.minhashCandidates(survivors, "doc_id", "norm", bands = 16, rowsPerBand = 2).count().toDouble)
      t.count("llm.near_dup.verified", near.size.toDouble)
    }
    val kept = t.keep(Joins.join(survivors, pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "anti"))
    val scrubbed = t.layer("llm.span_scrub")(Dedup.scrubDuplicateSpans(kept, "doc_id", "norm", n = 15))
      .filter(col("n_kept") < col("n_tok")).select("doc_id", "n_tok", "n_kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    val truth = truths(s)
    val queries = truth.embPairs.keySet ++ truth.nearPairs.take(Queries).map(_._1)
    val q = kept.filter(col("doc_id").isin(queries.toSeq: _*))
    val nCorpus = if (t.active) kept.count() else 0L
    val topk = t.layer("llm.embed_topk")(Similarity.bruteForceTopK(kept, q, "doc_id", "emb", k = TopK))
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    t.count("llm.embed_topk.pairs_scored", nCorpus.toDouble * queries.size)
    Pass(exact, near, scrubbed, topk, queries)
  }

  private def check(s: Int, p: Pass): Check = {
    val truth = truths(s)
    val top1 = p.topk.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    def diff[T](name: String, got: Set[T], want: Set[T]): Option[String] =
      if (got == want) None
      else Some(s"$name: unexpected ${(got -- want).take(3)} missing ${(want -- got).take(3)}")
    val problems = Seq(
      diff("exact", p.exact, truth.exactGroups),
      diff("near", p.near, truth.nearPairs),
      diff("span", p.scrubbed.toSet, truth.spanDocs.toSet),
      Option.when(p.topk.size != p.queries.size * TopK)(s"topk: ${p.topk.size} rows for ${p.queries.size} queries"),
      diff("topk_planted", truth.embPairs.keySet.filter(a => top1.get(a).contains(truth.embPairs(a))),
        truth.embPairs.keySet)).flatten
    Check(Some(problems.isEmpty), detail = problems.mkString("; "))
  }
}

object LlmCuration {
  val Queries = 20
  val TopK = 5
}
