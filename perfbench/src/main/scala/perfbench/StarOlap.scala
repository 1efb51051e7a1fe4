package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Joins, Sorts}
import graft.operators.Aggregates.AggRequest
import graft.plans.AsOfMergeJoin
import graft.sources.IO

/** `star_olap`: a round-robin mix of TPC-H-shaped analytics over a seeded star
  * schema with Zipf-skewed order→customer keys, plus the reference's op-only
  * unique-key inner join. Work falls on `sources`, `plans` and `operators`.
  * Every result is checked against DuckDB (`oracle.py`) by digest, except
  * `ref_join`, whose output row count is checked exactly.
  */
final class StarOlap(spark: SparkSession, dir: String, t: Trace)
    extends Workload(spark, dir, t) {
  import StarOlap._

  private val refJoin = new RefJoin(spark, s"$dir/ref", t)
  private def path(table: String) = s"$dir/$table"
  private var sizes = Map.empty[String, Long]

  private def rows(tables: String*): Long = tables.map(sizes).sum

  private def scan(table: String, cols: String*)(f: DataFrame => DataFrame): DataFrame =
    t.layer("sources.scan")(f(IO.parquetRead(spark, Seq(path(table)), cols)))

  private def collected(df: DataFrame): Seq[Row] = df.collect().toSeq

  private val ops: Vector[(String, () => Long, () => Seq[Row])] = Vector(
    ("scan_filter", () => rows("lineitem"), () => {
      val li = scan("lineitem", "l_shipday", "l_discount_pct", "l_quantity", "l_extprice_cents")(
        _.filter(col("l_shipday").between(365, 729) && col("l_discount_pct").between(5, 7) &&
          col("l_quantity") < 24))
      collected(t.layer("operators.groupby")(Aggregates.reduceAll(
        li.withColumn("rev", col("l_extprice_cents") * col("l_discount_pct")),
        Seq(AggRequest("rev", "sum", "revenue"), AggRequest("rev", "count_all", "n")))))
    }),
    ("groupby", () => rows("lineitem"), () => {
      val li = scan("lineitem", "l_returnflag", "l_linestatus", "l_quantity", "l_extprice_cents",
        "l_discount_pct", "l_orderkey", "l_shipday")(_.filter(col("l_shipday") <= Days - 60))
      collected(t.layer("operators.groupby")(Aggregates.groupby(
        li.withColumn("disc_price", col("l_extprice_cents") * (lit(100) - col("l_discount_pct"))),
        Seq("l_returnflag", "l_linestatus"),
        Seq(AggRequest("l_quantity", "sum", "sum_qty"), AggRequest("l_extprice_cents", "sum", "sum_base"),
          AggRequest("disc_price", "sum", "sum_disc"), AggRequest("l_quantity", "count_all", "n"),
          AggRequest("l_orderkey", "max", "max_orderkey")))))
    }),
    ("join_groupby", () => rows("customer", "orders", "lineitem"), () => {
      val c = scan("customer", "c_custkey", "c_mktsegment")(
        _.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("o_custkey")))
      val o = scan("orders", "o_orderkey", "o_custkey", "o_orderday")(_.filter(col("o_orderday") < Days / 2))
      val l = scan("lineitem", "l_orderkey", "l_extprice_cents", "l_discount_pct", "l_shipday")(
        _.filter(col("l_shipday") > Days / 2))
      val co = t.layer("operators.join")(Joins.join(c, o, Seq("o_custkey")))
      val col3 = t.layer("operators.join")(Joins.join(co.withColumnRenamed("o_orderkey", "l_orderkey"), l, Seq("l_orderkey")))
      val g = t.layer("operators.groupby")(Aggregates.groupby(
        col3.withColumn("rev", col("l_extprice_cents") * (lit(100) - col("l_discount_pct"))),
        Seq("o_custkey"), Seq(AggRequest("rev", "sum", "revenue"), AggRequest("rev", "count_all", "n"))))
      collected(t.layer("operators.sort")(Sorts.sort(g, Seq("revenue", "o_custkey"), Seq(false, true), limit = Some(20))))
    }),
    ("sort_topk", () => rows("lineitem"), () => {
      val li = scan("lineitem", "l_orderkey", "l_linenumber", "l_extprice_cents")(identity)
      collected(t.layer("operators.sort")(Sorts.sort(li, Seq("l_extprice_cents", "l_orderkey", "l_linenumber"),
        Seq(false, true, true), limit = Some(50))))
    }),
    ("topk_group", () => rows("orders"), () => {
      val o = scan("orders", "o_custkey", "o_orderkey", "o_totalprice_cents")(identity)
      val top = t.layer("operators.sort")(Sorts.topKPerGroup(o, Seq("o_custkey"),
        Seq(col("o_totalprice_cents").desc, col("o_orderkey").asc), k = 3))
      collected(t.layer("operators.groupby")(Aggregates.reduceAll(top, Seq(AggRequest("o_orderkey", "count_all", "n"),
        AggRequest("o_orderkey", "sum", "sum_orderkey"), AggRequest("o_totalprice_cents", "sum", "sum_price")))))
    }),
    ("asof_join", () => rows("lineitem", "prices"), () => {
      val l = scan("lineitem", "l_partkey", "l_shipday", "l_quantity")(identity)
      val p = scan("prices", "l_partkey", "eff_day", "price_cents")(identity)
      val j = t.layer("plans.asof_join")(AsOfMergeJoin.join(l, p, Seq("l_partkey"), "l_shipday", "eff_day",
        Seq("price_cents")))
      collected(t.layer("operators.groupby")(Aggregates.reduceAll(j.withColumn("cost", col("l_quantity") * col("price_cents")),
        Seq(AggRequest("cost", "sum", "sum_cost"), AggRequest("cost", "count_all", "n")))))
    }))

  /** The analytic ops plus `ref_join`: an odd count, so the mix's median
    * falls inside one op kind's cluster of walls rather than between two.
    */
  override def mix: Int = ops.size + 1
  override def hasRefJoin: Boolean = true

  /** Two rounds of the mix: one round leaves the first timed round still
    * paying just-in-time compilation, which then sets the window's tail.
    */
  def warmUp(): Unit = {
    sizes = Seq("customer", "orders", "lineitem", "prices").map(n => n -> spark.read.parquet(path(n)).count()).toMap
    refJoin.load()
    for (i <- 0 until 2 * mix) op(i).run()
  }

  def op(i: Int): Op =
    if (i % mix == ops.size) refJoin.op()
    else {
      val (kind, n, run) = ops(i % mix)
      Op(kind, n(), run, out => Check(None, Main.digest(out.asInstanceOf[Seq[Row]])))
    }

}

object StarOlap {
  /** the day range `gen.py` draws order and ship days from */
  val Days = 2400
}

/** The reference's join benchmark (legate-dataframe `python/benchmarks/join.py`,
  * as in `graft.Bench`): an inner join of two `nrows`-row tables of (float64
  * key, float64 payload) with unique keys that all match, inputs resident in
  * memory before timing; `run.py` derives (bytes in + bytes out) / op wall.
  */
final class RefJoin(spark: SparkSession, dir: String, t: Trace) {
  private var lhs: DataFrame = _
  private var rhs: DataFrame = _
  var nrows = 0L

  /** Read both sides and keep them cached: the op is the join alone. */
  def load(): Unit = {
    lhs = IO.parquetRead(spark, Seq(s"$dir/lhs")).persist()
    rhs = IO.parquetRead(spark, Seq(s"$dir/rhs")).persist()
    nrows = lhs.count()
    require(rhs.count() == nrows, "the reference join's sides differ in size")
  }

  def unload(): Unit = { lhs.unpersist(blocking = true); rhs.unpersist(blocking = true) }

  def op(): Op = Op("ref_join", 2 * nrows, () => t.span("operators.join") {
    val j = Joins.join(lhs, rhs, Seq("key"))
    t.plan(j)
    val plan = j.queryExecution.executedPlan
    plan.execute().foreach(_ => ())
    RefJoin.outputRows(plan)
  }, out => {
    val n = out.asInstanceOf[Long]
    Check(Some(n == nrows), detail = s"rows_out=$n")
  })
}

object RefJoin extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Rows the executed plan's join operators produced (their SQL metric). */
  def outputRows(plan: org.apache.spark.sql.execution.SparkPlan): Long =
    collect(plan) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
