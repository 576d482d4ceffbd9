package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference ORM's read calls through `graft.api.Graft`, plus a
  * fixed share through `spark.sql` on the views `enableSql(persistent =
  * true)` registers. Results are tiny: time goes to frame building,
  * planning and per-job fixed cost. */
final class RecordReads(a: Args, rec: Recorder) extends Workload {
  private var ops: IndexedSeq[JsonNode] = IndexedSeq.empty
  private val checked = scala.collection.mutable.Map.empty[Int, Map[String, Any]]

  private var databases = 0

  /** Each repetition registers into its own empty database, so every
    * set-up pays the full registration. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    if (rep > 0) spark.catalog.setCurrentDatabase(s"rep$rep")
    Graft(spark, a.base).enableSql(persistent = true)
  }

  def teardown(spark: SparkSession): Unit = {
    databases += 1
    spark.sql(s"CREATE DATABASE rep$databases")
  }

  def prepare(spark: SparkSession, in: IndexedSeq[JsonNode]): Unit = ops = in

  override def warmOps: Seq[JsonNode] = ops.filter(_.get("warm").asBoolean)

  def nominalCycleS: Double = 3.6

  def timedOps: Iterator[JsonNode] = {
    val timed = ops.filterNot(_.get("warm").asBoolean)
    Iterator.continually(timed).flatten
  }

  override def opClass(op: JsonNode): String = op.get("cls").asText

  /** Build, plan and collect a frame, with a span per layer. */
  private def frame(build: => DataFrame): (Seq[String], Seq[Row]) = {
    val df = rec.span("api.build")(build)
    if (rec.on) rec.span("plans.force")(df.queryExecution.executedPlan)
    val rows = rec.span("exec.collect")(df.collect().toSeq)
    (df.columns.toSeq, rows)
  }

  def run(spark: SparkSession, op: JsonNode): Map[String, Any] = {
    val g = Graft(spark, a.base)
    val k = op.get("k").asLong
    def one(table: String, key: String): (Seq[String], Seq[Row]) = {
      val r = rec.span("api.call")(g.model(table).where(key, k).readOne())
      (r.map(_.schema.fieldNames.toSeq).getOrElse(Seq.empty), r.toSeq)
    }
    def total(table: String, key: String): (Seq[String], Seq[Row]) =
      (Seq("total"), Seq(Row(rec.span("api.call")(
        g.model(table).where(key, k).total()))))
    val (cols, rows) = op.get("t").asText match {
      case "point_customer" => one("customer", "c_custkey")
      case "point_order" => one("orders", "o_orderkey")
      case "point_part" => one("part", "p_partkey")
      case "qbe_orders" =>
        frame(g.model("orders").where("o_custkey", k).read(Some(10)))
      case "total_orders" => total("orders", "o_custkey")
      case "total_lineitem" => total("lineitem", "l_partkey")
      case "select_list" =>
        frame(g.model("nation").selectList("n_nationkey", "n_name"))
      case "rel_belongs_to" =>
        frame(g.model("orders").where("o_orderkey", k).related("customer"))
      case "rel_has_many" =>
        frame(g.model("customer").where("c_custkey", k).related("orders"))
      case "rel_m2m" =>
        frame(g.model("part").where("p_partkey", k).related("orders"))
      case _ => frame(spark.sql(op.get("sql").asText))
    }
    val id = op.get("id").asInt
    if (op.has("check") && op.get("check").asBoolean && !checked.contains(id))
      checked(id) = Main.rowsJson(cols, rows)
    Map("rows" -> rows.size)
  }

  def check(spark: SparkSession): (SparkSession, Map[String, Any]) =
    (spark, Map("results" -> checked.map { case (k, v) => k.toString -> v }.toMap))
}
