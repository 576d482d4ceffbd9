package graft.tools
/** Emits a markdown table of scale-relevant physical-plan properties
  * for every SparkEntry query: shuffle (Exchange) count, broadcast
  * usage, parquet filter pushdown, codegen presence. */
object PlanAudit {
  def main(a: Array[String]): Unit = {
    val sfDir = a.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.api.Sessions.local(4)
    // AQE off so the printed plans are the final static plans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    println("| query | shuffles | broadcast | pushed filters | codegen |")
    println("|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        if (name.startsWith("x_stream")) {
          println(s"| $name | (streaming micro-batches) | n/a | n/a | n/a |")
        } else {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val shuffles = "(?m)^\\s*\\+?-? ?Exchange ".r.findAllIn(plan).length +
            plan.split("\n").count(l => l.contains("Exchange ") && !l.contains("BroadcastExchange"))
          val nShuffle = plan.split("\n").count(l => l.trim.matches("[+:\\-* (0-9]*Exchange .*"))
          val bc = plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin") ||
            plan.contains("BroadcastNestedLoop")
          val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
          val cg = plan.contains("*(")
          println(s"| $name | $nShuffle | ${if (bc) "yes" else "no"} | ${if (pushed) "yes" else "n/a"} | ${if (cg) "yes" else "no"} |")
        }
      } catch { case e: Throwable => println(s"| $name | ERR ${e.getClass.getSimpleName} | | | |") }
    }
    spark.stop()
  }
}
