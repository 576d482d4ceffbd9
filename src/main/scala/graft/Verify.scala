package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    // a typo'd subset name silently dumps nothing and buries itself in
    // ~130 "no spark output" lines from check.py — fail fast instead
    // (same guard as Bench's SPARK_GRAFT_BENCH_ONLY)
    only.foreach { sel =>
      if (sel.isEmpty) {
        graft.util.Log.warn(s"[verify] query-name filter selects no queries")
        sys.exit(2)
      }
      val unknown = sel -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        graft.util.Log.warn(s"[verify] unknown query names: " +
          unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    // persistent-catalog queries register through a real Hive
    // metastore (embedded Derby) unless SPARK_GRAFT_HMS=0
    val spark = graft.api.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          graft.util.Log.warn(s"[verify] $name failed: ${e.getMessage}")
          failed.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // plan-time crashes otherwise vanish into stderr and a query
    // silently drops out of the round's grading (that is exactly how
    // round 9 lost 23 queries) — record them as a round artifact.
    // A SIBLING file, not a key inside oracle_sql.json: the driver
    // iterates that dict as name→SQL and an extra structured field
    // could break its json handling.
    // On an `only`-filtered run MERGE with the existing file instead
    // of replacing it (round-11 advice): the parquet outputs of the
    // queries NOT re-run persist from the prior full run, so their
    // crash records must persist too — a blanket overwrite would let
    // check.py attribute a stale parquet's absence to "missing" after
    // any filtered iteration. Entries for queries IN the filter are
    // replaced (cleared on success, updated on failure).
    val failedPath = Paths.get(s"$outDir/failed_queries.json")
    val prior: Map[String, String] =
      if (only.isEmpty || !Files.exists(failedPath)) Map.empty
      else scala.util.Try {
        // the session is already up — read the single-object JSON
        // through it rather than hand-rolling a parser
        val df = spark.read.option("multiLine", "true")
          .json(failedPath.toString)
        df.collect().headOption.map { row =>
          df.schema.fieldNames.zipWithIndex.collect {
            case (n, i) if !row.isNullAt(i) => n -> row.get(i).toString
          }.toMap
        }.getOrElse(Map.empty[String, String])
      }.getOrElse(Map.empty[String, String])
    val kept = prior.filter { case (k, _) => only.exists(!_.contains(k)) }
    val failedJson = (kept.toSeq.sortBy(_._1) ++ failed.toSeq)
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(failedPath, failedJson)
    if (failed.nonEmpty)
      graft.util.Log.warn(s"[verify] ${failed.size} queries failed to run: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
