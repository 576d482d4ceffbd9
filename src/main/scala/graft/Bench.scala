package graft

/** Benchmark main — runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Each query is forced through the `noop` sink rather than
  * `.count()`: count() lets Catalyst prune the whole projection away,
  * which would benchmark the scan, not the operator. noop executes the
  * full physical plan (codegen, shuffles, sort) and discards rows. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query-name filter for targeted
    // profiling (noise triage, per-operator iteration); the driver
    // never sets it, so graded runs always cover the full set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd (or all-empty, e.g. ",") selection must error loudly,
    // not silently bench nothing
    only.foreach { sel =>
      if (sel.isEmpty) {
        graft.util.Log.warn(s"[bench] SPARK_GRAFT_BENCH_ONLY selects no queries")
        sys.exit(2)
      }
      val unknown = sel -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        graft.util.Log.warn(s"[bench] unknown SPARK_GRAFT_BENCH_ONLY names: " +
          unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val benched = only.fold(SparkEntry.queries)(sel =>
      SparkEntry.queries.filter { case (k, _) => sel(k) })
    // same catalog mode as Verify: the benched SQL-family queries go
    // through the HMS-backed persistent catalog unless SPARK_GRAFT_HMS=0
    val spark = graft.api.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: run every query once against the target SF so the
    // timed passes measure steady-state execution (codegen cache, JIT,
    // file-footer metadata) rather than first-touch costs
    benched.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // median of 3 timed passes per query: one contended/GC-unlucky
    // pass on a shared box can otherwise record a 10-40x outlier and
    // poison the recorded baseline for every later round.
    // Passes are INTERLEAVED round-robin (pass 1 of every query, then
    // pass 2, ...): back-to-back passes of one query all land in the
    // same contended stretch of a shared box, so a per-query median
    // alone cannot remove a box-noise episode — spreading each
    // query's samples across the whole run can.
    val passes = 3
    val names = benched.toSeq.sortBy(_._1)
    val samples = Array.fill(names.size)(Vector.empty[Double])
    // Noise self-description: two rounds running (r9, r10) the
    // driver-run tail was dominated by box contention and the
    // diagnosis each time needed a manual clean re-run. Record the
    // host's load average and this JVM's GC totals over the timed
    // passes so the artifact carries its own contention evidence —
    // load_avg far above n_cpus, or GC time a large fraction of the
    // wall total, means "contended box", not "plan regression".
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcTotals: (Long, Long) = {
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    }
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val (gcCount0, gcMs0) = gcTotals
    for (_ <- 0 until passes; i <- names.indices) {
      val (name, fn) = names(i)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        graft.util.Log.warn(s"[bench] $name failed: ${e.getMessage}")
      }
      samples(i) :+= (System.nanoTime() - t0) / 1e9
    }
    val results = names.indices.map { i =>
      val sorted = samples(i).sorted
      names(i)._1 -> sorted(sorted.size / 2)
    }
    // The driver captures only a bounded (~2000-char) TAIL of this
    // process's output and parses the LAST JSON line out of it. The
    // full per-query line outgrew that buffer once the set passed ~80
    // queries (at 134 queries it is ~3,400 chars — BENCH_r05–r07 all
    // recorded "parsed": null because the leading "value": total was
    // truncated away). So the output contract is now two lines, both
    // after spark.stop() so no shutdown logging can follow them:
    //   1. the full per-query line (human/tooling detail, may exceed
    //      the tail buffer — that is fine, it is not the parsed line)
    //   2. a SHORT final total line (<120 chars at any query count) —
    //      the one the driver's tail parse always sees intact.
    // The full map is also written to a local JSON file so
    // round-over-round per-query regressions stay tracked even when
    // the driver tail truncates line 1.
    // Locale.ROOT: a comma-decimal default locale would otherwise
    // emit invalid JSON
    def ms3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val (gcCount1, gcMs1) = gcTotals
    val noise =
      s""""noise":{"load_avg_start":${ms3(loadStart)},"load_avg_end":${ms3(loadEnd)},""" +
        s""""n_cpus":${Runtime.getRuntime.availableProcessors},""" +
        s""""gc_count":${gcCount1 - gcCount0},"gc_ms":${gcMs1 - gcMs0}}"""
    val fullLine =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec",$noise,"queries":$qs,"sf":"$sfDir"}"""
    val localOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    scala.util.Try {
      java.nio.file.Files.write(java.nio.file.Paths.get(localOut),
        (fullLine + "\n").getBytes("UTF-8"))
    }.failed.foreach(e =>
      // the local record is the round-over-round regression tracker —
      // losing it silently defeats its purpose
      graft.util.Log.warn(s"[bench] could not write $localOut: ${e.getMessage}"))
    // Try: a shutdown race (e.g. streaming state-store threads) must
    // not swallow the JSON lines the driver parses — emit regardless
    scala.util.Try(spark.stop())
    println(fullLine)
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
