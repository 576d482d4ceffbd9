package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    // suites run under the same session recipe and HMS-backed catalog
    // as Verify/Bench (SPARK_GRAFT_HMS=0 opts back into the in-memory
    // catalog)
    val s = graft.api.Sessions.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Runs `body` and returns its result with the description (or
    * stage names) of every Spark job it launched. The listener bus is
    * drained before and after, so the list is complete and holds no
    * job from earlier work. */
  def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.map(_.name).mkString("|")))
        ()
      }
    }
    org.apache.spark.sql.graftbridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.drainListeners(sc)
      (r, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(l)
  }
}
