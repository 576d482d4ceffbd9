package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.Text
import graft.operators.{Dedup, IvfIndex, IvfStore, Similarity, SignatureStore}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Curation batches: near-duplicate dedup against a standing
  * signature store, quality scoring, vector ingest and IVF top-k over
  * a standing index; periodically a components pass and a retrain. */
final class CurationBatch(a: Args, rec: Recorder) extends Workload {
  private val initDocs = Args.extra(a).get("init_docs").asLong
  private val minhashK = 16
  private val bands = 8
  private val threshold = 0.5
  private val cells = 10
  private val iters = 3
  private val nprobe = 3
  private val topK = 10
  private val shingles3 = (c: Column) => Text.distinctShingles(c, 3)

  private var ops: IndexedSeq[JsonNode] = IndexedSeq.empty
  private var sigRoot = ""
  private var ivfRoot = ""
  private var index: IvfIndex.Index = _
  private var lastKept: Seq[Row] = Seq.empty
  private val recent = ArrayBuffer.empty[Seq[Row]]
  private val kept = ArrayBuffer.empty[Map[String, Any]]
  private val annOps = ArrayBuffer.empty[JsonNode]

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def setup(spark: SparkSession, rep: Int): Unit = {
    sigRoot = s"${a.work}/stores/r$rep/signatures"
    ivfRoot = s"${a.work}/stores/r$rep/ivf"
    SignatureStore.init(spark.read.parquet(s"${a.base}/documents.parquet")
      .filter(F.col("doc_id") < initDocs), "doc_id", "text", sigRoot,
      minhashK, bands, shingles3)
    IvfStore.init(spark.read.parquet(s"${a.base}/embeddings.parquet")
      .select("vec_id", "embedding"), "vec_id", "embedding", cells, iters,
      ivfRoot)
    index = IvfStore.load(spark, ivfRoot, "vec_id", "embedding")
  }

  def teardown(spark: SparkSession): Unit = ()

  def prepare(spark: SparkSession, in: IndexedSeq[JsonNode]): Unit = ops = in

  def nominalCycleS: Double = 24.0

  def timedOps: Iterator[JsonNode] = ops.iterator

  private def docs(spark: SparkSession, j: JsonNode): (Seq[Row], DataFrame) = {
    val rows = j.elements().asScala.map(d => Row(d.get("doc_id").asLong,
      d.get("text").asText, d.get("lang").asText, d.get("source").asText,
      d.get("n_chars").asLong)).toSeq
    (rows, spark.createDataFrame(rows.asJava, docSchema))
  }

  private def vecs(spark: SparkSession, j: JsonNode): DataFrame =
    spark.createDataFrame(j.elements().asScala.map(v => Row(
      v.get("vec_id").asLong, v.get("embedding").elements().asScala
        .map(_.floatValue).toSeq)).toSeq.asJava, vecSchema)

  private def ann(queries: DataFrame): Seq[Row] = {
    val df = rec.span("api.build")(IvfIndex.topK(index, queries, topK, nprobe))
    if (rec.on) rec.span("plans.force")(df.queryExecution.executedPlan)
    rec.span("exec.collect")(df.collect().toSeq)
  }

  def run(spark: SparkSession, op: JsonNode): Map[String, Any] =
    op.get("t").asText match {
      case "dedup" =>
        val (rows, batch) = docs(spark, op.get("docs"))
        val survivors = rec.span("operators.curation.dedup") {
          SignatureStore.ingest(spark, sigRoot, batch, "doc_id", "text",
            minhashK, bands, threshold, shingles3).collect().toSeq
        }
        lastKept = survivors
        recent += rows
        if (recent.size > 4) recent.remove(0)
        kept += Map("batch" -> op.get("batch").asInt,
          "offered" -> rows.map(_.getLong(0)),
          "kept" -> survivors.map(_.getLong(0)))
        Map("docs" -> rows.size, "kept" -> survivors.size)
      case "quality" =>
        val passed = rec.span("operators.curation.quality") {
          spark.createDataFrame(lastKept.asJava, docSchema)
            .withColumn("q", Text.qualityScore(F.col("text")))
            .filter(F.col("q") >= 0.55).select("doc_id", "q").collect().length
        }
        Map("passed" -> passed)
      case "ivf_ingest" =>
        index = rec.span("operators.curation.ivf_ingest")(
          IvfStore.ingest(spark, ivfRoot, vecs(spark, op.get("vecs")),
            "vec_id", "embedding"))
        Map.empty
      case "ann" =>
        annOps += op
        val hits = rec.span("operators.curation.ann")(
          ann(vecs(spark, op.get("queries"))))
        Map("hits" -> hits.size)
      case "components" =>
        val n = rec.span("operators.curation.components") {
          val corpus = spark.read.parquet(s"${a.base}/documents.parquet")
            .filter(F.col("doc_id") < initDocs)
          val recentDf = spark.createDataFrame(recent.flatten.asJava, docSchema)
          val pairs = Dedup.minhashPairs(corpus.unionByName(recentDf),
            "doc_id", "text", minhashK, bands, threshold, shingles3)
          Dedup.dupComponents(pairs).count()
        }
        Map("labelled" -> n)
      case "retrain" =>
        rec.span("operators.curation.retrain") {
          val all = index.assigned.select(F.col("id").as("vec_id"),
            F.col("vec").as("embedding")).localCheckpoint(eager = true)
          IvfStore.init(all, "vec_id", "embedding", cells, iters, ivfRoot)
          index = IvfStore.load(spark, ivfRoot, "vec_id", "embedding")
        }
        Map.empty
    }

  /** Self-queries (an exact copy of an indexed vector under a fresh
    * query id) and recall of IVF against brute force on sampled query
    * batches, both over the final index. */
  def check(spark: SparkSession): (SparkSession, Map[String, Any]) = {
    val selfIds = Args.extra(a).get("self_queries").elements().asScala.map(_.asLong).toSeq
    val selfQ = index.assigned.filter(F.col("id").isin(selfIds: _*))
      .select((F.col("id") + 3000000L).as("vec_id"), F.col("vec").as("embedding"))
    val selfHits = IvfIndex.topK(index, selfQ, 1, nprobe)
      .select("query_id", "match_id").collect()
      .map(r => Seq(r.getLong(0) - 3000000L, r.getLong(1))).toSeq
    val corpus = index.assigned.select(F.col("id").as("vec_id"),
      F.col("vec").as("embedding"))
    val recall = annOps.take(4).map { op =>
      val q = vecs(spark, op.get("queries"))
      def pairs(df: DataFrame) = df.select("query_id", "match_id").collect()
        .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
      Map("ivf" -> pairs(IvfIndex.topK(index, q, topK, nprobe)),
        "exact" -> pairs(Similarity.bruteForceTopK(corpus, q, "vec_id",
          "embedding", topK)))
    }.toSeq
    (spark, Map("kept" -> kept.toSeq, "self" -> selfHits, "recall" -> recall))
  }
}
