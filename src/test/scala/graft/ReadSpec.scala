package graft

import graft.operators.Read
import graft.schema.Catalog
import graft.sources.Tables
import org.apache.spark.sql.{functions => F}

class ReadSpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scan projects exactly the declared fields") {
    val df = Tables.scan(spark, sf, "customer")
    assert(df.columns.toSeq ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
  }

  test("qbe point lookup finds one row by unique key") {
    val df = Read.read(spark, sf, "customer",
      example = Map("c_custkey" -> 42L), limit = Some(1), sorted = false)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("c_custkey") == 42L)
  }

  test("undeclared field in QBE throws (model.php:219-225 semantics)") {
    intercept[IllegalArgumentException] {
      Read.qbe(Catalog("customer"), Map("no_such_col" -> 1))
    }
  }

  test("declared sort applies o_orderdate desc") {
    val top = Read.read(spark, sf, "orders", limit = Some(5)).collect()
    val dates = top.map(_.getAs[java.time.LocalDateTime]("o_orderdate")
      .toEpochSecond(java.time.ZoneOffset.UTC))
    assert(dates.sameElements(dates.sorted(Ordering[Long].reverse)))
  }

  test("select_list distinct pairs") {
    val n = Read.selectList(spark, sf, "nation", "n_nationkey", "n_name").count()
    assert(n == 25)
  }

  test("total equals manual count") {
    val t = Read.total(spark, sf, "lineitem",
      extra = Some(F.col("l_quantity") > 25.0)).collect()(0).getLong(0)
    val manual = Tables.scan(spark, sf, "lineitem")
      .filter(F.col("l_quantity") > 25.0).count()
    assert(t == manual)
  }

  test("isUnique probe") {
    assert(!Read.isUnique(spark, sf, "customer", "c_custkey", 42L))
    assert(Read.isUnique(spark, sf, "customer", "c_custkey", 999999L))
  }

  test("a warm base-table scan launches no schema-inference job") {
    val g = graft.api.Graft(spark, sf)
    // warm every table the measured calls touch (part -> orders is
    // many_to_many through lineitem)
    Seq("customer", "part", "lineitem", "orders")
      .foreach(Tables.scan(spark, sf, _))
    val (_, rescan) = jobsDuring(Tables.scan(spark, sf, "customer"))
    assert(rescan.isEmpty, "warm scan launched: " + rescan.mkString(" // "))
    val (_, related) = jobsDuring(
      g.model("part").where("p_partkey", 1L).related("orders"))
    assert(related.isEmpty,
      "building a relation launched: " + related.mkString(" // "))
    val (row, read) = jobsDuring(
      g.model("customer").where("c_custkey", 42L).readOne())
    assert(row.exists(_.getAs[Long]("c_custkey") == 42L))
    assert(read.size == 1,
      "readOne must be its one collect job: " + read.mkString(" // "))
  }

  test("a file replaced at the same path is re-inferred: schema and rows follow") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_tables").toString
    val target = Paths.get(Tables.path(dir, "orders"))
    def place(sfDir: String, table: String): Unit =
      Files.copy(Paths.get(Tables.path(sfDir, table)), target,
        StandardCopyOption.REPLACE_EXISTING)
    val sf01 = new java.io.File(sf).getParentFile.toPath
      .resolve("sf0.01").toString
    try {
      place(sf, "orders")
      val small = Tables.scan(spark, dir, "orders").count()
      assert(small == Tables.scan(spark, sf, "orders").count())
      place(sf, "customer")
      assert(Tables.parquet(spark, target.toString).schema ==
        spark.read.parquet(Tables.path(sf, "customer")).schema)
      place(sf01, "orders")
      val big = Tables.scan(spark, dir, "orders").count()
      assert(big == Tables.scan(spark, sf01, "orders").count() && big > small)
    } finally graft.ExtShared.deleteRec(new java.io.File(dir))
  }

  test("each scan is a fresh relation: a self-join on Dataset columns resolves") {
    val a = Tables.scan(spark, sf, "customer")
    val b = Tables.scan(spark, sf, "customer")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty)
    val pairs = a.join(b, a("c_custkey") === b("c_custkey") + 1L)
      .select(a("c_custkey"), b("c_custkey")).collect()
    assert(pairs.nonEmpty &&
      pairs.forall(r => r.getLong(0) == r.getLong(1) + 1L))
    assert(pairs.length == a.count() - 1L)
  }

  test("a missing base file still fails with Spark's PATH_NOT_FOUND") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.scan(spark, dir, "orders"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("queries and oracleSql keys line up") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
