package graft.sources.v2

import graft.SparkSpec

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.final_orders")
    val dir = java.nio.file.Files.createTempDirectory("graft_catalog_spec")
    spark.sql("CREATE TABLE graft.final_orders (k BIGINT, status STRING, v DOUBLE) " +
      s"LOCATION '$dir/final_orders'")
  }

  test("v2 table: CREATE / INSERT / SELECT round-trip through SQL") {
    setup()
    spark.sql("INSERT INTO graft.final_orders VALUES (1, 'old', 10.0), (2, 'old', 20.0), (3, 'old', 30.0)")
    val rows = spark.sql("SELECT * FROM graft.final_orders ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "old", 10.0), (2L, "old", 20.0), (3L, "old", 30.0)))
  }

  test("literal MERGE INTO SQL: matched rows update, unmatched insert (J1 parity)") {
    setup()
    spark.sql("INSERT INTO graft.final_orders VALUES (1, 'old', 10.0), (2, 'old', 20.0), (3, 'old', 30.0)")
    Seq((2L, "new", 99.0), (4L, "new", 44.0)).toDF("k", "status", "v")
      .createOrReplaceTempView("updates")

    spark.sql("""
      MERGE INTO graft.final_orders t
      USING updates u
      ON t.k = u.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)

    val rows = spark.sql("SELECT * FROM graft.final_orders ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, "old", 10.0), (2L, "new", 99.0), (3L, "old", 30.0), (4L, "new", 44.0)))
  }

  test("MERGE INTO supports conditional DELETE clauses; re-merge re-applies deterministically") {
    setup()
    spark.sql("INSERT INTO graft.final_orders VALUES (1, 'old', 10.0), (2, 'drop', 20.0)")
    Seq((1L, "new", 11.0), (2L, "x", 0.0)).toDF("k", "status", "v")
      .createOrReplaceTempView("updates2")

    val merge = """
      MERGE INTO graft.final_orders t
      USING updates2 u
      ON t.k = u.k
      WHEN MATCHED AND t.status = 'drop' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """
    spark.sql(merge)
    val once = spark.sql("SELECT * FROM graft.final_orders ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(once == Seq((1L, "new", 11.0)), s"got $once")
    spark.sql(merge)
    val twice = spark.sql("SELECT * FROM graft.final_orders ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    // re-applying: k=1 updates to same values; k=2 re-inserts (status 'x')
    assert(twice == Seq((1L, "new", 11.0), (2L, "x", 0.0)))
  }

  test("CREATE TABLE without LOCATION is refused by name") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val e = intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE graft.no_location (k BIGINT)")
    }
    assert(e.getMessage.contains("LOCATION"), e.getMessage)
  }
}
