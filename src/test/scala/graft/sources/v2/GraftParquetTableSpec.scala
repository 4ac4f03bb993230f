package graft.sources.v2

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StructType}

class GraftParquetTableSpec extends SparkSpec {
  import spark.implicits._

  private def setup(name: String): String = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val loc = Files.createTempDirectory(s"graft_pq_$name").toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS graft.$name")
    spark.sql(s"""CREATE TABLE graft.$name
      (k BIGINT, status STRING, v DOUBLE, ts TIMESTAMP) LOCATION '$loc'""")
    loc
  }

  test("parquet-backed v2 table: INSERT writes real files; SELECT reads them back") {
    val loc = setup("pq1")
    spark.sql("INSERT INTO graft.pq1 VALUES " +
      "(1, 'old', 10.0, TIMESTAMP '2024-01-01 10:00:00'), " +
      "(2, 'old', 20.0, TIMESTAMP '2024-01-02 11:30:00'), " +
      "(3, NULL, 30.0, NULL)")
    val files = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, "rows must land in real parquet files")
    val rows = spark.sql("SELECT k, status, v, CAST(ts AS STRING) FROM graft.pq1 ORDER BY k")
      .as[(Long, Option[String], Double, Option[String])].collect().toSeq
    assert(rows == Seq(
      (1L, Some("old"), 10.0, Some("2024-01-01 10:00:00")),
      (2L, Some("old"), 20.0, Some("2024-01-02 11:30:00")),
      (3L, None, 30.0, None)))
    // files are plain parquet: Spark's own reader agrees
    val direct = spark.read.parquet(loc).count()
    assert(direct == 3)
  }

  test("MERGE INTO on parquet files: update + insert + snapshot swap") {
    val loc = setup("pq2")
    spark.sql("INSERT INTO graft.pq2 VALUES " +
      "(1, 'old', 10.0, TIMESTAMP '2024-01-01 00:00:00'), " +
      "(2, 'old', 20.0, TIMESTAMP '2024-01-01 00:00:00')")
    Seq((2L, "new", 99.0), (4L, "new", 44.0)).toDF("k", "status", "v")
      .selectExpr("k", "status", "v", "TIMESTAMP '2024-06-01 00:00:00' AS ts")
      .createOrReplaceTempView("pq_updates")
    spark.sql("""
      MERGE INTO graft.pq2 t USING pq_updates u ON t.k = u.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT k, status, v FROM graft.pq2 ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "old", 10.0), (2L, "new", 99.0), (4L, "new", 44.0)))
    // no stale staging/old dirs left behind
    val parent = new java.io.File(loc).getParentFile
    assert(!parent.listFiles().exists(f => f.getName.contains("_staging_") || f.getName.endsWith("_old")),
      s"leftover dirs: ${parent.listFiles().map(_.getName).mkString(",")}")
  }

  test("DELETE FROM and UPDATE SQL work through the same row-level machinery") {
    val loc = setup("pq4")
    spark.sql("INSERT INTO graft.pq4 VALUES " +
      "(1, 'a', 1.0, NULL), (2, 'b', 2.0, NULL), (3, 'c', 3.0, NULL)")
    spark.sql("DELETE FROM graft.pq4 WHERE k = 2")
    assert(spark.sql("SELECT k FROM graft.pq4 ORDER BY k").as[Long].collect().toSeq
      == Seq(1L, 3L))
    spark.sql("UPDATE graft.pq4 SET v = v * 10 WHERE k = 3")
    val rows = spark.sql("SELECT k, v FROM graft.pq4 ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 1.0), (3L, 30.0)))
    assert(spark.read.parquet(loc).count() == 2)
  }

  test("MERGE rewrites only the file group containing matched keys (runtime group pruning)") {
    val loc = setup("pq5")
    // two separate INSERTs -> (at least) two separate parquet files
    spark.sql("INSERT INTO graft.pq5 VALUES (1, 'a', 1.0, NULL), (2, 'b', 2.0, NULL)")
    spark.sql("INSERT INTO graft.pq5 VALUES (10, 'x', 10.0, NULL), (20, 'y', 20.0, NULL)")
    def snapshot() = new java.io.File(loc).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified(),
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))))
      .toMap
    val before = snapshot()
    assert(before.size >= 2, s"need multiple files, got ${before.keys}")

    Seq((2L, "new", 99.0)).toDF("k", "status", "v")
      .selectExpr("k", "status", "v", "CAST(NULL AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("pq_updates5")
    spark.sql("""
      MERGE INTO graft.pq5 t USING pq_updates5 u ON t.k = u.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")

    val rows = spark.sql("SELECT k, status, v FROM graft.pq5 ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 1.0), (2L, "new", 99.0), (10L, "x", 10.0), (20L, "y", 20.0)))

    val after = snapshot()
    // the file holding k=10/k=20 must be untouched: same name, same bytes
    val untouched = before.keySet intersect after.keySet
    assert(untouched.nonEmpty,
      s"group pruning must leave the unmatched file in place; before=${before.keys} after=${after.keys}")
    untouched.foreach { n => assert(before(n) == after(n), s"file $n was rewritten") }
    // the file holding k=1/k=2 must have been replaced
    assert((before.keySet -- after.keySet).nonEmpty, "the matched file must be rewritten")
  }

  test("MERGE with conditional DELETE removes rows from the files") {
    val loc = setup("pq3")
    spark.sql("INSERT INTO graft.pq3 VALUES " +
      "(1, 'keep', 1.0, NULL), (2, 'drop', 2.0, NULL)")
    Seq((1L, "upd", 1.5), (2L, "x", 0.0)).toDF("k", "status", "v")
      .selectExpr("k", "status", "v", "CAST(NULL AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("pq_updates3")
    spark.sql("""
      MERGE INTO graft.pq3 t USING pq_updates3 u ON t.k = u.k
      WHEN MATCHED AND t.status = 'drop' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *""")
    val rows = spark.sql("SELECT k, status FROM graft.pq3 ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "upd")))
    assert(spark.read.parquet(loc).count() == 1)
  }

  test("a row-level scan over one file fixes its group; over two it keeps the _file filter") {
    val schema = new StructType().add("k", LongType)
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    def scanOf(files: String*): (GraftParquetScan, RewriteGroup) = {
      val group = new RewriteGroup
      val scan = new GraftScanBuilder(schema, files.map(_ -> 1L).toArray, conf,
        Some(group), "/unused").build().asInstanceOf[GraftParquetScan]
      (scan, group)
    }
    val (one, oneGroup) = scanOf("f1.parquet")
    assert(one.filterAttributes().isEmpty)
    assert(oneGroup.scannedFiles.map(_.toSeq).contains(Seq("f1.parquet")))
    val (two, twoGroup) = scanOf("f1.parquet", "f2.parquet")
    assert(two.filterAttributes().map(_.fieldNames().toSeq).toSeq ==
      Seq(Seq(GraftParquetTable.FileCol)))
    assert(twoGroup.scannedFiles.isEmpty)
    // a plain (non-row-level) scan over one file still offers _file
    val plain = new GraftScanBuilder(schema, Array("f1.parquet" -> 1L), conf,
      None, "/unused").build().asInstanceOf[GraftParquetScan]
    assert(plain.filterAttributes().nonEmpty)
  }

  test("openFile takes its read options from the conf it is given") {
    val loc = Files.createTempDirectory("graft_pq_open").toString + "/t"
    spark.range(3).coalesce(1).write.parquet(loc)
    val file = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet")).head.toString
    val session = spark.sparkContext.hadoopConfiguration
    val r = GraftParquetTable.openFile(file, session)
    try assert(r.getRecordCount == 3) finally r.close()
    val bogus = new org.apache.hadoop.conf.Configuration(session)
    bogus.set("parquet.crypto.factory.class", "graft.NoSuchCryptoFactory")
    // a default open builds a Configuration of its own and does not see it
    val plain = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), bogus))
    try assert(plain.getRecordCount == 3) finally plain.close()
    val e = intercept[Exception](GraftParquetTable.openFile(file, bogus).close())
    assert(e.toString.contains("NoSuchCryptoFactory") ||
      Option(e.getCause).exists(_.toString.contains("NoSuchCryptoFactory")), e.toString)
  }
}
