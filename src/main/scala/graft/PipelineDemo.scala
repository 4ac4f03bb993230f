package graft

import java.nio.file.Files

/** Runnable end-to-end demo of the reference pipeline lifecycle: batch
  * execute (scan→flatten→dedup→merge→verify) then streaming replay into a
  * second warehouse; prints per-table counts and verification results.
  *
  * Usage: runMain graft.PipelineDemo [pagesDir]
  * (defaults to the test fixture pages if present on the classpath/dir) */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val pagesDir = args.headOption.getOrElse("src/test/resources/orders_pages")
    val spark = GraftSession.local("WARN")

    val whBatch = Files.createTempDirectory("graft_demo_batch").toString
    val p = new Pipeline(spark, whBatch)
    val counts = p.execute(pagesDir, forceFullLoad = true, runId = "demo-batch")
    println(s"[demo] batch merge counts: ${counts.toSeq.sortBy(_._1).mkString(", ")}")
    val counts2 = p.execute(pagesDir, runId = "demo-incremental")
    println(s"[demo] incremental re-run counts (must equal): ${counts2.toSeq.sortBy(_._1).mkString(", ")}")
    val v = p.verify()
    println(s"[demo] verify (total==distinct, orphans==0): ${v.toSeq.sortBy(_._1).mkString(", ")}")

    // S6/S7/S10/S11: chunked NDJSON staging round-trip (ref stage step)
    val ndjson = Files.createTempDirectory("graft_demo_ndjson").toString + "/orders"
    val staging = Files.createTempDirectory("graft_demo_staging").toString + "/orders"
    p.readFinal("orders").foreach { o =>
      sources.Sinks.exportJson(o, ndjson)
      val staged = spark.read.json(ndjson).count()
      println(s"[demo] NDJSON export/reload: $staged rows (final: ${counts("orders")})")
      sources.Sinks.ensureTable(spark, staging, Schemas.orders)
      spark.read.schema(Schemas.orders).json(ndjson)
        .write.mode("append").parquet(staging)
      println(s"[demo] staging load: ${spark.read.parquet(staging).count()} rows")
      sources.Sinks.truncate(spark, staging)
      println(s"[demo] staging truncated: ${spark.read.parquet(staging).count()} rows")
    }

    // J1 via literal MERGE INTO SQL on the v2 catalog (SupportsRowLevelOperations),
    // parquet-file-backed: rows live in real parquet files, not driver memory
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.v2.GraftCatalog].getName)
    val v2loc = Files.createTempDirectory("graft_demo_v2").toString + "/orders_v2"
    spark.sql("CREATE TABLE graft.orders_v2 (order_id STRING, financial_status STRING, total_price DOUBLE) " +
      s"LOCATION '$v2loc'")
    spark.sql("INSERT INTO graft.orders_v2 VALUES ('1001','paid',103.5), ('1002','pending',10.0)")
    spark.sql("SELECT '1001' AS order_id, 'refunded' AS financial_status, 0.0 AS total_price " +
      "UNION ALL SELECT '1004', 'paid', 55.0").createOrReplaceTempView("order_updates")
    spark.sql("""MERGE INTO graft.orders_v2 t USING order_updates u ON t.order_id = u.order_id
                 WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val merged = spark.sql("SELECT * FROM graft.orders_v2 ORDER BY order_id").collect()
    println(s"[demo] MERGE INTO (SQL, parquet-backed v2 table): ${merged.mkString(", ")}")
    println(s"[demo] v2 table files: ${spark.read.parquet(v2loc).count()} rows readable by Spark's parquet reader")

    val whStream = Files.createTempDirectory("graft_demo_stream").toString
    val cp = Files.createTempDirectory("graft_demo_cp").toString
    val q = streaming.Incremental.run(spark, pagesDir, whStream, cp)
    q.awaitTermination(120000)
    val streamOrders = spark.read.parquet(s"$whStream/orders").count()
    println(s"[demo] streaming orders count: $streamOrders (batch: ${counts("orders")})")
    println(s"""[demo] ${if (streamOrders == counts("orders")) "OK batch == streaming" else "MISMATCH"}""")
    spark.stop()
  }
}
