package graft.streaming

import java.nio.file.Files
import graft.{Pipeline, Schemas, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pagesDir = getClass.getResource("/orders_pages").getPath

  test("streaming pipeline: file stream -> watermark dedup -> foreachBatch merge (T1-T5)") {
    val wh = Files.createTempDirectory("graft_stream_wh").toString
    val cp = Files.createTempDirectory("graft_stream_cp").toString

    val q = Incremental.run(spark, pagesDir, wh, cp)
    q.awaitTermination(120000)

    val orders = spark.read.parquet(s"$wh/orders")
    assert(orders.count() == 4, "cross-page dup removed by streaming dedup")
    assert(orders.select("order_id").distinct().count() == 4)
    val li = spark.read.parquet(s"$wh/line_items")
    assert(li.join(orders, Seq("order_id"), "left_anti").count() == 0, "no orphans")

    // T5 replay with same checkpoint: no new files -> no changes (exactly-once effect)
    val q2 = Incremental.run(spark, pagesDir, wh, cp)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$wh/orders").count() == 4)
  }

  test("streaming run and runBatchTwin produce the identical warehouse (q69's twin proof)") {
    // Fixture whose micro-batches align with batch rounds: one file per
    // trigger (maxFilesPerTrigger=1), explicit modification times pin the
    // stream's file order to the twin's round order. The round-3 row for
    // 3001 is an UPDATE arriving well outside the 1 h dedup window:
    // 3002's 13:00 event pushes the round-1 watermark to 12:00, past
    // 3001's dedup-state expiry (entry time + 1 h delay = 11:31), and
    // state cleanup runs at the END of the batch where the watermark has
    // passed it — hence the middle round, after which the update flows to
    // the MERGE. The same round-3-wins outcome is what the batch twin
    // computes. An update arriving INSIDE the 1 h window is deliberately
    // swallowed by both the stream (dropDuplicatesWithinWatermark) and
    // the reference (its 1 h overlap re-fetch assumes at-least-once
    // redelivery of the same version).
    val pages = Files.createTempDirectory("graft_twin_pages").toString
    val fixture = Seq(
      "r0.ndjson" -> (
        """{"id":3001,"created_at":"2024-05-01T10:00:00+00:00","updated_at":"2024-05-01T10:30:00+00:00","processed_at":"2024-05-01T10:00:05+00:00","subtotal_price":"10.00","total_price":"11.00","total_tax":"1.00","financial_status":"paid","currency":"USD","customer":{"id":701,"email":"x@y.z","created_at":"2023-01-01T00:00:00+00:00","first_name":"X","last_name":"Y","verified_email":true,"accepts_marketing":true},"line_items":[{"product_id":1,"variant_id":1,"name":"A","price":"10.00","quantity":1,"vendor":"V"}]}""" + "\n" +
        """{"id":3001,"created_at":"2024-05-01T10:00:00+00:00","updated_at":"2024-05-01T10:31:00+00:00","processed_at":"2024-05-01T10:00:05+00:00","subtotal_price":"99.00","total_price":"99.00","total_tax":"0.00","financial_status":"decoy","currency":"USD","line_items":[]}""" + "\n" +
        """{"id":3002,"created_at":"2024-05-01T11:00:00+00:00","updated_at":"2024-05-01T13:00:00+00:00","processed_at":"2024-05-01T11:00:05+00:00","subtotal_price":"20.00","total_price":"22.00","total_tax":"2.00","financial_status":"paid","currency":"USD","line_items":[{"product_id":2,"variant_id":2,"name":"B","price":"20.00","quantity":2,"vendor":"V"}]}""" + "\n"),
      "r1.ndjson" -> (
        """{"id":3005,"created_at":"2024-05-01T14:00:00+00:00","updated_at":"2024-05-01T14:30:00+00:00","processed_at":"2024-05-01T14:00:05+00:00","subtotal_price":"5.00","total_price":"5.00","total_tax":"0.00","financial_status":"paid","currency":"USD","line_items":[{"product_id":5,"variant_id":5,"name":"Mid","price":"5.00","quantity":1,"vendor":"V"}]}""" + "\n"),
      "r2.ndjson" -> (
        """{"id":3001,"created_at":"2024-05-01T10:00:00+00:00","updated_at":"2024-05-02T09:00:00+00:00","processed_at":"2024-05-01T10:00:05+00:00","subtotal_price":"15.00","total_price":"16.50","total_tax":"1.50","financial_status":"paid","fulfillment_status":"shipped","currency":"USD","customer":{"id":701,"email":"new@y.z","created_at":"2023-01-01T00:00:00+00:00","first_name":"X","last_name":"Y","verified_email":true,"accepts_marketing":false},"line_items":[{"product_id":1,"variant_id":1,"name":"A","price":"15.00","quantity":3,"vendor":"V"}]}""" + "\n" +
        """{"id":3003,"created_at":"2024-05-02T08:00:00+00:00","updated_at":"2024-05-02T08:30:00+00:00","processed_at":"2024-05-02T08:00:05+00:00","subtotal_price":"30.00","total_price":"33.00","total_tax":"3.00","financial_status":"paid","currency":"USD","line_items":[{"product_id":3,"variant_id":3,"name":"C","price":"30.00","quantity":1,"vendor":"W"}]}""" + "\n"))
    val files = fixture.zipWithIndex.map { case ((name, content), i) =>
      val p = java.nio.file.Paths.get(pages, name)
      java.nio.file.Files.writeString(p, content)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 100000L))
      p
    }

    val whStream = Files.createTempDirectory("graft_twin_whs").toString
    val whBatch = Files.createTempDirectory("graft_twin_whb").toString
    val cp = Files.createTempDirectory("graft_twin_cp").toString
    assert(Incremental.run(spark, pages, whStream, cp).awaitTermination(120000),
      "streaming query did not finish within the timeout — comparing a " +
        "partially-built warehouse would produce a misleading diff")

    // batch twin: one round per file, in the same order
    val rounds = files.map { f =>
      val dir = Files.createTempDirectory("graft_twin_round").toString
      java.nio.file.Files.copy(f, java.nio.file.Paths.get(dir, f.getFileName.toString))
      dir
    }
    Incremental.runBatchTwin(spark, rounds, whBatch)

    // the batch pipeline, one full-load sync per round in the same order
    val whPipeline = Files.createTempDirectory("graft_twin_whp").toString
    val pipeline = new Pipeline(spark, whPipeline)
    rounds.foreach(dir => pipeline.execute(dir, forceFullLoad = true))

    for (t <- Schemas.uniqueKeys.keys) {
      def rows(wh: String) = spark.read.parquet(s"$wh/$t").collect().map(_.toSeq).toSet
      val (a, b, c) = (rows(whStream), rows(whBatch), rows(whPipeline))
      assert(a == b, s"table $t diverges between stream and batch twin:\n$a\nvs\n$b")
      assert(c == b, s"table $t diverges between pipeline and batch twin:\n$c\nvs\n$b")
    }
  }

  test("stream-static enrichment join: streaming events pick up static dimension columns") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((13L, "gold"), (12L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val enriched = mem.toDF().toDF("user_id", "value")
      .join(dim, Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((13L, 1.0), (99L, 2.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT user_id, tier FROM enriched")
      .as[(Long, Option[String])].collect().toMap
    q.stop()
    assert(rows(13L).contains("gold"))
    assert(rows(99L).isEmpty, "unmatched stream row keeps NULL dimension")
  }

  test("streaming daily rollup with watermark emits per-day windows (A9 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val out = Incremental.dailyRollup(df)
    val query = out.writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-03 00:00:01"), "view", 5.0)) // advances watermark past day 1
    query.processAllAvailable()
    mem.addData((java.sql.Timestamp.valueOf("2024-01-05 00:00:01"), "view", 1.0))
    query.processAllAvailable()
    val rows = spark.sql("SELECT day, event_type, n_events, total_value FROM rollup")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    query.stop()
    assert(rows.contains((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "click", 2L, 3.0)))
  }
}
