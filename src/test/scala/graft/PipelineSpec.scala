package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pagesDir = getClass.getResource("/orders_pages").getPath

  test("end-to-end: scan -> flatten -> dedup -> merge -> verify") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val p = new Pipeline(spark, wh)

    val counts = p.execute(pagesDir, forceFullLoad = true, runId = "run1")
    assert(counts("orders") == 4)        // 5 raw minus 1 cross-page dup
    // 4 deduped orders explode to 5 items; the store's one-row-per-key
    // reduction drops order 1003's duplicate (order 1002's NULL-key item
    // is its own null-safe key) -> 4
    assert(counts("line_items") == 4)
    assert(counts("customers") == 3)
    assert(counts("shipping_addresses") == 2)
    assert(counts("discount_codes") == 3)
    assert(counts("marketing_consent") == 3)

    // reference verification suite: uniqueness + FK orphans (A5-A8/J2)
    val v = p.verify()
    Schemas.uniqueKeys.keys.foreach { t =>
      val (total, distinct) = v(t)
      assert(total == distinct, s"$t keys not unique")
    }
    assert(v("line_items_orphans")._1 == 0)

    // control table recorded the run with the batch high-water mark (T2)
    val last = p.control.lastSyncWithBuffer("orders")
    assert(last.isDefined)
    assert(last.get.toString.startsWith("2024-03-03 09:00")) // max updated_at (10:00Z) minus 1h buffer

    // idempotence (T4): re-running the same batch changes nothing
    val counts2 = p.execute(pagesDir, forceFullLoad = true, runId = "run2")
    assert(counts2 == counts)

    // incremental run (T1/T3): checkpoint filters all already-seen rows
    val counts3 = p.execute(pagesDir, runId = "run3")
    assert(counts3("orders") == 4)
  }

  test("end-to-end in Dec money mode: exact DECIMAL tables, verification green") {
    import graft.functions.MoneyMode
    val wh = Files.createTempDirectory("graft_wh_dec").toString
    val p = new Pipeline(spark, wh, moneyMode = MoneyMode.Dec)

    val counts = p.execute(pagesDir, forceFullLoad = true, runId = "dec1")
    assert(counts("orders") == 4)
    assert(counts("line_items") == 4)

    // stored money columns are DECIMAL(18,2), values exact
    val o = p.readFinal("orders").get
    assert(o.schema("total_price").dataType.typeName == "decimal(18,2)")
    val dec = o.filter($"order_id" === "1002")
      .select($"total_price".cast("double")).as[Double].head()
    assert(dec == 10.0)

    // the reference verification suite passes identically in Dec mode
    val v = p.verify()
    Schemas.uniqueKeys.keys.foreach { t =>
      val (total, distinct) = v(t)
      assert(total == distinct, s"$t keys not unique in Dec mode")
    }
    assert(v("line_items_orphans")._1 == 0)

    // idempotence holds in Dec mode too
    assert(p.execute(pagesDir, forceFullLoad = true, runId = "dec2") == counts)
  }

  test("error path records an error control row and rethrows (T6)") {
    val wh = Files.createTempDirectory("graft_wh_err").toString
    val p = new Pipeline(spark, wh)
    intercept[Exception] { p.execute("/nonexistent_pages_dir", forceFullLoad = true) }
    val statuses = p.control.all().select("status").as[String].collect().toSeq
    assert(statuses.contains("error"))
  }

  /** A pages directory holding only `pages` of the fixture, with the
    * first `lines` lines of each (all of them when None). */
  private def pagesOf(tag: String, pages: Seq[String], lines: Option[Int] = None): String = {
    val dir = Files.createTempDirectory(tag)
    pages.foreach { f =>
      val src = new java.io.File(pagesDir, f).toPath
      val kept = lines.fold(Files.readAllLines(src))(n =>
        Files.readAllLines(src).subList(0, n))
      Files.write(dir.resolve(f), kept)
    }
    dir.toString
  }

  test("no-new-records and failed runs release the cached batch") {
    import graft.functions.MoneyMode
    val wh = Files.createTempDirectory("graft_wh_leak").toString
    val p = new Pipeline(spark, wh)
    p.execute(pagesDir, forceFullLoad = true, runId = "load")
    // order 1001's first version only: older than the checkpoint buffer
    val stale = pagesOf("graft_pages_stale", Seq("page_00.ndjson"), Some(1))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(p.execute(stale, runId = "empty")("orders") == 4)
    assert(p.control.all().filter($"run_id" === "empty")
      .select("notes").as[String].collect().toSeq == Seq("no new records"))
    intercept[IllegalArgumentException] {
      new Pipeline(spark, wh, moneyMode = MoneyMode.Dec)
        .execute(pagesDir, forceFullLoad = true, runId = "bad")
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"runs left persisted RDDs $leaked")
  }

  test("a money-mode failure inside the MERGE fan-out surfaces unwrapped; a re-run converges") {
    import graft.functions.MoneyMode
    val wh = Files.createTempDirectory("graft_wh_fanout").toString
    new Pipeline(spark, wh).execute(pagesOf("graft_pages_first", Seq("page_00.ndjson")),
      forceFullLoad = true, runId = "load")
    // the Dec batch clashes with the Dbl money columns of orders,
    // line_items and discount_codes while the other three tables merge
    val dec = new Pipeline(spark, wh, moneyMode = MoneyMode.Dec)
    val e = intercept[Exception] { dec.execute(pagesDir, forceFullLoad = true, runId = "dec") }
    assert(e.isInstanceOf[IllegalArgumentException], s"wrapped: $e")
    assert(e.getMessage.contains("money-mode mismatch"), e.getMessage)
    assert(dec.control.all().filter($"run_id" === "dec")
      .select("status").as[String].collect().toSeq == Seq("error"))

    val p = new Pipeline(spark, wh)
    val counts = p.execute(pagesDir, forceFullLoad = true, runId = "retry")
    val clean = new Pipeline(spark, Files.createTempDirectory("graft_wh_clean").toString)
    assert(counts == clean.execute(pagesDir, forceFullLoad = true, runId = "clean"))
    Schemas.uniqueKeys.keys.foreach { t =>
      val (got, want) = (p.readFinal(t).get, clean.readFinal(t).get)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$t differs")
    }
  }

  test("the row a table keeps for a duplicate key does not depend on shuffle partitions") {
    // orders 1 and 2, in that order, both carry customer 900 with a
    // different email and marketing consent
    val pages = Files.createTempDirectory("graft_pages_invariance")
    def order(id: Int, email: String, marketing: Boolean): String =
      s"""{"id":$id,"created_at":"2024-04-01T10:00:00+00:00","updated_at":"2024-04-01T1$id:00:00+00:00",""" +
        s""""processed_at":"2024-04-01T10:00:05+00:00","subtotal_price":"10.00","total_price":"11.00",""" +
        s""""total_tax":"1.00","financial_status":"paid","currency":"USD",""" +
        s""""customer":{"id":900,"email":"$email","created_at":"2023-01-01T00:00:00+00:00",""" +
        s""""first_name":"C","last_name":"D","verified_email":true,"accepts_marketing":$marketing},""" +
        s""""line_items":[{"product_id":$id,"variant_id":$id,"name":"A","price":"10.00","quantity":1,"vendor":"V"}],""" +
        s""""shipping_address":{"first_name":"C","last_name":"D","address1":"1 Main St","city":"X","country":"US","zip":"1"},""" +
        s""""discount_codes":[{"code":"C$id","amount":"1.00"}]}"""
    Files.write(pages.resolve("page_00.ndjson"),
      java.util.Arrays.asList(order(1, "first@x", true), order(2, "second@x", false)))

    val tables = Seq("customers", "marketing_consent")
    def rows(wh: String): Map[String, Set[Seq[Any]]] = tables.map(t =>
      t -> spark.read.parquet(s"$wh/$t").collect().map(_.toSeq).toSet).toMap
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    val byPartitions = try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Seq(1, 2).map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
        val wh = Files.createTempDirectory(s"graft_wh_parts$n").toString
        new Pipeline(spark, wh).execute(pages.toString, forceFullLoad = true, runId = s"p$n")
        rows(wh)
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val twin = Files.createTempDirectory("graft_wh_invariance_twin").toString
    graft.streaming.Incremental.runBatchTwin(spark, Seq(pages.toString), twin)

    assert(byPartitions(0) == byPartitions(1),
      s"1 vs 2 shuffle partitions:\n${byPartitions(0)}\nvs\n${byPartitions(1)}")
    assert(byPartitions(0) == rows(twin), s"pipeline vs batch twin:\n${byPartitions(0)}\nvs\n${rows(twin)}")
  }

  test("driver entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
