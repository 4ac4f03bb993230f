package graft.operators

import java.io.File
import java.nio.file.Files
import graft.{Pipeline, SparkSpec}

/** The default store upsert path must be copy-on-write at file-group
  * granularity: an incremental batch touching a few keys rewrites only the
  * parquet files containing those keys and leaves every other file
  * byte-identical (VERDICT r2 item 2 — the reference's BigQuery MERGE
  * touches only matched rows, ref shopify-etl/shopify_etl.py:558-590). */
class StorePruningSpec extends SparkSpec {
  import spark.implicits._

  private def snapshot(dir: String): Map[String, (Long, Int)] = {
    val d = new File(dir)
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(),
        java.util.Arrays.hashCode(Files.readAllBytes(f.toPath)))).toMap
  }

  test("incremental upsert touching one key leaves unrelated files byte-identical") {
    val wh = Files.createTempDirectory("graft_prune").toString
    val store = new ParquetTableStore(spark, wh)

    // seed, then split into several files (creation writes one post-agg
    // partition at this size; compact(n) redistributes)
    val seed = (1L to 100L).map(k => (k.toString, s"v$k", k.toDouble))
      .toDF("order_id", "status", "total")
    store.upsert("orders", seed, Seq("order_id"))
    store.compact("orders", targetFiles = 4)
    val before = snapshot(store.path("orders"))
    assert(before.size >= 2, s"need multiple files, got ${before.keySet}")

    // incremental batch: one updated key, one new key
    val batch = Seq(("7", "UPDATED", 99.0), ("999", "NEW", 1.0))
      .toDF("order_id", "status", "total")
    store.upsert("orders", batch, Seq("order_id"))
    assert(store.read("orders").get.count() == 101)

    val after = snapshot(store.path("orders"))
    val untouched = before.keySet intersect after.keySet
    assert(untouched.nonEmpty,
      s"group pruning must keep unmatched files; before=${before.keySet} after=${after.keySet}")
    untouched.foreach { f =>
      assert(before(f) == after(f), s"file $f was rewritten but contains no matched key")
    }
    // the file holding key 7 must have been replaced
    assert((before.keySet -- after.keySet).nonEmpty, "the matched file must be rewritten")

    // values correct after the pruned merge
    val rows = spark.read.parquet(store.path("orders"))
      .where($"order_id".isin("7", "999", "8"))
      .select("order_id", "status").as[(String, String)].collect().toMap
    assert(rows("7") == "UPDATED" && rows("999") == "NEW" && rows("8") == "v8")
  }

  test("pruned merge is idempotent and null-safe on keys") {
    val wh = Files.createTempDirectory("graft_prune_null").toString
    val store = new ParquetTableStore(spark, wh)
    val seed = Seq((Some("1"), "a", 1.0), (None, "n", 0.0))
      .toDF("order_id", "status", "total")
    store.upsert("orders", seed, Seq("order_id"))
    // same batch again: null-safe ON means the NULL-key row matches itself
    store.upsert("orders", seed, Seq("order_id"))
    assert(store.read("orders").get.count() == 2,
      "re-merging the same batch must not re-insert the NULL-key row")
    store.upsert("orders",
      Seq((Option.empty[String], "n2", 5.0)).toDF("order_id", "status", "total"),
      Seq("order_id"))
    assert(store.read("orders").get.count() == 2)
    val st = spark.read.parquet(store.path("orders"))
      .where($"order_id".isNull).select("status").as[String].collect().toSeq
    assert(st == Seq("n2"))
  }

  test("auto-compaction bounds file count across many incremental upserts") {
    val wh = Files.createTempDirectory("graft_autocompact").toString
    val store = new ParquetTableStore(spark, wh, autoCompactFiles = 6)
    def fileCount = new File(store.path("t")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    (1 to 20).foreach { i =>
      store.upsert("t",
        Seq((i.toString, s"v$i")).toDF("order_id", "status"), Seq("order_id"))
      assert(fileCount <= 7, s"run $i: file count $fileCount exceeds bound")
    }
    assert(spark.read.parquet(store.path("t")).count() == 20)
  }

  test("end-to-end Pipeline incremental run keeps untouched table files byte-identical") {
    val wh = Files.createTempDirectory("graft_prune_pipe").toString
    val pages = Files.createTempDirectory("graft_prune_pages")
    val fixture = new File(getClass.getResource("/orders_pages").getPath)
    fixture.listFiles().foreach(f =>
      Files.copy(f.toPath, pages.resolve(f.getName)))

    val p = new Pipeline(spark, wh)
    p.execute(pages.toString, forceFullLoad = true, runId = "seed")
    p.store.compact("orders", targetFiles = 3)
    val before = snapshot(p.store.path("orders"))
    assert(before.size >= 2, s"need multiple order files, got ${before.keySet}")

    // a late page updating ONE existing order, after the checkpoint HWM
    Files.write(pages.resolve("page_99.ndjson"),
      ("""{"id": 1001, "created_at": "2024-03-01T10:00:00+00:00", """ +
        """"updated_at": "2024-03-05T12:00:00+00:00", """ +
        """"total_price": "200.00", "financial_status": "refunded"}""" + "\n")
        .getBytes("UTF-8"))
    p.execute(pages.toString, runId = "incr")

    val after = snapshot(p.store.path("orders"))
    val untouched = before.keySet intersect after.keySet
    assert(untouched.nonEmpty,
      s"files without order 1001 must survive; before=${before.keySet} after=${after.keySet}")
    untouched.foreach(f => assert(before(f) == after(f), s"file $f was rewritten"))
    val row = spark.read.parquet(p.store.path("orders"))
      .where($"order_id" === "1001")
      .select("financial_status").as[String].collect().toSeq
    assert(row == Seq("refunded"))
  }

  test("a one-file table stays one file under an insert-only batch") {
    val wh = Files.createTempDirectory("graft_prune_onefile").toString
    val store = new ParquetTableStore(spark, wh)
    val seed = (1L to 50L).map(k => (k.toString, s"v$k", k.toDouble))
      .toDF("order_id", "status", "total")
    store.upsert("orders", seed, Seq("order_id"))
    store.compact("orders", targetFiles = 1)
    assert(snapshot(store.path("orders")).size == 1)
    // no key matches: the one file is the rewrite group, so the inserted
    // rows land in its replacement instead of a second file
    store.upsert("orders", Seq(("900", "NEW", 9.0), ("901", "NEW", 1.0))
      .toDF("order_id", "status", "total"), Seq("order_id"))
    assert(snapshot(store.path("orders")).size == 1)
    val rows = store.read("orders").get
      .select("order_id", "status").as[(String, String)].collect().toMap
    assert(rows.size == 52 && rows("900") == "NEW" && rows("901") == "NEW" &&
      rows("7") == "v7")
  }

  test("an empty batch into a one-file table of zero rows keeps the table readable") {
    val wh = Files.createTempDirectory("graft_prune_empty").toString
    val store = new ParquetTableStore(spark, wh)
    val empty = Seq.empty[(String, String, Double)].toDF("order_id", "status", "total")
    store.upsert("orders", empty, Seq("order_id"))
    assert(snapshot(store.path("orders")).size == 1)
    store.upsert("orders", empty, Seq("order_id"))
    val back = spark.read.parquet(store.path("orders"))
    assert(back.schema.fieldNames.toSeq == Seq("order_id", "status", "total"))
    assert(back.count() == 0)
    // and a real batch still merges in afterwards
    store.upsert("orders", Seq(("1", "a", 1.0)).toDF("order_id", "status", "total"),
      Seq("order_id"))
    assert(store.read("orders").get.count() == 1)
  }
}
