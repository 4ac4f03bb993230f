package graft.operators

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions.monotonically_increasing_id
import graft.SparkSpec

/** What a row-level MERGE reads: its source frame itself, with no parquet
  * stage in between. A source whose plan holds a nondeterministic
  * expression is materialized for the MERGE and released after it; an
  * empty batch leaves a one-file table's rows and schema as they were. */
class MergeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String): Seq[String] =
    new File(dir).list().filter(_.endsWith(".parquet")).toSeq

  /** A store holding `orders` with keys 1..100 in `files` data files. */
  private def seeded(tag: String, files: Int): ParquetTableStore = {
    val store = new ParquetTableStore(spark, Files.createTempDirectory(tag).toString)
    store.upsert("orders", (1L to 100L).map(k => (k.toString, s"v$k", k.toDouble))
      .toDF("order_id", "status", "total"), Seq("order_id"))
    if (files > 1) store.compact("orders", targetFiles = files)
    assert(dataFiles(store.path("orders")).size == files)
    store
  }

  for (files <- Seq(1, 4))
    test(s"a source with nondeterministic lineage upserts into a $files-file table") {
      val store = seeded(s"graft_nondet_$files", files)
      // every row's total is 1.5, but built from an expression Catalyst
      // calls nondeterministic
      val batch = Seq(("7", "UPDATED"), ("999", "NEW")).toDF("order_id", "status")
        .withColumn("total", monotonically_increasing_id() * 0 + 1.5)
      assert(!batch.queryExecution.analyzed.deterministic)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val before = dataFiles(store.path("orders")).toSet
      store.upsert("orders", batch, Seq("order_id"))
      // only the file holding key 7 is replaced, by one file
      val after = dataFiles(store.path("orders")).toSet
      assert((before intersect after).size == files - 1 && after.size == files,
        s"before $before, after $after")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- persisted
      assert(leaked.isEmpty, s"the upsert left persisted RDDs $leaked")
      val rows = store.read("orders").get.as[(String, String, Double)].collect()
      assert(rows.length == 101 && rows.map(_._1).distinct.length == 101)
      val byKey = rows.map(r => r._1 -> (r._2, r._3)).toMap
      assert(byKey("7") == (("UPDATED", 1.5)) && byKey("999") == (("NEW", 1.5)) &&
        byKey("8") == (("v8", 8.0)))
    }

  test("an empty batch into a non-empty one-file table keeps its rows and schema") {
    val store = seeded("graft_empty_batch", 1)
    val before = spark.read.parquet(store.path("orders"))
    val (schema, rows) = (before.schema, before.collect().toSet)
    store.upsert("orders", Seq.empty[(String, String, Double)]
      .toDF("order_id", "status", "total"), Seq("order_id"))
    // the one file is its own rewrite group, so it is rewritten unchanged
    assert(dataFiles(store.path("orders")).size == 1)
    val after = spark.read.parquet(store.path("orders"))
    assert(after.schema == schema)
    assert(after.collect().toSet == rows)
  }
}
