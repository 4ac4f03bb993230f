package graft.streaming

import graft.{CorpusPipeline, SparkSpec}
import graft.operators.{MinHashIndex, ParquetTableStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The FULL incremental-curation loop in its streaming shape — the
  * composition a live crawl actually runs (the batch-mode halves are
  * each gated: per-row stages + index probe by CorpusPipelineSpec,
  * exactly-once index appends by StreamingIndexSpec, keyed-upsert sinks
  * by UpsertSpec; this spec pins that they compose under foreachBatch):
  * each micro-batch is curated against the STANDING MinHash index,
  * survivors join the index (so later batches dedup against them) AND
  * upsert into the curated output table keyed by id, turning the
  * stream's at-least-once delivery into an exactly-once corpus. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch curation loop: survivors chain through the index; checkpoint replay converges") {
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_scur").toString
    val store = new ParquetTableStore(spark, wh)
    val corpusDoc = "the migration committee published detailed seasonal " +
      "routing charts covering upland corridors and lowland crossings with " +
      "annotated elevation profiles compiled from volunteer observation logs"
    val freshDoc = "quarterly reservoir maintenance schedules list spillway " +
      "inspection intervals alongside sediment clearance milestones agreed " +
      "with the downstream irrigation cooperatives during winter planning"
    val secondDoc = "harbor pilotage guidance describes approach bearings " +
      "anchorage depth allowances and seasonal fog procedures issued to " +
      "masters of vessels exceeding the published tonnage threshold"
    MinHashIndex.build(store, "cx",
      Seq((1L, corpusDoc, "a")).toDF("doc_id", "text", "source"),
      "doc_id", "text")
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")

    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("doc_id", "text", "source").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val (survivors, _) = CorpusPipeline.curateIncrement(store, "cx",
          batch, emptyEval, "doc_id", "text", report = false,
          batchId = batchId + 1)
        store.upsert("curated", survivors, Seq("doc_id"))
        ()
      }
      .start()
    // batch 1: a near-dup of the corpus doc (index probe drops it), an
    // internal near-dup pair (collapses to min id), and quality junk
    mem.addData(
      (10L, corpusDoc.replace("winter", "summer").replace("logs", "notes"), "c"),
      (11L, freshDoc, "c"),
      (12L, freshDoc.replace("winter", "autumn"), "c"),
      (13L, "zzz qqq xxx", "c"))
    q.processAllAvailable()
    // batch 2: a near-dup of batch 1's SURVIVOR must be dropped — the
    // survivor joined the index mid-stream
    mem.addData(
      (20L, freshDoc.replace("milestones", "targets"), "c"),
      (21L, secondDoc, "c"))
    q.processAllAvailable()
    q.stop()

    def curatedIds() = store.read("curated").get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(curatedIds() == Seq(11L, 21L), s"curated corpus wrong: ${curatedIds()}")
    MinHashIndex.verifyFresh(store, "cx",
      Seq((1L, ""), (11L, ""), (21L, "")).toDF("doc_id", "text"), "doc_id")

    // checkpoint replay of batch 2 (at-least-once delivery): the index
    // append no-ops under the same batchId, the keyed sink upsert merges
    // instead of duplicating — corpus and fingerprint both converge
    val metaBefore = store.read("cx_meta").get.as[(Long, Long)].head()
    val batch2 = Seq(
      (20L, freshDoc.replace("milestones", "targets"), "c"),
      (21L, secondDoc, "c")).toDF("doc_id", "text", "source")
    val (again, _) = CorpusPipeline.curateIncrement(store, "cx", batch2,
      emptyEval, "doc_id", "text", report = false, batchId = 2L)
    store.upsert("curated", again, Seq("doc_id"))
    assert(store.read("cx_meta").get.as[(Long, Long)].head() == metaBefore,
      "replayed batch moved the index fingerprint")
    assert(curatedIds() == Seq(11L, 21L),
      s"replayed batch duplicated or lost curated rows: ${curatedIds()}")
  }
}
