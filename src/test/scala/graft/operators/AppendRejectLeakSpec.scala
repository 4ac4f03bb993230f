package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A rejected append must not leave checkpoints behind: every stored-index
  * append materializes batch-sized frames, and a guard that throws after
  * that point has to release them, or each rejected re-delivery pins its
  * blocks for the life of the session. Each case snapshots the context's
  * persisted RDD ids, runs one rejected append, and requires that no new
  * id remains. The compressed cases also require that the rejected batch
  * wrote no code row (codes and cells keep the same ids). */
class AppendRejectLeakSpec extends SparkSpec {
  import spark.implicits._

  private def ring(ids: Range, denom: Int) = ids.map { i =>
    val th = 2 * math.Pi * (i % denom) / denom
    val c = (math.cos(th) / math.sqrt(2)).toFloat
    val s = (math.sin(th) / math.sqrt(2)).toFloat
    (i.toLong, Seq(c, s, 0f, 0f, c, s, 0f, 0f))
  }.toDF("id", "v")

  /** One id twice with DIFFERENT vectors: rejected by the IVF append's
    * batch id-conflict guard, which the compressed families reach only
    * after their own code classification. */
  private def conflicted = ring(40 until 41, 64)
    .unionAll(ring(40 until 41, 64).select($"id", reverse($"v").as("v")))

  private def assertNoLeak(what: String, reason: String)(rejected: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[RuntimeException](rejected)
    assert(e.getMessage.contains(reason), e.getMessage)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"$what left persisted RDDs $leaked")
  }

  private def store(tag: String) = new ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_leak_$tag").toString)

  test("bm25: a changed-text re-delivery releases its checkpoints") {
    val st = store("bm25")
    val docs = Seq((1L, "apple banana"), (2L, "cherry durian")).toDF("doc_id", "text")
    Bm25Index.build(st, "bx", docs, "doc_id", "text")
    assertNoLeak("Bm25Index.append", "CHANGED text") {
      Bm25Index.append(st, "bx", Seq((2L, "fig grape")).toDF("doc_id", "text"),
        "doc_id", "text", 1L)
    }
  }

  test("minhash: a conflicting batch releases its checkpoints") {
    val st = store("mh")
    MinHashIndex.build(st, "mx", Seq((1L, "the quick brown fox")).toDF("doc_id", "text"),
      "doc_id", "text")
    assertNoLeak("MinHashIndex.append", "more than once") {
      MinHashIndex.append(st, "mx",
        Seq((2L, "a lazy dog sleeps"), (2L, "maritime navigation rules")).toDF("doc_id", "text"),
        "doc_id", "text", batchId = 1L)
    }
  }

  test("ivf: conflicting and moved-cell re-deliveries release their checkpoints") {
    val st = store("ivf")
    IvfIndex.build(st, "ix", ring(0 until 32, 64), "id", "v", nCells = 4, iterations = 2)
    assertNoLeak("IvfIndex.append (conflict)", "more than once") {
      IvfIndex.append(st, "ix", conflicted, "id", "v")
    }
    // id 0 re-delivered at the opposite side of the ring: another cell
    assertNoLeak("IvfIndex.append (moved cell)", "CHANGED vector") {
      IvfIndex.append(st, "ix",
        ring(32 until 33, 64).select(lit(0L).as("id"), $"v"), "id", "v")
    }
  }

  test("ivf-sq: a rejection inside the cells append releases the codes checkpoint and writes nothing") {
    val st = store("sq")
    IvfSq.build(st, "ix", ring(0 until 32, 64), "id", "v", nCells = 4, iterations = 2)
    assertNoLeak("IvfSq.append", "more than once") {
      IvfSq.append(st, "ix", conflicted, "id", "v", 1L)
    }
    // no orphan code row: codes and cells still hold the same ids
    IvfSq.verifyFresh(st, "ix", ring(0 until 32, 64), "id")
  }

  test("ivf-pq: a rejection inside the cells append releases the codes checkpoint and writes nothing") {
    val st = store("pq")
    IvfPq.build(st, "ix", ring(0 until 32, 64), "id", "v", dim = 8, nCells = 4,
      m = 2, ksub = 8, iterations = 2)
    assertNoLeak("IvfPq.append", "more than once") {
      IvfPq.append(st, "ix", conflicted, "id", "v", dim = 8, batchId = 1L, m = 2)
    }
    IvfPq.verifyFresh(st, "ix", ring(0 until 32, 64), "id")
  }
}
