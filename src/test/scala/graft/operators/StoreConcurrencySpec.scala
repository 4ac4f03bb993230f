package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the thread-safety prerequisites of the overlapped per-entity
  * upserts ([[graft.streaming.Incremental]] r17): concurrent upserts into
  * DISTINCT tables of one store must (a) all write INT64-micros
  * timestamps — the depth-counted `withMicrosTimestamps` pin must never
  * let one thread's restore flip another's in-flight write back to
  * INT96 — (b) restore the session conf once the last writer exits, and
  * (c) produce exactly the per-table rows a sequential run would. */
class StoreConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val confKey = "spark.sql.parquet.outputTimestampType"

  test("withMicrosTimestamps is reentrant and restores the outer value") {
    spark.conf.set(confKey, "INT96")
    try {
      ParquetTableStore.withMicrosTimestamps(spark) {
        assert(spark.conf.get(confKey) == "TIMESTAMP_MICROS")
        ParquetTableStore.withMicrosTimestamps(spark) {
          assert(spark.conf.get(confKey) == "TIMESTAMP_MICROS")
        }
        // inner exit must NOT restore while the outer frame is live
        assert(spark.conf.get(confKey) == "TIMESTAMP_MICROS")
      }
      assert(spark.conf.get(confKey) == "INT96")
    } finally spark.conf.unset(confKey)
  }

  test("overlapping pins hold until the LAST frame exits (the INT96 race)") {
    spark.conf.unset(confKey)
    // getOption falls back to the SQL conf's DEFAULT (INT96), so "restored"
    // means "reads what it read before", not "empty"
    val before = spark.conf.get(confKey)
    val entered = new CountDownLatch(1)
    val exitA = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Callable[Unit] {
        def call(): Unit = ParquetTableStore.withMicrosTimestamps(spark) {
          entered.countDown()
          exitA.await(30, TimeUnit.SECONDS); ()
        }
      })
      assert(entered.await(30, TimeUnit.SECONDS))
      ParquetTableStore.withMicrosTimestamps(spark) {
        // thread A exits its frame while this one is still inside: the
        // naive save/restore would unset the conf here
        exitA.countDown()
        a.get(30, TimeUnit.SECONDS)
        assert(spark.conf.get(confKey) == "TIMESTAMP_MICROS")
      }
      assert(spark.conf.get(confKey) == before)
    } finally { pool.shutdownNow(); () }
  }

  test("concurrent upserts to distinct tables write micros everywhere " +
      "and match the sequential result") {
    def freshDir(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_conc_$tag")
      d.toFile.deleteOnExit(); d.toString
    }
    val names = (0 until 6).map(i => s"t$i")
    def batch(i: Int) = (0L until 200L)
      .map(k => (k, s"v${i}_$k", java.sql.Timestamp.valueOf(s"2024-03-0${i + 1} 10:00:00")))
      .toDF("id", "payload", "updated_at")

    // sequential reference
    val seqStore = new ParquetTableStore(spark, freshDir("seq"))
    names.zipWithIndex.foreach { case (n, i) =>
      seqStore.upsert(n, batch(i), Seq("id")) }

    // concurrent run: 6 upserts racing on 3 threads, twice (the second
    // round exercises the row-level MERGE path against existing tables)
    val confBefore = spark.conf.get(confKey)
    val concStore = new ParquetTableStore(spark, freshDir("conc"))
    val pool = Executors.newFixedThreadPool(3)
    try (1 to 2).foreach { _ =>
      val futs = names.zipWithIndex.map { case (n, i) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            concStore.upsert(n, batch(i), Seq("id")); ()
          }
        })
      }
      futs.foreach(_.get(120, TimeUnit.SECONDS))
    } finally { pool.shutdown(); pool.awaitTermination(2, TimeUnit.MINUTES); () }

    assert(spark.conf.get(confKey) == confBefore,
      "conf must be restored after the last concurrent writer exits")
    names.zipWithIndex.foreach { case (n, i) =>
      // readable (micros, not INT96 — the merge codec would have thrown
      // on the second round otherwise) and identical to sequential
      val got = concStore.read(n).get.orderBy("id").collect()
      val want = seqStore.read(n).get.orderBy("id").collect()
      assert(got.toSeq == want.toSeq, s"table $n diverged under concurrency")
      assert(got.length == 200)
    }
  }
}
