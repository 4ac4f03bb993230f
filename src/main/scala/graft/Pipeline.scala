package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MoneyMode
import graft.operators.{Dedup, Flatten, ParquetTableStore, SyncControl}
import graft.sources.PagedNdjsonSource

/** End-to-end batch pipeline — the Spark re-expression of the reference's
  * `execute()` lifecycle (ref shopify-etl/shopify_etl.py:620-707):
  *
  *  1. checkpoint read (control table top-1, 1 h buffer)         — T2/T3/O1
  *  2. paged scan + incremental predicate + first-wins dedup     — S1/P5/A1
  *  3. flatten into six tables                                   — P1-P4
  *  4. per-table key dedup (null bypass)                         — A2/A3
  *  5. MERGE upsert into final parquet tables                    — J1/A4
  *     (the six tables overlapped through the store's shared fan-out,
  *     [[ParquetTableStore.upsertAll]], the same one the streaming
  *     lifecycle uses; the per-table row counts returned are read
  *     afterwards in one aggregate, [[ParquetTableStore.rowCounts]])
  *  6. checkpoint write (success/error)                          — T2/T6
  *  7. verification: uniqueness + FK orphans                     — A5-A8/J2
  *
  * Tables are plain parquet directories under `warehouse/`; upsert writes
  * via temp-dir + atomic rename (SURVEY §7.4 atomicity note). At cluster
  * scale the same flow targets a transactional table format; the operator
  * composition is unchanged.
  */
class Pipeline(spark: SparkSession, warehouse: String,
               autoCompactFiles: Int = 64,
               moneyMode: MoneyMode = MoneyMode.Dbl) {

  val control = new SyncControl(spark, s"$warehouse/_sync_control")
  val store = new ParquetTableStore(spark, warehouse, autoCompactFiles)

  def readFinal(name: String): Option[DataFrame] = store.read(name)

  /** One incremental run over a directory of NDJSON order pages.
    * Returns per-table row counts after merge. */
  def execute(pagesDir: String, forceFullLoad: Boolean = false,
              runId: String = java.util.UUID.randomUUID().toString): Map[String, Long] = {
    val startTs: Option[Timestamp] =
      if (forceFullLoad) None else control.lastSyncWithBuffer("orders")
    // S1/P5: paged scan; the incremental predicate is applied inside the
    // source (below the arrival-order projection) so it pushes to the scan
    runBatch(runId) {
      startTs match {
        case Some(ts) => PagedNdjsonSource.readIncremental(
          spark, pagesDir, Schemas.rawOrder, "updated_at", ts)
        case None     => PagedNdjsonSource.read(spark, pagesDir, Schemas.rawOrder)
      }
    }
  }

  /** One incremental run against a LIVE paginated HTTP endpoint via the
    * graft-http connector — the reference's actual fetch loop (ref
    * :620-707 over :271-461): the control-table checkpoint becomes the
    * pushed `updated_at_min` query param exactly as the reference's REST
    * call, and the same client-side predicate is applied defensively so
    * correctness never depends on the server honoring the param. */
  def executeHttp(url: String, httpOptions: Map[String, String] = Map.empty,
                  forceFullLoad: Boolean = false,
                  runId: String = java.util.UUID.randomUUID().toString): Map[String, Long] = {
    val startTs: Option[Timestamp] =
      if (forceFullLoad) None else control.lastSyncWithBuffer("orders")
    runBatch(runId) {
      val base = spark.read.format("graft-http").option("url", url)
      val withOpts = httpOptions.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
      val withInc = startTs.fold(withOpts)(ts =>
        withOpts.option("param.updated_at_min", ts.toInstant.toString))
      val rows = withInc.load()
        .select(from_json(col("value"), Schemas.rawOrder).as("_r"),
          struct(col("_page").as("f"), monotonically_increasing_id().as("r"))
            .as("_arrival_order"))
        .select(col("_r.*") +: Seq(col("_arrival_order")): _*)
      startTs.fold(rows)(ts => rows.filter(to_timestamp(col("updated_at")) >= lit(ts)))
    }
  }

  /** The shared batch lifecycle (steps 2-7 of the class doc) over whatever
    * raw source `mkRaw` provides — rows shaped like Schemas.rawOrder plus
    * an orderable `_arrival_order` column. */
  private def runBatch(runId: String)(mkRaw: => DataFrame): Map[String, Long] = {
    try {
      // A1: first-wins dedup across pages in arrival order (ref :339-347)
      val deduped = Dedup.firstWins(mkRaw, Seq("id"), "_arrival_order")
        .drop("_page_file", "_arrival_order")
        .cache()
      // released on every exit: success, the empty-batch exit and a throw
      try {
        // P1-P4 flatten (money columns in the pipeline's MoneyMode — Dbl
        // for reference float parity, Dec for exact fixed-point
        // end-to-end); lazy, so the empty-batch exit reads its schemas too
        val flat = Flatten.all(deduped, moneyMode)
        // high-water mark and batch size in one aggregate
        val stats = deduped.agg(max(to_timestamp(col("updated_at"))), count(lit(1))).head()
        val batchCount = stats.getLong(1)
        if (batchCount == 0) {
          // ref early-exit :653-657 — still records a success run
          control.recordRun("orders", new Timestamp(System.currentTimeMillis()),
            0L, "success", runId, "no new records")
        } else {
          // A2/A3 key dedup with null bypass, then J1: the six MERGEs
          // overlapped through the store's shared fan-out
          store.upsertAll(flat.toSeq.map { case (name, df) =>
            val keys = Schemas.uniqueKeys(name)
            val withOrder = df.withColumn("_ord", monotonically_increasing_id())
            (name, Dedup.compositeKeyDedup(withOrder, keys, "_ord").drop("_ord"), keys)
          })
          // T2 checkpoint: high-water mark = max(updated_at) of the batch
          val hwm = Option(stats.getTimestamp(0))
            .getOrElse(new Timestamp(System.currentTimeMillis()))
          control.recordRun("orders", hwm, batchCount, "success", runId)
        }
        store.rowCounts(flat.map { case (name, df) => name -> df.schema })
      } finally deduped.unpersist()
    } catch {
      case e: Throwable =>
        // T6: error path still records a control row (ref :693-707)
        control.recordRun("orders", new Timestamp(System.currentTimeMillis()),
          0L, "error", runId, Option(e.getMessage).getOrElse("").take(500))
        throw e
    }
  }

  /** Post-load verification (ref verify_table_data :709-744): per-table key
    * uniqueness (A5/A6) and FK orphan counts (J2/A8). */
  def verify(): Map[String, (Long, Long)] = {
    val uniq = Schemas.uniqueKeys.flatMap { case (name, keys) =>
      readFinal(name).map { df =>
        val total = df.count()
        val distinctKeys = df.select(keys.map(col): _*).distinct().count()
        name -> (total, distinctKeys)
      }
    }
    val orphans = for {
      li <- readFinal("line_items"); o <- readFinal("orders")
    } yield "line_items_orphans" ->
      (li.join(o, Seq("order_id"), "left_anti").count(), 0L)
    uniq ++ orphans
  }
}
