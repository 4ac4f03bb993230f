package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MoneyMode
import graft.operators.{Checkpoints, Dedup, Flatten, ParquetTableStore, SyncControl}
import graft.sources.PagedNdjsonSource

/** End-to-end batch pipeline — the Spark re-expression of the reference's
  * `execute()` lifecycle (ref shopify-etl/shopify_etl.py:620-707):
  *
  *  1. checkpoint read (control table top-1, 1 h buffer)         — T2/T3/O1
  *  2. paged scan + incremental predicate + first-wins dedup     — S1/P5/A1
  *  3. flatten into six tables                                   — P1-P4
  *  4. per-table reduction to one row per null-safe key          — A2/A3
  *     (the store's own, [[graft.operators.Upsert.keyDedup]] inside
  *     every upsert path, so it cannot depend on partitioning)
  *  5. MERGE upsert into final parquet tables                    — J1/A4
  *     (the six tables overlapped through the store's shared fan-out,
  *     [[ParquetTableStore.upsertAll]]; the per-table row counts returned
  *     are read afterwards from the tables' parquet footers on the driver,
  *     [[ParquetTableStore.rowCounts]], without a Spark job)
  *  6. checkpoint write (success/error)                          — T2/T6
  *  7. verification: uniqueness + FK orphans                     — A5-A8/J2
  *
  * Steps 2-5 are one sync round, [[Pipeline.mergeRound]], the same one the
  * streaming lifecycle and its batch twin run.
  *
  * Tables are plain parquet directories under `warehouse/`; a new table
  * is published via temp-dir + atomic rename (SURVEY §7.4 atomicity
  * note), an existing one takes a row-level MERGE that rewrites only the
  * files holding matched keys ([[ParquetTableStore.upsert]]). At cluster
  * scale the same flow targets a transactional table format; the operator
  * composition is unchanged.
  */
class Pipeline(spark: SparkSession, warehouse: String,
               moneyMode: MoneyMode = MoneyMode.Dbl) {
  import Pipeline._

  val control = new SyncControl(spark, s"$warehouse/_sync_control")
  val store = new ParquetTableStore(spark, warehouse, AutoCompactFiles)

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
      startTs.fold(rows)(ts => rows.filter(PagedNdjsonSource.atOrAfter(col("updated_at"), ts)))
    }
  }

  /** The batch lifecycle (steps 2-7 of the class doc) over whatever raw
    * source `mkRaw` provides — rows shaped like Schemas.rawOrder plus an
    * orderable `_arrival_order` column: one [[mergeRound]] between the
    * control rows, then the six post-merge counts. */
  private def runBatch(runId: String)(mkRaw: => DataFrame): Map[String, Long] = {
    try {
      val round = mergeRound(store, mkRaw, moneyMode)
      if (round.rows == 0) {
        // ref early-exit :653-657 — still records a success run
        control.recordRun("orders", new Timestamp(System.currentTimeMillis()),
          0L, "success", runId, "no new records")
      } else {
        // T2 checkpoint: high-water mark = max(updated_at) of the batch
        val hwm = round.maxUpdatedAt.getOrElse(new Timestamp(System.currentTimeMillis()))
        control.recordRun("orders", hwm, round.rows, "success", runId)
      }
      store.rowCounts(Schemas.uniqueKeys.keys)
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

object Pipeline {

  /** Data files past which a warehouse table is compacted after an
    * upsert (to a quarter of this); every sync lifecycle's store uses it,
    * so a long-running stream does not gain files on every trigger. */
  val AutoCompactFiles = 64

  /** What one [[mergeRound]] saw: the batch's high-water mark
    * (max `updated_at`, None when no row carries one) and its row count
    * after first-wins. */
  final case class Round(maxUpdatedAt: Option[Timestamp], rows: Long)

  /** One sync round, shared by [[Pipeline]] (`execute`/`executeHttp`),
    * [[graft.streaming.Incremental.run]]'s micro-batches and
    * [[graft.streaming.Incremental.runBatchTwin]]:
    *  - A1 first-wins by `id` over `_arrival_order` (ref :339-347);
    *  - P1-P4 flatten (money columns in `moneyMode` — Dbl for reference
    *    float parity, Dec for exact fixed-point end-to-end);
    *  - J1 the six keyed MERGEs overlapped through
    *    [[ParquetTableStore.upsertAll]], skipped on an empty batch. Each
    *    upsert reduces its table's batch to one row per null-safe key
    *    ([[graft.operators.Upsert.keyDedup]]), the only per-table dedup.
    * `raw` holds Schemas.rawOrder rows plus `_arrival_order`.
    *
    * The first-wins batch is materialized once ([[Checkpoints.materialize]])
    * and released on every exit. That one pass also observes the round's
    * high-water mark and row count (an [[Observation]]), so no separate
    * aggregate runs. The six flattened frames over the checkpoint hold no
    * nondeterministic expression, so each MERGE reads its own frame
    * directly: Spark recomputes the projection and `keyDedup` from the
    * checkpoint's in-memory blocks, and no source is written out. */
  def mergeRound(store: ParquetTableStore, raw: DataFrame,
                 moneyMode: MoneyMode = MoneyMode.Dbl): Round = {
    val stats = Observation()
    val deduped = Checkpoints.materialize(
      Dedup.firstWins(raw, Seq("id"), "_arrival_order")
        .drop("_page_file", "_arrival_order")
        .observe(stats, max(to_timestamp(col("updated_at"))).as("hwm"), count(lit(1)).as("rows")))
    try {
      val seen = stats.get
      val rows = seen("rows").asInstanceOf[Long]
      if (rows > 0)
        store.upsertAll(Flatten.all(deduped, moneyMode).toSeq.map { case (name, df) =>
          (name, df, Schemas.uniqueKeys(name)) })
      Round(Option(seen("hwm").asInstanceOf[Timestamp]), rows)
    } finally Checkpoints.release(deduped)
  }
}
