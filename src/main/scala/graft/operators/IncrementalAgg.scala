package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate (materialized-view) maintenance for
  * distributive/algebraic aggregates: keep a small per-group STATE table
  * of mergeable components (count, sum, min, max), fold delta batches
  * into it, and derive the final measures (including avg = sum/count) at
  * read time — history is never rescanned. This is how a 100 TB
  * warehouse keeps its rollups current: the reference recomputes its
  * daily aggregation remotely per sync (ref shopify-etl/shopify_etl.py:
  * 669-683, a full GROUP BY per run); at scale the same rollup must be
  * maintained from the just-ingested batch alone.
  *
  * Only MERGEABLE components are stored: count/sum combine by sum,
  * min/max by min/max — so state ⊕ delta ≡ recompute-from-scratch
  * exactly (gated as q76 against a DuckDB full recompute). Non-mergeable
  * measures (exact median, exact distinct) are out of scope by
  * construction — approximate distinct has its own mergeable sketch path
  * ([[SketchRollup]]).
  *
  * Scale shape: each call is ONE hash aggregate over its input (map-side
  * partials, no sort); a merge is a union of state frames + the same
  * aggregate — state tables are group-cardinality-sized, tiny next to
  * the fact stream. Re-aggregating a state to a COARSER grouping (day →
  * month, (day,type) → type) is [[mergeStates]] with fewer group
  * columns: partials stay valid under any grouping coarsening.
  */
object IncrementalAgg {

  /** Mergeable aggregate state of `valueCol` per `groups`:
    * (_cnt, _sum, _min, _max, _sumsq). Nulls in `valueCol` are ignored
    * by all five components consistently, so merge order cannot change
    * the result. `_sumsq` (sum of squares, merges by plain sum) extends
    * the maintainable measures to variance/stddev — see
    * [[momentsFromState]] and [[Outliers]]. The textbook one-pass
    * instability of Σx² − (Σx)²/n is bounded here by double headroom:
    * it loses ~log10(mean²·n / variance) of 15-16 significant digits,
    * fine for pipeline metrics (chars, prices, scores) and documented
    * so a caller with 9-digit means knows to rescale first.
    *
    * Schema note: pre-r8 state tables (no `_sumsq`) fail a fold loudly
    * (unionByName) rather than silently carrying null variance —
    * rebuild or backfill `_sumsq` once to migrate. */
  def partialState(df: DataFrame, groups: Seq[String],
                   valueCol: String): DataFrame =
    df.groupBy(groups.map(col): _*)
      .agg(count(col(valueCol)).as("_cnt"),
        sum(col(valueCol)).as("_sum"),
        min(col(valueCol)).as("_min"),
        max(col(valueCol)).as("_max"),
        // squared in DOUBLE regardless of input type: a Long value column
        // wraps the per-row product above 46341² in non-ANSI mode (and a
        // Decimal overflows product precision to null) — either silently
        // corrupts variance. Double trades exactness above 2^53 for
        // never wrapping, the documented headroom contract above.
        sum(col(valueCol).cast("double") * col(valueCol).cast("double"))
          .as("_sumsq"))

  /** Fold any number of state frames (and/or delta partials) into one
    * state at `groups` granularity — which may be COARSER than the
    * states' own (fewer group columns): count/sum re-sum, min/max
    * re-min/max. */
  def mergeStates(groups: Seq[String], states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(groups.map(col): _*)
      .agg(sum(col("_cnt")).as("_cnt"),
        sum(col("_sum")).as("_sum"),
        min(col("_min")).as("_min"),
        max(col("_max")).as("_max"),
        sum(col("_sumsq")).as("_sumsq"))
  }

  /** Mean and SAMPLE stddev derived from state alone: `_m` = Σx/n,
    * `_sd` = √((Σx² − (Σx)²/n)/(n−1)) — null for n ≤ 1 (no dispersion)
    * and clamped at 0 against floating-point cancellation going
    * fractionally negative. This is what makes [[Outliers]] maintainable:
    * the moments of a 100 TB fact table come from its state rows, not a
    * second fact scan. */
  def momentsFromState(state: DataFrame, groups: Seq[String]): DataFrame =
    state.select(groups.map(col) ++ Seq(
      (col("_sum") / col("_cnt")).as("_m"),
      when(col("_cnt") > 1,
        sqrt(greatest(lit(0.0),
          // _sum squared in DOUBLE: a Long-typed state _sum wraps the
          // product above ~3e9 (10M rows averaging 1k), turning _sd into
          // a silent 0/null — same overflow class as _sumsq above
          (col("_sumsq") - col("_sum").cast("double") *
            col("_sum").cast("double") / col("_cnt")) /
            (col("_cnt") - 1)))).as("_sd")): _*)

  /** Fold one micro-batch into a persisted state table — the streaming
    * maintenance loop: reduce the batch to partials, merge with the
    * stored state, and publish via [[ParquetTableStore.replace]]. Call
    * from `foreachBatch` with its `batchId` and a stable `epoch`
    * identifying the CHECKPOINT LINEAGE (e.g. the checkpoint path); the
    * rollup is then continuously current at one batch-sized aggregate
    * plus a state-sized merge per trigger.
    *
    * EXACTLY-ONCE: `foreachBatch` is at-least-once, and state folding —
    * unlike a keyed MERGE of facts — is ADDITIVE, so a replayed batch
    * would double-count. Every published state row therefore carries
    * (`_epoch`, `_last_batch`), committed atomically with the counts:
    * `replace` is the all-or-nothing publish (staged write + swap with
    * a recoverable mid-swap backup) — NOT `upsert`, whose row-level
    * MERGE commit is not atomic (see [[ParquetTableStore.replace]]). A
    * replay of an already-applied (epoch, id) is detected from the
    * stored marker and skipped; after a crash at ANY point, the table
    * holds either the old state (old marker → the replay applies once)
    * or the new state (new marker → the replay is skipped) — never a
    * double count, never silent loss.
    *
    * Epoch semantics: Structured Streaming batch ids RESTART AT ZERO
    * under a fresh checkpoint, so the marker is only meaningful within
    * one lineage — a fold whose `epoch` differs from the stored one
    * FAILS LOUDLY (a fresh checkpoint reprocesses the source from
    * scratch; pair it with a fresh state table or delete the old one)
    * rather than silently skipping or double-counting.
    *
    * Cost per batch: one bounded single-row marker aggregate over the
    * state-sized table plus the merge write. NOTE inside `foreachBatch`
    * the batch frame's session is a clone with isolated conf — safe
    * here because ParquetTableStore pins parquet codec conf per-frame
    * (see its scaladoc). */
  def foldIntoStore(store: ParquetTableStore, name: String, batch: DataFrame,
                    groups: Seq[String], valueCol: String,
                    batchId: Long, epoch: String): Unit =
    foldStateIntoStore(store, name,
      partialState(batch, groups, valueCol),
      (p, d) => mergeStates(groups, p, d), batchId, epoch)

  /** The shape-AGNOSTIC core of [[foldIntoStore]]: fold `delta` (one
    * batch already reduced to its partial state) into the stored state
    * via `merge` (stored-without-marker-columns ⊕ delta), under the
    * epoch/replay-marker protocol documented above. Any mergeable state
    * streams through this unchanged — [[IncrementalAgg]]'s
    * cnt/sum/min/max, [[BinnedQuantiles]]' per-bin histograms,
    * [[SketchRollup]]'s HLL registers — because the protocol only ever
    * touches the marker columns it appends, never the state's own. */
  private[operators] def foldStateIntoStore(store: ParquetTableStore,
      name: String, delta: => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      batchId: Long, epoch: String): Unit = {
    val prev = store.read(name)
    val isReplay = prev.filter(p =>
      p.columns.contains("_last_batch") && p.columns.contains("_epoch"))
      .exists { p =>
        val r = p.agg(max(col("_last_batch")), max(col("_epoch"))).head()
        if (!r.isNullAt(1) && r.getString(1) != epoch) sys.error(
          s"foldIntoStore('$name'): state table was built under stream epoch " +
            s"'${r.getString(1)}' but this stream runs epoch '$epoch' — batch " +
            "ids restart at zero under a fresh checkpoint, so the replay " +
            "marker cannot distinguish replays from new data across lineages. " +
            "Reset the state table together with the checkpoint, or reuse it.")
        !r.isNullAt(0) && r.getLong(0) >= batchId
      }
    if (isReplay) return
    val merged = prev
      .map(p => merge(p.drop("_last_batch").drop("_epoch"), delta))
      .getOrElse(delta)
      .withColumn("_last_batch", lit(batchId))
      .withColumn("_epoch", lit(epoch))
    store.replace(name, merged)
  }

  /** Derive the read-time measures from a state frame. `groups` is
    * passed explicitly — inferring it from column naming would silently
    * drop a real group column that happens to start with `_`. `scale`
    * rounds the floating measures (sum/avg) for engine-parity output;
    * min/max pass through exactly. */
  def finish(state: DataFrame, groups: Seq[String], scale: Int = 2): DataFrame =
    state.select(
      groups.map(col) ++ Seq(
        col("_cnt").as("n"),
        round(col("_sum"), scale).as("total"),
        round(col("_sum") / col("_cnt"), scale + 2).as("avg"),
        col("_min").as("lo"),
        col("_max").as("hi")): _*)
}
