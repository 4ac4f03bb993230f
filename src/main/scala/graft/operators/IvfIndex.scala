package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Persisted IVF index — build once, probe many: the shape a
  * repeated-query ANN workload needs. [[Similarity.annIvf]] re-assigns
  * the whole candidate corpus to cells on EVERY call (an O(corpus ×
  * nCells) dot-product pass); this operator pays assignment once at
  * build time, stores the index through [[ParquetTableStore]], and each
  * probe then touches only the centroid frame (tiny, broadcast) and the
  * probed cells' rows (the standard IVF inverted-list contraction:
  * ~nProbe/nCells of the corpus per query batch).
  *
  * Layout (three tables under one index name — the FAISS IVF file layout
  * re-expressed as warehouse tables):
  *   - `<name>_centroids` (cell, centroid): the trained coarse quantizer
  *     ([[Similarity.trainIvfCentroids]] — spherical Lloyd).
  *   - `<name>_cells` (id, cell, v): every candidate vector in its
  *     nearest cell — the inverted lists, PARTITIONED BY cell on disk so
  *     a probe's cell filter prunes files before reading a single row.
  *   - `<name>_meta` (n_vectors, id_fingerprint, n_cells): build-time
  *     corpus identity for staleness detection.
  *
  * [[append]] extends the index incrementally under the frozen coarse
  * quantizer (FAISS's `add` vs `train` split). Staleness, crash ordering,
  * delete and compaction are the [[StoredIndex]] protocol: an index
  * probed against a corpus that has since changed returns silently wrong
  * neighbors, so [[verifyFresh]] fails loudly instead.
  */
object IvfIndex {
  import StoredIndex.{table, Family, Side, IdRanged}

  private[operators] val Cells = Side("_cells", "cell", IdRanged)
  private[operators] val Tables = Family("IVF", "n_vectors", Seq(Cells),
    carried = Seq("n_cells"))

  /** Nearest-cell assignment under a FIXED centroid frame: the max_by
    * hash-aggregate argmax (no window — the r5 finding), one pass over
    * `vecs`. Shared by [[build]] (whole corpus, freshly-trained
    * centroids) and [[append]] (one batch, the STORED centroids — the
    * FAISS train/add split). */
  private[operators] def assignToCells(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("v"), col("cell"),
        Vectors.dotNative(col("v"), col("centroid")).as("cd"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cell"), col("v")),
        struct(col("cd"), (-col("cell")).as("nc"))).as("b"))
      .select(col("id"), col("b.cell").as("cell"), col("b.v").as("v"))

  /** Train the coarse quantizer and materialize the inverted lists;
    * the cells table is written partitioned by cell so probes prune at
    * the file level. */
  def build(store: ParquetTableStore, name: String, candidates: DataFrame,
            idCol: String, vecCol: String, nCells: Int = 16,
            iterations: Int = 5): Unit = {
    val centroids = Similarity.trainIvfCentroids(
      candidates, idCol, vecCol, nCells, iterations)
    val vecs = candidates.select(col(idCol).as("id"), col(vecCol).as("v"))
    buildAssigned(store, name, centroids, assignToCells(vecs, centroids), nCells)
  }

  /** [[build]] with the training + assignment already done — the entry
    * point for composite builds that need the trained quantizer BEFORE
    * the IVF trio is written ([[IvfPq.build]] encodes per-cell residuals
    * against these centroids, so it must see the assignment first, and
    * re-training here would double the k-means cost for an identical
    * result). The meta lands last ([[StoredIndex]] crash ordering).
    * `assigned`: (id, cell, v) under exactly these `centroids`. */
  private[operators] def buildAssigned(store: ParquetTableStore, name: String,
                                       centroids: DataFrame,
                                       assigned: DataFrame,
                                       nCells: Int): Unit = {
    store.replace(s"${name}_centroids", centroids)
    // partitioned write through the store's atomic swap: a probe reading
    // 4 of 16 cells opens 4 of 16 partition dirs, and a crash mid-build
    // leaves the PREVIOUS cells table intact — a plain overwrite of the
    // live path deletes first and commits per partition, and the
    // fingerprint cannot distinguish "old corpus, half-written cells"
    // from a completed build over the old corpus
    // id-sorted within write tasks: tight row-group id stats let the
    // append guard's id-span predicate ([[KeyPrune]]) prune the cells
    // scan instead of reading every member row
    store.replacePartitioned(s"${name}_cells",
      assigned.sortWithinPartitions(col("id")), Seq("cell"))
    // build-time occupancy snapshot for checkHealth — computed from the
    // STORED cells table (partition-column-only scan) so it can never
    // disagree with what was actually written
    val stored = store.read(s"${name}_cells").get
    store.replace(s"${name}_health",
      stored.groupBy(col("cell")).agg(count(lit(1)).as("n_build")))
    StoredIndex.writeMeta(store, name, Tables, Seq(lit(nCells).as("n_cells")))
  }

  /** Index-health drift monitor: PSI between the BUILD-time cell
    * occupancy histogram and the CURRENT one. A frozen coarse quantizer
    * degrades as the vector distribution drifts — appended vectors pile
    * into a few cells, probes read ever-larger inverted lists, and
    * recall decays because the Voronoi partition no longer matches the
    * data. Occupancy is the cheap observable: current counts come from a
    * partition-column-only scan of the cells table (row-group metadata,
    * no vector bytes), the build snapshot from the `_health` table, and
    * the PSI is one aggregate over nCells rows with [[Drift]]'s +0.5
    * smoothing over the full cell grid (an emptied or newly-hot cell
    * carries its smoothed term instead of vanishing).
    *
    * Returns a 1-row frame (psi, n_build, n_current, retrain). The
    * conventional PSI reading (documented with [[Drift]]): < 0.10
    * stationary, 0.10–0.25 drifting, > 0.25 act — `threshold` defaults
    * to 0.25 and `retrain = psi > threshold` means REBUILD the index
    * (retraining the quantizer re-partitions the space; appends under
    * the frozen one remain correct but increasingly unbalanced).
    * Indexes built before health tracking fail loudly — rebuild once to
    * enable. */
  def checkHealth(store: ParquetTableStore, name: String,
                  threshold: Double = 0.25): DataFrame = {
    val health = store.read(s"${name}_health").getOrElse(
      sys.error(s"IVF index '$name' has no health table — built before " +
        "occupancy tracking; rebuild once to enable checkHealth."))
    val cells = table(store, name, "_cells")
    val nCells = table(store, name, "_meta").select("n_cells").head().getInt(0)
    val spark = cells.sparkSession
    val grid = spark.range(nCells).select(col("id").cast("int").as("cell"))
    val cur = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_cur"))
    val joined = grid
      .join(health, Seq("cell"), "left").join(cur, Seq("cell"), "left")
      .na.fill(0L, Seq("n_build", "n_cur"))
    val smooth = 0.5
    val denom = lit(smooth * nCells)
    joined
      .crossJoin(broadcast(joined.agg(sum(col("n_build")).as("_tb"),
        sum(col("n_cur")).as("_tc"))))
      .select(col("n_build"), col("n_cur"), col("_tb"), col("_tc"),
        ((col("n_build") + smooth) / (col("_tb") + denom)).as("pb"),
        ((col("n_cur") + smooth) / (col("_tc") + denom)).as("pc"))
      .agg(
        round(sum((col("pc") - col("pb")) * log(col("pc") / col("pb"))), 4)
          .as("psi"),
        first(col("_tb")).as("n_build"), first(col("_tc")).as("n_current"))
      .select(col("psi"), col("n_build"), col("n_current"),
        (col("psi") > threshold).as("retrain"))
  }

  /** Extend the STORED index with an ingested batch under the FROZEN
    * coarse quantizer — FAISS's `add` vs `train` split: new vectors are
    * assigned against the stored centroid frame (no retrain, no corpus
    * re-assignment) and written as APPENDED FILES inside their cell
    * directories ([[ParquetTableStore.appendPartitioned]]) — an append
    * costs O(|batch| × nCells dots) + the batch's own bytes, never a
    * partition rewrite. (The previous keyed-merge shape rewrote every
    * touched cell partition; a scattered batch touches all of them, so
    * each append silently cost O(corpus) in data volume — the 100×
    * smoke measured append scaling with corpus size, not batch size.)
    *
    * One span-pruned left join ([[KeyPrune]] — an all-new-ids batch
    * skips the stored cells table entirely via row-group id stats)
    * classifies the batch:
    *   - id absent from the store → NEW: appended, no rewrite;
    *   - present, vector IDENTICAL → replay/re-send: skipped (no-op);
    *   - present, vector changed, SAME cell → in-place update: the rare
    *     keyed merge of just those rows' cells (the one case that must
    *     rewrite — float probes score stored vectors directly, so the
    *     row itself must change);
    *   - present, vector changed, DIFFERENT cell → FAILS LOUDLY (a
    *     cell-local write cannot move a row across partitions; the
    *     stale row would keep answering probes). Use [[upsertVectors]].
    * Re-running after a crash converges (committed ids classify as
    * identical re-sends). Appended files accumulate per batch — see
    * [[compactCells]] and the [[IndexMaintenance]] policy. */
  def append(store: ParquetTableStore, name: String, batch: DataFrame,
             idCol: String, vecCol: String): Unit =
    appendThen(store, name, batch, idCol, vecCol)(())

  /** [[append]], running `beforeWrites` once every guard has passed and
    * before the first cells write: the compressed families write their
    * codes there, so a rejected batch writes nothing at all. */
  private[operators] def appendThen(store: ParquetTableStore, name: String,
                                    batch: DataFrame, idCol: String,
                                    vecCol: String)(beforeWrites: => Unit): Unit =
    StoredIndex.withCheckpoints { keep =>
      val centroids = table(store, name, "_centroids")
      val stored = table(store, name, "_cells")
      val rows = StoredIndex.distinctPerId(keep,
        batch.select(col(idCol).as("id"), col(vecCol).as("v")), Tables, name, "vectors")
      val assigned = keep(assignToCells(rows, centroids))
      val storedSpan = KeyPrune.toKeySpan(stored, "id", assigned, "id")
        .select(col("id"), col("cell").as("_oc"), col("v").as("_ov"))
      val annotated = keep(assigned.join(storedSpan, Seq("id"), "left"))
      val moved = annotated
        .filter(col("_oc").isNotNull && col("_oc") =!= col("cell"))
        .select(col("id"), col("_oc"), col("cell"))
        .limit(5).collect()
      if (moved.nonEmpty) sys.error(
        s"IVF index '$name': batch re-delivers id(s) " +
          moved.map(r => s"${r.get(0)} (cell ${r.get(1)} -> ${r.get(2)})")
            .mkString(", ") +
          " with a CHANGED vector that re-assigns to a different cell — a " +
          "cell-local append cannot move rows across cells (the stale " +
          "row would keep answering probes). Rebuild the index, or delete " +
          "the ids first.")
      beforeWrites
      val changed = annotated
        .filter(col("_oc").isNotNull && !(col("_ov") <=> col("v")))
        .select(col("id"), col("cell"), col("v"))
      if (!changed.isEmpty)
        store.upsertPartitioned(s"${name}_cells", changed, Seq("id"), "cell")
      val fresh = annotated.filter(col("_oc").isNull)
        .select(col("id"), col("cell"), col("v"))
      if (!fresh.isEmpty)
        store.appendPartitioned(s"${name}_cells",
          fresh.sortWithinPartitions(col("id")), "cell")
      StoredIndex.writeMeta(store, name, Tables)
    }

  /** Rewrite the cells table down to a bounded number of id-range-sorted
    * files and swap — [[append]] adds files per ingest batch, so file
    * count tracks ingest history while scan task counts should track
    * data size; probe results are unchanged by construction (only the
    * directory layout moves). `repartitionByRange(cell, id)` keeps hot
    * cells split across several contiguous-id files (no one-task-per-
    * cell skew) with tight row-group id stats for the guards' span
    * pruning. Returns (parquet files before, rows). */
  def compactCells(store: ParquetTableStore, name: String): (Long, Long) =
    StoredIndex.compactFiles(store, name, Cells)

  /** In-place vector update recipe, composed ([[Bm25Index.upsertDocs]]'s
    * analogue for the ANN family): delete the already-indexed ids the
    * frozen quantizer re-assigns to a DIFFERENT cell (the case
    * [[append]] must reject — a partition-pruned merge cannot move
    * rows), then append the batch. Same-cell vector changes need no
    * delete here: the keyed cell upsert replaces the row's vector in
    * place, and float probes score the stored vectors directly. Moved-id
    * detection is the guard's own join — an id+partition-column scan of
    * the cells table against the batch's broadcast assignment, no stored
    * vector bytes. Replays no-op end to end (nothing moved on the second
    * delivery; the append rewrites identical rows). Compressed variants
    * must use THEIR upsert ([[IvfSq.upsertVectors]] /
    * [[IvfPq.upsertVectors]]) — they also have to re-encode. */
  def upsertVectors(store: ParquetTableStore, name: String, batch: DataFrame,
                    idCol: String, vecCol: String): Unit = {
    val moved = movedIds(store, name, batch, idCol, vecCol)
    if (!moved.isEmpty) delete(store, name, moved, "id")
    append(store, name, batch, idCol, vecCol)
  }

  /** (id) frame of batch ids whose re-delivered vector re-assigns to a
    * different cell than the stored row's — the cross-partition case
    * every in-place update path must delete first. */
  private[operators] def movedIds(store: ParquetTableStore, name: String,
                                  batch: DataFrame, idCol: String,
                                  vecCol: String): DataFrame = {
    val assigned = assignToCells(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")),
      table(store, name, "_centroids"))
    // span from the raw batch ids (no assignment pass needed for it);
    // the stored cells scan prunes to the batch's id span — see KeyPrune
    KeyPrune.toKeySpan(table(store, name, "_cells"), "id", batch, idCol)
      .select(col("id"), col("cell").as("_old_cell"))
      .join(broadcast(assigned.select(col("id"), col("cell"))), Seq("id"))
      .filter(col("_old_cell") =!= col("cell"))
      .select(col("id"))
  }

  /** Remove `ids` from the index ([[StoredIndex.delete]]: only the cell
    * directories holding the ids are rewritten; a cell emptied entirely
    * is dropped). The coarse quantizer is untouched — cell REGIONS are
    * defined by the centroids, not by membership, so probes of the
    * surviving corpus remain exactly the probes a fresh build over it
    * (same centroids) would answer. Returns vectors removed. `ids`: one
    * column named `idCol`. */
  def delete(store: ParquetTableStore, name: String, ids: DataFrame,
             idCol: String): Long =
    StoredIndex.delete(store, name, Tables, ids, idCol)

  /** Fail loudly if `corpus` no longer matches the fingerprint the index
    * was built from — see [[StoredIndex.verifyFresh]]. */
  def verifyFresh(store: ParquetTableStore, name: String,
                  corpus: DataFrame, idCol: String): Unit =
    StoredIndex.verifyFresh(store, name, Tables, corpus, idCol)

  /** (query_id, qv, id, v, cell): the members of each query's nProbe best
    * cells — the partition-pruned candidate pool, shared by the float
    * probe ([[probe]]) and the compressed probes ([[IvfSq.probe]],
    * [[IvfPq.probe]]).
    * Queries assign against the broadcast centroid frame, the cells
    * table is read WITH a cell filter (partition-pruned at the file
    * level), and no pass over the full corpus happens anywhere. With
    * `allowed` (any frame carrying `idCol`) the pool holds only the
    * allowed ids — the filtered-search restriction lands on the pool,
    * upstream of any scoring or shortlist cut. The RETURNED frame is
    * materialized by default — multi-consumer callers (IvfPq reads it
    * for the candidate list AND the refine join) do not re-run the
    * pruned read or the member join per consumer. `materialized = false`
    * returns the lazy plan instead (single-consumer paths and plan-shape
    * assertions). */
  private[operators] def probeMembers(store: ParquetTableStore, name: String,
                                      queries: DataFrame, idCol: String,
                                      vecCol: String, nProbe: Int,
                                      materialized: Boolean = true,
                                      allowed: Option[DataFrame] = None): DataFrame = {
    val centroids = table(store, name, "_centroids")
    // through store.read, NOT a raw parquet read: read() runs the
    // mid-swap backup recovery, so a build crashed inside the cells
    // swap window is restored instead of failing every probe forever
    val cells = table(store, name, "_cells")
    // materialized: the assignment subplan (queries × centroids dots +
    // TopK aggregate) feeds BOTH the probed-cells collect and the member
    // join — without the checkpoint each consumer re-runs it as its own
    // job, doubling the very cost probing exists to minimize
    val qAssigned = Checkpoints.materialize(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cell"),
        Vectors.dotNative(col("qv"), col("centroid")).as("cd"))
      .groupBy(col("query_id"))
      .agg(first(col("qv")).as("qv"),
        graft.functions.TopK.topK(nProbe)(col("cell").cast("long"), col("cd")).as("tk"))
      .select(col("query_id"), col("qv"), explode(col("tk")).as("cs"))
      .select(col("query_id"), col("qv"), col("cs._1").cast("int").as("cell")))
    val probedCells = qAssigned.select("cell").distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ queries × nProbe, ≤ nCells
    // No dedup needed: a candidate lives in exactly ONE cell (the
    // assignment argmax is unique per id) and qAssigned carries one row
    // per (query, probed cell), so each (query, candidate) pair joins at
    // most once — the full-row distinct this used to run was a pure
    // shuffle of the two widest columns (qv, v) for nothing (the 100×
    // smoke measured it as the probe's dominant cost at high nProbe).
    // `cell` rides along for the residual-ADC consumer ([[IvfPq.probe]]
    // builds one LUT per (query, probed cell) — the residual encoding is
    // relative to the member's cell centroid); float/SQ probes ignore it
    val all = cells.filter(col("cell").isin(probedCells.toSeq: _*))
      .join(broadcast(qAssigned), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id"), col("v"), col("cell"))
    val pool = allowed.fold(all)(a =>
      all.join(a.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi"))
    if (materialized) Checkpoints.materialize(pool) else pool
  }

  /** Top-k neighbors for `queries` from the STORED index — see
    * [[probeMembers]] for the candidate-pool mechanics; this scores the
    * pool with exact dot products and takes top-k. */
  def probe(store: ParquetTableStore, name: String, queries: DataFrame,
            idCol: String, vecCol: String, topK: Int,
            nProbe: Int = 4): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, None, topK, nProbe)

  /** FILTERED top-k — the metadata-predicate search every vector store
    * serves (FAISS's `IDSelector`, the vector-DB "filtered search"):
    * candidates are restricted to ids present in `allowed` BEFORE the
    * top-k, so the result is the true top-k OF THE ALLOWED SUBSET —
    * never a post-hoc filter that silently returns fewer than k rows.
    * `allowed` is any frame carrying `idCol`; a metadata predicate
    * composes as `meta.filter(pred).select(id)`, and the semi-join is
    * the Spark-idiomatic pushdown (AQE broadcasts a small allowed side
    * on its own). At nProbe = nCells the probe is exhaustive over the
    * allowed subset and exactly the brute-force ranking — the
    * oracle-provable operating point (q166). At smaller nProbe the
    * usual IVF recall tradeoff applies, with one filtered-search
    * caveat worth knowing: a highly selective predicate thins each
    * probed cell's candidate pool, so recall-sensitive filtered reads
    * should raise nProbe roughly in proportion to the filter's
    * selectivity (the standard vector-store guidance). */
  def probeFiltered(store: ParquetTableStore, name: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    allowed: DataFrame, topK: Int,
                    nProbe: Int = 4): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, Some(allowed), topK,
      nProbe)

  /** Exact top-k of a compressed probe's (query_id, neighbor_id)
    * shortlist: dot products against the probed cells' stored vectors in
    * `members` ([[probeMembers]]) — never the raw corpus. */
  private[operators] def refine(shortlist: DataFrame, members: DataFrame,
                                topK: Int): DataFrame =
    Similarity.takeTopK(shortlist
      .join(members.select(col("query_id"), col("id").as("neighbor_id"),
        col("v"), col("qv")), Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.dotNative(col("qv"), col("v")).as("score")), topK)

  // single consumer of the pool → lazy (no materialization job)
  private def probeRestricted(store: ParquetTableStore, name: String,
                              queries: DataFrame, idCol: String,
                              vecCol: String, allowed: Option[DataFrame],
                              topK: Int, nProbe: Int): DataFrame =
    Similarity.takeTopK(probeMembers(store, name, queries, idCol, vecCol,
        nProbe, materialized = false, allowed)
      .select(col("query_id"), col("id").as("neighbor_id"),
        Vectors.dotNative(col("qv"), col("v")).as("score")), topK)
}
