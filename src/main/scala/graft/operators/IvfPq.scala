package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-ADC: the FAISS `IndexIVFPQ + refine` pipeline composed from this
  * repo's two halves — [[IvfIndex]] supplies the coarse quantizer,
  * cell-partitioned inverted lists, persistence and staleness protocol;
  * [[ProductQuantizer]] supplies the 32×-compressed codes and the
  * asymmetric-distance scan. A probe touches, in order: the broadcast
  * centroid frame (KBs), ONLY the probed cells' partition directories
  * (~nProbe/nCells of the corpus), the PQ codes of those cells'
  * members (bytes per vector, scored by LUT lookups inside codegen),
  * and finally the full vectors of just the ADC shortlist (the bounded
  * exact refine). Nothing ever scans the whole corpus, and the heavy
  * per-candidate work happens on compressed codes — the two
  * contractions multiply.
  *
  * Codes are RESIDUAL-encoded (FAISS `IndexIVFPQ`'s `by_residual`,
  * Jégou et al. TPAMI 2011 §IV): each vector stores PQ codes of
  * `v − anchor(cell(v))`, not of `v` itself. Residuals concentrate
  * near the origin of a much smaller region than the raw space — the
  * anchor has already absorbed the between-cell variance — so the
  * same m × ksub code budget spends its resolution on the within-cell
  * detail that actually ranks neighbors, which is why FAISS's PQ
  * recall holds up at high compression (and why this repo's
  * raw-encoded first cut measured recall@10 0.576 vs SQ's 0.853:
  * VERDICT r11 item 2). The anchor is the cell's UNNORMALIZED member
  * mean at build time, NOT the spherical centroid: this engine's
  * coarse quantizer keeps its centroids on the unit sphere (dot-
  * product assignment), and subtracting a unit-norm direction from a
  * loosely-correlated member OVERSHOOTS — measured on the fixture,
  * centroid-anchored residuals quantize WORSE than raw vectors
  * (distortion 0.70 vs 0.55) while mean-anchored residuals quantize
  * better (0.49), which is exactly FAISS's choice of reconstruction
  * point (its L2-k-means centroids ARE cell means). Correctness never
  * depends on the anchor: ‖q − x‖² = ‖(q − a) − (x − a)‖² for ANY a,
  * so anchors are frozen at build like the codebook and stay valid
  * through appends and deletes. The probe builds one ADC LUT per
  * (query, probed cell) from the query's residual against that cell's
  * anchor, so distances stay comparable across cells and the
  * per-query shortlist is taken on one scale.
  *
  * Build stores three additional tables next to the IVF trio:
  * `<name>_pq_codebook` (sub, code, centroid — RESIDUAL-space
  * centroids), `<name>_pq_anchors` (cell, anchor — the frozen
  * per-cell reconstruction points) and `<name>_pq_codes` (id, codes —
  * residual codes relative to the id's cell, which the cells table,
  * not the codes table, records). The codes table comes first in
  * [[StoredIndex]] crash order, the IVF tables and meta after it;
  * [[verifyFresh]] covers staleness for the whole family plus the
  * codes≡cells id parity.
  *
  * SIZING `shortlist` (measured, r13 100× smoke): the ADC estimate has
  * a quantization noise floor, and the shortlist stage can only order
  * candidates whose true distance gaps exceed it. On corpora where
  * near-duplicate clusters are DENSER than that floor — e.g. 200k
  * vectors holding ~200-member jitter clusters — shortlist 32 reads
  * recall@10 0.16–0.24 even though parent-level recall (any member of
  * the right cluster) is 0.65–0.78; raising the shortlist past the
  * cluster size restores exact recall monotonically (m=16: 0.24 → 0.99
  * from shortlist 32 → 256) at FLAT probe cost, because the bounded
  * exact refine, not the shortlist heap, dominates. Rule of thumb:
  * shortlist ≥ max(4×topK, expected duplicate-cluster size); on deduped
  * or well-separated corpora the default 32 suffices (0.635/0.829
  * measured at the 32/64-bit operating points, NOTES_r13).
  */
object IvfPq {
  import StoredIndex.{table, Family, Side, IdSorted}

  private[operators] val Tables = Family("IVF-PQ", "n_vectors",
    Seq(Side("_pq_codes", "seg", IdSorted, onePerId = true), IvfIndex.Cells),
    carried = Seq("n_cells"))

  /** (cell, anchor): the frozen per-cell reconstruction points — each
    * cell's member MEAN at build time (see the object doc for why the
    * mean and not the spherical centroid), with empty cells falling
    * back to their centroid so vectors a later append assigns there
    * still find an anchor row. nCells rows, broadcast wherever used. */
  private def anchorsOf(assigned: DataFrame, centroids: DataFrame): DataFrame = {
    val means = assigned.select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy(col("cell"), col("p")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        s => s.getField("m")).as("mean"))
    centroids.join(means, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("mean"),
        transform(col("centroid"), x => x.cast("double"))).as("anchor"))
  }

  /** (id, cell, rv): residuals of an assigned frame against its cells'
    * anchors — the space both the codebook and every code row live
    * in. Double-typed (float vector − double anchor): the PQ trainer
    * computes in doubles anyway, and the subtraction must be
    * bit-reproducible between build and append for the changed-code
    * guard's code comparison to mean "vector changed", not "arithmetic
    * drifted". */
  private def residuals(assigned: DataFrame, anchors: DataFrame): DataFrame =
    assigned.join(broadcast(anchors), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("v"), col("anchor"),
          (x, a) => x.cast("double") - a).as("rv"))

  /** Residual-encode a batch against the STORED quantizers — the
    * append-side twin of [[build]]'s encode: assign to cells under the
    * frozen coarse centroids, subtract the cell centroid, PQ-encode
    * under the frozen codebook. Returns (id, codes). */
  private def encodeResiduals(store: ParquetTableStore, name: String,
                              batch: DataFrame, idCol: String, vecCol: String,
                              dim: Int, m: Int): DataFrame = {
    val codebook = table(store, name, "_pq_codebook")
    val assigned = IvfIndex.assignToCells(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")),
      table(store, name, "_centroids"))
    ProductQuantizer.encode(residuals(assigned, table(store, name, "_pq_anchors")),
      "id", "rv", dim, codebook, m)
  }

  def build(store: ParquetTableStore, name: String, corpus: DataFrame,
            idCol: String, vecCol: String, dim: Int, nCells: Int = 16,
            m: Int = 8, ksub: Int = 16, iterations: Int = 5): Unit = {
    // The coarse quantizer trains FIRST — residual encoding needs the
    // final centroids before any PQ work — but the IVF tables are still
    // WRITTEN last ([[IvfIndex.buildAssigned]]), in [[StoredIndex]] crash
    // order. The assignment is computed once and shared by the residual
    // encode and the cells write (materialized: three consumers).
    val centroids = Similarity.trainIvfCentroids(
      corpus, idCol, vecCol, nCells, iterations)
    val assigned = Checkpoints.materialize(IvfIndex.assignToCells(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), centroids))
    val anchors = anchorsOf(assigned, centroids)
    store.replace(s"${name}_pq_anchors", anchors)
    val res = residuals(assigned, store.read(s"${name}_pq_anchors").get)
    val codebook = ProductQuantizer.train(res, "id", "rv", dim, m, ksub,
      iterations)
    store.replace(s"${name}_pq_codebook", codebook)
    // codes are segment-partitioned (seg 0 = the build) so appends can
    // write only their own segment — see [[append]]; id-sorted within
    // write tasks so the append guard's id-span predicate prunes at the
    // row-group level (see [[IvfSq.build]] / [[KeyPrune]])
    store.replacePartitioned(s"${name}_pq_codes",
      ProductQuantizer.encode(res, "id", "rv", dim, codebook, m)
        .withColumn("seg", lit(0L)).sortWithinPartitions(col("id")),
      Seq("seg"))
    IvfIndex.buildAssigned(store, name, centroids, assigned, nCells)
    Checkpoints.release(assigned)
  }

  /** Extend the stored IVF-PQ index with an ingest batch under the
    * FROZEN codebook — FAISS's `add` vs `train` split applied to BOTH
    * quantizers: the batch encodes against the stored PQ codebook (no
    * retrain) and assigns against the stored coarse centroids, then
    * appends through [[StoredIndex.appendCoded]] (every guard before any
    * write; codes into the batch's OWN segment `seg` = `batchId`, replays
    * re-use it; the cells append and the meta come last). */
  def append(store: ParquetTableStore, name: String, batch: DataFrame,
             idCol: String, vecCol: String, dim: Int, batchId: Long,
             m: Int = 8): Unit =
    StoredIndex.appendCoded(store, name, Tables,
      encodeResiduals(store, name, batch, idCol, vecCol, dim, m),
      batch, idCol, vecCol, batchId)

  /** In-place vector update recipe for the PQ variant — delete the ids
    * whose re-delivered vector encodes differently OR moves cells, then
    * append ([[StoredIndex.upsertCoded]]). Replays no-op. */
  def upsertVectors(store: ParquetTableStore, name: String, batch: DataFrame,
                    idCol: String, vecCol: String, dim: Int, batchId: Long,
                    m: Int = 8): Unit =
    StoredIndex.upsertCoded(store, name, Tables,
      encodeResiduals(store, name, batch, idCol, vecCol, dim, m),
      batch, idCol, vecCol, batchId)

  /** Remove `ids` from the IVF-PQ index: codes, cells, then the meta
    * ([[StoredIndex.delete]]); the codebook is untouched (it quantizes
    * REGIONS, not members, exactly like the coarse centroids). Returns
    * vectors removed. */
  def delete(store: ParquetTableStore, name: String, ids: DataFrame,
             idCol: String): Long =
    StoredIndex.delete(store, name, Tables, ids, idCol)

  /** [[IvfIndex.verifyFresh]] plus the codes≡cells id-population attest —
    * see [[StoredIndex.verifyFresh]]. */
  def verifyFresh(store: ParquetTableStore, name: String,
                  corpus: DataFrame, idCol: String): Unit =
    StoredIndex.verifyFresh(store, name, Tables, corpus, idCol)

  /** Rewrite all PQ code segments as ONE segment (seg 0) — the same
    * compaction as [[IvfSq.compactCodeSegments]]. Returns (segments
    * before, code rows). */
  def compactCodeSegments(store: ParquetTableStore, name: String): (Long, Long) =
    StoredIndex.compactSegments(store, name, Tables)

  /** Top-k via coarse probe → compressed residual-ADC scan → bounded
    * exact refine. Output: (query_id, rank, neighbor_id, score·4dp),
    * scores exact (dot products of the refined shortlist). */
  def probe(store: ParquetTableStore, name: String, queries: DataFrame,
            idCol: String, vecCol: String, dim: Int, topK: Int,
            m: Int = 8, ksub: Int = 16, nProbe: Int = 4,
            shortlist: Int = 32): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, None, dim, topK,
      m, ksub, nProbe, shortlist)

  /** FILTERED top-k over the ADC index — true top-k OF THE ALLOWED
    * SUBSET, with the allowed semi-join applied to the candidate pool
    * BEFORE the ADC shortlist cut. Same load-bearing ordering as
    * [[IvfSq.probeFiltered]] (see there for the recall-collapse argument
    * a post-shortlist filter loses to); here the stakes are higher
    * because the shortlist is the ONLY stage that sees compressed
    * scores — once a disallowed twin takes a shortlist slot, no refine
    * budget recovers the allowed neighbor it displaced. At
    * nProbe = nCells and shortlist ≥ the allowed candidate count the
    * probe is exhaustive-exact over the allowed subset (gate q168).
    * `allowed`: any frame carrying `idCol`. */
  def probeFiltered(store: ParquetTableStore, name: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    allowed: DataFrame, dim: Int, topK: Int,
                    m: Int = 8, ksub: Int = 16, nProbe: Int = 4,
                    shortlist: Int = 32): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, Some(allowed),
      dim, topK, m, ksub, nProbe, shortlist)

  private def probeRestricted(store: ParquetTableStore, name: String,
                              queries: DataFrame, idCol: String,
                              vecCol: String, allowed: Option[DataFrame],
                              dim: Int, topK: Int, m: Int, ksub: Int,
                              nProbe: Int, shortlist: Int): DataFrame = {
    val codebook = table(store, name, "_pq_codebook")
    val codes = table(store, name, "_pq_codes")
    val anchors = table(store, name, "_pq_anchors")
    // members of the probed cells only: (query_id, qv, id, v, cell) —
    // the cells read is partition-pruned exactly as IvfIndex.probe's;
    // probeMembers returns a materialized frame, consumed here by the
    // candidate list, the LUT keying and the refine join. The allowed
    // restriction lands HERE, upstream of the ADC scan (filter-then-
    // shortlist); a (query, cell) pair left with no allowed members
    // drops out of the LUT frame too — candCodes derives from the same
    // restricted pool, so the two stay consistent.
    val members = IvfIndex.probeMembers(store, name, queries, idCol, vecCol,
      nProbe, allowed = allowed)
    // ADC over the members' codes: candidates restricted BEFORE scoring.
    // The member's CELL rides along — residual codes only mean anything
    // relative to their cell's centroid, so the LUT key is (query, cell).
    val candCodes = members.select(col("query_id"), col("cell"), col("id"))
      .join(codes, Seq("id"))
      .select(col("query_id"), col("cell"), col("id"), col("codes"))
    // one residual query vector per (query, probed cell): q − anchor,
    // the same subtraction the build encoded with — queries × nProbe
    // rows, broadcast-sized like the LUT frame built from it
    val qResiduals = members.select(col("query_id"), col("cell"), col("qv"))
      .distinct()
      .join(broadcast(anchors), Seq("cell"))
      .select(col("query_id"), col("cell"),
        zip_with(col("qv"), col("anchor"),
          (x, a) => x.cast("double") - a).as("qv"))
    val adcShort = ProductQuantizer.adcShortlist(
      qResiduals, candCodes, codebook, dim, m, ksub, shortlist,
      lutKeys = Seq("query_id", "cell"))
    IvfIndex.refine(adcShort, members, topK)
  }
}
