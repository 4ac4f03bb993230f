package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF + SQ8: the partition-pruned probe of [[IvfIndex]] over the
  * 4×-compressed integer codes of [[ScalarQuantizer]] — FAISS's
  * `IndexIVFScalarQuantizer` shape. Sits between stored-IVF (full
  * floats per member, q88) and IVF-PQ (32× codes + trained codebook,
  * q96) on the memory/recall curve: a probe touches the broadcast
  * centroids, ONLY the probed cells' partition dirs, the int8 codes of
  * those cells' members (integer dots, one rescale), and full vectors
  * for just the shortlist (bounded exact refine). No training beyond
  * the coarse quantizer — the SQ codes are deterministic. The codes
  * table comes first in [[StoredIndex]] crash order, the IVF tables and
  * meta after it, so a crash never blesses codes that do not match the
  * cells. */
object IvfSq {
  import StoredIndex.{Family, Side, IdSorted}

  private[operators] val Tables = Family("IVF-SQ", "n_vectors",
    Seq(Side("_sq_codes", "seg", IdSorted, onePerId = true), IvfIndex.Cells),
    carried = Seq("n_cells"))

  def build(store: ParquetTableStore, name: String, corpus: DataFrame,
            idCol: String, vecCol: String, nCells: Int = 16,
            iterations: Int = 5): Unit = {
    // codes are segment-partitioned (seg 0 = the build) so appends can
    // write only their own segment — see [[append]]. Rows are id-sorted
    // within each write task (no shuffle): sorted row groups carry tight
    // id min/max stats, so the append guard's id-span predicate
    // ([[KeyPrune]]) prunes at the row-group level instead of scanning
    // the table.
    store.replacePartitioned(s"${name}_sq_codes",
      ScalarQuantizer.encode(corpus, idCol, vecCol).withColumn("seg", lit(0L))
        .sortWithinPartitions(col("id")),
      Seq("seg"))
    IvfIndex.build(store, name, corpus, idCol, vecCol, nCells, iterations)
  }

  /** Extend the stored IVF-SQ index with an ingest batch: SQ-encode the
    * batch (deterministic, no training) and append through
    * [[StoredIndex.appendCoded]] — a re-delivered id whose codes changed,
    * an id carried twice with different vectors and a moved-cell
    * re-delivery are all rejected before anything is written; new ids'
    * codes then go into the batch's OWN segment partition (`seg` =
    * `batchId`; replays MUST re-use it, as in the fold protocol),
    * followed by the cells and the meta. */
  def append(store: ParquetTableStore, name: String, batch: DataFrame,
             idCol: String, vecCol: String, batchId: Long): Unit =
    StoredIndex.appendCoded(store, name, Tables, ScalarQuantizer.encode(batch,
      idCol, vecCol), batch, idCol, vecCol, batchId)

  /** In-place vector update recipe for the SQ variant
    * ([[IvfIndex.upsertVectors]] + re-encoding) — see
    * [[StoredIndex.upsertCoded]]: delete the ids whose re-delivered
    * vector encodes differently OR moves cells, then append. */
  def upsertVectors(store: ParquetTableStore, name: String, batch: DataFrame,
                    idCol: String, vecCol: String, batchId: Long): Unit =
    StoredIndex.upsertCoded(store, name, Tables, ScalarQuantizer.encode(batch,
      idCol, vecCol), batch, idCol, vecCol, batchId)

  /** Remove `ids` from the IVF-SQ index: codes first (partition-pruned to
    * the segments holding the ids), then cells, then the meta
    * ([[StoredIndex.delete]]). Returns vectors removed. */
  def delete(store: ParquetTableStore, name: String, ids: DataFrame,
             idCol: String): Long =
    StoredIndex.delete(store, name, Tables, ids, idCol)

  /** [[IvfIndex.verifyFresh]] plus the codes≡cells id-population attest
    * ([[StoredIndex.verifyFresh]]): a crashed delete/append that left
    * orphaned or missing codes fails loudly here, and converges by
    * re-running the interrupted operation. */
  def verifyFresh(store: ParquetTableStore, name: String,
                  corpus: DataFrame, idCol: String): Unit =
    StoredIndex.verifyFresh(store, name, Tables, corpus, idCol)

  /** Rewrite all code segments as ONE segment (seg 0), id-sorted within
    * write tasks ([[StoredIndex.compactSegments]]); probe results
    * unchanged, appends continue after. Returns (segments before, code
    * rows). */
  def compactCodeSegments(store: ParquetTableStore, name: String): (Long, Long) =
    StoredIndex.compactSegments(store, name, Tables)

  /** Top-k via coarse probe → integer-dot SQ8 scan of the probed
    * cells' codes → bounded exact refine. Output (query_id, rank,
    * neighbor_id, score·4dp), scores exact (refined dot products). */
  def probe(store: ParquetTableStore, name: String, queries: DataFrame,
            idCol: String, vecCol: String, topK: Int, nProbe: Int = 4,
            shortlist: Int = 32): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, None, topK,
      nProbe, shortlist)

  /** FILTERED top-k over the compressed index — [[IvfIndex
    * .probeFiltered]]'s semantics (FAISS `IDSelector`: true top-k OF THE
    * ALLOWED SUBSET) with one interaction that only exists on the
    * compressed families: the allowed semi-join lands on the candidate
    * pool BEFORE the shortlist cut. Filter-then-shortlist is load-
    * bearing, not a style choice — a post-shortlist filter keeps only
    * the allowed members OF the unfiltered shortlist, and under a
    * selective predicate the shortlist fills with disallowed near
    * neighbors, collapsing recall toward zero no matter how large
    * nProbe is (IvfSqSpec pins the case where every unfiltered
    * shortlist slot is a disallowed twin). With the filter first, the
    * shortlist budget is spent entirely on allowed candidates, so the
    * usual sizing rule applies unchanged to the allowed pool; at
    * nProbe = nCells and shortlist ≥ the allowed candidate count the
    * probe is exhaustive-exact over the allowed subset (gate q167).
    * `allowed`: any frame carrying `idCol`. */
  def probeFiltered(store: ParquetTableStore, name: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    allowed: DataFrame, topK: Int, nProbe: Int = 4,
                    shortlist: Int = 32): DataFrame =
    probeRestricted(store, name, queries, idCol, vecCol, Some(allowed),
      topK, nProbe, shortlist)

  private def probeRestricted(store: ParquetTableStore, name: String,
                              queries: DataFrame, idCol: String,
                              vecCol: String, allowed: Option[DataFrame],
                              topK: Int, nProbe: Int,
                              shortlist: Int): DataFrame = {
    val codes = StoredIndex.table(store, name, "_sq_codes")
    // the allowed restriction applies to the MEMBER pool, upstream of
    // both the compressed scan and the refine — filter-then-shortlist
    val members = IvfIndex.probeMembers(store, name, queries, idCol, vecCol,
      nProbe, allowed = allowed)
    val q = ScalarQuantizer.encode(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("scale").as("_qs"),
        col("codes").as("_qc"))
    // integer dots over the probed members' codes only — candidates are
    // restricted BEFORE any scoring, so the compressed scan is
    // ~nProbe/nCells of the corpus, never all of it
    val intDot = aggregate(
      zip_with(col("_qc"), col("codes"), (a, b) => a.cast("long") * b),
      lit(0L), (acc, x) => acc + x)
    val approx = members.select(col("query_id"), col("id"))
      .join(codes, Seq("id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (intDot.cast("double") *
          (col("_qs") * col("scale") / lit(16129.0))).as("score"))
    val short = Similarity.takeTopK(approx, math.max(shortlist, topK))
      .select(col("query_id"), col("neighbor_id"))
    IvfIndex.refine(short, members, topK)
  }
}
