package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — build once, append each ingest
  * batch, probe many: the incremental half of lexical retrieval, and
  * the third index on the shared build/append/probe/staleness protocol
  * ([[MinHashIndex]] fuzzy dedup, [[IvfIndex]] ANN). [[Bm25.search]]
  * re-tokenizes and re-aggregates the WHOLE corpus per call; at 100 TB
  * the index must be paid once and then maintained from each batch
  * alone — a new crawl hour appends its own postings and never touches
  * the corpus text again.
  *
  * Layout (three tables under one index name):
  *   - `<name>_postings` (id, term, tf, dl): the inverted lists —
  *     [[Bm25.docTermStats]] rows, PARTITIONED on disk by ingest
  *     segment (`seg` = the append's batch id — the Lucene segment
  *     model re-expressed as partition directories). Segment
  *     partitioning is what makes an append O(batch): the merge
  *     touches ONLY the batch's own segment directory. Terms hash into
  *     every ingest batch, so any term-keyed layout would have every
  *     append rewriting most of the index — write amplification
  *     O(index) per batch, the exact failure mode segment files exist
  *     to avoid. Probes prune by PUSHED term filter instead: the
  *     query's terms (driver-collected — bounded by query size) become
  *     an `isin` that reaches the parquet scan, so row groups without
  *     the terms are skipped by min/max/dictionary stats rather than
  *     directory listing.
  *   - `<name>_docs` (id, dl, text_hash, seg): one row per indexed doc
  *     — the corpus constants N and avgdl come from this doc-sized
  *     table (never from a postings scan), the fingerprint comes from
  *     its id column, and `text_hash` (xxhash64 of the raw text) is
  *     the changed-content guard. SEGMENT-PARTITIONED like the
  *     postings (VERDICT r11 item 4): an append's new doc rows land as
  *     APPENDED FILES in the batch's own segment directory
  *     ([[ParquetTableStore.appendPartitioned]]) — the previous keyed
  *     merge rewrote the whole doc-sized table per batch, O(corpus
  *     docs) bytes of write amplification per append at scale.
  *   - `<name>_meta` (n_docs, id_fingerprint): staleness identity over
  *     the docs table's ids ([[StoredIndex]]).
  *
  * BM25 statistics are corpus-global (N, avgdl, df), so unlike the
  * other indexes the probe's SCORES shift as the corpus grows — that
  * is correct behavior (df/N must reflect the indexed population), and
  * it is why the stats live in doc-sized side tables that each append
  * maintains exactly: probing the appended index is bit-equal to
  * [[Bm25.search]] over the full indexed corpus (the q140 gate), not
  * an approximation of it.
  *
  * Append contract: [[append]] takes the ingest `batchId` (the segment
  * key — replays of a batch MUST re-use it, exactly as in the fold
  * protocol). A re-delivered doc with IDENTICAL text is skipped (the
  * doc-sized anti-join makes replays and cross-batch re-sends
  * idempotent); a re-delivered id whose TEXT changed would strand
  * postings rows of its removed terms — an upsert cannot delete them —
  * so that case FAILS LOUDLY (an in-place document edit is a rebuild
  * or a delete + append, not an append). Delete, compaction, staleness
  * and crash ordering are the [[StoredIndex]] protocol. Docs whose
  * text tokenizes to nothing have no postings and are not indexed —
  * the same population [[Bm25.search]] scores. Segment count
  * tracks ingest history; compact segments on the lakehouse schedule
  * like any other table (SURVEY §7.4).
  */
object Bm25Index {
  import StoredIndex.{table, Family, Side, AsStored, IdRanged}

  private[operators] val Tables = Family("BM25", "n_docs",
    Seq(Side("_postings", "seg", AsStored), Side("_docs", "seg", IdRanged)))

  /** (id, term, tf, dl) — materialized through `keep` — + (id, dl,
    * text_hash) for one batch. */
  private def statsOf(keep: DataFrame => DataFrame, docs: DataFrame,
                      idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val stats = keep(Bm25.docTermStats(docs, idCol, textCol))
    val docRows = stats.select(col("id"), col("dl")).distinct()
      .join(docs.select(col(idCol).as("id"),
        xxhash64(col(textCol)).as("text_hash")), Seq("id"))
    (stats, docRows)
  }

  /** Tokenize and aggregate the corpus once; materialize the postings
    * (segment 0) and the doc-stats side table. */
  def build(store: ParquetTableStore, name: String, docs: DataFrame,
            idCol: String, textCol: String): Unit =
    StoredIndex.withCheckpoints { keep =>
      val (stats, docRows) = statsOf(keep, docs, idCol, textCol)
      store.replacePartitioned(s"${name}_postings",
        stats.withColumn("seg", lit(0L)), Seq("seg"))
      // id-sorted within write tasks: the append guard's id-span predicate
      // ([[KeyPrune]]) prunes this table at row-group granularity
      store.replacePartitioned(s"${name}_docs",
        docRows.withColumn("seg", lit(0L)).sortWithinPartitions(col("id")),
        Seq("seg"))
      StoredIndex.writeMeta(store, name, Tables)
    }

  /** Extend the index with ingest batch `batchId` (> 0; segment 0 is
    * the build): tokenize ONLY the batch, drop docs already indexed
    * with identical text (idempotent replay/re-send), fail loudly on
    * changed text, and merge the remainder into the batch's OWN
    * segment partition — O(batch) write, no other segment touched. */
  def append(store: ParquetTableStore, name: String, batch: DataFrame,
             idCol: String, textCol: String, batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the build segment — use ids > 0")
    val stored = table(store, name, "_docs")
    StoredIndex.withCheckpoints { keep =>
      val (stats, docRows) = statsOf(keep, batch, idCol, textCol)
      // doc-sized guard, now also id-span-pruned ([[KeyPrune]]): an
      // all-new-ids batch skips the stored docs scan via row-group stats
      val prior = KeyPrune.toKeySpan(stored, "id", docRows, "id")
        .select(col("id"), col("text_hash").as("old_hash"))
        .join(broadcast(docRows.select(col("id"), col("text_hash"))), Seq("id"))
      val changed = prior.filter(col("old_hash") =!= col("text_hash"))
        .limit(5).collect()
      if (changed.nonEmpty) sys.error(
        s"BM25 index '$name': batch re-delivers doc id(s) " +
          changed.map(_.get(0)).mkString(", ") +
          " with CHANGED text — an upsert cannot delete the postings of " +
          "removed terms, so stale rows would keep scoring. Use upsertDocs " +
          "(delete + append), delete(ids) then re-append, or rebuild.")
      // already-indexed identical docs: skip (replays and re-sends no-op)
      val seen = prior.select(col("id"))
      val newStats = stats.join(broadcast(seen), Seq("id"), "left_anti")
      val newDocs = docRows.join(broadcast(seen), Seq("id"), "left_anti")
      if (!newStats.isEmpty) {
        // postings FIRST (keyed merge within the batch's own segment —
        // idempotent), doc rows SECOND as APPENDED FILES (new ids only, so
        // nothing to merge — O(batch) bytes, untouched segments untouched
        // byte-for-byte): the docs table is the classification side of
        // `prior`, so writing it last means a crash between the two leaves
        // the batch still classified as new and the re-run's postings
        // merge converges without duplicates.
        store.upsertPartitioned(s"${name}_postings",
          newStats.withColumn("seg", lit(batchId)), Seq("id", "term"), "seg")
        store.appendPartitioned(s"${name}_docs",
          newDocs.withColumn("seg", lit(batchId)).sortWithinPartitions(col("id")),
          "seg")
      }
      // unconditional: converges the meta after a crash between the docs
      // append and the meta write of a prior run of this same batch
      StoredIndex.writeMeta(store, name, Tables)
    }
  }

  /** Remove `ids` from the index: postings first (the rows whose stale
    * term contributions are the reason in-place edits are forbidden in
    * [[append]]), the doc-stats rows second, the meta last
    * ([[StoredIndex.delete]]). A doc's postings live in the segment(s)
    * that ingested it, so only those directories are rewritten —
    * O(touched segments), never O(index). BM25 stats are corpus-global,
    * so scores of the REMAINING docs legitimately shift after a delete
    * (df/N/avgdl reflect the indexed population — exactly as [[search]]
    * over the reduced corpus would score). Returns the number of docs
    * removed. `ids`: one column named `idCol`. */
  def delete(store: ParquetTableStore, name: String, ids: DataFrame,
             idCol: String): Long =
    StoredIndex.delete(store, name, Tables, ids, idCol)

  /** The in-place document edit recipe, composed: delete the batch's
    * already-indexed ids whose text CHANGED, then [[append]] the batch —
    * the reference's MERGE matched→UPDATE arm (ref
    * shopify-etl/shopify_etl.py:578-582) re-expressed for an index whose
    * postings cannot be updated row-wise (removed terms must be deleted,
    * not overwritten). Replays are no-ops end-to-end: a re-delivered
    * batch finds no changed hashes (the first run already indexed the
    * new text), so the delete is empty and the append's identical-doc
    * anti-join skips every row. Unchanged and brand-new docs never touch
    * the delete path at all. */
  def upsertDocs(store: ParquetTableStore, name: String, batch: DataFrame,
                 idCol: String, textCol: String, batchId: Long): Unit = {
    // id-span-pruned like [[append]]'s guard — change detection reads
    // only the row groups the batch's id span overlaps
    val changed = KeyPrune.toKeySpan(table(store, name, "_docs"), "id", batch, idCol)
      .select(col("id"), col("text_hash").as("old_hash"))
      .join(broadcast(batch.select(col(idCol).as("id"),
        xxhash64(col(textCol)).as("new_hash"))), Seq("id"))
      .filter(col("old_hash") =!= col("new_hash"))
      .select(col("id").as(idCol))
    if (!changed.isEmpty) delete(store, name, changed, idCol)
    append(store, name, batch, idCol, textCol, batchId)
  }

  /** Rewrite all ingest segments as ONE segment (seg 0) — the Lucene
    * background merge ([[StoredIndex.compactSegments]]); the docs table
    * is id-range-sorted so the append guard's span predicate keeps
    * pruning at row-group granularity. Search results are unchanged by
    * construction (scores never depend on segment boundaries). Returns
    * (segments before, doc rows). */
  def compactSegments(store: ParquetTableStore, name: String): (Long, Long) =
    StoredIndex.compactSegments(store, name, Tables)

  /** Fail loudly if `corpus` no longer matches the indexed population — a
    * stale index scores with wrong df/N and misses unindexed docs
    * ([[StoredIndex.verifyFresh]]). */
  def verifyFresh(store: ParquetTableStore, name: String,
                  corpus: DataFrame, idCol: String): Unit =
    StoredIndex.verifyFresh(store, name, Tables, corpus, idCol)

  /** Top-k docs per query from the STORED index — bit-equal to
    * [[Bm25.search]] over the indexed corpus. The postings read
    * carries a PUSHED `term isin (...)` filter (the query's distinct
    * terms, driver-collected — bounded by query size, never index
    * size), so parquet row groups without the terms are skipped on
    * column statistics; N/avgdl come from the doc-sized side table. */
  def search(store: ParquetTableStore, name: String, queries: DataFrame,
             topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchRestricted(store, name, queries, None, topK, k1, b)

  /** FILTERED top-k over the STORED index — [[Bm25.searchFiltered]]'s
    * semantics (Lucene filter query: candidates restricted to `allowed`
    * ids before the top-k, corpus statistics — N, avgdl, per-term df —
    * stay GLOBAL so scores never move with the filter) on the
    * segment-pruned postings read. The term `isin` pushdown and the
    * allowed semi-join compose: the scan still touches only the query
    * terms' row groups, and the filter then narrows which of those
    * docs may be returned. `allowed`: any frame carrying `idCol` (the
    * column name the index was built with). */
  def searchFiltered(store: ParquetTableStore, name: String,
                     queries: DataFrame, allowed: DataFrame, idCol: String,
                     topK: Int, k1: Double = 1.2,
                     b: Double = 0.75): DataFrame =
    searchRestricted(store, name, queries,
      Some(allowed.select(col(idCol).as("id")).distinct()), topK, k1, b)

  private def searchRestricted(store: ParquetTableStore, name: String,
                               queries: DataFrame,
                               allowed: Option[DataFrame], topK: Int,
                               k1: Double, b: Double): DataFrame = {
    val postings = table(store, name, "_postings")
    val n = table(store, name, "_docs").agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val terms = queries.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    val pruned = postings.filter(col("term").isin(terms: _*))
    Bm25.scoreStats(pruned, n, queries, topK, k1, b, allowed)
  }
}
