package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The lifecycle the five stored indexes share ([[IvfIndex]], [[IvfSq]],
  * [[IvfPq]], [[MinHashIndex]], [[Bm25Index]]), written once. The
  * reference dedups each pull against rows it already loaded and
  * MERGE-upserts changed rows (shopify_etl.py:478-516, :578-582); every
  * index here re-expresses that against its own side tables.
  *
  * An index `name` is a set of store tables `<name><suffix>`: the side
  * tables its [[Family]] declares, plus `<name>_meta` — one row of
  * (count, `id_fingerprint`) over the LAST declared side table's ids,
  * i.e. the corpus the index answers for, followed by any family columns
  * fixed at build (IVF's `n_cells`). The fingerprint is commutative:
  * count + bit_xor(xxhash64(id)) — order-independent, overflow-free (a
  * plain sum of xxhash64 values trips ANSI overflow), an id-column-only
  * scan, and the count catches the self-cancelling duplicate pair xor
  * alone would miss.
  *
  * CRASH ORDERING — the one contract every family's build, append and
  * delete keeps: side tables are written in their declared order and the
  * meta LAST, recomputed from the stored ids (never folded). Each single
  * table write is atomic (the store's staged swap or per-partition
  * backup), so a crash anywhere leaves the PREVIOUS fingerprint, which no
  * longer matches the caller's corpus: [[verifyFresh]] fails loudly
  * instead of blessing a half-written index, and re-running the
  * interrupted call converges (appends skip ids already committed,
  * deleting absent ids is a no-op). This is the exactly-once-under-failure
  * contract of Structured Streaming (Armbrust et al., SIGMOD 2018) applied
  * to index maintenance. [[verifyFresh]] stays a separate call from
  * probing — probing exists to avoid corpus scans, so the caller decides
  * when to re-attest (policy, not mechanism). */
private[operators] object StoredIndex {

  /** How compaction lays a side table's rows out. */
  sealed trait Layout
  /** As stored: BM25 postings, which probes prune by term, not id. */
  case object AsStored extends Layout
  /** Id-sorted within each write task (no shuffle). */
  case object IdSorted extends Layout
  /** Range-partitioned on (cell, id) — or id for a segment table — and
    * sorted: bounded files whose row groups carry tight id stats, which
    * the append guards' id-span predicate ([[KeyPrune]]) prunes on. */
  case object IdRanged extends Layout

  /** One side table `<name><suffix>`, partitioned on disk by `part` —
    * `seg` (the ingest segment; the build is segment 0) or `cell` (IVF
    * inverted lists). `onePerId`: holds exactly one row per indexed id,
    * so [[verifyFresh]] checks its id population against the meta's. */
  case class Side(suffix: String, part: String, layout: Layout,
                  onePerId: Boolean = false)

  /** A family: its message label, its meta count column, its side tables
    * in crash order, and the meta columns fixed at build that later meta
    * rewrites carry over. */
  case class Family(label: String, countCol: String, sides: Seq[Side],
                    carried: Seq[String] = Nil)

  /** The read-or-fail guard for every index table. */
  def table(store: ParquetTableStore, name: String, suffix: String): DataFrame =
    store.read(s"$name$suffix").getOrElse(
      sys.error(s"index '$name' has no $name$suffix table — not built?"))

  /** (count, bit_xor(xxhash64(id))) of `df` — see the object doc. */
  def fingerprint(df: DataFrame, idCol: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col(idCol)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Rewrite `<name>_meta` from the last side table's STORED ids. `built`
    * sets the family's carried columns at build; otherwise they are
    * copied from the current meta. */
  def writeMeta(store: ParquetTableStore, name: String, fam: Family,
                built: Seq[Column] = Nil): Unit = {
    val ids = table(store, name, fam.sides.last.suffix)
    val (n, h) = fingerprint(ids, "id")
    val rest = if (built.nonEmpty || fam.carried.isEmpty) built else {
      val m = table(store, name, "_meta").select(fam.carried.map(col): _*).head()
      fam.carried.indices.map(i => lit(m.get(i)).as(fam.carried(i)))
    }
    store.replace(s"${name}_meta", ids.sparkSession.range(1)
      .select(Seq(lit(n).as(fam.countCol), lit(h).as("id_fingerprint")) ++ rest: _*))
  }

  /** Fail loudly if `corpus` no longer matches the meta fingerprint, or if
    * a one-row-per-id side table holds a different id population than the
    * fingerprinted one (an interrupted delete/append left it out of sync:
    * orphaned rows would make a later re-append of the id skip, missing
    * rows silently drop the id from a compressed scan). */
  def verifyFresh(store: ParquetTableStore, name: String, fam: Family,
                  corpus: DataFrame, idCol: String): Unit = {
    val meta = table(store, name, "_meta").head()
    val (n, h) = fingerprint(corpus, idCol)
    if (meta.getLong(0) != n || meta.getLong(1) != h) sys.error(
      s"${fam.label} index '$name' is STALE: built over ${meta.getLong(0)} " +
        s"rows (fingerprint ${meta.getLong(1)}) but the corpus now has $n " +
        s"(fingerprint $h). Append the missing batches or rebuild before " +
        "probing — a stale index answers from the wrong corpus.")
    val last = fam.sides.last
    fam.sides.init.filter(_.onePerId).foreach { s =>
      val (ns, hs) = fingerprint(table(store, name, s.suffix), "id")
      val (nl, hl) = fingerprint(table(store, name, last.suffix), "id")
      if (ns != nl || hs != hl) sys.error(
        s"${fam.label} index '$name' is INCONSISTENT: $name${s.suffix} holds " +
          s"$ns ids (fingerprint $hs) but $name${last.suffix} holds $nl " +
          s"(fingerprint $hl) — an interrupted delete/append left them out " +
          "of sync. Re-run the interrupted operation (deletes and appends " +
          "both converge), or rebuild.")
    }
  }

  /** Remove `ids` (one column named `idCol`) from every side table in
    * crash order — each a partition-pruned rewrite of only the
    * partitions holding them ([[ParquetTableStore.deletePartitioned]]) —
    * then rewrite the meta. The key is materialized ONCE before the first
    * rewrite: an ids frame whose plan reads one of this index's own
    * tables would otherwise lazily re-list files an earlier delete
    * already replaced. Quantizers and codebooks are untouched: they
    * partition REGIONS, not members. Returns rows removed from the last
    * side table. */
  def delete(store: ParquetTableStore, name: String, fam: Family,
             ids: DataFrame, idCol: String): Long =
    withCheckpoints { keep =>
      val key = keep(ids.select(col(idCol).as("id")).distinct())
      val removed = fam.sides.map(s =>
        store.deletePartitioned(s"$name${s.suffix}", key, Seq("id"), s.part)).last
      writeMeta(store, name, fam)
      removed
    }

  /** Distinct `seg` values of the family's last segment table — a
    * partition-column-only scan. */
  def segments(store: ParquetTableStore, name: String, fam: Family): Long =
    table(store, name, fam.sides.filter(_.part == "seg").last.suffix)
      .select(col("seg")).distinct().count()

  /** Rewrite every segment table as ONE segment (seg 0), each in its
    * layout, through the store's staged partition swap (a crash leaves
    * the old segments intact) — the Lucene background merge: segment
    * count tracks ingest history, scan task counts should track data
    * size. Probe results are unchanged by construction (no read depends
    * on segment boundaries), and appends continue afterwards in fresh
    * segments. Returns (segments, rows) of the last segment table,
    * before. */
  def compactSegments(store: ParquetTableStore, name: String,
                      fam: Family): (Long, Long) = {
    val segSides = fam.sides.filter(_.part == "seg")
    val perSeg = table(store, name, segSides.last.suffix)
      .groupBy(col("seg")).count().collect()
    segSides.foreach(s => rewrite(store, name, s, table(store, name, s.suffix)))
    (perSeg.length.toLong, perSeg.map(_.getLong(1)).sum)
  }

  /** Rewrite one side table in its layout, keeping its partitions.
    * Returns (parquet files, rows) before. */
  def compactFiles(store: ParquetTableStore, name: String, side: Side): (Long, Long) = {
    val t = table(store, name, side.suffix)
    val before = (t.inputFiles.length.toLong, t.count())
    rewrite(store, name, side, t)
    before
  }

  private def rewrite(store: ParquetTableStore, name: String, side: Side,
                      t: DataFrame): Unit = {
    val seg = side.part == "seg"
    val rows = if (seg) t.drop("seg").withColumn("seg", lit(0L)) else t
    val keys = (if (seg) Nil else Seq(col(side.part))) :+ col("id")
    store.replacePartitioned(s"$name${side.suffix}", side.layout match {
      case AsStored => rows
      case IdSorted => rows.sortWithinPartitions(keys: _*)
      case IdRanged => rows.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    }, Seq(side.part))
  }

  /** Run `body` with a `keep` that materializes frames; every kept frame
    * is released when `body` returns OR throws, so a rejected append
    * leaves no checkpoint behind. Only for bodies that return nothing
    * lazy over a kept frame. */
  def withCheckpoints[T](body: (DataFrame => DataFrame) => T): T = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => val m = Checkpoints.materialize(df); kept += m; m }
    finally kept.foreach(Checkpoints.release)
  }

  /** Batch-internal dedup before an append classifies `rows` (id, payload)
    * against the store — the append-files path writes rows verbatim, so
    * a doubled id would index twice. Identical rows collapse; one id with
    * two DIFFERENT payloads is ambiguous intent and fails loudly. */
  def distinctPerId(keep: DataFrame => DataFrame, rows: DataFrame, fam: Family,
                    name: String, payload: String): DataFrame = {
    val d = keep(rows.distinct())
    val conflicted = d.groupBy(col("id")).count()
      .filter(col("count") > 1).select(col("id")).limit(5).collect()
    if (conflicted.nonEmpty) sys.error(
      s"${fam.label} index '$name': batch carries id(s) " +
        conflicted.map(_.get(0)).mkString(", ") +
        s" more than once with DIFFERENT $payload — one id, one row per " +
        "batch; dedup upstream or split the batch.")
    d
  }

  /** `encoded` (id, code columns) left-joined to the stored codes of the
    * batch's ids (as `_o<column>`), with the predicates "id already
    * indexed" and "its codes changed". The stored side is id-span-pruned
    * first ([[KeyPrune]] — an all-new monotone-id batch prunes the whole
    * codes table on row-group stats), so both guards cost O(batch) plus
    * the overlapped row groups. */
  private def againstStoredCodes(store: ParquetTableStore, name: String,
                                 fam: Family, encoded: DataFrame,
                                 batch: DataFrame,
                                 idCol: String): (DataFrame, Column, Column) = {
    val codeCols = encoded.columns.filter(_ != "id").toSeq
    val stored = KeyPrune.toKeySpan(table(store, name, fam.sides.head.suffix),
        "id", batch, idCol)
      .select(col("id") +: codeCols.map(c => col(c).as(s"_o$c")): _*)
    (encoded.join(stored, Seq("id"), "left"),
      col(s"_o${codeCols.head}").isNotNull,
      codeCols.map(c => col(s"_o$c") =!= col(c)).reduce(_ || _))
  }

  /** The compressed IVF append ([[IvfSq]], [[IvfPq]]): `encoded` is the
    * batch under the index's frozen quantizers. Changed-CODE guard: a
    * re-delivered id whose vector now encodes differently would be
    * skipped as already indexed and keep its STALE codes steering probe
    * shortlists — the moved-cell guard inside [[IvfIndex.append]] only
    * fires when the change crosses a cell — so it fails loudly.
    * Code-invisible changes are harmless: the stored codes ARE the new
    * vector's encoding, and the refine reads the updated stored vectors.
    * [[IvfIndex.appendThen]] then runs the cells guards; only once every
    * guard has passed do the new ids' codes land in the batch's own
    * segment (`seg` = `batchId`; replays re-use it), followed by the
    * cells and the meta, in crash order. */
  def appendCoded(store: ParquetTableStore, name: String, fam: Family,
                  encoded: DataFrame, batch: DataFrame, idCol: String,
                  vecCol: String, batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the build segment — use ids > 0")
    withCheckpoints { keep =>
      val (joined, known, differs) =
        againstStoredCodes(store, name, fam, encoded, batch, idCol)
      val annotated = keep(joined)
      val changed = annotated.filter(known && differs).limit(5).collect()
      if (changed.nonEmpty) sys.error(
        s"${fam.label} index '$name': batch re-delivers id(s) " +
          changed.map(_.get(0)).mkString(", ") +
          " with a CHANGED vector that encodes to different codes — an " +
          "id-keyed append cannot update them (stale codes would keep " +
          "steering probe shortlists). Use upsertVectors (delete + " +
          "append), delete the ids first, or rebuild.")
      IvfIndex.appendThen(store, name, batch, idCol, vecCol) {
        val fresh = annotated.filter(!known).select(encoded.columns.toSeq.map(col): _*)
        if (!fresh.isEmpty)
          store.upsertPartitioned(s"$name${fam.sides.head.suffix}",
            fresh.withColumn("seg", lit(batchId)).sortWithinPartitions(col("id")),
            Seq("id"), "seg")
      }
    }
  }

  /** The compressed in-place update: delete every indexed id whose
    * re-delivered vector encodes to DIFFERENT codes (the case
    * [[appendCoded]] rejects) or re-assigns to a different CELL (a
    * boundary-sitting vector can move cells on a sub-quantization change,
    * and the moved-cell guard would then trip), then append. Replays
    * no-op: the second delivery changes nothing. The batch is encoded and
    * cell-assigned once for change detection and again by the append —
    * narrow per-batch passes next to the stored-table joins and
    * partition merges that dominate. */
  def upsertCoded(store: ParquetTableStore, name: String, fam: Family,
                  encoded: DataFrame, batch: DataFrame, idCol: String,
                  vecCol: String, batchId: Long): Unit =
    withCheckpoints { keep =>
      val (joined, known, differs) =
        againstStoredCodes(store, name, fam, encoded, batch, idCol)
      // materialized: the plan reads the codes table, which the delete
      // rewrites before its second consumer would re-evaluate it
      val doomed = keep(joined.filter(known && differs).select(col("id"))
        .unionByName(IvfIndex.movedIds(store, name, batch, idCol, vecCol))
        .distinct())
      if (!doomed.isEmpty) delete(store, name, fam, doomed, "id")
      appendCoded(store, name, fam, encoded, batch, idCol, vecCol, batchId)
    }
}
