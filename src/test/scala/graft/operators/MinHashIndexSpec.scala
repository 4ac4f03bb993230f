package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashIndexSpec extends SparkSpec {
  import spark.implicits._

  // Small corpus with controlled overlap: docs 0/1 near-identical,
  // doc 2 unrelated; batch doc 100 duplicates doc 0, 101 is novel.
  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (2L, "entirely different subject matter concerning maritime navigation rules"),
    (3L, "a third document about cooking pasta with garlic and fresh basil leaves"))
  private val batch = Seq(
    (100L, "the quick brown fox jumps over the lazy dog again and again today"),
    (101L, "novel content that matches nothing currently stored in the corpus"))

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("probe from the stored index equals minhashNearDup restricted to cross pairs") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_eq").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    val got = MinHashIndex.probe(store, "ix", df(batch), "doc_id", "text",
        0.5, maxBucket = 0)
      .select("corpus_id", "batch_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // batch twin of doc 0 must surface with est 1.0 (identical signature)
    assert(got.exists { case (a, b, e) => a == 0L && b == 100L && e == 1.0 },
      s"twin pair (0,100) missing or inexact: $got")
    // reference: the all-in-one batch path over the union, cross pairs only
    val all = Similarity.minhashNearDup(
        df(base ++ batch), "doc_id", "text", 0.5, maxBucket = 0)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a < 100L && b >= 100L }
      .toSet
    assert(got == all, s"stored-index probe diverges from batch path:\n$got\nvs\n$all")
  }

  test("append then probe equals rebuild-from-scratch probe (incremental ≡ batch)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_app").toString
    val store = new ParquetTableStore(spark, wh)
    val first = df(base).filter($"doc_id" < 2)
    val second = df(base).filter($"doc_id" >= 2)
    MinHashIndex.build(store, "ix", first, "doc_id", "text")
    MinHashIndex.append(store, "ix", second, "doc_id", "text")
    MinHashIndex.verifyFresh(store, "ix", df(base), "doc_id")
    val incremental = MinHashIndex.probe(store, "ix", df(batch), "doc_id", "text",
        0.3, maxBucket = 0)
      .as[(Long, Long, Double)].collect().toSet
    val wh2 = java.nio.file.Files.createTempDirectory("graft_mh_app2").toString
    val store2 = new ParquetTableStore(spark, wh2)
    MinHashIndex.build(store2, "ix", df(base), "doc_id", "text")
    val oneShot = MinHashIndex.probe(store2, "ix", df(batch), "doc_id", "text",
        0.3, maxBucket = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(incremental == oneShot,
      s"append path diverges from rebuild:\n$incremental\nvs\n$oneShot")
  }

  test("append is replay-idempotent: re-appending a batch leaves tables and meta unchanged") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_replay").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    MinHashIndex.append(store, "ix", df(batch), "doc_id", "text")
    def snapshot() = (
      store.read("ix_sigs").get.select($"id", to_json($"sig").as("s"))
        .as[(Long, String)].collect().toSet,
      store.read("ix_buckets").get.select($"id", $"band", $"bh")
        .as[(Long, Int, Long)].collect().toSet,
      store.read("ix_meta").get.as[(Long, Long)].collect().toSet)
    // the append-files contract is stronger than row equality: a replay
    // must add NO files to either side table (identical re-sends are
    // skipped before any write)
    def files() = (store.read("ix_sigs").get.inputFiles.toSet,
      store.read("ix_buckets").get.inputFiles.toSet)
    val before = snapshot()
    val filesBefore = files()
    MinHashIndex.append(store, "ix", df(batch), "doc_id", "text") // replay
    assert(snapshot() == before, "replayed append changed the index")
    assert(files() == filesBefore, "replayed append wrote files")
    MinHashIndex.verifyFresh(store, "ix", df(base ++ batch), "doc_id")
  }

  test("append leaves pre-existing sig/bucket files byte-identical; new ids land in the batch's segment") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_seg").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    def files(table: String) = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk)
        else if (d.getName.endsWith(".parquet")) Seq(d) else Nil
      walk(new java.io.File(store.path(table)))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val sigsBefore = files("ix_sigs")
    val bktBefore = files("ix_buckets")
    MinHashIndex.append(store, "ix", df(batch), "doc_id", "text", batchId = 7L)
    val sigsAfter = files("ix_sigs")
    val bktAfter = files("ix_buckets")
    // the r11 keyed merge rewrote both doc-sized tables per batch; the
    // append-files path must leave every pre-existing file untouched
    // (path, size, mtime unchanged) and add files only under seg=7
    (sigsBefore ++ bktBefore).foreach { case (p, meta) =>
      assert((sigsAfter ++ bktAfter).get(p).contains(meta),
        s"append touched pre-existing file $p")
    }
    val added = (sigsAfter.keySet -- sigsBefore.keySet) ++
      (bktAfter.keySet -- bktBefore.keySet)
    assert(added.nonEmpty && added.forall(_.contains("seg=7")),
      s"new rows must land only in seg=7: $added")
    // a changed-text re-delivery takes the keyed merge into the id's
    // ORIGINAL segment — the build segment is rewritten, the append
    // segment untouched
    val edited = df(Seq((0L, "completely rewritten text for the original document zero")))
    MinHashIndex.append(store, "ix", edited, "doc_id", "text", batchId = 8L)
    val sigsEdit = files("ix_sigs")
    sigsAfter.filter(_._1.contains("seg=7")).foreach { case (p, meta) =>
      assert(sigsEdit.get(p).contains(meta),
        s"in-place edit of a seg=0 id touched append segment file $p")
    }
    assert(!new java.io.File(store.path("ix_sigs"), "seg=8").exists(),
      "a changed-text re-delivery must merge in place, not open a new segment")
    MinHashIndex.verifyFresh(store, "ix", df(base ++ batch), "doc_id")
    // edited doc still probes correctly against its new text
    val hits = MinHashIndex.probe(store, "ix",
        df(Seq((900L, "completely rewritten text for the original document zero"))),
        "doc_id", "text", 0.8, maxBucket = 0)
      .select("corpus_id").as[Long].collect().toSet
    assert(hits == Set(0L), s"edited doc not found by its new text: $hits")
  }

  test("changed-sig crash between buckets and sigs heals on replay (buckets-first ordering)") {
    // ADVICE r12 (high): the changed path must write buckets BEFORE sigs.
    // Simulate the crash window of the CORRECT order — buckets merged,
    // sigs still stale — then replay the append: the old sig row makes
    // the id re-classify as changed, and the keyed merges converge both
    // tables. (The reverse order's crash window — new sig, stale
    // buckets — replays as "unchanged" and never heals.)
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_crash").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    val newText = "completely rewritten text for the original document zero"
    val edited = df(Seq((0L, newText)))
    // the partial state the fixed ordering leaves behind: new BUCKET rows
    // for id 0 merged into its original segment, sig row still the old one
    val newSigs = Similarity.minhashSignatures(edited, "doc_id", "text", 3)
      .select($"doc_id".as("id"), $"sig")
    val newBuckets = newSigs
      .select($"id", explode(Similarity.bandHashes($"sig")).as("bs"))
      .select($"id", $"bs.band".as("band"), $"bs.bh".as("bh"), lit(0L).as("seg"))
    store.upsertPartitioned("ix_buckets", newBuckets, Seq("id", "band"), "seg")
    val staleSig = store.read("ix_sigs").get.filter($"id" === 0L)
      .select(to_json($"sig")).as[String].head()
    // replay the whole append (what a checkpoint restart does)
    MinHashIndex.append(store, "ix", edited, "doc_id", "text", batchId = 9L)
    val healedSig = store.read("ix_sigs").get.filter($"id" === 0L)
      .select(to_json($"sig")).as[String].head()
    assert(healedSig != staleSig, "replay left the stale signature in place")
    // bucket rows now exactly the new signature's bands — no stale strays
    val gotBuckets = store.read("ix_buckets").get.filter($"id" === 0L)
      .select($"band", $"bh").as[(Int, Long)].collect().toSet
    val wantBuckets = newBuckets.select($"band", $"bh")
      .as[(Int, Long)].collect().toSet
    assert(gotBuckets == wantBuckets, s"buckets did not converge: $gotBuckets")
    MinHashIndex.verifyFresh(store, "ix", df(base.tail :+ (0L, newText)), "doc_id")
    val hits = MinHashIndex.probe(store, "ix", df(Seq((900L, newText))),
        "doc_id", "text", 0.8, maxBucket = 0)
      .select("corpus_id").as[Long].collect().toSet
    assert(hits == Set(0L), s"edited doc lost from candidate generation: $hits")
  }

  test("verifyFresh fails loudly on a changed corpus, passes on reordered rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_fresh").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    MinHashIndex.verifyFresh(store, "ix", df(base).orderBy($"doc_id".desc), "doc_id")
    val e = intercept[RuntimeException] {
      MinHashIndex.verifyFresh(store, "ix", df(base ++ batch), "doc_id")
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // same count, different ids — fingerprint, not count, must catch it
    val swapped = base.tail :+ (99L, base.head._2)
    val e2 = intercept[RuntimeException] {
      MinHashIndex.verifyFresh(store, "ix", df(swapped), "doc_id")
    }
    assert(e2.getMessage.contains("STALE"))
  }

  test("dedupBatch drops exactly the batch docs with an indexed near-dup") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_dedup").toString
    val store = new ParquetTableStore(spark, wh)
    MinHashIndex.build(store, "ix", df(base), "doc_id", "text")
    val kept = MinHashIndex.dedupBatch(store, "ix", df(batch), "doc_id", "text",
        0.5, maxBucket = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L), s"expected only the novel doc to survive: $kept")
  }

  test("the combined occupancy cap prunes a bucket hot from the corpus side alone") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh_cap").toString
    val store = new ParquetTableStore(spark, wh)
    // 30 identical corpus docs: every band bucket has occupancy 30
    val boiler = (0L until 30L).map(i => (i, "boilerplate legal footer text repeated verbatim across pages"))
    MinHashIndex.build(store, "ix", df(boiler), "doc_id", "text")
    val probeBatch = df(Seq((500L, "boilerplate legal footer text repeated verbatim across pages")))
    val capped = MinHashIndex.probe(store, "ix", probeBatch, "doc_id", "text",
      0.5, maxBucket = 10)
    assert(capped.count() == 0, "cap 10 should prune the 31-member buckets")
    val uncapped = MinHashIndex.probe(store, "ix", probeBatch, "doc_id", "text",
      0.5, maxBucket = 0)
    assert(uncapped.count() == 30, "cap disabled: all 30 twins surface")
  }
}
