package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Interleaved-lifecycle invariant for the stored indexes: under ANY
  * seeded sequence of append / edit (upsert) / delete / compact, the
  * index must stay equivalent to a ONE-SHOT build over the net corpus —
  * the model-based property that pins the whole lifecycle, not each op
  * in isolation. The model is a plain Scala map of the expected corpus
  * maintained alongside the ops; equivalence is checked through the
  * freshness attest plus bit-equal search / rank-1 twin retrieval. */
class IndexLifecyclePropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("apple", "banana", "cherry", "durian", "fig",
    "grape", "kiwi", "lemon", "mango", "olive")

  private def textOf(rnd: scala.util.Random): String =
    Seq.fill(3 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("bm25: any interleaving of append/upsert/delete/compact equals one-shot over the net corpus") {
    for (seed <- Seq(11, 47)) {
      val rnd = new scala.util.Random(seed)
      val wh = java.nio.file.Files.createTempDirectory(s"graft_prop$seed").toString
      val store = new ParquetTableStore(spark, wh)
      var model = (1L to 6L).map(i => i -> textOf(rnd)).toMap
      var nextId = 7L
      Bm25Index.build(store, "bx", model.toSeq.toDF("doc_id", "text"),
        "doc_id", "text")
      for (batch <- 1 to 6) {
        rnd.nextInt(4) match {
          case 0 => // append new docs
            val fresh = (0 until 1 + rnd.nextInt(2)).map { _ =>
              val id = nextId; nextId += 1; id -> textOf(rnd)
            }.toMap
            model ++= fresh
            Bm25Index.append(store, "bx", fresh.toSeq.toDF("doc_id", "text"),
              "doc_id", "text", batch.toLong)
          case 1 => // edit an existing doc (+ maybe one new) via upsertDocs
            val victim = model.keys.toSeq(rnd.nextInt(model.size))
            val edited = Map(victim -> textOf(rnd))
            model ++= edited
            Bm25Index.upsertDocs(store, "bx", edited.toSeq.toDF("doc_id", "text"),
              "doc_id", "text", batch.toLong)
          case 2 if model.size > 2 => // delete a doc
            val victim = model.keys.toSeq(rnd.nextInt(model.size))
            model -= victim
            Bm25Index.delete(store, "bx", Seq(victim).toDF("doc_id"), "doc_id")
          case _ =>
            Bm25Index.compactSegments(store, "bx")
        }
      }
      val corpus = model.toSeq.toDF("doc_id", "text")
      Bm25Index.verifyFresh(store, "bx", corpus, "doc_id")
      val queries = vocab.take(4).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "term")
      val fromIndex = Bm25Index.search(store, "bx", queries, 10)
        .orderBy("query_id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
      val oneShot = Bm25.search(corpus, "doc_id", "text", queries, 10)
        .orderBy("query_id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
      assert(fromIndex == oneShot,
        s"seed $seed: lifecycle index diverges from one-shot\n$fromIndex\nvs\n$oneShot")
    }
  }

  test("ivf-sq: any interleaving of append/upsertVectors/delete/compact keeps attest + twin retrieval") {
    def vec(rnd: scala.util.Random): Seq[Float] = {
      val th = rnd.nextDouble() * 2 * math.Pi
      Seq(math.cos(th).toFloat, math.sin(th).toFloat, 0f, 0f, 0f, 0f, 0f, 0f)
    }
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val wh = java.nio.file.Files.createTempDirectory(s"graft_vprop$seed").toString
      val store = new ParquetTableStore(spark, wh)
      var model = (1L to 12L).map(i => i -> vec(rnd)).toMap
      var nextId = 13L
      IvfSq.build(store, "ix", model.toSeq.toDF("id", "v"), "id", "v",
        nCells = 4, iterations = 2)
      for (batch <- 1 to 5) {
        rnd.nextInt(4) match {
          case 0 =>
            val fresh = (0 until 2).map { _ =>
              val id = nextId; nextId += 1; id -> vec(rnd)
            }.toMap
            model ++= fresh
            IvfSq.append(store, "ix", fresh.toSeq.toDF("id", "v"), "id", "v",
              batch.toLong)
          case 1 =>
            val victim = model.keys.toSeq(rnd.nextInt(model.size))
            val edited = Map(victim -> vec(rnd))
            model ++= edited
            IvfSq.upsertVectors(store, "ix", edited.toSeq.toDF("id", "v"),
              "id", "v", batch.toLong)
          case 2 if model.size > 4 =>
            val victim = model.keys.toSeq(rnd.nextInt(model.size))
            model -= victim
            IvfSq.delete(store, "ix", Seq(victim).toDF("id"), "id")
          case _ =>
            IvfSq.compactCodeSegments(store, "ix")
        }
      }
      val corpus = model.toSeq.toDF("id", "v")
      IvfSq.verifyFresh(store, "ix", corpus, "id") // freshness + parity
      // every survivor's planted twin retrieves ITSELF at rank 1 under an
      // exhaustive probe (nProbe = nCells) — the index holds exactly the
      // model corpus, nothing stale answering, nothing lost
      val planted = corpus.select(($"id" + 100000L).as("id"), $"v")
      val got = IvfSq.probe(store, "ix", planted, "id", "v", topK = 1,
          nProbe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      model.keys.foreach { id =>
        assert(got(id + 100000L) == id,
          s"seed $seed: twin of $id lost after lifecycle: ${got.get(id + 100000L)}")
      }
    }
  }

  // The three families below run ONE seed each over five ops: a shuffle of
  // all four op kinds plus one seeded extra, so every kind runs at least
  // once and tier-1 stays inside its budget.
  private def opsOf(rnd: scala.util.Random): Seq[Int] =
    rnd.shuffle(Seq(0, 1, 2, 3)) :+ rnd.nextInt(4)

  test("minhash: any interleaving of append/edit/delete/compact keeps attest + twin candidates") {
    val rnd = new scala.util.Random(31)
    val wh = java.nio.file.Files.createTempDirectory("graft_mprop").toString
    val store = new ParquetTableStore(spark, wh)
    var model = (1L to 6L).map(i => i -> textOf(rnd)).toMap
    var deleted = Map.empty[Long, String]
    var nextId = 7L
    MinHashIndex.build(store, "mx", model.toSeq.toDF("doc_id", "text"),
      "doc_id", "text")
    for ((op, batch) <- opsOf(rnd).zipWithIndex.map { case (o, i) => (o, i + 1) }) {
      op match {
        case 0 =>
          val fresh = (0 until 2).map { _ =>
            val id = nextId; nextId += 1; id -> textOf(rnd)
          }.toMap
          model ++= fresh
          MinHashIndex.append(store, "mx", fresh.toSeq.toDF("doc_id", "text"),
            "doc_id", "text", batchId = batch.toLong)
        case 1 => // a changed-text re-delivery replaces the id's rows in place
          val victim = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val edited = Map(victim -> textOf(rnd))
          model ++= edited
          MinHashIndex.append(store, "mx", edited.toSeq.toDF("doc_id", "text"),
            "doc_id", "text", batchId = batch.toLong)
        case 2 =>
          val victim = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          deleted += victim -> model(victim)
          model -= victim
          MinHashIndex.delete(store, "mx", Seq(victim).toDF("doc_id"), "doc_id")
        case _ =>
          MinHashIndex.compactSegments(store, "mx")
      }
    }
    MinHashIndex.verifyFresh(store, "mx", model.toSeq.toDF("doc_id", "text"), "doc_id")
    // planted twins (identical text) of survivors AND of deleted docs
    val twins = (model ++ deleted).toSeq.map { case (id, t) => (id + 100000L, t) }
      .toDF("doc_id", "text")
    val got = MinHashIndex.probe(store, "mx", twins, "doc_id", "text", 1.0,
        maxBucket = 0)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    model.keys.foreach { id =>
      assert(got.contains((id, id + 100000L)),
        s"twin of $id is not a candidate after the lifecycle: $got")
    }
    val stale = got.map(_._1).intersect(deleted.keySet)
    assert(stale.isEmpty, s"deleted ids still retrieved: $stale")
  }

  // 8-dim unit vectors: a random angle, both halves rotating together, so
  // every PQ subspace carries signal
  private def ringVec(rnd: scala.util.Random): Seq[Float] = {
    val th = rnd.nextDouble() * 2 * math.Pi
    val c = (math.cos(th) / math.sqrt(2)).toFloat
    val s = (math.sin(th) / math.sqrt(2)).toFloat
    Seq(c, s, 0f, 0f, c, s, 0f, 0f)
  }

  /** One seeded vector lifecycle against a model map, then the attest and
    * the exhaustive-probe twin check: every survivor's twin ranks itself
    * first and no deleted id answers any twin. */
  private type Vecs = Map[Long, Seq[Float]]
  private def vectorLifecycle(seed: Int,
                              build: (ParquetTableStore, Vecs) => Unit,
                              append: (ParquetTableStore, Vecs, Long) => Unit,
                              upsert: (ParquetTableStore, Vecs, Long) => Unit,
                              delete: (ParquetTableStore, Long) => Unit,
                              compact: ParquetTableStore => Unit,
                              verify: (ParquetTableStore, Vecs) => Unit,
                              probe: (ParquetTableStore, Vecs) => Seq[(Long, Long, Long)]): Unit = {
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files.createTempDirectory(s"graft_vprop$seed").toString
    val store = new ParquetTableStore(spark, wh)
    var model = (1L to 12L).map(i => i -> ringVec(rnd)).toMap
    var deleted: Vecs = Map.empty
    var nextId = 13L
    build(store, model)
    for ((op, batch) <- opsOf(rnd).zipWithIndex.map { case (o, i) => (o, i + 1L) }) {
      op match {
        case 0 =>
          val fresh = (0 until 2).map { _ =>
            val id = nextId; nextId += 1; id -> ringVec(rnd)
          }.toMap
          model ++= fresh
          append(store, fresh, batch)
        case 1 =>
          val victim = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val edited = Map(victim -> ringVec(rnd))
          model ++= edited
          upsert(store, edited, batch)
        case 2 =>
          val victim = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          deleted += victim -> model(victim)
          model -= victim
          delete(store, victim)
        case _ =>
          compact(store)
      }
    }
    verify(store, model)
    val twins = (model ++ deleted).map { case (id, v) => (id + 100000L, v) }
    val got = probe(store, twins) // (query_id, rank, neighbor_id)
    model.keys.foreach { id =>
      assert(got.contains((id + 100000L, 1L, id)),
        s"seed $seed: twin of $id is not rank 1 after the lifecycle: " +
          got.filter(_._1 == id + 100000L))
    }
    val stale = got.map(_._3).toSet.intersect(deleted.keySet)
    assert(stale.isEmpty, s"seed $seed: deleted ids still retrieved: $stale")
  }

  private def vecs(m: Vecs) = m.toSeq.toDF("id", "v")

  test("ivf: any interleaving of append/upsertVectors/delete/compact keeps attest + twin retrieval") {
    vectorLifecycle(7,
      (st, m) => IvfIndex.build(st, "ix", vecs(m), "id", "v", nCells = 4, iterations = 2),
      (st, m, _) => IvfIndex.append(st, "ix", vecs(m), "id", "v"),
      (st, m, _) => IvfIndex.upsertVectors(st, "ix", vecs(m), "id", "v"),
      (st, id) => IvfIndex.delete(st, "ix", Seq(id).toDF("id"), "id"),
      st => IvfIndex.compactCells(st, "ix"),
      (st, m) => IvfIndex.verifyFresh(st, "ix", vecs(m), "id"),
      (st, q) => IvfIndex.probe(st, "ix", vecs(q), "id", "v", topK = 3, nProbe = 4)
        .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSeq)
  }

  test("ivf-pq: any interleaving of append/upsertVectors/delete/compact keeps attest + twin retrieval") {
    vectorLifecycle(19,
      (st, m) => IvfPq.build(st, "ix", vecs(m), "id", "v", dim = 8, nCells = 4,
        m = 2, ksub = 8, iterations = 2),
      (st, m, b) => IvfPq.append(st, "ix", vecs(m), "id", "v", dim = 8, batchId = b, m = 2),
      (st, m, b) => IvfPq.upsertVectors(st, "ix", vecs(m), "id", "v", dim = 8,
        batchId = b, m = 2),
      (st, id) => IvfPq.delete(st, "ix", Seq(id).toDF("id"), "id"),
      st => IvfPq.compactCodeSegments(st, "ix"),
      (st, m) => IvfPq.verifyFresh(st, "ix", vecs(m), "id"),
      (st, q) => IvfPq.probe(st, "ix", vecs(q), "id", "v", dim = 8, topK = 3,
          m = 2, ksub = 8, nProbe = 4)
        .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSeq)
  }
}
