package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintenance decision rule (VERDICT r10 item 4): segment growth
  * triggers compaction exactly once, planted drift returns
  * retrain=true, a stationary index no-ops, and probe results are
  * bit-identical through maintenance. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def ring(ids: Range, denom: Int, dim: Int = 8) = ids.map { i =>
    val th = 2 * math.Pi * (i % denom) / denom
    (i.toLong, (Array(math.cos(th).toFloat, math.sin(th).toFloat) ++
      Array.fill(dim - 2)(0.0f)).toSeq)
  }.toDF("id", "v")

  private def probeRows(store: ParquetTableStore): Seq[Row3] = {
    val qs = ring(500 until 504, 64)
      .select((col("id") + 1000L).as("id"), col("v"))
    IvfSq.probe(store, "ix", qs, "id", "v", topK = 3, nProbe = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
      .map { case (q, r, n) => Row3(q, r, n) }
  }
  case class Row3(q: Long, r: Long, n: Long)

  test("IVF-SQ: segment growth compacts exactly once, stationary no-ops, drift recommends retrain, probes bit-identical") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_sq").toString
    val store = new ParquetTableStore(spark, wh)
    IvfSq.build(store, "ix", ring(0 until 64, 64), "id", "v",
      nCells = 8, iterations = 3)
    (1 to 5).foreach { b =>
      IvfSq.append(store, "ix", ring(64 + 16 * (b - 1) until 64 + 16 * b, 64),
        "id", "v", batchId = b.toLong)
    }
    val before = probeRows(store)

    // 6 segments (build + 5 appends) > maxSegments=4 → compact NOW
    val first = IndexMaintenance.maintain(store, "ix", "ivf-sq", maxSegments = 4)
    assert(first.segments.contains(IndexMaintenance.Segments(6L, true, 1L)),
      first.toString)
    assert(!first.health.get.retrainRecommended,
      s"stationary ring appends must not recommend retrain: ${first.health}")
    assert(probeRows(store) == before,
      "probe results must be bit-identical through compaction")

    // exactly once: the next pass finds 1 segment and no-ops
    val second = IndexMaintenance.maintain(store, "ix", "ivf-sq", maxSegments = 4)
    assert(second.segments.contains(IndexMaintenance.Segments(1L, false, 1L)),
      second.toString)
    assert(probeRows(store) == before)

    // planted shift: a pile-up at one angle must flip the recommendation
    val shifted = (200 until 392).map { i =>
      (i.toLong, (Array(1.0f, 0.0f) ++ Array.fill(6)(0.0f)).toSeq)
    }.toDF("id", "v")
    IvfSq.append(store, "ix", shifted, "id", "v", batchId = 9L)
    val drifted = IndexMaintenance.maintain(store, "ix", "ivf-sq", maxSegments = 4)
    assert(drifted.health.exists(h => h.retrainRecommended && h.psi > 0.25),
      drifted.toString)
    assert(!drifted.segments.get.compacted,
      "2 segments must not re-trigger compaction")
  }

  test("BM25: segment threshold compacts once, search results bit-identical") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_bm").toString
    val store = new ParquetTableStore(spark, wh)
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha beta doc$i " + ("gamma " * (i % 5)))).toDF("doc_id", "text")
    Bm25Index.build(store, "bx", docs.filter(col("doc_id") < 10), "doc_id", "text")
    (1 to 2).foreach { b =>
      Bm25Index.append(store, "bx",
        docs.filter(col("doc_id") >= 10 * b && col("doc_id") < 10 * (b + 1)),
        "doc_id", "text", batchId = b.toLong)
    }
    val qs = Seq((1L, "alpha"), (1L, "gamma"), (2L, "beta")).toDF("query_id", "term")
    def res(): Seq[(Long, Long, Double)] =
      Bm25Index.search(store, "bx", qs, topK = 5)
        .select(col("query_id"), col("doc_id"), col("score"))
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val before = res()
    val first = IndexMaintenance.maintain(store, "bx", "bm25", maxSegments = 2)
    assert(first.segments.contains(IndexMaintenance.Segments(3L, true, 1L)),
      first.toString)
    assert(res() == before, "search must be bit-identical through compaction")
    val second = IndexMaintenance.maintain(store, "bx", "bm25", maxSegments = 2)
    assert(second.segments.exists(s => !s.compacted && s.before == 1L),
      second.toString)
    assert(res() == before)
  }

  test("MinHash: healthy buckets stay quiet; a tiny cap flips the reshingle recommendation") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_mh").toString
    val store = new ParquetTableStore(spark, wh)
    val docs = (0 until 20).map(i =>
      (i.toLong, s"unique document number $i with its own words w$i x$i y$i"))
      .toDF("doc_id", "text")
    MinHashIndex.build(store, "mx", docs, "doc_id", "text")
    val ok = IndexMaintenance.maintain(store, "mx", "minhash",
      maxBucket = 1000, maxOverCapShare = 0.05)
    assert(ok.occupancy.exists(o =>
      !o.reshingleRecommended && o.overCapRowShare <= 0.05), ok.toString)
    // cap=0 puts EVERY bucket membership over cap — the recommendation
    // must flip (the planted boilerplate-flood reading)
    val hot = IndexMaintenance.maintainMinHash(store, "mx",
      maxBucket = 0, maxOverCapShare = 0.05)
    assert(hot.occupancy.contains(IndexMaintenance.Occupancy(1.0, true)),
      hot.toString)
  }

  test("table family: stale zones manifest healed by the pass, fresh one untouched") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_zm").toString
    val store = new ParquetTableStore(spark, wh)
    val df = (1 to 400).map(i => (i.toLong, i % 5)).toDF("k", "g")
    store.replace("zt", df.repartitionByRange(4, col("k")))
    // first pass: missing manifest → built from colsIfMissing
    val first = IndexMaintenance.maintain(store, "zt", "table",
      zoneColsIfMissing = Seq("k"))
    assert(first.zonesRebuilt, first.toString)
    // fresh: the pass must not touch it (same file set → no rebuild)
    val fresh = IndexMaintenance.maintain(store, "zt", "table",
      zoneColsIfMissing = Seq("k"))
    assert(!fresh.zonesRebuilt, fresh.toString)
    // a rewrite (compaction-shaped) makes the manifest stale; the next
    // scheduled tick heals it and pruned reads work again
    store.replace("zt", store.read("zt").get.repartition(2))
    intercept[RuntimeException] {
      store.readWhere("zt", ZonePred.between("k", 1L, 10L))
    }
    val healed = IndexMaintenance.maintain(store, "zt", "table",
      zoneColsIfMissing = Seq("k"))
    assert(healed.zonesRebuilt, healed.toString)
    assert(store.readWhere("zt", ZonePred.between("k", 1L, 10L)).count() == 10L)
  }

  test("depth trigger below a z-order layout's floor warns ONCE instead of silently rewriting every tick") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_zf").toString
    val store = new ParquetTableStore(spark, wh)
    // two independent dimensions, interleaved base (16 round-robin files)
    val df = (1 to 8000).map(i => (i.toLong, (i * 7919L) % 8000L))
      .toDF("a", "b")
    store.replace("zf", df.repartition(16))
    ZoneMaps.build(store, "zf", Seq("a", "b"))
    // a 2-D z-order over 16 files bottoms out near sqrt(16)=4 per
    // dimension; threshold 1.5 sits BELOW that floor — the misconfig
    def tick() = IndexMaintenance.maintainTable(store, "zf", Seq.empty,
      clusterCols = Seq("a", "b"), zOrder = true, maxClusterDepth = 1.5)
    val rep = tick()
    assert(rep.data.exists(_.compacted) && rep.clusterDepth.exists(_ > 10),
      s"interleaved base must trigger: $rep")
    val after = rep.clusterDepthAfter.getOrElse(fail(s"no after-depth: $rep"))
    assert(after > 1.5 && after < rep.clusterDepth.get,
      s"z-order improves depth but cannot reach a sub-floor threshold: $rep")
    import scala.jdk.CollectionConverters._
    assert(IndexMaintenance.warnedDepthFloors.asScala
        .exists(_.endsWith(store.path("zf"))),
      "the non-convergence must be named (once per table path) — the " +
        "next tick WILL rewrite again and the owner has to hear why")
    // the next tick indeed re-fires (stateless pass) — the warning is
    // the guard, and the report's two depths give a scheduler the data
    val rep2 = tick()
    assert(rep2.data.exists(_.compacted), rep2.toString)
    // a threshold ABOVE the layout's floor converges: rewrite once,
    // then sleep
    store.replace("zf2", df.repartition(16))
    ZoneMaps.build(store, "zf2", Seq("a", "b"))
    def tickOk() = IndexMaintenance.maintainTable(store, "zf2", Seq.empty,
      clusterCols = Seq("a", "b"), zOrder = true, maxClusterDepth = 12.0)
    val r1 = tickOk()
    assert(r1.data.exists(_.compacted), r1.toString)
    assert(r1.clusterDepthAfter.exists(_ <= 12.0),
      s"above-floor threshold must be reachable: $r1")
    val r2 = tickOk()
    assert(r2.data.exists(!_.compacted),
      s"converged layout must sleep: $r2")
    assert(!IndexMaintenance.warnedDepthFloors.asScala
      .exists(_.endsWith(store.path("zf2"))))
  }

  test("unknown family fails loudly") {
    val wh = java.nio.file.Files.createTempDirectory("graft_maint_uf").toString
    val store = new ParquetTableStore(spark, wh)
    val e = intercept[RuntimeException] {
      IndexMaintenance.maintain(store, "zz", "hnsw")
    }
    assert(e.getMessage.contains("unknown index family"), e.getMessage)
  }
}
