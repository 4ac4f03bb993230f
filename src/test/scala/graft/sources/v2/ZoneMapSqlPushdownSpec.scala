package graft.sources.v2

import graft.SparkSpec
import graft.operators.{ParquetTableStore, ZoneMaps, ZonePred}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Zone-map admission on the v2/SQL read path (VERDICT r13 item 3): a
  * `SELECT ... WHERE` over [[ParquetTableStore.sqlTable]] must open only
  * the files the `<table>_zones` manifest admits — the pruning the routed
  * store reads already have, now on the path ad-hoc SQL actually takes —
  * while staying TRANSPARENT: a missing/stale/non-covering manifest falls
  * back to the full listing and the answer never changes (all filters are
  * residuals; admission only skips files). */
class ZoneMapSqlPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): ParquetTableStore = new ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_zsql").toString)

  private def zonedTable(store: ParquetTableStore, name: String): Unit = {
    val df = (1 to 2000).map(i => (i.toLong, (i * 7919L) % 500L, i * 2.0))
      .toDF("k", "p", "v")
    store.replace(name, df.repartitionByRange(8, col("k"))
      .sortWithinPartitions(col("k")))
    ZoneMaps.build(store, name, Seq("k"), bloomCols = Seq("p"),
      expectedPerFile = 1000L)
  }

  test("SQL range WHERE over sqlTable opens only admitted files, result exact") {
    val store = freshStore()
    zonedTable(store, "t")
    val fq = store.sqlTable("t")
    val total = store.read("t").get.inputFiles.length
    val df = spark.sql(s"SELECT k, p, v FROM $fq WHERE k >= 100 AND k <= 300")
    val planned = GraftParquetTable.plannedDataFiles(df)
    assert(planned.exists(n => n > 0 && n < total),
      s"SQL range scan must skip files ($planned of $total)")
    val plain = store.read("t").get
      .filter(col("k") >= 100L && col("k") <= 300L)
      .select("k", "p", "v").as[(Long, Long, Double)].collect().toSet
    assert(df.as[(Long, Long, Double)].collect().toSet == plain)
  }

  test("SQL equality WHERE prunes via the per-file bloom; OR of covered predicates prunes too") {
    val store = freshStore()
    zonedTable(store, "t")
    val fq = store.sqlTable("t")
    val total = store.read("t").get.inputFiles.length
    // p is scattered (not the clustering key): only the bloom can skip
    val point = spark.sql(s"SELECT k FROM $fq WHERE p = 123")
    val plannedPoint = GraftParquetTable.plannedDataFiles(point)
    assert(plannedPoint.exists(_ < total),
      s"bloom point admission must skip files ($plannedPoint of $total)")
    assert(point.as[Long].collect().toSet ==
      store.read("t").get.filter(col("p") === 123L)
        .select("k").as[Long].collect().toSet)
    // disjunction of two covered ranges: union admission, still < total
    val or = spark.sql(
      s"SELECT k FROM $fq WHERE (k BETWEEN 50 AND 120) OR (k BETWEEN 1500 AND 1550)")
    val plannedOr = GraftParquetTable.plannedDataFiles(or)
    assert(plannedOr.exists(n => n > 0 && n < total),
      s"covered OR must prune to the union of admissions ($plannedOr of $total)")
    assert(or.as[Long].collect().toSet ==
      ((50L to 120L) ++ (1500L to 1550L)).toSet)
  }

  test("stale manifest: SQL falls back transparently to the full listing (never loud, never wrong)") {
    val store = freshStore()
    zonedTable(store, "t")
    val fq = store.sqlTable("t")
    // rewrite the table WITHOUT healing the manifest
    store.replace("t", store.read("t").get.repartition(3))
    val total = store.read("t").get.inputFiles.length
    val df = spark.sql(s"SELECT k FROM $fq WHERE k >= 100 AND k <= 300")
    assert(GraftParquetTable.plannedDataFiles(df).contains(total),
      "a stale manifest must not prune the SQL path")
    assert(df.as[Long].collect().toSet == (100L to 300L).toSet,
      "and the answer must be the plain filter's")
    // heal → pruning returns
    graft.operators.IndexMaintenance.maintain(store, "t", "table")
    // the healed layout is hash-partitioned: ranges may admit all 3
    // files, so assert only exactness + a fresh manifest consult works
    val healed = spark.sql(s"SELECT k FROM $fq WHERE k >= 100 AND k <= 300")
    assert(healed.as[Long].collect().toSet == (100L to 300L).toSet)
  }

  test("no manifest / uncovered predicate: full listing, exact answer") {
    val store = freshStore()
    val df = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    store.replace("nm", df.repartitionByRange(4, col("k")))
    val fq = store.sqlTable("nm")
    val total = store.read("nm").get.inputFiles.length
    val noManifest = spark.sql(s"SELECT k FROM $fq WHERE k <= 50")
    assert(GraftParquetTable.plannedDataFiles(noManifest).contains(total))
    assert(noManifest.as[Long].collect().toSet == (1L to 50L).toSet)
    // manifest exists but covers only k: a v-only predicate cannot prune
    ZoneMaps.build(store, "nm", Seq("k"))
    val uncovered = spark.sql(s"SELECT k FROM $fq WHERE v <= 100.0")
    assert(GraftParquetTable.plannedDataFiles(uncovered).contains(total))
    assert(uncovered.as[Long].collect().toSet == (1L to 50L).toSet)
  }

  test("repeated identical SQL is a pure admission-cache hit; a data change invalidates (VERDICT r14 item 4)") {
    val store = freshStore()
    zonedTable(store, "c")
    val fq = store.sqlTable("c")
    val total = store.read("c").get.inputFiles.length
    def run(): Set[Long] = {
      val df = spark.sql(s"SELECT k FROM $fq WHERE k >= 100 AND k <= 300")
      val planned = GraftParquetTable.plannedDataFiles(df)
      assert(planned.exists(n => n > 0 && n < total),
        s"admission must prune ($planned of $total)")
      df.as[Long].collect().toSet
    }
    // counters are PER zones directory (ADVICE r15: the old JVM-global
    // counters made this assertion racy against any other suite planning
    // a v2 scan concurrently) — this store's warehouse is a fresh temp
    // dir, so its suffix is unique to this test
    val dirSuffix = store.path("c_zones")
    val (h0, m0) = ZoneMaps.v2StatsForSuffix(dirSuffix)
    assert(run() == (100L to 300L).toSet)
    val (_, m1) = ZoneMaps.v2StatsForSuffix(dirSuffix)
    assert(m1 > m0, "first query must consult the manifest (a cache miss)")
    // identical second query: zero manifest reads — counters, not a job
    // listener: under AQE the job boundary of a planning-time collect is
    // not deterministic, the hit/miss counter is
    assert(run() == (100L to 300L).toSet)
    val (h2, m2) = ZoneMaps.v2StatsForSuffix(dirSuffix)
    assert(m2 == m1,
      "second identical query must not re-read the manifest")
    assert(h2 > h0, "…it must be a cache hit")
    // a data rewrite changes the listing fingerprint: the cache must NOT
    // serve the old admitted subset — the key misses, the (now stale)
    // manifest declines, the full listing answers
    store.replace("c", store.read("c").get.repartition(3))
    val newTotal = store.read("c").get.inputFiles.length
    val after = spark.sql(s"SELECT k FROM $fq WHERE k >= 100 AND k <= 300")
    assert(GraftParquetTable.plannedDataFiles(after).contains(newTotal),
      "post-rewrite scan must fall back to the full listing, never a cached subset")
    assert(after.as[Long].collect().toSet == (100L to 300L).toSet)
  }

  test("a corrupt manifest degrades to the full listing with a once-per-table warning, never a failed query (VERDICT r14 item 7)") {
    val store = freshStore()
    val df = (1 to 400).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    store.replace("cw", df.repartitionByRange(4, col("k")))
    // plant a manifest DIRECTORY whose bytes are not parquet: admission
    // throws at the manifest read, the advisory catch must swallow it
    val zdir = new java.io.File(store.path("cw_zones"))
    zdir.mkdirs()
    java.nio.file.Files.write(zdir.toPath.resolve("part-junk.parquet"),
      "definitely not parquet".getBytes("UTF-8"))
    val fq = store.sqlTable("cw")
    val total = store.read("cw").get.inputFiles.length
    val q = spark.sql(s"SELECT k FROM $fq WHERE k <= 50")
    assert(GraftParquetTable.plannedDataFiles(q).contains(total),
      "a failed admission must prune nothing")
    assert(q.as[Long].collect().toSet == (1L to 50L).toSet,
      "…and the query must still answer")
    // the builder's dir carries the catalog's URI form (file:/…)
    assert(GraftScanBuilder.warnedDirs.asScala.exists(_.endsWith(store.path("cw"))),
      "the failure must be logged (once per table) — silent-bug window")
  }

  test("a relocated warehouse still prunes on the SQL path (root-relative admission keys, r15)") {
    val oldRoot = java.nio.file.Files.createTempDirectory("graft_zsqlmv_a")
    val store0 = new ParquetTableStore(spark, oldRoot.toString)
    zonedTable(store0, "t")
    val newRoot = java.nio.file.Files.createTempDirectory("graft_zsqlmv_b")
    java.nio.file.Files.delete(newRoot)
    java.nio.file.Files.move(oldRoot, newRoot)
    val store = new ParquetTableStore(spark, newRoot.toString)
    val fq = store.sqlTable("t")
    val total = store.read("t").get.inputFiles.length
    val df = spark.sql(s"SELECT k FROM $fq WHERE k >= 100 AND k <= 300")
    val planned = GraftParquetTable.plannedDataFiles(df)
    assert(planned.exists(n => n > 0 && n < total),
      s"relocated manifest must still prune the SQL scan ($planned of $total)")
    assert(df.as[Long].collect().toSet == (100L to 300L).toSet)
  }

  test("MERGE INTO a zone-mapped table never consults the manifest and stays correct") {
    val store = freshStore()
    val df = (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    store.replace("m", df.repartitionByRange(3, col("k")))
    ZoneMaps.build(store, "m", Seq("k"))
    // the row-level path (group defined) skips admission by design: its
    // file set belongs to the runtime _file filter that also scopes the
    // rewrite commit — upsert must work with a (soon stale) manifest
    store.upsert("m", Seq((5L, 99.0), (301L, 301.0)).toDF("k", "v"), Seq("k"))
    val rows = store.read("m").get
      .filter(col("k") === 5L || col("k") === 301L)
      .select("k", "v").as[(Long, Double)].collect().toSet
    assert(rows == Set((5L, 99.0), (301L, 301.0)))
    // the manifest is now stale (files rewritten); routed reads are LOUD
    val e = intercept[RuntimeException] {
      store.readWhere("m", graft.operators.ZonePred.between("k", 1L, 10L))
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // ...but SQL stays transparent
    val fq = store.sqlTable("m")
    assert(spark.sql(s"SELECT v FROM $fq WHERE k = 5").as[Double]
      .collect().toSeq == Seq(99.0))
  }

  test("property: routed planFiles and the SQL scan admit the same files for random ZonePred trees, both exact") {
    // the two surfaces share one coverage rule and one admission builder;
    // the SQL side only translates Spark's pushed filters into a tree. The
    // equivalent WHERE must reach that translation as written, so Spark's
    // ConstantPropagation is off here: it rewrites `p = 3 AND (p = 4 OR
    // k > 5)` to `p = 3 AND k > 5` before pushdown — the same rows from a
    // different predicate, whose admission legitimately differs
    val store = freshStore()
    val n = 2000
    store.replace("t", (1 to n).map(i => (i.toLong, (i * 7919L) % 500L, i * 2.0))
      .toDF("k", "p", "v").repartitionByRange(8, col("k"))
      .sortWithinPartitions(col("k")))
    ZoneMaps.build(store, "t", Seq("k", "v"), bloomCols = Seq("p"),
      expectedPerFile = 1000L)
    val fq = store.sqlTable("t")
    def sql(pred: ZonePred): String = pred match {
      case ZonePred.Range(c, lo, hi) =>
        (lo.map(l => s"$c >= ${sqlLit(l)}").toSeq ++ hi.map(h => s"$c <= ${sqlLit(h)}"))
          .mkString("(", " AND ", ")")
      case ZonePred.Point(c, v) => s"$c = ${sqlLit(v)}"
      case ZonePred.In(c, vs)   => vs.map(sqlLit).mkString(s"$c IN (", ", ", ")")
      case ZonePred.And(ps)     => ps.map(sql).mkString("(", " AND ", ")")
      case ZonePred.Or(ps)      => ps.map(sql).mkString("(", " OR ", ")")
    }
    def sqlLit(v: Any): String = v match {
      case d: Double => s"${d}D"
      case other     => other.toString
    }
    def leaf(rnd: scala.util.Random): ZonePred = {
      val k = 1L + rnd.nextInt(n)
      rnd.nextInt(6) match {
        case 0 => ZonePred.between("k", k, k + rnd.nextInt(300))
        case 1 => if (rnd.nextBoolean()) ZonePred.Range("k", Some(k), None)
                  else ZonePred.Range("k", None, Some(k))
        case 2 => ZonePred.between("v", k * 2.0, k * 2.0 + rnd.nextInt(600))
        case 3 => ZonePred.Point("k", k)
        case 4 => ZonePred.Point("p", rnd.nextInt(500).toLong)
        case _ =>
          val c = if (rnd.nextBoolean()) "k" else "p"
          ZonePred.In(c, Seq.fill(1 + rnd.nextInt(4))(
            (if (c == "k") k + rnd.nextInt(50) else rnd.nextInt(500).toLong): Any).distinct)
      }
    }
    def tree(rnd: scala.util.Random, depth: Int): ZonePred =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf(rnd)
      else {
        val kids = Seq.fill(2 + rnd.nextInt(2))(tree(rnd, depth - 1))
        if (rnd.nextBoolean()) ZonePred.And(kids) else ZonePred.Or(kids)
      }
    def paths(files: Seq[String]): Set[String] =
      files.map(f => new java.net.URI(f).getPath).toSet
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").as[Long].collect().sorted.toSeq
    val rule = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(rule)
    spark.conf.set(rule, "org.apache.spark.sql.catalyst.optimizer.ConstantPropagation")
    try {
      var pruned = 0
      Seq(5L, 23L).foreach { seed =>
        val rnd = new scala.util.Random(seed)
        (1 to 12).foreach { i =>
          val pred = tree(rnd, 3)
          val where = sql(pred)
          val (routedFiles, total) = ZoneMaps.planFiles(store, "t", pred)
          val df = spark.sql(s"SELECT k FROM $fq WHERE $where")
          val sqlFiles = df.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan match { case g: GraftParquetScan => g.plannedFiles.toSeq; case _ => Seq.empty }
          }.flatten
          assert(paths(routedFiles) == paths(sqlFiles),
            s"seed $seed tree $i: the surfaces admit different files for $where")
          if (routedFiles.size < total) pruned += 1
          val plain = rows(store.read("t").get.filter(ZoneMaps.predExpr(pred)))
          assert(rows(store.readWhere("t", pred)) == plain, s"seed $seed tree $i: routed $where")
          assert(rows(df) == plain, s"seed $seed tree $i: SQL $where")
        }
      }
      assert(pruned > 0, "no generated tree pruned a file — the property would be vacuous")
    } finally prev match {
      case Some(v) => spark.conf.set(rule, v)
      case None    => spark.conf.unset(rule)
    }
  }
}
