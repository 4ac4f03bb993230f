package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def current = Seq(
    (1L, "old", 10.0), (2L, "old", 20.0), (3L, "old", 30.0)
  ).toDF("k", "status", "v")

  private def updates = Seq(
    (2L, "new", 99.0),  // matched → replaces
    (4L, "new", 44.0)   // not matched → inserted
  ).toDF("k", "status", "v")

  test("merge: matched rows replaced, unmatched kept, new inserted (ref MERGE :558-590)") {
    val out = Upsert.merge(current, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "old", 10.0), (2L, "new", 99.0), (3L, "old", 30.0), (4L, "new", 44.0)))
  }

  test("merge is idempotent (T4 exactly-once effect)") {
    val once = Upsert.merge(current, updates, Seq("k"))
    val twice = Upsert.merge(once, updates, Seq("k"))
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
  }

  test("merge dedups the update batch (SELECT DISTINCT * semantics :571-576)") {
    val dupUpdates = updates.unionByName(updates)
    val out = Upsert.merge(current, dupUpdates, Seq("k"))
    assert(out.count() == 4)
    assert(out.filter($"k" === 2L).count() == 1)
  }

  test("merge is idempotent for NULL-key rows (null-safe key equality)") {
    val withNull = Seq((Option(5L), "new", 1.0), (Option.empty[Long], "new", 2.0))
      .toDF("k", "status", "v")
    val once = Upsert.merge(current, withNull, Seq("k"))
    val twice = Upsert.merge(once, withNull, Seq("k"))
    assert(once.count() == 5)
    assert(twice.count() == 5, "NULL-key row must not re-insert on re-run")
  }

  test("post-merge key uniqueness always holds (A5 invariant)") {
    val out = Upsert.merge(current, updates, Seq("k"))
    assert(out.count() == out.select("k").distinct().count())
  }

  test("merge with duplicate-keyed, different-payload updates emits one row per key") {
    // The reference's SELECT DISTINCT * keeps both versions (shopify_etl.py
    // :571-576) — a duplicate-key hazard. keyDedup must pick exactly one.
    val dup = Seq((2L, "v1", 1.0), (2L, "v2", 2.0)).toDF("k", "status", "v")
    val out = Upsert.merge(current, dup, Seq("k"))
    assert(out.filter($"k" === 2L).count() == 1)
    assert(out.count() == out.select("k").distinct().count())
    // explicit first-wins by order column
    val byOrd = Upsert.merge(current, dup, Seq("k"), orderCol = Some("v"))
    assert(byOrd.filter($"k" === 2L).select("status").as[String].collect().toSeq == Seq("v1"))
  }

  test("ParquetTableStore works against a file:// URI warehouse (Hadoop FS path ops)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    try {
      val store = new ParquetTableStore(spark, "file://" + dir.getAbsolutePath)
      assert(store.read("t").isEmpty, "missing table must read as None under a URI path")
      store.upsert("t", current, Seq("k"))
      assert(store.read("t").get.count() == 3)
      store.upsert("t", updates, Seq("k"))
      assert(store.read("t").get.count() == 4, "URI-path swap must publish the merged table")
      val after = store.read("t").get.orderBy("k").as[(Long, String, Double)].collect().toSeq
      assert(after == Seq((1L, "old", 10.0), (2L, "new", 99.0), (3L, "old", 30.0), (4L, "new", 44.0)))
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("replacePartitioned: partitioned layout, swap replace, no staging leftovers") {
    val wh = java.nio.file.Files.createTempDirectory("graft_repl_part").toString
    val store = new ParquetTableStore(spark, wh)
    val v1 = Seq((0, 1L), (0, 2L), (1, 3L)).toDF("cell", "x")
    store.replacePartitioned("t", v1, Seq("cell"))
    val dir = new java.io.File(wh, "t")
    assert(dir.listFiles().exists(_.getName.startsWith("cell=")),
      s"expected hive-style partition dirs: ${dir.listFiles().map(_.getName).toSeq}")
    assert(store.read("t").get.select("cell", "x").as[(Int, Long)]
      .collect().toSet == Set((0, 1L), (0, 2L), (1, 3L)))
    // replace with different contents AND partition set: old dirs must go
    val v2 = Seq((2, 9L)).toDF("cell", "x")
    store.replacePartitioned("t", v2, Seq("cell"))
    assert(store.read("t").get.select("cell", "x").as[(Int, Long)]
      .collect().toSet == Set((2, 9L)))
    val leftovers = new java.io.File(wh).listFiles()
      .map(_.getName).filter(n => n.startsWith("_tmp_") || n.startsWith("_swap_"))
    assert(leftovers.isEmpty, s"staging dirs left behind: ${leftovers.toSeq}")
  }

  test("upsert refuses a decimal<->double money-mode switch (no silent cast)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_money").toString
    val store = new ParquetTableStore(spark, wh)
    val dec = Seq((1L, "a")).toDF("k", "s")
      .withColumn("price", lit("10.50").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
    val dbl = Seq((2L, "b")).toDF("k", "s").withColumn("price", lit(20.5))
    store.upsert("t", dec, Seq("k"))
    val e = intercept[IllegalArgumentException] { store.upsert("t", dbl, Seq("k")) }
    assert(e.getMessage.contains("money-mode mismatch"))
    // and the reverse direction: double warehouse, decimal batch
    store.upsert("t2", dbl, Seq("k"))
    intercept[IllegalArgumentException] { store.upsert("t2", dec, Seq("k")) }
    // same-representation upserts still flow
    store.upsert("t", dec, Seq("k"))
    assert(store.read("t").get.count() == 1L)
    // NESTED decimal<->double is just as exposed (the fallback merge path
    // widens through unionByName at any depth) — must also refuse
    val nestedDec = Seq((1L, "a")).toDF("k", "s")
      .withColumn("m", struct(lit("1.50")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price")))
    val nestedDbl = Seq((2L, "b")).toDF("k", "s")
      .withColumn("m", struct(lit(2.5).as("price")))
    store.upsert("t3", nestedDec, Seq("k"))
    val ne = intercept[IllegalArgumentException] { store.upsert("t3", nestedDbl, Seq("k")) }
    assert(ne.getMessage.contains("m.price"))
    // case-mismatched names still merge under the default case-insensitive
    // resolver, so they must still be guarded
    val caseDbl = Seq((2L, "b")).toDF("k", "s").withColumn("Price", lit(2.5))
    store.upsert("t4", dec.withColumnRenamed("price", "price"), Seq("k"))
    intercept[IllegalArgumentException] { store.upsert("t4", caseDbl, Seq("k")) }
  }

  test("upsertPartitioned rewrites only touched partitions, byte-identically elsewhere") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part").toString
    val store = new ParquetTableStore(spark, wh)
    val base = Seq(
      (1L, "d1", "old"), (2L, "d1", "old"),
      (3L, "d2", "old"),
      (4L, "d3", "old")).toDF("k", "day", "status")
    store.upsertPartitioned("t", base, Seq("k"), "day")
    assert(spark.read.parquet(s"$wh/t").count() == 4L) // all partitions touched on create

    def fileState(day: String): Seq[(String, Long, Long)] = {
      val dir = new java.io.File(s"$wh/t/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    }
    val d2Before = fileState("d2")
    val d3Before = fileState("d3")

    // batch touches d1 (update k=2) and a NEW partition d4
    val batch = Seq((2L, "d1", "new"), (5L, "d4", "new")).toDF("k", "day", "status")
    store.upsertPartitioned("t", batch, Seq("k"), "day")
    // rows in the TOUCHED partitions after the merge
    assert(spark.read.parquet(s"$wh/t").filter($"day".isin("d1", "d4")).count() == 3L)

    val after = spark.read.parquet(s"$wh/t").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    assert(after == Seq((1L, "old", "d1"), (2L, "new", "d1"), (3L, "old", "d2"),
      (4L, "old", "d3"), (5L, "new", "d4"))
      || after == Seq((1L, "d1", "old"), (2L, "d1", "new"), (3L, "d2", "old"),
      (4L, "d3", "old"), (5L, "d4", "new")),
      s"merged content wrong: $after")
    assert(fileState("d2") == d2Before, "untouched partition d2 must not be rewritten")
    assert(fileState("d3") == d3Before, "untouched partition d3 must not be rewritten")
  }

  test("upsertPartitioned is idempotent per batch") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part2").toString
    val store = new ParquetTableStore(spark, wh)
    val batch = Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("k", "day", "v")
    store.upsertPartitioned("t", batch, Seq("k"), "day")
    store.upsertPartitioned("t", batch, Seq("k"), "day")
    assert(spark.read.parquet(s"$wh/t").filter($"day".isin("d1", "d2")).count() == 2L)
    assert(spark.read.parquet(s"$wh/t").count() == 2L)
  }

  test("upsertPartitioned recovers a partition stranded in its mid-swap backup") {
    // Simulate a crash between rename(target→backup) and rename(tmp→target):
    // the partition exists ONLY under _old_t/. Without entry recovery the
    // next merge would read `current` minus those rows and then delete the
    // backup — silent permanent data loss (ADVICE r6 #2).
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_recover").toString
    val store = new ParquetTableStore(spark, wh)
    val base = Seq((1L, "d1", "old"), (2L, "d2", "old")).toDF("k", "day", "status")
    store.upsertPartitioned("t", base, Seq("k"), "day")
    // strand d1 in the backup location
    val f = new java.io.File(s"$wh/_old_t"); f.mkdirs()
    assert(new java.io.File(s"$wh/t/day=d1").renameTo(new java.io.File(s"$wh/_old_t/day=d1")))
    // a merge touching d1 must see the restored k=1 row and keep it
    val batch = Seq((3L, "d1", "new")).toDF("k", "day", "status")
    store.upsertPartitioned("t", batch, Seq("k"), "day")
    val after = spark.read.parquet(s"$wh/t").orderBy("k")
      .select("k", "status").as[(Long, String)].collect().toSeq
    assert(after == Seq((1L, "old"), (2L, "old"), (3L, "new")),
      s"stranded row lost: $after")
    assert(!new java.io.File(s"$wh/_old_t").exists(), "backup dir must be cleaned up")

    // stale backup with the target present (crash after swap, before the
    // cleanup delete): recovery must keep the NEWER target, drop the backup
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    new java.io.File(s"$wh/_old_t").mkdirs()
    org.apache.hadoop.fs.FileUtil.copy(
      lfs, new org.apache.hadoop.fs.Path(s"$wh/t/day=d1"),
      lfs, new org.apache.hadoop.fs.Path(s"$wh/_old_t/day=d2"),
      false, spark.sparkContext.hadoopConfiguration)
    store.upsertPartitioned("t", Seq((4L, "d2", "x")).toDF("k", "day", "status"),
      Seq("k"), "day")
    val d2rows = spark.read.parquet(s"$wh/t").filter($"day" === "d2")
      .select("k").as[Long].collect().toSet
    assert(d2rows == Set(2L, 4L), s"stale backup must not shadow merged rows: $d2rows")
    assert(!new java.io.File(s"$wh/_old_t").exists(), "stale backup must be dropped")
  }

  test("a table stranded mid whole-table swap is recovered on the next read") {
    // simulate publish crashing between rename(dst->backup) and
    // rename(tmp->dst): the table exists ONLY at _swap_<name>; read()
    // must restore it instead of reporting the table missing (which
    // would make a state fold silently rebuild from nothing)
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_swap").toString
    val store = new ParquetTableStore(spark, wh)
    store.upsert("t", Seq((1L, "x")).toDF("k", "s"), Seq("k"))
    assert(new java.io.File(s"$wh/t").renameTo(new java.io.File(s"$wh/_swap_t")))
    val restored = store.read("t")
    assert(restored.isDefined, "stranded table must be restored")
    assert(restored.get.count() == 1L)
    assert(!new java.io.File(s"$wh/_swap_t").exists())
    // stale backup WITH the table present (crash after swap, before the
    // cleanup delete): dropped, table untouched
    store.upsert("t", Seq((2L, "y")).toDF("k", "s"), Seq("k"))
    new java.io.File(s"$wh/_swap_t").mkdirs()
    assert(store.read("t").get.count() == 2L)
    assert(!new java.io.File(s"$wh/_swap_t").exists())
  }

  test("read fails loudly when the table is missing but a legacy _old_ backup exists") {
    // Pre-r7 publish kept its whole-table backup at _old_<name>; a crash
    // there left the table ONLY in that dir. After upgrade, read() must
    // not return None (a state fold would silently rebuild from nothing)
    // — it must demand a manual restore (ADVICE r7 #2).
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_legacy").toString
    val store = new ParquetTableStore(spark, wh)
    store.upsert("t", Seq((1L, "x")).toDF("k", "s"), Seq("k"))
    assert(new java.io.File(s"$wh/t").renameTo(new java.io.File(s"$wh/_old_t")))
    val e = intercept[RuntimeException] { store.read("t") }
    assert(e.getMessage.contains("restore it manually"), e.getMessage)
    // manual restore then works
    assert(new java.io.File(s"$wh/_old_t").renameTo(new java.io.File(s"$wh/t")))
    assert(store.read("t").get.count() == 1L)
  }

  test("sibling table's backup root does not false-positive the legacy flat guard") {
    // For table t, the dir _old_t_x is table t_x's DEDICATED backup root
    // (new naming), not a legacy flat backup of t — the guard must not
    // abort t's merges over it (ADVICE r7 #3). A genuine legacy flat name
    // (_old_t_<col>=<val>) must still abort.
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_sibling").toString
    val store = new ParquetTableStore(spark, wh)
    val base = Seq((1L, "d1", "old")).toDF("k", "day", "status")
    store.upsertPartitioned("t", base, Seq("k"), "day")
    new java.io.File(s"$wh/_old_t_x").mkdirs() // sibling t_x's backup root
    store.upsertPartitioned("t", Seq((2L, "d1", "new")).toDF("k", "day", "status"),
      Seq("k"), "day")
    assert(spark.read.parquet(s"$wh/t").count() == 2L)
    // a true legacy flat backup aborts (fresh store: the clean check is
    // cached per instance)
    new java.io.File(s"$wh/_old_t_day=d9").mkdirs()
    val store2 = new ParquetTableStore(spark, wh)
    val e = intercept[RuntimeException] {
      store2.upsertPartitioned("t", Seq((3L, "d1", "z")).toDF("k", "day", "status"),
        Seq("k"), "day")
    }
    assert(e.getMessage.contains("legacy flat-named"), e.getMessage)
  }

  test("upsertPartitioned rejects NULL partition values (would silently drop stored rows)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part3").toString
    val store = new ParquetTableStore(spark, wh)
    val batch = Seq((1L, Option("d1"), 1.0), (2L, None, 2.0)).toDF("k", "day", "v")
    val e = intercept[IllegalArgumentException] {
      store.upsertPartitioned("t", batch, Seq("k"), "day")
    }
    assert(e.getMessage.contains("NULL day"))
  }

  test("compact rewrites the file layout without changing content") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_compact").toString
    val store = new ParquetTableStore(spark, wh)
    // simulate small-file accumulation: a direct many-partition write (the
    // upsert path itself writes through the merge plan's partitioning)
    current.repartition(3).write.parquet(store.path("t"))
    val before = spark.read.parquet(store.path("t"))
      .orderBy("k").collect().toSeq
    val (nBefore, nAfter) = store.compact("t", targetFiles = 1)
    assert(nBefore > 1 && nAfter == 1, s"expected 8-ish -> 1 files, got $nBefore -> $nAfter")
    val after = spark.read.parquet(store.path("t")).orderBy("k").collect().toSeq
    assert(after == before, "compaction must not change table content")
  }

  test("compact refuses a partitioned layout instead of flattening it") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_compact_part").toString
    val store = new ParquetTableStore(spark, wh)
    store.replacePartitioned("t", Seq((1, 1, "a"), (2, 2, "b")).toDF("k", "cell", "s"),
      Seq("cell"))
    val e = intercept[IllegalArgumentException](store.compact("t"))
    assert(e.getMessage.contains("would flatten a partitioned layout"), e.getMessage)
    assert(new java.io.File(store.path("t")).listFiles().exists(_.getName.startsWith("cell=")))
  }

  test("sqlTable refuses a partitioned layout instead of serving it empty") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_sql_part").toString
    val store = new ParquetTableStore(spark, wh)
    store.replacePartitioned("p", Seq((1, 1, "a"), (2, 2, "b"), (3, 3, "c"))
      .toDF("k", "cell", "s"), Seq("cell"))
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"SELECT count(*) FROM ${store.sqlTable("p")}").head().getLong(0)
    }
    assert(e.getMessage.contains("cannot serve a partitioned layout"), e.getMessage)
    assert(e.getMessage.contains("cell=1"), e.getMessage)
    assert(store.read("p").get.count() == 3)
  }

  test("footer schema equals spark.read.parquet's: Spark-published, v2-rewritten, decimal") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_footer").toString
    val store = new ParquetTableStore(spark, wh)
    def inferred(name: String) = spark.read.parquet(store.path(name)).schema
    // published by Spark: string, long and timestamp columns
    val typed = Seq((1L, "a", 1, 1.5, true), (2L, "b", 2, 2.5, false))
      .toDF("k", "s", "i", "d", "b")
      .withColumn("ts", to_timestamp(lit("2024-01-01 10:00:00")))
    // whether every data file carries Spark's row-schema footer key
    def sparkKeyed(name: String): Seq[Boolean] =
      new java.io.File(store.path(name)).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
          try r.getFooter.getFileMetaData.getKeyValueMetaData
            .containsKey("org.apache.spark.sql.parquet.row.metadata")
          finally r.close()
        }
    store.upsert("pub", typed.select("k", "s", "ts"), Seq("k"))
    assert(sparkKeyed("pub").nonEmpty && sparkKeyed("pub").forall(identity))
    assert(store.footerSchema("pub").contains(inferred("pub")))
    // rewritten by the v2 codec after a MERGE (no Spark row metadata in
    // the footer): every codec type
    store.upsert("codec", typed, Seq("k"))
    store.upsert("codec", typed.withColumn("s", lit("c")), Seq("k"))
    assert(sparkKeyed("codec").nonEmpty && !sparkKeyed("codec").exists(identity))
    assert(store.footerSchema("codec").contains(inferred("codec")))
    assert(store.read("codec").get.where($"s" === "c").count() == 2)
    // decimal: the fallback Upsert.merge path publishes it
    val dec = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
      .withColumn("price", lit("10.50").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
    store.upsert("dec", dec, Seq("k"))
    store.upsert("dec", dec.withColumn("s", lit("z")), Seq("k"))
    assert(store.footerSchema("dec").contains(inferred("dec")))
    assert(store.read("dec").get.where($"s" === "z").count() == 2)
  }

  test("rowCounts sums footer record counts, a zero-row file included") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_rowcounts").toString
    val store = new ParquetTableStore(spark, wh)
    store.upsert("t", current, Seq("k"))
    store.append("t", current.limit(0))
    val files = new java.io.File(store.path("t")).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.exists(f => spark.read.parquet(f.getPath).count() == 0),
      s"expected a zero-row file among ${files.map(_.getName).toSeq}")
    assert(store.rowCounts(Seq("t", "missing")) ==
      Map("t" -> store.read("t").get.count(), "missing" -> 0L))
    assert(store.rowCounts(Seq("t"))("t") == 3L)
  }

  test("upsert into a partitioned layout reads through inference, keeping the partition column") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part_upsert").toString
    val store = new ParquetTableStore(spark, wh)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val base = Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("k", "day")
      .withColumn("price", lit("1.00").cast(dec))
    store.replacePartitioned("t", base, Seq("day"))
    // partition values live in directory names: no footer holds them
    assert(store.footerSchema("t").isEmpty)
    store.upsert("t", Seq((2L, "2024-01-02"), (3L, "2024-01-03")).toDF("k", "day")
      .withColumn("price", lit("9.00").cast(dec)), Seq("k"))
    val rows = store.read("t").get.select($"k", $"day", $"price".cast("string"))
      .as[(Long, String, String)].collect().toSet
    assert(rows == Set((1L, "2024-01-01", "1.00"), (2L, "2024-01-02", "9.00"),
      (3L, "2024-01-03", "9.00")))
  }

  test("upsert and delete on a partitioned codec-type layout change its rows") {
    // every column, the partition column included, is a codec type, but
    // the v2 table lists top-level files only: the row-level path would
    // MERGE against an empty table
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part_codec").toString
    val store = new ParquetTableStore(spark, wh)
    def rows(name: String) = store.read(name).get.select("k", "cell", "s")
      .as[(Int, Int, String)].collect().toSet
    store.replacePartitioned("t", Seq((1, 1, "a"), (2, 2, "b")).toDF("k", "cell", "s"),
      Seq("cell"))
    store.upsert("t", Seq((2, 2, "B"), (3, 3, "c")).toDF("k", "cell", "s"), Seq("k"))
    assert(rows("t") == Set((1, 1, "a"), (2, 2, "B"), (3, 3, "c")))

    store.replacePartitioned("d", Seq((1, 1, "a"), (2, 2, "b"), (3, 3, "c"))
      .toDF("k", "cell", "s"), Seq("cell"))
    assert(store.delete("d", Seq(2).toDF("k"), Seq("k")) == 1L)
    assert(rows("d") == Set((1, 1, "a"), (3, 3, "c")))
  }
}
