package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants promised in SURVEY §5: dedup idempotence, merge
  * idempotence (T4), post-merge key uniqueness (A5), salted-join equality.
  * Run through scalatest so the shared SparkSession is reused. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Int, Int, Double)]] =
    Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000), Gen.choose(0.0, 9.9)))

  private def check(p: Prop, trials: Int = 20): Unit = {
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(result.passed, result.status.toString)
  }

  test("property: firstWins dedup is idempotent and leaves keys unique") {
    check(forAll(rowsGen) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v, d), i) => (k, v, d, i.toLong) }
        .toDF("k", "v", "d", "ord")
      val once = Dedup.firstWins(df, Seq("k"), "ord")
      val twice = Dedup.firstWins(once, Seq("k"), "ord")
      val o = once.orderBy("ord").collect().toSeq
      val t = twice.orderBy("ord").collect().toSeq
      o == t && once.select("k").distinct().count() == once.count()
    })
  }

  test("property: merge is idempotent (T4) and post-merge keys unique (A5)") {
    check(forAll(rowsGen, rowsGen) { (currentRows, updateRows) =>
      val current = Dedup.firstWins(
        currentRows.zipWithIndex.map { case ((k, v, d), i) => (k, v, d, i.toLong) }
          .toDF("k", "v", "d", "ord"), Seq("k"), "ord").drop("ord")
      val updates = Dedup.firstWins(
        updateRows.zipWithIndex.map { case ((k, v, d), i) => (k, v, d, i.toLong) }
          .toDF("k", "v", "d", "ord"), Seq("k"), "ord").drop("ord")
      val once = Upsert.merge(current, updates, Seq("k"))
      val twice = Upsert.merge(once, updates, Seq("k"))
      once.orderBy("k", "v").collect().toSeq == twice.orderBy("k", "v").collect().toSeq &&
        once.select("k").distinct().count() == once.count()
    })
  }

  test("property: merge never emits duplicate keys, even from duplicate-keyed batches") {
    // round-1 hazard: two different rows sharing a key both survived
    // `updates.distinct()`; keyDedup must reduce them to one, with or
    // without an explicit order column.
    check(forAll(rowsGen, rowsGen) { (currentRows, updateRows) =>
      val current = Dedup.firstWins(
        currentRows.zipWithIndex.map { case ((k, v, d), i) => (k, v, d, i.toLong) }
          .toDF("k", "v", "d", "ord"), Seq("k"), "ord").drop("ord")
      val updates = updateRows.map { case (k, v, d) => (k, v, d) }.toDF("k", "v", "d")
      val plain = Upsert.merge(current, updates, Seq("k"))
      val ordered = Upsert.merge(current, updates, Seq("k"), orderCol = Some("d"))
      plain.select("k").distinct().count() == plain.count() &&
        ordered.select("k").distinct().count() == ordered.count()
    })
  }

  test("property: saltedJoin equals plain inner join") {
    check(forAll(rowsGen) { rows =>
      val big = rows.map { case (k, v, d) => (k, v, d) }.toDF("k", "v", "d")
      val small = (0 to 5).map(k => (k, s"dim$k")).toDF("k", "name")
      val plain = big.join(small, "k").orderBy("k", "v", "d").collect().toSeq
      val salted = Skew.saltedJoin(big, small, "k", 4)
        .select("k", "v", "d", "name")
        .orderBy("k", "v", "d").collect().toSeq
      // column order can differ; compare as sets of row seqs
      plain.map(_.toSeq.toSet).toSet == salted.map(_.toSeq.toSet).toSet &&
        plain.size == salted.size
    })
  }

  test("property: winnowing guarantee — shared substring >= k+w-1 implies shared fingerprint") {
    val word = Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    val gen = for {
      pre1 <- Gen.listOfN(5, word); pre2 <- Gen.listOfN(5, word)
      common <- Gen.listOfN(4, word) // >= 11 chars once joined
    } yield (pre1.mkString(" "), pre2.mkString(" "), common.mkString(" "))
    check(forAll(gen) { case (pre1, pre2, common) =>
      val df = Seq((1L, s"$pre1 $common"), (2L, s"$pre2 $common")).toDF("doc_id", "text")
      // k=8, w=4: guarantee window k+w-1 = 11 <= common.length (27)
      Similarity.winnowNearDup(df, "doc_id", "text", k = 8, w = 4, minShared = 1)
        .count() >= 1
    })
  }

  // random docs: 1-9 words drawn from a tiny vocabulary (forces shared
  // shingles, duplicate words, and the fewer-than-k-tokens fallback path)
  private val docsGen: Gen[List[String]] = Gen.listOfN(8,
    Gen.choose(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("fox", "dog", "the", "runs", "spark", "a"))
        .map(_.mkString(" "))))

  test("property: one-pass minhash_sig equals the exploded 64-min-agg formulation") {
    check(forAll(docsGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val native = Similarity.minhashSignatures(df, "doc_id", "text", 3)
        .as[(Long, Seq[Long])].collect().toMap
      val exploded = SimilarityReference.minhashSignaturesExploded(df, "doc_id", "text", 3)
        .as[(Long, Seq[Long])].collect().toMap
      native == exploded
    })
  }

  test("property: one-pass simhash64 equals the exploded bit-vote formulation") {
    check(forAll(docsGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val native = Similarity.simhash(df, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      val exploded = SimilarityReference.simhashExploded(df, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      native == exploded
    })
  }

  test("property: asOf join equals the window row_number formulation") {
    val gen = for {
      left  <- Gen.listOfN(15, Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 100L)))
      right <- Gen.listOfN(15, Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 100L), Gen.choose(0, 999)))
    } yield (left, right)
    check(forAll(gen) { case (leftRows, rightRows) =>
      val left = leftRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
        .toDF("lid", "k", "lts")
      val right = rightRows.zipWithIndex
        .map { case ((k, t, p), i) => (k, new java.sql.Timestamp(t * 1000), i.toLong) }
        .toDF("rk", "rts", "pid")
      val viaOp = AsOfJoin.asOf(left, right, "k", "rk", "lts", "rts",
          Seq("pid"), Seq("pid"))
        .select("lid", "pid").as[(Long, Option[Long])].collect().toMap
      // reference formulation: row_number over the range join
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"lid")
        .orderBy($"rts".desc_nulls_last, $"pid".desc_nulls_last)
      val viaWindow = left
        .join(right, $"k" === $"rk" && $"rts" <= $"lts", "left")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn" === 1)
        .select("lid", "pid").as[(Long, Option[Long])].collect().toMap
      viaOp == viaWindow
    })
  }

  test("property: Decay.merge re-anchoring ≡ scratch recompute under adversarial splits") {
    // the shapes that stress the floating-reference algebra: one hot key
    // carrying most rows (single-key skew), duplicate offsets (both
    // sides can share the SAME max ts → re-anchor scale exactly 1), and
    // offsets 1 µs apart (sub-microsecond-adjacent references); a split
    // point of 0 or 24 makes one side's state empty (full-outer path)
    val base = 1704153600000000L
    val hl = 24.0
    val offGen = Gen.oneOf(0L, 1L, 2L, 999999L, 1000000L,
      3600000000L, 3600000001L, 86400000000L, 86400000001L)
    val evGen = Gen.listOfN(24, Gen.zip(
      Gen.frequency(8 -> Gen.const("hot"), 1 -> Gen.const("k1"),
        1 -> Gen.const("k2")),
      offGen, Gen.choose(0.5, 9.5)))
    check(forAll(evGen, Gen.choose(0, 24)) { (rows, cut) =>
      def mk(rs: List[(String, Long, Double)]) =
        rs.map { case (k, off, v) => (k, base - off, v) }
          .toDF("k", "us", "v")
          .select($"k", timestamp_micros($"us").as("ts"), $"v")
      val (r1, r2) = rows.splitAt(cut)
      val merged = Decay.merge(
        Decay.state(mk(r1), "k", "ts", "v", hl),
        Decay.state(mk(r2), "k", "ts", "v", hl), hl)
      // read the merged state as of `base` by re-anchoring in Scala
      val got = merged.collect().map { r =>
        val scale = math.pow(0.5, (base - r.getLong(1)).toDouble / 3.6e9 / hl)
        r.getString(0) ->
          ((r.getDouble(2) * scale, r.getDouble(3) * scale, r.getLong(4)))
      }.toMap
      // independent scratch recompute of the decayed sums
      val exp = rows.groupBy(_._1).map { case (k, rs) =>
        val ws = rs.map(t => (math.pow(0.5, t._2.toDouble / 3.6e9 / hl), t._3))
        k -> ((ws.map(_._1).sum, ws.map(w => w._1 * w._2).sum, rs.size.toLong))
      }
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b))
      got.keySet == exp.keySet && exp.forall { case (k, (c, s, n)) =>
        close(got(k)._1, c) && close(got(k)._2, s) && got(k)._3 == n
      }
    })
  }

  test("property: grouped MG merge ≡ the global merge rule applied per group") {
    // the PODS'12 bound is per-stream, so partitioning the trim window
    // by group must give EXACTLY what the global rule gives on each
    // group's slice of the SAME state rows — any leakage of one
    // group's cut into another's counters breaks this. The state rows
    // are generated in SCALA (not via a second MG pass: MG summaries
    // are merge-order-dependent, so two independent sketch passes over
    // the same data are not comparable — the property isolates the
    // MERGE rule, which is deterministic given its inputs).
    val cap = 3
    val candGen = Gen.choose(1, cap).flatMap(k =>
      Gen.pick(k, 0 until 8).flatMap(ts =>
        Gen.sequence[List[(String, Long)], (String, Long)](ts.map(t =>
          Gen.choose(1L, 50L).map(c => (s"t$t", c))))))
    val stateRowGen = Gen.zip(Gen.oneOf("ga", "gb"), Gen.choose(1L, 200L), candGen)
    // a "state set" = up to one row per group per side, 2 sides
    val sideGen = Gen.zip(Gen.option(stateRowGen), Gen.option(stateRowGen))
    check(forAll(sideGen, sideGen) { (s1, s2) =>
      def rowsOf(s: (Option[(String, Long, List[(String, Long)])],
                     Option[(String, Long, List[(String, Long)])])) =
        Seq(s._1, s._2).flatten.distinctBy(_._1) // ≤ 1 row per group
      val sides = Seq(rowsOf(s1), rowsOf(s2))
      // tuple encoders name struct fields _1/_2 — rename to the state
      // contract's (term, est)
      def df(rows: Seq[(String, Long, List[(String, Long)])]) =
        rows.toDF("g", "_n", "_cands")
          .select($"g", $"_n", org.apache.spark.sql.functions.transform($"_cands",
            c => org.apache.spark.sql.functions.struct(
              c("_1").as("term"), c("_2").as("est"))).as("_cands"))
      def cands(r: org.apache.spark.sql.Row) =
        r.getSeq[org.apache.spark.sql.Row](r.length - 1)
          .map(c => c.getString(0) -> c.getLong(1)).toList
      val grouped = HeavyHitters
        .mergeStatesGrouped(cap, Seq("g"), sides.map(df): _*)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), cands(r)))).toMap
      val groups = sides.flatten.map(_._1).distinct
      val perGroup = groups.map { g =>
        val slices = sides.map(_.filter(_._1 == g).map(r => (r._2, r._3)))
          .filter(_.nonEmpty)
          .map(_.toDF("_n", "_cands")
            .select($"_n", org.apache.spark.sql.functions.transform($"_cands",
              c => org.apache.spark.sql.functions.struct(
                c("_1").as("term"), c("_2").as("est"))).as("_cands")))
        val r = HeavyHitters.mergeStates(cap, slices: _*).collect().head
        g -> ((r.getLong(0), cands(r)))
      }.toMap
      grouped == perGroup
    }, trials = 10)
  }

  test("property: saltedAgg equals direct aggregation for algebraic aggs") {
    check(forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v", "d")
      val direct = df.groupBy($"k")
        .agg(count(lit(1)).as("n"), round(sum($"d"), 6).as("s"))
        .orderBy("k").collect().toSeq
      val salted = Skew.saltedAgg(df, "k", 4,
        partials = Seq((count(lit(1)), "pn"), (sum($"d"), "ps")),
        finals = Seq((sum(col("pn")), "n"), (round(sum(col("ps")), 6), "s")))
        .orderBy("k").collect().toSeq
      direct == salted
    })
  }
}
