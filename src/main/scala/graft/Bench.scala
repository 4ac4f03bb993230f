package graft
object Bench {

  /** Cumulative (steal jiffies, total jiffies) from /proc/stat's
    * aggregate cpu line — None off-Linux. Steal is field 8 (after
    * user nice system idle iowait irq softirq); a delta between two
    * samples gives the window's steal share. */
  private def cpuSteal(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { line =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        // total = fields 1-8 only (user nice system idle iowait irq
        // softirq steal): guest/guest_nice are already counted inside
        // user/nice, so summing them too would understate steal_pct —
        // and an understated steal is exactly the adjudication failure
        // this field exists to prevent
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => None }

  /** Steal share (percent) of the window between two cpuSteal samples. */
  private def stealPct(a: Option[(Long, Long)],
                       b: Option[(Long, Long)]): Option[Double] =
    for { (s0, t0) <- a; (s1, t1) <- b if t1 > t0 }
      yield 100.0 * (s1 - s0) / (t1 - t0)

  private def loadAvg(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().nextOption().map(_.split("\\s+")(0).toDouble)
      finally src.close()
    } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    // The full results JSON also lands in this file: the harness that
    // captures our stdout keeps only a tail window, which for 80+ queries
    // truncated the old single-line record into an unparseable fragment
    // (VERDICT r7 item 1). A file is immune to the window; stdout carries
    // small per-query lines plus one compact total line that fits any tail.
    // The default lives IN THE REPO (VERDICT r11 item 5): a /tmp detail
    // file dies with the box, so round-over-round driver comparison could
    // only use the ~43 queries that fit the stdout tail — a repo-resident
    // detail file rides the round's artifact commit and makes every
    // BENCH_r{N}.json self-contained. Cwd-relative (ADVICE r12), so a
    // checkout anywhere writes next to itself; the driver runs from the
    // repo root, and SPARK_GRAFT_BENCH_OUT overrides either way.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_detail.json")
    // Time budget for the TIMED sweeps (seconds): the r14 driver sweep hit
    // its harness timeout (rc=124 — the first unusable bench record,
    // VERDICT r14 item 1) because suite growth made warmup + 3 passes
    // outgrow a fixed window nobody re-sized. The warmup pass doubles as
    // the cost estimate: if `passes` full sweeps would blow the budget,
    // the pass count drops — but never below 2 when the caller asked for
    // 2+ (VERDICT r15 item 1): a slow warmup is exactly the contended
    // window where a single reading has no median defense, so the r15
    // budget math was shedding signal precisely when it mattered most
    // (the r15 record: passes=1, taken under 7.3% host CPU steal,
    // individual readings up to 67× inflated on bit-identical code). A
    // 2-pass median over budget beats a 1-pass record inside it. Warmup
    // OVER-estimates a timed pass anyway (it pays the QueryFixtures
    // builds), so the adaptation only bites when the sweep is genuinely
    // too big.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val spark = GraftSession.local("WARN")
    val cpus = GraftSession.cpus
    // Untimed warmup pass: JIT + codegen caches + parquet footers + the
    // per-JVM fixture builds (QueryFixtures). The timed passes then
    // measure steady-state execution, not JVM startup or index training.
    val steal0 = cpuSteal()
    val w0 = System.nanoTime()
    SparkEntry.gates.foreach { g =>
      try g.plan(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    val stealWarm = cpuSteal()
    val budgetPasses =
      math.floor(budgetSec / math.max(warmupSec, 1e-9)).toInt
    val effPasses = math.max(math.min(passes, 2),
      math.min(passes, budgetPasses))
    if (effPasses < passes) System.err.println(
      s"[bench] warmup took ${warmupSec.round}s; dropping $passes -> " +
        s"$effPasses timed passes" +
        (if (effPasses > budgetPasses)
          s" — the 2-pass floor KNOWINGLY exceeds the ${budgetSec.round}s" +
            " budget (a 2-pass median is categorically better evidence" +
            " than 1 reading on the contended window that slowed warmup)"
        else s" to fit the ${budgetSec.round}s budget"))
    // Per-query median over the timed sweeps: single timed passes on a
    // ±20% box make round-over-round deltas unattributable (VERDICT r2
    // item 5); sweeps (not back-to-back repeats) spread load drift across
    // queries evenly. Each sweep also records the window's CPU-steal
    // share: BASELINE.md's protocol disqualifies readings taken above
    // ~2% steal, and embedding the number makes that rule mechanical
    // instead of a manual `top` capture (VERDICT r15 item 1c).
    var stealMark = stealWarm
    val passSteals = scala.collection.mutable.ArrayBuffer[Double]()
    // Per-query errors are RECORDED, not swallowed (VERDICT r16 item 2):
    // a query that throws used to be timed as a fast reading, so a
    // contended-window failure silently halved its median (the r16
    // driver's q175 raw [6.84, 0.079]). A throw now yields a negated
    // timing that the median excludes, plus an `err` entry (class +
    // message of the last failure) in the detail record.
    val errs = scala.collection.mutable.Map[String, String]()
    val sweeps = (1 to effPasses).map { _ =>
      val r = SparkEntry.gates.map { g =>
        val t0 = System.nanoTime()
        val ok =
          try { g.plan(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errs(g.name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        g.name -> (if (ok) sec else -sec)
      }.toMap
      val s = cpuSteal()
      passSteals += stealPct(stealMark, s).getOrElse(-1.0)
      stealMark = s
      r
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val names = SparkEntry.gates.map(_.name)
    // median over SUCCESSFUL readings only; a query that failed every
    // pass keeps its (absolute) throw-time median so the contract line
    // stays complete, and the err entry marks it unusable
    val results = names.map { name =>
      val all = sweeps.map(_(name))
      val ok = all.filter(_ >= 0)
      name -> median(if (ok.nonEmpty) ok else all.map(math.abs))
    }.toMap
    val total = results.values.sum
    val overallSteal = stealPct(steal0, stealMark).map(r6).getOrElse(-1.0)
    val warmSteal = stealPct(steal0, stealWarm).map(r6).getOrElse(-1.0)
    val load = loadAvg().getOrElse(-1.0)
    val stealJson =
      s""""steal_pct":$overallSteal,"steal_pct_warmup":$warmSteal,""" +
        s""""steal_pct_passes":${passSteals.map(r6).mkString("[", ",", "]")},""" +
        s""""load_avg_end":$load"""
    val qs = names.map(k => s"\"" + k + "\":" + results(k)).mkString("{", ",", "}")
    // Raw per-pass readings ride in the detail file next to the medians
    // (VERDICT r15 item 1b): a contaminated pass is then visible after
    // the fact — the r15 record's single-pass values were adjudicable
    // only by re-running, because the raws were discarded at source.
    // (a NEGATIVE raw value = that pass THREW after |value| seconds —
    // excluded from the median above, adjudicable after the fact here)
    val raw = names.map { k =>
      s"\"" + k + "\":" + sweeps.map(s => r6(s(k))).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errs.toSeq.sortBy(_._1).map { case (k, v) =>
      Verify.jsonString(k) + ":" + Verify.jsonString(v)
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"raw":$raw,"err":$errJson,"sf":"$sfDir","cpus":$cpus,"passes":$effPasses,"warmup_sec":${math.rint(warmupSec * 100) / 100},$stealJson}"""
    try {
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(full) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: $e")
    }
    // Output order is deliberate (VERDICT r7 item 1): the harness keeps
    // only a ~2 KB TAIL of stdout, and the full contract line alone is
    // bigger than that window — printed last it becomes an unparseable
    // fragment (the r6/r7 artifacts). So: full contract line FIRST (any
    // full-stdout parser or first-match grep still gets the documented
    // single-line record), then one small line per query sorted by name,
    // then a compact total line LAST — whatever window survives, the tail
    // is parseable per-query lines plus an intact summary.
    println(full)
    names.foreach { k =>
      println(s"""{"q":"$k","sec":${r6(results(k))}}""")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"passes":$effPasses,"n_queries":${names.size},$stealJson,"detail":"$outFile"}""")
    spark.stop()
  }
}
