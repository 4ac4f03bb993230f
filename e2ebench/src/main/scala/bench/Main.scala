package bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** Benchmark driver: one run of one workload.
  *
  * {{{
  *   bench.Main --workload sync_hourly|stream_backlog
  *              --seed N --seconds S --trace 0|1 --root DIR --out DIR
  *              [--layers name=unit,name=unit,...]
  * }}}
  *
  * Set-up (session start, then the workload's prepare) is followed by the
  * timed steps and the correctness checks. The last stdout line is the
  * result JSON: end-to-end metrics untraced, and traced the per-layer
  * metrics `--layers` names (the `per_layer` list of BENCHMARK.json, which
  * run.py passes). `--root` is scratch space, deleted at exit.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val out = Paths.get(a.getOrElse("out", root.toString)).toAbsolutePath
    val log: String => Unit = s => System.err.println(s"[e2ebench] $s")
    val layerUnits: Seq[(String, String)] = a.get("layers").toSeq.flatMap(_.split(',')).map { kv =>
      val Array(k, u) = kv.split("=", 2)
      k -> u
    }
    require(!traced || layerUnits.nonEmpty, "a traced run needs --layers")
    Files.createDirectories(root)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Harness.session(root, Cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = Ctx(spark, seed, seconds, Cores, trace, log)
    val wl: Workload = workload match {
      case "sync_hourly" => new SyncHourly(ctx)
      case "stream_backlog" => new StreamBacklog(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val result = try {
      val t0 = System.nanoTime()
      wl.prepare(root.resolve("data"))
      val prepS = (System.nanoTime() - t0) / 1e9
      log(f"prepare: $prepS%.3f s")
      val setupS = sessionS + prepS
      trace.foreach(_.start())
      val rec = new Recorder(trace, log)
      val cpu0 = Harness.hostCpu()
      Harness.HeapWatch.reset()
      wl.run(rec)
      Harness.HeapWatch.sample()
      val heapMb = Harness.HeapWatch.peakMb
      for ((s0, t0) <- cpu0; (s1, t1) <- Harness.hostCpu() if t1 > t0)
        log(f"host steal during the timed phase: ${100.0 * (s1 - s0) / (t1 - t0)}%.2f%% of cpu time")
      val wallS = (rec.phaseEndNs - rec.phaseStartNs - rec.pausedNs) / 1e9
      trace.foreach(_.drain())
      val (tailS, tailPct) = Harness.tail(rec.walls.toSeq)
      val p50 = Harness.median(rec.walls.toSeq)
      val n = rec.walls.size
      val lay = trace.map { t =>
        wl.layers(rec, t) ++ Map("trace.step_p50_s" -> p50, "trace.callback_ms" -> t.callbackNanos.get / 1e6 / n)
      }.getOrElse(Map.empty)
      // per-step module shares (module.*) are logged, not reported
      val unlisted = lay.keySet.filterNot(_.startsWith("module.")) -- layerUnits.map(_._1)
      val checks = (try wl.checks() catch { case e: Exception => Seq(("checks", false, e.toString)) }) ++
        trace.toSeq.flatMap(_ => Seq(
          ("every engine job attributed by its call site", lay("trace.attributed_pct") == 100.0,
            f"${lay("trace.attributed_pct")}%.1f%% of jobs"),
          ("module job time + driver gap = step wall", lay("trace.reconcile_err") < 0.01,
            f"worst step off by ${100 * lay("trace.reconcile_err")}%.4f%%"),
          ("every layer metric is listed in BENCHMARK.json", unlisted.isEmpty,
            s"unlisted: ${unlisted.toSeq.sorted.mkString(",")}")))
      checks.foreach { case (n, ok, d) => log(s"check ${if (ok) "ok  " else "FAIL"} $n: $d") }
      log(s"output digest: ${wl.outputDigest}")
      log(f"steps $n: step_p50_s $p50%.4f, step_tail_s $tailS%.4f is p$tailPct%.1f of $n steps " +
        (if (n > 10) "(10 steps beyond it)" else "(the slowest: no percentile has 10 of so few steps beyond it)") +
        f", wall $wallS%.3f s, setup $setupS%.3f s (session $sessionS%.3f s + prepare); step walls " +
        rec.walls.map(w => f"$w%.3f").mkString(" "))
      val metrics: Seq[(String, Double, String)] = trace match {
        case None => Seq(
          ("setup_s", setupS, "s"), ("wall_s", wallS, "s"),
          ("rows_per_s", wl.rowsDelivered / wallS, "1/s"), ("step_p50_s", p50, "s"),
          ("step_tail_s", tailS, "s"), ("heap_peak_mb", heapMb, "MB"))
        case Some(t) =>
          val overheadMs = lay("trace.callback_ms")
          log(f"tracing overhead: listener callbacks $overheadMs%.3f ms/step " +
            f"(${100 * overheadMs / 1000 / p50}%.3f%% of the step p50); compare trace.step_p50_s " +
            "with an untraced run's step_p50_s for the end-to-end cost")
          writeTrace(out, workload, seed, t.json(rec.steps.toSeq, t.attribute(rec.steps.toSeq)), lay)
          layerUnits.map { case (k, unit) => (k, lay.getOrElse(k, 0.0), unit) }
      }
      val failed = rec.failed + checks.count(!_._2)
      val attempted = rec.walls.size + checks.size
      val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    } finally {
      wl.close()
      trace.foreach(_.stop())
      spark.stop()
      Harness.deleteTree(root)
    }
    println(result)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def writeTrace(out: Path, workload: String, seed: Long, lines: Seq[String],
                         lay: Map[String, Double]): Unit = {
    Files.createDirectories(out)
    val f = out.resolve(s"trace-$workload-$seed.jsonl")
    val layers = lay.toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    Files.write(f, (lines :+ s"""{"layers": {$layers}}""").mkString("\n").getBytes("UTF-8"))
  }
}
