package graft

import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Measurement harness for OPTIMIZING individual gates (guide §1): runs
  * each selected gate once cold, printing `<name> cold: <s> rows=<n>
  * compiles=<n> cpu_s=<s> jit_ms=<ms>`, then N warm reps, printing
  * per-rep wall seconds (`== <name> rep <i>: <s> s compiles=<n> cpu_s=<s>
  * jit_ms=<ms>`) and a per-gate stage breakdown (task time, shuffle
  * bytes, spill) attributed via job descriptions. `compiles` counts the
  * classes Spark's code generator compiled during that pass: a warm rep
  * that compiles anything generates different code each run, usually a
  * per-run literal inlined into generated Java. `cpu_s` is the process
  * CPU time of the pass and `jit_ms` the JVM's JIT compile time in it: a
  * reading of driver-side work (Hadoop, parquet, planning) that no Spark
  * job's task metrics carry. Dev tool only — the bench contract lives in
  * [[Bench]]; this main exists so a change can be attributed to the
  * stage it actually moved before a full sweep.
  *
  * Gates are selected by SUBSTRING: a gate runs when its name contains
  * any of the comma-separated substrings (`q2` selects q20 to q29,
  * `q02_` only q02). With 0 reps this is an order-of-magnitude scale
  * smoke — one cold timed count per gate against any table dir (e.g. a
  * synthetic 10x corpus), not a benchmark (use [[Bench]] for medians).
  *
  * Usage: runMain graft.Profile <sfDir> <reps> <nameSubstr>[,substr...]
  * (a large dir may need `SPARK_DRIVER_MEM=24g`)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val selected = SparkEntry.select(Some(args(2)))
    val spark = GraftSession.local("ERROR")

    // stage metrics keyed by the job description active when the stage's
    // job started (stage -> description via jobStart's stage ids)
    val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long, Long, Long, Long, Long)]()
    val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("?")
        js.stageIds.foreach(sid => stageDesc.put(sid, d))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        // deepest graft-owned frames of the stage's callsite: the
        // operator lines this stage's RDD was built from
        val site = si.details.linesIterator
          .filter(l => l.contains("graft.") && !l.contains("graft.Profile"))
          .take(2).mkString(" <- ").trim
        stageSite.put(si.stageId, si.name.take(60) +
          (if (site.nonEmpty) s" | $site" else ""))
        rows.add((stageDesc.getOrDefault(si.stageId, "?"), si.stageId,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, si.numTasks.toLong, m.jvmGCTime))
      }
    })

    selected.foreach { g =>
      val (name, fn) = (g.name, g.plan)
      // cold pass, doubling as warmup (pays fixture builds + codegen)
      val c0 = System.nanoTime()
      val k0 = counters()
      try {
        val n = fn(spark, sfDir).count()
        println(f"$name%s cold: ${(System.nanoTime() - c0) / 1e9}%.3f rows=$n%d " +
          since(k0))
      } catch { case e: Throwable => println(s"$name WARMUP FAILED: $e") }
      (1 to reps).foreach { i =>
        rows.clear()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val k0 = counters()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"$name rep $i FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        println(f"== $name%s rep $i%d: $sec%.3f s " + since(k0))
        if (i == reps) {
          // top stages of the LAST rep by executor run time
          import scala.jdk.CollectionConverters._
          val top = rows.asScala.toSeq.sortBy(-_._3).take(12)
          top.foreach { case (d, sid, run, sr, sw, sp, nt, gc) =>
            // the stage's job description first: operators label their
            // eager sub-jobs (guide §1.5), which beats the callsite when
            // futures/SQL-execution pools hide the graft frames
            val lbl = if (d != name && d != "?") s"[$d] " else ""
            println(f"   stage $sid%5d ${run / 1000.0}%8.2fs task-time " +
              f"(gc ${gc / 1000.0}%6.2fs)  " +
              f"shufR ${sr / 1e6}%8.1fMB shufW ${sw / 1e6}%8.1fMB " +
              f"spill ${sp / 1e6}%6.1fMB tasks $nt%4d  " + lbl +
              stageSite.getOrDefault(sid, ""))
          }
        }
      }
    }
    spark.stop()
  }

  /** (classes compiled by Spark's code generator, process CPU ns, JIT
    * compile ms) so far in this JVM. */
  private def counters(): (Long, Long, Long) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  /** `compiles=<n> cpu_s=<s> jit_ms=<ms>` since the reading `k0`. */
  private def since(k0: (Long, Long, Long)): String = {
    val (c, cpu, jit) = counters()
    f"compiles=${c - k0._1}%d cpu_s=${(cpu - k0._2) / 1e9}%.3f jit_ms=${jit - k0._3}%d"
  }
}
