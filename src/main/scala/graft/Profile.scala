package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Measurement harness for OPTIMIZING individual gates (guide §1): runs
  * each selected gate once cold, printing `<name> cold: <s> rows=<n>
  * compiles=<n>`, then N warm reps, printing per-rep wall seconds
  * (`== <name> rep <i>: <s> s compiles=<n>`) and a per-gate stage
  * breakdown (task time, shuffle bytes, spill) attributed via job
  * descriptions. `compiles` counts the classes Spark's code generator
  * compiled during that pass: a warm rep that compiles anything
  * generates different code each run, usually a per-run literal inlined
  * into generated Java. Dev tool only — the bench contract lives in
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
      val k0 = compiles()
      try {
        val n = fn(spark, sfDir).count()
        println(f"$name%s cold: ${(System.nanoTime() - c0) / 1e9}%.3f rows=$n%d " +
          s"compiles=${compiles() - k0}")
      } catch { case e: Throwable => println(s"$name WARMUP FAILED: $e") }
      (1 to reps).foreach { i =>
        rows.clear()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val k0 = compiles()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"$name rep $i FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        println(f"== $name%s rep $i%d: $sec%.3f s compiles=${compiles() - k0}%d")
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

  /** Classes compiled by Spark's code generator so far in this JVM. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
