package bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gets from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cores: Int,
                     trace: Option[Trace], log: String => Unit)

/** One workload: a closed loop of timed steps over inputs built from the
  * seed. The harness calls [[prepare]] (untimed, part of set-up), then
  * [[run]], then [[checks]].
  */
trait Workload extends AutoCloseable {
  /** Builds inputs, loads history and runs warm-up steps under `root`. */
  def prepare(root: Path): Unit
  /** Runs the timed steps, reporting each to `rec`. */
  def run(rec: Recorder): Unit
  /** Input rows delivered to the engine during the timed phase. */
  def rowsDelivered: Long
  /** Correctness checks on the final outputs: (name, passed, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** Layer metrics per step, from the trace (traced runs only). */
  def layers(rec: Recorder, trace: Trace): Map[String, Double]
  /** Digest of the workload's final output, identical across runs of one
    * seed; set by [[checks]]. */
  def outputDigest: String
  override def close(): Unit = ()
}

/** Collects step timings and, when tracing, the call spans inside steps. */
final class Recorder(trace: Option[Trace], log: String => Unit) {
  val walls = mutable.ArrayBuffer.empty[Double]
  val steps = mutable.ArrayBuffer.empty[Span]
  var failed = 0
  var phaseStartNs = 0L
  var phaseEndNs = 0L
  /** Time between steps spent on heap readings, left out of `wall_s`. */
  var pausedNs = 0L
  /** JVM garbage-collection time inside steps (driver and executors share
    * the one JVM of `local[N]`). */
  var gcMs = 0L
  private var inStep = false

  /** Times one step; `body` returns whether the step's own check passed.
    * Before every step but the first it reads the live heap the previous
    * step left (a full collection, outside the step's time). */
  def step(name: String, module: String)(body: => Boolean): Unit = {
    if (walls.nonEmpty) {
      val g = System.nanoTime()
      Harness.HeapWatch.sample()
      pausedNs += System.nanoTime() - g
    }
    val ms0 = System.currentTimeMillis()
    val gc0 = Harness.gcMs()
    val t0 = System.nanoTime()
    if (walls.isEmpty) phaseStartNs = t0
    inStep = true
    val ok = try body catch {
      case e: Throwable => log(s"step ${walls.length} failed: $e"); false
    } finally inStep = false
    val t1 = System.nanoTime()
    gcMs += Harness.gcMs() - gc0
    phaseEndNs = t1
    add(Span(name, module, ms0, System.currentTimeMillis(), None), (t1 - t0) / 1e9, ok)
  }

  /** Records a step, possibly timed elsewhere (a streaming trigger). */
  def add(span: Span, wallS: Double, ok: Boolean): Unit = {
    walls += wallS
    steps += span
    if (!ok) failed += 1
  }

  /** A call span for one public engine call inside the current step. */
  def call[T](name: String, module: String)(body: => T): T = trace match {
    case Some(t) if inStep =>
      val s = System.currentTimeMillis()
      try body finally t.calls += Span(name, module, s, System.currentTimeMillis(), Some(steps.length))
    case _ => body
  }
}

object Harness {
  /** Spark's view of the benchmark machine: a fixed core count, no UI, and
    * every scratch path under the run's root. */
  def session(root: Path, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("e2ebench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Collection time of all the JVM's collectors so far, in ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally all.close()
    }

  /** Cumulative (steal, total) jiffies of the host's aggregate cpu line,
    * when the platform has one: steal is CPU time the hypervisor gave to
    * someone else, the usual cause of a slow run on shared machines. */
  def hostCpu(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: java.io.IOException => None }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten steps beyond it, as (value,
    * percentile): the (n-10)th smallest of n steps. A run of ten steps or
    * fewer has no such percentile; it reports its slowest step (p100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length > 10) (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
    else (s.last, 100.0)
  }

  /** Live heap: heap in use (heap pools only) right after a full
    * collection, once it stops falling. [[sample]] takes one reading between
    * steps and at the end of the timed phase; the peak over a run's readings
    * is what the workload holds, independent of when the collector happened
    * to run. */
  object HeapWatch {
    private var peak = 0L
    def reset(): Unit = peak = 0L
    private def afterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    /** Collects again every SettleMs until a reading drops by less than
      * 1 MB: right after a stream drain, 60-120 MB (a different amount each
      * run) is still held by threads that are winding down and goes within
      * half a second. */
    def sample(): Unit = {
      var used = afterGc()
      var falling = true
      var n = 1
      while (falling && n < MaxReadings) {
        Thread.sleep(SettleMs)
        val u = afterGc()
        falling = u < used - 1000000
        used = math.min(used, u)
        n += 1
      }
      peak = math.max(peak, used)
    }
    private val SettleMs = 250L
    private val MaxReadings = 8
    def peakMb: Double = peak / 1e6
  }

  /** Per-step Spark engine metrics over `steps`, plus each module's share
    * of job time; the map also carries the attribution self-check. */
  def sparkLayers(rec: Recorder, trace: Trace, cores: Int,
                  log: String => Unit): (Map[String, Double], Seq[Trace.Attributed]) = {
    val n = rec.steps.length.toDouble
    val att = trace.attribute(rec.steps.toSeq)
    val st = trace.stagesOf(att.map(_.job))
    val wallMs = rec.steps.map(s => (s.endMs - s.startMs).toDouble).sum
    var union = 0.0
    val moduleMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var worst = 0.0
    rec.steps.foreach { s =>
      val (sh, cov) = trace.share(s.startMs, s.endMs, att.map(a => (a.module, a.job.startMs, a.endMs)))
      union += cov
      sh.foreach { case (m, v) => moduleMs(m) += v }
      val w = (s.endMs - s.startMs).toDouble
      val gap = w - cov
      if (w > 0) worst = math.max(worst, math.abs(sh.values.sum + gap - w) / w)
    }
    val jobsBy = att.groupBy(_.module).view.mapValues(_.size).toMap
    val via = att.groupBy(_.via).view.mapValues(_.size).toMap
    val taskS = st.map(_.runMs).sum / 1000.0
    log(f"trace: ${att.size} jobs in ${rec.steps.size} steps; attributed via " +
      via.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    jobsBy.toSeq.sortBy(-_._2).foreach { case (m, c) =>
      log(f"trace:   module $m%-22s jobs/step ${c / n}%7.2f  job_s/step ${moduleMs(m) / 1000 / n}%8.4f")
    }
    val m = Map(
      "spark.jobs" -> att.size / n,
      "spark.stages" -> st.size / n,
      "spark.tasks" -> st.map(_.tasks).sum / n,
      "sql.executions" -> rec.steps.map(s => trace.executionsIn(s.startMs, s.endMs)).sum / n,
      "catalyst.planning_s" -> rec.steps.map(s => trace.planningIn(s.startMs, s.endMs)).sum / n,
      "spark.driver_gap_s" -> (wallMs - union) / 1000 / n,
      "spark.task_s" -> taskS / n,
      "spark.cores_busy" -> (if (wallMs > 0) taskS / (cores * wallMs / 1000) else 0.0),
      "spark.gc_s" -> rec.gcMs / 1000.0 / n,
      "spark.shuffle_mb" -> st.map(_.shuffleMb).sum / n,
      "spark.spill_mb" -> st.map(_.spillMb).sum / n,
      // every job must name an engine frame in its execution's or stage's call site
      "trace.attributed_pct" -> (if (att.isEmpty) 100.0 else 100.0 * att.count(_.via != "none") / att.size),
      "trace.reconcile_err" -> worst) ++
      moduleMs.map { case (k, v) => s"module.$k.job_share" -> (if (wallMs > 0) v / wallMs else 0.0) } ++
      jobsBy.map { case (k, v) => s"module.$k.jobs" -> v / n }
    (m, att)
  }

  /** Sums module shares into a layer's `jobs` (per step) and `job_share`
    * (the share of step wall its jobs ran, a ratio so that a layer a
    * workload never enters reads 0 without posing as a time). */
  def layer(m: Map[String, Double], prefix: String, modules: String*): Map[String, Double] =
    Map(s"$prefix.jobs" -> modules.map(x => m.getOrElse(s"module.$x.jobs", 0.0)).sum,
      s"$prefix.job_share" -> modules.map(x => m.getOrElse(s"module.$x.job_share", 0.0)).sum)
}
