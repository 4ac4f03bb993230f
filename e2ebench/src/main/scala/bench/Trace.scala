package bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the benchmark: a step span (one unit of timed work)
  * or a call span (one public engine call a step made; `step` is that
  * step's index). Times are wall-clock milliseconds so they line up with
  * Spark's listener events. */
final case class Span(name: String, module: String, startMs: Long, endMs: Long, step: Option[Int])

/** Spans plus Spark's public listener events, kept in memory and turned
  * into per-step layer metrics after the timed phase.
  *
  * Every Spark job is attributed to an engine module: the innermost
  * `graft.` frame of its SQL execution's call site, else of its first
  * stage's call site. A job with no engine frame in either call site stays
  * unattributed, which fails the traced run's check.
  */
object Trace {
  final case class Job(id: Int, startMs: Long, exec: Option[Long], stages: Seq[Int], desc: String)
  final case class StageDone(id: Int, runMs: Long, shuffleMb: Double,
                             spillMb: Double, tasks: Int, site: String)
  final case class Exec(id: Long, startMs: Long, site: String)
  final case class Attributed(job: Job, endMs: Long, module: String, via: String)
}

final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageDone]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  private val planning = new ConcurrentLinkedQueue[(Long, Double)]() // (startMs, seconds)
  /** Time spent inside this class's callbacks: the tracing overhead that
    * lands on Spark's listener thread. */
  val callbackNanos = new AtomicLong()

  /** Call spans, recorded by [[Recorder.call]]. */
  val calls = mutable.ArrayBuffer.empty[Span]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  private val Marker = "e2ebench-trace-drain"
  @volatile private var drained = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      if (desc == Marker) drained = true
      else jobs.add(Job(e.jobId, e.time,
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.stageIds, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobEnds.put(e.jobId, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages.add(StageDone(s.stageId, m.executorRunTime,
        (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead) / 1e6,
        m.diskBytesSpilled / 1e6, s.numTasks, s.details))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.put(s.executionId, Exec(s.executionId, s.time, s.details))
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) planning.add((ph.values.map(_.startTimeMs).min,
        ph.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every event posted so far has reached the listener: runs
    * one marker job and waits for its start event, which the bus delivers
    * after all earlier events of the same queue. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
    val deadline = System.currentTimeMillis() + 60000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(drained, "listener bus did not drain within 60 s")
    drained = false
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  // ---------------------------------------------------------- attribution

  /** Innermost engine frame of a call site, as a module name
    * (`graft.operators.ParquetTableStore$$anon$1.call` -> `ParquetTableStore`). */
  def moduleOf(site: String): Option[String] =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
      cls.takeWhile(_ != '$').split('.').last
    }

  /** Attributes every job that ran inside a step span, recording how the
    * module was found (`exec`, `stage`) or `none`. */
  def attribute(steps: Seq[Span]): Seq[Attributed] = {
    val stageSite = stages.asScala.map(s => s.id -> s.site).toMap
    jobs.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val end: Long = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)
      val inStep = steps.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
      if (!inStep) None
      else {
        val byExec = j.exec.flatMap(id => Option(execs.get(id))).flatMap(e => moduleOf(e.site))
        lazy val byStage = j.stages.sorted.headOption.flatMap(stageSite.get).flatMap(moduleOf)
        val (m, via) = byExec.map(_ -> "exec")
          .orElse(byStage.map(_ -> "stage"))
          .getOrElse("?" -> "none")
        Some(Attributed(j, end, m, via))
      }
    }
  }

  /** Splits `[from, to]` among the intervals that overlap it: at each
    * instant the running intervals share it equally. Returns the share per
    * key and the covered (union) length, in milliseconds. */
  def share[K](from: Long, to: Long, ivs: Seq[(K, Long, Long)]): (Map[K, Double], Double) = {
    val clipped = ivs.map { case (k, s, e) => (k, math.max(s, from), math.min(e, to)) }
      .filter { case (_, s, e) => e > s }
    val cuts = (clipped.flatMap { case (_, s, e) => Seq(s, e) } ++ Seq(from, to)).distinct.sorted
    val acc = mutable.Map.empty[K, Double].withDefaultValue(0.0)
    var covered = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val live = clipped.filter { case (_, s, e) => s <= a && e >= b }
        if (live.nonEmpty) {
          covered += b - a
          live.foreach { case (k, _, _) => acc(k) += (b - a).toDouble / live.size }
        }
      case _ => ()
    }
    (acc.toMap, covered)
  }

  def stagesOf(js: Seq[Job]): Seq[StageDone] = {
    val ids = js.flatMap(_.stages).toSet
    stages.asScala.filter(s => ids(s.id)).toSeq
  }

  def executionsIn(from: Long, to: Long): Int =
    execs.values.asScala.count(e => e.startMs >= from && e.startMs <= to)

  def planningIn(from: Long, to: Long): Double =
    planning.asScala.collect { case (t, s) if t >= from && t <= to => s }.sum

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  /** Step spans, call spans, then the attributed jobs with their SQL
    * execution's engine frame and stage totals, as JSON lines. */
  def json(steps: Seq[Span], att: Seq[Attributed]): Seq[String] = {
    val byStage = stages.asScala.map(s => s.id -> s).toMap
    def span(kind: String, i: Int, s: Span) =
      s"""{"$kind":$i,"name":${q(s.name)},"module":${q(s.module)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs}${s.step.map(x => s",\"step\":$x").getOrElse("")}}"""
    val sp = steps.zipWithIndex.map { case (s, i) => span("step", i, s) } ++
      calls.zipWithIndex.map { case (s, i) => span("call", i, s) }
    val js = att.map { a =>
      val st = a.job.stages.flatMap(byStage.get)
      val site = a.job.exec.flatMap(id => Option(execs.get(id)))
        .flatMap(_.site.linesIterator.map(_.trim).find(_.startsWith("graft."))).getOrElse("")
      s"""{"job":${a.job.id},"module":${q(a.module)},"via":${q(a.via)},"start_ms":${a.job.startMs},""" +
        s""""end_ms":${a.endMs},"execution":${a.job.exec.map(_.toString).getOrElse("null")},""" +
        s""""description":${q(a.job.desc)},"call_site":${q(site)},"stages":${st.size},""" +
        s""""tasks":${st.map(_.tasks).sum},"task_ms":${st.map(_.runMs).sum}}"""
    }
    sp ++ js
  }
}
