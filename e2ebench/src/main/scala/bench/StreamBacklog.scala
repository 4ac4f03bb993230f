package bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `stream_backlog`: `Incremental.run` with `Trigger.AvailableNow` drains a
  * backlog of one-page NDJSON files staged before the query starts, over
  * the small state a few warm-up pages left behind. Step = one trigger,
  * timed by the query's own progress record.
  */
final class StreamBacklog(ctx: Ctx) extends Workload {
  import StreamBacklog._
  private val steps = math.max(MinSteps, math.round(ctx.seconds / NominalStepS).toInt)

  private var plan: Gen.StreamPlan = _
  private var pages, wh, ckpt: Path = _
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var storeDiff: Option[Warehouse.Diff] = None

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Writes pages [from, until) as files whose modification times follow
    * page order, which is the order the file source admits them in. */
  private def stage(from: Int, until: Int): Unit = (from until until).foreach { p =>
    val f = pages.resolve(f"page-$p%05d.json")
    Files.write(f, plan.pages(p).map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.setLastModifiedTime(f, FileTime.fromMillis(MtimeBase + p * 1000L))
  }

  private def drain(): Unit = {
    val q = graft.streaming.Incremental.run(ctx.spark, pages.toString, wh.toString, ckpt.toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def prepare(root: Path): Unit = {
    plan = Gen.streamPlan(ctx.seed, WarmPages + steps, NewPerPage, UpdatesPerPage,
      RedeliverPerPage, Customers)
    pages = Files.createDirectories(root.resolve("pages"))
    wh = root.resolve("warehouse")
    ckpt = root.resolve("checkpoint")
    stage(0, WarmPages)
    drain()
    stage(WarmPages, WarmPages + steps)
  }

  def run(rec: Recorder): Unit = {
    progress.clear()
    ctx.spark.streams.addListener(listener)
    val before = ctx.trace.map(_ => Warehouse.list(wh))
    val poller = ctx.trace.map(_ => new Poller(wh))
    val gc0 = Harness.gcMs()
    val t0 = System.nanoTime()
    try drain() finally {
      rec.phaseStartNs = t0
      rec.phaseEndNs = System.nanoTime()
      rec.gcMs = Harness.gcMs() - gc0
      poller.foreach(_.close())
    }
    // the bus delivers progress events asynchronously; the last one may
    // trail the query's termination
    val deadline = System.currentTimeMillis() + 30000
    while (progress.size < steps && System.currentTimeMillis() < deadline) Thread.sleep(10)
    ctx.spark.streams.removeListener(listener)
    for ((b, p) <- before.zip(poller)) storeDiff = Some(p.diff(b))
    val expected = (WarmPages until WarmPages + steps).map(plan.pages(_).size.toLong).iterator
    progress.asScala.toSeq.sortBy(_.batchId).foreach { p =>
      val ms = p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0)).longValue
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      // data batches take one page each, in order; others only move the watermark
      val ok = p.numInputRows == 0 || (expected.hasNext && expected.next() == p.numInputRows)
      rec.add(Span(s"trigger-${p.batchId}", "Incremental", start, start + ms, None), ms / 1000.0, ok)
    }
    if (expected.hasNext) { rec.failed += 1; ctx.log("not every staged page became a batch") }
  }

  def rowsDelivered: Long =
    (WarmPages until WarmPages + steps).map(p => plan.pages(p).size - plan.redelivered(p)).sum.toLong

  var outputDigest = ""

  def checks(): Seq[(String, Boolean, String)] = {
    val latest = Gen.latest(Nil, plan.pages)
    val p = new graft.Pipeline(ctx.spark, wh.toString)
    val (cs, d) = Warehouse.checks(p,
      Gen.expectedCounts(ctx.seed, latest.keys, Customers), Gen.digestOf(latest.values))
    outputDigest = d
    cs
  }

  def layers(rec: Recorder, trace: Trace): Map[String, Double] = {
    val (m, _) = Harness.sparkLayers(rec, trace, ctx.cores, ctx.log)
    val ps = progress.asScala.toSeq
    val n = ps.size.toDouble
    def dur(k: String) = ps.map(p => p.durationMs.asScala.get(k).map(_.longValue).getOrElse(0L)).sum.toDouble
    // each phase as a share of trigger time (durationMs of the progress records)
    def share(k: String) = dur(k) / dur("triggerExecution")
    val state = ps.flatMap(_.stateOperators.headOption)
    val inBytes = (WarmPages until WarmPages + steps).flatMap(p =>
      plan.pages(p).drop(plan.redelivered(p))).map(_.json.length.toLong).sum
    val d = storeDiff.getOrElse(Warehouse.Diff(0, 0, 0, 0, 0))
    m ++ Harness.layer(m, "stream", "Incremental") ++
      Harness.layer(m, "store", "ParquetTableStore", "Upsert") ++ Map(
      "stream.add_batch_share" -> share("addBatch"), "stream.wal_commit_share" -> share("walCommit"),
      "stream.commit_offsets_share" -> share("commitOffsets"), "stream.latest_offset_share" -> share("latestOffset"),
      "stream.planning_share" -> share("queryPlanning"),
      "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).sum / n,
      "stream.state_mb" -> state.map(_.memoryUsedBytes / 1e6).sum / n,
      "store.bytes_written" -> d.bytesWritten / n, "store.write_amp" -> d.bytesWritten.toDouble / inBytes,
      "store.files_live" -> d.filesLive.toDouble, "store.files_rewritten" -> d.filesRewritten / n,
      "store.compactions" -> d.compactions / n)
  }

  /** Lists the warehouse every few milliseconds while the query runs, so
    * files written and replaced between two triggers are still seen. */
  private final class Poller(dir: Path) extends AutoCloseable {
    private val seen = scala.collection.concurrent.TrieMap.empty[String, Warehouse.File]
    @volatile private var stop = false
    private val t = new Thread(() => {
      while (!stop) { seen ++= Warehouse.list(dir); Thread.sleep(PollMs) }
    }, "e2ebench-warehouse-poller")
    t.setDaemon(true)
    t.start()
    def close(): Unit = { stop = true; t.join() }
    /** Totals over the phase: every file seen counts as written once. */
    def diff(before: Map[String, Warehouse.File]): Warehouse.Diff = {
      val after = Warehouse.list(dir)
      seen ++= after
      val d = Warehouse.diff(before, after)
      val data = seen.filter { case (k, _) => !k.startsWith("_") }
      val written = data.filter { case (k, f) => !before.get(k).contains(f) }
      d.copy(bytesWritten = written.values.map(_.size).sum,
        filesRewritten = (data.keySet -- after.keySet).size)
    }
  }
}

object StreamBacklog {
  /** One page = one trigger: NewPerPage new orders, UpdatesPerPage updates
    * of orders last touched at least Gen.UpdateLagPages pages earlier, and
    * RedeliverPerPage copies of the previous page's records. */
  val NewPerPage = 200
  val UpdatesPerPage = 30
  val RedeliverPerPage = 20
  val Customers = 2000
  val WarmPages = 2
  val NominalStepS = 5.0
  val MinSteps = 2
  val PollMs = 20L
  /** File modification times start here (2024-01-01) and step 1 s per page. */
  val MtimeBase = 1704067200000L
}
