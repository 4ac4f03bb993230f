package bench

import java.nio.file.Path

import scala.collection.mutable

/** `sync_hourly`: back-to-back `Pipeline.executeHttp` rounds against the
  * in-process shop over a preloaded order history. Before each round the
  * simulated clock moves one hour: the shop starts serving that hour's new
  * orders and recent-skewed updates, and the pipeline's checkpoint minus
  * its 1 h buffer makes the shop re-deliver the previous hour. Step = one
  * round. The history load is the run's one warm-up call: it is the first
  * pass through the round's code path, and costs most of set-up.
  */
final class SyncHourly(ctx: Ctx) extends Workload {
  import SyncHourly._
  private val steps = math.max(MinSteps, math.round(ctx.seconds / NominalStepS).toInt)
  private val opts = Map("recordsField" -> "orders", "limit" -> "250",
    "partitions" -> ctx.cores.toString, "minIntervalMs" -> "0")

  private var plan: Gen.SyncPlan = _
  private var shop: FakeShop = _
  private var pipeline: graft.Pipeline = _
  private var wh: Path = _
  private val perStep = mutable.ArrayBuffer.empty[Map[String, Double]]

  def prepare(root: Path): Unit = {
    plan = Gen.syncPlan(ctx.seed, History, steps, NewPerRound, UpdatesPerRound, Customers)
    shop = new FakeShop(ctx.cores)
    shop.publish(plan.history)
    wh = root.resolve("warehouse")
    pipeline = new graft.Pipeline(ctx.spark, wh.toString)
    val t = System.nanoTime()
    pipeline.executeHttp(shop.url, opts, forceFullLoad = true, runId = "history")
    ctx.log(f"history load ${(System.nanoTime() - t) / 1e9}%.3f s")
  }

  def run(rec: Recorder): Unit = {
    (0 until steps).foreach { r =>
      shop.publish(plan.rounds(r))
      val expected = History + (r + 1L) * NewPerRound
      val c0 = counters()
      val before = ctx.trace.map(_ => Warehouse.list(wh))
      rec.step(s"round-$r", "Pipeline") {
        val counts = rec.call("Pipeline.executeHttp", "Pipeline") {
          pipeline.executeHttp(shop.url, opts, runId = s"round-$r")
        }
        counts.get("orders").contains(expected)
      }
      before.foreach { b =>
        val d = Warehouse.diff(b, Warehouse.list(wh))
        val c = counters().zip(c0).map { case (x, y) => (x - y).toDouble }
        val Seq(req, nonEmpty, bytes, records, useful, nanos) = c
        val inBytes = plan.rounds(r).map(_.json.length.toLong).sum
        perStep += Map(
          "source.requests" -> req, "source.pages_nonempty" -> nonEmpty,
          "source.bytes" -> bytes, "source.server_s" -> nanos / 1e9,
          "source.records" -> records, "source.useful" -> useful,
          "store.bytes_written" -> d.bytesWritten.toDouble, "store.input_bytes" -> inBytes.toDouble,
          "store.files_live" -> d.filesLive.toDouble, "store.files_rewritten" -> d.filesRewritten.toDouble,
          "store.compactions" -> d.compactions.toDouble, "control.files" -> d.controlFiles.toDouble)
      }
    }
  }

  private def counters(): Seq[Long] =
    Seq(shop.requests, shop.pagesNonEmpty, shop.bytes, shop.records, shop.useful, shop.serverNanos).map(_.get)

  def rowsDelivered: Long = (0 until steps).map(plan.rounds(_).size.toLong).sum

  var outputDigest = ""

  def checks(): Seq[(String, Boolean, String)] = {
    val latest = Gen.latest(plan.history, plan.rounds)
    val (cs, d) = Warehouse.checks(pipeline,
      Gen.expectedCounts(ctx.seed, latest.keys, Customers), Gen.digestOf(latest.values))
    outputDigest = d
    cs
  }

  def layers(rec: Recorder, trace: Trace): Map[String, Double] = {
    val (m, _) = Harness.sparkLayers(rec, trace, ctx.cores, ctx.log)
    val n = perStep.size.toDouble
    def tot(k: String) = perStep.map(_(k)).sum
    m ++ Harness.layer(m, "pipeline", "Pipeline") ++
      Harness.layer(m, "store", "ParquetTableStore", "Upsert") ++
      Harness.layer(m, "control", "SyncControl") ++
      Seq("source.requests", "source.pages_nonempty", "source.bytes",
        "store.bytes_written", "store.files_live", "store.files_rewritten", "store.compactions",
        "control.files").map(k => k -> tot(k) / n) ++
      Map("source.useful_ratio" -> tot("source.useful") / tot("source.records"),
        "source.server_share" -> tot("source.server_s") / rec.walls.sum,
        "source.redelivered_ratio" -> (tot("source.records") - tot("source.useful")) / tot("source.records"),
        "store.write_amp" -> tot("store.bytes_written") / tot("store.input_bytes"))
  }

  override def close(): Unit = if (shop != null) { shop.close(); shop = null }
}

object SyncHourly {
  /** Sizes: the history is loaded once per prepare; each round brings
    * NewPerRound new and UpdatesPerRound updated orders (one page of
    * first deliveries plus the re-delivered previous hour). */
  val History = 5000
  val NewPerRound = 150
  val UpdatesPerRound = 100
  val Customers = 1000
  /** Steps per run = seconds / NominalStepS (at least MinSteps): fixed
    * work for a given --seconds, never bounded by a clock. */
  val NominalStepS = 11.5
  val MinSteps = 2
}
