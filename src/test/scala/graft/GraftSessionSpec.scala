package graft

import java.nio.file.Files
import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** What the session settings of [[GraftSession.builder]] buy a
  * long-lived process: generated code that stays compiled across sync
  * rounds, and a status store that does not grow with every query. */
class GraftSessionSpec extends SparkSpec {

  private lazy val pagesDir = getClass.getResource("/orders_pages").getPath

  private val isoOffset = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
  private val updatedAt = "\"updated_at\": \"([^\"]+)\"".r

  /** The fixture pages with every `updated_at` moved `days` days later. */
  private def shifted(days: Int): String = {
    val dir = Files.createTempDirectory(s"graft_pages_shift$days")
    new java.io.File(pagesDir).listFiles().foreach { f =>
      val lines = Files.readAllLines(f.toPath).asScala.map(l =>
        updatedAt.replaceAllIn(l, m => "\"updated_at\": \"" +
          OffsetDateTime.parse(m.group(1)).plusDays(days).format(isoOffset) + "\""))
      Files.write(dir.resolve(f.getName), lines.asJava)
    }
    dir.toString
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a steady incremental sync round compiles no generated code") {
    val p = new Pipeline(spark, Files.createTempDirectory("graft_wh_codegen").toString)
    p.execute(pagesDir, forceFullLoad = true, runId = "load")
    val rounds = (1 to 3).map { r =>
      val (k0, checkpoint) = (compiles(), p.control.lastSyncWithBuffer("orders").get)
      assert(p.execute(shifted(2 * r), runId = s"round$r")("orders") == 4)
      // every round loads new versions, so its checkpoint moves
      assert(p.control.lastSyncWithBuffer("orders").get.after(checkpoint))
      compiles() - k0
    }
    info(s"classes compiled per incremental round: $rounds")
    assert(rounds.last == 0, s"classes compiled per incremental round: $rounds")
  }

  test("the status store keeps at most RetainedStatus SQL executions") {
    (1 to GraftSession.RetainedStatus + 20).foreach(i => spark.range(i).count())
    eventually(timeout(30.seconds), interval(100.millis)) {
      val kept = spark.sharedState.statusStore.executionsCount()
      assert(kept <= GraftSession.RetainedStatus, s"$kept executions kept")
    }
  }
}
