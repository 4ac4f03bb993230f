package bench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def sync(seed: Long) = Gen.syncPlan(seed, history = 2000, rounds = 6,
    newPerRound = 150, updatesPerRound = 100, customers = 500)
  private def stream(seed: Long) = Gen.streamPlan(seed, pages = 12, newPerPage = 200,
    updatesPerPage = 30, redeliverPerPage = 20, customers = 500)
  private def json(p: Gen.SyncPlan) = (p.history ++ p.rounds.flatten).map(_.json)

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(json(sync(7)) == json(sync(7)))
    assert(stream(7).pages.flatten.map(_.json) == stream(7).pages.flatten.map(_.json))
    assert(json(sync(7)) != json(sync(8)))
    assert(stream(7).pages.flatten.map(_.json) != stream(8).pages.flatten.map(_.json))
  }

  test("sync updates are skewed toward recent orders") {
    val p = sync(3)
    var maxId = 2000L
    val hits = p.rounds.map { r =>
      val fresh = r.count(_.v == 0)
      val updates = r.filter(_.v > 0)
      val recent = updates.count(_.id > maxId - maxId / 10)
      maxId += fresh
      recent.toDouble / updates.size
    }
    assert(hits.forall(_ > 0.4), s"share of updates in the newest 10%: $hits")
  }

  test("each sync round re-delivers the previous hour and misses nothing") {
    val p = sync(3)
    val shop = new FakeShop(2)
    try {
      def fetchAll(min: Long): Int = Iterator.from(1).map { page =>
        val q = s"updated_at_min=${URLEncoder.encode(Gen.iso(min), UTF_8)}&limit=250&page=$page"
        val c = new URI(s"${shop.url}?$q").toURL.openConnection().asInstanceOf[HttpURLConnection]
        try new String(c.getInputStream.readAllBytes(), UTF_8).split("\"id\":").length - 1
        finally c.disconnect()
      }.takeWhile(_ > 0).sum
      shop.publish(p.history)
      fetchAll(0) // the full history load
      var hwm = p.history.map(_.updatedS).max
      p.rounds.foreach { r =>
        shop.publish(r)
        shop.resetCounters()
        val served = fetchAll(hwm - 3600)
        assert(r.forall(_.updatedS >= hwm - 3600), "a mutation older than the checkpoint would be lost")
        assert(shop.useful.get == r.size, "every mutation of the round is delivered once")
        assert(served > r.size, "the 1 h buffer re-delivers part of the previous hour")
        hwm = r.map(_.updatedS).max
      }
    } finally shop.close()
    assert(shop.terminated, "closing the shop must stop its worker threads")
  }

  test("stream pages re-deliver the previous page and update only settled orders") {
    val p = stream(5)
    p.pages.zipWithIndex.drop(1).foreach { case (page, i) =>
      val again = page.take(p.redelivered(i))
      assert(again.nonEmpty && again.forall(p.pages(i - 1).contains))
      val lastSeen = p.pages.take(i).flatten.groupBy(_.id).view.mapValues(_.map(_.updatedS).max)
      page.drop(again.size).filter(_.v > 0).foreach { v =>
        assert(v.updatedS - lastSeen(v.id) >= (Gen.UpdateLagPages - 1) * 3600L)
      }
    }
    assert(p.pages.flatten.exists(_.v > 0), "some orders are updated")
  }
}
