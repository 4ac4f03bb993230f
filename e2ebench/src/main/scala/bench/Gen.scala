package bench

import java.time.Instant
import java.util.SplittableRandom

/** Seeded input generators. Every input a run uses comes from here, is
  * built before timing starts, and depends on nothing but the seed and the
  * size arguments: the same seed gives byte-identical inputs.
  */
object Gen {

  /** Simulated clock origin (2024-07-01T00:00:00Z); round/page r covers the
    * hour starting at `T0 + r * 3600`. */
  val T0: Long = 1719792000L

  def iso(epochS: Long): String = Instant.ofEpochSecond(epochS).toString.dropRight(1) + "+00:00"

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xC2B2AE3D27D4EB4FL)

  // ------------------------------------------------------------- orders

  private val FinStatus = Array("pending", "authorized", "paid", "partially_refunded", "refunded")
  private val FulStatus = Array("", "partial", "fulfilled")

  /** One version of one order: the JSON document the source serves and the
    * fields the warehouse check compares. */
  final case class Version(id: Long, v: Int, updatedS: Long, json: String,
                           finStatus: String, fulStatus: String, total: String)

  /** Static (version-independent) facts of an order; line items, customer
    * and address never change, so MERGE keys and counts stay predictable. */
  final case class Facts(customer: Int, items: Int, discount: Boolean)

  def facts(seed: Long, id: Long, customers: Int): Facts = {
    val r = rng(seed, id)
    Facts(1 + r.nextInt(customers), 1 + r.nextInt(3), r.nextInt(4) == 0)
  }

  def version(seed: Long, id: Long, v: Int, createdS: Long, updatedS: Long,
              customers: Int): Version = {
    val f = facts(seed, id, customers)
    val r = rng(seed, id)
    val sb = new StringBuilder(640)
    val prices = Array.fill(f.items)((1 + r.nextInt(9000)) / 100.0)
    val qty = Array.fill(f.items)(1 + r.nextInt(3))
    val sub = prices.zip(qty).map { case (p, q) => p * q }.sum
    val fin = FinStatus((id + v).toInt % FinStatus.length)
    val ful = FulStatus(v % FulStatus.length)
    val total = f"${sub * 1.08 + v * 0.01}%.2f"
    val c = f.customer
    sb ++= s"""{"id":$id,"created_at":"${iso(createdS)}","updated_at":"${iso(updatedS)}","""
    sb ++= s""""processed_at":"${iso(createdS + 5)}","subtotal_price":"${f"$sub%.2f"}","""
    sb ++= s""""total_price":"$total","total_tax":"${f"${sub * 0.08}%.2f"}","""
    sb ++= s""""financial_status":"$fin","fulfillment_status":"$ful","currency":"USD","""
    sb ++= s""""source_name":"${if (id % 3 == 0) "pos" else "web"}","""
    sb ++= s""""customer":{"id":$c,"email":"c$c@shop.example","created_at":"${iso(T0 - 86400L * 400 + c)}","""
    sb ++= s""""first_name":"F$c","last_name":"L$c","phone":"+1555$c","verified_email":${c % 2 == 0},"""
    sb ++= s""""accepts_marketing":${c % 3 == 0}},"line_items":["""
    sb ++= (0 until f.items).map { k =>
      s"""{"product_id":${100 + (id * 7 + k) % 500},"variant_id":${id * 10 + k},""" +
        s""""name":"P${(id * 7 + k) % 500}","price":"${f"${prices(k)}%.2f"}","quantity":${qty(k)},"vendor":"V${k % 4}"}"""
    }.mkString(",")
    sb ++= s"""],"shipping_address":{"first_name":"F$c","last_name":"L$c","address1":"$id Main St","""
    sb ++= s""""city":"City${c % 50}","province":"P${c % 10}","country":"US","zip":"${10000 + c}"},"""
    sb ++= s""""discount_codes":[${if (f.discount) s"""{"code":"SAVE${id % 20}","amount":"5.00"}""" else ""}]}"""
    Version(id, v, updatedS, sb.toString, fin, ful, total)
  }

  /** Row counts the six warehouse tables must hold for a set of orders. */
  def expectedCounts(seed: Long, ids: Iterable[Long], customers: Int): Map[String, Long] = {
    val fs = ids.toSeq.map(facts(seed, _, customers))
    val custs = fs.map(_.customer).toSet.size.toLong
    Map("orders" -> ids.size.toLong, "line_items" -> fs.map(_.items.toLong).sum,
      "customers" -> custs, "marketing_consent" -> custs,
      "shipping_addresses" -> ids.size.toLong,
      "discount_codes" -> fs.count(_.discount).toLong)
  }

  /** Order-independent digest of the latest version of every order, over
    * the columns the warehouse check reads back. */
  def digest(rows: Iterable[(String, Long, String, String, Double)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toSeq.sortBy(_._1).foreach { case (id, upd, fin, ful, tot) =>
      md.update(s"$id|$upd|$fin|$ful|$tot\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def digestOf(latest: Iterable[Version]): String =
    digest(latest.map(v => (v.id.toString, v.updatedS, v.finStatus, v.fulStatus, v.total.toDouble)))

  /** The hourly-sync history: `history` orders created over the 30 days
    * before T0 and last updated before T0 - 1 h (so the first incremental
    * round's checkpoint minus its 1 h buffer lies before every round), then `rounds` hours of mutations. Each round creates
    * `newPerRound` orders and updates `updatesPerRound` distinct existing
    * ones, drawn with a skew toward recent orders (id = max - max * u^4, so
    * ~56% of updates hit the newest 10% of orders). All mutations of round
    * r carry updated_at inside hour [T0 + r h, T0 + (r+1) h). */
  final case class SyncPlan(history: Vector[Version], rounds: Vector[Vector[Version]])

  def syncPlan(seed: Long, history: Int, rounds: Int, newPerRound: Int,
               updatesPerRound: Int, customers: Int): SyncPlan = {
    val r = rng(seed, -1)
    val created = new Array[Long](history + rounds * newPerRound + 1)
    val ver = new Array[Int](created.length)
    val hist = (1 to history).map { i =>
      val c = T0 - 30L * 86400 + (i.toLong * (30 * 86400 - 7200)) / history
      created(i) = c
      version(seed, i, 0, c, c + r.nextInt(3600), customers)
    }.toVector
    var maxId = history.toLong
    val rs = (0 until rounds).map { round =>
      val hour = T0 + round * 3600L
      val upd = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (upd.size < math.min(updatesPerRound, maxId)) {
        val u = r.nextDouble()
        upd += math.max(1L, maxId - (maxId * u * u * u * u).toLong)
      }
      val updates = upd.toVector.map { id =>
        ver(id.toInt) += 1
        version(seed, id, ver(id.toInt), created(id.toInt), hour + r.nextInt(3600), customers)
      }
      val fresh = (1 to newPerRound).map { _ =>
        maxId += 1
        val c = hour + r.nextInt(3600)
        created(maxId.toInt) = c
        version(seed, maxId, 0, c, c, customers)
      }
      updates ++ fresh
    }.toVector
    SyncPlan(hist, rs)
  }

  /** Latest version of every order after the history and all rounds. */
  def latest(history: Seq[Version], rounds: Seq[Seq[Version]]): Map[Long, Version] =
    (history.iterator ++ rounds.iterator.flatten).foldLeft(Map.empty[Long, Version]) {
      (m, v) => if (m.get(v.id).forall(_.v < v.v)) m.updated(v.id, v) else m
    }

  /** Minimum age, in pages (hours), of an order's previous version before
    * the stream backlog updates it. */
  val UpdateLagPages = 6

  final case class StreamPlan(pages: Vector[Vector[Version]], redelivered: Vector[Int])

  /** Stream backlog: `pages` one-page NDJSON files, page p holding hour p's
    * mutations: `newPerPage` new orders, `updatesPerPage` updates of orders
    * whose previous version is at least [[UpdateLagPages]] pages old (so it
    * passes the stream's 1 h watermark dedup and reaches the MERGE), and,
    * first, `redeliverPerPage` verbatim copies of page p-1 records (the
    * re-delivery the watermark dedup must drop; counted in `redelivered`). */
  def streamPlan(seed: Long, pages: Int, newPerPage: Int, updatesPerPage: Int,
                 redeliverPerPage: Int, customers: Int): StreamPlan = {
    val r = rng(seed, -2)
    val lastPage = scala.collection.mutable.ArrayBuffer.empty[Int] // by id-1
    val created = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ver = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Vector.newBuilder[Vector[Version]]
    val redeliv = Vector.newBuilder[Int]
    var prev = Vector.empty[Version]
    (0 until pages).foreach { p =>
      val hour = T0 + p * 3600L
      val eligible = lastPage.size - lastPage.reverseIterator.takeWhile(_ > p - UpdateLagPages).size
      val upd = scala.collection.mutable.LinkedHashSet.empty[Int]
      val nUpd = if (eligible > 0) math.min(updatesPerPage, eligible) else 0
      while (upd.size < nUpd) {
        val u = r.nextDouble()
        val idx = math.max(0, eligible - 1 - (eligible * u * u).toInt)
        if (lastPage(idx) <= p - UpdateLagPages) upd += idx
      }
      val updates = upd.toVector.map { idx =>
        ver(idx) += 1; lastPage(idx) = p
        version(seed, idx + 1L, ver(idx), created(idx), hour + 60 + r.nextInt(3540), customers)
      }
      val fresh = (1 to newPerPage).map { _ =>
        val c = hour + 60 + r.nextInt(3540)
        created += c; ver += 0; lastPage += p
        version(seed, created.size.toLong, 0, c, c, customers)
      }
      val again = prev.takeRight(redeliverPerPage)
      val page = again ++ updates ++ fresh
      out += page; redeliv += again.size
      prev = (updates ++ fresh).toVector
    }
    StreamPlan(out.result(), redeliv.result())
  }
}
