package bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, unix_timestamp}

/** Store-layer probe: the warehouse's parquet files, compared before and
  * after a step, and the read-back of the final tables for the checks. */
object Warehouse {
  final case class File(size: Long, mtime: Long)

  /** Data files by path relative to the warehouse, e.g. `orders/part-0.parquet`. */
  def list(wh: Path): Map[String, File] =
    if (!Files.exists(wh)) Map.empty
    else {
      val s = Files.walk(wh)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => wh.relativize(p).toString -> File(Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }

  private def table(rel: String): String = rel.takeWhile(_ != '/')

  /** Per-step totals of what a step did to the data tables, plus the
    * control table's file count. */
  final case class Diff(bytesWritten: Long, filesLive: Int, filesRewritten: Int,
                        compactions: Int, controlFiles: Int)

  def diff(before: Map[String, File], after: Map[String, File]): Diff = {
    def data(m: Map[String, File]) = m.filter { case (k, _) => !table(k).startsWith("_") }
    val (b, a) = (data(before), data(after))
    val written = a.filter { case (k, f) => !b.get(k).contains(f) }
    val gone = b.keySet -- a.keySet
    val perTable = (m: Map[String, File]) => m.keys.groupBy(table).view.mapValues(_.size).toMap
    val (nb, na) = (perTable(b), perTable(a))
    // compaction rewrites a many-file table down to a quarter of its files;
    // a MERGE only ever rewrites the few files holding matched keys
    val compactions = nb.count { case (t, n) => n >= 8 && na.getOrElse(t, 0) * 4 <= n }
    Diff(written.values.map(_.size).sum, a.size, gone.size, compactions,
      after.keys.count(k => table(k) == "_sync_control"))
  }

  /** (order_id, updated_at seconds, financial_status, fulfillment_status,
    * total_price) of every row of the orders table. */
  def orderRows(p: graft.Pipeline): Seq[(String, Long, String, String, Double)] =
    p.readFinal("orders").map(_.select(col("order_id"), unix_timestamp(col("updated_at")),
        col("financial_status"), col("fulfillment_status"), col("total_price"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4))))
      .getOrElse(Nil)

  /** The checks both write workloads share: table counts and the orders
    * digest equal the generator's latest versions, keys are unique and no
    * line item is orphaned. Also returns the orders digest. */
  def checks(p: graft.Pipeline, expectCounts: Map[String, Long],
             expectDigest: String): (Seq[(String, Boolean, String)], String) = {
    val v = p.verify()
    val counts = expectCounts.keys.toSeq.sorted.map(t => t -> v.get(t).map(_._1).getOrElse(-1L))
    val digest = Gen.digest(orderRows(p))
    val dupes = v.collect { case (t, (total, distinct)) if t != "line_items_orphans" && total != distinct => t }
    val orphans = v.get("line_items_orphans").map(_._1).getOrElse(-1L)
    (Seq(
      ("table counts", counts.forall { case (t, n) => expectCounts(t) == n },
        counts.map { case (t, n) => s"$t=$n/${expectCounts(t)}" }.mkString(" ")),
      ("orders digest", digest == expectDigest, s"$digest vs $expectDigest"),
      ("unique keys", dupes.isEmpty, s"duplicated: ${dupes.mkString(",")}"),
      ("no orphans", orphans == 0L, s"orphaned line items: $orphans")), digest)
  }
}
