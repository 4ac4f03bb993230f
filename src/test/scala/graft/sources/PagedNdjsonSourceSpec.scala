package graft.sources

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PagedNdjsonSourceSpec extends SparkSpec {
  import spark.implicits._

  test("atOrAfter keeps what the literal comparison keeps") {
    val ts = Timestamp.from(java.time.Instant.parse("2024-03-02T12:00:00Z"))
    def both(df: DataFrame) = Seq(
      df.filter(to_timestamp($"updated_at") >= lit(ts)),
      df.filter(PagedNdjsonSource.atOrAfter($"updated_at", ts)))
    val df = Seq(Some("2024-03-02T11:59:59.999999+00:00"), Some("2024-03-02T12:00:00+00:00"),
      Some("2024-03-02T12:00:00.000001+00:00"), Some("2024-03-03T09:00:00+00:00"),
      Some("2024-03-02T13:00:00+01:00"), None).toDF("updated_at")
    val Seq(viaLiteral, viaUdf) = both(df).map(_.as[String].collect().toSet)
    assert(viaUdf == viaLiteral)
    assert(viaUdf == Set("2024-03-02T12:00:00+00:00", "2024-03-02T12:00:00.000001+00:00",
      "2024-03-03T09:00:00+00:00", "2024-03-02T13:00:00+01:00"))
    // an unparsable value fails the parse in both forms
    both(Seq("not a timestamp").toDF("updated_at")).foreach { f =>
      val e = intercept[Exception](f.collect())
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    }
  }
}
