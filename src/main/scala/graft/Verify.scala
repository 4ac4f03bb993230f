package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[SparkEntry.gates]] result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. */
object Verify {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in a gate's oracle SQL would otherwise
    * make the compare's json.load fail and silently zero every gate. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated gate-name substrings (local
    // iteration only; the driver always invokes with exactly two args)
    val selected = SparkEntry.select(args.lift(2))
    val spark = GraftSession.local("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST (VERDICT r16 item 1b): it depends on nothing
    // the queries compute, and a wall-clock kill mid-sweep must not
    // invalidate the whole compare by leaving the SQL file unwritten.
    val json = SparkEntry.gates
      .map(g => s"${jsonString(g.name)}: ${jsonString(g.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sorted, deterministic iteration (VERDICT r16 item 1a): alphabetical
    // order makes a wall-clock kill mid-sweep a visible tail of missing
    // gates instead of a scattered set.
    val total = selected.size
    var done = 0
    selected.foreach { g =>
      val name = g.name
      // drop any previous result FIRST: if this query throws, a stale dir
      // from an earlier run must not pass the oracle compare in its place
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dst.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dst, true)
      val t0 = System.nanoTime()
      try g.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      done += 1
      val sec = (System.nanoTime() - t0) / 1e9
      // per-query wall time + progress on stderr (VERDICT r16 item 1c):
      // a truncated driver log then names exactly where the sweep stood
      System.err.println(f"[verify] done $done%d/$total%d $name%s ${sec}%.2fs")
    }
    spark.stop()
  }
}
