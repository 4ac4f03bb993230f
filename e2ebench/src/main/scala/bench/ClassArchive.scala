package bench

import java.nio.file.Paths

/** The training run for the JVM's class-data-sharing archive that run.py
  * builds next to the classes: starts the benchmark's Spark session, runs a
  * small parquet write, read, aggregate and join, and stops. The classes
  * this loads (most of them Spark's) are mapped from the archive in every
  * later run instead of being parsed and verified again, which shortens
  * session start; the timed phase runs the same code either way.
  *
  * {{{ bench.ClassArchive DIR }}}  (DIR is scratch space, deleted at exit)
  */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    val spark = Harness.session(root, Main.Cores)
    try {
      val t = root.resolve("t").toString
      spark.range(1000).selectExpr("id", "cast(id % 7 as string) AS k").write.parquet(t)
      val df = spark.read.parquet(t)
      df.join(df.groupBy("k").count(), "k").count()
    } finally {
      spark.stop()
      Harness.deleteTree(root)
    }
  }
}
