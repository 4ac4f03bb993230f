package graft

/** Plan-inspection main: prints the formatted physical plan of each
  * registered gate (or of those whose name contains one of the
  * comma-separated substrings) so scan pushdown, broadcast choices, and
  * WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [nameSubstr[,substr...]]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.lift(1))
    val spark = GraftSession.local("ERROR")
    selected.foreach { g =>
      println(s"\n========== ${g.name} ==========")
      try g.plan(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
