package graft

/** Prints the formatted physical plan for each catalog query (or the
  * names passed as args) — the §"explain and iterate" loop. Not part of
  * the driver contract; a builder-side audit tool.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = Bench.select(args.drop(1).toSet)
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
