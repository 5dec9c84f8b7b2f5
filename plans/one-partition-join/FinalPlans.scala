import org.apache.spark.sql.execution.ExplainMode

/** Prints each named catalog query's AQE-final plan, after one
  * `collect()`, under PlanAudit's `========== <query> ==========`
  * headers, so `tools/plan_diff.py` can diff two runs. Not part of the
  * build: compile it with the Spark distribution's scalac against
  * `target/scala-2.13/classes` and run it with those classes and
  * `$SPARK_HOME/jars/*` on the classpath (plus the `--add-opens` flags of
  * `build.sbt`):
  *   FinalPlans <sfDir> <name>...
  */
object FinalPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val selected = graft.Bench.select(args.drop(1).toSet)
    val spark = graft.Bench.session()
    graft.Bench.warm(spark, sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try {
        val df = fn(spark, sfDir)
        df.collect()
        println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      finally graft.Bench.reset(spark)
    }
    spark.stop()
  }
}
