package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter for fast local
    // single-query iteration (driver always runs the full suite)
    val selected = Bench.select(
      if (args.length > 2) args(2).split(",").toSet else Set.empty)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // remove any PREVIOUS run's output first: if this query now
      // throws, a stale parquet dir would make the driver compare old
      // results and mask the regression as green
      val target = Paths.get(s"$outDir/$name")
      if (Files.exists(target)) {
        import scala.jdk.CollectionConverters._
        Files.walk(target).iterator().asScala.toSeq.reverse
          .foreach(Files.delete)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Bench.reset(spark)
    }
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
