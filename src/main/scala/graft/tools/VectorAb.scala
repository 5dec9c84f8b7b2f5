package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.Ingest

/** Builder-side A/B (like MinHashAb): dot-product throughput at a
  * realistic embedding dim across the three candidate forms —
  *  a) graft's codegen'd [[graft.functions.DotProduct]] loop,
  *  b) a Scala UDF calling netlib BLAS ddot (the spark.ml path; Spark
  *     bundles dev.ludovic.netlib — pure-JVM F2j here, no native lib
  *     in this container),
  *  c) the built-in higher-order-lambda form (interpreted,
  *     CodegenFallback) as the floor.
  * Usage: runMain graft.tools.VectorAb [dim] [corpus] [queries] [reps]
  */
object VectorAb {
  def main(args: Array[String]): Unit = {
    val dim = args.headOption.map(_.toInt).getOrElse(768)
    val nCorpus = args.lift(1).map(_.toInt).getOrElse(20000)
    val nQ = args.lift(2).map(_.toInt).getOrElse(20)
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val dir = s"${sys.props("java.io.tmpdir")}/graft_vec_ab_${dim}_$nCorpus"
    if (!new java.io.File(dir).exists()) {
      spark.range(nCorpus)
        .select(col("id"),
          array((0 until dim).map(j => sin(col("id") * (j + 1.5))): _*).as("v"))
        .write.mode("overwrite").parquet(dir)
    }
    val corpus = Ingest.readParquet(spark, dir)
    val q = corpus.filter(col("id") < nQ)
      .select(col("id").as("q_id"), col("v").as("qv"))

    val blasDot = udf { (a: Seq[Double], b: Seq[Double]) =>
      dev.ludovic.netlib.blas.BLAS.getInstance()
        .ddot(a.length, a.toArray, 1, b.toArray, 1)
    }
    val forms: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "native-codegen" -> graft.functions.VectorOps.dot_product(col("qv"), col("v")),
      "blas-udf" -> blasDot(col("qv"), col("v")),
      "lambda" -> aggregate(zip_with(col("qv"), col("v"), _ * _), lit(0.0), _ + _))

    forms.foreach { case (name, expr0) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        broadcast(q).join(corpus, col("q_id") =!= col("id"))
          .select(sum(expr0)).head
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[vab] $name%-16s dim=$dim n=${nCorpus}x$nQ  " +
        times.map(t => f"$t%.2f").mkString(" "))
    }
    spark.stop()
  }
}
