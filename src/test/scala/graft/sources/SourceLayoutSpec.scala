package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SourceLint, SparkTestSession}

/** The write-once publish protocol of [[SourceLayout]]: a build killed
  * midway, a torn directory left by a writer that wrote in place, and
  * two sessions building the same directory at once (two threads, each
  * on its own `newSession()` of one SparkContext). Plus the lint that
  * keeps the completion marker's name inside SourceLayout. */
class SourceLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def source(s: SparkSession): DataFrame =
    s.range(0, 500).selectExpr("id", "id * 3 AS x")

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The entries next to a published directory: the directory itself
    * and, if the protocol leaked one, a staging sibling. */
  private def siblings(parent: String): Seq[String] =
    new java.io.File(parent).list().toSeq.sorted

  test("a write that throws midway leaves no directory and no staging sibling") {
    val parent = Files.createTempDirectory("graft_publish_crash").toString
    val dir = s"$parent/t"
    val boom = intercept[IllegalStateException] {
      SourceLayout.publish(dir) { d =>
        source(spark).write.parquet(d) // files on disk, then the crash
        throw new IllegalStateException("killed midway")
      }
    }
    assert(boom.getMessage === "killed midway")
    assert(siblings(parent).isEmpty)
    assert(!SourceLayout.complete(dir))

    // the next call builds, and reads back the source rows
    assert(rows(SourceLayout.table(spark, dir)(source(spark))) ===
      rows(source(spark)))
    assert(SourceLayout.complete(dir))
    assert(siblings(parent) === Seq("t"))
    // and a published directory is never built again
    SourceLayout.publish(dir)(_ => fail("a complete directory was rebuilt"))
  }

  test("a torn directory at the final path is replaced, not served") {
    val parent = Files.createTempDirectory("graft_publish_torn").toString
    val dir = s"$parent/t"
    // the old in-place writer, killed before its marker: parquet, no _SUCCESS
    spark.range(0, 7).selectExpr("id", "-1L AS x").write.parquet(dir)
    Files.delete(Paths.get(dir, "_SUCCESS"))
    assert(!SourceLayout.complete(dir))

    assert(rows(SourceLayout.table(spark, dir)(source(spark))) ===
      rows(source(spark)))
    assert(SourceLayout.complete(dir))
    assert(siblings(parent) === Seq("t"))
  }

  test("two sessions publishing one directory at once agree on one copy") {
    val parent = Files.createTempDirectory("graft_publish_race").toString
    val dir = s"$parent/t"
    // both builds start only once both threads are past the marker
    // check, so both write a staging copy and one rename must lose
    val bothBuilding = new CyclicBarrier(2)
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val reads = Seq.fill(2)(spark.newSession()).map { s =>
        Future {
          rows(SourceLayout.table(s, dir) {
            builds.incrementAndGet()
            bothBuilding.await(60, TimeUnit.SECONDS)
            source(s)
          })
        }
      }.map(Await.result(_, 5.minutes))
      assert(builds.get === 2)
      assert(reads.head === rows(source(spark)))
      assert(reads.last === reads.head)
      assert(siblings(parent) === Seq("t"))
      assert(SourceLayout.complete(dir))
    } finally pool.shutdown()
  }

  // -- source lint ---------------------------------------------------

  /** The completion marker's name: a module that writes or checks it
    * itself has its own write-once protocol next to SourceLayout's. */
  private val marker = "\"_SUCCESS\"".r

  test("the marker lint flags the literal in code, not in comments") {
    Seq("""new java.io.File(dir, "_SUCCESS").exists()""",
      """Paths.get(out, "_SUCCESS")""")
      .foreach(s => assert(marker.findFirstIn(SourceLint.code(s)).nonEmpty, s))
    Seq("""// a "_SUCCESS" marker""", """/** no "_SUCCESS" here */""",
      "SourceLayout.complete(dir)", "a _SUCCESS file")
      .foreach(s => assert(marker.findFirstIn(SourceLint.code(s)).isEmpty, s))
  }

  test("the \"_SUCCESS\" literal appears in code only in SourceLayout") {
    val sites = SourceLint.sites(marker)
    val (home, outside) = sites.partition(_._1 == "sources/SourceLayout.scala")
    assert(home.size === 1, s"SourceLayout's marker not found: $sites")
    assert(outside.isEmpty,
      "a module checks or writes the completion marker itself — publish " +
        "through SourceLayout.publish / SourceLayout.table instead:\n" +
        outside.map { case (f, l, t) => s"  $f:$l  $t" }.mkString("\n"))
  }
}
