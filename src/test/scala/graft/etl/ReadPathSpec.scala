package graft.etl

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, MetadataBuilder}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables
import graft.sources.{Layouts, PartitionedTables, ShingleLayout}

/** The one parquet read path, [[Ingest.readParquet]]: its footer-read
  * schema must be exactly the schema Spark's inference job returns
  * (nullability and field metadata included), building a table or
  * layout DataFrame through it must start no Spark job, and no bare
  * `.read.parquet(` may creep back into src/main. */
class ReadPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val footer = Ingest.readParquet(spark, path).schema
    assert(footer === inferred, s"schema differs for $path")
  }

  /** The root directories a layout build's DataFrames read. */
  private def roots(built: Any): Seq[String] = built match {
    case df: DataFrame =>
      df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
    case p: Product => p.productIterator.toSeq.flatMap(roots)
    case _ => Nil
  }

  test("footer schema equals the inferred schema for every fixture table") {
    Tables.names.foreach(n => assertSameSchema(s"$sf/$n.parquet"))
  }

  test("footer schema equals the inferred schema for every layout directory") {
    val dirs = Layouts.inventory.flatMap { case (name, build) =>
      val rs = roots(build(spark, sf))
      assert(rs.nonEmpty, s"layout $name reads no parquet directory")
      rs
    }.distinct
    dirs.foreach(assertSameSchema)
    // the partitioned copy keeps its DATE partition column, appended last
    val ev = PartitionedTables.events(spark, sf).schema
    assert(ev.last.name === "ds" && ev.last.dataType === DateType)
  }

  test("footer schema keeps non-nullable columns and field metadata as inference does") {
    val dir = Files.createTempDirectory("graft_readpath").toString
    val p = s"$dir/strict"
    val meta = new MetadataBuilder().putString("comment", "row id").build()
    val df = spark.range(10)
      .select(col("id").as("id", meta), lit(1).as("one"),
        array(lit(1.0)).as("v"))
    assert(!df.schema("id").nullable && !df.schema("one").nullable)
    df.write.parquet(p)
    assertSameSchema(p)
    assert(Ingest.readParquet(spark, p).schema("id").metadata === meta)
  }

  test("a path holding no data file fails as spark.read.parquet does") {
    val dir = Files.createTempDirectory("graft_readpath_empty").toString
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    val ours = intercept[Throwable](Ingest.readParquet(spark, dir))
    val theirs = intercept[Throwable](spark.read.parquet(dir))
    assert(ours.getClass === theirs.getClass)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("the footer row count equals count() on every fixture table and the partitioned copy") {
    Tables.names.foreach { n =>
      assert(Tables.rowCount(spark, sf, n) === Tables.load(spark, sf, n).count(), n)
    }
    val dir = roots(PartitionedTables.events(spark, sf)).head
    assert(Ingest.parquetRowCount(spark, dir) === spark.read.parquet(dir).count())
  }

  test("building fixture tables and a layout on a warm root starts no Spark job") {
    ShingleLayout.shingles(spark, sf) // warm the layout root
    val jobs = new JobCounter(spark)
    try {
      jobs.drain()
      val before = jobs.started
      Tables.lineitem(spark, sf)
      Tables.events(spark, sf)
      ShingleLayout.shingles(spark, sf)
      jobs.drain()
      assert(jobs.started - before === 0)
    } finally jobs.close()
  }

  /** Counts every job but its own sentinels. `drain` runs a marked
    * one-task job and waits for its end event: the listener bus
    * delivers events in order, so by then every earlier job is
    * counted. */
  private class JobCounter(spark: SparkSession) extends SparkListener {
    private val Marker = "graft.readpath.sentinel"
    private val count = new AtomicInteger
    private val sentinels = new ConcurrentHashMap[Int, CountDownLatch]
    private val pending = new ConcurrentHashMap[String, CountDownLatch]
    spark.sparkContext.addSparkListener(this)

    def started: Int = count.get

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Marker))) match {
        case Some(id) => sentinels.put(e.jobId, pending.get(id))
        case None     => count.incrementAndGet()
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(sentinels.remove(e.jobId)).foreach(_.countDown())

    def drain(): Unit = {
      val id = java.util.UUID.randomUUID().toString
      val done = new CountDownLatch(1)
      pending.put(id, done)
      val sc = spark.sparkContext
      sc.setLocalProperty(Marker, id)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      assert(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      pending.remove(id)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  // -- source lint ---------------------------------------------------

  /** A parquet read whose schema Spark must infer: `.read` followed by
    * options only, then `.parquet(` or `.format("parquet")…load(`. */
  private val bareRead =
    ("""\.read(\s*\.\s*options?\s*\([^)]*\))*\s*\.\s*""" +
      """(parquet\s*\(|format\s*\(\s*"parquet"\s*\)(\s*\.\s*options?\s*\([^)]*\))*\s*\.\s*load\s*\()""").r

  /** Comments blanked (newlines kept, so offsets map to lines). */
  private def code(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  test("the lint flags bare parquet reads and passes schema'd ones") {
    Seq("spark.read.parquet(p)", "s.read\n  .parquet(dir)",
      """spark.read.option("mergeSchema", "true").parquet(p)""",
      """spark.read.format("parquet").load(p)""")
      .foreach(s => assert(bareRead.findFirstIn(code(s)).nonEmpty, s))
    Seq("spark.read.schema(st).parquet(p)", "df.write.parquet(p)",
      "Ingest.readParquet(spark, p)", "// spark.read.parquet(p)",
      "/** a bare `spark.read.parquet(path)` */")
      .foreach(s => assert(bareRead.findFirstIn(code(s)).isEmpty, s))
  }

  /** Every site in src/main/scala/graft reads through
    * [[Ingest.readParquet]]: Bench's warm-up count and the
    * CrossoverBench/VectorAb probes read single fixture-shaped files
    * like every other site, so they take the helper too. The one
    * allowed bare read is [[Ingest.readParquetEvolving]], whose union
    * schema needs every footer and so keeps Spark's merge job. */
  test("no bare .read.parquet( in src/main outside readParquetEvolving") {
    import scala.jdk.CollectionConverters._
    val srcDir = Paths.get("src/main/scala/graft")
    val sites = Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val src = code(new String(Files.readAllBytes(p), "UTF-8"))
        bareRead.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          (srcDir.relativize(p).toString, line, src.linesIterator.drop(line - 1).next().trim)
        }
      }
    val (allowed, bare) = sites.partition { case (f, _, text) =>
      f == "etl/Ingest.scala" && text.contains("""option("mergeSchema", "true")""")
    }
    assert(allowed.size === 1, s"readParquetEvolving's read not found: $sites")
    assert(bare.isEmpty,
      "parquet read without a schema starts an inference job — use " +
        "Ingest.readParquet:\n" +
        bare.map { case (f, l, t) => s"  $f:$l  $t" }.mkString("\n"))
  }
}
