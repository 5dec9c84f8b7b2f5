package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, MetadataBuilder}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SourceLint, SparkTestSession}
import graft.model.Tables
import graft.sources.{Layouts, PartitionedTables, ShingleLayout}
import graft.tools.QueryTime

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
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      val (before, _, _) = counter.totals()
      Tables.lineitem(spark, sf)
      Tables.events(spark, sf)
      ShingleLayout.shingles(spark, sf)
      val (after, _, _) = counter.totals()
      assert(after - before === 0)
    } finally counter.close()
  }

  // -- source lint ---------------------------------------------------

  /** A parquet read whose schema Spark must infer: `.read` followed by
    * options only, then `.parquet(` or `.format("parquet")…load(`. */
  private val bareRead =
    ("""\.read(\s*\.\s*options?\s*\([^)]*\))*\s*\.\s*""" +
      """(parquet\s*\(|format\s*\(\s*"parquet"\s*\)(\s*\.\s*options?\s*\([^)]*\))*\s*\.\s*load\s*\()""").r

  test("the lint flags bare parquet reads and passes schema'd ones") {
    Seq("spark.read.parquet(p)", "s.read\n  .parquet(dir)",
      """spark.read.option("mergeSchema", "true").parquet(p)""",
      """spark.read.format("parquet").load(p)""")
      .foreach(s => assert(bareRead.findFirstIn(SourceLint.code(s)).nonEmpty, s))
    Seq("spark.read.schema(st).parquet(p)", "df.write.parquet(p)",
      "Ingest.readParquet(spark, p)", "// spark.read.parquet(p)",
      "/** a bare `spark.read.parquet(path)` */")
      .foreach(s => assert(bareRead.findFirstIn(SourceLint.code(s)).isEmpty, s))
  }

  /** Every site in src/main/scala/graft reads through
    * [[Ingest.readParquet]]: Bench's warm-up count and the
    * CrossoverBench probe read single fixture-shaped files like every
    * other site, so they take the helper too. The one allowed bare
    * read is [[Ingest.readParquetEvolving]], whose union schema needs
    * every footer and so keeps Spark's merge job. */
  test("no bare .read.parquet( in src/main outside readParquetEvolving") {
    val sites = SourceLint.sites(bareRead)
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
