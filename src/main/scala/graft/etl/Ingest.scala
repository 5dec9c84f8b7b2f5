package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingest operators — SURVEY.md §2.1 (S1–S8) + §2.4 A5.
  *
  * The reference scans headerless CSV with a manual `split(",")` + arity
  * filter (ref 流行音乐趋势预测.md:29-31,39-40,924-928 and
  * 豆瓣图书推荐.md:31-33); here that is `spark.read.schema(...).csv` with
  * DROPMALFORMED, which keeps the scan vectorized and lets malformed rows
  * die in the reader instead of a Scala closure.
  */
object Ingest {

  /** S1 — typed CSV scan with malformed-row drop (arity-filter
    * semantics), as line → split → filter → cast over built-ins.
    *
    * Deliberately NOT the csv reader's DROPMALFORMED: since Spark 2.4 a
    * CSV row is judged malformed only against the columns the query
    * actually READS, so `csvScan(...).count()` would drop nothing and
    * a narrow projection would drop less than a wide one — the row
    * count would depend on the downstream projection (and the
    * corrupt-record-column alternative is barred from exactly those
    * projections: QUERY_ONLY_CORRUPT_RECORD_COLUMN). The split form is
    * the reference's own shape (split(delim) + length filter), stays
    * codegen'd, and its row set is projection-INDEPENDENT: a row
    * survives iff it has exactly the schema's arity and every
    * non-empty field parses to its declared type (empty fields read as
    * NULL, matching csv null handling). No quote/escape handling —
    * neither had the reference's split(","). */
  def csvScan(spark: SparkSession, path: String, schema: StructType,
              delimiter: String = ","): DataFrame = {
    val parts = split(col("value"),
      java.util.regex.Pattern.quote(delimiter), -1)
    def raw(i: Int) = element_at(col("p"), i + 1)
    // try_cast, not cast: under ANSI (Spark 4 default) a plain cast of
    // an unparseable field THROWS instead of yielding the null the
    // malformed-filter tests for
    val parseOk = schema.fields.zipWithIndex.map { case (f, i) =>
      raw(i).isNull || raw(i) === "" || raw(i).try_cast(f.dataType).isNotNull
    }.reduce(_ && _)
    spark.read.text(path)
      .select(parts.as("p"))
      .filter(size(col("p")) === schema.length && parseOk)
      .select(schema.fields.zipWithIndex.map { case (f, i) =>
        raw(i).try_cast(f.dataType).as(f.name)
      }: _*)
  }

  /** A5 — exact row-level dedup (ref 流行音乐趋势预测.md:42,
    * `select distinct * from rawUserAction`). A full-row hash shuffle; at
    * 100 TB this is the exact-dedup baseline the MinHash path approximates.
    */
  def dedup(df: DataFrame): DataFrame = df.distinct()

  /** S3 — parquet checkpoint (ref 流行音乐趋势预测.md:129,156,184 used
    * `repartition(1).write.parquet`; `coalesce` avoids the full shuffle —
    * SURVEY.md §2.1 S8). Single-file only makes sense for small outputs;
    * callers at scale pass `numFiles` matched to data volume.
    */
  def checkpointParquet(df: DataFrame, path: String, numFiles: Int = 1): Unit =
    df.coalesce(numFiles).write.mode("overwrite").parquet(path)

  /** Schema-evolution read: merge the footers of batches written with
    * DIFFERENT (compatible) schemas into one union schema — columns a
    * batch lacks come back null. The per-footer merge is the read-side
    * half of additive schema evolution (new columns appear without
    * rewriting old data); `mergeSchema` is off by default in Spark
    * because footer merging costs a pass over file metadata — exactly
    * why it's an explicit entry point here, not a global conf. It keeps
    * Spark's inference (one footer-merge job per read) on purpose: the
    * union needs every footer, not the first. */
  def readParquetEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S4 — read a stored parquet table, layout or checkpoint back; the
    * one read path of every fixture table, layout and stream state.
    *
    * Building the DataFrame starts NO Spark job. A bare
    * `spark.read.parquet(path)` infers its schema in a one-task job
    * (`mergeSchemasInParallel`) even for a single file, so every read
    * site of every query paid a job launch. Here the footer Spark would
    * pick (a root `_common_metadata`, else `_metadata`, else the first
    * data file in path order) is read on the Spark driver instead,
    * giving the schema inference returns; partition columns are still
    * discovered from the directory names and appended last. Nothing is
    * cached: every call reads the footer again. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, from one footer read
    * on the Spark driver (see [[readParquet]]) and Spark's own
    * conversion: the Spark row-metadata schema when the writer stored
    * one, else the parquet types converted under the session's parquet
    * confs (binaryAsString, INT96, inferTimestampNTZ, nanosAsLong). */
  private def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val (top, fs) = status(conf, path)
    val file =
      if (top.isFile) top
      else {
        val listed = fs.listStatus(top.getPath)
        SummaryFiles.flatMap(n => listed.find(_.getPath.getName == n))
          .headOption
          .orElse(dataFiles(fs, listed).nextOption())
          .getOrElse(throw GraftShims.parquetSchemaNotFound())
      }
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Row count of the parquet table at `path`: the sum of its data
    * files' row-group row counts, read from their footers on the Spark
    * driver. Equal to `readParquet(spark, path).count()` without the
    * scan job. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (top, fs) = status(conf, path)
    val files =
      if (top.isFile) Iterator(top) else dataFiles(fs, fs.listStatus(top.getPath))
    files.map(footer(conf, _, ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  private def status(conf: Configuration, path: String): (FileStatus, FileSystem) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    (fs.getFileStatus(p), fs)
  }

  /** The data files among `listed` and below, in Spark's listing order
    * (full path string), lazily: a depth-first walk whose entries sort
    * by name, a directory's name suffixed with `/` so it sorts where its
    * files' full paths would. Names Spark's file index hides are
    * skipped (`_`/`.` prefixes, except `_`-prefixed partition
    * directories, and `._COPYING_` files), and with them the summary
    * files. */
  private def dataFiles(fs: FileSystem,
                        listed: Array[FileStatus]): Iterator[FileStatus] =
    listed.filterNot(c => hidden(c.getPath.getName))
      .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
      .iterator
      .flatMap(c =>
        if (c.isFile) Iterator(c) else dataFiles(fs, fs.listStatus(c.getPath)))

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footer(conf: Configuration, st: FileStatus,
                     filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), filter)

  /** S5 — text/CSV sink (ref `saveAsTextFile`, 流行音乐趋势预测.md:98,295). */
  def writeCsv(df: DataFrame, path: String, numFiles: Int = 1): Unit =
    df.coalesce(numFiles).write.mode("overwrite").option("header", "true").csv(path)

  /** Training-shard emission: the corpus written as `nShards`
    * equal-ish parquet shards with a DETERMINISTIC row→shard map
    * (`xxhash64(key) mod n`, same coin as the q59/q70 sampling family)
    * — a rerun, a straggler retry, or a different cluster produces
    * byte-identical shard membership, which `repartition(n)` (round-
    * robin on partition layout) cannot promise. Rows land in
    * `shard=K/` directories; `maxRecordsPerFile` bounds file size so
    * a hot shard splits files instead of producing a 100 GB parquet.
    * Trainers read `dir/shard=K` per worker — no shuffle at read time.
    */
  def writeTrainingShards(df: DataFrame, path: String, keyCol: String,
                          nShards: Int, maxRecordsPerFile: Long = 1000000L): Unit =
    df.withColumn("shard",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col(keyCol)),
          org.apache.spark.sql.functions.lit(nShards.toLong)))
      .repartition(nShards, org.apache.spark.sql.functions.col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)
}
