package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.queries.{Catalog, GraftQuery}

/** One measured JVM run of one workload. Called by run.py with
  * key=value arguments; writes the raw run record as JSON to `out`:
  * the set-up time, per-pass counters, per-op latencies and check
  * outcomes, and (traced runs) the spans. run.py turns the record into
  * the printed metrics.
  *
  * Modes: `run` measures a workload; `prepare` warms the catalog's
  * layout root; `record` runs every catalog query once and returns the
  * reference hashes (writing parquet outputs for the DuckDB oracle);
  * `record-layouts` returns the reference hashes of the layout builds;
  * `record-pipelines` returns the pipelines' reference values. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(a, cpus)
    val record: Map[String, Any] = a("mode") match {
      case "prepare" => ctx.prepare()
      case "record" => ctx.record()
      case "record-layouts" => ctx.recordLayouts()
      case "record-pipelines" => ctx.recordPipelines()
      case "run" => ctx.run()
    }
    val env = Map("nproc" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> sys.props("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    JFiles.writeString(Paths.get(a("out")),
      Json(record ++ Map("env" -> env, "vm_hwm_kb" -> hwm)))
  }
}

/** One op outcome. `status` is ok, unoracled, error or wrong; only ok
  * and unoracled ops contribute timing. */
final case class OpRecord(name: String, group: String, pass: Int, run: Int, traced: Boolean,
                          seconds: Double, status: String, detail: String) {
  def toJson: Map[String, Any] = Map("name" -> name, "group" -> group, "pass" -> pass,
    "run" -> run, "traced" -> traced, "seconds" -> seconds, "status" -> status,
    "detail" -> detail)
}

object Ctx {
  /** GBT iterations of the flagship: the shipped default in
    * pipelines-10x; one in the catalog workload's traced run, where the
    * full flagship (30-40 s on 4 cores) would not fit the run's time
    * budget. */
  val FullGbtIters = 10
  val CatalogGbtIters = 1

  /** The set-up's warm-up query: q01, a catalog query no workload
    * times, built and collected like an op. The JVM's first Spark job
    * and its first catalog query load and compile Spark's and the
    * catalog's common paths; this puts that cost in set-up rather than in
    * whichever op the seed puts first. */
  val WarmUpQuery = "q01_lineitem_agg"
}

final class Ctx(a: Map[String, String], cpus: Int) {
  val workload: String = a.getOrElse("workload", "catalog")
  val seed: Long = a.getOrElse("seed", "1").toLong
  val seconds: Double = a.getOrElse("seconds", "10").toDouble
  val trace: Boolean = a.getOrElse("trace", "0") == "1"
  val data: String = a("data")
  val work: String = a("work")
  val refs: Refs = new Refs(a.get("refs"))

  var spark: SparkSession = _
  var probe: Probe = _
  var planning: PlanningProbe = _

  // ---- session and set-up -------------------------------------------

  private def build(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      // the five settings graft.Bench.configure ships, pinned here so the
      // measured plan is the shipped plan
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    probe = new Probe
    s.sparkContext.addSparkListener(probe)
    planning = new PlanningProbe
    s.listenerManager.register(planning)
    s
  }

  var warmSeconds = 0.0
  var twins: StreamReplay.Twins = _
  var setupParts: Map[String, Double] = Map.empty

  /** The run's one set-up: the Spark session, the catalog's query list
    * and its warm-up query, and the workload's own preparation (catalog:
    * the layout marker check; stream-replay: loading the events to
    * replay). Returns the seconds from JVM launch to its end, where the
    * first timed op starts. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    spark = build()
    val t1 = System.nanoTime()
    byName(Ctx.WarmUpQuery).run(spark, data).collect()
    val t2 = System.nanoTime()
    if (workload == "catalog")
      warmSeconds = graft.sources.Layouts.warm(spark, data).map(_._2).sum
    if (workload == "stream-replay")
      twins = new StreamReplay.Twins(this, StreamReplay.load(spark, data, seed))
    probe.drain(spark.sparkContext)
    val t3 = System.nanoTime()
    val sinceLaunch = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    setupParts = Map("jvm_s" -> (sinceLaunch - (t3 - t0) / 1e9),
      "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "prepare_s" -> (t3 - t2) / 1e9)
    sinceLaunch
  }

  // ---- timed passes -------------------------------------------------

  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  var tracer: Tracer = _
  private var passIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var pass = 0
  private var untimedPlanningMs = 0L
  private var untimedCompiles = 0L
  def currentPass: Int = pass

  /** Time one op. Its check runs after the clock stops, on every op of
    * every pass, with its Spark work charged to nothing. */
  def op[T](name: String, group: String)(body: => T)(check: T => (String, String)): Unit = {
    tracer.run += 1
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(tracer(name)(body))
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    passIntervals += (wall0 -> System.currentTimeMillis())
    val (status, detail) = result match {
      case Left(e) => ("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right(v) => untimedCheck(check(v))
    }
    ops += OpRecord(name, group, pass, tracer.run, trace, dt, status, detail)
    resetStorage()
  }

  /** Run a check with its jobs, planning time and compiles charged to
    * nothing. */
  private def untimedCheck(check: => (String, String)): (String, String) = {
    probe.drain(spark.sparkContext)
    val p0 = planning.planningMs.get
    val g0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out =
      try probe.untimed(spark.sparkContext)(check)
      catch { case e: Throwable => ("wrong", s"check threw ${e.getMessage}".take(300)) }
    probe.drain(spark.sparkContext)
    untimedPlanningMs += planning.planningMs.get - p0
    untimedCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - g0
    out
  }

  def resetStorage(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Run whole passes until `seconds` have been spent in ops, at least
    * one; every pass of a traced run is traced. cold-layouts and
    * pipelines-10x make exactly one, so a run ends within its time
    * limit: every cold-layouts pass costs all 20 builds (another pass
    * over the same root would be warm), and a pipelines-10x pass about a
    * minute. */
  def timedPasses(onePass: => Unit): Unit = {
    val maxPasses = if (workload == "cold-layouts" || workload == "pipelines-10x") 1 else 8
    var spent = 0.0
    while (pass < 1 || (spent < seconds && pass < maxPasses)) {
      probe.drain(spark.sparkContext)
      probe.takeIntervals()
      passIntervals = mutable.ArrayBuffer.empty
      val c0 = probe.totals
      val p0 = planning.planningMs.get - untimedPlanningMs
      val g0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - untimedCompiles
      val before = ops.size
      onePass
      probe.drain(spark.sparkContext)
      val c = probe.totals - c0
      val passOps = ops.drop(before)
      spent += passOps.map(_.seconds).sum
      // a failed op adds no timing
      val wall = passOps.filter(o => o.status == "ok" || o.status == "unoracled")
        .map(_.seconds).sum
      passes += (c.toJson ++ Map("pass" -> pass, "traced" -> trace, "wall_s" -> wall,
        "job_span_s" -> covered(probe.takeIntervals(), passIntervals.toSeq) / 1e3,
        "planning_ms" -> (planning.planningMs.get - untimedPlanningMs - p0).toDouble,
        "codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - untimedCompiles - g0)))
      pass += 1
    }
  }

  /** Milliseconds of the op windows covered by at least one job. */
  private def covered(jobs: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long =
    windows.map { case (w0, w1) =>
      val clipped = jobs.map { case (j0, j1) => (math.max(j0, w0), math.min(j1, w1)) }
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var total = 0L
      var (cs, ce) = (-1L, -1L)
      clipped.foreach { case (x, y) =>
        if (x > ce) { if (ce > cs) total += ce - cs; cs = x; ce = y }
        else ce = math.max(ce, y)
      }
      if (ce > cs) total += ce - cs
      total
    }.sum

  // ---- modes ----------------------------------------------------------

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val setupS = setup()
    val t1 = System.nanoTime()
    tracer = new Tracer(spark.sparkContext)
    tracer.enabled = trace
    val extra: Map[String, Any] = workload match {
      case "catalog" =>
        catalog()
        Option(twins).map(_.record).getOrElse(Map.empty) ++ Map("warm_s" -> warmSeconds,
          "stored_bytes" -> Files.layoutBytes(new File(sys.props("java.io.tmpdir"))))
      case "cold-layouts" => coldLayouts()
      case "pipelines-10x" => pipelines(); Map.empty
      case "stream-replay" => timedPasses(twins.all.foreach(_())); twins.record
    }
    val t2 = System.nanoTime()
    val out = Map("workload" -> workload, "seed" -> seed, "setup_s" -> setupS,
      "phases_s" -> Map("setup" -> (t1 - t0) / 1e9, "passes" -> (t2 - t1) / 1e9),
      "setup_parts" -> setupParts,
      "passes" -> passes.toSeq, "ops" -> ops.toSeq.map(_.toJson),
      "spans" -> tracer.toJson(probe), "layer" -> extra)
    spark.stop()
    out
  }

  def prepare(): Map[String, Any] = {
    spark = build()
    val warm = graft.sources.Layouts.warm(spark, data)
    spark.stop()
    Map("warm" -> warm.toMap)
  }

  /** Every layout build into a fresh root and every catalog query once:
    * reference hashes, and each query result as parquet under `verify`
    * for tools/check_oracle.py. */
  def record(): Map[String, Any] = {
    val verify = a("verify")
    spark = build()
    graft.sources.Layouts.warm(spark, data)
    val rows = Catalog.all.sortBy(_.name).map { q =>
      val t0 = System.nanoTime()
      val res =
        try {
          val df = q.run(spark, data)
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          val (h, n) = ResultHash.of(df)
          df.coalesce(1).write.mode("overwrite").parquet(s"$verify/${q.name}")
          Map("hash" -> h, "rows" -> n, "seconds" -> dt)
        } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(300)) }
      resetStorage()
      Map("name" -> q.name, "module" -> Modules.of(q.name), "oracled" -> q.oracle.isDefined) ++ res
    }
    val oracle = Catalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
    JFiles.writeString(Paths.get(s"$verify/oracle_sql.json"), Json(oracle))
    spark.stop()
    Map("queries" -> rows)
  }

  /** Every layout built into a fresh root: the reference hash of each
    * build's output. */
  def recordLayouts(): Map[String, Any] = {
    spark = build()
    val layouts = graft.sources.Layouts.inventory.map { case (name, build) =>
      val (h, n) = ResultHash.ofLayout(build(spark, data))
      Map("name" -> name, "hash" -> h, "rows" -> n)
    }
    spark.stop()
    Map("layouts" -> layouts)
  }

  /** The pipelines' reference values over `input`. */
  def recordPipelines(): Map[String, Any] = {
    spark = build()
    val input = a("input")
    val gbtIters = if (input == data) Ctx.CatalogGbtIters else Ctx.FullGbtIters
    val r = graft.ml.FlagshipPipeline.run(spark, input, gbtIters = gbtIters)
    val (fh, fn) = ResultHash.of(r.forecast.collect().toSeq)
    val (uh, _) = ResultHash.of(graft.text.CorpusPipeline
      .funnel(graft.model.Tables.documents(spark, input), useLsh = true))
    spark.stop()
    Map("mse" -> r.trainMse, "forecast_hash" -> fh, "forecast_rows" -> fn, "funnel_hash" -> uh)
  }

  // ---- workloads ------------------------------------------------------

  private lazy val byName: Map[String, GraftQuery] = Catalog.all.map(q => q.name -> q).toMap

  /** One catalog query as an op: build the DataFrame, then collect it.
    * Collecting materializes every output column in order, as the noop
    * sink does, and hands the rows to the check without running the
    * query a second time. */
  private def query(q: GraftQuery, group: String): Unit =
    op(q.name, group) {
      val df = tracer("queries.build")(q.run(spark, data))
      tracer("queries.exec")(df.collect().toSeq)
    }(rows => refs.catalogCheck(q.name, ResultHash.of(rows)))

  /** The catalog sample over the fixture, in an order the seed
    * permutes. A traced run then runs, outside the pass and its counters,
    * the rest of the module sample, the funnel, the four streaming twins'
    * replays and the flagship, which is what measures the text,
    * streaming, etl and ml layers: none of them would fit every untraced
    * run into the benchmark's time budget. */
  def catalog(): Unit = {
    def queries(names: Seq[String]): Seq[() => Unit] = names.map(byName).map { q =>
      () => query(q, s"queries.${Modules.of(q.name)}")
    }
    val rnd = new Random(seed)
    timedPasses(rnd.shuffle(queries(CatalogSet.ops)).foreach(_()))
    if (trace) {
      rnd.shuffle(queries(CatalogSet.tracedOps)).foreach(_())
      funnel(data, "base")
      twins = new StreamReplay.Twins(this, StreamReplay.load(spark, data, seed))
      twins.all.foreach(_())
      flagship(data, "base", Ctx.CatalogGbtIters)
    }
  }

  /** A pass is the 20 layout builds, in inventory order, into a fresh
    * root. A traced run then runs the layouts' consumers over that root,
    * in an order the seed permutes. */
  def coldLayouts(): Map[String, Any] = {
    val bytes = mutable.Map.empty[String, Long]
    val root0 = sys.props("java.io.tmpdir")
    timedPasses {
      // every pass builds into a fresh root, with no table registered
      val root = new File(s"$root0/pass$pass")
      root.mkdirs()
      System.setProperty("java.io.tmpdir", root.getPath)
      spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      graft.sources.Layouts.inventory.foreach { case (name, build) =>
        val b0 = Files.layoutBytes(root)
        op(name, "sources.build") { tracer(s"sources.build.$name")(build(spark, data)) } {
          out => refs.layoutCheck(name, ResultHash.ofLayout(out))
        }
        bytes(name) = Files.layoutBytes(root) - b0
      }
    }
    if (trace) new Random(seed).shuffle(CatalogSet.layoutConsumers.map(byName))
      .foreach(q => query(q, "sources.consumer"))
    val stored = Files.layoutBytes(new File(System.getProperty("java.io.tmpdir")))
    System.setProperty("java.io.tmpdir", root0)
    Map("layout_bytes" -> bytes.toMap, "stored_bytes" -> stored)
  }

  /** `FlagshipPipeline.run` over `input` as one op, its forecast rows
    * collected; `key` names its reference values in refs/pipelines.tsv.
    * A traced run composes the pipeline's public stage functions instead,
    * one span each; its outputs go through the same check, so they must
    * equal `run`'s recorded outputs. */
  private def flagship(input: String, key: String, gbtIters: Int): Unit =
    op("flagship", "ml") {
      if (trace) Pipelines.flagshipTraced(spark, input, gbtIters, tracer)
      else {
        val r = graft.ml.FlagshipPipeline.run(spark, input, gbtIters = gbtIters)
        (r.trainMse, r.forecast.collect().toSeq)
      }
    } { case (mse, rows) => refs.flagshipCheck(key, mse, ResultHash.of(rows)) }

  /** `CorpusPipeline.funnel(useLsh = true)` over `input` as one op. */
  private def funnel(input: String, key: String): Unit =
    op("funnel", "text") {
      val docs = graft.model.Tables.documents(spark, input)
      val f = tracer("text.build")(graft.text.CorpusPipeline.funnel(docs, useLsh = true))
      tracer("text.exec")(f.collect().toSeq)
    } { rows => refs.funnelCheck(key, rows, ResultHash.of(rows)) }

  def pipelines(): Unit = {
    val amp = a("amp")
    timedPasses {
      flagship(amp, s"x10-s$seed", Ctx.FullGbtIters)
      funnel(amp, s"x10-s$seed")
    }
  }
}

/** The 25 catalog modules, by query name (for per-module metrics). */
object Modules {
  import graft.queries._
  private lazy val index: Map[String, String] = Seq(
    "Relational" -> Relational.queries, "TextQueries" -> TextQueries.queries,
    "ExtraQueries" -> ExtraQueries.queries, "SqlQueries" -> SqlQueries.queries,
    "PipelineQueries" -> PipelineQueries.queries, "SurfaceQueries" -> SurfaceQueries.queries,
    "CorpusQueries" -> CorpusQueries.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
    "MixtureQueries" -> MixtureQueries.queries, "CurationQueries" -> CurationQueries.queries,
    "LabelQualityQueries" -> LabelQualityQueries.queries,
    "MultimodalQueries" -> MultimodalQueries.queries,
    "SelectionQueries" -> SelectionQueries.queries,
    "StructureQueries" -> StructureQueries.queries,
    "ResolutionQueries" -> ResolutionQueries.queries, "EvalQueries" -> EvalQueries.queries,
    "SeriesQueries" -> SeriesQueries.queries, "ExperimentQueries" -> ExperimentQueries.queries,
    "RankingQueries" -> RankingQueries.queries, "AgreementQueries" -> AgreementQueries.queries,
    "MlOracleQueries" -> MlOracleQueries.queries, "CausalQueries" -> CausalQueries.queries,
    "LinkPredQueries" -> LinkPredQueries.queries, "GovernanceQueries" -> GovernanceQueries.queries,
    "DiagnosticsQueries" -> DiagnosticsQueries.queries
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  def of(name: String): String = index.getOrElse(name, "unknown")
}
