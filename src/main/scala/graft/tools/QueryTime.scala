package graft.tools

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Sort, V2WriteCommand}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Bench
import graft.etl.OnePartitionSort
import graft.sources.Layouts

/** Per-query profiler: runs catalog queries through Bench's noop
  * sink, one untimed warm rep (codegen and scan init) then N counted
  * reps each, and prints every rep's wall time with the jobs, completed
  * stages and tasks it ran — wall time separates plan cost from
  * co-tenant noise bursts, the counts rank fixed per-job overhead
  * against data-bound work. Each rep is also split into its build
  * (the query function: DataFrame construction and the eager jobs it
  * starts) and its exec (the noop write), with the jobs and seconds of
  * each. Usage:
  *   runMain graft.tools.QueryTime <sfDir> <reps> [<name>...]
  * (no names = the whole catalog), or, to price the layout builds:
  *   runMain graft.tools.QueryTime layouts <sfDir>
  * or, for one counted rep per query with the exchanges and one-partition
  * sorts of its AQE-final plan, and why each range sort was not planned
  * in one partition, printed as a markdown table:
  *   runMain graft.tools.QueryTime census <sfDir> [<name>...]
  */
object QueryTime {

  final case class Rep(wallS: Double, jobs: Long, stages: Long, tasks: Long,
                       buildJobs: Long, buildS: Double, execJobs: Long, execS: Double)

  /** Counts jobs, completed stages and their tasks, except its own
    * sentinel jobs and their stages. */
  final class Counter(sc: SparkContext) extends SparkListener {
    private val Marker = "graft.querytime.sentinel"
    private var jobs, stages, tasks = 0L
    private val sentinelJobs = mutable.Set.empty[Int]
    private val sentinelStages = mutable.Set.empty[Int]
    @volatile private var drained = new CountDownLatch(0)
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
        sentinelJobs += e.jobId
        sentinelStages ++= e.stageIds
      } else jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!sentinelStages.remove(e.stageInfo.stageId)) {
        stages += 1
        tasks += e.stageInfo.numTasks
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (synchronized(sentinelJobs.remove(e.jobId))) drained.countDown()

    /** (jobs, stages, tasks) over every event posted so far. A marked
      * one-task job runs first; the listener bus delivers events in
      * order, so once its end arrives every earlier job, stage and
      * task has been counted. */
    def totals(): (Long, Long, Long) = {
      drained = new CountDownLatch(1)
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      require(drained.await(120, TimeUnit.SECONDS), "listener bus did not drain")
      synchronized((jobs, stages, tasks))
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  private def seconds[A](body: => A): (A, Double) = {
    val start = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - start) / 1e9)
  }

  /** One rep: the timed query function and noop-sink write, a storage
    * reset, and what the rep ran. The jobs between the two are counted
    * after a drain, outside both clocks; `wallS` is build plus exec. */
  def rep(spark: SparkSession, counter: Counter, sfDir: String,
          fn: (SparkSession, String) => DataFrame): Rep = {
    val (j0, s0, t0) = counter.totals()
    val (j1, buildS, execS) =
      try {
        val (df, buildS) = seconds(fn(spark, sfDir))
        val (j1, _, _) = counter.totals()
        (j1, buildS, seconds(Bench.noop(df))._2)
      } finally Bench.reset(spark)
    val (j2, s2, t2) = counter.totals()
    Rep(buildS + execS, j2 - j0, s2 - s0, t2 - t0, j1 - j0, buildS, j2 - j1, execS)
  }

  /** Builds the whole [[Layouts.inventory]] into a fresh root (a new
    * `java.io.tmpdir`, set before the session starts, so Spark's local
    * dirs land there too) and prints the jobs, completed stages, tasks
    * and seconds of each build, in inventory order. A build reads the
    * layouts before it, as in a cold warm-up; the first build also pays
    * the session's cold codegen. The root is left in place. */
  def layouts(sfDir: String): Unit = {
    val root = Files.createTempDirectory("graft_layouts").toString
    System.setProperty("java.io.tmpdir", root)
    val spark = Bench.session()
    try {
      val counter = new Counter(spark.sparkContext)
      Layouts.inventory.foreach { case (name, build) =>
        val (j0, s0, t0) = counter.totals()
        val secs = seconds(build(spark, sfDir))._2
        val (j1, s1, t1) = counter.totals()
        println(f"[lt] $name%-32s jobs=${j1 - j0}%-4d stages=${s1 - s0}%-4d " +
          f"tasks=${t1 - t0}%-5d s=$secs%.2f")
      }
    } finally spark.stop()
    println(s"[lt] built under $root")
  }

  /** What one AQE-final plan holds: shuffle exchanges (range and
    * single-partition among them), broadcast exchanges, reused
    * exchanges, and global sorts over a one-partition coalesce; and for
    * each range exchange, why [[graft.etl.OnePartitionSort]] refused
    * its sort ([[refusal]]). */
  final case class Census(shuffle: Int, single: Int, broadcast: Int, reused: Int,
                          onePartitionSorts: Int, refusals: Seq[String]) {
    def range: Int = refusals.size
  }

  /** A global sort over a one-partition coalesce, as
    * [[graft.etl.OnePartitionSort]] plans it. */
  def onePartitionSort(p: SparkPlan): Boolean = p match {
    case s: SortExec if s.global => (s.child match {
      case i: InputAdapter => i.child
      case other => other
    }) match {
      case c: CoalesceExec => c.numPartitions == 1
      case _ => false
    }
    case _ => false
  }

  /** Why the strategy refused the global sort above a range exchange,
    * read off the logical sort the physical one was planned from. When
    * AQE re-planned the sort after the range stage ran, its child is
    * that stage, and the reason is the stage's own logical plan's. */
  private def refusal(sort: Option[SortExec]): String =
    sort.flatMap(_.logicalLink).collect { case s: Sort => s.child } match {
      case None => "no global sort"
      case Some(child) =>
        val input = child match {
          case s: LogicalQueryStage => s.logicalPlan
          case other => other
        }
        OnePartitionSort.refusal(input, SQLConf.get).getOrElse("fits")
    }

  def census(plan: SparkPlan): Census = {
    var c = Census(0, 0, 0, 0, 0, Nil)
    // `sort` is the global sort whose input `p` is, through nodes that
    // only carry its exchange
    def walk(p: SparkPlan, sort: Option[SortExec]): Unit = {
      p match {
        case s: ShuffleExchangeLike =>
          val range = s.outputPartitioning.isInstanceOf[RangePartitioning]
          c = c.copy(shuffle = c.shuffle + 1,
            single = c.single + (if (s.outputPartitioning == SinglePartition) 1 else 0),
            refusals = if (range) c.refusals :+ refusal(sort) else c.refusals)
        case _: BroadcastExchangeLike => c = c.copy(broadcast = c.broadcast + 1)
        case _: ReusedExchangeExec => c = c.copy(reused = c.reused + 1)
        case s if onePartitionSort(s) => c = c.copy(onePartitionSorts = c.onePartitionSorts + 1)
        case _ => ()
      }
      val below = p match {
        case s: SortExec if s.global => Some(s)
        case _: InputAdapter | _: AQEShuffleReadExec | _: QueryStageExec => sort
        case _ => None
      }
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case other => other.children
      }).foreach(walk(_, below))
      p.subqueries.foreach(walk(_, None))
    }
    walk(plan, None)
    c
  }

  /** The executed plan of the last successful write on `spark` since
    * [[take]]; read it after a [[Counter.totals]] drain (both listen on
    * the shared listener-bus queue). */
  private final class LastWrite(spark: SparkSession) extends QueryExecutionListener {
    @volatile private var last: Option[SparkPlan] = None
    spark.listenerManager.register(this)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) last = Some(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def take(): Option[SparkPlan] = { val p = last; last = None; p }
  }

  /** One warm and one counted rep per query; prints a markdown row of
    * the counted rep's jobs and its noop write's [[census]], then the
    * totals, then a footer table of the range sorts each refusal reason
    * kept. */
  private def censusTable(sfDir: String, names: Set[String]): Unit = {
    val selected = Bench.select(names)
    val spark = Bench.session()
    Bench.warm(spark, sfDir)
    val counter = new Counter(spark.sparkContext)
    val writes = new LastWrite(spark)
    val cols = Seq("jobs", "shuffle", "range", "single", "broadcast", "reused",
      "one-partition sorts")
    println(s"[census] | query | ${cols.mkString(" | ")} | range refused by |")
    println(s"[census] |---|${cols.map(_ => "---:").mkString("|")}|---|")
    val rows = selected.flatMap { case (name, fn) =>
      try {
        rep(spark, counter, sfDir, fn)
        writes.take()
        val r = rep(spark, counter, sfDir, fn)
        val c = writes.take().map(census).getOrElse(sys.error("no write plan captured"))
        val row = Seq(r.jobs, c.shuffle, c.range, c.single, c.broadcast, c.reused,
          c.onePartitionSorts).map(_.toLong)
        println(s"[census] | $name | ${row.mkString(" | ")} | ${c.refusals.mkString(", ")} |")
        Some((row, c.refusals))
      } catch { case e: Throwable =>
        System.err.println(s"[census] $name failed: ${e.getMessage}")
        None
      }
    }
    val total = rows.map(_._1).transpose.map(_.sum)
    val reasons = rows.flatMap(_._2).groupBy(identity).toSeq
      .map { case (r, n) => r -> n.size }.sortBy { case (r, n) => (-n, r) }
    println(s"[census] | total (${rows.size}) | ${total.mkString(" | ")} | " +
      s"${reasons.map { case (r, n) => s"$r $n" }.mkString(", ")} |")
    println("[census] ")
    println("[census] | range refused by | range sorts |")
    println("[census] |---|---:|")
    reasons.foreach { case (r, n) => println(s"[census] | $r | $n |") }
    spark.stop()
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "layouts" => layouts(args(1))
    case "census" => censusTable(args(1), args.drop(2).toSet)
    case _ => queries(args)
  }

  private def queries(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val selected = Bench.select(args.drop(2).toSet)
    val spark = Bench.session()
    Bench.warm(spark, sfDir)
    val counter = new Counter(spark.sparkContext)
    selected.foreach { case (name, fn) =>
      try {
        rep(spark, counter, sfDir, fn)
        (1 to reps).foreach { i =>
          val r = rep(spark, counter, sfDir, fn)
          println(f"[qt] $name%-32s rep $i%-2d ${r.wallS}%6.2f s  " +
            f"jobs=${r.jobs}%-4d stages=${r.stages}%-4d tasks=${r.tasks}%-5d " +
            f"build=${r.buildJobs}j/${r.buildS}%.2fs exec=${r.execJobs}j/${r.execS}%.2fs")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[qt] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
