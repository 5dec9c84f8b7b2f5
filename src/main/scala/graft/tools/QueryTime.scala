package graft.tools

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Bench
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

  def main(args: Array[String]): Unit =
    if (args(0) == "layouts") layouts(args(1)) else queries(args)

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
