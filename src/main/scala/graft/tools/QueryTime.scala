package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Bench

/** Per-query profiler: runs catalog queries through Bench's noop
  * sink, one untimed warm rep (codegen and scan init) then N counted
  * reps each, and prints every rep's wall time with the jobs, completed
  * stages and tasks it ran — wall time separates plan cost from
  * co-tenant noise bursts, the counts rank fixed per-job overhead
  * against data-bound work. Usage:
  *   runMain graft.tools.QueryTime <sfDir> <reps> [<name>...]
  * (no names = the whole catalog).
  */
object QueryTime {

  final case class Rep(wallS: Double, jobs: Long, stages: Long, tasks: Long)

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

  /** One rep: the timed noop-sink write, a storage reset, and what the
    * rep ran. */
  def rep(spark: SparkSession, counter: Counter, sfDir: String,
          fn: (SparkSession, String) => DataFrame): Rep = {
    val (j0, s0, t0) = counter.totals()
    val start = System.nanoTime()
    val wall =
      try { Bench.noop(fn(spark, sfDir)); (System.nanoTime() - start) / 1e9 }
      finally Bench.reset(spark)
    val (j1, s1, t1) = counter.totals()
    Rep(wall, j1 - j0, s1 - s0, t1 - t0)
  }

  def main(args: Array[String]): Unit = {
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
            f"jobs=${r.jobs}%-4d stages=${r.stages}%-4d tasks=${r.tasks}%-5d")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[qt] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
