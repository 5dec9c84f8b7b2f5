package graft

import org.apache.spark.sql.SparkSession

import graft.queries.{Catalog, GraftQuery}

/** One shared local session for all suites (spark_guide: one session
  * per suite via lazy val; sbt forks a single test JVM so sharing one
  * across suites is safe and much faster). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Bench.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftQuery.prepare(s)
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** The catalog query named `name`, for a spec that uses it to test
    * something else: `graft.tools.CatalogIndex` lists such a spec as a
    * fixture of the query, not as one of its pins. */
  def fixture(name: String): GraftQuery =
    Catalog.all.find(_.name == name).getOrElse(sys.error(s"no catalog query $name"))

  /** Runs `body` with the shared session's state store set to RocksDB
    * (the transformWithState operator requires it), then restores the
    * previous provider (or unsets it). */
  def withRocksDbStateStore[T](body: => T): T = {
    val conf = spark.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = conf.getOption(key)
    conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }
}
