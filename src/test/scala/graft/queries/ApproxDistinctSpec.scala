package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** q32 is rows-only: HLL sketch values are engine-specific, so no
  * oracle hashes them. Its row carries its own exact twin, and the
  * estimate must lie within a few relative standard deviations of it. */
class ApproxDistinctSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `approx_count_distinct`'s default relative standard deviation,
    * which q32 uses. */
  val Rsd = 0.05
  /** The band, in RSDs: three standard deviations. */
  val Sigmas = 3.0

  test("q32's HLL estimate lies within 3 RSD of its exact count") {
    val sf001 = Paths.get(SparkTestSession.Sf0001).resolveSibling("sf0.01").toString
    Seq(SparkTestSession.Sf0001, sf001).foreach { sf =>
      val Array(r) = TextQueries.q32ApproxDistinct.run(spark, sf).collect()
      val approx = r.getAs[Long]("approx_users")
      val exact = r.getAs[Long]("exact_users")
      assert(exact > 0, sf)
      assert(math.abs(approx - exact) <= Sigmas * Rsd * exact,
        s"$sf: approx_users $approx against exact_users $exact")
    }
  }
}
