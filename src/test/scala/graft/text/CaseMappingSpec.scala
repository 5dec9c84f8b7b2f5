package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, Upper}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.tools.QueryTime

class CaseMappingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("the case-mapping warm-up folds upper('a') in the optimizer and runs no job") {
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      val (j0, _, _) = counter.totals()
      val plan = CaseMapping.fold(spark)
      val (j1, _, _) = counter.totals()
      assert(j1 == j0)
      assert(plan.expressions.exists(_.exists(_ == Literal("A"))))
      assert(!plan.expressions.exists(_.exists(_.isInstanceOf[Upper])))
    } finally counter.close()
  }
}
