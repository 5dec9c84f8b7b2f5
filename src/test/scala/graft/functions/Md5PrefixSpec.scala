package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Md5Prefix32]] must be value-identical to the SQL spelling it
  * replaces — `CAST(CONV(SUBSTRING(MD5(s),1,8),16,10) AS BIGINT)` —
  * byte for byte, on both the codegen and the interpreted paths: five
  * catalog splits (q101/q218/q225/q227/q228) hang off this equality
  * and their DuckDB oracles keep replaying the SQL form.
  */
class Md5PrefixSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sqlForm =
    expr("cast(conv(substring(md5(cast(x as string)), 1, 8), 16, 10) as bigint)")

  test("codegen path matches the SQL spelling over a key range") {
    val diff = spark.range(0, 100000).toDF("x")
      .select(sqlForm.as("a"), Md5Prefix.md5_prefix32(col("x")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff === 0L)
  }

  test("interpreted path (nullSafeEval) matches the SQL spelling") {
    val rows = Seq("0", "1", "42", "599999", "-7", "hello world")
      .toDF("x")
      .select(col("x"), sqlForm.as("a"))
      .collect()
    rows.foreach { r =>
      val got = Md5Prefix32(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))))
        .eval(null)
      assert(got === r.getLong(1), s"for input ${r.getString(0)}")
    }
  }

  test("value range is the unsigned 32-bit window and nulls stay null") {
    val mx = spark.range(0, 10000).toDF("x")
      .agg(max(Md5Prefix.md5_prefix32(col("x"))),
        min(Md5Prefix.md5_prefix32(col("x")))).head
    assert(mx.getLong(0) <= 0xffffffffL && mx.getLong(1) >= 0L)
    val n = Seq[Option[String]](None).toDF("x")
      .select(Md5Prefix.md5_prefix32(col("x"))).head
    assert(n.isNullAt(0))
  }

  test("a raw non-string child resolves through the implicit string cast") {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{LongType, StringType}
    val df = spark.range(0, 10000).toDF("x")
    assert(df.schema("x").dataType === LongType)
    // no facade cast: the expression gets the LongType column as is
    val raw = GraftShims.column(Md5Prefix32(GraftShims.expression(col("x"))))
    val q = df.select(sqlForm.as("a"), raw.as("b"))
    val casts = q.queryExecution.analyzed.expressions.flatMap(_.collect {
      case Md5Prefix32(c: Cast) => c.dataType
    })
    assert(casts === Seq(StringType))
    assert(q.where(col("a") =!= col("b")).count() === 0L)
  }
}
