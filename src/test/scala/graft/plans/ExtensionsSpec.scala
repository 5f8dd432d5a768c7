package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the HOF dot-product pattern is rewritten to the
  * codegen'd VectorDot by the injected optimizer rule, with identical
  * results; vec_dot is registered as a SQL function.
  */
class ExtensionsSpec extends AnyFunSuite {

  // the shared session is built with the extensions installed
  private lazy val spark: SparkSession = graft.SparkTestSession.spark

  test("optimizer rewrites aggregate(zip_with(*)) into VectorDot") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val hof = df.select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vectordot") || optimized.contains("VectorDot"),
      s"expected VectorDot in:\n$optimized")
    // identical results to the unoptimized semantic
    val viaFn = df.selectExpr("vec_id", "vec_dot(v, v) AS dot")
    assert(hof.exceptAll(viaFn).isEmpty && viaFn.exceptAll(hof).isEmpty)
  }

  test("vec_dot registered as a SQL function via injectFunction") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head.getDouble(0)
    assert(r == 32.0)
  }

  // The rewrite is only sound if VectorDot matches the HOF form on the
  // edge inputs too: zip_with pads ragged arrays with nulls and a null
  // element poisons the aggregate, so both must yield NULL.
  test("VectorDot null contract matches zip_with+aggregate on ragged and null-element inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (4L, null, Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<double>"), col("b").cast("array<double>"))
    val hof = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"))
    val native = df.selectExpr("id", "vec_dot(a, b) AS dot")
    val h = hof.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val n = native.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(h == n, s"hof=$h native=$n")
    assert(h(1L) == 11.0 && h(2L) == null && h(3L) == null && h(4L) == null)
  }
}
