package graft

import org.apache.spark.SpecBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session factory and the input-table loaders: what every graft JVM
  * gets before its first query. */
class EngineSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("generated code survives 150 distinct plans") {
    // the plans differ only in a literal Spark inlines into the generated
    // source, so each needs classes of its own: more than Spark's default
    // cache of 100 entries holds, well within the session's
    val plans = (1 to 150).map(i => () =>
      spark.range(0, 4, 1, 1).select((col("id") * i + 7919).as("x")).collect())
    val first = compiles
    plans.foreach(_())
    assert(compiles - first >= plans.size)
    val second = compiles
    plans.foreach(_())
    assert(compiles - second == 0, "the second pass recompiled")
  }

  test("Tables.table reads the footer Spark infers from, in no Spark job") {
    // the conf Tables.events sets: both reads convert events' ts alike
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a directory of two files whose schemas differ: both reads must pick
    // the same footer
    val dir = Fs.freshScratch("engine_spec", "two.parquet")
    spark.range(0, 4, 1, 1).write.parquet(dir)
    spark.range(0, 4, 1, 1).selectExpr("id", "cast(id AS string) AS s")
      .write.mode("append").parquet(dir)
    val parent = new java.io.File(dir).getParent
    val inputs = Tables.all.map(sf -> _) :+ (parent -> "two")
    inputs.foreach { case (d, name) =>
      assert(SpecBus.jobsDuring(spark.sparkContext)(
        Tables.table(spark, d, name).schema) == 0, name)
      assert(Tables.table(spark, d, name).schema ==
        spark.read.parquet(s"$d/$name.parquet").schema, name)
    }
  }
}
