package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** One shared local session for every Spark-touching suite (tests fork
  * into a single JVM; a per-suite session would pay ~10 s each).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** (id, v) string frame whose `v` UDF throws "boom" inside a task: a
    * Range source, so the optimizer cannot fold the UDF on the driver.
    */
  def failingFrame(rows: Long = 100): DataFrame = {
    val boom = udf { (s: String) =>
      if (s != null) throw new IllegalStateException("boom"); s
    }.asNondeterministic()
    spark.range(rows).selectExpr("cast(id as string) as id")
      .withColumn("v", boom(col("id")))
  }
}
