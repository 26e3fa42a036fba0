package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{DropCreate, JdbcDestination, Truncate}

/** End-to-end JDBC destination against embedded Derby (in-memory,
  * ships with Spark). Exercises the real writer path: DDL with
  * createTableColumnTypes, SaveMode.Overwrite with and without
  * truncate, and read-back through spark.read.jdbc.
  */
class JdbcIntegrationSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftdb;create=true"
  // Derby needs a length on VARCHAR
  private val derby = JdbcDestination.Dialect("derby", "VARCHAR(255)")

  test("drop+create load, then truncate reload, both read back correctly") {
    import spark.implicits._
    val df = Seq(("1", "alpha"), ("2", "beta"), ("3", "gamma"))
      .toDF("id", "name")

    // first load: table doesn't exist → DropCreate
    val p1 = JdbcDestination.plan("My Table", df.columns.toSeq,
      existingCols = Nil, derby)
    assert(p1.action == DropCreate)
    assert(p1.table == "x_excel.my_table")
    // Derby has no schema auto-create via JDBC writer; use bare name
    val plainP1 = p1.copy(table = "my_table")
    val r1 = JdbcDestination.write(df, url, plainP1)
    assert(r1.nRecords == 3)
    val back1 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back1.count() == 3)
    assert(back1.schema.fields.forall(_.dataType.typeName == "string"))

    // second load, same columns → Truncate (keeps the table object)
    val df2 = Seq(("9", "delta")).toDF("id", "name")
    val p2 = JdbcDestination.plan("My Table", df2.columns.toSeq,
      existingCols = back1.columns.toSeq, derby)
    assert(p2.action == Truncate)
    val r2 = JdbcDestination.write(df2, url, p2.copy(table = "my_table"))
    assert(r2.nRecords == 1)
    assert(r2.render.startsWith("Truncated and loaded into"))
    val back2 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back2.count() == 1)
    assert(back2.select("name").collect().head.getString(0) == "delta")

    // changed column set → DropCreate again
    val df3 = Seq(("1", "x", "y")).toDF("id", "name", "extra")
    val p3 = JdbcDestination.plan("My Table", df3.columns.toSeq,
      existingCols = back2.columns.toSeq, derby)
    assert(p3.action == DropCreate)
    JdbcDestination.write(df3, url, p3.copy(table = "my_table"))
    val back3 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back3.columns.length == 3)
  }

  test("count is exact on a zero-row frame and a quoted multi-partition frame") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", StringType)))
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    val rows = (0 until 100).map { i =>
      Row(i.toString, if (i % 2 == 0) s"""a "q", b $i""" else s"x\ny $i")
    }
    val multi =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    Seq("empty_t" -> empty, "multi_t" -> multi).foreach { case (t, df) =>
      val p = JdbcDestination.plan(t, df.columns.toSeq, Nil, derby)
        .copy(table = t)
      val r = JdbcDestination.write(df, url, p)
      val back = spark.read.format("jdbc")
        .option("url", url).option("dbtable", t).load()
      assert(r.nRecords == df.count(), t)
      assert(back.count() == r.nRecords, t)
      assert(back.collect().toSet == df.collect().toSet, t)
    }
  }

  test("a failing save throws within a bound instead of waiting for its count") {
    val bad = TestSpark.failingFrame()
    val p = JdbcDestination.plan("bad_t", bad.columns.toSeq, Nil, derby)
      .copy(table = "bad_t")
    val thrown = Future(intercept[Exception](JdbcDestination.write(bad, url, p)))(
      ExecutionContext.global)
    Await.result(thrown, 60.seconds)
  }
}
