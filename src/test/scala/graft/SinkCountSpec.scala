package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{LocalDestination, StagedCopy}

/** Every sink counts its records inside the job that writes them: one
  * Spark job per sink call, no cache left behind, and a count equal to
  * both the frame's rows and the rows read back from the written
  * files — on empty frames and on multi-partition frames whose fields
  * carry quotes, delimiters and embedded newlines.
  */
class SinkCountSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("v", StringType)))

  private def empty: DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  /** 8 partitions, no shuffle; every value needs CSV quoting: a quote,
    * delimiters or an embedded newline.
    */
  private def tricky: DataFrame = {
    val rows = (0 until 100).map { i =>
      val v = i % 3 match {
        case 0 => s"""say "hi" $i"""
        case 1 => s"a,b;c|d\te $i"
        case _ => s"line one\nline two $i"
      }
      Row(i.toString, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
  }

  private def readCsv(path: String, header: Boolean): DataFrame =
    spark.read.option("header", header.toString).option("multiLine", "true")
      .schema(schema).csv(path)

  /** The staged parts decompressed to one headerless CSV, re-read. */
  private def readStage(st: StagedCopy.Staged): DataFrame = {
    val out = Files.createTempDirectory("stage-read")
    st.files.foreach { f =>
      val in = new GZIPInputStream(Files.newInputStream(Paths.get(st.stageDir, f)))
      try Files.copy(in, out.resolve(f.stripSuffix(".gz"))) finally in.close()
    }
    readCsv(out.toString, header = false)
  }

  private def ids(df: DataFrame): Set[String] =
    df.select("id").collect().map(_.getString(0)).toSet

  /** Every way a sink can be called here: its reported count and the
    * rows its files hold.
    */
  private def sinks(df: DataFrame): Seq[(String, Long, DataFrame)] = {
    val base = Files.createTempDirectory("sink-count").toString
    val local = LocalDestination.write(df, "t", "", base)
    val dir = LocalDestination.writeDir(df, "d", "", base)
    val rs = StagedCopy.redshift(df, "t", "", s"$base/rs", "b", "role")
    val sf = StagedCopy.snowflake(df, "t", "", s"$base/sf")
    Seq(
      ("write", local.nRecords, readCsv(local.target, header = true)),
      ("writeDir", dir.nRecords, readCsv(dir.target, header = true)),
      ("redshift", rs.nRecords, readStage(rs)),
      ("snowflake", sf.nRecords, readStage(sf)))
  }

  test("zero-row frame: every sink reports 0 and writes no record") {
    sinks(empty).foreach { case (sink, n, back) =>
      assert(n == 0L, sink)
      assert(back.count() == 0L, sink)
    }
  }

  test("multi-partition quoted/newline frame: count == rows == rows read back") {
    val df = tricky
    assert(df.rdd.getNumPartitions == 8)
    val expected = (0 until 100).map(_.toString).toSet
    sinks(df).foreach { case (sink, n, back) =>
      assert(n == 100L, sink)
      assert(n == df.count(), sink)
      assert(back.count() == n, sink)
      assert(ids(back) == expected, sink)
    }
  }

  /** Jobs started while `body` runs, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("one Spark job per sink call, and no cache left behind") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toString, s"v$i")).toDF("id", "v")
    val base = Files.createTempDirectory("sink-jobs").toString
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val local = jobsOf(LocalDestination.write(df, "t", "", base))
    val staged = jobsOf(StagedCopy.redshift(df, "t", "", s"$base/rs", "b", "role"))
    val held = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
    assert(local == 1, s"LocalDestination.write ran $local jobs")
    assert(staged == 1, s"StagedCopy.redshift ran $staged jobs")
    assert(held.isEmpty, s"sinks left ${held.size} persistent RDDs")
  }

  test("a failing write throws within a bound instead of waiting for its count") {
    val bad = TestSpark.failingFrame()
    val base = Files.createTempDirectory("sink-fail").toString
    val calls: Seq[(String, () => Any)] = Seq(
      "write" -> (() => LocalDestination.write(bad, "t", "", base)),
      "writeDir" -> (() => LocalDestination.writeDir(bad, "d", "", base)),
      "redshift" -> (() => StagedCopy.redshift(bad, "t", "", s"$base/rs", "b", "role")),
      "snowflake" -> (() => StagedCopy.snowflake(bad, "t", "", s"$base/sf")))
    calls.foreach { case (sink, call) =>
      val thrown = Future(intercept[Exception](call()))(ExecutionContext.global)
      val e = Await.result(thrown, 60.seconds)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), s"$sink: $e")
    }
  }
}
