package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{DropCreate, JdbcDestination, LocalDestination, Truncate}

class DestinationSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("local destination writes <table>.csv with header and reports count") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dest").toString
    val df = Seq(("1", "a"), ("2", "b")).toDF("id", "name")
    val report = LocalDestination.write(df, "my_table", "sub/dir", base)
    val f = java.nio.file.Paths.get(base, "sub/dir", "my_table.csv")
    assert(Files.exists(f))
    val lines = Files.readAllLines(f)
    assert(lines.get(0) == "id,name")
    assert(lines.size == 3)
    assert(report.render ==
      s"Created $f.\n2 records loaded successfully.\n")
  }

  test("a failed write leaves no temp dir and the earlier <table>.csv intact") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dest-fail")
    LocalDestination.write(Seq(("1", "a")).toDF("id", "v"), "t", "", base.toString)
    val target = base.resolve("t.csv")
    val before = Files.readAllBytes(target)
    intercept[Exception](
      LocalDestination.write(TestSpark.failingFrame(), "t", "", base.toString))
    val left = {
      val s = Files.list(base)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    assert(!left.exists(_.startsWith(".t-load")), left)
    assert(java.util.Arrays.equals(Files.readAllBytes(target), before))
  }

  test("absolute path overrides base dir (data.py:138-142)") {
    val abs = Files.createTempDirectory("graft-abs").toString
    assert(LocalDestination.resolve("/nope", abs).toString == abs)
    assert(LocalDestination.resolve("/base", "rel").toString == "/base/rel")
    assert(LocalDestination.resolve("/base", "").toString == "/base")
  }

  test("jdbc plan: unchanged column set → truncate, changed → drop") {
    val p1 = JdbcDestination.plan("My Table", Seq("A", "B"),
      existingCols = Seq("b", "a"), JdbcDestination.Redshift, path = "team1")
    assert(p1.table == "x_excel_team1.my_table")
    assert(p1.action == Truncate && p1.truncate)
    assert(p1.columnTypes == "A VARCHAR, B VARCHAR")
    assert(p1.batchSize == 1000)

    val p2 = JdbcDestination.plan("t", Seq("A", "C"),
      existingCols = Seq("a", "b"), JdbcDestination.Snowflake)
    assert(p2.table == "x_excel.t")
    assert(p2.action == DropCreate && !p2.truncate)
    assert(p2.columnTypes == "A TEXT, C TEXT")
  }

  test("duplicate/empty headers get uniquified names matching the frame") {
    val types = JdbcDestination.createTableColumnTypes(
      Seq("Amount", "amount", ""), JdbcDestination.Redshift)
    assert(types == "Amount VARCHAR, amount_1 VARCHAR, _c2 VARCHAR")
  }

  test("routing path is sanitized before reaching schema identifiers") {
    val p = JdbcDestination.plan("t", Seq("a"), Nil,
      JdbcDestination.Redshift, path = "EU-West; DROP TABLE x")
    assert(p.table == "x_excel_eu_west_drop_table_x.t")
  }

  test("azure dialect always drops and uses NVARCHAR(2000)") {
    val p = JdbcDestination.plan("t", Seq("a"), Seq("a"),
      JdbcDestination.AzureDw)
    assert(p.action == DropCreate)
    assert(p.columnTypes == "a NVARCHAR(2000)")
  }
}
