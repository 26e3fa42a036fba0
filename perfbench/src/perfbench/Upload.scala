package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{GZIPInputStream, ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{CsvIngest, XlsxIngest, XlsxWriter}
import graft.ingest.XlsxWriter.{Blank, Cell, DateSerial, Num, Str, StyledNum}
import graft.model.SheetMatrix
import graft.sync.{DropCreate, JdbcDestination, LoadReport, LocalDestination,
  StagedCopy, SyncAction, Truncate}

/** One table of the upload workload: where it sits in the size ladder,
  * its file format, and whether its re-uploads keep their header.
  */
final case class TableSpec(
    idx: Int,
    name: String, // sheet name, or the CSV file stem
    csvDelim: Option[Char],
    rows: Int,
    cols: Int,
    drift: Boolean)

/** One generated file of a table: the header as written, the column
  * names expected in the loaded CSV, and the expected record count.
  */
final case class Upload(
    spec: TableSpec,
    version: Int,
    path: Path,
    header: Vector[String],
    expectedCols: Vector[String],
    expectedTable: String)

/** What one upload produced, kept for the checks after its pass. */
final case class UploadResult(
    upload: Upload,
    table: String,
    action: SyncAction,
    report: String,
    localReport: String,
    localRecords: Long,
    stagedRecords: Long,
    stageDir: String,
    stageFiles: Seq[String],
    copyStatement: String,
    cells: Long,
    inputBytes: Long)

/** A workload's tables: `tables` tables on a log-uniform size ladder
  * from `minRows` to `maxRows`. Both ladders are sized so that one warm
  * pass over them takes about [[Ladder.NominalPassS]] on a 4-core host.
  */
final case class Ladder(tables: Int, minRows: Int, maxRows: Int)

object Ladder {
  /** `--seconds` over this, rounded, is the number of timed passes. */
  val NominalPassS = 6.0
  /** `upload`: heavy-tailed sizes. The large workbooks add serial
    * driver parsing and per-row write work, and set the tail.
    */
  val Upload = Ladder(12, 100, 20000)
  /** `upload_small`: small files only, where the fixed cost of each
    * upload's Spark write jobs dominates.
    */
  val Small = Ladder(14, 100, 1000)

  val byName: Map[String, Ladder] = Map("upload" -> Upload, "upload_small" -> Small)
}

/** Deterministic upload inputs: a pure function of the seed and the
  * ladder.
  *
  * The ladder is stratified: table i sits at quantile (i + 0.5)/n, so
  * every seed has the same size profile; the seed picks the contents. Every
  * third table is a CSV file in one of the `; \t | ,` delimiters; the
  * rest are workbooks written by `graft.ingest.XlsxWriter` mixing
  * shared strings, inline numbers, date-styled serials (builtin and
  * custom formats), a styled non-date number, blanks and trailing empty
  * rows. Each table has two versions: version 1 keeps version 0's
  * header on half the tables and renames one column on the other half.
  */
final class UploadGenerator(seed: Long, dir: Path, ladder: Ladder) {
  import ladder.{maxRows, minRows, tables}

  private val headerPool = Vector("Customer Name", "Order Date", "Unit Price",
    "Qty", "Region", "Status", "Discount %", "Amount (EUR)", "Ship Date",
    "SKU", "Notes", "Channel", "Owner", "Margin", "Due Date", "Country",
    "Segment", "Tax Rate", "Warehouse", "Score")
  private val words = Vector("north", "south", "east", "west", "alpha", "beta",
    "gamma", "delta", "retail", "online", "partner", "direct", "open",
    "closed", "pending", "won", "lost", "gold", "silver", "bronze")
  private val delims = Vector(';', '\t', '|', ',')

  val specs: Vector[TableSpec] = {
    val rnd = new Random(seed)
    val driftSet = rnd.shuffle((0 until tables).toVector).take(tables / 2).toSet
    val delimOrder = rnd.shuffle(delims)
    (0 until tables).map { i =>
      val q = (i + 0.5) / tables
      val rows = math.round(minRows * math.pow(maxRows.toDouble / minRows, q)).toInt
      val csv = if (i % 3 == 1) Some(delimOrder((i / 3) % delimOrder.length)) else None
      val name = if (csv.isDefined) f"ledger-$i%02d" else f"Sales Report $i%02d"
      TableSpec(i, name, csv, rows, 6 + i % 5, driftSet(i))
    }.toVector
  }

  /** The reference's table naming: lowercase, non-alphanumeric runs → `_`. */
  private def sqlName(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", "_")

  private def alnum(s: String): String =
    s.filter(c => Character.isLetterOrDigit(c) || c == '_')

  private def header(spec: TableSpec, version: Int): Vector[String] = {
    val rnd = new Random(seed * 7919 + spec.idx)
    val base = "Row ID" +: rnd.shuffle(headerPool).take(spec.cols - 1)
    if (version == 1 && spec.drift) {
      // rename one non-key column to a name the table never had
      val unused = headerPool.filterNot(base.contains)
      val at = 1 + rnd.nextInt(spec.cols - 1)
      base.updated(at, unused(rnd.nextInt(unused.length)))
    } else base
  }

  /** Column kinds are fixed per table; values vary by version. */
  private def kinds(spec: TableSpec): Vector[Int] = {
    val rnd = new Random(seed * 104729 + spec.idx)
    Vector(0, 1, 2) ++ Vector.fill(spec.cols - 3)(1 + rnd.nextInt(5))
  }

  private def cell(kind: Int, r: Int, rnd: Random): Cell =
    if (kind != 0 && rnd.nextInt(100) < 8) Blank
    else kind match {
      case 0 => Num((r + 1).toString)
      case 1 => Str(s"${words(rnd.nextInt(words.length))} ${rnd.nextInt(10)}")
      case 2 => DateSerial(36526 + rnd.nextInt(9000), builtin = true)
      case 3 => Num(f"${rnd.nextInt(1000000) / 100.0}%.2f")
      case 4 => StyledNum(f"${rnd.nextInt(10000) / 100.0}%.2f")
      case _ => DateSerial(40000 + rnd.nextInt(5000), builtin = false)
    }

  private def csvValue(c: Cell): String = c match {
    case Str(v) => v
    case Num(v) => v
    case StyledNum(v) => v
    case DateSerial(s, _) => java.time.LocalDate.of(1899, 12, 30).plusDays(s.toLong).toString
    case Blank => ""
  }

  /** Write one version of one table; returns what the checks expect. */
  def write(spec: TableSpec, version: Int): Upload = {
    val rnd = new Random(seed * 31 + spec.idx * 2 + version)
    val head = header(spec, version)
    val ks = kinds(spec)
    val rows = Vector.tabulate(spec.rows)(r => ks.map(k => cell(k, r, rnd)))
    Files.createDirectories(dir)
    spec.csvDelim match {
      case Some(d) =>
        // the upload names the table from the file stem, so each version
        // lives under its stem in a per-version directory
        val path = dir.resolve(s"v$version").resolve(s"${spec.name}.csv")
        Files.createDirectories(path.getParent)
        val sb = new StringBuilder
        sb ++= head.mkString(d.toString) += '\n'
        rows.foreach(r => sb ++= r.map(csvValue).mkString(d.toString) += '\n')
        Files.write(path, sb.result().getBytes(StandardCharsets.UTF_8))
        Upload(spec, version, path, head, head, sqlName(spec.name))
      case None =>
        val path = dir.resolve(f"book-${spec.idx}%02d.v$version.xlsx")
        XlsxWriter.write(path, spec.name, head.map(h => Str(h): Cell) +: rows,
          trailingEmptyRows = 1 + spec.idx % 4)
        UploadGenerator.restamp(path)
        Upload(spec, version, path, head, head.map(alnum), sqlName(spec.name))
    }
  }

  /** Every file of the run: each table in both versions. */
  def writeAll(): Map[(Int, Int), Upload] =
    (for (s <- specs; v <- 0 to 1) yield (s.idx, v) -> write(s, v)).toMap
}

object UploadGenerator {
  /** Rewrite a zip with fixed entry times: `ZipOutputStream` stamps the
    * wall-clock time into every entry header, and the inputs must be
    * byte-identical for the same seed.
    */
  def restamp(path: Path): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val in = new ZipFile(path.toFile)
    try {
      val out = new ZipOutputStream(Files.newOutputStream(tmp))
      try in.entries().asScala.foreach { e =>
        val ne = new ZipEntry(e.getName)
        ne.setTime(315532800000L) // 1980-01-01, the zip epoch
        out.putNextEntry(ne)
        val is = in.getInputStream(e)
        try is.transferTo(out) finally is.close()
        out.closeEntry()
      } finally out.close()
    } finally in.close()
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

/** The reference's upload flow, one file per operation:
  * parse → `toDataFrame` → `plan` against the table's previous columns →
  * `LocalDestination.write` → `StagedCopy.redshift`.
  */
final class UploadFlow(spark: SparkSession, tracer: Tracer, outDir: Path,
    stageDir: Path) {

  /** table → its columns as last loaded (what INFORMATION_SCHEMA returns). */
  val catalog = scala.collection.mutable.Map.empty[String, Seq[String]]

  def run(u: Upload): UploadResult = {
    val inputBytes = Files.size(u.path)
    val (table, header, df, cells) = u.spec.csvDelim match {
      case None =>
        val sheets = tracer.span("ingest.parse") {
          XlsxIngest.parseMatrices(u.path.toString)
        }
        val (sheet, matrix) = sheets.head
        val df = tracer.span("model.to_df") { SheetMatrix.toDataFrame(spark, matrix) }
        (graft.model.Identifiers.sqlify(sheet), matrix.head, df,
          matrix.iterator.map(_.length.toLong).sum)
      case Some(_) =>
        val df: DataFrame = tracer.span("ingest.parse") {
          CsvIngest.read(spark, u.path.toString)
        }
        val stem = u.path.getFileName.toString.stripSuffix(".csv")
        (graft.model.Identifiers.sqlify(stem), df.columns.toVector, df, 0L)
    }
    val plan = tracer.span("sync.plan") {
      JdbcDestination.plan(table, header, catalog.getOrElse(table, Nil),
        JdbcDestination.Redshift)
    }
    val local = tracer.span("sync.local_write") {
      LocalDestination.write(df, table, "", outDir.toString)
    }
    val staged = tracer.span("sync.stage") {
      StagedCopy.redshift(df, table, "", stageDir.toString, "perfbench",
        "arn:aws:iam::000000000000:role/perfbench")
    }
    catalog(table) = SheetMatrix.headerNames(header)
    UploadResult(u, table, plan.action,
      LoadReport(Some(plan.action), plan.table, local.nRecords).render,
      local.render, local.nRecords, staged.nRecords, staged.stageDir,
      staged.files, staged.statements.headOption.getOrElse(""), cells,
      inputBytes)
  }

  /** Output checks for one upload, against the generator's expectation;
    * returns the mismatches.
    */
  def check(r: UploadResult, expected: SyncAction): Seq[String] = {
    val u = r.upload
    val rows = u.spec.rows.toLong
    val target = outDir.resolve(s"${u.expectedTable}.csv")
    val errs = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"${u.spec.name} v${u.version}: $what = $got, expected $want"
    expect("table", r.table, u.expectedTable)
    expect("action", r.action, expected)
    expect("records", r.localRecords, rows)
    expect("staged records", r.stagedRecords, rows)
    val verb = if (expected == Truncate) "Truncated" else "Dropped"
    expect("report", r.report,
      s"$verb and loaded into x_excel.${u.expectedTable}.\n$rows records loaded successfully.\n")
    expect("local report", r.localReport,
      s"Created $target.\n$rows records loaded successfully.\n")
    if (Files.exists(target)) {
      val lines = Files.readAllLines(target, StandardCharsets.UTF_8).asScala
      expect("local header", lines.headOption.getOrElse(""), u.expectedCols.mkString(","))
      expect("local rows", lines.size - 1L, rows)
    } else errs += s"${u.spec.name}: missing $target"
    val gz = r.stageFiles.map { f =>
      val in = new BufferedReader(new InputStreamReader(new GZIPInputStream(
        Files.newInputStream(java.nio.file.Paths.get(r.stageDir, f))), StandardCharsets.UTF_8))
      try in.lines().count() finally in.close()
    }.sum
    expect("staged rows", gz, rows)
    expect("copy statement", r.copyStatement.linesIterator.next(),
      s"COPY x_excel.${u.expectedTable}")
    errs.result()
  }

  def stageBytes(r: UploadResult): Long =
    r.stageFiles.map(f => Files.size(java.nio.file.Paths.get(r.stageDir, f))).sum
}

object UploadFlow {
  /** The first load of a table creates it; a re-upload truncates unless
    * its header drifted.
    */
  def expectedAction(u: Upload, firstLoad: Boolean): SyncAction =
    if (firstLoad || u.spec.drift) DropCreate else Truncate
}

/** Writes a workload's inputs for a seed without running them:
  * `perfbench.UploadInputs <workload> <seed> <dir>`. The
  * generator-determinism test compares two such directories byte for
  * byte.
  */
object UploadInputs {
  def main(args: Array[String]): Unit =
    new UploadGenerator(args(1).toLong, java.nio.file.Paths.get(args(2)),
      Ladder.byName(args(0))).writeAll()
}
