package graft.sync

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** `destination_local` (`app/data.py:137-153`): resolve `path` under a
  * base directory (absolute paths respected), mkdir -p, write
  * `<table>.csv` with header, report the record count (header-exclusive
  * — reference bug B4 fixed at the source).
  *
  * The write itself is a distributed Spark CSV write into a temp dir;
  * the single part file is then renamed to the reference's exact
  * `<table>.csv` layout. `coalesce(1)` matches the reference's
  * one-file-per-table contract — callers loading big data should use
  * [[writeDir]] instead, which keeps full write parallelism.
  */
object LocalDestination {

  def resolve(baseDir: String, path: String): Path =
    if (path.nonEmpty && path.startsWith("/")) Paths.get(path)
    else if (path.nonEmpty) Paths.get(baseDir, path)
    else Paths.get(baseDir)

  /** Faithful single-file variant. Returns the reference-format report,
    * counted by the write job; a failed write leaves no temp dir behind.
    */
  def write(df: DataFrame, tableName: String, path: String,
      baseDir: String): LoadReport = {
    val dir = resolve(baseDir, path)
    Files.createDirectories(dir)
    val target = dir.resolve(s"$tableName.csv")
    val tmp = Files.createTempDirectory(dir, s".$tableName-load")
    try {
      val n = LoadReport.countWritten(df)(_.coalesce(1).write.mode("overwrite")
        .option("header", "true")
        // Python csv.writer emits empty cells bare, not quoted ""
        .option("emptyValue", "").csv(tmp.toString))
      val part = withList(tmp)(_.find(_.getFileName.toString.startsWith("part-")))
        .getOrElse(throw new IllegalStateException("no part file written"))
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      LoadReport(None, target.toString, n)
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }

  /** Scale variant: parallel multi-part CSV directory per table. */
  def writeDir(df: DataFrame, tableName: String, path: String,
      baseDir: String, compress: Boolean = false): LoadReport = {
    val dir = resolve(baseDir, path).resolve(tableName)
    val n = LoadReport.countWritten(df) { d =>
      val w = d.write.mode("overwrite").option("header", "true")
      (if (compress) w.option("compression", "gzip") else w).csv(dir.toString)
    }
    LoadReport(None, dir.toString, n)
  }

  /** `Files.list` holds an open DirectoryStream — always close it. */
  private[sync] def withList[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }
}
