package graft.sync

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Human-readable load report, matching the reference's strings
  * (`app/data.py:134`, `:153`, `:202`, `:255`) with its bugs fixed:
  *
  *  - B4: `n_records` excludes the header row on every path (the
  *    reference over-counts on Azure `:189` and Snowflake `:224`);
  *  - B5: `action` is always defined, even for empty sheets (the
  *    reference leaves it unbound when `n_records == 0`, `:255`).
  */
final case class LoadReport(
    action: Option[SyncAction],
    target: String,
    nRecords: Long) {

  def render: String = action match {
    case Some(a) =>
      s"${a.pastTense} and loaded into $target.\n$nRecords records loaded successfully.\n"
    case None =>
      s"Created $target.\n$nRecords records loaded successfully.\n"
  }
}

object LoadReport {
  /** Runs `write` (exactly one action) over `df` and returns the rows it
    * wrote, observed inside that job: no cache, no count job, one scan.
    * The metric is read only once `write` has returned, so a failed write
    * never waits on it; a fresh `Observation` per call (one is single-use).
    */
  private[sync] def countWritten(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }
}
