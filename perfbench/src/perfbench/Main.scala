package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ops.QueryCaches

/** One upload; `body` returns what the checks need. */
final case class Op(name: String, body: () => UploadResult)

/** A timed (or warm-up) operation as it ran. */
final case class OpRecord(
    id: Int,
    pass: Int,
    name: String,
    startMs: Double,
    endMs: Double,
    error: Option[String],
    leak: Option[String],
    value: UploadResult) {
  def json: Map[String, Any] = Map("id" -> id, "pass" -> pass, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "error" -> error, "leak" -> leak)
}

/** Runs operations one at a time from the main thread (a closed loop
  * with one client): times each, releases its caches, and checks that
  * the session conf and the persistent RDD set are as they were.
  */
final class Runner(spark: SparkSession, tracer: Tracer) {
  private var nextId = 0

  def run(op: Op, pass: Int): OpRecord = {
    val sc = spark.sparkContext
    val conf0 = spark.conf.getAll
    val rdds0 = sc.getPersistentRDDs.keySet
    val id = nextId
    nextId += 1
    tracer.beginOp(id)
    var error: Option[String] = None
    var value: UploadResult = null
    val t0 = System.nanoTime()
    try value = op.body()
    catch {
      case NonFatal(e) =>
        error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      QueryCaches.releaseAll()
      spark.catalog.clearCache()
    }
    val t1 = System.nanoTime()
    tracer.endOp()
    val conf1 = spark.conf.getAll
    val rdds1 = sc.getPersistentRDDs.keySet
    val confDiff = (conf0.toSet diff conf1.toSet).map(_._1) ++
      (conf1.toSet diff conf0.toSet).map(_._1)
    val leak = Seq(
      if (confDiff.nonEmpty) Some(s"conf changed: ${confDiff.toSeq.sorted.mkString(",")}") else None,
      if ((rdds1 -- rdds0).nonEmpty) Some(s"persistent RDDs held: ${(rdds1 -- rdds0).size}") else None
    ).flatten
    OpRecord(id, pass, op.name, tracer.epochMs(t0), tracer.epochMs(t1), error,
      if (leak.isEmpty) None else Some(leak.mkString("; ")), value)
  }
}

/** Uploads of one size ladder's tables, one file per operation. */
final class UploadWorkload(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, ladder: Ladder, firstPass: Int) {
  private val gen = new UploadGenerator(seed, work.resolve("inputs"), ladder)
  private val flow = new UploadFlow(spark, tracer, work.resolve("local"),
    work.resolve("stage"))
  private var files = Map.empty[(Int, Int), Upload]
  private val stageBytes = scala.collection.mutable.Map.empty[Int, Long]

  /** Make the run's inputs. Idempotent: set-up runs it several times. */
  def prepare(): Unit = files = gen.writeAll()

  /** Operations of pass `pass`: negative passes are the untimed
    * warm-up, which counts in set-up; timed passes are 0, 1, ….
    *
    * Pass `firstPass` loads every table from version 0, each a first
    * load (DropCreate). Every later pass re-uploads every table from the
    * other version than the pass before, so half the tables keep their
    * header (Truncate) and half drift (DropCreate).
    */
  def passOps(pass: Int): Seq[Op] =
    new Random(seed * 1000003L + pass).shuffle(gen.specs).map { s =>
      val u = files((s.idx, Math.floorMod(pass - firstPass, 2)))
      Op(u.expectedTable, () => flow.run(u))
    }

  /** Output checks of a finished pass, outside the timed region:
    * op id → mismatches.
    */
  def check(pass: Int, ops: Seq[OpRecord]): Map[Int, Seq[String]] =
    ops.collect { case r if r.value != null =>
      val res = r.value
      stageBytes(r.id) = flow.stageBytes(res)
      r.id -> flow.check(res, UploadFlow.expectedAction(res.upload, firstLoad = pass == firstPass))
    }.toMap

  /** Per-op facts for the run record. */
  def opFacts(r: OpRecord): Map[String, Any] = Option(r.value).fold(Map.empty[String, Any]) { res =>
    Map("rows" -> res.upload.spec.rows, "csv" -> res.upload.spec.csvDelim.isDefined,
      "cells" -> res.cells, "input_bytes" -> res.inputBytes,
      "stage_bytes" -> stageBytes.getOrElse(r.id, 0L),
      "action" -> res.action.toString)
  }
}

object Main {
  /** Set-up repetitions of input preparation; the median counts in
    * `setup_s`.
    */
  val SetupReps = 3
  /** Untimed passes before the timed ones; they count in `setup_s`.
    * After a single warm-up pass, the first timed pass still ran 10-30%
    * slower than the last, while the JIT compiled.
    */
  val WarmupPasses = 2

  private def arg(argv: Array[String], key: String): String = {
    val i = argv.indexOf(key)
    require(i >= 0 && i + 1 < argv.length, s"missing $key")
    argv(i + 1)
  }

  private def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workload = arg(argv, "--workload")
    val seed = arg(argv, "--seed").toLong
    val seconds = arg(argv, "--seconds").toDouble
    val trace = arg(argv, "--trace") == "1"
    val work = Paths.get(arg(argv, "--work"))
    val cores = arg(argv, "--cores").toInt

    val spark = GraftSession.local(cores)
    try {
      val tracer = new Tracer(spark)
      val sessionReadyMs = tracer.epochMs(System.nanoTime())
      val ladder = Ladder.byName.getOrElse(workload,
        throw new IllegalArgumentException(s"unknown workload $workload"))
      val w = new UploadWorkload(spark, tracer, work, seed, ladder, -WarmupPasses)
      val runner = new Runner(spark, tracer)
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val genS = (1 to SetupReps).map(_ => timed(w.prepare()))

      // each pass is checked before the next one overwrites its outputs
      def runPass(p: Int, into: ArrayBuffer[(OpRecord, Seq[String])]): Seq[OpRecord] = {
        val recs = w.passOps(p).map(op => runner.run(op, p))
        val checks = w.check(p, recs)
        recs.foreach(r => into += (r -> checks.getOrElse(r.id, Nil)))
        recs
      }
      def wallS(recs: Seq[OpRecord]) = (recs.last.endMs - recs.head.startMs) / 1e3

      val warm = ArrayBuffer.empty[(OpRecord, Seq[String])]
      val warmS = (-WarmupPasses until 0).map(p => wallS(runPass(p, warm))).sum

      // timed passes: a fixed number per --seconds, so every run (and
      // every version of the program) times the same work. A traced run
      // leads with an untraced pass, then alternates traced and untraced
      // passes and ends untraced (at least 3 passes): each traced pass
      // is compared with the untraced pass right after it, and the
      // lead-in pass, slower if the JIT still compiles, is in no pair.
      val planned = math.max(1, math.round(seconds / Ladder.NominalPassS).toInt)
      val passCount = if (trace) math.max(3, planned | 1) else planned
      val passes = ArrayBuffer.empty[Map[String, Any]]
      val ops = ArrayBuffer.empty[(OpRecord, Seq[String])]
      for (p <- 0 until passCount) {
        val traced = trace && p % 2 == 1
        tracer.enable(traced)
        val recs = runPass(p, ops)
        passes += Map("index" -> p, "traced" -> traced, "start_ms" -> recs.head.startMs,
          "end_ms" -> recs.last.endMs, "wall_s" -> wallS(recs))
      }
      val firstOpMs = ops.head._1.startMs

      def opJson(r: OpRecord, errs: Seq[String]) =
        r.json ++ w.opFacts(r) ++ Map("check" -> errs)
      val record = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cores" -> cores,
        "stamp" -> Map("jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
          "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
          "jvm_cpus" -> Runtime.getRuntime.availableProcessors),
        "setup" -> Map("jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
          "prepare_s" -> genS, "warmup_s" -> warmS, "first_op_ms" -> firstOpMs),
        "warmup" -> warm.map { case (r, errs) => opJson(r, errs) }.toSeq,
        "passes" -> passes.toSeq,
        "ops" -> ops.map { case (r, errs) => opJson(r, errs) }.toSeq,
        "trace_record" -> tracer.record,
        "peak_rss_kb" -> peakRssKb())
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(work.resolve("record.json").toFile, record)
    } finally spark.stop()
  }
}
