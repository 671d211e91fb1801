package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The Spark session every run measures: graft's own session factory, with
  * scratch, warehouse and local dirs kept inside the run's work directory.
  */
object Session {
  def start(work: Path): SparkSession = {
    Files.createDirectories(work)
    graft.GraftSession.builder("graftbench")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
  }
}

/** Everything one measured phase records. An operation is one timed public
  * call sequence (a pipeline round, a landing, a read, a curation pass); it
  * fails when it throws or when its output checker rejects it.
  */
final class Phase(val name: String) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  /** per closed-loop round: timed seconds, process CPU seconds in the timed
    * calls, and input rows
    */
  val roundS = ArrayBuffer[Double]()
  val roundCpuS = ArrayBuffer[Double]()
  val roundRows = ArrayBuffer[Long]()
  var timedS = 0.0
  var lakeBytes = 0L
  var inputBytes = 0L
  /** named timings (seconds) kept for medians and tails */
  val timings = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def time(name: String, s: Double): Unit = timings.getOrElseUpdate(name, ArrayBuffer()) += s

  /** Count one operation; `problems` are its checker's mismatches. */
  def op(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${problems.take(3).mkString("; ")}"
    }
  }

  /** Run one operation, counting a throw as a failed operation. */
  def guarded(what: String)(f: => Seq[String]): Unit =
    op(what, try f catch {
      case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    })

  def record(s: Double, cpuS: Double, rows: Long): Unit = {
    roundS += s
    roundCpuS += cpuS
    roundRows += rows
    timedS += s
  }

  // medians over rounds, so one slow round (the first, while the JIT warms)
  // does not move them
  def roundP50Ms: Double = Stats.median(roundS.toSeq) * 1000
  def rowsPerS: Double = Stats.median(roundS.indices.map(i => roundRows(i) / roundS(i)))
  def cpuPerKrow: Double = Stats.median(roundS.indices.map(i => roundCpuS(i) / (roundRows(i) / 1000.0)))
  def writeAmp: Double = lakeBytes.toDouble / inputBytes
}

/** One workload: set-up (input generation, repeated so its median is
  * steady, then the initial table or model build over the last generated
  * inputs), and a closed loop of timed rounds.
  */
trait Workload {
  /** Generate the workload's inputs from scratch into `dir`. */
  def generate(dir: Path): Unit
  /** Build the initial tables or models, and start what the rounds need. */
  def build(): Unit
  /** untimed rounds run before measuring, so the JIT and Spark's code
    * caches are warm for every code path a round takes
    */
  def warmupRounds: Int
  /** the measured loop stops only after whole cycles of this many rounds */
  def roundsPerCycle: Int = 1
  /** Run round `i` of `phase`: its timed calls, then (untimed) its checks. */
  def round(i: Int, phase: Phase, tr: Tracer): Unit
  /** Per-layer metrics from a traced phase. */
  def layerMetrics(phase: Phase, tr: Tracer): Map[String, Double]
  /** The workload's own figures (e.g. `ingest.rows_per_s`) for a phase. */
  def workloadFigures(phase: Phase): Map[String, Double]
  /** (name, passed) per check: the checkers accept the true model and
    * reject deliberately wrong ones.
    */
  def selfTest(): Seq[(String, Boolean)]
  /** the round times of `phase` that do the same work in every phase */
  def comparableRounds(phase: Phase): Seq[Double] = phase.roundS.toSeq
  def stop(): Unit = ()
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  /** `--name value` pairs */
  def flags(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def parse(a: Array[String]): Args = {
    val m = flags(a)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath)
  }

  /** input generations per run; their median enters the set-up time */
  val GenerateReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val sf = Generator.SfDir
    require(Files.isDirectory(Paths.get(sf)), s"missing test data $sf")
    val noise0 = HostNoise.sample()
    val spark = Session.start(a.work.resolve("spark"))
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val wl: Workload = a.workload match {
      case "ingest_pipeline" => new IngestWorkload(spark, sf, a.seed)
      case "lake_cdc_serve" => new CdcWorkload(spark, sf, a.seed)
      case "curate_corpus" => new CurateWorkload(spark, sf, a.seed)
      case w => sys.error(s"unknown workload $w")
    }
    val generateS = (0 until GenerateReps).map { i =>
      val t0 = System.nanoTime()
      wl.generate(a.work.resolve(s"gen$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.build()
    val buildS = (System.nanoTime() - t0) / 1e9
    val setup = sessionS + Stats.median(generateS) + buildS

    val deadline = System.nanoTime() + ((a.seconds * 4 + 60) * 1e9).toLong
    def measure(name: String, tr: Tracer): Phase = {
      val p = new Phase(name)
      var i = 0
      while ((p.timedS < a.seconds || i % wl.roundsPerCycle != 0) && System.nanoTime() < deadline) {
        tr.round = i
        wl.round(i, p, tr)
        i += 1
      }
      p
    }
    val warmupStart = System.nanoTime()
    val warmup = new Phase("warmup")
    (0 until wl.warmupRounds).foreach(i => wl.round(i, warmup, new Tracer(spark, enabled = false)))
    val warmupS = (System.nanoTime() - warmupStart) / 1e9
    val untraced = measure("untraced", new Tracer(spark, enabled = false))
    val traced =
      if (!a.trace) None
      else {
        val tr = new Tracer(spark, enabled = true)
        val p = measure("traced", tr)
        tr.drain()
        Some(p -> tr)
      }
    val selfTest =
      try wl.selfTest()
      catch { case e: Throwable => Seq(s"self test threw ${e.getClass.getSimpleName}" -> false) }
    wl.stop()
    val noise1 = HostNoise.sample()
    val phases = Seq(warmup, untraced) ++ traced.map(_._1)
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val selfTestOk = selfTest.forall(_._2)

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(
        ("setup_s", setup, "s"),
        ("peak_rss_mb", Proc.peakRssMb, "MB"),
        ("round_p50_ms", untraced.roundP50Ms, "ms"),
        ("rows_per_s", untraced.rowsPerS, "rows/s"),
        ("cpu_s_per_krow", untraced.cpuPerKrow, "s/krow"),
        ("write_amp", untraced.writeAmp, "ratio"))
      case Some((p, tr)) =>
        // approximate: the traced phase runs later, with a warmer JIT
        val tracedP50 = Stats.median(wl.comparableRounds(p))
        val untracedP50 = Stats.median(wl.comparableRounds(untraced))
        val layer = wl.layerMetrics(p, tr) ++ Layers.spark(tr) ++ Map(
          "trace.overhead_share" -> (tracedP50 - untracedP50) / untracedP50,
          "trace.spans" -> tr.spans.size.toDouble)
        val figures = wl.workloadFigures(untraced) ++
          Map("ops_failed_share" -> failed.toDouble / attempted)
        Layers.names.map(n => (n, layer.getOrElse(n, figures.getOrElse(n, 0.0)), Layers.unitOf(n)))
    }

    val diag = mutable.LinkedHashMap[String, String]()
    diag("workload") = Json.str(a.workload)
    diag("seed") = a.seed.toString
    diag("generate_s") = generateS.map(Json.num).mkString("[", ",", "]")
    diag("session_start_s") = Json.num(sessionS)
    diag("build_s") = Json.num(buildS)
    diag("warmup_s") = Json.num(warmupS)
    phases.foreach { p =>
      diag(p.name) = Json.obj(Seq(
        "rounds" -> p.roundS.size.toString,
        "timed_s" -> Json.num(p.timedS),
        "attempted" -> p.attempted.toString,
        "failed" -> p.failed.toString,
        "failures" -> p.failures.map(Json.str).mkString("[", ",", "]"),
        "round" -> Stats.summary(p.roundS.toSeq),
        "round_s" -> p.roundS.map(Json.num).mkString("[", ",", "]"),
        "cpu_s" -> p.roundCpuS.map(Json.num).mkString("[", ",", "]")) ++
        p.timings.map { case (k, v) => k -> Stats.summary(v.toSeq) } ++
        wl.workloadFigures(p).map { case (k, v) => k -> Json.num(v) })
    }
    diag("checker_self_test") = Json.obj(selfTest.map { case (k, ok) => k -> ok.toString })
    diag("host") = Json.obj(Seq(
      "load1_start" -> Json.num(noise0.load1),
      "load1_end" -> Json.num(noise1.load1),
      "other_cpu_share" -> Json.num(HostNoise.otherShare(noise0, noise1)),
      "cores" -> Runtime.getRuntime.availableProcessors.toString))
    traced.foreach { case (_, tr) => tr.writeSpans(a.work.resolve("spans.jsonl")) }

    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && selfTestOk && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "diagnostics" -> Json.obj(diag)))
    Files.write(a.out, result.getBytes("UTF-8"))
    spark.stop()
  }
}
