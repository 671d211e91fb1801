package graftbench

import java.nio.file.Path

import scala.collection.mutable

import graft.lake.{LakeCatalog, TableMerger}
import graft.pipeline.{Orchestrator, PipelineReport}
import graft.sources.MultiFormatReader
import org.apache.spark.sql.SparkSession

/** `ingest_pipeline`: the reference's own computation. Each round drops a
  * fresh seeded batch of mixed-format files under stable names and runs the
  * pipeline into one namespace: CTAS on the first round, then MERGE-upsert
  * for the keyed files and INSERT OVERWRITE for the keyless ones. Parsing
  * (`sources`) and batch commits (`lake`) do almost all the work.
  *
  * Untraced rounds call `Orchestrator.run`; traced rounds make the same
  * public calls it composes (`loadDirectory`, `mergeTable` per table,
  * `release`) so each gets its own span.
  */
final class IngestWorkload(spark: SparkSession, sf: String, seed: Long) extends Workload {
  private var gen: Generator = _
  private var dir: Path = _
  private var cat: LakeCatalog = _
  /** per phase: the lake namespace's model, so every phase starts with CTAS */
  private val models = mutable.Map[String, IngestModel]()
  private val inputDir = mutable.Map[String, Path]()
  /** per traced round: (tables staged, files skipped, rows staged, well-formed rows) */
  private val staging = mutable.ArrayBuffer[(Int, Int, Long, Long)]()
  private val rowCountS = mutable.ArrayBuffer[Double]()
  private var lastCheck: (IngestModel, Seq[String], Map[String, Long]) = _

  val warmupRounds = 0
  /** rounds are long: measure at least two, so the median is of two */
  override val roundsPerCycle = 2

  /** The first batch of files. */
  def generate(d: Path): Unit = {
    dir = d
    gen = new Generator(spark, sf, seed)
    gen.load()
    val m = new IngestModel
    gen.ingestRound(d.resolve("in-untraced"), 0, m)
    models("untraced") = m
    inputDir("untraced") = d.resolve("in-untraced")
  }

  /** The initial tables: the first batch, merged by CTAS. */
  def build(): Unit = {
    cat = LakeCatalog(spark, dir.resolve("lake").toString)
    val r = Orchestrator.run(spark, inputDir("untraced").toString, cat, "ns_untraced")
    require(r.failed == 0 && r.outcomes.forall(_.strategy.startsWith("CREATE TABLE")), r.render)
    nextRound("untraced") = 1
  }

  /** next round number per phase */
  private val nextRound = mutable.Map[String, Int]().withDefaultValue(0)

  private def tableOf(file: String): String = {
    val Array(sub, name) = file.split("/")
    val fmt = if (sub == "docx") "text" else sub
    s"${fmt}_${name.replaceAll("\\.[^.]+$", "")}"
  }

  /** Checker: every table's row count matches the model, and the files the
    * scan skipped are exactly the planted bad files.
    */
  private def check(m: IngestModel, staged: Seq[String], counts: Map[String, Long]): Seq[String] = {
    val skipped = m.allFiles.filterNot(f => staged.contains(tableOf(f)))
    val skipProblems =
      if (skipped == m.badFiles) Nil
      else Seq(s"skipped ${skipped.toSeq.sorted.mkString(",")} != planted ${m.badFiles.toSeq.sorted.mkString(",")}")
    skipProblems ++ m.tables.flatMap { t =>
      val got = counts.getOrElse(t, -1L)
      if (got == m.expectedRows(t)) None else Some(s"$t has $got rows, model ${m.expectedRows(t)}")
    }
  }

  def round(i: Int, p: Phase, tr: Tracer): Unit = {
    val m = models.getOrElseUpdate(p.name, new IngestModel)
    val in = inputDir.getOrElseUpdate(p.name, dir.resolve(s"in-${p.name}"))
    val ns = s"ns_${p.name}"
    gen.ingestRound(in, nextRound(p.name), m)
    nextRound(p.name) += 1
    val nsDir = dir.resolve("lake").resolve(ns)
    val bytes0 = Dirs.bytes(nsDir)
    p.guarded(s"round $i") {
      val cpu0 = Proc.cpuS
      val t0 = System.nanoTime()
      val (staged, rows, failures) =
        if (!tr.enabled) {
          val r: PipelineReport = Orchestrator.run(spark, in.toString, cat, ns)
          (r.outcomes.map(_.table), r.totalSourceRows, r.outcomes.flatMap(_.error))
        } else tr("pipeline", "round") {
          val tables = tr("sources", "loadDirectory") {
            MultiFormatReader.loadDirectory(spark, in.toString)
          }
          val merger = new TableMerger(catalog = cat)
          val errs =
            try tables.flatMap { t =>
              tr("lake", "mergeTable") {
                try {
                  val r = merger.mergeTable(t.df, ns, t.name)
                  tr.tagInnermost(strategyKind(r.strategy))
                  None
                } catch { case e: Throwable => Some(s"${t.name}: ${e.getMessage}") }
              }
            }
            finally tr("sources", "release") { MultiFormatReader.release(tables) }
          staging += ((tables.size, m.allFiles.size - tables.size, tables.map(_.rows).sum,
            m.wellFormedRows))
          (tables.map(_.name), tables.map(_.rows).sum, errs)
        }
      p.record((System.nanoTime() - t0) / 1e9, Proc.cpuS - cpu0, rows)
      p.inputBytes += m.inputBytes
      p.lakeBytes += Dirs.bytes(nsDir) - bytes0
      val counts = m.tables.map { t =>
        val c0 = System.nanoTime()
        val n = tr("lake", "rowCount") { cat.rowCount(ns, t) }
        if (tr.enabled) rowCountS += (System.nanoTime() - c0) / 1e9
        t -> n
      }.toMap
      lastCheck = (m, staged, counts)
      failures ++ check(m, staged, counts)
    }
  }

  /** every phase but the untraced one opens a fresh namespace with a CTAS */
  override def comparableRounds(p: Phase): Seq[Double] =
    if (p.name == "untraced") p.roundS.toSeq else p.roundS.toSeq.drop(1)

  private def strategyKind(s: String): String =
    if (s.startsWith("CREATE TABLE")) "ctas"
    else if (s.startsWith("MERGE")) "upsert"
    else if (s.startsWith("INSERT OVERWRITE")) "overwrite"
    else s

  def workloadFigures(p: Phase): Map[String, Double] = Map(
    "ingest.rows_per_s" -> p.rowsPerS,
    "ingest.round_p50_s" -> p.roundP50Ms / 1000,
    "ingest.cpu_s_per_mrow" -> p.cpuPerKrow * 1000)

  def layerMetrics(p: Phase, tr: Tracer): Map[String, Double] = {
    val rounds = p.roundS.size.max(1)
    val jobs = Layers.inclusiveJobs(tr)
    def spans(layer: String, name: String) = tr.spans.filter(s => s.layer == layer && s.name == name)
    val loads = spans("sources", "loadDirectory")
    val merges = spans("lake", "mergeTable")
    Map(
      "sources.load_s" -> loads.map(_.durS).sum / rounds,
      "sources.jobs" -> loads.map(s => jobs(s.id)).sum / rounds,
      "sources.cpu_s" -> loads.map(_.cpuS).sum / rounds,
      "sources.tables_staged" -> Stats.mean(staging.map(_._1.toDouble).toSeq),
      "sources.files_skipped" -> Stats.mean(staging.map(_._2.toDouble).toSeq),
      "sources.rows_staged_ratio" -> staging.map(_._3).sum.toDouble / staging.map(_._4).sum,
      "lake.merge_s.ctas" -> merges.filter(_.tag == "ctas").map(_.durS).sum,
      "lake.merge_s.upsert" -> merges.filter(_.tag == "upsert").map(_.durS).sum / rounds,
      "lake.merge_s.overwrite" -> merges.filter(_.tag == "overwrite").map(_.durS).sum / rounds,
      "lake.merge_jobs" -> merges.map(s => jobs(s.id)).sum / rounds,
      "lake.bytes_written" -> p.lakeBytes.toDouble / rounds,
      "lake.rowcount_ms" -> Stats.median(rowCountS.toSeq) * 1000
    ) ++ Layers.selfTimes(tr, rounds)
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val (m, staged, counts) = lastCheck
    val t = m.tables.head
    // one more row than the lake holds, and one unreadable file missed
    val wrongRows = new IngestModel
    m.keys.foreach { case (k, v) => wrongRows.keys(k) = v.clone() }
    wrongRows.keyless ++= m.keyless
    wrongRows.allFiles = m.allFiles
    wrongRows.badFiles = m.badFiles
    if (wrongRows.keys.contains(t)) wrongRows.keys(t) += Long.MaxValue
    else wrongRows.keyless(t) += 1
    val wrongSkips = new IngestModel
    m.keys.foreach { case (k, v) => wrongSkips.keys(k) = v }
    wrongSkips.keyless ++= m.keyless
    wrongSkips.allFiles = m.allFiles
    wrongSkips.badFiles = m.badFiles.drop(1)
    Seq(
      "ingest.accepts_true_model" -> check(m, staged, counts).isEmpty,
      "ingest.rejects_wrong_row_count" -> check(wrongRows, staged, counts).nonEmpty,
      "ingest.rejects_wrong_skipped_set" -> check(wrongSkips, staged, counts).nonEmpty)
  }
}
