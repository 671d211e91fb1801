package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.LakeCatalog
import graft.streaming.EventStreams
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `lake_cdc_serve`: many small commits with reads beside them. Set-up builds
  * a keyed orders-derived table by `LakeCatalog.write(Append)` with a commit
  * history past Spark's 32-root-path parallel-listing threshold. Each round
  * hands one seeded CDC delta to a file stream source that
  * `EventStreams.streamCdcApplyIntoLake` lands, then runs a point lookup on a
  * uniformly drawn key, a full-scan aggregate, and a SQL `VERSION AS OF`
  * aggregate through `graft.<ns>.<t>`.
  */
final class CdcWorkload(spark: SparkSession, sf: String, seed: Long) extends Workload {
  private val ns = "cdc"
  private val t = "orders"
  private var gen: Generator = _
  private var model: CdcModel = _
  private var dir: Path = _
  private var cat: LakeCatalog = _
  private var query: StreamingQuery = _
  private var pick: java.util.SplittableRandom = _
  private var lastVersion = 0
  private var deltas = 0

  private def tableDir: Path = dir.resolve("lake").resolve(ns).resolve(t)

  /** the first landing and reads run far slower while the JIT warms */
  val warmupRounds = 1
  /** one delta in three carries updates and tombstones */
  override val roundsPerCycle = 3
  private var history: Seq[Seq[Row]] = _

  /** The initial table's rows, one batch per commit. */
  def generate(d: Path): Unit = {
    dir = d
    gen = new Generator(spark, sf, seed)
    model = new CdcModel
    history = gen.cdcHistory(model, CdcSizes.commits, CdcSizes.rowsPerCommit)
  }

  /** The initial table, one `LakeCatalog.write(Append)` per commit, and the
    * CDC stream that lands into it.
    */
  def build(): Unit = {
    cat = LakeCatalog(spark, dir.resolve("lake").toString)
    var rows = 0L
    history.foreach { batch =>
      cat.write(ns, t, spark.createDataFrame(batch.asJava, Generator.CdcSchema), SaveMode.Append)
      rows += batch.size
      lastVersion = cat.versions(ns, t).last
      model.countAt(lastVersion) = rows
    }
    startStream()
  }

  private def startStream(): Unit = {
    spark.conf.set(graft.sql.GraftSqlParser.RootConf, dir.resolve("lake").toString)
    Files.createDirectories(dir.resolve("source"))
    val stream = spark.readStream.schema(Generator.CdcDeltaSchema).parquet(dir.resolve("source").toString)
    query = EventStreams.streamCdcApplyIntoLake(stream, cat, ns, t, "id",
      dir.resolve("checkpoint").toString, orderCol = Some("lsn"))
    pick = new java.util.SplittableRandom(seed ^ 0x5eedL)
  }

  override def stop(): Unit = if (query != null) { query.stop(); query.awaitTermination() }

  // ----- checkers ---------------------------------------------------------

  /** The keyed checksum: a per-row hash summed modulo a prime, computed the
    * same way over the lake table (in Spark) and over the model (here).
    */
  private val Prime = 1000000007L
  private def rowHash(r: Row): Long = {
    val crc = new CRC32
    crc.update(Seq(r.getString(2), r.getString(4), r.getString(5)).mkString("|").getBytes("UTF-8"))
    Math.floorMod(r.getLong(0) * 1000003L + r.getLong(1) * 17L + r.getLong(3) * 31L + crc.getValue, Prime)
  }
  private val hashCol = pmod(col("id") * 1000003L + col("cust") * 17L + col("cents") * 31L +
    crc32(concat_ws("|", col("status"), col("odate"), col("prio"))), lit(Prime))

  private def modelChecksum(m: CdcModel): (Long, Long) =
    (m.rows.size.toLong, m.rows.valuesIterator.map(rowHash).foldLeft(0L)((a, b) => (a + b) % Prime))

  private def lakeChecksum(): (Long, Long) = {
    val r = cat.read(ns, t).agg(count(lit(1)), sum(hashCol) % Prime).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def checkLanding(m: CdcModel, rowCount: Long, checksum: (Long, Long)): Seq[String] = {
    val want = modelChecksum(m)
    (if (rowCount == m.rows.size) Nil else Seq(s"rowCount $rowCount, model ${m.rows.size}")) ++
      (if (checksum == want) Nil else Seq(s"checksum $checksum, model $want"))
  }

  private def checkLookup(m: CdcModel, key: Long, got: Seq[Row]): Seq[String] =
    if (got.map(r => Row.fromSeq(r.toSeq)) == m.rows.get(key).toSeq) Nil
    else Seq(s"lookup $key returned ${got.mkString(",")}, model ${m.rows.get(key)}")

  private def checkTravel(m: CdcModel, v: Int, n: Long): Seq[String] =
    if (m.countAt.get(v).contains(n)) Nil else Seq(s"v$v has $n rows, model ${m.countAt.get(v)}")

  private var lastLanding: (Long, (Long, Long)) = _
  private var lastLookup: (Long, Seq[Row]) = _
  private var lastTravel: (Int, Long) = _

  // ----- the round ----------------------------------------------------------

  /** one traced read: planning and execution seconds, the planning span, the
    * snapshot's data dirs and the dirs the read scanned (lookups only)
    */
  private final case class Read(kind: String, planS: Double, execS: Double, planSpan: Int,
      dirs: Int, scanned: Int)
  private val reads = mutable.ArrayBuffer[Read]()

  private def dataDirs(v: Int): Int = cat.snapshotEntries(ns, t, v)._1.size

  def round(i: Int, p: Phase, tr: Tracer): Unit = {
    // the delta and its file are made before the clock starts
    deltas += 1
    val delta = gen.cdcDelta(model, deltas)
    val staged = dir.resolve("staging").resolve(s"delta-${p.name}-$i.parquet")
    Files.createDirectories(staged.getParent)
    gen.writeSingleFile("parquet", staged, Generator.CdcDeltaSchema, delta)
    val bytes = Files.size(staged)
    val bytes0 = Dirs.bytes(tableDir)
    var roundS = 0.0
    var roundCpuS = 0.0
    /** time (and CPU) one timed call */
    def timed[T](f: => T): (Double, T) = {
      val c0 = Proc.cpuS
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      roundS += s
      roundCpuS += Proc.cpuS - c0
      (s, r)
    }

    p.guarded(s"landing $i") {
      val (s, _) = timed {
        tr("streaming", "landing") {
          Files.move(staged, dir.resolve("source").resolve(staged.getFileName),
            StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
        }
      }
      p.time("commit", s)
      val vs = cat.versions(ns, t)
      vs.filter(_ > lastVersion).foreach(v => model.countAt(v) = model.rows.size.toLong)
      val advanced = vs.last > lastVersion
      lastVersion = vs.last
      p.inputBytes += bytes
      lastLanding = (cat.rowCount(ns, t), lakeChecksum())
      (if (advanced) Nil else Seq("no new version after landing")) ++
        checkLanding(model, lastLanding._1, lastLanding._2)
    }
    p.lakeBytes += Dirs.bytes(tableDir) - bytes0

    val keys = model.rows.keysIterator.toArray
    val key = keys(pick.nextInt(keys.length))
    p.guarded(s"lookup $key") {
      val (s, got) = timed(read("lookup", lastVersion, tr, "lake", "readWhere") {
        cat.readWhere(ns, t, "id", key, key)
      })
      p.time("lookup", s)
      lastLookup = (key, got)
      checkLookup(model, key, got)
    }
    p.guarded("scan") {
      val (s, got) = timed(read("scan", lastVersion, tr, "lake", "read") {
        cat.read(ns, t).agg(count(lit(1)), sum("cents"))
      })
      p.time("scan", s)
      val want = (model.rows.size.toLong, model.rows.valuesIterator.map(_.getLong(3)).sum)
      val have = (got.head.getLong(0), got.head.getLong(1))
      if (have == want) Nil else Seq(s"scan $have, model $want")
    }
    val versions = model.countAt.keys.toArray.sorted
    val v = versions(pick.nextInt(versions.length))
    p.guarded(s"travel v$v") {
      val (s, got) = timed(read("travel", v, tr, "sql", "versionAsOf") {
        spark.sql(s"SELECT count(*) AS n, sum(cents) AS c FROM graft.$ns.$t VERSION AS OF $v")
      })
      p.time("travel", s)
      lastTravel = (v, got.head.getLong(0))
      checkTravel(model, v, got.head.getLong(0))
    }
    p.record(roundS, roundCpuS, delta.size)
  }

  /** One read: planning (until the executed plan exists), then execution.
    * Traced reads get a span for each part and a [[Read]] record.
    */
  private def read(kind: String, version: Int, tr: Tracer, layer: String, name: String)(
      df: => org.apache.spark.sql.DataFrame): Seq[Row] = {
    val t0 = System.nanoTime()
    var planSpan = -1
    val frame = tr(layer, s"$name.plan") {
      if (tr.enabled) planSpan = tr.spans.last.id
      val f = df
      f.queryExecution.executedPlan
      f
    }
    val t1 = System.nanoTime()
    val rows = tr(layer, s"$name.exec") { frame.collect().toSeq }
    val t2 = System.nanoTime()
    if (tr.enabled) {
      val scanned =
        if (kind == "lookup") frame.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
        else 0
      reads += Read(kind, (t1 - t0) / 1e9, (t2 - t1) / 1e9, planSpan, dataDirs(version), scanned)
    }
    rows
  }

  // ----- metrics ------------------------------------------------------------

  def workloadFigures(p: Phase): Map[String, Double] = {
    def p50(n: String) = Stats.median(p.timings.getOrElse(n, mutable.ArrayBuffer()).toSeq) * 1000
    Map(
      "cdc.commit_p50_ms" -> p50("commit"),
      "cdc.write_amp" -> p.writeAmp,
      "lake.lookup_p50_ms" -> p50("lookup"),
      "lake.scan_p50_ms" -> p50("scan"),
      "lake.travel_p50_ms" -> p50("travel"),
      "lake.ops_per_s" -> (p.attempted / p.timedS))
  }

  def layerMetrics(p: Phase, tr: Tracer): Map[String, Double] = {
    val jobs = Layers.inclusiveJobs(tr)
    val lakeReads = reads.filter(_.kind != "travel")
    val batches = tr.batches.toSeq
    def batchMean(k: String) = Stats.mean(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val curve = Layers.dirBuckets.flatMap { d =>
      val in = reads.filter(r => Layers.bucketOf(r.dirs) == d)
      Seq(s"lake.read_plan_ms.d$d" -> (if (in.isEmpty) 0.0 else Stats.median(in.map(_.planS).toSeq) * 1000),
        s"lake.plan_jobs.d$d" -> Stats.mean(in.map(r => jobs(r.planSpan)).toSeq))
    }
    val lookups = reads.filter(_.kind == "lookup")
    val travels = reads.filter(_.kind == "travel")
    val history = cat.history(ns, t)
    Map(
      "lake.read_plan_ms" -> Stats.median(lakeReads.map(_.planS).toSeq) * 1000,
      "lake.read_exec_ms" -> Stats.median(lakeReads.map(_.execS).toSeq) * 1000,
      "lake.plan_jobs" -> Stats.mean(lakeReads.map(r => jobs(r.planSpan)).toSeq),
      "lake.snapshot_entries" -> history.last._3.toDouble,
      "lake.lookup_dirs_scanned_ratio" -> lookups.map(_.scanned).sum.toDouble / lookups.map(_.dirs).sum,
      "lake.manifest_bytes" -> Dirs.bytes(tableDir.resolve("manifests")).toDouble,
      "lake.bytes_written" -> p.lakeBytes.toDouble / p.roundS.size.max(1),
      "streaming.trigger_ms" -> batchMean("triggerExecution"),
      "streaming.getBatch_ms" -> batchMean("getBatch"),
      "streaming.addBatch_ms" -> batchMean("addBatch"),
      "streaming.queryPlanning_ms" -> batchMean("queryPlanning"),
      "streaming.walCommit_ms" -> batchMean("walCommit"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.useful_batch_ratio" ->
        (if (batches.isEmpty) 0.0 else batches.count(_.rows > 0).toDouble / batches.size),
      "sql.plan_ms" -> Stats.median(travels.map(_.planS).toSeq) * 1000,
      "sql.exec_ms" -> Stats.median(travels.map(_.execS).toSeq) * 1000
    ) ++ curve ++ Layers.selfTimes(tr, p.roundS.size)
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val wrong = new CdcModel
    wrong.rows ++= model.rows
    wrong.countAt ++= model.countAt
    val k = model.rows.keysIterator.next()
    wrong.rows(k) = Row.fromSeq(model.rows(k).toSeq.updated(3, model.rows(k).getLong(3) + 1))
    val wrongCount = new CdcModel
    wrongCount.rows ++= model.rows
    wrongCount.countAt ++= model.countAt.map { case (v, n) => v -> (n + 1) }
    wrongCount.rows.remove(k)
    val (lk, lrows) = lastLookup
    val wrongLookup = new CdcModel
    wrongLookup.rows ++= model.rows
    wrongLookup.rows(lk) = Row.fromSeq(model.rows(lk).toSeq.updated(2, "wrong"))
    Seq(
      "cdc.accepts_true_model" -> (checkLanding(model, lastLanding._1, lastLanding._2).isEmpty &&
        checkLookup(model, lk, lrows).isEmpty && checkTravel(model, lastTravel._1, lastTravel._2).isEmpty),
      "cdc.rejects_wrong_checksum" -> checkLanding(wrong, lastLanding._1, lastLanding._2).nonEmpty,
      "cdc.rejects_wrong_row_count" -> checkLanding(wrongCount, lastLanding._1, lastLanding._2).nonEmpty,
      "cdc.rejects_wrong_lookup_row" -> checkLookup(wrongLookup, lk, lrows).nonEmpty,
      "cdc.rejects_wrong_version_count" -> checkTravel(wrongCount, lastTravel._1, lastTravel._2).nonEmpty)
  }
}
