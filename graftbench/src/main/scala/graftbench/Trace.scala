package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Process-level readings: CPU through the OperatingSystemMXBean, peak
  * resident memory from /proc/self/status.
  */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
}

/** Load average and the CPU share other processes (and the hypervisor, as
  * steal time) used, from /proc. It is
  * recorded at the start and end of every run as a diagnostic only: no
  * measurement is ever dropped, gated or repeated because of it.
  */
object HostNoise {
  final case class Sample(load1: Double, totalTicks: Long, busyTicks: Long, ownTicks: Long)

  def sample(): Sample = {
    val load = readFile("/proc/loadavg").split(" ")(0).toDouble
    val cpu = readFile("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val total = cpu.take(8).sum
    val busy = total - cpu(3) - cpu(4)
    val stat = readFile("/proc/self/stat")
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    val own = fields(11).toLong + fields(12).toLong // utime, stime
    Sample(load, total, busy, own)
  }

  /** CPU share of the whole host that processes other than this one used
    * between `a` and `b`.
    */
  def otherShare(a: Sample, b: Sample): Double = {
    val dt = (b.totalTicks - a.totalTicks).max(1L)
    ((b.busyTicks - a.busyTicks) - (b.ownTicks - a.ownTicks)).max(0L).toDouble / dt
  }

  private def readFile(p: String): String = {
    val src = scala.io.Source.fromFile(p)
    try src.mkString finally src.close()
  }
}

/** The per-layer trace of one run: a span around every call the benchmark
  * makes into a graft layer, plus Spark-listener and streaming-listener
  * counters. Spans live in memory and are written once at the end.
  *
  * Listener events arrive asynchronously, so a job is attributed after the
  * fact to the innermost span that was open at the job's submission time
  * (the event's own timestamp); its stages' tasks follow the job. That is
  * exact here because one closed-loop client drives every call.
  *
  * A disabled tracer runs the wrapped calls bare and registers nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
      val trace: Int, val startNs: Long, val startMs: Long, val cpu0: Double) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    var cpuS: Double = 0.0
    var childNs: Long = 0L
    var tag: String = ""
    def durS: Double = (endNs - startNs) / 1e9
    def selfS: Double = (endNs - startNs - childNs) / 1e9
  }

  val spans = ArrayBuffer[Span]()
  private val open = ArrayBuffer[Span]()
  /** the trace id of the spans opened next: the workload's round number */
  var round: Int = 0

  def apply[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size, open.lastOption.map(_.id).getOrElse(-1), layer, name,
        round, System.nanoTime(), System.currentTimeMillis(), Proc.cpuS)
      spans += s
      open += s
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.cpuS = Proc.cpuS - s.cpu0
        open.remove(open.size - 1)
        open.lastOption.foreach(p => p.childNs += s.endNs - s.startNs)
      }
    }

  /** Label the innermost open span (e.g. the strategy a merge reported). */
  def tagInnermost(tag: String): Unit = open.lastOption.foreach(_.tag = tag)

  // ----- Spark listener ---------------------------------------------------

  private final case class Job(id: Int, timeMs: Long, fence: Option[String])
  private val jobs = ArrayBuffer[Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageCounters = mutable.Map[Int, Array[Double]]()
  private val stageTasks = mutable.Map[Int, Long]()
  private val endedFences = mutable.Set[String]()

  /** one progress report per streaming micro-batch */
  final case class Batch(rows: Long, durations: Map[String, Long])
  val batches = ArrayBuffer[Batch]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += Job(e.jobId, e.time, group.filter(_.startsWith(FencePrefix)))
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).flatMap(_.fence).foreach(endedFences += _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = stageCounters.getOrElseUpdate(e.stageId, new Array[Double](Counters.size))
        c(0) += m.executorRunTime / 1e3
        c(1) += m.executorCpuTime / 1e9
        c(2) += m.jvmGCTime / 1e3
        c(3) += m.executorDeserializeTime / 1e3
        c(4) += m.resultSerializationTime / 1e3
        c(5) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c(6) += m.shuffleWriteMetrics.bytesWritten
        c(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        c(8) += m.inputMetrics.bytesRead
        c(9) += m.outputMetrics.bytesWritten
        stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, 0L) + 1
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        batches += Batch(e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every listener event posted so far has been delivered: a
    * marker job's end event arrives after all events queued before it.
    */
  def drain(): Unit = if (enabled) {
    val id = FencePrefix + System.nanoTime()
    val sc = spark.sparkContext
    sc.setJobGroup(id, "trace fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    while (!synchronized(endedFences.contains(id)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** The innermost span open at wall-clock `ms`, if any. */
  private def spanAt(ms: Long): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs && best.forall(_.startMs <= s.startMs)) best = Some(s)
    }
    best
  }

  /** Spark counters per span id (-1: no span open), after [[drain]]. */
  def sparkBySpan(): Map[Int, Array[Double]] = synchronized {
    val out = mutable.Map[Int, Array[Double]]()
    val jobSpan = jobs.filter(_.fence.isEmpty).map(j => j.id -> spanAt(j.timeMs).map(_.id).getOrElse(-1)).toMap
    def acc(span: Int): Array[Double] = out.getOrElseUpdate(span, new Array[Double](SparkNames.size))
    jobs.filter(_.fence.isEmpty).foreach { j => acc(jobSpan(j.id))(0) += 1 }
    stageJob.foreach { case (stage, job) =>
      jobSpan.get(job).foreach { span =>
        val a = acc(span)
        if (stageTasks.contains(stage)) a(1) += 1
        a(2) += stageTasks.getOrElse(stage, 0L)
        stageCounters.get(stage).foreach(c => c.indices.foreach(i => a(3 + i) += c(i)))
      }
    }
    out.toMap
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val by = sparkBySpan()
    val lines = spans.map { s =>
      val c = by.getOrElse(s.id, new Array[Double](SparkNames.size))
      val spark = SparkNames.zip(c).map { case (n, v) => s""""$n":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":"${s.layer}",""" +
        s""""name":${Json.str(s.name)},"tag":${Json.str(s.tag)},"start_ms":${s.startMs},""" +
        s""""dur_s":${Json.num(s.durS)},"self_s":${Json.num(s.selfS)},""" +
        s""""cpu_s":${Json.num(s.cpuS)},"spark":{$spark}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  private val FencePrefix = "graftbench-fence-"
  /** per-task counters summed per stage, in this order */
  val Counters: Seq[String] = Seq("executor_run_s", "executor_cpu_s", "gc_s", "task_deser_s",
    "result_ser_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes")
  /** per-span Spark totals, in this order */
  val SparkNames: Seq[String] = Seq("jobs", "stages", "tasks") ++ Counters
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
