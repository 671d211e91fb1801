package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.sql.GraftSqlParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, GraftFileIndex, SaveMode}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The catalog FileIndex read path: every flat commit records its files
  * and a schema id, and reads plan from those records — no listing, no
  * schema inference, no Spark job — while unrecorded commits keep the
  * listing fallback.
  */
class CatalogFileIndexSpec extends SparkSpec {

  private val Bucket = "catalog-index"

  override def afterAll(): Unit = {
    try ObjectStoreFS.clearBucket(Bucket)
    finally super.afterAll()
  }

  /** Spark jobs started by `f` on this thread. Scoped by a job group, so
    * work running elsewhere in the JVM never counts.
    */
  private def jobsDuring[T](f: => T): Int = {
    val group = s"plan-probe-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          n.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "plan probe")
    try {
      f
      GraftBridge.drainListenerBus(spark)
      n.get()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Jobs started while building `df` and its executed plan. */
  private def planJobs(df: => DataFrame): Int = jobsDuring(df.queryExecution.executedPlan)

  private def withRoot[T](root: String)(f: => T): T = {
    val prev = spark.conf.getOption(GraftSqlParser.RootConf)
    spark.conf.set(GraftSqlParser.RootConf, root)
    try f
    finally prev.fold(spark.conf.unset(GraftSqlParser.RootConf))(
      spark.conf.set(GraftSqlParser.RootConf, _))
  }

  private def rows(from: Long, n: Long, parts: Int = 1): DataFrame =
    spark.range(from, from + n, 1, parts).select(col("id"), (col("id") % 3).as("p"),
      concat(lit("s"), col("id").cast("string")).as("s"))

  private def scanRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case h: HadoopFsRelation => h }

  private def zeroJobPlanning(root: String): Unit = {
    val commits = 41
    val cat = LakeCatalog(spark, root)
    for (i <- 0 until commits) cat.write("zj", "t", rows(i * 10L, 10), SaveMode.Append)
    val v = cat.versions("zj", "t").last

    // the counter sees the jobs the listing read path starts
    val dirs = cat.snapshotEntries("zj", "t", v)._1
      .map(rel => s"$root/zj/t/$rel")
    assert(planJobs(spark.read.parquet(dirs: _*)) > 0, "job counter must see listing jobs")

    // SQL first, while no catalog instance or memo has seen these commits
    // (the SQL façade builds a fresh LakeCatalog per statement)
    val travel = s"SELECT count(*) AS n, sum(id) AS s FROM graft.zj.t VERSION AS OF ${v - 1}"
    val sqlJobs = withRoot(root)(planJobs(spark.sql(travel)))
    val cases = Seq(
      "SQL VERSION AS OF" -> sqlJobs,
      "read latest" -> planJobs(LakeCatalog(spark, root).read("zj", "t")),
      "read Some(v)" -> planJobs(LakeCatalog(spark, root).read("zj", "t", Some(v - 5))),
      "readWhere" -> planJobs(LakeCatalog(spark, root).readWhere("zj", "t", "id", 100L, 120L)),
      "readWhereIn" -> planJobs(
        LakeCatalog(spark, root).readWhereIn("zj", "t", "id", Seq(5L, 205L, 405L))))
    assert(cases.forall(_._2 == 0), s"planning started jobs: $cases")

    // and the plans read the right rows
    val n = commits * 10L
    assert(withRoot(root)(spark.sql(travel).head().getLong(0)) == n - 10)
    assert(cat.read("zj", "t").count() == n)
    assert(cat.read("zj", "t", Some(v - 5)).count() == n - 50)
    assert(cat.readWhere("zj", "t", "id", 100L, 120L).count() == 21)
    assert(cat.readWhereIn("zj", "t", "id", Seq(5L, 205L, 405L)).count() == 3)

    // a DV-marked snapshot: the anti-join side plans from records too
    cat.deleteMoR("zj", "t", col("id") === 15L)
    val dvRead = cat.read("zj", "t")
    assert(jobsDuring(dvRead.queryExecution.executedPlan) == 0,
      "executed plan of a DV-marked read started jobs")
    assert(dvRead.count() == n - 1)
    assert(dvRead.filter(col("id") === 15L).isEmpty)
  }

  test("planning lake reads, SQL time travel and DV reads starts zero Spark jobs (local FS)") {
    zeroJobPlanning(Files.createTempDirectory("graft_cfi_zero").toString)
  }

  test("planning starts zero Spark jobs on the object-store backend; paths keep their scheme") {
    val root = s"graftoss://$Bucket/zero"
    zeroJobPlanning(root)
    val files = LakeCatalog(spark, root).read("zj", "t").inputFiles
    assert(files.nonEmpty && files.forall(_.startsWith("graftoss://")), files.take(3).toSeq)
  }

  test("unrecorded, partitioned and schema-evolved commits read like a plain union; DVs subtract exactly") {
    val root = Files.createTempDirectory("graft_cfi_fallback").toString
    val cat = LakeCatalog(spark, root)
    cat.write("fb", "t", rows(0, 20, 2))                                 // recorded
    cat.write("fb", "t", rows(20, 20, 2), SaveMode.Append)               // record stripped
    cat.write("fb", "t", rows(40, 20, 2), SaveMode.Append)               // record stripped
    cat.write("fb", "t", rows(60, 20, 2), SaveMode.Append)               // sidecar deleted
    cat.write("fb", "t", rows(80, 20, 2), SaveMode.Append, Seq("p"))     // hive-partitioned
    cat.write("fb", "t", rows(100, 20, 2).withColumn("extra", col("id") * 2),
      SaveMode.Append)                                                   // added column
    cat.write("fb", "t", rows(120, 20, 2), SaveMode.Append)              // recorded
    val data = cat.snapshot("fb", "t").entries

    // commits written before records existed: stats lines only, or no
    // sidecar at all (the local FS checksum file goes with the rewrite)
    def sidecar(rel: String) = Paths.get(root, "fb", "t", rel, "_graft_stats.tsv")
    def crc(rel: String) = Paths.get(root, "fb", "t", rel, "._graft_stats.tsv.crc")
    Seq(data(1), data(2)).foreach { rel =>
      val kept = new String(Files.readAllBytes(sidecar(rel)), "UTF-8").split("\n")
        .filter(l => l.startsWith("rows\t") || l.startsWith("col\t"))
      Files.write(sidecar(rel), kept.mkString("\n").getBytes("UTF-8"))
      Files.deleteIfExists(crc(rel))
    }
    Files.delete(sidecar(data(3)))
    Files.deleteIfExists(crc(data(3)))
    assert(data.map(rel => cat.commitRecord("fb", "t", rel).isDefined) ==
      Seq(true, false, false, false, false, true, true))

    val oracle = data.map { rel =>
      val d = Paths.get(root, "fb", "t", rel).toString
      spark.read.option("basePath", d).parquet(d)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    def sortedRows(df: DataFrame) =
      df.select(oracle.columns.toIndexedSeq.map(col): _*).collect().toSeq.sortBy(_.getLong(0))

    val read = cat.read("fb", "t")
    assert(read.schema.fields.map(f => f.name -> f.dataType).toSet ==
      oracle.schema.fields.map(f => f.name -> f.dataType).toSet)
    assert(sortedRows(read) == sortedRows(oracle))
    // the recorded commits scan as one index node per schema id; each
    // unrecorded commit keeps its own listed scan
    val (indexed, listed) = scanRelations(read).partition(_.location.isInstanceOf[GraftFileIndex])
    assert(indexed.size == 2 && listed.size == 4, s"${indexed.size} indexed, ${listed.size} listed")

    // one marked row in every kind of commit
    val marked = Seq(5L, 25L, 45L, 65L, 85L, 105L, 125L)
    cat.deleteMoR("fb", "t", col("id").isin(marked: _*))
    val clean = cat.read("fb", "t")
    assert(sortedRows(clean) == sortedRows(oracle.filter(!col("id").isin(marked: _*))))
    assert(clean.count() == 140 - marked.size)
    assert(cat.rowCount("fb", "t") == 140 - marked.size)
  }

  test("commitFilesIfFlat answers from the record; partial window slices scan through the index") {
    val root = Files.createTempDirectory("graft_cfi_stream").toString
    val cat = LakeCatalog(spark, root)
    cat.write("sf", "t", rows(0, 40, 4))
    cat.write("sf", "t", rows(40, 40, 4), SaveMode.Append)
    val Seq(a, b) = cat.snapshot("sf", "t").entries
    def listed(rel: String) =
      new java.io.File(Paths.get(root, "sf", "t", rel).toString).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => (f.getName, f.length())).sortBy(_._1)
    val recorded = cat.commitFilesIfFlat("sf", "t", a).get
    assert(recorded == listed(a) && recorded.size == 4)

    // the record is authoritative: a file dropped into the dir after the
    // commit is not part of it
    val first = Paths.get(root, "sf", "t", a, recorded.head._1)
    Files.copy(first, first.resolveSibling("part-99999-stray.snappy.parquet"))
    assert(cat.commitFilesIfFlat("sf", "t", a).get == recorded)
    // an unrecorded dir answers by listing
    Files.delete(Paths.get(root, "sf", "t", b, "_graft_stats.tsv"))
    Files.deleteIfExists(Paths.get(root, "sf", "t", b, "._graft_stats.tsv.crc"))
    assert(cat.commitFilesIfFlat("sf", "t", b).get == listed(b))

    val names = recorded.take(2).map(_._1)
    val slice = cat.readWindowSlice("sf", "t", Nil, Seq(a -> names), None)
    assert(slice.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet == names.toSet)
    assert(scanRelations(slice).forall(_.location.isInstanceOf[GraftFileIndex]))
    val want = cat.commitRecord("sf", "t", a).get.files.filter(f => names.contains(f.name))
      .map(_.rows).sum
    assert(slice.count() == want)
  }

  test("a lake read is one parquet HadoopFsRelation over the recorded files; footer proofs still apply") {
    val root = Files.createTempDirectory("graft_cfi_scan").toString
    val cat = LakeCatalog(spark, root)
    for (i <- 0 until 3) cat.write("sr", "dim", rows(i * 100L, 100, 3), SaveMode.Append)
    val df = cat.read("sr", "dim")
    val rels = scanRelations(df)
    assert(rels.size == 1 && rels.head.fileFormat.toString == "Parquet" &&
      rels.head.location.isInstanceOf[GraftFileIndex])
    val recorded = cat.snapshot("sr", "dim").entries.flatMap(rel =>
      cat.commitFilesIfFlat("sr", "dim", rel).get.map(f => s"${rel.split('/').last}/${f._1}"))
    assert(df.inputFiles.map(_.split('/').takeRight(2).mkString("/")).toSet == recorded.toSet)
    assert(graft.sources.ParquetMeta.scanRowCount(spark, df).contains(300L))

    // footer-proven broadcast: with both size thresholds off, only the
    // honest-statistics rule can make the lake side a broadcast build
    val probe = spark.range(0, 1000).select((col("id") % 300).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val aqeThr = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thr)
    val prevAqe = spark.conf.getOption(aqeThr)
    spark.conf.set(thr, "-1"); spark.conf.set(aqeThr, "-1")
    try {
      val joined = probe.join(cat.read("sr", "dim"), col("k") === col("id"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(joined.count() == 300)
    } finally {
      spark.conf.set(thr, prev)
      prevAqe.fold(spark.conf.unset(aqeThr))(spark.conf.set(aqeThr, _))
    }
  }
}
