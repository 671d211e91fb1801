package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Pins the footer-derived commit stats: byte-equal to the scan-derived
  * sidecar on a mixed-type table, and one fewer Spark job per write.
  */
class ParquetStatsSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_pstats").toString)

  private def mixedFrame() = {
    import spark.implicits._
    Seq(
      (1, 10L, 1.5f, 2.25, "apple", "2024-01-15", "2024-01-15 10:00:00.123456", BigDecimal("12.34")),
      (2, -3L, -0.5f, 9.75, "berry", "2023-06-01", "2023-06-01 00:00:00", BigDecimal("99999.99")),
      (3, 77L, 3.25f, -1.5, "melon", "2025-12-31", "2025-12-31 23:59:59.5", BigDecimal("-4.20"))
    ).toDF("i", "l", "f", "d", "s", "dt", "ts", "dec")
      .withColumn("dt", col("dt").cast("date"))
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("dec", col("dec").cast("decimal(12,2)"))
  }

  test("footer stats sidecar is byte-equal to the scan-derived sidecar") {
    val cat = freshCatalog()
    cat.write("ns", "m", mixedFrame())                    // footer path
    val (_, rels) = cat.latestEntries("ns", "m")
    val sidecar = java.nio.file.Paths.get(cat.root, "ns", "m", rels.head, "_graft_stats.tsv")
    val footerBytes = Files.readAllBytes(sidecar)

    // re-derive via the scan path: the same aggregation writeStats used
    // before, computed here inline against the same commit dir
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(
      java.nio.file.Paths.get(cat.root, "ns", "m", rels.head).toString)
    val statCols = df.schema.fields.filter(f => f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    })
    val aggs = count(lit(1)).as("__n") +:
      statCols.flatMap(f => Seq(
        min(col(f.name)).cast(StringType), max(col(f.name)).cast(StringType))).toSeq
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val lines = scala.collection.mutable.ArrayBuffer(s"rows\t${row.getLong(0)}")
    statCols.zipWithIndex.foreach { case (f, i) =>
      val (mn, mx) = (row.get(1 + i * 2), row.get(2 + i * 2))
      if (mn != null && mx != null) {
        val numeric = f.dataType.isInstanceOf[NumericType]
        lines += s"col\t${enc(f.name)}\t${if (numeric) "num" else "str"}\t${enc(mn.toString)}\t${enc(mx.toString)}"
      }
    }
    // the footer sidecar is the stats lines, then the commit record
    // (`schema` + one `file` line per data file), which the scan-derived
    // sidecar never carried
    val (statLines, record) = new String(footerBytes, "UTF-8").split("\n").toSeq
      .span(l => !l.startsWith("schema\t"))
    assert(statLines.mkString("\n") == lines.mkString("\n"),
      s"footer sidecar diverges from scan sidecar:\n--- footer ---\n${statLines.mkString("\n")}\n--- scan ---\n${lines.mkString("\n")}")
    val dir = java.nio.file.Paths.get(cat.root, "ns", "m", rels.head).toFile
    val files = dir.listFiles().filter(f => f.getName.endsWith(".parquet") &&
      !f.getName.startsWith(".")).map(f => (f.getName, f.length())).toSet
    assert(record.head.matches("schema\t[0-9a-f]{16}"), record.head)
    val recorded = cat.commitRecord("ns", "m", rels.head).get.files
    assert(recorded.map(f => (f.name, f.bytes)).toSet == files)
    assert(recorded.map(_.rows).sum == row.getLong(0))
  }

  test("readWhere prunes identically over footer-derived stats") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "ev", Seq((1, 10), (2, 19)).toDF("id", "day"))
    cat.write("ns", "ev", Seq((3, 20), (4, 29)).toDF("id", "day"), SaveMode.Append)
    val q = cat.readWhere("ns", "ev", "day", 20, 25)
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(q.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 1,
      "band read must scan exactly one commit dir")
  }

  test("a write runs exactly one job: no separate stats scan") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val cat = freshCatalog()
    val df = mixedFrame()
    df.count() // materialize everything query-side before listening
    spark.sparkContext.addSparkListener(listener)
    try {
      cat.write("ns", "one", df)
      // listener events are async: give the bus a moment to drain
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1,
      s"expected the write to be the only job (footer stats need no scan), saw ${jobs.get()}")
  }

  test("partitioned commits fall back to the scan path and still carry stats") {
    val cat = freshCatalog()
    import spark.implicits._
    val df = Seq((1, "a", 10), (2, "b", 20), (3, "a", 30)).toDF("id", "grp", "v")
    cat.write("ns", "p", df, partitionBy = Seq("grp"))
    val (_, rels) = cat.latestEntries("ns", "p")
    val stats = cat.commitStats("ns", "p", rels.head)
    assert(stats.isDefined)
    val (rows, cols) = stats.get
    assert(rows == 3)
    // data columns have bounds; the partition column arrives via the scan
    assert(cols("id") == (("num", "1", "3")))
    assert(cols("v") == (("num", "10", "30")))
    assert(cols("grp") == (("str", "a", "b")))
  }
}
