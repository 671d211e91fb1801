package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** scratch main for bisecting the wide-ingest cliff — not part of the library */
object WidthDebug {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("graft-width-debug")
    spark.sparkContext.setLogLevel("ERROR")
    val cols = args.headOption.map(_.toInt).getOrElse(4450)
    val rows = 50000L
    val csvDir = s"/tmp/graft_scale_wide_$cols"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(csvDir))) {
      operators.IngestLake.writeWideCsv(spark, rows, cols, csvDir)
    }
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[width] $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.1fs")
      r
    }
    val mode = args.drop(1).headOption.getOrElse("full")
    if (mode == "entry") {
      // the exact ingest_wide_schema stages, individually timed
      val root = s"/tmp/graft_width_entry_$cols"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val csvDir = root + "/wide_csv"
      timed("writeWideCsv") { operators.IngestLake.writeWideCsv(spark, rows, cols, csvDir) }
      // mirrors the r11 single-pass entry: multiLine=false read, observed
      // verification riding the write scan, metadata-only finish
      val clean = timed("readCsvSanitized(inferRows=1000,noMultiLine)") {
        sources.MultiFormatReader.readCsvSanitized(spark, csvDir, inferRows = 1000,
          multiLine = false)
      }
      println(s"[width] inferred types: ${clean.schema.fields.map(_.dataType).distinct.mkString(",")}"
        + s" ncols=${clean.schema.length}")
      val cat = lake.LakeCatalog(spark, root + "/lake")
      val obs = new org.apache.spark.sql.Observation("width_entry")
      timed("lake write (observed parse+sum+write)") {
        val rowSum = call_function("graft_row_sum",
          clean.columns.toIndexedSeq.map(col): _*)
        cat.write("wide", "t", clean.observe(obs,
          org.apache.spark.sql.functions.count(lit(1)), sum(rowSum)))
      }
      timed("observed metrics + read plan") {
        println(s"[width] metrics ${obs.get.size}  backCols=${cat.read("wide", "t").columns.length}")
      }
      // decompose the same work OUTSIDE cat.write: observed write with the
      // exact parquetWriter options, then the footer-stats pass, separately
      val obs2 = new org.apache.spark.sql.Observation("width_entry2")
      val out2 = root + "/direct"
      timed("direct observed write (v2+nodict+blk8m)") {
        val rowSum = call_function("graft_row_sum",
          clean.columns.toIndexedSeq.map(col): _*)
        clean.observe(obs2, org.apache.spark.sql.functions.count(lit(1)), sum(rowSum))
          .write.mode(SaveMode.Overwrite)
          .option("parquet.enable.dictionary", "false")
          .option("parquet.writer.version", "PARQUET_2_0")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(out2)
        println(s"[width] direct metrics ${obs2.get.size}")
      }
      timed("direct write NO observe (v2+nodict+blk8m)") {
        clean.write.mode(SaveMode.Overwrite)
          .option("parquet.enable.dictionary", "false")
          .option("parquet.writer.version", "PARQUET_2_0")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(root + "/direct2")
      }
      timed("footer stats forDir") {
        val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        val r = lake.ParquetFooterStats.forDir(hfs,
          spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(out2),
          spark.sessionState.conf.sessionLocalTimeZone)
        println(s"[width] stats rows=${r.map(_.rows)} cols=${r.map(_.cols.length)}")
      }
      spark.stop(); return
    }
    if (mode == "wexp3") {
      // (1) corrupt-isolation overhead, (2) codec, (3) task-count trade
      val schema = org.apache.spark.sql.types.StructType(
        (0 until cols).map(j => org.apache.spark.sql.types.StructField(
          sources.SchemaTools.sanitizeName(f"Col $j%04d (wide)"),
          org.apache.spark.sql.types.IntegerType)))
      def cleanCorrupt = {
        val raw = spark.read
          .option("header", "true").option("maxColumns", cols + 16)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", sources.MultiFormatReader.CorruptCol)
          .option("escape", "\"")
          .schema(org.apache.spark.sql.types.StructType(schema.fields :+
            org.apache.spark.sql.types.StructField(sources.MultiFormatReader.CorruptCol,
              org.apache.spark.sql.types.StringType)))
          .csv(csvDir)
        raw.filter(col(sources.MultiFormatReader.CorruptCol).isNull)
          .drop(sources.MultiFormatReader.CorruptCol)
      }
      def plainRead = spark.read
        .option("header", "true").option("maxColumns", cols + 16)
        .option("mode", "PERMISSIVE").option("escape", "\"")
        .schema(schema).csv(csvDir)
      for (r <- 1 to 2) {
        timed(s"noop corrupt-isolated read (r$r)") {
          cleanCorrupt.write.mode(SaveMode.Overwrite).format("noop").save()
        }
        timed(s"noop plain-schema read (r$r)") {
          plainRead.write.mode(SaveMode.Overwrite).format("noop").save()
        }
      }
      def wopts(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = w
        .option("parquet.enable.dictionary", "false")
        .option("parquet.writer.version", "PARQUET_2_0")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
      for ((label, df, extra) <- Seq(
        ("v2+nodict", () => cleanCorrupt, Map[String, String]()),
        ("v2+nodict+nocomp", () => cleanCorrupt, Map("compression" -> "none")),
        ("v2+nodict coalesce8", () => cleanCorrupt.coalesce(8), Map[String, String]()),
        ("v2+nodict coalesce16", () => cleanCorrupt.coalesce(16), Map[String, String]()),
        ("v2+nodict plainread", () => plainRead, Map[String, String]()),
        ("v2+nodict dropmalformed", () => spark.read
          .option("header", "true").option("maxColumns", cols + 16)
          .option("mode", "DROPMALFORMED").option("escape", "\"")
          .schema(schema).csv(csvDir), Map[String, String]()))) {
        val out = s"/tmp/graft_wexp3_$cols"
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(out), true)
        timed(s"parse+write [$label]") {
          val w = wopts(df().write.mode(SaveMode.Overwrite))
          extra.foreach { case (k, v) => w.option(k, v) }
          w.parquet(out)
        }
        val nf = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .listStatus(new org.apache.hadoop.fs.Path(out))
          .count(_.getPath.getName.endsWith(".parquet"))
        println(s"[width]   files=$nf")
      }
      spark.stop(); return
    }
    if (mode == "wexp2") {
      // uncached entry-path experiments: parse cost (noop sink) and
      // parse+encode cost under writer-option combos
      def clean = sources.MultiFormatReader.readCsvSanitized(spark, csvDir, inferRows = 1000)
      timed("noop sink (parse only, multiLine=true)") {
        clean.write.mode(SaveMode.Overwrite).format("noop").save()
      }
      val schema = clean.schema
      def cleanNoMulti = {
        val raw = spark.read
          .option("header", "true")
          .option("maxColumns", cols + 16)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", sources.MultiFormatReader.CorruptCol)
          .option("escape", "\"")
          .schema(org.apache.spark.sql.types.StructType(schema.fields :+
            org.apache.spark.sql.types.StructField(sources.MultiFormatReader.CorruptCol,
              org.apache.spark.sql.types.StringType)))
          .csv(csvDir)
        raw.filter(col(sources.MultiFormatReader.CorruptCol).isNull)
          .drop(sources.MultiFormatReader.CorruptCol)
      }
      timed("noop sink (parse only, multiLine=false)") {
        cleanNoMulti.write.mode(SaveMode.Overwrite).format("noop").save()
      }
      for ((label, src, opts) <- Seq(
        ("multiline+nodict+blk8m", () => clean, Map(
          "parquet.enable.dictionary" -> "false",
          "parquet.block.size" -> (8 * 1024 * 1024).toString)),
        ("nomulti+nodict+blk8m", () => cleanNoMulti, Map(
          "parquet.enable.dictionary" -> "false",
          "parquet.block.size" -> (8 * 1024 * 1024).toString)),
        ("nomulti+nodict+blk8m+nocomp", () => cleanNoMulti, Map(
          "parquet.enable.dictionary" -> "false",
          "parquet.block.size" -> (8 * 1024 * 1024).toString,
          "compression" -> "none")),
        ("nomulti+v2+blk8m", () => cleanNoMulti, Map(
          "parquet.writer.version" -> "PARQUET_2_0",
          "parquet.block.size" -> (8 * 1024 * 1024).toString)),
        ("nomulti+v2+nodict+blk8m", () => cleanNoMulti, Map(
          "parquet.writer.version" -> "PARQUET_2_0",
          "parquet.enable.dictionary" -> "false",
          "parquet.block.size" -> (8 * 1024 * 1024).toString)))) {
        val out = s"/tmp/graft_wexp2_$cols"
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(out), true)
        timed(s"parse+write [$label]") {
          val w = src().write.mode(SaveMode.Overwrite)
          opts.foreach { case (k, v) => w.option(k, v) }
          w.parquet(out)
        }
        val sz = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(new org.apache.hadoop.fs.Path(out)).getLength
        println(f"[width]   size ${sz / 1e6}%.1f MB")
        timed(s"  readback rowsum [$label]") {
          val back = spark.read.parquet(out)
          val rowSum = call_function("graft_row_sum",
            back.columns.toIndexedSeq.map(col): _*)
          back.agg(count(lit(1)), sum(rowSum)).collect()
        }
      }
      spark.stop(); return
    }
    if (mode == "wexp") {
      // decompose the lake-write cost: csv parse+convert vs parquet encode
      // vs footer-stats sidecar, and the writer-option levers
      val schema = org.apache.spark.sql.types.StructType(
        (0 until cols).map(j => org.apache.spark.sql.types.StructField(
          sources.SchemaTools.sanitizeName(f"Col $j%04d (wide)"),
          org.apache.spark.sql.types.IntegerType)))
      def clean = sources.MultiFormatReader.readCsvWithSchema(spark, csvDir, schema)
      timed("parse+rowsum (csv only)") {
        val rowSum = call_function("graft_row_sum",
          schema.fieldNames.toIndexedSeq.map(col): _*)
        clean.agg(count(lit(1)), sum(rowSum)).collect()
      }
      for ((label, opts) <- Seq(
        "write default" -> Map.empty[String, String],
        "write nodict" -> Map("parquet.enable.dictionary" -> "false"),
        "write blk8m" -> Map("parquet.block.size" -> (8 * 1024 * 1024).toString),
        "write nodict+blk8m" -> Map(
          "parquet.enable.dictionary" -> "false",
          "parquet.block.size" -> (8 * 1024 * 1024).toString),
        "write uncompressed" -> Map("compression" -> "none"),
        "write nodict+page64k" -> Map(
          "parquet.enable.dictionary" -> "false",
          "parquet.page.size" -> (64 * 1024).toString))) {
        val out = s"/tmp/graft_wexp_$cols"
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(out), true)
        timed(label) {
          val w = clean.write.mode(SaveMode.Overwrite)
          opts.foreach { case (k, v) => w.option(k, v) }
          w.parquet(out)
        }
        timed(s"  readback rowsum after [$label]") {
          val back = spark.read.parquet(out)
          val rowSum = call_function("graft_row_sum",
            back.columns.toIndexedSeq.map(col): _*)
          back.agg(count(lit(1)), sum(rowSum)).collect()
        }
      }
      spark.stop(); return
    }
    if (mode == "maxcols") {
      val schema = org.apache.spark.sql.types.StructType(
        (0 until cols).map(j => org.apache.spark.sql.types.StructField(
          f"Col $j%04d (wide)", org.apache.spark.sql.types.IntegerType)))
      for (mc <- Seq(cols + 16, 2 * cols, 8192, 16384, 50000)) {
        timed(s"parse maxCols=$mc") {
          spark.read.option("header", "true").option("multiLine", "true")
            .option("maxColumns", mc).schema(schema).csv(csvDir)
            .agg(sum(col(schema.fields.last.name))).collect()
        }
      }
    } else if (mode == "plain") {
      // reference-equivalent ingest: inferred read -> parquet, no
      // corrupt-record isolation
      val pq = s"/tmp/graft_width_plain_$cols"
      timed("plain ingest (infer+write)") {
        spark.read.option("header", "true").option("inferSchema", "true")
          .option("multiLine", "true").option("maxColumns", cols + 16)
          .csv(csvDir)
          .write.mode(SaveMode.Overwrite).parquet(pq)
      }
    } else if (mode == "corrupt-nodrop") {
      // corrupt col in the read schema, but NO filter/drop/rename on top:
      // isolates the parser's corrupt path from the projection stack
      val schema = org.apache.spark.sql.types.StructType(
        (0 until cols).map(j => org.apache.spark.sql.types.StructField(
          f"Col $j%04d (wide)", org.apache.spark.sql.types.IntegerType))
          :+ org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType))
      val pq = s"/tmp/graft_width_cnd_$cols"
      timed("corrupt-schema read+write") {
        spark.read.option("header", "true").option("multiLine", "true")
          .option("maxColumns", cols + 16)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).csv(csvDir)
          .write.mode(SaveMode.Overwrite).parquet(pq)
      }
    } else {
      val read = timed("readCsv (infer+wrap)") {
        sources.MultiFormatReader.readCsv(spark, csvDir)
      }
      val clean = timed("sanitize") {
        sources.SchemaTools.sanitizeColumns(read.drop(sources.MultiFormatReader.CorruptCol))
      }
      val root = s"/tmp/graft_width_lake_$cols"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      timed("lake write (from csv plan)") { cat.write("wide", "t", clean) }
      timed("lake read count") { cat.read("wide", "t").count() }
    }
    spark.stop()
  }
}
