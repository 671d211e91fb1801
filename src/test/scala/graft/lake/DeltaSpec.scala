package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Delta Lake adoption pair ([[DeltaExport]] / [[DeltaImport]]): a graft
  * lineage rendered as a `_delta_log` must read back exactly — current
  * state, any version, from a checkpoint seed or a full JSON replay —
  * with partition values reattaching from `add.partitionValues` alone and
  * remove tombstones actually unlinking files from the scan. Protocol
  * surface pinned per delta-io/delta PROTOCOL.md (public spec).
  */
class DeltaSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def freshCatalog(): LakeCatalog =
    LakeCatalog(spark, Files.createTempDirectory("graft_delta").toString)

  private def tableLoc(cat: LakeCatalog, ns: String, t: String): String =
    new Path(new Path(new Path(cat.root), ns), t).toString

  private def logLines(loc: String, v: Long): Seq[String] = {
    val p = new Path(new Path(loc, "_delta_log"), f"$v%020d.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  test("round-trip: imported current version equals the lake read") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 100).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "v", "x"))
    cat.write("dl", "t", (101 to 200).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "v", "x"),
      SaveMode.Append)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    assert(exp.lastDeltaVersion == 1L)
    val imported = DeltaImport.read(spark, tableLoc(cat, "dl", "t"))
    assert(imported.columns.toSeq == Seq("id", "v", "x"))
    assert(rows(imported) == rows(cat.read("dl", "t").select("id", "v", "x")))
  }

  test("ADD COLUMN exports as a metadata-only version: its column line is no data dir") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    cat.addColumn("dl", "t", "score", org.apache.spark.sql.types.DoubleType)
    assert(DeltaExport.export(spark, cat, "dl", "t").lastDeltaVersion == 1L)
    val v1 = logLines(tableLoc(cat, "dl", "t"), 1L)
    assert(!v1.exists(l => l.contains("\"add\"") || l.contains("\"remove\"")))
    assert(v1.exists(l => l.contains("\"metaData\"") && l.contains("score")))
    assert(rows(DeltaImport.read(spark, tableLoc(cat, "dl", "t")).select("id", "v")) ==
      rows(cat.read("dl", "t").select("id", "v")))
  }

  test("version 0 carries protocol + metaData with the Spark-JSON schemaString") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    cat.write("dl", "t", df)
    DeltaExport.export(spark, cat, "dl", "t")
    val lines = logLines(tableLoc(cat, "dl", "t"), 0L)
    assert(lines.exists(_.contains("\"protocol\"")))
    assert(lines.exists(_.contains("\"minReaderVersion\":1")))
    val meta = lines.find(_.contains("\"metaData\"")).get
    assert(meta.contains("\"provider\":\"parquet\""))
    // schemaString is the Spark StructType JSON (the spec's own format)
    assert(meta.contains("schemaString"))
    assert(meta.contains("struct"))
    assert(lines.exists(l => l.contains("\"add\"") && l.contains("numRecords")))
  }

  test("CoW delete exports remove tombstones and the import honors them") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("dl", "t", (51 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.delete("dl", "t", col("id") % 5 === 0)
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val lines = logLines(loc, 2L)
    assert(lines.exists(_.contains("\"remove\"")), "delete commit must tombstone files")
    val imported = DeltaImport.read(spark, loc)
    assert(imported.filter(col("id") % 5 === 0).count() == 0)
    assert(rows(imported) == rows(cat.read("dl", "t").select("id", "x")))
    // the tombstoned files must not be scanned at the current version
    val live = DeltaImport.read(spark, loc).inputFiles.toSet
    val v1files = DeltaImport.read(spark, loc, Some(1L)).inputFiles.toSet
    assert(live.nonEmpty && live != v1files)
  }

  test("time travel: each Delta version reproduces its graft snapshot") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 30).map(i => (i.toLong, s"a$i")).toDF("id", "v"))
    cat.write("dl", "t", (31 to 60).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
      SaveMode.Append)
    cat.delete("dl", "t", col("id") <= 10)
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    assert(rows(DeltaImport.read(spark, loc, Some(0L))) ==
      rows(cat.read("dl", "t", Some(1)).select("id", "v")))
    assert(rows(DeltaImport.read(spark, loc, Some(1L))) ==
      rows(cat.read("dl", "t", Some(2)).select("id", "v")))
    assert(rows(DeltaImport.read(spark, loc, Some(2L))) ==
      rows(cat.read("dl", "t", Some(3)).select("id", "v")))
  }

  test("partition values reattach from add.partitionValues with schema casts") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = (1 to 60).map(i => (i.toLong, i % 3, s"p${i % 3}", i * 2.0))
      .toDF("id", "bucket", "tag", "x")
    cat.write("dl", "p", df, partitionBy = Seq("bucket", "tag"))
    DeltaExport.export(spark, cat, "dl", "p")
    val loc = tableLoc(cat, "dl", "p")
    val lines = logLines(loc, 0L)
    assert(lines.exists(l => l.contains("\"partitionValues\"") &&
      l.contains("\"bucket\"") && l.contains("\"tag\"")),
      "partition tuple must live in add.partitionValues")
    // schemaString carries the discovered partition types (bucket int,
    // tag string), so the import casts the reattached strings back and
    // the round-trip is type-identical to the lake read
    val imported = DeltaImport.read(spark, loc).select("id", "x", "bucket", "tag")
    assert(rows(imported) == rows(cat.read("dl", "p").select("id", "x", "bucket", "tag")))
  }

  test("partitionEq prunes files at planning time; unknown keys are loud") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = (1 to 60).map(i => (i.toLong, i % 3, i * 2.0)).toDF("id", "bucket", "x")
    cat.write("dl", "p", df, partitionBy = Seq("bucket"))
    DeltaExport.export(spark, cat, "dl", "p")
    val loc = tableLoc(cat, "dl", "p")
    val full = DeltaImport.read(spark, loc)
    val pruned = DeltaImport.read(spark, loc, partitionEq = Map("bucket" -> "1"))
    assert(rows(pruned) == rows(full.filter(col("bucket") === 1)))
    // pruning happens at PLANNING time: the other partitions' files never
    // reach the scan
    val prunedFiles = pruned.inputFiles.toSet
    val fullFiles = full.inputFiles.toSet
    assert(prunedFiles.nonEmpty && prunedFiles.subsetOf(fullFiles)
      && prunedFiles.size < fullFiles.size)
    assert(prunedFiles.forall(_.contains("bucket=1")))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.read(spark, loc, partitionEq = Map("nope" -> "1"))
    }
    assert(e.getMessage.contains("not partition columns"))
    // a value matching no partition returns an empty, correctly-typed frame
    val none = DeltaImport.read(spark, loc, partitionEq = Map("bucket" -> "9"))
    assert(none.count() == 0 && none.schema == full.schema)
  }

  test("checkpoint seed + JSON tail equals full JSON replay") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.write("dl", "t", (41 to 80).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.delete("dl", "t", col("id") % 4 === 0) // post-checkpoint tombstones
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val viaJson = rows(DeltaImport.read(spark, loc))
    DeltaExport.checkpoint(spark, exp.logDir, 1L)
    val fs = new Path(exp.logDir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(exp.logDir, f"${1L}%020d.checkpoint.parquet")))
    assert(fs.exists(new Path(exp.logDir, "_last_checkpoint")))
    // current read now seeds from the checkpoint and must still apply the
    // version-2 remove tombstones from the JSON tail
    val viaCheckpoint = rows(DeltaImport.read(spark, loc))
    assert(viaCheckpoint == viaJson)
    // below-checkpoint time travel ignores the checkpoint (pure replay)
    assert(rows(DeltaImport.read(spark, loc, Some(0L))) ==
      rows(cat.read("dl", "t", Some(1)).select("id", "x")))
  }

  test("schema evolution emits a fresh metaData action at the evolving version") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    cat.write("dl", "t", (11 to 20).map(i => (i.toLong, s"v$i", i * 1.0)).toDF("id", "v", "x"),
      SaveMode.Append)
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    assert(logLines(loc, 1L).exists(_.contains("\"metaData\"")),
      "schema change must re-emit metaData")
    val imported = DeltaImport.read(spark, loc)
    assert(imported.columns.contains("x"))
    assert(imported.filter(col("id") <= 10).agg(sum(when(col("x").isNull, 1)))
      .collect()(0).getLong(0) == 10L)
  }

  test("merge-on-read deletes export as REAL deletion vectors; import applies them") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 200).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.deleteMoR("dl", "t", col("id") % 3 === 0)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    assert(exp.lastDeltaVersion == 1L)
    val loc = tableLoc(cat, "dl", "t")
    // protocol carries the table feature; the DV commit re-emits adds with
    // inline Z85 descriptors and removes nothing (no data rewrite)
    val v0 = logLines(loc, 0L)
    assert(v0.exists(_.contains("\"minReaderVersion\":3")))
    assert(v0.exists(_.contains("deletionVectors")))
    val v1 = logLines(loc, 1L)
    assert(v1.exists(l => l.contains("\"deletionVector\"") &&
      l.contains("\"storageType\":\"i\"") && l.contains("\"cardinality\"")))
    assert(!v1.exists(_.contains("\"remove\"")))
    val imported = DeltaImport.read(spark, loc)
    assert(imported.filter(col("id") % 3 === 0).count() == 0)
    assert(rows(imported) == rows(cat.read("dl", "t").select("id", "x")))
    // time travel below the DV commit still sees every row
    assert(DeltaImport.read(spark, loc, Some(0L)).count() == 200)
  }

  test("stacked MoR deletes re-emit the add with the merged vector; checkpoint carries it") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.deleteMoR("dl", "t", col("id") % 5 === 0)
    cat.deleteMoR("dl", "t", col("id") % 7 === 0)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val expect = rows(cat.read("dl", "t").select("id", "x"))
    assert(rows(DeltaImport.read(spark, loc)) == expect)
    // each stacked delete is its own faithful Delta version
    assert(DeltaImport.read(spark, loc, Some(1L))
      .filter(col("id") % 7 === 0 && col("id") % 5 =!= 0).count() > 0)
    // a checkpoint at the tip persists the DV descriptor in the add struct
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    assert(rows(DeltaImport.read(spark, loc)) == expect)
  }

  test("oversize vectors land in a uuid-named .bin sidecar with CRC framing") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 5000).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.deleteMoR("dl", "t", col("id") % 2 === 0)
    // force the file path by making every blob oversize
    DeltaExport.export(spark, cat, "dl", "t", inlineDvMax = 8)
    val loc = tableLoc(cat, "dl", "t")
    val lines = logLines(loc, 1L)
    assert(lines.exists(l => l.contains("\"storageType\":\"u\"") &&
      l.contains("\"offset\":1")))
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new Path(loc)).exists(
      _.getPath.getName.startsWith("deletion_vector_")))
    val imported = DeltaImport.read(spark, loc)
    assert(imported.filter(col("id") % 2 === 0).count() == 0)
    assert(rows(imported) == rows(cat.read("dl", "t").select("id", "x")))
  }

  // ---- r12: protocol fidelity, determinism, column mapping, bounds ------

  private def writeLog(loc: String, v: Long, lines: Seq[String]): Unit = {
    val p = new Path(new Path(loc, "_delta_log"), f"$v%020d.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("checkpoint carries the log's REAL protocol (DV tables: 3/7 + features)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.deleteMoR("dl", "t", col("id") % 3 === 0)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    val cp = spark.read.parquet(
      new Path(exp.logDir, f"${exp.lastDeltaVersion}%020d.checkpoint.parquet").toString)
    val proto = cp.filter(col("protocol").isNotNull).select("protocol.*").collect()
    assert(proto.length == 1)
    assert(proto(0).getAs[Int]("minReaderVersion") == 3 &&
      proto(0).getAs[Int]("minWriterVersion") == 7,
      "a deletion-vector table's checkpoint must not claim the base protocol")
    assert(proto(0).getAs[scala.collection.Seq[String]]("readerFeatures")
      .contains("deletionVectors"))
    // and a checkpoint-seeded import still equals the lake
    assert(rows(DeltaImport.read(spark, tableLoc(cat, "dl", "t"))) ==
      rows(cat.read("dl", "t").select("id", "x")))
  }

  test("checkpoint preserves remove tombstones and txn identifiers") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.writeTxn("dl", "t", "sinkApp", 7L, (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("dl", "t", (51 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.delete("dl", "t", col("id") <= 50) // CoW: tombstones the first commit
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    // the txn action must be in the JSON log...
    assert(logLines(tableLoc(cat, "dl", "t"), 0L)
      .exists(l => l.contains("\"txn\"") && l.contains("sinkApp") && l.contains("\"version\":7")))
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    val cp = spark.read.parquet(
      new Path(exp.logDir, f"${exp.lastDeltaVersion}%020d.checkpoint.parquet").toString)
    // ...and survive into the checkpoint (spec: txns + unexpired tombstones)
    val txn = cp.filter(col("txn").isNotNull).select("txn.*").collect()
    assert(txn.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("sinkApp", 7L)))
    assert(cp.filter(col("remove").isNotNull).count() >= 1,
      "CoW-removed files must keep tombstone visibility in the checkpoint")
  }

  test("re-export never rewrites committed versions; bytes are deterministic") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    cat.write("dl", "t", (31 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      SaveMode.Append)
    val loc = tableLoc(cat, "dl", "t")
    DeltaExport.export(spark, cat, "dl", "t")
    val before = (0L to 1L).map(v => v -> logLines(loc, v))
    cat.write("dl", "t", (61 to 90).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      SaveMode.Append)
    val exp2 = DeltaExport.export(spark, cat, "dl", "t")
    assert(exp2.lastDeltaVersion == 2L)
    before.foreach { case (v, lines) =>
      assert(logLines(loc, v) == lines,
        s"re-export must not change committed Delta version $v")
    }
    // no wall-clock leak: createdTime identical across the lineage
    assert(logLines(loc, 0L).find(_.contains("createdTime")).nonEmpty)
  }

  test("re-export refuses when snapshot expiry shifted the version mapping") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.write("dl", "t", (21 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    DeltaExport.export(spark, cat, "dl", "t")
    cat.expireSnapshots("dl", "t", keepLast = 1) // earliest graft version gone
    val e = intercept[IllegalArgumentException] {
      DeltaExport.export(spark, cat, "dl", "t")
    }
    assert(e.getMessage.contains("shifted the mapping"), e.getMessage)
  }

  test("'+' in partition values and paths survives the round trip (RFC 2396)") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = Seq((1L, "a+b", 1.0), (2L, "a+b", 2.0), (3L, "plain", 3.0))
      .toDF("id", "k", "x")
    cat.write("dl", "t", df, partitionBy = Seq("k"))
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val imported = DeltaImport.read(spark, loc)
    assert(rows(imported.select("id", "k", "x")) == rows(df))
    // and plan-time pruning on the '+' value selects exactly its rows
    val pruned = DeltaImport.read(spark, loc, partitionEq = Map("k" -> "a+b"))
    assert(pruned.count() == 2)
  }

  test("unsupported reader features / versions are rejected, not misread") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_foreign_").toString
    val schemaJson = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string").json
    // a v2Checkpoint-requiring table: reading it with this importer would
    // be wrong, so it must refuse
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":0}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.read(spark, dir)
    }
    assert(e.getMessage.contains("v2Checkpoint"), e.getMessage)
    // and a future minReaderVersion without features is equally loud
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":0}}"""))
    val e2 = intercept[IllegalArgumentException] {
      DeltaImport.read(spark, dir)
    }
    assert(e2.getMessage.contains("minReaderVersion"), e2.getMessage)
  }

  test("column mapping mode=name: physical files read back as logical columns") {
    import spark.implicits._
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val dir = Files.createTempDirectory("graft_cmap_").toString
    // a foreign writer's table: parquet columns carry PHYSICAL names
    val tmp = Files.createTempDirectory("graft_cmap_stage_").resolve("out")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-9f1", "col-2ab")
      .coalesce(1).write.parquet(tmp.toString)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(tmp.toString)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(dir, "data-0.parquet"))
    val schemaJson = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-9f1")
          .putLong("delta.columnMapping.id", 1).build())
      .add("v", org.apache.spark.sql.types.StringType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-2ab")
          .putLong("delta.columnMapping.id", 2).build())
      .json
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}""",
      """{"add":{"path":"data-0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val imported = DeltaImport.read(spark, dir)
    assert(imported.columns.toSeq == Seq("id", "v"))
    assert(rows(imported) == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("column mapping mode=id: columns resolve by parquet FIELD ID, not name") {
    import org.apache.spark.sql.types._
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val dir = Files.createTempDirectory("graft_cmapid_").toString
    // a foreign id-mode writer's file: parquet column NAMES are arbitrary
    // (deliberately different from the log's physicalName metadata, which
    // id mode must ignore for the data path) — only the FIELD IDS bind
    val fileSchema = StructType(Seq(
      StructField("whatever_1", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("whatever_2", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b"),
        org.apache.spark.sql.Row(3L, "c")), 1), fileSchema)
    val tmp = Files.createTempDirectory("graft_cmapid_stage_").resolve("out")
    data.coalesce(1).write.parquet(tmp.toString)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(tmp.toString)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(dir, "data-0.parquet"))
    val schemaJson = new StructType()
      .add("id", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-9f1")
          .putLong("delta.columnMapping.id", 1).build())
      .add("v", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-2ab")
          .putLong("delta.columnMapping.id", 2).build())
      .json
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}""",
      """{"add":{"path":"data-0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val imported = DeltaImport.read(spark, dir)
    assert(imported.columns.toSeq == Seq("id", "v"))
    assert(rows(imported) == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("multi-part checkpoints seed exactly like single-file ones") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 40).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("dl", "t", (41 to 80).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    val loc = tableLoc(cat, "dl", "t")
    val expected = rows(DeltaImport.read(spark, loc))
    // split the single checkpoint into two part files + a parts pointer
    val fs = new Path(exp.logDir).getFileSystem(spark.sessionState.newHadoopConf())
    val single = new Path(exp.logDir, f"${exp.lastDeltaVersion}%020d.checkpoint.parquet")
    val cpDf = spark.read.parquet(single.toString)
    val cpRows = cpDf.collect().toSeq
    val n = cpRows.length.toLong
    val (h1, h2) = cpRows.splitAt(cpRows.length / 2)
    def writePart(part: Seq[org.apache.spark.sql.Row], i: Int): Unit = {
      val tmp = new Path(exp.logDir, s".part$i.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), cpDf.schema)
        .coalesce(1).write.parquet(tmp.toString)
      val f = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(f, new Path(exp.logDir,
        f"${exp.lastDeltaVersion}%020d.checkpoint.$i%010d.${2}%010d.parquet"))
      fs.delete(tmp, true)
    }
    writePart(h1, 1)
    writePart(h2, 2)
    fs.delete(single, false)
    val out = fs.create(new Path(exp.logDir, "_last_checkpoint"), true)
    try out.write(
      s"""{"version":${exp.lastDeltaVersion},"size":$n,"parts":2}""".getBytes("UTF-8"))
    finally out.close()
    assert(rows(DeltaImport.read(spark, loc)) == expected)
  }

  test("driver-state cap: distributive planning equals the collect path") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = (1 to 90).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "k", "x")
    cat.write("dl", "t", df, partitionBy = Seq("k"))
    cat.write("dl", "t",
      (91 to 120).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "k", "x"),
      SaveMode.Append, partitionBy = Seq("k"))
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    // a post-checkpoint JSON tail ADD, so the fallback merges tail state
    cat.write("dl", "t",
      (121 to 150).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "k", "x"),
      SaveMode.Append, partitionBy = Seq("k"))
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val full = rows(DeltaImport.read(spark, loc))
    val part = rows(DeltaImport.read(spark, loc, partitionEq = Map("k" -> "p1")))
    val prop = "graft.delta.import.maxDriverFiles"
    sys.props(prop) = "1" // force the distributive path
    try {
      assert(rows(DeltaImport.read(spark, loc)) == full)
      assert(rows(DeltaImport.read(spark, loc, partitionEq = Map("k" -> "p1"))) == part)
    } finally sys.props.remove(prop)
  }

  test("CDF: explicit cdc diffs, derived inserts, MoR + compaction commits") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("dl", "t", (61 to 120).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.deleteMoR("dl", "t", col("id") % 10 === 0) // v2: DV change -> cdc
    cat.compact("dl", "t") // v3: full rewrite, NO row change -> empty cdc
    val loc = tableLoc(cat, "dl", "t")
    DeltaExport.export(spark, cat, "dl", "t", changeDataFeed = true)
    val feed = DeltaImport.readChangeFeed(spark, loc, 0L, 3L)
    assert(feed.columns.takeRight(2).toSeq == Seq("_change_type", "_commit_version"))
    val byVt = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVt((0L, "insert")) == 60)
    assert(byVt((1L, "insert")) == 60)
    assert(byVt((2L, "delete")) == 12, "MoR delete diff must ride the cdc file")
    assert(!byVt.keySet.exists(_._1 == 3L),
      "a compaction changes no rows - its cdc file must be empty")
    // deleted IDS are the right ones, and a subrange reads only its versions
    val v2 = DeltaImport.readChangeFeed(spark, loc, 2L, 2L)
    assert(v2.select("id").collect().map(_.getLong(0)).toSet ==
      (1 to 120).filter(_ % 10 == 0).map(_.toLong).toSet)
    // the protocol carries BOTH features for a DV+CDF table
    assert(logLines(loc, 0L).exists(l =>
      l.contains("changeDataFeed") && l.contains("deletionVectors")))
    // a non-CDF export refuses the feed read loudly
    val cat2 = freshCatalog()
    cat2.write("dl", "t", (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    DeltaExport.export(spark, cat2, "dl", "t")
    val e = intercept[IllegalArgumentException] {
      DeltaImport.readChangeFeed(spark, tableLoc(cat2, "dl", "t"), 0L, 0L)
    }
    assert(e.getMessage.contains("enableChangeDataFeed"), e.getMessage)
  }

  test("CDF: derived inserts on a partitioned table reattach partition values") {
    import spark.implicits._
    val cat = freshCatalog()
    val df = (1 to 30).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "k", "x")
    cat.write("dl", "t", df, partitionBy = Seq("k"))
    DeltaExport.export(spark, cat, "dl", "t", changeDataFeed = true)
    val feed = DeltaImport.readChangeFeed(spark, tableLoc(cat, "dl", "t"), 0L, 0L)
    assert(rows(feed.select("id", "k", "x")) == rows(df))
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
  }

  test("CDF: partitioned remove-without-cdc reconstructs deletes with partition values") {
    import spark.implicits._
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val dir = Files.createTempDirectory("graft_cdfpart_").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // two hive-less data files, one per partition value — a foreign CDF
    // writer's CoW delete drops one of them WITHOUT a cdc action
    def placeFile(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("graft_cdfpart_stage_").resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(new Path(tmp.toString)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new Path(dir, name))
    }
    placeFile("f-a.parquet", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x"))
    placeFile("f-b.parquet", Seq((3L, 3.0), (4L, 4.0)).toDF("id", "x"))
    val schemaJson = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("x", "double").add("k", "string").json
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":["k"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      """{"add":{"path":"f-a.parquet","partitionValues":{"k":"pa"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"f-b.parquet","partitionValues":{"k":"pb"},"size":1,"modificationTime":0,"dataChange":true}}"""))
    writeLog(dir, 1L, Seq(
      """{"remove":{"path":"f-b.parquet","deletionTimestamp":1,"dataChange":true}}"""))
    val feed = DeltaImport.readChangeFeed(spark, dir, 0L, 1L)
    val dels = feed.filter(col("_change_type") === "delete")
      .select("id", "k", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // the removed file's partition value reattaches from its v0 add
    assert(dels == Set((3L, "pb", 1L), (4L, "pb", 1L)))
    assert(feed.filter(col("_change_type") === "insert").count() == 4)
    // a remove naming a path no add ever declared fails loudly
    writeLog(dir, 2L, Seq(
      """{"remove":{"path":"f-ghost.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.readChangeFeed(spark, dir, 0L, 2L)
    }
    assert(e.getMessage.contains("no prior add"), e.getMessage)
  }

  test("CDF: a no-cdc commit carrying deletion vectors is refused, not misread") {
    import spark.implicits._
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val dir = Files.createTempDirectory("graft_cdfdv_").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = Files.createTempDirectory("graft_cdfdv_stage_").resolve("out")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(new Path(tmp.toString)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(dir, "f-a.parquet"))
    val schemaJson = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("x", "double").json
    writeLog(dir, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors","changeDataFeed"]}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      """{"add":{"path":"f-a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    // a MoR-style commit: re-add with a DV, no cdc action — whole-file
    // reconstruction would silently resurrect the DV-masked rows
    writeLog(dir, 1L, Seq(
      """{"add":{"path":"f-a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"x","sizeInBytes":1,"cardinality":1}}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.readChangeFeed(spark, dir, 1L, 1L)
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
  }

  test("CDF reads under column mapping: name mode (derived + explicit cdc) and id mode") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    def place(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = Files.createTempDirectory("graft_cdfmap_stage_").resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(new Path(tmp.toString)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new Path(dir, name))
    }
    def mappedSchemaJson: String = new StructType()
      .add("id", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-9f1")
          .putLong("delta.columnMapping.id", 1).build())
      .add("v", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-2ab")
          .putLong("delta.columnMapping.id", 2).build())
      .json
    // ---- mode=name: physical-name files; derived inserts, reconstructed
    // deletes, and an explicit cdc file all rename back to logical
    val dirN = Files.createTempDirectory("graft_cdfmap_name_").toString
    place(dirN, "f-a.parquet", Seq((1L, "a"), (2L, "b")).toDF("col-9f1", "col-2ab"))
    place(dirN, "cdc-2.parquet",
      Seq((2L, "b", "delete"), (2L, "B", "insert"))
        .toDF("col-9f1", "col-2ab", "_change_type"))
    writeLog(dirN, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      """{"add":{"path":"f-a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    writeLog(dirN, 1L, Seq(
      """{"remove":{"path":"f-a.parquet","deletionTimestamp":1,"dataChange":true}}"""))
    writeLog(dirN, 2L, Seq(
      """{"cdc":{"path":"cdc-2.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))
    val feedN = DeltaImport.readChangeFeed(spark, dirN, 0L, 2L)
    assert(feedN.columns.toSeq == Seq("id", "v", "_change_type", "_commit_version"))
    val got = feedN.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (1L, "a", "delete", 1L), (2L, "b", "delete", 1L),
      (2L, "b", "delete", 2L), (2L, "B", "insert", 2L)))
    // ---- mode=id: arbitrary file names, FIELD IDS do the resolution
    val dirI = Files.createTempDirectory("graft_cdfmap_id_").toString
    val fileSchema = StructType(Seq(
      StructField("whatever_1", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("whatever_2", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    place(dirI, "f-a.parquet", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")), 1),
      fileSchema))
    writeLog(dirI, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","name":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(mappedSchemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      """{"add":{"path":"f-a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val feedI = DeltaImport.readChangeFeed(spark, dirI, 0L, 0L)
    assert(feedI.columns.toSeq == Seq("id", "v", "_change_type", "_commit_version"))
    assert(feedI.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "a", "insert"), (2L, "b", "insert")))
  }

  test("re-export with a flipped changeDataFeed mode refuses loudly") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    DeltaExport.export(spark, cat, "dl", "t") // cut WITHOUT the feed
    cat.write("dl", "t", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    val e = intercept[IllegalArgumentException] {
      DeltaExport.export(spark, cat, "dl", "t", changeDataFeed = true)
    }
    assert(e.getMessage.contains("changeDataFeed"), e.getMessage)
    // the honest direction still works
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    assert(exp.lastDeltaVersion == 1L)
  }

  test("driver-state cap: tail REMOVES shadow checkpoint adds distributively") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("dl", "t", (1 to 60).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.write("dl", "t", (61 to 120).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    val exp = DeltaExport.export(spark, cat, "dl", "t")
    DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
    // post-checkpoint CoW delete: the tail REMOVES a checkpoint file and
    // re-ADDS the rewritten one — both must shadow the checkpoint row
    cat.delete("dl", "t", col("id") <= 30)
    DeltaExport.export(spark, cat, "dl", "t")
    val loc = tableLoc(cat, "dl", "t")
    val full = rows(DeltaImport.read(spark, loc))
    assert(!full.exists(r => r.head.asInstanceOf[Long] <= 30))
    val prop = "graft.delta.import.maxDriverFiles"
    sys.props(prop) = "1"
    try assert(rows(DeltaImport.read(spark, loc)) == full)
    finally sys.props.remove(prop)
  }
}
