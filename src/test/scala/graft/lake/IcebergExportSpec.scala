package graft.lake

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Iceberg v2 export: the emitted metadata must carry every required
  * TableMetadata field, the snapshot lineage must round-trip (each
  * snapshot's manifest list resolves to exactly that graft version's
  * files), and merge-on-read deletion vectors must surface as spec-shaped
  * position-delete files.
  */
class IcebergExportSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def readJson(path: String): JsonNode =
    mapper.readTree(new java.io.File(new java.net.URI(path).getPath))

  private def localFile(path: String): java.io.File =
    new java.io.File(new java.net.URI(path).getPath)

  import org.apache.avro.generic.GenericRecord
  import IcebergAvro.{int => aInt, long => aLong, rec => aRec, str => aStr}

  /** read an exported Avro container (manifest list or manifest) */
  private def readAvro(path: String): (Seq[GenericRecord], Map[String, String]) = {
    val p = new org.apache.hadoop.fs.Path(new java.net.URI(path))
    IcebergAvro.readContainer(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def manifestsOf(listPath: String): Seq[(GenericRecord, Seq[GenericRecord])] =
    readAvro(listPath)._1.map(mf => mf -> readAvro(aStr(mf, "manifest_path"))._1)

  private def freshCatalog(): LakeCatalog =
    LakeCatalog(spark, Files.createTempDirectory("graft_ice").toString)

  private def buildTable(): (LakeCatalog, String) = {
    val cat = LakeCatalog(spark, Files.createTempDirectory("graft_ice").toString)
    import spark.implicits._
    cat.write("ice", "t", (1 to 100).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "x"))
    cat.write("ice", "t", (101 to 200).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "x"),
      SaveMode.Append)
    cat.deleteMoR("ice", "t", col("id") <= 10)
    (cat, IcebergExport.export(spark, cat, "ice", "t").metadataFile)
  }

  test("metadata.json carries every required v2 field with consistent values") {
    val (cat, metaFile) = buildTable()
    val m = readJson(metaFile)
    assert(m.get("format-version").asInt() == 2)
    assert(java.util.UUID.fromString(m.get("table-uuid").asText()) != null)
    for (f <- Seq("location", "last-sequence-number", "last-updated-ms",
        "last-column-id", "schemas", "current-schema-id", "partition-specs",
        "default-spec-id", "last-partition-id", "sort-orders",
        "default-sort-order-id", "snapshots", "current-snapshot-id",
        "snapshot-log", "metadata-log", "refs"))
      assert(m.has(f), s"missing required field $f")
    // schema: struct with unique positive field ids; last-column-id is max
    val schema = m.get("schemas").get(0)
    assert(schema.get("type").asText() == "struct")
    assert(schema.get("schema-id").asInt() == m.get("current-schema-id").asInt())
    val ids = schema.get("fields").elements()
    val seen = scala.collection.mutable.Set[Int]()
    while (ids.hasNext) {
      val id = ids.next().get("id").asInt()
      assert(id > 0 && seen.add(id), s"field id $id duplicated or invalid")
    }
    assert(seen.max <= m.get("last-column-id").asInt())
    // snapshots: one per graft version, current = latest, parents chain
    val versions = cat.versions("ice", "t")
    assert(m.get("snapshots").size() == versions.length)
    assert(m.get("current-snapshot-id").asLong() == versions.last.toLong)
    assert(m.get("refs").get("main").get("snapshot-id").asLong() == versions.last.toLong)
    // snapshot-log: ascending timestamps, ids = versions in order
    val log = m.get("snapshot-log")
    assert(log.size() == versions.length)
    var prevTs = 0L
    for (i <- 0 until log.size()) {
      val e = log.get(i)
      assert(e.get("snapshot-id").asLong() == versions(i).toLong)
      assert(e.get("timestamp-ms").asLong() >= prevTs)
      prevTs = e.get("timestamp-ms").asLong()
    }
    // name mapping covers every top-level column
    val nm = mapper.readTree(
      m.get("properties").get("schema.name-mapping.default").asText())
    assert(nm.size() == cat.read("ice", "t").schema.length)
  }

  test("each snapshot's manifest list resolves to exactly that version's files") {
    val (cat, metaFile) = buildTable()
    val m = readJson(metaFile)
    val snaps = m.get("snapshots")
    for (i <- 0 until snaps.size()) {
      val sn = snaps.get(i)
      val v = sn.get("snapshot-id").asLong().toInt
      // every manifest exists; data-file union == the version's parquet set
      val fromMeta = scala.collection.mutable.Set[String]()
      var deleteRows = 0L
      for ((mf, entries) <- manifestsOf(sn.get("manifest-list").asText())) {
        assert(localFile(aStr(mf, "manifest_path")).length() ==
          aLong(mf, "manifest_length"))
        for (e <- entries) {
          val df = aRec(e, "data_file")
          assert(localFile(aStr(df, "file_path")).exists(),
            s"missing file ${aStr(df, "file_path")}")
          if (aInt(df, "content") == 0) fromMeta += aStr(df, "file_path")
          else deleteRows += aLong(df, "record_count")
        }
      }
      // ground truth: the graft manifest's data dirs at this version
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
      val expected = cat.snapshot("ice", "t", Some(v)).data.flatMap { rel =>
        val dir = new org.apache.hadoop.fs.Path(s"${cat.root}/ice/t/$rel")
        fs.listStatus(dir).map(_.getPath.getName)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
          .map(n => s"$rel/$n")
      }.toSet
      val got = fromMeta.map(p => p.substring(p.indexOf("/data/") + 1)).toSet
      assert(got == expected, s"v$v file set mismatch:\n got=$got\n exp=$expected")
      // the dv snapshot's manifest list carries the marked rows as deletes
      if (cat.snapshot("ice", "t", Some(v)).dvs.nonEmpty)
        assert(deleteRows == 10L, s"v$v expected 10 position deletes, got $deleteRows")
    }
  }

  test("ADD COLUMN snapshot adds no data files and no manifest") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ice", "t", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    cat.addColumn("ice", "t", "score", org.apache.spark.sql.types.DoubleType)
    val m = readJson(IcebergExport.export(spark, cat, "ice", "t").metadataFile)
    val sn = m.get("snapshots").get(1)
    assert(sn.get("summary").get("added-data-files").asText() == "0")
    assert(sn.get("summary").get("total-records").asText() == "10")
    assert(manifestsOf(sn.get("manifest-list").asText()).size == 1)
  }

  test("deletion vectors export as sorted spec-shaped position-delete parquet") {
    val (cat, metaFile) = buildTable()
    val m = readJson(metaFile)
    val current = m.get("snapshots").get(m.get("snapshots").size() - 1)
    val manifests = manifestsOf(current.get("manifest-list").asText())
    val deletePaths = manifests.flatMap(_._2).map(aRec(_, "data_file"))
      .filter(aInt(_, "content") == 1).map(aStr(_, "file_path"))
    assert(deletePaths.nonEmpty, "MoR delete must surface as a delete manifest entry")
    val del = spark.read.parquet(deletePaths.map(p => localFile(p).getPath): _*)
    assert(del.columns.toSeq == Seq("file_path", "pos"))
    val rows = del.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 10)
    assert(rows.sortBy(identity).sameElements(rows), "position deletes must be sorted")
    // field ids landed in the parquet footers (what a real reader keys on)
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(deletePaths.head), conf))
    try {
      val pq = reader.getFooter.getFileMetaData.getSchema
      def idOf(name: String): Int =
        pq.getFields.get(pq.getFieldIndex(name)).getId.intValue()
      assert(idOf("file_path") == IcebergExport.FilePathFieldId.toInt)
      assert(idOf("pos") == IcebergExport.PosFieldId.toInt)
    } finally reader.close()
    // every referenced data file exists among the snapshot's data files
    val dataFiles = manifests.flatMap(_._2).map(aRec(_, "data_file"))
      .filter(aInt(_, "content") == 0).map(aStr(_, "file_path")).toSet
    rows.foreach { case (fp, _) => assert(dataFiles.contains(fp), s"dangling delete ref $fp") }
  }

  test("snapshot tags: named time travel, retention protection, exported as tag refs") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ice", "g", (1 to 10).map(i => (i, "a")).toDF("id", "v"))
    cat.createTag("ice", "g", "train-run-1")
    cat.write("ice", "g", (11 to 20).map(i => (i, "b")).toDF("id", "v"), SaveMode.Append)
    cat.write("ice", "g", (21 to 30).map(i => (i, "c")).toDF("id", "v"), SaveMode.Append)
    // named time travel
    assert(cat.readTag("ice", "g", "train-run-1").count() == 10)
    assert(cat.listTags("ice", "g") == Map("train-run-1" -> 1))
    // tags are immutable
    intercept[IllegalArgumentException] { cat.createTag("ice", "g", "train-run-1") }
    // retention: keepLast=1 would normally drop v1 and v2 — the tagged v1
    // must survive with its data readable; untagged v2 goes
    cat.expireSnapshots("ice", "g", keepLast = 1)
    assert(cat.versions("ice", "g") == Seq(1, 3),
      s"tagged snapshot must survive expiry: ${cat.versions("ice", "g")}")
    assert(cat.readTag("ice", "g", "train-run-1").count() == 10)
    assert(cat.read("ice", "g").count() == 30)
    // exported refs carry the tag
    val exp = IcebergExport.export(spark, cat, "ice", "g")
    val refs = readJson(exp.metadataFile).get("refs")
    assert(refs.get("train-run-1").get("type").asText() == "tag")
    assert(refs.get("train-run-1").get("snapshot-id").asLong() == 1L)
    assert(refs.get("main").get("snapshot-id").asLong() == 3L)
    // dropTag releases the protection on the next expiry
    cat.dropTag("ice", "g", "train-run-1")
    cat.expireSnapshots("ice", "g", keepLast = 1)
    assert(cat.versions("ice", "g") == Seq(3))
  }

  test("hive-partitioned table exports an identity partition spec with per-file values") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ice", "p",
      Seq((1, "us", 10.0), (2, "us", 20.0), (3, "de", 30.0), (4, "fr", 40.0))
        .toDF("id", "country", "x"),
      partitionBy = Seq("country"))
    val exp = IcebergExport.export(spark, cat, "ice", "p")
    val m = readJson(exp.metadataFile)
    // identity spec over the partition column, field-ids from 1000
    val spec = m.get("partition-specs").get(0)
    assert(spec.get("fields").size() == 1)
    val pf = spec.get("fields").get(0)
    assert(pf.get("name").asText() == "country")
    assert(pf.get("transform").asText() == "identity")
    assert(pf.get("field-id").asInt() == 1000)
    assert(m.get("last-partition-id").asInt() == 1000)
    // source-id points at the schema's country field
    val schemaFields = m.get("schemas").get(0).get("fields")
    val countryId = (0 until schemaFields.size()).map(schemaFields.get)
      .find(_.get("name").asText() == "country").get.get("id").asInt()
    assert(pf.get("source-id").asInt() == countryId)
    // every data file carries its partition value; values cover the data
    val vals = manifestsOf(m.get("snapshots").get(0).get("manifest-list").asText())
      .flatMap(_._2).map(e => String.valueOf(
        aRec(aRec(e, "data_file"), "partition").get("country")))
    assert(vals.toSet == Set("us", "de", "fr"), s"got $vals")
  }

  test("z-ordered table exports cleanly: no synthetic _zbucket column or partition field") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.writeClustered("ice", "z",
      (1 to 500).map(i => (i, i % 20, i * 1.0)).toDF("id", "grp", "x"),
      Seq("id", "grp"), commits = 4)
    val exp = IcebergExport.export(spark, cat, "ice", "z")
    val m = readJson(exp.metadataFile)
    assert(m.get("partition-specs").get(0).get("fields").size() == 0,
      "_zbucket must not surface as a partition field")
    val names = {
      val fs2 = m.get("schemas").get(0).get("fields")
      (0 until fs2.size()).map(k => fs2.get(k).get("name").asText()).toSet
    }
    assert(names == Set("id", "grp", "x"), s"schema leaked synthetic cols: $names")
    // all four z-bucket entries' files resolve and record counts sum to 500
    val total = manifestsOf(m.get("snapshots").get(0).get("manifest-list").asText())
      .flatMap(_._2).map(e => aLong(aRec(e, "data_file"), "record_count")).sum
    assert(total == 500L, s"record counts sum to $total")
  }

  test("re-export after new commits chains metadata-log and bumps version-hint") {
    val (cat, _) = buildTable()
    import spark.implicits._
    cat.write("ice", "t", (201 to 210).map(i => (i, s"v$i", 0.0)).toDF("id", "v", "x"),
      SaveMode.Append)
    val second = IcebergExport.export(spark, cat, "ice", "t")
    val m2 = readJson(second.metadataFile)
    assert(second.metadataFile.endsWith("v2.metadata.json"))
    assert(m2.get("metadata-log").size() == 1)
    assert(m2.get("metadata-log").get(0).get("metadata-file").asText()
      .endsWith("v1.metadata.json"))
    assert(m2.get("snapshots").size() == cat.versions("ice", "t").length)
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(second.metadataDir).getPath,
        "version-hint.text")))
    assert(hint == "2")
    // both exports agree on table identity
    val m1 = readJson(m2.get("metadata-log").get(0).get("metadata-file").asText())
    assert(m1.get("table-uuid") == m2.get("table-uuid"))
  }

  test("name mapping recursively mirrors nested struct/list/map field ids") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("addr", StructType(Seq(
        StructField("city", StringType),
        StructField("geo", StructType(Seq(
          StructField("lat", DoubleType), StructField("lon", DoubleType))))))),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, IntegerType))))
    val (schemaJson, lastId, mapping) = IcebergExport.icebergSchema(schema)

    // collect id->mapping-entry pairs recursively from the mapping
    val fromMapping = scala.collection.mutable.Map[Long, String]()
    def walkM(arr: JsonNode): Unit =
      for (i <- 0 until arr.size()) {
        val e = arr.get(i)
        fromMapping += e.get("field-id").asLong() -> e.get("names").get(0).asText()
        if (e.has("fields")) walkM(e.get("fields"))
      }
    walkM(mapping)

    // collect id->name pairs recursively from the schema JSON
    val fromSchema = scala.collection.mutable.Map[Long, String]()
    def walkT(t: JsonNode): Unit =
      if (t.isObject) t.get("type").asText() match {
        case "struct" =>
          val fs = t.get("fields")
          for (i <- 0 until fs.size()) {
            val f = fs.get(i)
            fromSchema += f.get("id").asLong() -> f.get("name").asText()
            walkT(f.get("type"))
          }
        case "list" =>
          fromSchema += t.get("element-id").asLong() -> "element"
          walkT(t.get("element"))
        case "map" =>
          fromSchema += t.get("key-id").asLong() -> "key"
          walkT(t.get("key"))
          fromSchema += t.get("value-id").asLong() -> "value"
          walkT(t.get("value"))
      }
    walkT(schemaJson)

    // every assigned id (1..lastId) must appear in BOTH, with equal names —
    // an adopting engine can resolve nested projections over field-id-free
    // parquet via the mapping alone
    assert(fromSchema.keySet == (1 to lastId).map(_.toLong).toSet)
    assert(fromMapping == fromSchema,
      s"mapping=$fromMapping schema=$fromSchema")
  }

  test("partitioned MoR export: per-partition delete files carrying partition values") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ice", "pm",
      (1 to 40).map(i => (i, if (i % 2 == 0) "us" else "de", i * 1.0))
        .toDF("id", "country", "x"),
      partitionBy = Seq("country"))
    cat.deleteMoR("ice", "pm", col("id") <= 10) // five marks per partition
    assert(cat.read("ice", "pm").count() == 30)
    val exp = IcebergExport.export(spark, cat, "ice", "pm")
    val m = readJson(exp.metadataFile)
    val current = m.get("snapshots").get(m.get("snapshots").size() - 1)
    val manifests = manifestsOf(current.get("manifest-list").asText())
    val deleteEntries = manifests.flatMap(_._2).map(aRec(_, "data_file"))
      .filter(aInt(_, "content") == 1)
    assert(deleteEntries.nonEmpty, "MoR delete must surface as delete entries")
    // a v2 reader indexes position deletes by partition tuple — every
    // delete entry must carry a NON-NULL tuple covering both partitions
    val byPart = deleteEntries.groupBy(e =>
      String.valueOf(aRec(e, "partition").get("country")))
    assert(byPart.keySet == Set("us", "de"), s"got ${byPart.keySet}")
    // each delete FILE references only data files of its own partition,
    // sorted by (file_path, pos) as the spec requires
    for ((country, entries) <- byPart; e <- entries) {
      val del = spark.read.parquet(localFile(aStr(e, "file_path")).getPath)
      assert(del.columns.toSeq == Seq("file_path", "pos"))
      val rows = del.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.nonEmpty)
      assert(rows.forall(_._1.contains(s"country=$country")),
        s"delete file for $country references foreign partitions")
      assert(rows.sortBy(identity).sameElements(rows))
    }
    // row accounting: the split files still cover all 10 deleted positions
    assert(deleteEntries.map(aLong(_, "record_count")).sum == 10)
  }

  test("unsupported Spark types fail the export loudly instead of lying") {
    import org.apache.spark.sql.types._
    val bad = StructType(Seq(StructField("x", CalendarIntervalType)))
    val e = intercept[RuntimeException](IcebergExport.icebergSchema(bad))
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  test("manifests are real Avro containers: spec field-ids, reader metadata, list totals") {
    val (cat, metaFile) = buildTable()
    val m = readJson(metaFile)
    val listPath = m.get("snapshots").get(m.get("snapshots").size() - 1)
      .get("manifest-list").asText()
    assert(listPath.endsWith(".avro"))
    val (files, listMeta) = readAvro(listPath)
    // container metadata a real reader keys on
    assert(listMeta("format-version") == "2")
    assert(listMeta("snapshot-id").toLong ==
      m.get("current-snapshot-id").asLong())
    // the Avro schema itself carries the spec's reserved field-ids — what
    // an adopting engine binds to, independent of field names
    val listSchema = files.head.getSchema
    assert(listSchema.getField("manifest_path").getObjectProp("field-id")
      .asInstanceOf[Number].intValue() == 500)
    assert(listSchema.getField("added_snapshot_id").getObjectProp("field-id")
      .asInstanceOf[Number].intValue() == 503)
    // per-manifest: entry schema ids + metadata; counts agree with content
    for (mf <- files) {
      val (entries, mMeta) = readAvro(aStr(mf, "manifest_path"))
      assert(mMeta("format-version") == "2")
      assert(Set("data", "deletes")(mMeta("content")))
      assert(mMeta.contains("schema") && mMeta.contains("partition-spec"))
      val es = entries.head.getSchema
      assert(es.getField("status").getObjectProp("field-id")
        .asInstanceOf[Number].intValue() == 0)
      assert(es.getField("data_file").getObjectProp("field-id")
        .asInstanceOf[Number].intValue() == 2)
      val dfs = es.getField("data_file").schema()
      assert(dfs.getField("file_path").getObjectProp("field-id")
        .asInstanceOf[Number].intValue() == 100)
      assert(dfs.getField("record_count").getObjectProp("field-id")
        .asInstanceOf[Number].intValue() == 103)
      // list-entry row accounting matches the manifest's actual entries
      val rows = entries.map(e => aLong(aRec(e, "data_file"), "record_count")).sum
      assert(aLong(mf, "added_rows_count") + aLong(mf, "existing_rows_count") == rows,
        s"list counts disagree with manifest for ${aStr(mf, "manifest_path")}")
    }
  }
}
