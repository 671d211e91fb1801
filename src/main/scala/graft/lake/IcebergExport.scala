package graft.lake

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Iceberg v2 TABLE-METADATA EXPORTER: renders a graft.lake table's full
  * snapshot lineage as Apache Iceberg format-version-2 table metadata —
  * the public JSON spec (https://iceberg.apache.org/spec/) — so the one
  * reference capability this environment's jar-less setup couldn't host
  * (tables a real engine can adopt; reference
  * utils/spark_write_iceberg.py:8-90 writes format-v2 tables through the
  * Iceberg runtime) is closed as far as the spec's JSON surface reaches.
  *
  * What is emitted, per export, under `<table>/metadata/`:
  *  - `v<N>.metadata.json` — the TableMetadata document: format-version 2,
  *    table-uuid, schemas with Iceberg field IDs, partition-specs,
  *    sort-orders, one snapshot per graft version, snapshot-log,
  *    metadata-log, refs, and a `schema.name-mapping.default` property
  *    (the spec's mechanism for adopting parquet files that carry no
  *    field-id metadata — exactly what graft's data files are).
  *  - `version-hint.text` — the HadoopCatalog current-version pointer.
  *  - `snap-<id>.manifest-list.avro` + `m-<n>.avro` manifests — one
  *    manifest per graft commit dir, REUSED across the snapshots that
  *    reference it (Iceberg's manifest-reuse economics: an append writes
  *    one manifest + one list, never rewrites history). Both are REAL
  *    Avro object container files (r7, via [[IcebergAvro]]): the spec's
  *    record schemas with their reserved field-ids, plus the key-value
  *    metadata real readers expect — binary-compatible with an adopting
  *    engine, not just spec-auditable JSON.
  *  - merge-on-read deletion vectors are exported as REAL v2 position
  *    deletes: each `dv/` sidecar is rewritten to the spec's delete-file
  *    shape — columns `file_path` (field id 2147483546) / `pos` (field id
  *    2147483545, written into the parquet footers via Spark's field-id
  *    support), absolute file paths, sorted by (file_path, pos) — and
  *    referenced from a content=1 delete manifest whose sequence number
  *    makes it apply to all earlier data, matching graft's dv semantics.
  *    On a partitioned table the rewrite splits deletes into ONE FILE PER
  *    PARTITION TUPLE of the referenced data files, and the delete
  *    manifest entries carry those tuples — v2 readers index position
  *    deletes by partition, so null tuples would silently never apply
  *    (r8, ADVICE).
  *
  * Sequence numbers: a manifest's data files carry the graft version in
  * which their commit dir FIRST appeared (append reuse keeps it stable);
  * a snapshot's sequence number is its version. This preserves the v2
  * rule that a position delete applies to data files with data sequence
  * number <= the delete's.
  *
  * Scale note: the export is a metadata operation — per data file it
  * reads one parquet FOOTER (record count), never data pages; the only
  * data IO is the dv → position-delete rewrite, proportional to marked
  * rows, not to the table.
  */
object IcebergExport {

  /** Iceberg spec: reserved field IDs of position-delete file columns. */
  val FilePathFieldId = 2147483546L
  val PosFieldId = 2147483545L

  private val mapper = new ObjectMapper()

  final case class Export(metadataDir: String, metadataFile: String)

  /** Render `ns.t`'s whole lineage; returns the metadata locations.
    * Re-exporting after new commits writes the next vN.metadata.json and
    * chains the previous one into metadata-log.
    */
  def export(spark: SparkSession, catalog: LakeCatalog, ns: String, t: String): Export = {
    val tableDir = new Path(new Path(new Path(catalog.root), ns), t)
    val conf = spark.sessionState.newHadoopConf()
    val fs = tableDir.getFileSystem(conf)
    val metaDir = new Path(tableDir, "metadata")
    fs.mkdirs(metaDir)
    val location = fs.makeQualified(tableDir).toString

    val versions = catalog.versions(ns, t)
    require(versions.nonEmpty, s"no such table: $ns.$t")
    val schema = catalog.read(ns, t).schema
    val (schemaNode, lastColumnId, nameMapping) = icebergSchema(schema)
    val fieldIdOf: Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      schemaNode.get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    }

    // ---- manifests: one per unique commit dir, shared by snapshots
    // (txn marks and column declarations are table state with no Iceberg
    // counterpart at the file level — only dirs are exported)
    val snaps = versions.map(v => catalog.snapshot(ns, t, Some(v)))
    val dvDirs = snaps.flatMap(_.dvs).toSet
    val firstSeen = scala.collection.mutable.LinkedHashMap[String, Int]()
    snaps.foreach(s => s.dirs.foreach(e =>
      if (!firstSeen.contains(e)) firstSeen(e) = s.version))

    // HIVE-PARTITIONED commits keep their partition-column VALUES in dir
    // names, not in the parquet files — Iceberg's mechanism for exactly
    // this is an identity partition spec whose values live in the
    // manifests' per-file partition struct (readers reconstruct the
    // columns from there, never from paths). Z-order's synthetic
    // `_zbucket=` path component is NOT a logical column: the manifest
    // entry itself sits below it, so the relative walk never sees it and
    // nothing leaks into the spec.
    val partitionCols = scala.collection.mutable.LinkedHashSet[String]()
    val filesByEntry: Map[String, Seq[(Path, Seq[(String, String)])]] =
      firstSeen.keys.filterNot(dvDirs).map { rel =>
        val files = parquetFilesUnder(fs, new Path(tableDir, rel)).map { p =>
          val pv = partitionValuesOf(new Path(tableDir, rel), p)
          pv.foreach { case (k, _) => partitionCols += k }
          (p, pv)
        }
        rel -> files
      }.toMap

    // dv sidecars become spec-shaped position-delete files, split per
    // PARTITION TUPLE of the data files they reference (needs the
    // partition columns, hence after the data-file walk): a v2 reader
    // indexes position deletes by partition, so a delete file carrying a
    // null tuple would never be applied to partitioned data files
    val deleteFilesByEntry: Map[String, Seq[(Path, Seq[(String, String)])]] =
      firstSeen.keys.filter(dvDirs).map { rel =>
        rel -> rewritePositionDeletes(spark, fs, tableDir, location, rel,
          partitionCols.toSeq)
      }.toMap

    // Avro serialization layer for this table's partition shape; the
    // partition-spec fields JSON rides in each manifest's file metadata
    val avro = new IcebergAvro(partitionCols.toSeq.map(k =>
      k -> schema.fields.find(_.name == k).map(_.dataType).getOrElse(StringType)))
    val partitionSpecFields = partitionSpecFieldsNode(partitionCols.toSeq, fieldIdOf)
    val schemaJsonStr = mapper.writeValueAsString(schemaNode)

    val manifestByEntry =
      scala.collection.mutable.LinkedHashMap[String, (Seq[org.apache.avro.generic.GenericRecord], Boolean, Long)]()
    for ((rel, seenV) <- firstSeen) {
      val isDelete = dvDirs(rel)
      val files: Seq[(Path, Long, Long, Seq[(String, String)])] =
        (if (isDelete) deleteFilesByEntry(rel) else filesByEntry(rel)).map {
          case (p, pv) =>
            val (_, bytes, records) = fileEntry(fs, conf, p); (p, bytes, records, pv)
        }
      val entries = files.map { case (p, bytes, records, pv) =>
        val pvMap = pv.toMap
        val partVals: Seq[(String, Option[String])] =
          partitionCols.toSeq.map { k =>
            k -> (pvMap.get(k) match {
              case None | Some("__HIVE_DEFAULT_PARTITION__") => None
              case some => some
            })
          }
        avro.entryRecord(
          status = 1, // ADDED in the snapshot that minted the dir
          snapshotId = seenV.toLong, sequenceNumber = seenV.toLong,
          content = if (isDelete) 1 else 0, // 0=DATA, 1=POSITION_DELETES
          filePath = fs.makeQualified(p).toString,
          recordCount = records, fileSize = bytes, partitionValues = partVals)
      }
      manifestByEntry(rel) = (entries, isDelete, files.map(_._3).sum)
    }
    // write each manifest once (a real Avro object container file);
    // remember its path + length + row totals
    val manifestMeta = manifestByEntry.zipWithIndex.map {
      case ((rel, (entries, isDelete, nRows)), i) =>
        val p = new Path(metaDir, f"m-$i%05d.avro")
        val bytes = avro.manifestBytes(entries, schemaJsonStr,
          mapper.writeValueAsString(partitionSpecFields),
          if (isDelete) "deletes" else "data")
        writeFile(fs, p, bytes)
        rel -> (fs.makeQualified(p).toString, bytes.length.toLong,
          entries.size, nRows)
    }.toMap

    // ---- one manifest LIST + snapshot per graft version
    val snapshots = mapper.createArrayNode()
    val snapshotLog = mapper.createArrayNode()
    var lastTs = 0L
    for ((snap, i) <- snaps.zipWithIndex) {
      val v = snap.version
      val listRecords = snap.dirs.map { rel =>
        val (mPath, mLen, nFiles, nRows) = manifestMeta(rel)
        val isDelete = dvDirs(rel)
        val added = firstSeen(rel) == v
        avro.manifestFileRecord(
          manifestPath = mPath, manifestLength = mLen,
          content = if (isDelete) 1 else 0,
          sequenceNumber = firstSeen(rel).toLong,
          minSequenceNumber = firstSeen(rel).toLong,
          addedSnapshotId = firstSeen(rel).toLong,
          addedFiles = if (added) nFiles else 0,
          existingFiles = if (added) 0 else nFiles,
          addedRows = if (added) nRows else 0L,
          existingRows = if (added) 0L else nRows)
      }
      val listPath = new Path(metaDir, s"snap-$v.manifest-list.avro")
      writeFile(fs, listPath, avro.manifestListBytes(listRecords, v.toLong,
        if (v > versions.head) Some((v - 1).toLong) else None, v.toLong))

      val ts = manifestMtime(fs, tableDir, v)
      lastTs = math.max(lastTs, ts)
      val sn = snapshots.addObject()
      sn.put("snapshot-id", v.toLong)
      if (v > versions.head) sn.put("parent-snapshot-id", (v - 1).toLong)
      sn.put("sequence-number", v.toLong)
      sn.put("timestamp-ms", ts)
      sn.put("manifest-list", fs.makeQualified(listPath).toString)
      sn.put("schema-id", 0)
      val summary = sn.putObject("summary")
      summary.put("operation",
        if (i == 0) "append" else operationOf(snaps(i - 1).diff(snap)))
      summary.put("added-data-files", snap.data.count(firstSeen(_) == v).toString)
      summary.put("total-records", snap.data.map(manifestMeta(_)._4).sum.toString)
      val lg = snapshotLog.addObject()
      lg.put("timestamp-ms", ts)
      lg.put("snapshot-id", v.toLong)
    }

    // ---- the TableMetadata document itself
    val meta = mapper.createObjectNode()
    meta.put("format-version", 2)
    meta.put("table-uuid", stableUuid(s"$ns.$t@${catalog.root}").toString)
    meta.put("location", location)
    meta.put("last-sequence-number", versions.last.toLong)
    meta.put("last-updated-ms", if (lastTs > 0) lastTs else 0L)
    meta.put("last-column-id", lastColumnId)
    meta.put("current-schema-id", 0)
    meta.set[ObjectNode]("schemas", {
      val a = mapper.createArrayNode(); a.add(schemaNode); a
    })
    meta.put("default-spec-id", 0)
    meta.set[ObjectNode]("partition-specs", {
      val a = mapper.createArrayNode()
      val spec = a.addObject()
      spec.put("spec-id", 0)
      spec.set[ArrayNode]("fields",
        partitionSpecFieldsNode(partitionCols.toSeq, fieldIdOf))
      a
    })
    meta.put("last-partition-id", 999 + partitionCols.size) // 999 when unpartitioned
    meta.put("default-sort-order-id", 0)
    meta.set[ObjectNode]("sort-orders", {
      val a = mapper.createArrayNode()
      val o = a.addObject()
      o.put("order-id", 0)
      o.putArray("fields") // unsorted
      a
    })
    val props = meta.putObject("properties")
    props.put("schema.name-mapping.default", mapper.writeValueAsString(nameMapping))
    props.put("write.format.default", "parquet")
    meta.put("current-snapshot-id", versions.last.toLong)
    meta.set[ObjectNode]("snapshots", snapshots)
    meta.set[ObjectNode]("snapshot-log", snapshotLog)
    val refs = meta.putObject("refs")
    val main = refs.putObject("main")
    main.put("snapshot-id", versions.last.toLong)
    main.put("type", "branch")
    // graft snapshot tags export as Iceberg tag refs
    catalog.listTags(ns, t).toSeq.sortBy(_._1).foreach { case (name, v) =>
      val r = refs.putObject(name)
      r.put("snapshot-id", v.toLong)
      r.put("type", "tag")
    }

    // metadata-log chains earlier exports (vN numbering continues theirs)
    val prior = Option(fs.globStatus(new Path(metaDir, "v*.metadata.json")))
      .getOrElse(Array.empty).map(_.getPath).sortBy(versionOfMeta)
    val mlog = meta.putArray("metadata-log")
    prior.foreach { p =>
      val e = mlog.addObject()
      e.put("timestamp-ms", fs.getFileStatus(p).getModificationTime)
      e.put("metadata-file", fs.makeQualified(p).toString)
    }
    val nextN = prior.lastOption.map(p => versionOfMeta(p) + 1).getOrElse(1)
    val metaFile = new Path(metaDir, s"v$nextN.metadata.json")
    writeFile(fs, metaFile,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    writeFile(fs, new Path(metaDir, "version-hint.text"),
      nextN.toString.getBytes(StandardCharsets.UTF_8))
    Export(fs.makeQualified(metaDir).toString, fs.makeQualified(metaFile).toString)
  }

  /** the spec's partition-spec `fields` array (identity transforms over
    * hive partition columns) — shared between the TableMetadata document
    * and each Avro manifest's `partition-spec` metadata key
    */
  private def partitionSpecFieldsNode(partitionCols: Seq[String],
      fieldIdOf: Map[String, Int]): ArrayNode = {
    val fields = mapper.createArrayNode()
    partitionCols.zipWithIndex.foreach { case (k, i) =>
      val f = fields.addObject()
      f.put("name", k)
      f.put("transform", "identity")
      f.put("source-id", fieldIdOf.getOrElse(k,
        sys.error(s"partition column $k missing from schema")))
      f.put("field-id", 1000 + i)
    }
    fields
  }

  /** Append an EQUALITY-DELETE snapshot (content=2, spec §Equality Delete
    * Files) to an already-exported table: `deletes`' rows, projected to
    * `eqCols`, become one delete file removing every matching data row in
    * files whose sequence number is STRICTLY BELOW `deleteSequence`
    * (default: the new snapshot's own sequence, covering everything
    * committed so far). This is the CDC-writer shape — Flink upsert
    * pipelines author exactly these — and [[IcebergImport]] applies them,
    * closing the equality-delete half of the adoption pair in both
    * directions. Returns the new snapshot id.
    */
  def exportEqualityDelete(
      spark: SparkSession, location: String, deletes: org.apache.spark.sql.DataFrame,
      eqCols: Seq[String], deleteSequence: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(eqCols.nonEmpty, "need at least one equality column")
    val tableDir = new Path(location)
    val (fs, meta) = IcebergImport.loadMetadata(spark, location)
    val metaDir = new Path(tableDir, "metadata")
    val schemaId = meta.get("current-schema-id").asInt()
    val schemasNode = meta.get("schemas")
    val schemaNode = (0 until schemasNode.size()).map(schemasNode.get)
      .find(_.get("schema-id").asInt() == schemaId)
      .getOrElse(sys.error(s"current-schema-id $schemaId missing"))
    val fieldsNode = schemaNode.get("fields")
    // dotted paths allowed: a NESTED equality column (Flink CDC feeds
    // keyed on a nested primary key) resolves by its struct path; the
    // delete file is then written as a PROJECTION of the table schema
    // (the spec's delete-file shape), preserving the nesting
    val idByName = IcebergImport.fieldPathsById(meta).map(_.swap)
    eqCols.foreach(c => require(idByName.contains(c),
      s"equality column $c is not a struct-path-addressable schema column"))
    def proj(prefix: String, paths: Seq[String]): Seq[org.apache.spark.sql.Column] =
      paths.groupBy(_.split("\\.", 2)(0)).toSeq.sortBy(_._1).map { case (head, ps) =>
        val full = if (prefix.isEmpty) head else s"$prefix.$head"
        val subs = ps.filter(_.contains(".")).map(_.split("\\.", 2)(1))
        if (subs.isEmpty) col(full).as(head)
        else org.apache.spark.sql.functions.struct(proj(full, subs): _*).as(head)
      }

    // the delete file itself (one bounded parquet write)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(tableDir, s".eqdel-$uuid.tmp")
    deletes.select(proj("", eqCols): _*).coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error("equality-delete write produced no parquet part"))
    val target = new Path(tableDir, s"eqdelete-$uuid.parquet")
    fs.rename(part, target)
    fs.delete(tmp, true)
    val st = fs.getFileStatus(target)
    val nRows = spark.read.parquet(target.toString).count()

    val snaps = meta.get("snapshots")
    val curId = meta.get("current-snapshot-id").asLong()
    val newId = (0 until snaps.size()).map(snaps.get(_).get("snapshot-id").asLong()).max + 1
    val lastSeq = meta.get("last-sequence-number").asLong()
    val newSeq = lastSeq + 1
    val fileSeq = deleteSequence.getOrElse(newSeq)

    // manifest with the table's partition struct (empty tuple: the delete
    // is global — kept for every partition by the import's pruning rule)
    val partitionFields: Seq[(String, org.apache.spark.sql.types.DataType)] = {
      val specId = meta.get("default-spec-id").asInt()
      val specs = meta.get("partition-specs")
      val spec = (0 until specs.size()).map(specs.get)
        .find(_.get("spec-id").asInt() == specId)
        .getOrElse(sys.error(s"default-spec-id $specId missing"))
      val sf = spec.get("fields")
      (0 until sf.size()).map(sf.get).filter(_.get("transform").asText() == "identity")
        .map { f =>
          val srcId = f.get("source-id").asInt()
          val src = (0 until fieldsNode.size()).map(fieldsNode.get)
            .find(_.get("id").asInt() == srcId)
            .getOrElse(sys.error(s"partition source-id $srcId missing"))
          src.get("name").asText() -> IcebergImport.sparkTypeOf(src.get("type"))
        }
    }
    val avro = new IcebergAvro(partitionFields)
    val entry = avro.entryRecord(
      status = 1, snapshotId = newId, sequenceNumber = fileSeq,
      content = 2, filePath = fs.makeQualified(target).toString,
      recordCount = nRows, fileSize = st.getLen,
      partitionValues = Nil, equalityIds = eqCols.map(idByName))
    val specFieldsJson = {
      val specId = meta.get("default-spec-id").asInt()
      val specs = meta.get("partition-specs")
      val spec = (0 until specs.size()).map(specs.get)
        .find(_.get("spec-id").asInt() == specId).get
      mapper.writeValueAsString(spec.get("fields"))
    }
    val mBytes = avro.manifestBytes(Seq(entry),
      mapper.writeValueAsString(schemaNode), specFieldsJson, "deletes")
    val mPath = new Path(metaDir, s"m-eqdel-$uuid.avro")
    writeFile(fs, mPath, mBytes)

    // manifest list: the current snapshot's manifests plus the delete one
    val curSnap = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == curId)
      .getOrElse(sys.error(s"current snapshot $curId missing"))
    val curList = new Path(new java.net.URI(curSnap.get("manifest-list").asText()))
    val (oldRecs, _) = IcebergAvro.readContainer(fs, curList)
    val newRec = avro.manifestFileRecord(
      manifestPath = fs.makeQualified(mPath).toString,
      manifestLength = mBytes.length.toLong, content = 1,
      sequenceNumber = newSeq, minSequenceNumber = fileSeq,
      addedSnapshotId = newId, addedFiles = 1, existingFiles = 0,
      addedRows = nRows, existingRows = 0L)
    val listPath = new Path(metaDir, s"snap-$newId.manifest-list.avro")
    writeFile(fs, listPath,
      avro.manifestListBytes(oldRecs :+ newRec, newId, Some(curId), newSeq))

    // TableMetadata: new snapshot on top, pointers advanced, vN+1 written
    val m = meta.asInstanceOf[ObjectNode]
    val ts = st.getModificationTime
    m.put("last-sequence-number", newSeq)
    m.put("last-updated-ms", ts)
    m.put("current-snapshot-id", newId)
    val sn = m.withArray[ArrayNode]("snapshots").addObject()
    sn.put("snapshot-id", newId)
    sn.put("parent-snapshot-id", curId)
    sn.put("sequence-number", newSeq)
    sn.put("timestamp-ms", ts)
    sn.put("manifest-list", fs.makeQualified(listPath).toString)
    sn.put("schema-id", schemaId)
    sn.putObject("summary").put("operation", "delete")
    val lg = m.withArray[ArrayNode]("snapshot-log").addObject()
    lg.put("timestamp-ms", ts)
    lg.put("snapshot-id", newId)
    Option(m.get("refs")).foreach(r =>
      Option(r.get("main")).foreach(_.asInstanceOf[ObjectNode].put("snapshot-id", newId)))
    val prior = Option(fs.globStatus(new Path(metaDir, "v*.metadata.json")))
      .getOrElse(Array.empty).map(_.getPath).sortBy(versionOfMeta)
    val nextN = prior.lastOption.map(p => versionOfMeta(p) + 1).getOrElse(1)
    writeFile(fs, new Path(metaDir, s"v$nextN.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    writeFile(fs, new Path(metaDir, "version-hint.text"),
      nextN.toString.getBytes(StandardCharsets.UTF_8))
    newId
  }

  private def versionOfMeta(p: Path): Int =
    p.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt

  /** deterministic UUID per table identity — re-exports agree */
  private def stableUuid(s: String): java.util.UUID =
    java.util.UUID.nameUUIDFromBytes(s.getBytes(StandardCharsets.UTF_8))

  private def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def manifestMtime(fs: FileSystem, tableDir: Path, v: Int): Long = {
    val p = new Path(new Path(tableDir, "manifests"), f"v$v%05d.txt")
    if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
  }

  /** Hive-style `k=v` components of `file`'s path BELOW the entry dir,
    * URL-decoded (Spark escapes partition values on write). Empty for a
    * flat commit.
    */
  private def partitionValuesOf(entryDir: Path, file: Path): Seq[(String, String)] = {
    val prefix = entryDir.toUri.getPath.stripSuffix("/") + "/"
    val relPath = file.toUri.getPath
    if (!relPath.startsWith(prefix)) Nil
    else relPath.stripPrefix(prefix).split("/").dropRight(1).toSeq
      .flatMap { comp =>
        val i = comp.indexOf('=')
        if (i <= 0) None
        else Some(java.net.URLDecoder.decode(comp.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(comp.substring(i + 1), "UTF-8"))
      }
  }

  private def parquetFilesUnder(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Nil
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        out += st.getPath
    }
    out.result().sortBy(_.toString)
  }

  /** (path, file bytes, record count) — record count from the parquet
    * FOOTER only, no data pages read.
    */
  private def fileEntry(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      p: Path): (Path, Long, Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    val records = try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    } finally reader.close()
    (p, fs.getFileStatus(p).getLen, records)
  }

  /** The Iceberg operation of a snapshot: only vectors added is a delete,
    * nothing removed an append, nothing added a delete, else an overwrite.
    */
  private def operationOf(d: Snapshot.Diff): String =
    if (d.removed.isEmpty && d.dvsRemoved.isEmpty) {
      if (d.added.isEmpty && d.dvsAdded.nonEmpty) "delete" else "append"
    } else if (d.added.isEmpty && d.dvsAdded.isEmpty) "delete"
    else "overwrite"

  /** Rewrite one graft `dv/` sidecar (table-relative `_dv_file`, `_dv_pos`)
    * into spec-shaped position-delete parquet: absolute `file_path` with
    * reserved field id 2147483546, `pos` with 2147483545 (Spark's
    * parquet.field.id metadata lands them in the footers), sorted by
    * (file_path, pos) as the spec requires. On a PARTITIONED table the
    * deletes are split into one file per partition tuple of the data
    * files they reference (tuple recovered from the referenced path's
    * hive components) — a v2 reader indexes position deletes by
    * partition, so per-tuple files are what makes MoR export adoptable
    * for partitioned tables. Returns the written files with their
    * partition values (raw hive-decoded strings; empty for
    * unpartitioned).
    */
  private def rewritePositionDeletes(spark: SparkSession, fs: FileSystem,
      tableDir: Path, location: String, dvRel: String,
      partitionCols: Seq[String]): Seq[(Path, Seq[(String, String)])] = {
    import org.apache.spark.sql.functions.{col, concat, lit, regexp_extract, url_decode, when}
    require(!partitionCols.exists(Set("file_path", "pos")),
      s"IcebergExport: partition column collides with a reserved " +
        s"position-delete column name: ${partitionCols.mkString(", ")}")
    val outDir = new Path(new Path(tableDir, "metadata"),
      s"delete-${dvRel.stripPrefix("dv/")}")
    val filePathField = StructField("file_path", StringType, nullable = false,
      new MetadataBuilder().putLong("parquet.field.id", FilePathFieldId).build())
    val posField = StructField("pos", LongType, nullable = false,
      new MetadataBuilder().putLong("parquet.field.id", PosFieldId).build())
    val base = spark.read.parquet(new Path(tableDir, dvRel).toString)
    val partExprs = partitionCols.map { k =>
      val raw = regexp_extract(col("_dv_file"),
        "(?:^|/)" + java.util.regex.Pattern.quote(k) + "=([^/]+)", 1)
      // no component / hive null sentinel → null tuple slot (matches the
      // data-file side's missing-partition handling)
      when(raw === "" || raw === "__HIVE_DEFAULT_PARTITION__", lit(null))
        .otherwise(url_decode(raw)).as(k)
    }
    val src = base.select(Seq(
      concat(lit(location + "/"), col("_dv_file")).as("file_path"),
      col("_dv_pos").cast(LongType).as("pos")) ++ partExprs: _*)
    // the field-id-carrying schema goes on BEFORE the sort: createDataFrame
    // over an RDD yields a LogicalRDD with no outputOrdering, so a sort
    // applied earlier would be invisible to the writer, which would then
    // insert its own partition-only sort — not guaranteed stable under
    // spill, silently breaking the spec's (file_path, pos) order. With the
    // sort ON the plan, its ordering leads with the partition columns, the
    // dynamic-partition writer's required ordering is already satisfied,
    // and no extra sort is inserted.
    val withIds = spark.createDataFrame(src.rdd,
      StructType(Seq(filePathField, posField) ++
        partitionCols.map(StructField(_, StringType))))
    val shaped =
      if (partitionCols.isEmpty)
        withIds.coalesce(1).sortWithinPartitions("file_path", "pos")
      else withIds.repartition(partitionCols.map(col): _*)
        .sortWithinPartitions((partitionCols ++ Seq("file_path", "pos")).map(col): _*)
    val writer = shaped.write.mode("overwrite")
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .parquet(outDir.toString)
    parquetFilesUnder(fs, outDir).map(p => p -> partitionValuesOf(outDir, p))
  }

  /** Spark schema → (Iceberg schema JSON, last-column-id, name-mapping
    * JSON). Field IDs are assigned depth-first in schema order — stable
    * across exports of the same schema.
    */
  private[lake] def icebergSchema(schema: StructType)
      : (ObjectNode, Int, ArrayNode) = {
    var nextId = 0
    def takeId(): Int = { nextId += 1; nextId }

    def typeJson(dt: DataType): Either[String, ObjectNode] = dt match {
      case BooleanType => Left("boolean")
      case IntegerType | ShortType | ByteType => Left("int")
      case LongType => Left("long")
      case FloatType => Left("float")
      case DoubleType => Left("double")
      case StringType => Left("string")
      case BinaryType => Left("binary")
      case DateType => Left("date")
      case TimestampType => Left("timestamptz") // Spark TimestampType is tz-adjusted
      case TimestampNTZType => Left("timestamp")
      case d: DecimalType => Left(s"decimal(${d.precision}, ${d.scale})")
      case a: ArrayType =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", takeId())
        putType(n, "element", a.elementType)
        n.put("element-required", !a.containsNull)
        Right(n)
      case m: MapType =>
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", takeId())
        putType(n, "key", m.keyType)
        n.put("value-id", takeId())
        putType(n, "value", m.valueType)
        n.put("value-required", !m.valueContainsNull)
        Right(n)
      case s: StructType => Right(structJson(s))
      case other =>
        // fail fast (consistent with the missing-partition-column check):
        // a silently-wrong exported type would make the metadata claim a
        // string over a parquet column whose physical type disagrees.
        sys.error(s"IcebergExport: unsupported Spark type $other — no Iceberg mapping")
    }

    def putType(parent: ObjectNode, field: String, dt: DataType): Unit =
      typeJson(dt) match {
        case Left(s) => parent.put(field, s); ()
        case Right(n) => parent.set[ObjectNode](field, n); ()
      }

    def structJson(s: StructType): ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("type", "struct")
      val arr = n.putArray("fields")
      s.fields.foreach { f =>
        val fn = arr.addObject()
        fn.put("id", takeId())
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        putType(fn, "type", f.dataType)
      }
      n
    }

    // name mapping mirrors structJson's COMPLETE id assignment — nested
    // struct/list/map member ids get recursive entries (the spec's nested
    // `fields` key), so an adopting engine can resolve nested projections
    // over graft's field-id-free parquet files, not just top-level columns.
    // List members map under the spec name "element"; maps under "key" /
    // "value".
    import com.fasterxml.jackson.databind.JsonNode
    def mappingForType(t: JsonNode, out: ArrayNode): Unit =
      if (t.isObject) t.get("type").asText() match {
        case "struct" =>
          val it = t.get("fields").elements()
          while (it.hasNext) {
            val f = it.next()
            val m = out.addObject()
            m.put("field-id", f.get("id").asLong())
            m.putArray("names").add(f.get("name").asText())
            addNested(f.get("type"), m)
          }
        case "list" =>
          val m = out.addObject()
          m.put("field-id", t.get("element-id").asLong())
          m.putArray("names").add("element")
          addNested(t.get("element"), m)
        case "map" =>
          val mk = out.addObject()
          mk.put("field-id", t.get("key-id").asLong())
          mk.putArray("names").add("key")
          addNested(t.get("key"), mk)
          val mv = out.addObject()
          mv.put("field-id", t.get("value-id").asLong())
          mv.putArray("names").add("value")
          addNested(t.get("value"), mv)
      }
    def addNested(t: JsonNode, entry: ObjectNode): Unit =
      if (t.isObject) {
        val nested = mapper.createArrayNode()
        mappingForType(t, nested)
        if (nested.size() > 0) entry.set[ObjectNode]("fields", nested)
        ()
      }
    val root = structJson(schema)
    root.put("schema-id", 0)
    val mappingArr = mapper.createArrayNode()
    mappingForType(root, mappingArr)
    (root, nextId, mappingArr)
  }
}
