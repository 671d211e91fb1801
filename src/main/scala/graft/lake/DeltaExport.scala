package graft.lake

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Delta Lake TRANSACTION-LOG EXPORTER: renders a graft.lake table's full
  * snapshot lineage as a Delta Lake `_delta_log` — the public protocol
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md) — the
  * adoption sibling of [[IcebergExport]]: together they make every graft
  * table readable by BOTH open-table-format ecosystems without data
  * rewrite (reference utils/spark_write_iceberg.py:8-90 commits to an
  * open-format catalog; this generalizes that capability to the other
  * format's spec surface).
  *
  * What is emitted under `<table>/_delta_log/`:
  *  - `%020d.json` — one Delta commit per graft version (graft v1 →
  *    Delta version 0). Version 0 carries `protocol`
  *    (minReaderVersion 1 / minWriterVersion 2 — the base feature set;
  *    nothing emitted here needs column mapping or DV read support) and
  *    `metaData` (table uuid, `schemaString` as the Spark-JSON schema the
  *    spec mandates, identity `partitionColumns`); a later version emits
  *    a fresh `metaData` action iff its read schema differs (schema
  *    evolution, spec §"Change Metadata"). Every commit then carries
  *    `add` actions for files new vs the previous snapshot and `remove`
  *    tombstones for files dropped by it (CoW DELETE / compaction /
  *    rollback all reduce to adds+removes), plus a `commitInfo` line.
  *  - `add.path` is the table-relative file path, percent-encoded as the
  *    spec requires; `add.partitionValues` carries the hive tuple parsed
  *    from the path (the files themselves never contain partition
  *    columns — same layout contract Delta itself writes);
  *    `add.stats` embeds `numRecords` read from the parquet FOOTER.
  *  - `%020d.checkpoint.parquet` + `_last_checkpoint` on demand
  *    ([[checkpoint]]): the spec's log-compaction mechanism — a reader
  *    starts from the newest checkpoint and replays only later JSON
  *    commits, which is what keeps million-commit 100 TB logs readable.
  *
  * Merge-on-read DELETION VECTORS export as the protocol's
  * `deletionVectors` table feature (reader 3 / writer 7 + feature lists):
  * each vectored file's add action carries a descriptor whose bitmap is
  * the real RoaringBitmapArray encoding ([[RoaringDv]]) — Z85-inlined in
  * the log under [[DefaultInlineDvMax]] bytes, else a
  * `deletion_vector_<uuid>.bin` sidecar with the store framing (version
  * byte, i32-BE size, blob, i32-BE CRC32). A DV change re-emits the add
  * (last-add-per-path-wins is the protocol's own update rule), so
  * stacked MoR deletes and `materializeDeletes` folds are all faithful,
  * time-travelable Delta versions.
  *
  * Scale note: like the Iceberg exporter this is a METADATA operation —
  * per data file it reads one footer (record count), never data pages.
  */
object DeltaExport {

  private val mapper = new ObjectMapper()

  final case class Export(logDir: String, lastDeltaVersion: Long)

  /** Render `ns.t`'s whole lineage as `_delta_log` JSON commits; returns
    * the log location and the highest Delta version written. Idempotent
    * per version content: re-exporting after new graft commits writes only
    * the new tail versions (committed files are never rewritten).
    *
    * `changeDataFeed = true` additionally renders the spec's CHANGE DATA
    * FEED (PROTOCOL.md §Change Data Files): `delta.enableChangeDataFeed`
    * in the table configuration, and — for every commit whose row-level
    * changes are NOT inferable from its add/remove actions alone (any
    * commit carrying removes or DV changes: CoW rewrites, MoR deletes,
    * compactions) — a `_change_data/cdc-<v>.parquet` file holding the
    * exact row diff (graft's snapshot changelog) with `_change_type`, plus
    * the `cdc` action referencing it. Add-only commits need no cdc file:
    * the spec lets readers derive pure inserts from the add actions.
    * CDF export costs data IO proportional to CHANGED rows per rewriting
    * commit — the spec's own economics.
    */
  def export(spark: SparkSession, catalog: LakeCatalog, ns: String, t: String,
      inlineDvMax: Int = DefaultInlineDvMax,
      changeDataFeed: Boolean = false): Export = {
    val tableDir = new Path(new Path(new Path(catalog.root), ns), t)
    val conf = spark.sessionState.newHadoopConf()
    val fs = tableDir.getFileSystem(conf)
    val logDir = new Path(tableDir, "_delta_log")
    fs.mkdirs(logDir)

    val versions = catalog.versions(ns, t)
    require(versions.nonEmpty, s"no such table: $ns.$t")
    // Delta's log is append-only and versioned from 0: the export maps
    // graft versions positionally, so deltaV 0 must mean the SAME graft
    // version on every re-export. Each commitInfo records its graft
    // version; a drifted mapping (earliest graft snapshots expired since
    // the last export) must refuse, not silently renumber history under
    // readers that cached earlier Delta versions.
    val v0json = new Path(logDir, f"${0L}%020d.json")
    if (fs.exists(v0json)) {
      val in = fs.open(v0json)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val v0lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(mapper.readTree).toSeq
      val marker = v0lines.iterator.flatMap(n => Option(n.get("commitInfo")))
        .flatMap(ci => Option(ci.get("operationParameters")))
        .flatMap(op => Option(op.get("graftVersion"))).map(_.asText())
        .nextOption()
      marker.foreach(m => require(m == versions.head.toString,
        s"cannot re-export $ns.$t: existing Delta version 0 was cut from " +
          s"graft v$m but the earliest surviving graft snapshot is now " +
          s"v${versions.head} (snapshot expiry shifted the mapping); " +
          "export to a fresh location instead"))
      // CDF-mode consistency: committed v0 is never rewritten and metaData
      // only re-emits on schema change, so flipping changeDataFeed across
      // re-exports would append cdc actions under a protocol/configuration
      // that never declared the feature (readers reject or silently ignore
      // the feed) — refuse loudly instead (ADVICE r12)
      val v0Cdf = v0lines.iterator.flatMap(n => Option(n.get("metaData")))
        .flatMap(m => Option(m.get("configuration")))
        .flatMap(c => Option(c.get("delta.enableChangeDataFeed")))
        .map(_.asText()).nextOption().contains("true")
      require(v0Cdf == changeDataFeed,
        s"cannot re-export $ns.$t with changeDataFeed=$changeDataFeed: the " +
          s"existing Delta log at $logDir was cut with " +
          s"changeDataFeed=$v0Cdf, and committed versions are never " +
          "rewritten — export to a fresh location instead")
    }
    // deterministic createdTime: the first surviving manifest's publish
    // mtime — constant across re-exports (a wall-clock stamp made every
    // re-export rewrite already-committed versions with different bytes)
    val createdTime = fs.getFileStatus(
      new Path(tableDir, f"manifests/v${versions.head}%05d.txt")).getModificationTime
    val snaps = versions.map(v => catalog.snapshot(ns, t, Some(v)))
    val anyDv = snaps.exists(_.dvs.nonEmpty)

    // (relative path, size, mtime, numRecords, partitionValues) per file of
    // a commit dir — footer-only IO, resolved once per dir across versions
    // (append-dominated lineages reuse almost every dir).
    val filesByDir = scala.collection.mutable.Map.empty[String, Seq[FileInfo]]
    def filesOf(rel: String): Seq[FileInfo] =
      filesByDir.getOrElseUpdate(rel, listDataFiles(fs, conf, tableDir, rel))
    // per-file DV blobs of a snapshot's cumulative dv/ sidecar set, cached
    // by set (stacked-delete lineages reuse the prior set's read)
    val dvCache = scala.collection.mutable.Map.empty[Seq[String], Map[String, (Array[Byte], Long)]]
    def dvBlobsOf(dvDirs: Seq[String]): Map[String, (Array[Byte], Long)] =
      dvCache.getOrElseUpdate(dvDirs.sorted, dvBlobs(spark, tableDir, dvDirs.sorted))

    val tableId = java.util.UUID.nameUUIDFromBytes(
      s"graft-delta:$ns.$t".getBytes(StandardCharsets.UTF_8)).toString
    var prevFiles = Map.empty[String, FileInfo]
    var prevDv = Map.empty[String, String] // file -> blob digest
    var prevTxn = Map.empty[String, Long] // appId -> last emitted batch id
    var prevGraftV = -1 // graft version behind the previous Delta version
    var prevMeta: Option[(String, Seq[String])] = None
    var deltaV = -1L
    snaps.foreach { snap =>
      val v = snap.version
      deltaV += 1
      val cur = snap.data.flatMap(filesOf).map(f => f.rel -> f).toMap
      val dvByFile = dvBlobsOf(snap.dvs)
      val schema = catalog.read(ns, t, Some(v)).schema
      // partitionColumns is TABLE-LEVEL state in Delta, derived here from
      // the snapshot's live files. graft rewrites (CoW DELETE, compaction)
      // re-land hive-partitioned data as FLAT files carrying the column in
      // their pages — representable as a metaData transition to an
      // unpartitioned table (emitted below). A snapshot MIXING tupled and
      // flat files has no faithful partitionColumns value at all: reject
      // loudly rather than export silently-null columns.
      val keySets = cur.values.map(_.partitionValues.keySet).toSet
      require(keySets.size <= 1,
        s"$ns.$t v$v mixes hive-partitioned and flat data files " +
          s"(partition key sets: ${keySets.map(_.mkString("{", ",", "}")).mkString(" vs ")}); " +
          "one Delta partitionColumns set cannot represent it — compact or " +
          "recluster the table first")
      val partCols = keySets.headOption.getOrElse(Set.empty[String]).toSeq.sorted
      // Delta schemaString must include partition columns; graft's read
      // surfaces them via partition discovery, so schema already has them.
      val schemaJson = schema.json
      val lines = Seq.newBuilder[String]
      if (!prevMeta.contains((schemaJson, partCols))) {
        if (deltaV == 0L) {
          // merge-on-read lineages need the deletionVectors table feature;
          // vector-free tables stay on the widely-readable base protocol
          // (legacy writer 4 when only CDF is needed — CDF is included in
          // that legacy version, no feature lists required)
          lines +=
            (if (anyDv && changeDataFeed)
              """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
                """"readerFeatures":["deletionVectors"],""" +
                """"writerFeatures":["deletionVectors","changeDataFeed"]}}"""
            else if (anyDv)
              """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
                """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
            else if (changeDataFeed)
              """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
            else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        }
        lines += metaDataLine(tableId, s"$ns.$t", schemaJson, partCols, anyDv,
          createdTime, changeDataFeed)
        prevMeta = Some((schemaJson, partCols))
      }
      // serialize + place this snapshot's DVs; digest change (not dv-dir
      // identity) decides which files re-emit their add action
      val curDv: Map[String, (String, String)] = dvByFile.collect {
        case (file, (blob, card)) if cur.contains(file) =>
          val digest = java.util.UUID.nameUUIDFromBytes(blob).toString
          file -> (digest, dvDescriptorJson(fs, tableDir, blob, card, inlineDvMax))
      }
      val added = cur.keySet -- prevFiles.keySet
      val removed = prevFiles.keySet -- cur.keySet
      val dvChanged = (cur.keySet -- added).filter(f =>
        curDv.get(f).map(_._1) != prevDv.get(f))
      val op = if (removed.nonEmpty || dvChanged.nonEmpty) "DELETE" else "WRITE"
      lines += s"""{"commitInfo":{"operation":"$op","operationParameters":""" +
        s"""{"graftVersion":"$v"},"engineInfo":"graft-lake"}}"""
      // graft txn/ watermark lines are Delta's native idea (PROTOCOL.md
      // § Transaction Identifiers): emit the moved marks as txn actions so
      // an external Delta reader sees the same idempotent-sink state
      val curTxn = snap.txns
      curTxn.toSeq.sortBy(_._1).foreach { case (app, ver) =>
        if (!prevTxn.get(app).contains(ver)) lines += txnLine(app, ver)
      }
      prevTxn = curTxn
      removed.toSeq.sorted.foreach { r =>
        lines += removeLine(r, prevFiles(r).mtime)
      }
      (added ++ dvChanged).toSeq.sorted.foreach { a =>
        lines += addLine(cur(a), curDv.get(a).map(_._2))
      }
      // CDF: a commit with removes or DV changes has row-level changes no
      // reader can infer from its actions — render the exact snapshot diff
      // as a _change_data file + cdc action. (Add-only commits derive as
      // pure inserts per the spec; a no-row-change rewrite, e.g. a
      // compaction, yields an EMPTY cdc file — also per the spec.)
      if (changeDataFeed && deltaV > 0L && (removed.nonEmpty || dvChanged.nonEmpty)) {
        val cdcRel = f"_change_data/cdc-$deltaV%020d.parquet"
        val cdcTarget = new Path(tableDir, cdcRel)
        if (!fs.exists(cdcTarget)) {
          val changes = catalog.changelog(ns, t, prevGraftV, v)
            .withColumnRenamed("_change", "_change_type")
          val tmp = new Path(tableDir, s"._cdc-$deltaV.tmp")
          changes.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val partF = fs.listStatus(tmp).map(_.getPath)
            .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
            .getOrElse(sys.error("cdc write produced no parquet part"))
          fs.mkdirs(cdcTarget.getParent)
          fs.rename(partF, cdcTarget)
          fs.delete(tmp, true)
        }
        lines += cdcLine(cdcRel, fs.getFileStatus(cdcTarget).getLen)
      }
      // append-only log: a version already on disk is NEVER rewritten —
      // its bytes are committed history readers may have cached. (The
      // loop still replays it to carry prevFiles/prevDv/prevTxn forward;
      // content determinism makes skip == rewrite for unexpired lineages.)
      val target = new Path(logDir, f"$deltaV%020d.json")
      if (!fs.exists(target))
        writeText(fs, target, lines.result().mkString("", "\n", "\n"))
      prevFiles = cur
      prevDv = curDv.map { case (f, (digest, _)) => f -> digest }
      prevGraftV = v
    }
    Export(logDir.toString, deltaV)
  }

  /** Inline-vs-file threshold for DV placement: blobs at or under this go
    * into the JSON log as Z85 (`storageType "i"`); larger ones land in a
    * `deletion_vector_<uuid>.bin` sidecar (`"u"`) so a hot log never
    * carries megabytes of bitmap. Delta's own writers make the same trade.
    */
  val DefaultInlineDvMax = 4096

  /** Cumulative per-file DV blobs of one snapshot: read the `dv/` sidecar
    * parquet (one Spark job, proportional to marked rows), group positions
    * per file, serialize each to the protocol's RoaringBitmapArray bytes.
    * Driver holds only the COMPRESSED bitmaps (Delta's own log economics).
    */
  private def dvBlobs(spark: SparkSession, tableDir: Path,
      dvDirs: Seq[String]): Map[String, (Array[Byte], Long)] =
    if (dvDirs.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{col, collect_list}
      import spark.implicits._
      spark.read.parquet(dvDirs.map(r => new Path(tableDir, r).toString): _*)
        .groupBy(col("_dv_file")).agg(collect_list(col("_dv_pos")).as("ps"))
        .as[(String, Seq[Long])].collect()
        .map { case (f, ps) =>
          val distinct = ps.toArray.distinct
          f -> (RoaringDv.serialize(distinct), distinct.length.toLong)
        }.toMap
    }

  /** Render one DV as its descriptor JSON: inline Z85 under the threshold,
    * else a `deletion_vector_<uuid>.bin` sidecar with the store framing
    * (version byte 1, then i32-BE size + blob + i32-BE CRC32; descriptor
    * offset points at the size field). The uuid derives from the blob, so
    * re-exports rewrite the same file instead of leaking new ones.
    */
  private def dvDescriptorJson(fs: FileSystem, tableDir: Path,
      blob: Array[Byte], cardinality: Long, inlineMax: Int): String = {
    if (blob.length <= inlineMax) {
      s"""{"storageType":"i","pathOrInlineDv":"${RoaringDv.z85Encode(blob)}",""" +
        s""""sizeInBytes":${blob.length},"cardinality":$cardinality}"""
    } else {
      val uuid = java.util.UUID.nameUUIDFromBytes(blob)
      val bb = java.nio.ByteBuffer.allocate(16)
        .putLong(uuid.getMostSignificantBits)
        .putLong(uuid.getLeastSignificantBits).array()
      val target = new Path(tableDir, s"deletion_vector_$uuid.bin")
      val crc = new java.util.zip.CRC32()
      crc.update(blob)
      val out = fs.create(target, true)
      try {
        out.write(1) // format version
        val dos = new java.io.DataOutputStream(out)
        dos.writeInt(blob.length)
        dos.write(blob)
        dos.writeInt(crc.getValue.toInt)
        dos.flush()
      } finally out.close()
      s"""{"storageType":"u","pathOrInlineDv":"${RoaringDv.z85Encode(bb)}",""" +
        s""""offset":1,"sizeInBytes":${blob.length},"cardinality":$cardinality}"""
    }
  }

  /** Write the spec's log-compaction artifact at `deltaVersion`: a
    * single-file `%020d.checkpoint.parquet` holding the table state
    * (protocol + latest metaData + the net `add` set after replaying
    * commits 0..deltaVersion) plus the `_last_checkpoint` pointer.
    * Readers then start here and replay only later JSON commits — the
    * move that bounds log-replay cost on long-lived tables.
    */
  def checkpoint(spark: SparkSession, logDir: String, deltaVersion: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(logDir)
    val fs = dir.getFileSystem(conf)
    val state = DeltaImport.replayJson(fs, dir, 0L, deltaVersion, DeltaImport.EmptyState)

    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvType)))
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("add", addType)))
    // the protocol rides VERBATIM from the log (ADVICE r11: a hardcoded
    // (1,2) here let external readers treat a deletion-vector table as
    // base-protocol and silently resurrect deleted rows); a feature-less
    // protocol writes null arrays, a (3,7) log carries its feature lists
    val pr = state.protocol.getOrElse(DeltaImport.ProtocolState(1, 2, Nil, Nil))
    def featOrNull(fs: Seq[String]) = if (fs.isEmpty) null else fs
    val protoRow = Row.fromSeq(Seq(
      Row(pr.minReaderVersion, pr.minWriterVersion,
        featOrNull(pr.readerFeatures), featOrNull(pr.writerFeatures)),
      null, null, null, null))
    val metaRow = Row.fromSeq(Seq(null,
      Row(state.tableId, state.tableName, Row("parquet", Map.empty[String, String]),
        state.schemaJson, state.partitionColumns, Map.empty[String, String],
        state.createdTime), null, null, null))
    // spec: checkpoints preserve transaction identifiers and unexpired
    // remove tombstones (in-flight older readers need tombstone
    // visibility; VACUUM implementations replay them)
    val txnRows = state.txns.toSeq.sortBy(_._1).map { case (app, ver) =>
      Row.fromSeq(Seq(null, null, Row(app, ver), null, null))
    }
    val removeRows = state.removes.toSeq.sortBy(_._1).map { case (p, ts) =>
      Row.fromSeq(Seq(null, null, null, Row(p, ts, true), null))
    }
    val addRows = state.adds.toSeq.sortBy(_._1).map { case (p, a) =>
      val dvRow = a.dv.map(d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
          d.sizeInBytes, d.cardinality)).orNull
      Row.fromSeq(Seq(null, null, null, null,
        Row(p, a.partitionValues, a.size, a.mtime, true, a.stats.orNull, dvRow)))
    }
    val rows = (protoRow +: metaRow +: txnRows) ++ removeRows ++ addRows
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val tmp = new Path(dir, s".cp-${java.util.UUID.randomUUID()}.tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error("checkpoint write produced no parquet part"))
    val target = new Path(dir, f"$deltaVersion%020d.checkpoint.parquet")
    fs.delete(target, false)
    fs.rename(part, target)
    fs.delete(tmp, true)
    writeText(fs, new Path(dir, "_last_checkpoint"),
      s"""{"version":$deltaVersion,"size":${rows.size}}""")
  }

  // ---- internals ----------------------------------------------------------

  private[lake] final case class FileInfo(
      rel: String,
      size: Long,
      mtime: Long,
      numRecords: Long,
      partitionValues: Map[String, String])

  /** All data files under table-relative commit dir `rel`, with footer
    * record counts and hive partition tuples parsed from path segments.
    */
  private def listDataFiles(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      tableDir: Path, rel: String): Seq[FileInfo] = {
    val dir = new Path(tableDir, rel)
    val base = tableDir.toUri.getPath.stripSuffix("/")
    val out = Seq.newBuilder[FileInfo]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
        val relPath = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        val parts = relPath.split("/").dropRight(1).toSeq
          .filter(_.contains("="))
          .map { seg =>
            val k = seg.takeWhile(_ != '=')
            // Spark's partition escaping percent-encodes but never maps
            // '+' to space — route through the RFC-2396 decode
            val v = DeltaImport.decodePath(seg.drop(k.length + 1))
            k -> v
          }.toMap
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        val records = try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        } finally reader.close()
        out += FileInfo(relPath, st.getLen, st.getModificationTime, records, parts)
      }
    }
    out.result().sortBy(_.rel)
  }

  /** Spec: `add.path` is percent-encoded (RFC 2396 path component). */
  private[lake] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  private def addLine(f: FileInfo, dvJson: Option[String]): String = {
    val o = mapper.createObjectNode()
    val a = o.putObject("add")
    a.put("path", encodePath(f.rel))
    val pv = a.putObject("partitionValues")
    f.partitionValues.toSeq.sortBy(_._1).foreach { case (k, v) => pv.put(k, v) }
    a.put("size", f.size)
    a.put("modificationTime", f.mtime)
    a.put("dataChange", true)
    a.put("stats", s"""{"numRecords":${f.numRecords}}""")
    dvJson.foreach(j =>
      a.set[com.fasterxml.jackson.databind.JsonNode]("deletionVector", mapper.readTree(j)))
    mapper.writeValueAsString(o)
  }

  private def txnLine(appId: String, version: Long): String = {
    val o = mapper.createObjectNode()
    val t = o.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    mapper.writeValueAsString(o)
  }

  private def removeLine(rel: String, ts: Long): String = {
    val o = mapper.createObjectNode()
    val r = o.putObject("remove")
    r.put("path", encodePath(rel))
    r.put("deletionTimestamp", ts)
    r.put("dataChange", true)
    mapper.writeValueAsString(o)
  }

  private def cdcLine(rel: String, size: Long): String = {
    val o = mapper.createObjectNode()
    val c = o.putObject("cdc")
    c.put("path", encodePath(rel))
    c.putObject("partitionValues")
    c.put("size", size)
    c.put("dataChange", false)
    mapper.writeValueAsString(o)
  }

  private def metaDataLine(id: String, name: String, schemaJson: String,
      partCols: Seq[String], dvEnabled: Boolean, createdTime: Long,
      cdfEnabled: Boolean = false): String = {
    val o = mapper.createObjectNode()
    val m = o.putObject("metaData")
    m.put("id", id)
    m.put("name", name)
    val f = m.putObject("format")
    f.put("provider", "parquet")
    f.putObject("options")
    m.put("schemaString", schemaJson)
    val pc = m.putArray("partitionColumns")
    partCols.foreach(pc.add)
    val cfg = m.putObject("configuration")
    if (dvEnabled) cfg.put("delta.enableDeletionVectors", "true")
    if (cdfEnabled) cfg.put("delta.enableChangeDataFeed", "true")
    m.put("createdTime", createdTime)
    mapper.writeValueAsString(o)
  }

  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
