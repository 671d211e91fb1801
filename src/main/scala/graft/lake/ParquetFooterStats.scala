package graft.lake

import java.time.{Instant, LocalDate, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types.StructType

/** Commit statistics from parquet FOOTERS — zero data scan. The write path
  * already paid for footer min/max/rowcount when it wrote the files;
  * re-deriving the commit sidecar from them removes the extra stats job
  * per commit (at 100 TB: one fewer full read of every fresh commit).
  *
  * Output is format-compatible with the scan-derived sidecar (values as
  * Spark `cast(col AS STRING)` would render them, "num"/"str" kinds by the
  * same rule), so [[LakeCatalog.readWhere]] prunes identically whichever
  * path produced the stats — ParquetStatsSpec pins byte-equality of the
  * two sidecars on a mixed-type table.
  *
  * Conservative by construction: any shape this reader does not fully
  * understand (partitioned commit layout, INT96, truncated/absent binary
  * stats, unknown logical types) returns None for the column or the whole
  * dir, and the caller falls back to the scan — stats may then cost more,
  * but pruning never lies.
  */
private[graft] object ParquetFooterStats {

  /** One data file of a commit as its footer describes it. */
  final case class FileFooter(name: String, bytes: Long, rows: Long, mtime: Long)

  /** What one flat commit dir's footers prove: its exact row count, the
    * per-column (kind, minString, maxString) stats, every data file with
    * its size and row count, and the Spark schema all files share (None
    * when `schemaOf` cannot name one for some file, or the files differ).
    */
  final case class DirFooters(rows: Long, cols: Seq[(String, (String, String, String))],
      files: Seq[FileFooter], schema: Option[StructType])

  /** Footer facts of one commit dir, or None when footers can't provide
    * scan-equivalent stats. `schemaOf` names the Spark schema a file's
    * footer declares (None: unknown).
    */
  def forDir(fs: FileSystem, conf: Configuration, dir: Path, sessionTz: String,
      schemaOf: (Path, ParquetMetadata) => Option[StructType] = (_, _) => None): Option[DirFooters] = {
    if (!fs.exists(dir)) return None
    val entries = fs.listStatus(dir)
    // hive-style partitioned commits keep values in dir names, not footers
    if (entries.exists(_.isDirectory)) return None
    val parts = entries.filter(_.isFile)
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    if (parts.isEmpty) return None

    // One footer read per file, run CONCURRENTLY (r17, guide §5 — the
    // driver should not serialize per-file metadata RTTs): a fresh commit
    // of F files x C columns parses F footers of C chunk-stats each, and
    // the sequential walk was measurable wall time on wide tables (1.4 s
    // for 32 files x 4,450 columns) and is the per-commit floor on a
    // remote object store. Results merge in file order below, so the
    // accumulated column order (schema order of the first file) and every
    // unsupported-marking rule are byte-identical to the sequential walk
    // (ParquetStatsSpec pins sidecar equality).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    import scala.jdk.CollectionConverters._
    implicit val ec: ExecutionContext = ExecutionContext.global
    final case class PartStats(file: FileFooter, schema: Option[StructType],
        cols: Seq[(String, (String, String, String))], unsupported: Set[String])
    val perPart: Seq[PartStats] = Await.result(
      Future.sequence(parts.toList.map { st =>
        Future {
          val part = st.getPath
          var rows = 0L
          val acc = scala.collection.mutable.LinkedHashMap[String, (String, String, String)]()
          val unsupported = scala.collection.mutable.Set[String]()
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try {
            val footer = reader.getFooter
            for (block <- footer.getBlocks.asScala) {
              rows += block.getRowCount
              for (chunk <- block.getColumns.asScala) {
                val colPath = chunk.getPath.toDotString
                if (!colPath.contains('.') && !unsupported.contains(colPath)) {
                  val stats = chunk.getStatistics
                  if (stats == null || stats.isEmpty)
                    // ABSENT stats (disabled by writer config, or discarded
                    // as corrupt) are indistinguishable from "no values" —
                    // they must mark the column unsupported, NOT contribute
                    // an empty range: a silent understatement here would
                    // make readWhere prune commits that DO contain matches
                    unsupported += colPath
                  else if (!stats.hasNonNullValue) {
                    // recorded stats with zero non-null values: genuinely an
                    // all-null chunk only when the null count confirms it
                    if (!(stats.isNumNullsSet && stats.getNumNulls == chunk.getValueCount))
                      unsupported += colPath
                  }
                  else render(chunk.getPrimitiveType, stats, sessionTz) match {
                    case None => unsupported += colPath
                    case Some((kind, mn, mx)) =>
                      acc.get(colPath) match {
                        case None => acc(colPath) = (kind, mn, mx)
                        case Some((k0, mn0, mx0)) =>
                          // belt-and-braces: a cross-file bound that fails
                          // to combine marks the column unsupported, never
                          // throws
                          try acc(colPath) = (k0, minOf(k0, mn0, mn), maxOf(k0, mx0, mx))
                          catch { case _: NumberFormatException => unsupported += colPath }
                      }
                  }
                }
              }
            }
            PartStats(FileFooter(part.getName, st.getLen, rows, st.getModificationTime),
              schemaOf(part, footer), acc.toSeq, unsupported.toSet)
          } finally reader.close()
        }
      }), 10.minutes)
    var rows = 0L
    val acc = scala.collection.mutable.LinkedHashMap[String, (String, String, String)]()
    val unsupported = scala.collection.mutable.Set[String]()
    for (ps <- perPart) {
      rows += ps.file.rows
      unsupported ++= ps.unsupported
      for ((colPath, (kind, mn, mx)) <- ps.cols if !unsupported.contains(colPath)) {
        acc.get(colPath) match {
          case None => acc(colPath) = (kind, mn, mx)
          case Some((k0, mn0, mx0)) =>
            try acc(colPath) = (k0, minOf(k0, mn0, mn), maxOf(k0, mx0, mx))
            catch { case _: NumberFormatException => unsupported += colPath }
        }
      }
    }
    unsupported.foreach(acc.remove)
    val schemas = perPart.map(_.schema).distinct
    Some(DirFooters(rows, acc.toSeq, perPart.map(_.file),
      if (schemas.length == 1) schemas.head else None))
  }

  // str bounds combine in unsigned UTF-8 byte order — the same order the
  // per-file footer stats were selected under (parquet orders BINARY/UTF8
  // byte-wise); Scala String order (UTF-16) diverges for high-BMP vs
  // supplementary code points and could produce a wrong cross-file bound
  private def minOf(kind: String, a: String, b: String): String =
    if (kind == "num") { if (BigDecimal(a) <= BigDecimal(b)) a else b }
    else { if (StatsOrder.leq(a, b)) a else b }
  private def maxOf(kind: String, a: String, b: String): String =
    if (kind == "num") { if (BigDecimal(a) >= BigDecimal(b)) a else b }
    else { if (StatsOrder.geq(a, b)) a else b }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Render one chunk's (min, max) exactly as Spark's cast-to-string
    * would, or None when this type/stat shape isn't supported.
    */
  private def render(pt: PrimitiveType, stats: org.apache.parquet.column.statistics.Statistics[_],
      sessionTz: String): Option[(String, String, String)] = {
    val logical = pt.getLogicalTypeAnnotation
    def num(mn: String, mx: String) = Some(("num", mn, mx))
    def str(mn: String, mx: String) = Some(("str", mn, mx))

    (pt.getPrimitiveTypeName, logical) match {
      case (INT32, d: DateLogicalTypeAnnotation) =>
        val _ = d
        str(LocalDate.ofEpochDay(stats.genericGetMin.asInstanceOf[Int].toLong).toString,
          LocalDate.ofEpochDay(stats.genericGetMax.asInstanceOf[Int].toLong).toString)
      case (INT32, dec: DecimalLogicalTypeAnnotation) =>
        num(BigDecimal(java.math.BigDecimal.valueOf(stats.genericGetMin.asInstanceOf[Int].toLong, dec.getScale)).toString,
          BigDecimal(java.math.BigDecimal.valueOf(stats.genericGetMax.asInstanceOf[Int].toLong, dec.getScale)).toString)
      case (INT32, null) | (INT32, _: IntLogicalTypeAnnotation) =>
        num(stats.genericGetMin.toString, stats.genericGetMax.toString)
      case (INT64, ts: TimestampLogicalTypeAnnotation) =>
        if (!ts.isAdjustedToUTC) None // Spark TIMESTAMP_NTZ: not in statCols
        else {
          val unit = ts.getUnit
          if (unit != LogicalTypeAnnotation.TimeUnit.MICROS &&
            unit != LogicalTypeAnnotation.TimeUnit.MILLIS) None
          else {
            def fmt(v: Long): String = {
              val micros = if (unit == LogicalTypeAnnotation.TimeUnit.MILLIS) v * 1000L else v
              val secs = Math.floorDiv(micros, 1000000L)
              val frac = Math.floorMod(micros, 1000000L)
              val base = Instant.ofEpochSecond(secs).atZone(ZoneId.of(sessionTz)).format(TsFmt)
              if (frac == 0L) base
              else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
            }
            str(fmt(stats.genericGetMin.asInstanceOf[Long]),
              fmt(stats.genericGetMax.asInstanceOf[Long]))
          }
        }
      case (INT64, dec: DecimalLogicalTypeAnnotation) =>
        num(BigDecimal(java.math.BigDecimal.valueOf(stats.genericGetMin.asInstanceOf[Long], dec.getScale)).toString,
          BigDecimal(java.math.BigDecimal.valueOf(stats.genericGetMax.asInstanceOf[Long], dec.getScale)).toString)
      case (INT64, null) | (INT64, _: IntLogicalTypeAnnotation) =>
        num(stats.genericGetMin.toString, stats.genericGetMax.toString)
      case (FLOAT, _) =>
        val (mn, mx) = (stats.genericGetMin.asInstanceOf[Float],
          stats.genericGetMax.asInstanceOf[Float])
        // NaN/Infinity don't parse as BigDecimal downstream (and NaN makes
        // parquet float stats unreliable anyway): unsupported, not a crash
        if (java.lang.Float.isFinite(mn) && java.lang.Float.isFinite(mx))
          num(mn.toString, mx.toString)
        else None
      case (DOUBLE, _) =>
        val (mn, mx) = (stats.genericGetMin.asInstanceOf[Double],
          stats.genericGetMax.asInstanceOf[Double])
        if (java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx))
          num(mn.toString, mx.toString)
        else None
      case (BINARY, l) if l.isInstanceOf[StringLogicalTypeAnnotation] ||
          l.isInstanceOf[EnumLogicalTypeAnnotation] =>
        val mn = stats.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
        val mx = stats.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
        // writer-truncated stats would make max a PREFIX of the true max —
        // unsafe as an upper bound; 64 is parquet-mr's truncation boundary
        if (mn.getBytes("UTF-8").length >= 64 || mx.getBytes("UTF-8").length >= 64) None
        else str(mn, mx)
      case (BINARY, dec: DecimalLogicalTypeAnnotation) =>
        def big(b: Binary) = BigDecimal(BigInt(b.getBytes), dec.getScale)
        num(big(stats.genericGetMin.asInstanceOf[Binary]).toString,
          big(stats.genericGetMax.asInstanceOf[Binary]).toString)
      case (FIXED_LEN_BYTE_ARRAY, dec: DecimalLogicalTypeAnnotation) =>
        def big(b: Binary) = BigDecimal(BigInt(b.getBytes), dec.getScale)
        num(big(stats.genericGetMin.asInstanceOf[Binary]).toString,
          big(stats.genericGetMax.asInstanceOf[Binary]).toString)
      case _ => None // INT96, plain BINARY, BOOLEAN, unknown logical types
    }
  }
}
