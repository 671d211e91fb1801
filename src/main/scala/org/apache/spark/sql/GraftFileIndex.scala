package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The lake's catalog FileIndex: a FIXED parquet file list taken from the
  * commit records (Delta's `TahoeFileIndex` shape). Planning a scan over it
  * neither lists a directory nor infers a schema — the files, their sizes
  * and the schema were recorded when the commit was written — so it starts
  * no Spark job however many commit dirs the list spans (an
  * InMemoryFileIndex lists past 32 root paths with a distributed job, and
  * every `spark.read.parquet` infers the schema with another).
  *
  * Equality is by file set, as InMemoryFileIndex's is by root paths, so two
  * reads of the same snapshot plan equal relations (cache lookups and
  * self-join deduplication see the same table).
  */
final class GraftFileIndex(files: IndexedSeq[FileStatus]) extends FileIndex {

  private lazy val pathSet: Set[Path] = files.map(_.getPath).toSet

  override lazy val rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex => g.pathSet == pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

object GraftFileIndex {

  /** One parquet scan over exactly `files` with the recorded `schema` —
    * the same relation `spark.read.parquet` would build over these files
    * (unpartitioned, nullable data schema, no options), minus the listing
    * and inference.
    */
  def scan(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame = {
    val rel = HadoopFsRelation(new GraftFileIndex(files.toIndexedSeq), new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark)
    GraftBridge.ofRows(spark, LogicalRelation(rel))
  }

  /** The schema Spark's parquet inference reads from this footer (the
    * embedded Spark schema when present, else the parquet-type mapping
    * under the session's conf), nullable as a file-source relation holds
    * it.
    */
  def footerSchema(spark: SparkSession, path: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
}
