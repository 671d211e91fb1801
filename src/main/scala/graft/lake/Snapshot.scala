package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types.DataType

/** One committed version of a lake table: its manifest parsed once. The
  * ONE place that knows the manifest line grammar — one entry per line:
  * {{{
  *   data/<uuid>[/<sub dir>]                       a data dir (every other line)
  *   dv/<uuid>                                     a deletion-vector dir
  *   txn/<urlenc appId>=<batchId>                  a sink's high-water mark
  *   col/<urlenc name>=<urlenc DataType json>      a declared (added) column
  * }}}
  * Main manifests are `manifests/vNNNNN.txt`, branch manifests
  * `manifests/b<name>-vNNNNN.txt`; both hold this grammar. [[render]]
  * gives back the exact bytes a commit publishes for `entries`.
  */
final case class Snapshot(version: Int, entries: Seq[String]) {
  import Snapshot._

  /** Data dirs, table-relative, in manifest order. */
  val data: Seq[String] =
    entries.filterNot(e => e.startsWith(Dv) || e.startsWith(Txn) || e.startsWith(Col))

  /** Deletion-vector dirs, in manifest order. */
  val dvs: Seq[String] = entries.filter(_.startsWith(Dv))

  private val txnLines = entries.filter(_.startsWith(Txn))
  private val colLines = entries.filter(_.startsWith(Col))

  /** The entries that name a dir on disk (data and deletion vectors), in
    * manifest order — what retention and vacuum count as references.
    */
  def dirs: Seq[String] = entries.filterNot(e => e.startsWith(Txn) || e.startsWith(Col))

  /** appId -> highest applied batch id. */
  lazy val txns: Map[String, Long] = txnLines.flatMap { e =>
    e.stripPrefix(Txn).split("=", 2) match {
      case Array(app, v) => Some(dec(app) -> v.toLong)
      case _ => None
    }
  }.toMap

  /** Declared columns (`ALTER TABLE ADD COLUMN`), oldest first. */
  lazy val columns: Seq[(String, DataType)] = colLines.flatMap { e =>
    e.stripPrefix(Col).split("=", 2) match {
      case Array(n, tj) => Some(dec(n) -> DataType.fromJson(dec(tj)))
      case _ => None
    }
  }

  /** The table-level lines (txn marks, then declared columns) that an
    * overwrite or a file rewrite carries into its new entry list: they
    * describe the table, not any one data dir.
    */
  def tableState: Seq[String] = txnLines ++ colLines

  /** The entry list with `added` dirs appended and `appId`'s mark moved to
    * `batchId` — one manifest carries the data and the mark, so they can
    * never tear.
    */
  def withTxn(appId: String, batchId: Long, added: Seq[String] = Nil): Seq[String] =
    entries.filterNot(_.startsWith(s"$Txn${enc(appId)}=")) ++ added :+
      s"$Txn${enc(appId)}=$batchId"

  /** The entry list plus one column declaration. */
  def withColumn(name: String, dataType: DataType): Seq[String] =
    entries :+ s"$Col${enc(name)}=${enc(dataType.json)}"

  /** The manifest bytes of this entry list. */
  def render: Array[Byte] = entries.mkString("\n").getBytes(StandardCharsets.UTF_8)

  /** What changed from this snapshot to `newer`. Dirs present in both hold
    * identical rows; txn and column lines are not compared.
    */
  def diff(newer: Snapshot): Diff = {
    val (was, now) = (data.toSet, newer.data.toSet)
    val (wasDv, nowDv) = (dvs.toSet, newer.dvs.toSet)
    Diff(newer.data.filterNot(was), data.filterNot(now),
      newer.dvs.filterNot(wasDv), dvs.filterNot(nowDv))
  }
}

object Snapshot {
  private val Dv = "dv/"
  private val Txn = "txn/"
  private val Col = "col/"

  /** The state before a table's first version. */
  val empty: Snapshot = Snapshot(0, Nil)

  def parse(version: Int, bytes: Array[Byte]): Snapshot =
    Snapshot(version, new String(bytes, StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  /** Data dirs `added` (newer's order) and `removed` (older's order),
    * deletion-vector dirs likewise.
    */
  final case class Diff(added: Seq[String], removed: Seq[String],
      dvsAdded: Seq[String], dvsRemoved: Seq[String]) {
    def dvsChanged: Boolean = dvsAdded.nonEmpty || dvsRemoved.nonEmpty

    /** Nothing was removed or marked deleted: the newer snapshot's rows are
      * the older's plus the rows of `added`.
      */
    def appendOnly: Boolean = removed.isEmpty && !dvsChanged
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
}
