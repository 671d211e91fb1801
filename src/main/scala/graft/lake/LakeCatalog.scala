package graft.lake

import java.nio.charset.StandardCharsets
import scala.util.Using

import graft.lake.LakeCatalog.{CommitRecord, Sidecar}
import graft.sources.SchemaTools
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftFileIndex, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Thrown when an optimistic commit loses: the table's latest version moved
  * past the version the writer staged against (or another writer claimed the
  * same manifest name first). Retry by re-reading and re-staging — the
  * losing writer's data directory is already written and simply never
  * referenced (never-referenced dirs are reclaimed by `vacuumOrphans`).
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Lakehouse table layer: namespaces, managed tables, snapshot versioning
  * and time travel over parquet — the reference's Iceberg surface
  * (utils/spark_write_iceberg.py, utils/catalog_manager.py) re-expressed
  * without an Iceberg runtime (none ships in this environment).
  *
  * Layout per table:
  * {{{
  *   <root>/<ns>/<table>/manifests/v00001.txt   # one committed version: one
  *                                              # entry per line ([[Snapshot]])
  *   <root>/<ns>/<table>/data/<commit-uuid>/    # parquet files of one commit
  *        .../_graft_stats.tsv                  # its stats + commit record
  *   <root>/<ns>/<table>/_graft_schemas/<id>.json # one per distinct schema
  * }}}
  * A version's dataset is the union of its listed data dirs, so APPEND
  * commits reference prior data instead of rewriting it (manifest reuse, the
  * Iceberg idea) — at 100 TB an append writes only the new files plus a
  * few-KB manifest. OVERWRITE starts a fresh file list. Reads plan from
  * the commit records ([[writeStats]]) without listing or inferring.
  *
  * ALL metadata IO goes through the Hadoop FileSystem API resolved from the
  * root URI, so the same catalog runs on `file://`, `hdfs://` and `s3a://`
  * alike — the reference's MinIO/S3 deployment surface
  * (config/minio_config.py, utils/spark_write_iceberg.py:8-90). Data IO is
  * Spark's own parquet source, which already speaks every Hadoop scheme.
  *
  * Concurrency: commits are OPTIMISTIC (Iceberg-style). A writer stages its
  * data directory, then publishes a manifest named for the next version;
  * `expectedVersion` lets callers pin the version they staged against and a
  * mismatch raises [[CommitConflictException]] instead of silently
  * clobbering a concurrent commit. The final publish is a rename onto a
  * name that must not exist. Which steps are truly atomic is a property of
  * the store, captured by the [[CommitBackend]] seam and its guarantee
  * matrix: POSIX/HDFS give atomic claim + publish; a plain object store
  * keeps every SEQUENTIAL guarantee (strong listing catches stale writers)
  * but racing same-version writers can double-publish — the step a
  * production S3 deployment backs with conditional put (S3 If-None-Match /
  * an Iceberg REST-catalog commit endpoint). ObjectStoreCommitSpec pins
  * the matrix against a simulated store in both modes.
  */
final class LakeCatalog(
    spark: SparkSession,
    val root: String,
    backendOpt: Option[CommitBackend] = None) {

  /** The session this catalog plans on — the streaming sinks re-base each
    * micro-batch here so the landing's batch jobs (merge/apply/append) run
    * under the engine's batch planning policy (AQE on) instead of the
    * micro-batch clone's (AQE force-disabled).
    */
  private[graft] def session: SparkSession = spark

  private val rootPath = new Path(root)
  private lazy val fs: FileSystem =
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
  /** All manifest/lock IO of the commit protocol goes through this seam —
    * see [[CommitBackend]] for the per-store guarantee matrix. Data IO
    * (parquet commits, stats sidecars) stays on Spark/FileSystem directly.
    */
  private lazy val backend: CommitBackend =
    backendOpt.getOrElse {
      // where the store offers conditional put, use it: on graftoss the
      // version claim + manifest publish become truly atomic (single
      // racing winner), matching what a production S3 (If-None-Match) or
      // Iceberg REST-catalog deployment provides
      if (fs.getScheme == "graftoss") new ObjectStoreCommitBackend(fs)
      else new HadoopCommitBackend(fs)
    }

  /** Lake commits write modern INT64-micros timestamps, not the session's
    * default (Spark still defaults to deprecated INT96, whose footers
    * carry no usable min/max — timestamp columns would lose commit-stats
    * pruning entirely). Scoped to lake writes so the engine's other
    * parquet outputs keep their session-default representation.
    *
    * The conf has no per-write equivalent, so the toggle is REF-COUNTED
    * per session: concurrent lake writers (a streaming upsert sink racing
    * a batch merge) nest safely — the original value is captured once and
    * restored when the last writer leaves, never mid-flight. Residual
    * window, documented: an unrelated parquet write on the same session
    * DURING a lake write also emits micros — a valid (and in fact more
    * modern) encoding, so nothing breaks; it just differs from the
    * session default.
    */
  private def withMicrosTimestamps[T](f: => T): T = {
    LakeCatalog.microsToggleEnter(spark)
    try f finally LakeCatalog.microsToggleExit(spark)
  }

  private def nsPath(ns: String): Path = new Path(rootPath, ns)
  private def tPath(ns: String, t: String): Path = new Path(nsPath(ns), t)
  private def manifestDir(ns: String, t: String): Path = new Path(tPath(ns, t), "manifests")
  private def manifestFile(ns: String, t: String, v: Int): Path =
    new Path(manifestDir(ns, t), f"v$v%05d.txt")

  // ----- namespace ops (reference: CatalogManager.create_namespace/list) ---

  def createNamespace(ns: String): Unit = fs.mkdirs(nsPath(ns))

  private def listDirNames(p: Path): Seq[String] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted

  def listNamespaces(): Seq[String] = listDirNames(rootPath)

  def listTables(ns: String): Seq[String] = listDirNames(nsPath(ns))

  def tableExists(ns: String, t: String): Boolean = versions(ns, t).nonEmpty

  def dropTable(ns: String, t: String): Unit = deleteRec(tPath(ns, t))

  /** Metadata-only when possible: every commit sidecar carries its exact
    * row count, so the common case is a sum over a few KB of manifests —
    * no table scan (the Iceberg metadata-count idea). Commits predating
    * stats fall back to one count job.
    */
  def rowCount(ns: String, t: String): Long = {
    val snap = snapshot(ns, t)
    val data = snap.data.map(rel => commitStats(ns, t, rel).map(_._1))
    // each deletion-vector row marks exactly one live row (marking scans
    // exclude already-marked rows; rewrites prune dangling refs), so the
    // metadata-only count is data-sidecar sum minus vector-sidecar sum
    val dvs = snap.dvs.map(rel => commitStats(ns, t, rel).map(_._1))
    if (data.nonEmpty && (data ++ dvs).forall(_.isDefined))
      data.flatten.sum - dvs.flatten.sum
    else read(ns, t).count()
  }

  // ----- snapshots -------------------------------------------------------

  def versions(ns: String, t: String): Seq[Int] =
    backend.list(manifestDir(ns, t)).collect {
      case LakeCatalog.ManifestName(v) => v.toInt
    }.sorted

  /** Snapshot `version` of the table (default: the latest) — the one
    * lookup every verb resolves its entry list through. A given version
    * costs one manifest read (the listing only names a missing one); the
    * latest costs one listing more.
    */
  def snapshot(ns: String, t: String, version: Option[Int] = None): Snapshot =
    version match {
      case None =>
        val s = current(ns, t)
        require(s.nonEmpty, s"no such table: $ns.$t")
        s.get
      case Some(v) =>
        try load(manifestFile(ns, t, v), v)
        catch {
          case e: java.io.FileNotFoundException =>
            val vs = versions(ns, t)
            require(vs.nonEmpty, s"no such table: $ns.$t")
            require(vs.contains(v), s"no snapshot v$v of $ns.$t (have: ${vs.mkString(",")})")
            throw e
        }
    }

  /** The latest snapshot, None while the table has no version. */
  private def current(ns: String, t: String): Option[Snapshot] =
    versions(ns, t).lastOption.map(v => load(manifestFile(ns, t, v), v))

  private def load(manifest: Path, version: Int): Snapshot =
    Snapshot.parse(version, backend.readBytes(manifest))

  /** Write `s` to a temp file named after `stem` and rename it onto
    * `target` only if that is absent, so readers never see a half-written
    * manifest. False (temp removed) when another writer published first.
    */
  private def publish(target: Path, stem: String, s: Snapshot): Boolean = {
    val tmp = new Path(target.getParent, s".$stem-${java.util.UUID.randomUUID().toString}.tmp")
    backend.writeBytes(tmp, s.render)
    backend.renameIfAbsent(tmp, target) || { backend.delete(tmp); false }
  }

  /** How long a version lock may sit without its manifest appearing before
    * it is considered abandoned by a crashed writer and broken.
    */
  val LockStaleMs: Long = 60000L

  /** Atomically claim the right to publish a version — atomic exactly
    * where the backend's `createExclusive` is (see [[CommitBackend]]'s
    * guarantee matrix; on plain object stores it is best-effort and a
    * production deployment backs commits with a conditional-put catalog
    * service, as Iceberg's REST catalog does). A lock older than
    * [[LockStaleMs]] whose manifest never appeared is a crashed writer: it
    * is broken and re-claimed once. The break (delete + re-create) is NOT
    * atomic as a pair: two waiters can each delete-then-create, and the
    * second delete may remove the first waiter's FRESH lock — both then
    * believe they hold it. This is accepted because the lock is an
    * optimization, not the safety mechanism: the publish itself is
    * `renameIfAbsent` onto the versioned name, and at most one of the two
    * "holders" can win it; the loser raises [[CommitConflictException]]
    * and its staged dir is reclaimed by vacuumOrphans.
    */
  private def claim(lock: Path, target: Path): Boolean =
    backend.createExclusive(lock) || {
      val stale = backend.mtime(lock)
        .exists(m => System.currentTimeMillis() - m > LockStaleMs)
      stale && !backend.exists(target) && {
        backend.delete(lock); backend.createExclusive(lock)
      }
    }

  /** Publish `entries` as the next version. Optimistic: verifies the
    * current latest against `expectedVersion` (when given), atomically
    * claims the version via [[claim]], then renames a fully-written temp
    * manifest onto the versioned name — readers can never observe a
    * half-written file list, and at most one concurrent writer wins a
    * version.
    */
  private def commit(
      ns: String,
      t: String,
      entries: Seq[String],
      expectedVersion: Option[Int]): Int = {
    backend.mkdirs(manifestDir(ns, t))
    val cur = versions(ns, t).lastOption.getOrElse(0)
    expectedVersion.foreach { e =>
      if (cur != e) throw new CommitConflictException(
        s"$ns.$t moved to v$cur while this writer staged against v$e")
    }
    val v = cur + 1
    val target = manifestFile(ns, t, v)
    val lock = new Path(manifestDir(ns, t), f".v$v%05d.lock")
    if (!claim(lock, target))
      throw new CommitConflictException(
        s"concurrent writer is publishing $ns.$t v$v")
    try {
      // the claim makes a same-version racer impossible; renameIfAbsent
      // stays as belt-and-braces against external interference
      if (!publish(target, s"v$v", Snapshot(v, entries)))
        throw new CommitConflictException(
          s"concurrent writer published $ns.$t v$v first")
      v
    } finally { backend.delete(lock) }
  }

  // ----- read/write ------------------------------------------------------

  /** Read a table at a snapshot (default: latest) — time travel. Applies
    * the snapshot's deletion vectors (merge-on-read): rows marked deleted
    * by `dv/` entries are filtered out via a broadcast anti-join, with no
    * data dir ever rewritten.
    */
  def read(ns: String, t: String, version: Option[Int] = None): DataFrame =
    readSnapshot(ns, t, snapshot(ns, t, version))

  private def readSnapshot(ns: String, t: String, snap: Snapshot): DataFrame =
    withDeclaredCols(readDirsClean(ns, t, snap, snap.data), snap)

  /** Time travel by WALL CLOCK (Iceberg/Delta `TIMESTAMP AS OF` analog):
    * read the snapshot whose manifest was the latest published at or
    * before `epochMs`. Publish times come from manifest mtimes — the
    * rename that made the version visible.
    */
  def readAsOf(ns: String, t: String, epochMs: Long): DataFrame = {
    val vs = versions(ns, t)
    require(vs.nonEmpty, s"no such table: $ns.$t")
    val at = vs.filter { v =>
      backend.mtime(manifestFile(ns, t, v)).exists(_ <= epochMs)
    }
    require(at.nonEmpty,
      s"no snapshot of $ns.$t existed at epoch-ms $epochMs (earliest: v${vs.head})")
    read(ns, t, Some(at.last))
  }

  /** Snapshot HISTORY: (version, publish epoch-ms, manifest entry count)
    * per surviving snapshot, oldest first — metadata-only (manifest mtimes
    * + line counts; the Delta `DESCRIBE HISTORY` analog the SQL façade
    * serves). Publish times are the manifest mtimes [[readAsOf]] travels
    * by, so history and time travel agree by construction.
    */
  def history(ns: String, t: String): Seq[(Int, Long, Int)] = {
    val vs = versions(ns, t)
    require(vs.nonEmpty, s"no such table: $ns.$t")
    vs.map(v => (v,
      backend.mtime(manifestFile(ns, t, v)).getOrElse(0L),
      load(manifestFile(ns, t, v), v).entries.size))
  }

  /** Streaming-source seam: one snapshot's manifest split into (data dirs,
    * deletion-vector dirs) — metadata-only, the unit the lake stream
    * source plans micro-batch windows from (txn watermark entries are
    * invisible here, as on every read path).
    */
  def snapshotEntries(ns: String, t: String, version: Int): (Seq[String], Seq[String]) = {
    val s = snapshot(ns, t, Some(version))
    (s.data, s.dvs)
  }

  /** Streaming-source seam: raw scan over specific commit dirs with NO
    * deletion-vector subtraction — callers must know the dirs are
    * vector-free (append-window deltas are: a DV change makes the window
    * non-append and the source refuses or opts into ignoreChanges).
    */
  def readCommitDirs(ns: String, t: String, rels: Seq[String]): DataFrame =
    readDirs(ns, t, rels)

  /** Streaming-source seam: a DV-CLEAN scan restricted to `wanted` data
    * dirs of snapshot `version` — the unit a file-granular initial
    * snapshot streams (the snapshot's deletion vectors are applied to the
    * slice, and only the slice's vectored dirs pay the anti-join).
    */
  def readSnapshotDirs(ns: String, t: String, version: Int,
      wanted: Seq[String]): DataFrame =
    readDirsClean(ns, t, snapshot(ns, t, Some(version)), wanted)

  /** Streaming-source seam (r15 `maxBytesPerTrigger`): the parquet files
    * of one commit dir — (name, bytes) sorted by name — when the dir is
    * FLAT (no hive partitioning), None otherwise. Answered from the commit
    * record when there is one ([[writeStats]]); only unrecorded dirs pay
    * a `listStatus`. Commit dirs are immutable so callers may cache.
    */
  def commitFilesIfFlat(ns: String, t: String, rel: String): Option[Seq[(String, Long)]] =
    commitRecord(ns, t, rel) match {
      case Some(r) => Some(r.files.map(f => (f.name, f.bytes)).sortBy(_._1))
      case None =>
        val sts = fs.listStatus(new Path(tPath(ns, t), rel))
        if (sts.exists(_.isDirectory)) None
        else Some(sts.toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName).map(st => (st.getPath.getName, st.getLen)))
    }

  /** Total bytes under a commit dir (nested layouts included) — the
    * byte-cap admission weight of an UNSPLITTABLE unit.
    */
  def commitBytes(ns: String, t: String, rel: String): Long =
    fs.getContentSummary(new Path(tPath(ns, t), rel)).getLength

  /** Data entries of snapshot `version` that carry deletion-vector marks —
    * a marked dir cannot stream as a plain file slice (its rows need the
    * DV anti-join), so the byte-capped source treats it as one unit read
    * through [[readSnapshotDirs]]. Metadata-plus-one-tiny-collect (the
    * KB-sized dv sidecars' distinct file parents).
    */
  def dvMarkedDataRels(ns: String, t: String, version: Int): Set[String] = {
    val s = snapshot(ns, t, Some(version))
    if (s.dvs.isEmpty) Set.empty
    else {
      val m = markedDirs(ns, t, s.dvs)
      s.data.filter(rel => entryMarked(m, rel)).toSet
    }
  }

  /** Streaming-source seam: scan of a WINDOW SLICE — `fullDirs` in one
    * grouped scan plus per-dir explicit FILE sub-lists (`partials`, each
    * (dir, fileNames)). `cleanVersion = Some(v)` reads the full dirs
    * DV-clean against snapshot v (partial dirs must be unmarked — the
    * byte-capped source never splits a marked dir).
    */
  def readWindowSlice(
      ns: String, t: String,
      fullDirs: Seq[String],
      partials: Seq[(String, Seq[String])],
      cleanVersion: Option[Int]): DataFrame = {
    val fulls =
      if (fullDirs.isEmpty) Nil
      else Seq(cleanVersion match {
        case Some(v) => readSnapshotDirs(ns, t, v, fullDirs)
        case None => readDirs(ns, t, fullDirs)
      })
    val parts = partials.map { case (rel, names) =>
      commitRecord(ns, t, rel) match {
        case Some(r) =>
          val want = names.toSet
          GraftFileIndex.scan(spark,
            r.statuses.filter(st => want(st.getPath.getName)), r.schema)
        case None =>
          val d = new Path(tPath(ns, t), rel)
          spark.read.parquet(names.map(n => new Path(d, n).toString): _*)
      }
    }
    SchemaTools.unifySchemas(fulls ++ parts)
  }

  /** Scans of the given commit dirs. Dirs with a commit RECORD
    * ([[writeStats]]) scan from their recorded files through the catalog
    * FileIndex ([[GraftFileIndex]]), ONE scan node per schema id: a
    * 10k-commit append-only table plans O(1) scan nodes instead of 10k
    * (per-scan planning + codegen overhead was the dominant cost of
    * many-commit reads), and planning neither lists a dir nor infers a
    * schema, so it starts no Spark job whichever catalog instance plans
    * it. Dirs without a record — written before records existed,
    * hive-partitioned, or with the sidecar missing — keep their own
    * `basePath` scan (partition-column recovery, per-dir schema
    * inference), the only fallback. Returns the grouped scans and the
    * fallback (dir, scan) pairs in `rels` order.
    */
  private def scans(ns: String, t: String, rels: Seq[String])
      : (Seq[DataFrame], Seq[(String, DataFrame)]) = {
    val table = tableUri(ns, t)
    val recorded = rels.map(rel => rel -> sidecar(table, rel).flatMap(_.record))
    val groups = scala.collection.mutable.LinkedHashMap[String, (StructType, Vector[FileStatus])]()
    recorded.foreach {
      case (_, Some(r)) =>
        val files = groups.get(r.schemaId).fold(Vector.empty[FileStatus])(_._2)
        groups(r.schemaId) = (r.schema, files ++ r.statuses)
      case _ => ()
    }
    (groups.values.toSeq.map { case (schema, files) =>
      GraftFileIndex.scan(spark, files, schema)
    }, recorded.collect { case (rel, None) =>
      val d = new Path(tPath(ns, t), rel).toString
      rel -> spark.read.option("basePath", d).parquet(d)
    })
  }

  /** Union of the given commit dirs, schemas unified by name. Recorded
    * same-schema dirs scan as ONE node ([[scans]]); each remaining dir
    * keeps its own scan (its own partition layout / schema generation:
    * schema evolution across commits).
    */
  private[lake] def readDirs(ns: String, t: String, rels: Seq[String]): DataFrame = {
    val (grouped, perDir) = scans(ns, t, rels)
    SchemaTools.unifySchemas(grouped ++ perDir.map(_._2))
  }

  /** Like [[readDirs]] but every row carries its commit dir in a tag
    * column, with `snap`'s deletion vectors applied — the scan-to-plan
    * phase of file-scoped MERGE/DELETE reads this once, filters, and
    * collects the DISTINCT tag values (bounded by the number of commits)
    * to learn which commits a delta actually touches. The tag name is
    * chosen collision-free against the table's own columns (a user table
    * may genuinely contain `_graft_commit`;
    * shadowing it would make predicates on that column evaluate against
    * the injected literal) and returned alongside the frame.
    */
  def readTagged(ns: String, t: String, snap: Snapshot,
      rels: Seq[String]): (DataFrame, String) = {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    val dvs = snap.dvs
    // the grouped-scan tag derives from the file path's first two
    // segments, which is only exact for plain "data/<uuid>" entries —
    // deeper entries (z-buckets) keep their per-dir literal tag
    val (groupable, deep) = rels.partition(_.count(_ == '/') == 1)
    val (rawGroups, fallback) = scans(ns, t, groupable)
    val rawPer = fallback ++ deep.map { rel =>
      val (g, p) = scans(ns, t, Seq(rel))
      rel -> (g ++ p.map(_._2)).head
    }
    val tag = StatsOrder.freshTag((rawGroups ++ rawPer.map(_._2)).flatMap(_.columns))
    // deletion-vector-marked rows must not count as matches (they are
    // logically gone): with vectors present, every scan carries row
    // identity and the vectors are subtracted below
    def withKeys(df: DataFrame): DataFrame =
      if (dvs.isEmpty) df
      else df.withColumn("__graft_file", fileKeyExpr)
        .withColumn("__graft_pos", col("_metadata.row_index"))
    val tagged = SchemaTools.unifySchemas(
      // grouped scans derive the tag from the file path (first two
      // segments of the table-relative key = the commit dir)
      rawGroups.map(df => withKeys(df)
        .withColumn(tag, substring_index(fileKeyExpr, "/", 2))) ++
        rawPer.map { case (rel, df) => withKeys(df).withColumn(tag, lit(rel)) })
    val clean =
      if (dvs.isEmpty) tagged
      else tagged.join(dvJoinSide(ns, t, dvs),
        col("__graft_file") === col("_dv_file") &&
          col("__graft_pos") === col("_dv_pos"), "left_anti")
        .drop("__graft_file", "__graft_pos")
    (clean, tag)
  }

  // ----- merge-on-read DELETION VECTORS ----------------------------------
  // The Delta/Iceberg v2 merge-on-read shape: a DELETE writes a tiny
  // positional sidecar commit (`dv/<uuid>` manifest entries holding
  // (file, row position) pairs) instead of rewriting any data. Readers
  // subtract the marked rows with a BROADCAST anti-join — a narrow
  // map-side filter, no shuffle — so a delete of 0.001% of a 100 TB
  // table costs the predicate scan plus KBs of sidecar, and reads pay
  // ~nothing while DVs stay small. `materializeDeletes` is the
  // maintenance valve: it folds the vectors into a FILE-SCOPED rewrite
  // of only the commits that contain marked rows, returning the table to
  // vector-free reads. Row identity is (data dir + file + parquet row
  // index) — stable across reads because parquet row order is the file
  // order.

  /** DECLARED COLUMNS (r16, VERDICT r15 #5 — `ALTER TABLE ADD COLUMN`):
    * `col/` manifest lines ([[Snapshot.columns]]), metadata riding the
    * atomically-published manifest and absent from every data path. A
    * declared column that no data dir carries yet reads as NULL ([[read]]
    * injects it); the first write that CARRIES the column materializes it
    * and the declaration becomes a no-op — the same null-fill semantics
    * write-time `unionByName` evolution already gives, now reachable as a
    * verb. Null-fills the snapshot's declared-but-unwritten columns
    * (appended at the end, the Delta/Iceberg ADD COLUMN position).
    */
  private def withDeclaredCols(df: DataFrame, snap: Snapshot): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    snap.columns.filterNot(c => have(c._1.toLowerCase)).foldLeft(df) {
      case (d, (n, dt)) =>
        d.withColumn(n, org.apache.spark.sql.functions.lit(null).cast(dt))
    }
  }

  /** `ALTER TABLE ADD COLUMN` (metadata-only): publish the current entry
    * list plus one `col/` declaration — no data IO, prior snapshots keep
    * the pre-evolution schema (time travel reads the old shape). The
    * column must be new; reads null-fill it until data carries it.
    * Mutating verbs against the declared-only column (UPDATE SET, a
    * predicate on it) resolve once data materializes it — the write path
    * is unchanged.
    */
  def addColumn(ns: String, t: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Int = {
    val snap = snapshot(ns, t)
    val existing = readSnapshot(ns, t, snap).schema.fieldNames
      .map(_.toLowerCase).toSet
    require(!existing.contains(name.toLowerCase),
      s"column `$name` already exists in $ns.$t")
    commit(ns, t, snap.withColumn(name, dataType), Some(snap.version))
  }

  /** File key relative to the table root ("data/<uuid>/…"), derived from
    * the scan's `_metadata.file_path` — URI-scheme-agnostic, so vectors
    * written on one filesystem rendering still match on another.
    * substring_index (a plain scan for the last "/data/") instead of a
    * regex: this runs per ROW of every vectored commit, and a regex here
    * measurably dominated the whole read at the 6M-row probe scale.
    */
  private def fileKeyExpr: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat, lit, substring_index}
    concat(lit("data/"),
      substring_index(col("_metadata.file_path"), "/data/", -1))
  }

  /** Data dirs with row identity attached: `__graft_file` (table-relative
    * path) + `__graft_pos` (row index within the file). Same scan
    * grouping as [[readDirs]] — the identity columns derive from
    * `_metadata`, which is per-file regardless of how many dirs share a
    * scan node.
    */
  private def readDirsWithKey(ns: String, t: String, rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (grouped, perDir) = scans(ns, t, rels)
    SchemaTools.unifySchemas((grouped ++ perDir.map(_._2)).map(
      _.withColumn("__graft_file", fileKeyExpr)
        .withColumn("__graft_pos", col("_metadata.row_index"))))
  }

  /** Union of the given deletion-vector dirs: (_dv_file, _dv_pos). Vector
    * dirs are flat commits with records, so this plans like any read.
    */
  private def dvFrame(ns: String, t: String, dvs: Seq[String]): DataFrame =
    readDirs(ns, t, dvs)

  /** Total marked rows across the given dv sidecars — metadata-only (each
    * sidecar commit carries its exact row count; a sidecar predating stats
    * falls back to one count job over KBs of parquet).
    */
  private def dvRowCount(ns: String, t: String, dvs: Seq[String]): Long =
    dvs.map(rel => commitStats(ns, t, rel).map(_._1).getOrElse(
      spark.read.parquet(new Path(tPath(ns, t), rel).toString).count())).sum

  /** Vector cardinality ceiling for the broadcast anti-join. Deletion
    * vectors are one row per MARKED row — unbounded: a single broad DELETE
    * (1% of a 100 TB table) writes billions of positions, and a forced
    * broadcast of that frame OOMs the driver on every subsequent read.
    * Under the ceiling (the common case: point/narrow deletes) the
    * subtraction stays a map-side broadcast anti-join with no shuffle;
    * over it the hint is dropped, the planner shuffles both sides, and the
    * read degrades gracefully instead of failing — `materializeDeletes`
    * remains the maintenance valve that returns to vector-free scans.
    */
  private def dvBroadcastMaxRows: Long =
    spark.conf.getOption("graft.lake.dv.broadcastMaxRows").map(_.toLong)
      .getOrElse(1000000L)

  /** The dv frame, broadcast-hinted only while its metadata row count is
    * under [[dvBroadcastMaxRows]].
    */
  private def dvJoinSide(ns: String, t: String, dvs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val frame = dvFrame(ns, t, dvs)
    val n = dvRowCount(ns, t, dvs)
    if (n <= dvBroadcastMaxRows) broadcast(frame)
    else {
      // observable cap: the soak run must see the broadcast give way to
      // the shuffled anti-join, not just not-OOM
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"read($ns.$t): $n deletion-vector rows > broadcast cap " +
          s"$dvBroadcastMaxRows -> shuffled anti-join")
      // the cap decision is AUTHORITATIVE, stated as an explicit shuffle
      // hint: nothing downstream (planner estimates, the honest-broadcast
      // footer rule) may re-promote an over-cap vector side to a
      // driver-built hash relation
      frame.hint("shuffle_hash")
    }
  }

  /** The distinct parent DIRECTORIES of vector-marked files — one row
    * per marked file in the KB-sized sidecars, so the collect is
    * bounded by file count, not marked-row count. Directory (not
    * commit) granularity matters: one z-ordered write is a single
    * "data/<uuid>" commit whose z-buckets are separate manifest
    * entries, and only the buckets actually holding marks should pay
    * the vectored scan or a materialize rewrite.
    */
  private def markedDirs(ns: String, t: String, dvs: Seq[String]): Set[String] =
    dvFrame(ns, t, dvs).select("_dv_file").distinct()
      .collect().map(_.getString(0))
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet

  /** True when manifest entry `e` contains any marked file: a marked
    * dir equals the entry, or sits beneath it (multi-level hive
    * partitioning puts files deeper than their 2-segment entry).
    */
  private def entryMarked(marked: Set[String], e: String): Boolean =
    marked.exists(d => d == e || d.startsWith(e + "/"))

  /** The given DATA dirs with the snapshot's deletion vectors applied.
    * Vector-free snapshots take the plain scan path (no `_metadata`
    * columns, no join in the plan) — and on a vectored snapshot, only
    * the commits that actually contain marked rows pay the row-identity
    * columns + broadcast anti-join; every other commit still scans
    * plain. Read overhead is therefore proportional to the VECTORED
    * commits, not the table (probe-verified: a delete touching 1 of 64
    * commits leaves the read within noise of a vector-free read).
    */
  private[lake] def readDirsClean(ns: String, t: String,
      snap: Snapshot, wanted: Seq[String]): DataFrame = {
    val dvs = snap.dvs
    if (dvs.isEmpty) readDirs(ns, t, wanted)
    else {
      import org.apache.spark.sql.functions.col
      val marked = markedDirs(ns, t, dvs)
      val (vectored, plain) = wanted.partition(rel => entryMarked(marked, rel))
      val parts =
        (if (vectored.isEmpty) Nil
         else Seq(readDirsWithKey(ns, t, vectored)
           .join(dvJoinSide(ns, t, dvs),
             col("__graft_file") === col("_dv_file") &&
               col("__graft_pos") === col("_dv_pos"),
             "left_anti")
           .drop("__graft_file", "__graft_pos"))) ++
          (if (plain.isEmpty) Nil else Seq(readDirs(ns, t, plain)))
      SchemaTools.unifySchemas(parts)
    }
  }

  /** Merge-on-read DELETE: mark matching rows in a positional sidecar
    * commit; NO data dir is read back or rewritten beyond the predicate
    * scan. Stacked deletes compose (the marking scan already excludes
    * previously-marked rows, so no row is ever double-counted). A
    * no-match delete publishes a metadata-only snapshot, like the CoW
    * path. Prior snapshots still time-travel to the undeleted data.
    */
  def deleteMoR(ns: String, t: String, predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val hit = coalesce(predicate, lit(false))
    val snap = snapshot(ns, t)
    val dvs = snap.dvs
    val marked0 = readDirsWithKey(ns, t, snap.data).filter(hit)
      .select(col("__graft_file").as("_dv_file"), col("__graft_pos").as("_dv_pos"))
    val marked =
      if (dvs.isEmpty) marked0
      else marked0.join(dvJoinSide(ns, t, dvs), Seq("_dv_file", "_dv_pos"),
        "left_anti")
    val rel = s"dv/${java.util.UUID.randomUUID().toString}"
    val out = new Path(tPath(ns, t), rel)
    marked.write.mode(SaveMode.Overwrite).parquet(out.toString)
    val dvRows = writeStats(ns, t, rel)
    val v =
      if (dvRows == 0L) {
        deleteRec(out)
        commit(ns, t, snap.entries, Some(snap.version))
      } else commit(ns, t, snap.entries :+ rel, Some(snap.version))
    // AUTO-MATERIALIZE VALVE (opt-in): once the snapshot's accumulated
    // vectors pass the broadcast ceiling, every subsequent read pays a
    // shuffled anti-join — at 100 TB that maintenance decision should be
    // surfaced by the engine, not remembered by an operator. The check is
    // metadata-only and LOCAL to what this call already holds: the new
    // sidecar's count came back from writeStats and the prior dv set is
    // in scope, so no manifest re-read happens on the hot delete path.
    val auto = spark.conf.getOption("graft.lake.dv.autoMaterialize")
      .exists(_.toBoolean)
    if (auto && dvRows + (if (dvs.isEmpty) 0L else dvRowCount(ns, t, dvs)) >
        dvBroadcastMaxRows)
      materializeDeletes(ns, t)
    else v
  }

  /** Fold the current snapshot's deletion vectors into the data,
    * FILE-SCOPED: only the commits that actually contain marked rows are
    * rewritten (without those rows); untouched commits keep their
    * manifest entries verbatim, and every `dv/` entry disappears. The
    * maintenance partner of [[deleteMoR]] — run it when vectors grow past
    * broadcast comfort. Returns the new version (current one when there
    * is nothing to fold).
    */
  def materializeDeletes(ns: String, t: String): Int = {
    val snap = snapshot(ns, t)
    if (snap.dvs.isEmpty) return snap.version
    val marked = markedDirs(ns, t, snap.dvs)
    // entries (2-segment commits or deeper z-bucket entries) that
    // actually contain marked files — only they are rewritten
    val touched = snap.data.filter(e => entryMarked(marked, e))
    commitRewrite(ns, t, snap, touched.toSet, readDirsClean(ns, t, snap, touched))
  }

  /** Column count at which a commit switches to the WIDE writer profile. */
  val WideWriterCols = 512

  /** The commit writer, width-adaptive. Past [[WideWriterCols]] columns the
    * parquet-mr defaults stop making sense — per-column costs are paid
    * thousands of times per row group — so wide commits flip three knobs
    * (all width-probed on the reference's 50K×4,450 headline shape):
    *
    *   - dictionary encoding OFF: the per-cell dictionary hash lookup is
    *     ~2x the whole encode cost at this width (23.8s -> 14.1s write,
    *     14.1s -> 8.3s read-back), and per-column dictionary pages are the
    *     dominant term in the measured >6 GiB-per-8-writers memory floor;
    *   - parquet v2 data pages: DELTA_BINARY_PACKED/DELTA_BYTE_ARRAY
    *     recover the compression dictionaries provided without the
    *     per-cell hashing (367.6 MB -> 63.3 MB at equal write time);
    *   - 8 MB row groups: bounds writer memory at width×pageBuffers per
    *     IN-FLIGHT row group instead of width×128 MB-block share.
    *
    * Narrow tables keep Spark's defaults — dictionary pages earn their
    * cost there and bigger row groups scan better.
    */
  private def parquetWriter(df: DataFrame): org.apache.spark.sql.DataFrameWriter[Row] = {
    val w = df.write.mode(SaveMode.Overwrite)
    if (df.schema.length < WideWriterCols) w
    else w.option("parquet.enable.dictionary", "false")
      .option("parquet.writer.version", "PARQUET_2_0")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
  }

  /** Write a commit. OVERWRITE replaces the file list; APPEND extends it
    * (no data rewrite). Optional hive-style partitioning. Pass
    * `expectedVersion` (the version this writer read before staging — 0 for
    * "table must not exist yet") to make the commit optimistic: a
    * concurrent commit in between raises [[CommitConflictException]].
    */
  def write(
      ns: String,
      t: String,
      df: DataFrame,
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil,
      expectedVersion: Option[Int] = None): Int = {
    createNamespace(ns)
    val commitId = java.util.UUID.randomUUID().toString
    val rel = s"data/$commitId"
    val out = new Path(tPath(ns, t), rel)
    withMicrosTimestamps {
      val writer = parquetWriter(df)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(out.toString)
    }
    writeStats(ns, t, rel)
    (mode, current(ns, t)) match {
      case (SaveMode.Append, Some(snap)) =>
        // an append EXTENDS the entry list it read, so it is always CAS'd
        // against the version it extended — otherwise a concurrent commit
        // landing between the read and the publish would be silently
        // dropped from the new manifest (lost update). Callers may still
        // pin an earlier expectedVersion explicitly.
        commit(ns, t, snap.entries :+ rel, expectedVersion.orElse(Some(snap.version)))
      case (_, prev) =>
        // an OVERWRITE replaces the DATA, not the table's transaction
        // history: sink high-water marks (txn/ lines) survive, exactly as
        // Delta's setTransaction actions survive an overwrite — otherwise a
        // maintenance overwrite racing a streaming sink would reopen the
        // sink's replay window. Declared columns survive too (Delta keeps
        // the table schema across INSERT OVERWRITE); the read-side guard
        // only injects them when the new data does not already carry the
        // name.
        commit(ns, t, prev.fold(Seq.empty[String])(_.tableState) :+ rel, expectedVersion)
    }
  }

  // ----- idempotent transactional appends (exactly-once streaming sinks) ---
  // Structured Streaming delivers micro-batches into foreachBatch
  // AT-LEAST-ONCE: a crash between the sink's lake commit and the
  // checkpoint's commit log replays the same (appId, batchId) after
  // restart. The guard is Delta's `txn` action pattern (PROTOCOL.md §
  // Transaction Identifiers, modeled by DeltaExport): each idempotent
  // append carries its application id + batch id INSIDE the manifest it
  // publishes — one CAS'd rename, so the data and the watermark can never
  // tear — and a replayed batch id at or below the recorded high-water
  // mark is a no-op. Manifest line shape: `txn/<urlenc appId>=<batchId>`
  // ([[Snapshot.txns]]), absent from every data path.

  /** The latest batch id `appId` has committed to `ns.t`, if any. */
  def txnVersion(ns: String, t: String, appId: String): Option[Long] =
    current(ns, t).flatMap(_.txns.get(appId))

  /** Idempotent APPEND: commit `df` tagged with (`appId`, `batchId`),
    * or no-op (returning None) when a commit with `batchId` or later from
    * the same `appId` is already in the table — the exactly-once sink
    * primitive. Batch ids must be monotonically increasing per appId
    * (Structured Streaming's batchId contract). Safe under concurrency:
    * the watermark rides in the same atomically-published manifest as the
    * data entry, and a conflict with an unrelated writer re-reads and
    * re-checks before retrying.
    */
  def writeTxn(ns: String, t: String, appId: String, batchId: Long,
      df: DataFrame, partitionBy: Seq[String] = Nil): Option[Int] = {
    def latest: Snapshot = current(ns, t).getOrElse(Snapshot.empty)
    def replayed(s: Snapshot): Boolean = s.txns.get(appId).exists(_ >= batchId)
    var snap = latest
    if (replayed(snap)) return None
    val staged = stageWrite(ns, t, df, SaveMode.Append, partitionBy)
    var attempts = 0
    while (true) {
      try {
        return Some(commit(ns, t, snap.withTxn(appId, batchId, Seq(staged.rel)),
          Some(snap.version)))
      } catch {
        case e: CommitConflictException =>
          attempts += 1
          snap = latest
          if (replayed(snap)) { abortStaged(staged); return None }
          if (attempts >= 8) { abortStaged(staged); throw e }
      }
    }
    sys.error("unreachable")
  }

  /** Record a txn watermark as a METADATA-ONLY commit (no data entry) —
    * for sinks whose data lands through CONVERGENT operations (MERGE /
    * CDC APPLY): the watermark lets a replayed batch SKIP the work
    * entirely, and a crash between the merge and this record costs one
    * redundant-but-convergent merge, never a duplicate (exactly-once
    * result, at-most-twice work). No-ops on tables that do not exist or
    * hold no data yet (a version carrying only a watermark would be
    * unreadable), and on batch ids at or below the recorded mark.
    */
  def recordTxn(ns: String, t: String, appId: String, batchId: Long): Option[Int] = {
    var attempts = 0
    while (true) {
      val snap = current(ns, t).getOrElse(Snapshot.empty)
      if (snap.data.isEmpty) return None
      if (snap.txns.get(appId).exists(_ >= batchId)) return None
      try return Some(commit(ns, t, snap.withTxn(appId, batchId), Some(snap.version)))
      catch {
        case e: CommitConflictException =>
          attempts += 1
          if (attempts >= 8) throw e
      }
    }
    sys.error("unreachable")
  }

  /** [[writeTxn]] onto a BRANCH lineage (the audited-streaming sink): the
    * watermark lives in the branch manifest and flows to main with the
    * fast-forward merge, so a replay is a no-op whether the restart lands
    * before or after the session's publish.
    */
  def writeBranchTxn(ns: String, t: String, name: String, appId: String,
      batchId: Long, df: DataFrame): Option[Int] = {
    def replayed(s: Snapshot): Boolean = s.txns.get(appId).exists(_ >= batchId)
    if (replayed(branchSnapshot(ns, t, name))) return None
    val staged = stageWrite(ns, t, df, SaveMode.Append)
    var attempts = 0
    while (true) {
      val snap = branchSnapshot(ns, t, name)
      if (replayed(snap)) { abortStaged(staged); return None }
      val published = commitBranch(ns, t, name, snap.withTxn(appId, batchId, Seq(staged.rel)))
      if (published.nonEmpty) return published
      attempts += 1
      if (attempts >= 8) {
        abortStaged(staged)
        throw new CommitConflictException(
          s"concurrent writer kept publishing branch $name of $ns.$t")
      }
    }
    sys.error("unreachable")
  }

  // ----- write-audit-publish (Iceberg WAP pattern) ------------------------
  // Stage the data of a commit WITHOUT making it visible, audit the
  // would-be table state, and only then publish (or abort). Readers never
  // see unaudited data — no manifest references the staged dir until
  // publish, and publish itself is a pure metadata CAS against the
  // version the writer staged on, so audited-then-published remains
  // atomic under concurrency. At 100 TB this is how bad data is kept out
  // of a table that downstream jobs tail incrementally: the expensive
  // write happens once, the audit reads the staged commit (plus
  // metadata), and a failed audit costs one dir delete — never a
  // published-then-rolled-back window where consumers saw the bad rows.

  /** Handle to a staged-but-unpublished commit. */
  final case class StagedCommit(ns: String, table: String, rel: String,
      mode: SaveMode, baseVersion: Int)

  /** Write `df` as a data dir + stats sidecar but do NOT commit it to any
    * manifest. The staged data is invisible to every reader until
    * [[publishStaged]].
    */
  def stageWrite(ns: String, t: String, df: DataFrame,
      mode: SaveMode = SaveMode.Append,
      partitionBy: Seq[String] = Nil): StagedCommit = {
    createNamespace(ns)
    val rel = s"data/${java.util.UUID.randomUUID().toString}"
    val out = new Path(tPath(ns, t), rel)
    withMicrosTimestamps {
      val writer = parquetWriter(df)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(out.toString)
    }
    writeStats(ns, t, rel)
    StagedCommit(ns, t, rel, mode, versions(ns, t).lastOption.getOrElse(0))
  }

  /** The staged commit's own rows — the audit surface for per-batch checks. */
  def readStagedData(s: StagedCommit): DataFrame =
    readDirs(s.ns, s.table, Seq(s.rel))

  /** What the table WILL look like if `s` publishes — the audit surface
    * for whole-table invariants (row counts, uniqueness, FK integrity).
    */
  def readStagedView(s: StagedCommit): DataFrame = s.mode match {
    case SaveMode.Append if s.baseVersion > 0 =>
      SchemaTools.unifySchemas(Seq(read(s.ns, s.table, Some(s.baseVersion)),
        readStagedData(s)))
    case _ => readStagedData(s)
  }

  /** Publish the staged commit as a new snapshot. CAS'd against the
    * version the stage read — a concurrent commit in between raises
    * [[CommitConflictException]] and the staged dir stays intact for a
    * re-audit + retry on the new base.
    */
  def publishStaged(s: StagedCommit): Int = s.mode match {
    case SaveMode.Append if s.baseVersion > 0 =>
      commit(s.ns, s.table,
        snapshot(s.ns, s.table, Some(s.baseVersion)).entries :+ s.rel,
        Some(s.baseVersion))
    case _ => commit(s.ns, s.table, Seq(s.rel), Some(s.baseVersion))
  }

  /** Drop a staged commit that failed its audit: one dir delete, no
    * snapshot was ever visible. ([[vacuumOrphans]] would eventually
    * reclaim abandoned stages too.)
    */
  def abortStaged(s: StagedCommit): Unit =
    deleteRec(new Path(tPath(s.ns, s.table), s.rel))

  /** Z-ORDER clustered write ([[ZOrder]]): rows are Morton-bucketed on the
    * cluster columns and EACH z-bucket becomes its own manifest entry with
    * its own min/max sidecar — so [[readWhere]] band queries prune commits
    * on ANY clustered column, not just the append key. One approxQuantile
    * pass for boundaries, one shuffle on the bucket id, one partitioned
    * write; stats come from footers per bucket dir. Returns the committed
    * version.
    */
  def writeClustered(
      ns: String,
      t: String,
      df: DataFrame,
      clusterCols: Seq[String],
      commits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite,
      expectedVersion: Option[Int] = None): Int = {
    require(clusterCols.nonEmpty, "need at least one cluster column")
    // 4 bits x 6 cols = 24 morton bits (the x-commits product is computed
    // in Long below). More dimensions than ~4 defeat a space-filling curve
    // anyway (each extra dimension halves the per-dimension resolution of
    // every bucket).
    require(clusterCols.length <= 6, "z-order supports at most 6 cluster columns")
    require(commits >= 1 && commits <= 4096, "z-bucket count out of range")
    createNamespace(ns)
    import org.apache.spark.sql.functions.col
    val cuts = ZOrder.boundaries(df, clusterCols)
    val totalCells = 1L << (ZOrder.BitsPerCol * clusterCols.length)
    // contiguous Morton ranges → compact hyper-rectangles per bucket.
    // LONG arithmetic: morton (up to 2^24) x commits (up to 2^12) can
    // exceed Int — the bucket id itself always fits.
    val zb = (ZOrder.mortonKey(clusterCols.map(col), cuts).cast("long")
      * commits / totalCells).cast("int")
    val rel = s"data/${java.util.UUID.randomUUID().toString}"
    val out = new Path(tPath(ns, t), rel)
    withMicrosTimestamps {
      df.withColumn("_zbucket", zb)
        .repartition(commits, col("_zbucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("_zbucket").parquet(out.toString)
    }
    val fresh = fs.listStatus(out).filter(_.isDirectory)
      .map(st => s"$rel/${st.getPath.getName}").sorted.toSeq
    fresh.foreach(e => writeStats(ns, t, e))
    (mode, current(ns, t)) match {
      case (SaveMode.Append, Some(snap)) =>
        commit(ns, t, snap.entries ++ fresh, expectedVersion.orElse(Some(snap.version)))
      case _ =>
        commit(ns, t, fresh, expectedVersion)
    }
  }

  /** File-scoped copy-on-write commit (the Iceberg `MERGE INTO` rewrite
    * shape): publish `base`'s entry list with `replaced` dirs swapped
    * for ONE fresh dir holding `replacement`. Untouched commits keep their
    * manifest entries VERBATIM — their data dirs are never read or
    * rewritten, so a delta touching 1 of N commits costs one commit's IO,
    * not the table's. CAS'd against `base`: a concurrent commit in
    * between raises [[CommitConflictException]] instead of resurrecting
    * rows the rewrite removed. An empty replacement is dropped from the
    * manifest entirely (unless it would leave the table with no dirs at
    * all, which would lose the schema).
    */
  def commitRewrite(
      ns: String,
      t: String,
      base: Snapshot,
      replaced: Set[String],
      replacement: DataFrame): Int = {
    val unknown = replaced -- base.entries.toSet
    require(unknown.isEmpty, s"not in v${base.version} of $ns.$t: ${unknown.mkString(",")}")
    val rel = s"data/${java.util.UUID.randomUUID().toString}"
    val out = new Path(tPath(ns, t), rel)
    withMicrosTimestamps {
      replacement.write.mode(SaveMode.Overwrite).parquet(out.toString)
    }
    val rows = writeStats(ns, t, rel)
    // deletion vectors referencing a replaced commit would dangle (their
    // marked rows are gone from the data) — prune those refs, dropping or
    // rewriting each affected vector, so vector row counts stay exact
    // (rowCount subtracts them) and materializeDeletes converges
    val keptData = base.data.filterNot(replaced)
    val keptDvs = base.dvs.flatMap { dvRel =>
      import org.apache.spark.sql.functions.{col, substring_index}
      // a vector row belongs to entry e when its file sits under e —
      // flat commits are 2 path segments, z-bucket entries 3; testing
      // both prefixes covers either shape
      val inReplaced =
        substring_index(col("_dv_file"), "/", 2).isin(replaced.toSeq: _*) ||
          substring_index(col("_dv_file"), "/", 3).isin(replaced.toSeq: _*)
      val frame = dvFrame(ns, t, Seq(dvRel)).withColumn("__hit", inReplaced)
      val refsReplaced = frame.filter(col("__hit")).limit(1).count() > 0
      if (!refsReplaced) Some(dvRel)
      else {
        val surviving = frame.filter(!col("__hit")).drop("__hit")
        val fresh = s"dv/${java.util.UUID.randomUUID().toString}"
        val freshOut = new Path(tPath(ns, t), fresh)
        surviving.write.mode(SaveMode.Overwrite).parquet(freshOut.toString)
        if (writeStats(ns, t, fresh) == 0L) { deleteRec(freshOut); None }
        else Some(fresh)
      }
    }
    // txn watermarks are table-level sink state, not data: a maintenance
    // rewrite (compaction, CoW delete) must never reopen a streaming
    // sink's replay window
    val next =
      (if (rows == 0L && keptData.nonEmpty) { deleteRec(out); keptData ++ keptDvs }
       else (keptData :+ rel) ++ keptDvs) ++ base.tableState
    commit(ns, t, next, Some(base.version))
  }

  /** Change-data-capture between two snapshots (reference roadmap item
    * "incremental loading (change data capture)"): full-row diff — a row
    * counts as inserted if present in `toV` but not `fromV`, deleted if the
    * reverse; an update is a delete+insert pair. EXCEPT ALL keeps duplicate
    * multiplicity honest.
    *
    * FILE-SCOPED (r12): commit dirs present in BOTH manifests hold
    * physically identical rows, which cancel in the diff — so the diff is
    * computed over only the dirs each side holds EXCLUSIVELY, plus the
    * rows whose deletion-vector mark CHANGED in shared dirs (a MoR delete
    * adds marks without touching any data dir; a rollback can remove
    * them). At 100 TB a CoW delete's changelog then costs the rewritten
    * commits' IO, a MoR delete's costs the marked dirs' — never the
    * table's. Multiset subtraction decomposes exactly because the shared
    * part is identical on both sides. Falls back to the whole-snapshot
    * diff when the two versions' schemas differ (post-evolution windows
    * genuinely need the full unified read).
    */
  def changelog(ns: String, t: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val beforeSnap = snapshot(ns, t, Some(fromV))
    val afterSnap = snapshot(ns, t, Some(toV))
    val diff = beforeSnap.diff(afterSnap)
    val shared = afterSnap.data.toSet -- diff.added

    def full(): DataFrame = {
      val before = readSnapshot(ns, t, beforeSnap)
      val after = readSnapshot(ns, t, afterSnap)
      after.exceptAll(before).withColumn("_change", lit("insert"))
        .unionByName(before.exceptAll(after).withColumn("_change", lit("delete")))
    }

    // exclusive-dir rows, each side under ITS OWN deletion vectors
    val beforeSide =
      if (diff.removed.isEmpty) None
      else Some(readDirsClean(ns, t, beforeSnap, diff.removed))
    val afterSide =
      if (diff.added.isEmpty) None
      else Some(readDirsClean(ns, t, afterSnap, diff.added))
    // schema-evolution guard: the scoped subsets must agree with each
    // other; the full path owns the unified-read semantics otherwise
    val schemasAgree = (beforeSide, afterSide) match {
      case (Some(b), Some(a)) => b.schema == a.schema
      case _ => true
    }
    if (!schemasAgree) return full()

    // deletion-vector DELTA on shared dirs: (file, pos) marked on exactly
    // one side = a row-level delete (newly marked in `to`) or insert
    // (unmarked by a rollback). Vector rows referencing exclusive dirs are
    // already accounted by the side reads.
    def marksIn(dvs: Seq[String]): Option[DataFrame] =
      if (dvs.isEmpty) None else Some(dvFrame(ns, t, dvs))
    def sharedOnly(df: DataFrame): DataFrame = {
      // a mark belongs to a shared dir when its file sits under one
      import org.apache.spark.sql.functions.substring_index
      if (shared.isEmpty) df.limit(0)
      else df.filter(
        substring_index(col("_dv_file"), "/", 2).isin(shared.toSeq: _*) ||
          substring_index(col("_dv_file"), "/", 3).isin(shared.toSeq: _*))
    }
    val dvDelta: Option[(DataFrame, DataFrame)] =
      if (!diff.dvsChanged) None
      else {
        val b = marksIn(beforeSnap.dvs).map(sharedOnly)
        val a = marksIn(afterSnap.dvs).map(sharedOnly)
        val newlyMarked = (a, b) match {
          case (Some(am), Some(bm)) => am.exceptAll(bm)
          case (Some(am), None) => am
          case _ => am0(ns, t) // no after marks: nothing newly marked
        }
        val unmarked = (b, a) match {
          case (Some(bm), Some(am)) => bm.exceptAll(am)
          case (Some(bm), None) => bm
          case _ => am0(ns, t)
        }
        Some((newlyMarked, unmarked))
      }
    def rowsAtMarks(marks: DataFrame): DataFrame = {
      // rows of the marked files only: collect the affected dirs (bounded
      // by file count, same economics as markedDirs) and key-join
      val dirs = marks.select("_dv_file").distinct()
        .collect().map(_.getString(0))
        .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
      val touched = shared.toSeq.filter(e => entryMarked(dirs, e))
      if (touched.isEmpty) return readSnapshot(ns, t, afterSnap).limit(0)
      readDirsWithKey(ns, t, touched)
        .join(marks,
          col("__graft_file") === col("_dv_file") &&
            col("__graft_pos") === col("_dv_pos"))
        .drop("__graft_file", "__graft_pos", "_dv_file", "_dv_pos")
    }

    val inserts0 = (afterSide, beforeSide) match {
      case (Some(a), Some(b)) => Some(a.exceptAll(b))
      case (Some(a), None) => Some(a)
      case _ => None
    }
    val deletes0 = (beforeSide, afterSide) match {
      case (Some(b), Some(a)) => Some(b.exceptAll(a))
      case (Some(b), None) => Some(b)
      case _ => None
    }
    val dvDeletes = dvDelta.map { case (newly, _) => rowsAtMarks(newly) }
    val dvInserts = dvDelta.map { case (_, unmarked) => rowsAtMarks(unmarked) }

    val inserts = (inserts0.toSeq ++ dvInserts.toSeq)
    val deletes = (deletes0.toSeq ++ dvDeletes.toSeq)
    val tagged =
      inserts.map(_.withColumn("_change", lit("insert"))) ++
        deletes.map(_.withColumn("_change", lit("delete")))
    if (tagged.isEmpty)
      readSnapshot(ns, t, afterSnap).limit(0).withColumn("_change", lit(""))
    // column-set mismatch across scoped branches (odd layouts): the full
    // unified diff owns those semantics
    else if (tagged.map(_.columns.toSet).distinct.length > 1) full()
    else tagged.reduce(_ unionByName _)
  }

  // an empty (file,pos) frame in the dv-mark shape
  private def am0(ns: String, t: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_dv_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_dv_pos",
          org.apache.spark.sql.types.LongType))))

  /** Rows ADDED between two snapshots at METADATA+delta cost when the
    * window is append-only ([[Snapshot.Diff.appendOnly]]: txn marks and
    * column declarations move freely, but a removed dir or a changed
    * deletion vector is a logical delete): reads ONLY the commit dirs
    * added after `fromV`, never the base data. Falls back to
    * [[readIncremental]] (which diffs both snapshots) when the window saw
    * rewrites. This is the path incremental consumers should prefer — on
    * a 100 TB append-heavy table the delta read costs the new commits'
    * IO, not the table's.
    */
  def readAppended(ns: String, t: String, fromV: Int, toV: Int): DataFrame = {
    val after = snapshot(ns, t, Some(toV))
    val diff = snapshot(ns, t, Some(fromV)).diff(after)
    if (!diff.appendOnly) readIncremental(ns, t, fromV, toV)
    else if (diff.added.isEmpty) readSnapshot(ns, t, after).limit(0)
    else readDirs(ns, t, diff.added)
  }

  // ----- small per-table metadata sidecars --------------------------------
  // Named auxiliary state that belongs to a table but not to any commit
  // (e.g. a materialized view's definition + refresh cursor). Stored as
  // underscore-prefixed files Spark's readers ignore, via the same
  // Hadoop-FS backend as the rest of the catalog metadata.

  def putTableMeta(ns: String, t: String, name: String, content: String): Unit = {
    require(tableExists(ns, t), s"no such table: $ns.$t")
    val p = new Path(tPath(ns, t), s"_graft_meta_${enc(name)}")
    Using.resource(fs.create(p, true))(
      _.write(content.getBytes(StandardCharsets.UTF_8)))
  }

  def getTableMeta(ns: String, t: String, name: String): Option[String] = {
    val p = new Path(tPath(ns, t), s"_graft_meta_${enc(name)}")
    if (!fs.exists(p)) None
    else Some(new String(
      Using.resource(fs.open(p))(_.readAllBytes()), StandardCharsets.UTF_8))
  }

  /** Compaction (Iceberg OPTIMIZE analog): rewrite the current snapshot's
    * file set as one fresh commit so readers stop paying per-commit scan +
    * union overhead. Data is unchanged; the manifest shrinks to one entry.
    */
  def compact(ns: String, t: String): Int =
    write(ns, t, read(ns, t), SaveMode.Overwrite)

  /** FILE-SCOPED compaction (bin-packing): only commits below
    * `smallRowThreshold` rows are coalesced into one fresh commit; every
    * commit already big enough keeps its manifest entry verbatim. The
    * decision reads sidecar row counts — no data scan for the untouched
    * majority. This is the maintenance loop for append-heavy tables at
    * scale: thousands of small streaming commits fold together for
    * pennies, while the multi-TB base commits are never rewritten
    * (plain [[compact]] would pay the whole table every time). Returns
    * the new version, or the current one when fewer than two small
    * commits exist (nothing to fold).
    */
  def compactSmall(ns: String, t: String, smallRowThreshold: Long): Int = {
    val snap = snapshot(ns, t)
    val small = snap.data.filter { rel =>
      commitStats(ns, t, rel).map(_._1).exists(_ < smallRowThreshold)
    }
    if (small.length < 2) snap.version
    else commitRewrite(ns, t, snap, small.toSet, readDirsClean(ns, t, snap, small))
  }

  /** Re-cluster the current snapshot ([[writeClustered]] of the full
    * table): the maintenance op for tables whose clustering has degraded —
    * every file-scoped MERGE/DELETE lands its rewrite as one unclustered
    * commit, so after many upserts an increasing fraction of rows lives
    * outside the z-bucket structure and band pruning weakens. Periodic
    * reclustering restores tight per-commit ranges, like Delta re-running
    * OPTIMIZE ZORDER.
    */
  def recluster(ns: String, t: String, clusterCols: Seq[String],
      commits: Int = 16): Int = {
    // CAS against the snapshot being reclustered: a concurrent commit
    // (e.g. the streaming upsert sink) landing mid-recluster must raise,
    // not be silently clobbered by the reclustered copy of older data
    val snap = snapshot(ns, t)
    writeClustered(ns, t, readSnapshot(ns, t, snap), clusterCols, commits,
      SaveMode.Overwrite, expectedVersion = Some(snap.version))
  }

  /** Snapshot ROLLBACK (Iceberg rollback_to_snapshot analog): republish
    * `toVersion`'s entry list as a NEW version — metadata-only, no data
    * IO, and the rolled-back-over versions remain time-travelable until
    * expired. CAS'd against the latest version so a concurrent commit
    * conflicts instead of being silently undone.
    */
  def rollback(ns: String, t: String, toVersion: Int): Int = {
    val vs = versions(ns, t)
    require(vs.contains(toVersion),
      s"no snapshot v$toVersion of $ns.$t (have: ${vs.mkString(",")})")
    commit(ns, t, snapshot(ns, t, Some(toVersion)).entries, Some(vs.last))
  }

  /** Predicate DELETE, FILE-SCOPED copy-on-write (Iceberg `DELETE FROM`
    * shape): a scan-to-plan pass finds the commits that actually contain
    * matching rows (one job — predicate columns only reach the scan, and
    * the distinct set is bounded by the commit count), then ONLY those
    * commits are rewritten without their matches; every other commit keeps
    * its manifest entry verbatim, untouched on disk. Prior snapshots still
    * time-travel to the undeleted data. A no-match delete publishes a
    * metadata-only snapshot (same entries, new version) so version
    * semantics stay uniform. At 100 TB a delete hitting one day's commit
    * costs that commit's IO, not the table's.
    */
  def delete(ns: String, t: String, predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // NULL-predicate rows are KEPT (SQL DELETE semantics): a row only
    // leaves when the predicate is definitively TRUE.
    val hit = coalesce(predicate, lit(false))
    val snap = snapshot(ns, t)
    val touched = touchedBy(ns, t, snap, hit)
    if (touched.isEmpty) commit(ns, t, snap.entries, Some(snap.version))
    else commitRewrite(ns, t, snap, touched,
      readDirsClean(ns, t, snap, snap.data.filter(touched)).filter(!hit))
  }

  /** Predicate UPDATE, FILE-SCOPED copy-on-write (the Delta/Iceberg
    * `UPDATE … SET … WHERE …` DML verb — between DELETE and MERGE in the
    * DML triangle): the same scan-to-plan pass as [[delete]] finds the
    * commits that actually contain matching rows, then ONLY those commits
    * are rewritten with the SET assignments applied to their matching
    * rows; every other commit keeps its manifest entry verbatim. All SET
    * right-hand sides evaluate against the PRE-update row (standard SQL
    * UPDATE semantics — `SET a = b, b = a` swaps), each assignment is cast
    * back to its column's declared type (an UPDATE never mutates the
    * schema), and NULL-predicate rows are left unchanged. Prior snapshots
    * still time-travel to the pre-update data; a no-match update publishes
    * a metadata-only snapshot. At 100 TB an update hitting one day's
    * commit costs that commit's IO, not the table's.
    */
  def update(ns: String, t: String,
      set: Seq[(String, org.apache.spark.sql.Column)],
      predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate SET column in: ${set.map(_._1).mkString(", ")}")
    val hit = coalesce(predicate, lit(false))
    val snap = snapshot(ns, t)
    val touched = touchedBy(ns, t, snap, hit)
    if (touched.isEmpty) commit(ns, t, snap.entries, Some(snap.version))
    else {
      val src = readDirsClean(ns, t, snap, snap.data.filter(touched))
      val assigned = set.toMap
      val missing = assigned.keySet -- src.columns.toSet
      require(missing.isEmpty,
        s"UPDATE $ns.$t: no such column(s): ${missing.mkString(", ")}")
      val updated = src.select(src.schema.fields.toIndexedSeq.map { f =>
        assigned.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      commitRewrite(ns, t, snap, touched, updated)
    }
  }

  /** The scan-to-plan pass of [[delete]] and [[update]]: the data dirs of
    * `snap` holding a row that `hit` selects.
    */
  private def touchedBy(ns: String, t: String, snap: Snapshot,
      hit: org.apache.spark.sql.Column): Set[String] = {
    val (tagged, tag) = readTagged(ns, t, snap, snap.data)
    tagged.filter(hit).select(tag).distinct().collect().map(_.getString(0)).toSet
  }

  /** Incremental read: rows ADDED between two snapshots — the consumer-side
    * half of CDC (a downstream job resumes from its last-seen version and
    * processes only the delta, never re-reading the table).
    */
  def readIncremental(ns: String, t: String, fromV: Int, toV: Int): DataFrame =
    changelog(ns, t, fromV, toV)
      .filter(org.apache.spark.sql.functions.col("_change") === "insert")
      .drop("_change")

  /** Snapshot expiry + vacuum (Iceberg expire_snapshots / Delta VACUUM
    * analog): drop all but the newest `keepLast` manifests, then delete
    * every data dir no surviving manifest or branch tip references. Bounds
    * metadata AND storage growth — the retention half of table maintenance
    * (compact() is the read-amplification half). Returns the number of
    * data dirs removed.
    */
  def expireSnapshots(ns: String, t: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val vs = versions(ns, t)
    require(vs.nonEmpty, s"no such table: $ns.$t")
    // snapshots a ref reaches are retention-protected (the Iceberg refs
    // rule): tagged ones, and each branch's base — the branch reads it
    // until its first commit
    val branches = listBranches(ns, t)
    val pinned = listTags(ns, t).values.toSet ++ branches.values.map(_._1)
    val (old, kept0) = vs.splitAt(math.max(0, vs.length - keepLast))
    val (protectedVs, expired) = old.partition(pinned)
    val kept = protectedVs ++ kept0
    val keptDirs = (kept.map(v => snapshot(ns, t, Some(v))) ++
      branches.keys.map(branchSnapshot(ns, t, _))).flatMap(_.dirs).toSet
    val expiredDirs = expired.flatMap(v => snapshot(ns, t, Some(v)).dirs).toSet -- keptDirs
    expired.foreach(v => backend.delete(manifestFile(ns, t, v)))
    expiredDirs.foreach(rel => deleteRec(new Path(tPath(ns, t), rel)))
    expiredDirs.size
  }

  // ----- snapshot TAGS (Iceberg refs, the immutable kind) -----------------
  // A tag is a named pointer to a version: `readTag` time-travels by name,
  // and `expireSnapshots` never reclaims a tagged snapshot — the audit/
  // reproducibility primitive ("the exact table state run X trained on")
  // that plain keepLast retention cannot express. Stored as one meta
  // sidecar per tag so tags never contend with each other; the movable
  // kind of ref (branch) is deliberately NOT duplicated here — write
  // isolation with an audit gate already exists as WRITE-AUDIT-PUBLISH.

  private def tagMetaName(name: String): String = s"tag-$name"

  def createTag(ns: String, t: String, name: String, version: Option[Int] = None): Int = {
    require(name.nonEmpty && !name.contains("/"), s"bad tag name: $name")
    require(getTableMeta(ns, t, tagMetaName(name)).isEmpty,
      s"tag $name already exists on $ns.$t (tags are immutable — drop it first)")
    val v = version.getOrElse(versions(ns, t).last)
    require(versions(ns, t).contains(v), s"no snapshot v$v on $ns.$t")
    putTableMeta(ns, t, tagMetaName(name), v.toString)
    v
  }

  def readTag(ns: String, t: String, name: String): DataFrame =
    read(ns, t, Some(tagVersion(ns, t, name)))

  def tagVersion(ns: String, t: String, name: String): Int =
    getTableMeta(ns, t, tagMetaName(name))
      .getOrElse(sys.error(s"no tag $name on $ns.$t")).trim.toInt

  def dropTag(ns: String, t: String, name: String): Unit = {
    val p = new Path(tPath(ns, t), s"_graft_meta_${enc(tagMetaName(name))}")
    backend.delete(p)
  }

  /** name -> version of every tag on the table. */
  def listTags(ns: String, t: String): Map[String, Int] = {
    val dir = tPath(ns, t)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_graft_meta_tag-"))
      .map(n => dec(n.stripPrefix("_graft_meta_")).stripPrefix("tag-"))
      .map(name => name -> tagVersion(ns, t, name))
      .toMap
  }

  // ----- branches (B38) ----------------------------------------------------
  // Writable refs, the Iceberg/Nessie shape: a branch is a named lineage of
  // manifests (`b<name>-vN.txt`, disjoint from main's `vN.txt` namespace)
  // rooted at a main snapshot. Branch commits share main's data-dir space
  // and staging machinery but are INVISIBLE to main readers until a
  // fast-forward merge — the multi-commit generalization of
  // write-audit-publish (B28: one staged commit; a branch: a whole audited
  // lineage). The merge is CAS'd on the branch BASE: if main moved since
  // the branch was cut, the merge raises CommitConflictException instead of
  // silently dropping main's commits (rebase = cut a fresh branch and
  // replay). Same commit protocol as main (tmp manifest + renameIfAbsent),
  // so concurrent branch writers also serialize per branch version.

  private def branchMetaName(name: String): String = s"branch-$name"

  private def branchManifest(ns: String, t: String, name: String, v: Int): Path =
    new Path(manifestDir(ns, t), f"b$name%s-v$v%05d.txt")

  /** Cut a branch at a main snapshot (default: latest). */
  def createBranch(ns: String, t: String, name: String,
      version: Option[Int] = None): Int = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name: $name")
    require(getTableMeta(ns, t, branchMetaName(name)).isEmpty,
      s"branch $name already exists on $ns.$t")
    val v = version.getOrElse(versions(ns, t).last)
    require(versions(ns, t).contains(v), s"no snapshot v$v on $ns.$t")
    putTableMeta(ns, t, branchMetaName(name), v.toString)
    v
  }

  /** Main version the branch was cut from (the merge CAS base). */
  def branchBase(ns: String, t: String, name: String): Int =
    getTableMeta(ns, t, branchMetaName(name))
      .getOrElse(sys.error(s"no branch $name on $ns.$t")).trim.toInt

  /** Branch-local commit numbers, oldest first (empty = no commits yet). */
  def branchVersions(ns: String, t: String, name: String): Seq[Int] =
    backend.list(manifestDir(ns, t))
      .filter(_.matches(s"b$name-v\\d+\\.txt"))
      .map(_.stripPrefix(s"b$name-v").stripSuffix(".txt").toInt).sorted

  /** The branch tip: its latest commit, or the base snapshot before the
    * first one.
    */
  private def branchSnapshot(ns: String, t: String, name: String): Snapshot =
    branchVersions(ns, t, name).lastOption match {
      case Some(v) => load(branchManifest(ns, t, name, v), v)
      case None => snapshot(ns, t, Some(branchBase(ns, t, name)))
    }

  /** Publish `entries` as the branch's next commit; None when a concurrent
    * branch writer published that commit first.
    */
  private def commitBranch(ns: String, t: String, name: String,
      entries: Seq[String]): Option[Int] = {
    val v = branchVersions(ns, t, name).lastOption.getOrElse(0) + 1
    if (publish(branchManifest(ns, t, name, v), s"b$name-v$v", Snapshot(v, entries))) Some(v)
    else None
  }

  /** Read the branch tip (branch commits + the base snapshot under them). */
  def readBranch(ns: String, t: String, name: String): DataFrame = {
    val snap = branchSnapshot(ns, t, name)
    readDirsClean(ns, t, snap, snap.data)
  }

  /** Commit to the branch: stages a data dir exactly like a main write,
    * then publishes it onto the BRANCH lineage only (CAS on the branch
    * version via renameIfAbsent — concurrent branch writers serialize).
    * Returns the branch-local commit number.
    */
  def writeBranch(ns: String, t: String, name: String, df: DataFrame,
      mode: SaveMode = SaveMode.Append,
      partitionBy: Seq[String] = Nil): Int = {
    val staged = stageWrite(ns, t, df, mode, partitionBy)
    val entries = mode match {
      case SaveMode.Overwrite => Seq(staged.rel)
      case _ => branchSnapshot(ns, t, name).entries :+ staged.rel
    }
    commitBranch(ns, t, name, entries).getOrElse {
      abortStaged(staged)
      throw new CommitConflictException(
        s"concurrent writer published a commit of branch $name of $ns.$t first")
    }
  }

  /** Fast-forward merge: publish the branch tip as the next MAIN snapshot,
    * CAS'd against the branch base — if main committed anything since the
    * branch was cut, this raises [[CommitConflictException]] and the
    * branch stays intact for a rebase. On success the branch is dropped
    * and the new main version returned.
    */
  def fastForwardBranch(ns: String, t: String, name: String): Int = {
    val base = branchBase(ns, t, name)
    val v = commit(ns, t, branchSnapshot(ns, t, name).entries, Some(base))
    dropBranch(ns, t, name)
    v
  }

  /** Drop the branch pointer + its manifests (staged data dirs become
    * orphans for [[vacuumOrphans]] — same economics as an aborted WAP).
    */
  def dropBranch(ns: String, t: String, name: String): Unit = {
    branchVersions(ns, t, name).foreach(v =>
      backend.delete(branchManifest(ns, t, name, v)))
    backend.delete(new Path(tPath(ns, t), s"_graft_meta_${enc(branchMetaName(name))}"))
  }

  /** name -> (base version, branch commit count) of every branch. */
  def listBranches(ns: String, t: String): Map[String, (Int, Int)] = {
    val dir = tPath(ns, t)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_graft_meta_branch-"))
      .map(n => dec(n.stripPrefix("_graft_meta_")).stripPrefix("branch-"))
      .map(name => name ->
        (branchBase(ns, t, name), branchVersions(ns, t, name).size))
      .toMap
  }

  // ----- per-commit column statistics (data skipping) --------------------
  // The Iceberg-manifest idea at commit granularity: every data dir carries
  // a sidecar of per-column (min, max) plus a row count, and predicated
  // reads prune whole commits whose range cannot match BEFORE any parquet
  // scan is planned. On an append-heavy 100 TB table (commits ~ time
  // buckets), a time-band query then touches only the overlapping commits —
  // the metadata-level complement of parquet's row-group pruning. Stats are
  // computed from the freshly written commit (one extra scan of the NEW
  // data only; a production impl would fold parquet footer stats instead)
  // and stored as an underscore-prefixed file Spark's readers ignore.

  private def statsFile(ns: String, t: String, rel: String): Path =
    new Path(new Path(tPath(ns, t), rel), "_graft_stats.tsv")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Returns the commit's row count (free here, reused by callers that
    * need to know whether the freshly written dir is empty).
    *
    * Stats come from the freshly written files' parquet FOOTERS — no
    * second scan of the data ([[ParquetFooterStats]]); layouts the footer
    * reader can't cover scan-equivalently (partitioned commits, exotic
    * types) fall back to one aggregation scan of the new commit only.
    *
    * The same footers make the COMMIT RECORD of a flat dir, appended to
    * the sidecar after the stats lines:
    * {{{
    *   schema <TAB> <schema id>
    *   suffix <TAB> <urlenc name tail every file shares>   (2+ files)
    *   file <TAB> <urlenc name minus tail> <TAB> <bytes> <TAB> <rows> <TAB> <mtime ms>
    * }}}
    * one `file` line per parquet file. The schema itself is written once
    * per distinct schema, content-addressed, as
    * `<table>/_graft_schemas/<id>.json` (the Spark schema JSON every file's
    * footer declares; the id is a hash of it) — a wide table's schema
    * would otherwise repeat in every commit. Reads plan recorded dirs from
    * this record alone ([[scans]]). No record is written when the footer
    * path does not apply or the files disagree on the schema; such dirs,
    * and dirs committed before records existed, read by listing — the
    * only fallback. [[commitStats]] ignores the record lines.
    */
  private def writeStats(ns: String, t: String, rel: String): Long = {
    val dir = new Path(tPath(ns, t), rel)
    def footerSchema(p: Path, footer: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      scala.util.Try(GraftFileIndex.footerSchema(spark, p, footer)).toOption
    ParquetFooterStats.forDir(fs, spark.sessionState.newHadoopConf(), dir,
        spark.sessionState.conf.sessionLocalTimeZone, footerSchema) match {
      case Some(st) =>
        val stats = s"rows\t${st.rows}" +: st.cols.map { case (name, (kind, mn, mx)) =>
          s"col\t${enc(name)}\t$kind\t${enc(mn)}\t${enc(mx)}"
        }
        val record = st.schema.toSeq.flatMap { schema =>
          val suffix = commonSuffix(st.files.map(_.name))
          (s"schema\t${putSchema(ns, t, schema)}" +:
            (if (suffix.isEmpty) Nil else Seq(s"suffix\t${enc(suffix)}"))) ++
            st.files.map(f => s"file\t${enc(f.name.dropRight(suffix.length))}\t" +
              s"${f.bytes}\t${f.rows}\t${f.mtime}")
        }
        Using.resource(fs.create(statsFile(ns, t, rel), true))(
          _.write((stats ++ record).mkString("\n").getBytes(StandardCharsets.UTF_8)))
        st.rows
      case None => scanStats(ns, t, rel)
    }
  }

  /** Write `schema` under its content id unless that file exists; returns
    * the id. Concurrent writers of the same schema write identical bytes,
    * each through its own temp file, so the published file is never torn.
    */
  private def putSchema(ns: String, t: String, schema: StructType): String = {
    val json = schema.json
    val id = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes(StandardCharsets.UTF_8)).take(8).map(b => f"$b%02x").mkString
    val p = new Path(schemaPath(tableUri(ns, t), id))
    if (!fs.exists(p)) {
      val tmp = new Path(p.getParent, s".$id-${java.util.UUID.randomUUID()}.tmp")
      Using.resource(fs.create(tmp, true))(_.write(json.getBytes(StandardCharsets.UTF_8)))
      if (!fs.rename(tmp, p)) deleteRec(tmp)
    }
    id
  }

  /** Qualified URI of a table dir: the prefix of every memo key, so the
    * memos see one name per table however its root was spelled.
    */
  private def tableUri(ns: String, t: String): String =
    fs.makeQualified(tPath(ns, t)).toString

  /** The longest tail all `names` share, leaving at least one character
    * of each; empty for fewer than two names. One write names its files
    * `part-<n>-<job uuid>-c000.<codec>.parquet`, so a many-file commit
    * stores that tail once instead of in every `file` line.
    */
  private def commonSuffix(names: Seq[String]): String =
    if (names.size < 2) ""
    else {
      val first = names.head
      val limit = names.map(_.length).min - 1
      var n = 0
      while (n < limit && names.forall(x => x.charAt(x.length - 1 - n) == first.charAt(first.length - 1 - n)))
        n += 1
      first.takeRight(n)
    }

  private def schemaPath(table: String, id: String): String =
    s"$table/_graft_schemas/$id.json"

  /** The schema recorded under `id`, None when its file is unreadable.
    * Memoized process-wide: a content-addressed file never changes.
    */
  private def schemaOf(table: String, id: String): Option[StructType] = {
    val key = schemaPath(table, id)
    Option(LakeCatalog.schemas.get(key)).orElse {
      scala.util.Try(Using.resource(fs.open(new Path(key)))(_.readAllBytes())).toOption
        .map { bytes =>
          val schema = org.apache.spark.sql.types.DataType
            .fromJson(new String(bytes, StandardCharsets.UTF_8)).asInstanceOf[StructType]
          LakeCatalog.remember(LakeCatalog.schemas, key, schema)
          schema
        }
    }
  }

  /** The fallback stats path: one aggregation scan of the commit dir. */
  private def scanStats(ns: String, t: String, rel: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin}
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(new Path(tPath(ns, t), rel).toString)
    val statCols = df.schema.fields.filter(f => f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    })
    val aggs = count(lit(1)).as("__n") +:
      statCols.flatMap(f => Seq(
        fmin(col(f.name)).cast(StringType), fmax(col(f.name)).cast(StringType))).toSeq
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    val lines = new scala.collection.mutable.ArrayBuffer[String]
    lines += s"rows\t${row.getLong(0)}"
    statCols.zipWithIndex.foreach { case (f, i) =>
      val (mn, mx) = (row.get(1 + i * 2), row.get(2 + i * 2))
      if (mn != null && mx != null) {
        val numeric = f.dataType.isInstanceOf[NumericType]
        lines += s"col\t${enc(f.name)}\t${if (numeric) "num" else "str"}\t${enc(mn.toString)}\t${enc(mx.toString)}"
      }
    }
    Using.resource(fs.create(statsFile(ns, t, rel), true))(
      _.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)))
    row.getLong(0)
  }

  /** Stats of one committed data dir: (rowCount, col -> (kind, min, max)).
    * None when the commit predates stats collection (then nothing prunes).
    * Only the `rows` and `col` lines count here; the commit-record lines
    * (`schema`, `file` — see [[writeStats]]) and any line kind a later
    * writer adds are skipped, so sidecars with and without a record read
    * the same.
    */
  def commitStats(ns: String, t: String, rel: String):
      Option[(Long, Map[String, (String, String, String)])] =
    sidecar(tableUri(ns, t), rel).map(sc => (sc.rows, sc.cols))

  /** The dir's commit record ([[writeStats]]), None when it has none or
    * its schema file is unreadable — then the dir reads by listing.
    */
  private[lake] def commitRecord(ns: String, t: String, rel: String): Option[CommitRecord] =
    sidecar(tableUri(ns, t), rel).flatMap(_.record)

  /** The parsed sidecar of commit dir `rel` of the table at URI `table`.
    * Memoized process-wide by the dir's URI: commit dirs are immutable
    * once committed (rewrites mint fresh uuid dirs, vacuum only deletes),
    * so every catalog instance — the SQL façade builds one per statement
    * — shares one parse. A missing sidecar is not memoized. The record's
    * file statuses are qualified under the table URI, so object-store
    * tables scan where they live.
    */
  private def sidecar(table: String, rel: String): Option[Sidecar] = {
    val dir = s"$table/$rel"
    Option(LakeCatalog.sidecars.get(dir)).orElse {
      val bytes =
        try Some(Using.resource(fs.open(new Path(dir, "_graft_stats.tsv")))(_.readAllBytes()))
        catch { case _: java.io.FileNotFoundException => None }
      bytes.map { b =>
        var rows = 0L
        val cols = scala.collection.mutable.Map[String, (String, String, String)]()
        var schemaId: Option[String] = None
        var suffix = ""
        val files = Vector.newBuilder[ParquetFooterStats.FileFooter]
        new String(b, StandardCharsets.UTF_8).split("\n").foreach { line =>
          line.split("\t") match {
            case Array("rows", n) => rows = n.toLong
            case Array("col", name, kind, mn, mx) =>
              cols(dec(name)) = (kind, dec(mn), dec(mx))
            case Array("schema", id) => schemaId = Some(id)
            case Array("suffix", tail) => suffix = dec(tail)
            case Array("file", name, bytes, n, mtime) =>
              files += ParquetFooterStats.FileFooter(dec(name), bytes.toLong, n.toLong, mtime.toLong)
            case _ => ()
          }
        }
        val recorded = files.result().map(f => f.copy(name = f.name + suffix))
        val dirPath = new Path(dir)
        val record = for {
          id <- schemaId if recorded.nonEmpty
          schema <- schemaOf(table, id)
        } yield CommitRecord(id, schema, recorded, recorded.map(f =>
          new FileStatus(f.bytes, false, 1, 0L, f.mtime, new Path(dirPath, f.name))))
        val sc = Sidecar(rows, cols.toMap, record)
        LakeCatalog.remember(LakeCatalog.sidecars, dir, sc)
        sc
      }
    }
  }

  /** True when the commit's recorded [min, max] of `column` could
    * intersect [lo, hi] — conservatively true for pre-stats commits and
    * uncovered columns. Numeric columns compare numerically; everything
    * else in unsigned UTF-8 byte order ([[StatsOrder]] — the order the
    * stats were produced under; ISO dates/timestamps order correctly
    * there too).
    */
  def statsMayOverlap(ns: String, t: String, rel: String,
      column: String, lo: Any, hi: Any): Boolean = commitStats(ns, t, rel) match {
    case Some((_, cols)) => cols.get(column) match {
      case Some((kind, mn, mx)) =>
        if (kind == "num") {
          // unparsable numeric bounds (NaN/Infinity floats) disable
          // pruning for this commit, never throw: pruning is an
          // optimization, conservatively-true is always safe
          try {
            val (l, h) = (BigDecimal(lo.toString), BigDecimal(hi.toString))
            BigDecimal(mx) >= l && BigDecimal(mn) <= h
          } catch { case _: NumberFormatException => true }
        } else StatsOrder.geq(mx, lo.toString) && StatsOrder.leq(mn, hi.toString)
      case None => true // column not covered by stats
    }
    case None => true // pre-stats commit
  }

  /** One column's recorded (kind, min, max) for a commit, None when the
    * commit predates stats or the column isn't covered.
    */
  def commitColumnRange(ns: String, t: String, rel: String,
      column: String): Option[(String, String, String)] =
    commitStats(ns, t, rel).flatMap(_._2.get(column))

  /** Band-predicate read with commit-level data skipping: scans ONLY the
    * commits whose recorded [min, max] of `column` intersects [lo, hi]
    * (commits without stats are conservatively included), then applies the
    * exact row filter on what remains.
    */
  def readWhere(
      ns: String,
      t: String,
      column: String,
      lo: Any,
      hi: Any,
      version: Option[Int] = None): DataFrame = {
    val snap = snapshot(ns, t, version)
    val kept = snap.data.filter(rel => statsMayOverlap(ns, t, rel, column, lo, hi))
    val base =
      if (kept.isEmpty)
        // every commit pruned: an empty frame with the table's schema
        readSnapshot(ns, t, snap).limit(0)
      else readDirsClean(ns, t, snap, kept)
    import org.apache.spark.sql.functions.{col => c, lit}
    base.filter(c(column) >= lit(lo) && c(column) <= lit(hi))
  }

  // ----- per-commit Bloom sidecars (point-lookup skipping) ---------------
  // min/max ranges prune BAND predicates, but a point lookup (or IN list)
  // on a high-cardinality key that every commit's range covers prunes
  // nothing. A small per-commit Bloom filter of the key column answers
  // "definitely not in this commit" in O(1) — the Iceberg/parquet
  // bloom-filter idea at commit granularity. Built on demand as a
  // maintenance op (one scan per commit, skipping commits already
  // covered); readers degrade gracefully when absent.

  private def bloomFile(ns: String, t: String, rel: String, column: String): Path =
    new Path(new Path(tPath(ns, t), rel), s"_graft_bloom_${enc(column)}.bin")

  /** Build Bloom sidecars of `column` for every commit of the CURRENT
    * snapshot that doesn't have one yet. Returns the number built.
    * `fpp` trades sidecar size for false-positive scan cost.
    */
  def buildBlooms(ns: String, t: String, column: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Int = {
    val missing = snapshot(ns, t).data.filterNot(rel => fs.exists(bloomFile(ns, t, rel, column)))
    missing.foreach { rel =>
      val df = readDirs(ns, t, Seq(rel))
      val n = commitStats(ns, t, rel).map(_._1).getOrElse(expectedItems)
      val bloom = df.stat.bloomFilter(column, math.max(1L, n), fpp)
      Using.resource(fs.create(bloomFile(ns, t, rel, column), true)) { out =>
        bloom.writeTo(out)
      }
    }
    missing.length
  }

  private def commitBloom(ns: String, t: String, rel: String,
      column: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomFile(ns, t, rel, column)
    if (!fs.exists(p)) None
    else Using.resource(fs.open(p)) { in =>
      Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    }
  }

  /** Point/IN-list read with commit-level skipping: a commit is scanned
    * only when (a) its [min, max] range could contain some value AND
    * (b) its Bloom filter (when built) might contain some value. Bloom
    * "no" is definitive, so pruning stays exact; commits without sidecars,
    * and probe values the bloom can't test reliably, are conservatively
    * scanned. One sidecar read per commit — never per (commit, value).
    */
  def readWhereIn(ns: String, t: String, column: String,
      values: Seq[Any], version: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "need at least one lookup value")
    val snap = snapshot(ns, t, version)

    def inRange(kind: String, mn: String, mx: String, x: Any): Boolean =
      if (kind == "num") {
        try {
          val d = BigDecimal(x.toString)
          BigDecimal(mx) >= d && BigDecimal(mn) <= d
        } catch { case _: NumberFormatException => true }
      } else StatsOrder.geq(mx, x.toString) && StatsOrder.leq(mn, x.toString)

    // a probe must hash EXACTLY as the builder put the column's values
    // (integral → putLong, string → putString); anything else — or a
    // mismatched probe type like a string probe against a numeric column —
    // is normalized when lossless and treated as might-contain otherwise.
    // A wrong-typed probe must never flip a true match to a prune.
    def mightContain(bloom: org.apache.spark.util.sketch.BloomFilter,
        kind: String, x: Any): Boolean = x match {
      case n @ (_: Byte | _: Short | _: Int | _: Long) =>
        if (kind == "num") bloom.mightContainLong(n.asInstanceOf[Number].longValue)
        else bloom.mightContainString(n.toString) // int probe, string column
      case s: String if kind == "num" =>
        try bloom.mightContainLong(new java.math.BigDecimal(s).longValueExact)
        catch { case _: ArithmeticException | _: NumberFormatException => true }
      case s: String => bloom.mightContainString(s)
      case _ => true // double/date/...: not bloom-testable, scan the commit
    }

    val kept = snap.data.filter { rel =>
      commitColumnRange(ns, t, rel, column) match {
        case None => true // pre-stats commit or uncovered column
        case Some((kind, mn, mx)) =>
          val rangeHits = values.filter(x => inRange(kind, mn, mx, x))
          rangeHits.nonEmpty && (commitBloom(ns, t, rel, column) match {
            case Some(bloom) => rangeHits.exists(x => mightContain(bloom, kind, x))
            case None => true
          })
      }
    }
    import org.apache.spark.sql.functions.{col => c, lit}
    val base =
      if (kept.isEmpty) readSnapshot(ns, t, snap).limit(0)
      else readDirsClean(ns, t, snap, kept)
    base.filter(c(column).isin(values.map(lit): _*))
  }

  /** Delete data dirs referenced by NO manifest, main or branch — the
    * staging debris of commits that lost their CAS (expireSnapshots only
    * reclaims dirs that expired manifests referenced; a loser's dir never
    * made any manifest) and of dropped branches. `graceMs` shields writers
    * that have staged data but not yet committed. Returns the number of
    * dirs removed.
    */
  def vacuumOrphans(ns: String, t: String, graceMs: Long = 3600000L): Int = {
    val referenced = backend.list(manifestDir(ns, t)).collect {
      case n @ (LakeCatalog.ManifestName(_) | LakeCatalog.BranchManifestName()) =>
        load(new Path(manifestDir(ns, t), n), 0)
    }.flatMap(_.dirs).toSet
    val now = System.currentTimeMillis()
    // deletion-vector dirs are reclaimed by the same rule as data dirs
    // (a pruned/rewritten vector's old dir loses its last reference)
    val orphans = Seq("data", "dv").flatMap { kind =>
      val root = new Path(tPath(ns, t), kind)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        // a clustered commit references SUBDIRS of its top-level dir (one
        // manifest entry per z-bucket), so a dir is live when any entry
        // equals it OR lives under it
        .filter { st =>
          val rel = s"$kind/${st.getPath.getName}"
          !referenced.exists(r => r == rel || r.startsWith(rel + "/"))
        }
        .filter(st => now - st.getModificationTime > graceMs)
    }
    orphans.foreach(st => fs.delete(st.getPath, true))
    orphans.length
  }

  private def deleteRec(p: Path): Unit = { fs.delete(p, true); () }

  private[lake] def createRoot(): Unit = fs.mkdirs(rootPath)
}

object LakeCatalog {

  /** A flat commit dir's record: the schema its files share (and its
    * id), and every parquet file with its size, row count and mtime —
    * also as the qualified statuses a scan takes.
    */
  private[lake] final case class CommitRecord(schemaId: String, schema: StructType,
      files: Seq[ParquetFooterStats.FileFooter], statuses: Seq[FileStatus])

  private final case class Sidecar(rows: Long,
      cols: Map[String, (String, String, String)], record: Option[CommitRecord])

  // process-wide memos of immutable lake metadata, keyed by qualified URI
  private val sidecars = new java.util.concurrent.ConcurrentHashMap[String, Sidecar]()
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Memo insert with a crude bound: a process that has seen more commit
    * dirs than this starts over rather than growing without limit.
    */
  private def remember[V](memo: java.util.concurrent.ConcurrentHashMap[String, V],
      key: String, value: V): Unit = {
    if (memo.size >= 65536) memo.clear()
    memo.put(key, value)
    ()
  }

  private val ManifestName = """v(\d+)\.txt""".r
  private val BranchManifestName = """b.+-v\d+\.txt""".r

  private val TsKey = "spark.sql.parquet.outputTimestampType"
  // session -> (nesting depth, conf value before the first writer entered)
  private val microsToggles =
    scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()

  private def microsToggleEnter(s: SparkSession): Unit = microsToggles.synchronized {
    microsToggles.get(s) match {
      case Some((d, saved)) => microsToggles(s) = (d + 1, saved)
      case None =>
        val saved = try Some(s.conf.get(TsKey)) catch { case _: Throwable => None }
        s.conf.set(TsKey, "TIMESTAMP_MICROS")
        microsToggles(s) = (1, saved)
    }
  }

  private def microsToggleExit(s: SparkSession): Unit = microsToggles.synchronized {
    microsToggles.get(s) match {
      case Some((1, saved)) =>
        saved match {
          case Some(v) => s.conf.set(TsKey, v)
          case None => s.conf.unset(TsKey)
        }
        microsToggles.remove(s)
        ()
      case Some((d, saved)) => microsToggles(s) = (d - 1, saved)
      case None => () // unbalanced exit: nothing to restore
    }
  }

  def apply(spark: SparkSession, root: String): LakeCatalog =
    apply(spark, root, None)

  /** Catalog with an explicit commit backend — the seam the object-store
    * simulator (test tree) plugs into; production callers use the default
    * Hadoop backend.
    */
  def apply(spark: SparkSession, root: String,
      backend: Option[CommitBackend]): LakeCatalog = {
    val cat = new LakeCatalog(spark, root, backend)
    cat.createRoot()
    cat
  }
}
