package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** A graft lake table as a STRUCTURED STREAMING SOURCE (SURVEY §2 E22) —
  * the missing direction of the streaming surface: the engine has had
  * stream→lake sinks (E4/E9/E11/E20/E21) since r7; this makes any lake
  * table itself tailable, so one table can feed the next stage of a
  * pipeline continuously (lake→lake incremental replication, the Delta
  * `readStream` shape; reference merge_utils.py stages-then-merges in
  * batch — this is that handoff as a continuous flow).
  *
  * Offsets are SNAPSHOT VERSIONS — the natural exactly-once cursor of a
  * manifest-versioned table: a micro-batch is the half-open version window
  * `(start, end]`, planned purely from MANIFESTS (KB-sized metadata; no
  * data IO until the batch's own scan runs). Batch contents:
  *
  *   - first batch, no `startingVersion`: the full snapshot at `end`
  *     (deletion vectors applied) — the "initial snapshot" semantics of
  *     the Delta source;
  *   - subsequent windows: the data dirs ADDED in the window, scanned
  *     raw. Append commits are the streamable shape; a window that
  *     REMOVES dirs (overwrite / CoW delete / compaction) or changes
  *     deletion vectors is not expressible as an append stream and fails
  *     loudly unless `ignoreChanges=true` (then: added dirs stream,
  *     removed rows are silently absent — the documented Delta
  *     `ignoreChanges` trade, caller opts in);
  *   - `startingVersion=N` skips the initial snapshot and streams from
  *     version N's delta on; `startingVersion=latest` streams only
  *     commits published after the stream FIRST starts — the resolved
  *     version is persisted under the checkpoint's metadata path, so a
  *     crash between offset-log write and commit replays the original
  *     window instead of silently re-resolving against a newer latest
  *     (ADVICE r13).
  *
  * RATE LIMITS — two grains, composable:
  *
  *   - `maxVersionsPerTrigger`: at most N versions advance per window
  *     (backlog catch-up as bounded batches);
  *   - `maxFilesPerTrigger` (r14, VERDICT r13 #2): at most N COMMIT DIRS
  *     per micro-batch. The initial snapshot — one un-checkpointable
  *     mega-batch on a 100 TB single-CTAS table under version granularity
  *     alone — splits into dir slices, each a resumable offset; and
  *     over-sized append windows advance one version at a time, sliced
  *     the same way. Mid-window positions serialize as
  *     `{"v":V,"d":D,"snap":B}` (completed versions keep the plain
  *     integer encoding, so pre-r14 checkpoints parse unchanged).
  *     Change-feed windows are snapshot DIFFS, not dir unions, so the
  *     file cap does not apply there (the version cap does);
  *   - `maxBytesPerTrigger` (r15, VERDICT r14 #4): at most ~N BYTES per
  *     micro-batch, slicing WITHIN a dir by FILE — the refinement dir
  *     granularity can't reach (after OPTIMIZE a snapshot is a few huge
  *     dirs and dir slices regrow to commit size; a single-CTAS table is
  *     ONE dir). Offsets gain a file cursor (`"f":F` in the JSON, only
  *     present mid-dir — dir-granular lineages stay byte-identical), so
  *     restarts resume mid-dir. Hive-partitioned and DV-marked dirs
  *     can't split (their scan needs the dir layout / the snapshot's
  *     anti-join) and admit whole; each batch admits at least one unit
  *     (soft cap, the Delta contract). Composes with the dir and
  *     version caps.
  *
  * The source's POSITION (the rate-limit base) is persisted as marker
  * files under the checkpoint's metadata path at every commit: a
  * restarted source starts from the persisted position, so a capped
  * getOffset can never regress below the checkpoint and re-emit
  * delivered windows (ADVICE r13 — Spark only calls Source.commit after
  * the first post-restart getOffset, so an in-memory high-water mark
  * alone is not enough on the restart-from-committed-checkpoint path).
  *
  * Scale: planning is two manifest reads per trigger (set difference of
  * relative dir names); the batch scan is Spark's parquet source over
  * exactly the new commit dirs, so a 100 TB table with KB-sized appends
  * costs per-trigger IO proportional to the APPENDED data, never the
  * table. Append-window batches keep their declarative parquet relations
  * (the streaming tag is applied to the scan leaves, not an RDD barrier),
  * so downstream filters/pruning still push into the scan; only
  * DV-bearing snapshot batches pay an opaque-plan wrap (their anti-join
  * must not be re-planned as a stream-stream join).
  *
  * Composed with the txn-watermark lake sink (B39) the pair is an
  * end-to-end exactly-once lake→lake pipeline: versions in, idempotent
  * commits out. V1 `Source` API deliberately (its `getBatch` returns a
  * DataFrame, keeping the whole plan declarative — the DSv2 MicroBatch
  * path would force a hand-rolled parquet PartitionReader under the
  * engine's scan).
  */
final class LakeStreamSource(
    spark: SparkSession,
    root: String,
    ns: String,
    table: String,
    params: Map[String, String],
    metadataPath: String = "",
    schemaOpt: Option[StructType] = None)
  extends Source with SupportsTriggerAvailableNow {

  import LakeStreamSource._

  private val catalog = graft.lake.LakeCatalog(spark, root)
  private val ignoreChanges =
    params.get("ignorechanges").exists(_.trim.toBoolean)

  /** CHANGE-FEED mode (the Delta CDF `readChangeFeed` shape, streaming):
    * each window emits the FILE-SCOPED snapshot diff between its versions
    * (`LakeCatalog.changelog`) with a `_change` column — inserts AND
    * deletes — so non-append commits (CoW delete/UPDATE, MoR deletes,
    * overwrites) stream faithfully instead of refusing: an UPDATE arrives
    * as its delete/insert pair, a delete as deletes. The initial snapshot
    * streams as inserts. Per-window IO is the changelog's: exclusive dirs
    * + DV-mark deltas, zero scan for identical snapshots.
    */
  private val changeFeed =
    params.get("changefeed").exists(_.trim.toBoolean)

  private val tableSchema: StructType = catalog.read(ns, table).schema

  // a table whose DATA already carries `_change` cannot stream a change
  // feed: the feed's metadata column would clobber (or be confused with)
  // real values — Delta likewise reserves the CDF column names (ADVICE
  // r13; the provider's sourceSchema refuses the same way)
  require(!(changeFeed && tableSchema.fieldNames.contains("_change")),
    s"$ns.$table already has a `_change` column — changeFeed=true would " +
      "clobber it with change-feed metadata; rename the column or stream " +
      "without changeFeed")

  private lazy val hadoopConf = spark.sessionState.newHadoopConf()
  private def posDir: Path = new Path(metadataPath, "graft-pos")

  /** Exclusive base version of the FIRST window: None = initial snapshot;
    * Some(v) = stream deltas from version v+1 on. `latest` resolves ONCE
    * per checkpoint (persisted under metadataPath) — re-resolving on
    * restart would silently skip the (originalLatest, loggedEnd] window
    * of an uncommitted batch-0 replay.
    */
  private val startingBase: Option[Int] = params.get("startingversion").map {
    case "latest" =>
      val resolve = () => catalog.versions(ns, table).lastOption.getOrElse(0)
      if (metadataPath.isEmpty) resolve()
      else {
        val fs = posDir.getFileSystem(hadoopConf)
        fs.mkdirs(posDir)
        val existing = fs.listStatus(posDir).toSeq
          .map(_.getPath.getName).collect { case StartMarker(v) => v.toInt }
        existing.headOption.getOrElse {
          val v = resolve()
          fs.create(new Path(posDir, s"start-$v"), true).close()
          v
        }
      }
    case n =>
      val v = n.trim.toInt
      require(v >= 1, s"startingVersion must be >= 1 or 'latest', got $n")
      v - 1
  }

  /** Rate limit (the Delta `maxFilesPerTrigger` idiom at this source's
    * natural granularity): at most this many VERSIONS advance per trigger,
    * so a consumer catching up on a long-idle 100 TB table processes the
    * backlog as bounded micro-batches instead of one giant one. Also caps
    * the initial snapshot's version.
    */
  private val maxVersionsPerTrigger: Option[Int] =
    params.get("maxversionspertrigger").map(_.trim.toInt)
  maxVersionsPerTrigger.foreach(n =>
    require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"))

  /** Dir-granular rate limit: at most this many commit dirs per batch —
    * splits the initial snapshot and over-sized append windows (see class
    * doc). Named for the Delta option it mirrors; the graft unit is the
    * commit DIR (one commit's data files).
    */
  private val maxFilesPerTrigger: Option[Int] =
    params.get("maxfilespertrigger").map(_.trim.toInt)
  maxFilesPerTrigger.foreach(n =>
    require(n >= 1, s"maxFilesPerTrigger must be >= 1, got $n"))

  /** BYTE-granular rate limit (r15, VERDICT r14 #4): at most ~this many
    * bytes of data files per micro-batch, slicing WITHIN a commit dir by
    * FILE — the refinement dir granularity can't reach: after OPTIMIZE a
    * snapshot is a few huge dirs, and dir slices regrow to commit size.
    * Offsets gain a file cursor (`{"v":V,"d":D,"f":F,"snap":B}`), so a
    * restart resumes MID-DIR. Units that cannot split — hive-partitioned
    * dirs, DV-marked dirs (their rows need the snapshot's anti-join) —
    * admit whole; every batch admits at least one unit, so an over-cap
    * single file still progresses (the Delta maxBytesPerTrigger
    * contract: a soft cap).
    */
  private val maxBytesPerTrigger: Option[Long] =
    params.get("maxbytespertrigger").map(_.trim.toLong)
  maxBytesPerTrigger.foreach(n =>
    require(n >= 1L, s"maxBytesPerTrigger must be >= 1, got $n"))

  // change-feed windows are snapshot DIFFS, not dir unions — the dir/byte
  // slicers have nothing to slice there. Silently ignoring the caps (the
  // pre-r16 behavior) let a caller believe a feed was rate-limited when it
  // was not (ADVICE r15): refuse loudly and point at the cap that DOES
  // compose with changeFeed.
  require(!(changeFeed &&
      (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)),
    s"$ns.$table: maxFilesPerTrigger/maxBytesPerTrigger slice dir unions " +
      "and do not apply to changeFeed's snapshot-diff windows — use " +
      "maxVersionsPerTrigger to rate-limit a change feed")

  /** Highest position this source knows DELIVERED — max of the persisted
    * checkpoint position (restart base) and what this incarnation has
    * seen via getBatch/commit. The rate-limit base: getOffset never
    * returns below it.
    */
  @volatile private var highPos: Pos = persistedPos().getOrElse(Pos.zero)

  private def persistedPos(): Option[Pos] = {
    if (metadataPath.isEmpty) return None
    val fs = posDir.getFileSystem(hadoopConf)
    if (!fs.exists(posDir)) return None
    val all = fs.listStatus(posDir).toSeq.map(_.getPath.getName)
      .flatMap(markerPos)
    if (all.isEmpty) None else Some(all.max)
  }

  private def markerPos(name: String): Option[Pos] = name match {
    case PosMarkerF(v, d, f, s) => Some(Pos(v.toInt, d.toInt, s == "1", f.toInt))
    case PosMarker(v, d, s) =>
      Some(Pos(v.toInt, if (d == "c") -1 else d.toInt, s == "1"))
    case _ => None
  }

  private def persistPos(p: Pos): Unit = {
    if (metadataPath.isEmpty) return
    val fs = posDir.getFileSystem(hadoopConf)
    fs.mkdirs(posDir)
    // mid-dir file cursors get the 4-segment spelling; everything else
    // keeps the r14 3-segment one (old engines resuming an unsliced
    // lineage parse it unchanged)
    val name =
      if (p.f > 0) s"pos-${p.v}-${p.d}-f${p.f}-${if (p.snap) "1" else "0"}"
      else s"pos-${p.v}-${if (p.d < 0) "c" else p.d.toString}-${if (p.snap) "1" else "0"}"
    fs.create(new Path(posDir, name), true).close()
    // prune older markers best-effort (the read side takes the max, so a
    // failed delete is cosmetic)
    fs.listStatus(posDir).foreach { st =>
      markerPos(st.getPath.getName) match {
        case Some(old) if old < p =>
          try { fs.delete(st.getPath, false); () } catch { case _: java.io.IOException => () }
        case _ => ()
      }
    }
  }

  override val schema: StructType = schemaOpt.getOrElse {
    if (changeFeed)
      tableSchema.add(org.apache.spark.sql.types.StructField(
        "_change", org.apache.spark.sql.types.StringType, nullable = false))
    else tableSchema
  }

  private def parsePos(o: OffsetV1): Pos = Pos.parse(o.json)

  private def render(p: Pos): OffsetV1 =
    if (p.d < 0) LongOffset(p.v.toLong) else SlicedOffset(p)

  /** Sorted data dirs + DV presence of one full snapshot. */
  private def snapshotDirs(v: Int): (Seq[String], Boolean) = {
    val s = catalog.snapshot(ns, table, Some(v))
    (s.data.sorted, s.dvs.nonEmpty)
  }

  /** What window (sv, ev] changed; sv = 0 diffs from the empty table. */
  private def windowDiff(sv: Int, ev: Int): graft.lake.Snapshot.Diff = {
    val older = if (sv == 0) graft.lake.Snapshot.empty else catalog.snapshot(ns, table, Some(sv))
    older.diff(catalog.snapshot(ns, table, Some(ev)))
  }

  /** The data dirs window (sv, ev] added. A window that removed dirs or
    * changed deletion vectors cannot stream as appends: refused unless
    * `ignoreChanges`.
    */
  private def appendedDirs(sv: Int, ev: Int): Seq[String] = {
    val d = windowDiff(sv, ev)
    if (!d.appendOnly && !ignoreChanges)
      throw new IllegalStateException(
        s"$ns.$table window (v$sv, v$ev] is not append-only " +
          s"(${d.removed.size} dirs removed, dvChanged=${d.dvsChanged}): an " +
          "overwrite/delete/compaction cannot stream as appends. Set " +
          "ignoreChanges=true to stream added dirs anyway (removed rows " +
          "will be silently absent), or stream from a snapshot boundary.")
    d.added
  }

  /** Sorted dirs ADDED by version v over its predecessor. Guards the
    * predecessor's existence up front (ADVICE r14): getOffset's rate-limit
    * planning reads v-1's manifest too, and an expired predecessor must
    * surface as the restart-from-a-fresh-checkpoint message — the same
    * contract getBatch/slicedBatch enforce — not a raw manifest-read error.
    */
  private def deltaDirs(v: Int): Seq[String] = {
    val vs = catalog.versions(ns, table)
    require(vs.contains(v) && (v == 1 || vs.contains(v - 1)),
      s"snapshot window for v$v of $ns.$table has been expired; restart " +
        "from a fresh checkpoint (and align snapshot retention with the " +
        "longest consumer downtime)")
    windowDiff(v - 1, v).added.sorted
  }

  /** One admission unit of a sliceable window: a commit dir with its file
    * list when it can split by file (flat + DV-unmarked), or an opaque
    * whole-dir unit otherwise. Commit dirs are immutable, so units cache
    * per (version, snap) for the window's lifetime.
    */
  private case class WUnit(rel: String, files: IndexedSeq[(String, Long)],
      splittable: Boolean, bytes: Long)

  private val unitsCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Boolean), IndexedSeq[WUnit]]

  private def windowUnits(v: Int, snap: Boolean): IndexedSeq[WUnit] =
    unitsCache.getOrElseUpdate((v, snap), {
      val dirs = if (snap) snapshotDirs(v)._1 else deltaDirs(v)
      val marked: Set[String] =
        if (snap) catalog.dvMarkedDataRels(ns, table, v) else Set.empty
      dirs.toIndexedSeq.map { rel =>
        val flatFiles =
          if (marked(rel)) None else catalog.commitFilesIfFlat(ns, table, rel)
        flatFiles match {
          case Some(files) =>
            WUnit(rel, files.toIndexedSeq, splittable = true, files.map(_._2).sum)
          case None =>
            WUnit(rel, IndexedSeq.empty, splittable = false,
              catalog.commitBytes(ns, table, rel))
        }
      }
    })

  /** The next END position within window (v, snap), given a consumed
    * prefix of `fromD` full dirs + `fromF` files of dir `fromD`. With
    * `maxBytesPerTrigger` the walk admits (dir, file) units until the
    * byte budget (and the dir-count cap, when both are set) would be
    * exceeded — always at least one unit; without it, the r14 dir-step
    * applies.
    */
  private def nextPosIn(v: Int, snap: Boolean, fromD: Int, fromF: Int): Pos =
    maxBytesPerTrigger match {
      case Some(budget0) =>
        val units = windowUnits(v, snap)
        val dirCap = maxFilesPerTrigger.getOrElse(Int.MaxValue)
        var d = fromD; var f = fromF
        var budget = budget0; var any = false; var dirsDone = 0
        while (d < units.size && dirsDone < dirCap) {
          val u = units(d)
          if (u.splittable) {
            val files = u.files
            while (f < files.size) {
              val sz = files(f)._2
              if (any && budget < sz) return Pos(v, d, snap, f)
              budget -= sz; f += 1; any = true
            }
          } else {
            if (any && budget < u.bytes) return Pos(v, d, snap)
            budget -= u.bytes; any = true
          }
          d += 1; f = 0; dirsDone += 1
        }
        if (d >= units.size) Pos(v, -1, snap = false) else Pos(v, d, snap)
      case None =>
        val dirs = if (snap) snapshotDirs(v)._1 else deltaDirs(v)
        val step = maxFilesPerTrigger.getOrElse(Int.MaxValue)
        val nd = math.min(fromD.toLong + step, dirs.size.toLong).toInt
        if (nd >= dirs.size) Pos(v, -1, snap = false) else Pos(v, nd, snap)
    }

  private def sliced: Boolean =
    !changeFeed && (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)

  override def getOffset: Option[OffsetV1] = {
    val vs = catalog.versions(ns, table)
    val latest = vs.lastOption.getOrElse(0)
    if (latest == 0) return None
    val cur =
      if (highPos == Pos.zero && startingBase.isDefined)
        Pos(startingBase.get, -1, snap = false)
      else highPos
    if (cur.d >= 0) {
      // mid-window: advance the (dir, file) cursor within the SAME window
      return Some(render(nextPosIn(cur.v, cur.snap, cur.d, cur.f)))
    }
    if (cur == Pos.zero) {
      // initial snapshot: version capped by maxVersionsPerTrigger, dirs
      // split by the dir/byte caps (not in changeFeed mode: a diff
      // window is not a dir union)
      val v0 = maxVersionsPerTrigger.fold(latest)(n => math.min(latest, n))
      return Some(render(
        if (sliced) nextPosIn(v0, snap = true, 0, 0)
        else Pos(v0, -1, snap = false)))
    }
    if (cur.v >= latest) return Some(render(cur)) // nothing new
    // append/CDF windows from a complete position
    if (sliced) {
      // capped: one version at a time, sliced when over the caps
      Some(render(nextPosIn(cur.v + 1, snap = false, 0, 0)))
    } else {
      val nextV = maxVersionsPerTrigger
        .fold(latest)(n => math.max(math.min(latest, cur.v + n), cur.v))
      Some(render(Pos(nextV, -1, snap = false)))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endP = parsePos(end)
    highPos = Seq(highPos, endP).max
    val startP = start.map(parsePos)
    // dir-sliced windows (maxFilesPerTrigger)
    if (endP.d >= 0 || startP.exists(_.d >= 0)) return slicedBatch(startP, endP)
    val endV = endP.v
    startP.map(_.v).orElse(startingBase) match {
      case None if changeFeed =>
        // CDF initial snapshot: the full table at endV, all rows as inserts
        wrapOpaque(align(catalog.read(ns, table, Some(endV))
          .withColumn("_change", lit("insert"))))
      case None =>
        // initial snapshot: the full table at endV, DVs applied
        val df = align(catalog.read(ns, table, Some(endV)))
        if (catalog.snapshot(ns, table, Some(endV)).dvs.isEmpty) tagStreaming(df)
        else wrapOpaque(df)
      case Some(sv) if sv >= endV => emptyBatch
      case Some(sv) =>
        val vs = catalog.versions(ns, table)
        require(vs.contains(endV),
          s"snapshot v$endV of $ns.$table no longer exists (have ${vs.mkString(",")})")
        require(sv == 0 || vs.contains(sv),
          s"stream checkpoint points at snapshot v$sv of $ns.$table which has " +
            "been expired; restart from a fresh checkpoint (and align snapshot " +
            "retention with the longest consumer downtime)")
        if (changeFeed) {
          // windows of any shape stream as the file-scoped snapshot diff
          // (the changelog plan carries exceptAll/anti-joins — opaque wrap,
          // like the DV initial snapshot; cost = changed commits' IO)
          return wrapOpaque(align(
            if (sv == 0) catalog.read(ns, table, Some(endV))
              .withColumn("_change", lit("insert"))
            else catalog.changelog(ns, table, sv, endV)))
        }
        val added = appendedDirs(sv, endV)
        if (added.isEmpty) emptyBatch
        else tagStreaming(align(catalog.readCommitDirs(ns, table, added)))
    }
  }

  /** A batch whose start and/or end is a mid-window dir cursor: the slice
    * (startD, endD] of the window's sorted dir list. Snapshot slices read
    * DV-clean ([[graft.lake.LakeCatalog.readSnapshotDirs]]); delta slices
    * first validate the whole version window is append-only (the same
    * refusal contract as unsliced windows).
    */
  private def slicedBatch(startP: Option[Pos], endP: Pos): DataFrame = {
    // a sliced offset can only have been written by a non-changeFeed
    // incarnation (diff windows are never dir-sliced); flipping the mode
    // on an existing checkpoint must refuse, not stream diffless slices
    require(!changeFeed,
      s"$ns.$table checkpoint holds dir-sliced offsets but changeFeed=true " +
        "was set — restart from a fresh checkpoint to switch modes")
    // the window this slice belongs to is named by the END offset when
    // mid-window, else by the start offset's window (final slice)
    val (v, snap) =
      if (endP.d >= 0) (endP.v, endP.snap)
      else (endP.v, startP.exists(p => p.v == endP.v && p.snap))
    startP.foreach(p => require(p.d < 0 || p.v == v,
      s"sliced offset window mismatch: start $p vs end $endP"))
    val (fromD, fromF) = startP match {
      case Some(p) if p.v == v && p.d >= 0 => (p.d, p.f)
      case _ => (0, 0)
    }
    val (dirs, hasDvs) =
      if (snap) snapshotDirs(v)
      else {
        val vs = catalog.versions(ns, table)
        require(vs.contains(v) && (v == 1 || vs.contains(v - 1)),
          s"snapshot window for v$v of $ns.$table has been expired; restart " +
            "from a fresh checkpoint")
        (appendedDirs(v - 1, v).sorted, false)
      }
    val toD = if (endP.d >= 0) endP.d else dirs.size
    val toF = if (endP.d >= 0) endP.f else 0
    if (fromF == 0 && toF == 0) {
      // dir-granular slice (the r14 path, byte-identical)
      val slice = dirs.slice(fromD, toD)
      if (slice.isEmpty) return emptyBatch
      if (snap) {
        val df = align(catalog.readSnapshotDirs(ns, table, v, slice))
        if (hasDvs) wrapOpaque(df) else tagStreaming(df)
      } else tagStreaming(align(catalog.readCommitDirs(ns, table, slice)))
    } else {
      // FILE-granular slice (maxBytesPerTrigger): full dirs strictly
      // between the cursors, plus partial head/tail dirs by explicit file
      // list. Cursors only ever point inside SPLITTABLE dirs (flat,
      // DV-unmarked), so partial reads are plain scans; full dirs read
      // DV-clean on snapshot windows like the dir path.
      def filesOf(i: Int): Seq[String] =
        catalog.commitFilesIfFlat(ns, table, dirs(i)).getOrElse(sys.error(
          s"offset file cursor points inside non-flat commit dir " +
            s"${dirs(i)} of $ns.$table — the checkpoint does not match " +
            "the table layout")).map(_._1)
      val partials = Seq.newBuilder[(String, Seq[String])]
      var fullFrom = fromD
      if (fromF > 0) {
        val names = filesOf(fromD)
        val upto = if (toD == fromD && toF > 0) toF else names.size
        if (upto > fromF) partials += ((dirs(fromD), names.slice(fromF, upto)))
        fullFrom = fromD + 1
      }
      val fullTo = toD // dirs [fullFrom, fullTo) are whole
      if (toF > 0 && !(fromF > 0 && toD == fromD)) {
        val names = filesOf(toD)
        if (toF > 0) partials += ((dirs(toD), names.take(toF)))
      }
      val fullDirs = dirs.slice(fullFrom, fullTo)
      val parts = partials.result()
      if (fullDirs.isEmpty && parts.isEmpty) return emptyBatch
      val marked: Set[String] =
        if (snap && hasDvs) catalog.dvMarkedDataRels(ns, table, v) else Set.empty
      val df = align(catalog.readWindowSlice(ns, table, fullDirs, parts,
        if (snap) Some(v) else None))
      if (fullDirs.exists(marked)) wrapOpaque(df) else tagStreaming(df)
    }
  }

  /** Project onto the source's declared schema: later commits may carry
    * evolved schemas (extra columns dropped, missing columns null-filled,
    * widened types cast back) — the stream's contract is the schema it
    * declared at start. A user-supplied narrower/reordered schema
    * (ADVICE r13) is honored the same way: every batch projects to it.
    */
  private def align(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Mark the plan's scan leaves streaming (MicroBatchExecution asserts
    * `isStreaming` on every v1 batch). The relations stay DECLARATIVE —
    * parquet pushdown/pruning still applies — which is why this is
    * preferred over the RDD wrap wherever the plan is join-free.
    */
  private def tagStreaming(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val tagged = analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    GraftBridge.ofRows(spark, tagged)
  }

  /** RDD-wrap a plan whose INTERIOR must not be re-planned under streaming
    * rules (the DV anti-join of an initial snapshot: tagging both scan
    * leaves would make the incremental planner treat it as a stream-stream
    * join). One-time cost at stream start only.
    */
  private def wrapOpaque(df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, schema, isStreaming = true)

  private def emptyBatch: DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)

  // ----- Trigger.AvailableNow (SupportsTriggerAvailableNow) ---------------
  // The 100 TB catch-up shape: a scheduled JOB drains everything available
  // at start time in rate-limited micro-batches, then exits. `prepare`
  // pins the drain target (commits landing DURING the drain are excluded,
  // the contract of the trigger); latestOffset serves the same
  // rate-limited positions getOffset computes, capped at the target.
  // Implementing SupportsAdmissionControl means the engine uses
  // latestOffset in EVERY trigger mode — it delegates to getOffset, so
  // continuous-trigger behavior is unchanged.

  @volatile private var availableNowCap: Option[Pos] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val latest = catalog.versions(ns, table).lastOption.getOrElse(0)
    availableNowCap = Some(Pos(latest, -1, snap = false))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val next = getOffset
    (next.map(parsePos), availableNowCap) match {
      case (Some(n), Some(cap)) => render(if (n > cap) cap else n)
      case (Some(n), None) => render(n)
      case (None, _) => null
    }
  }

  override def reportLatestOffset(): OffsetV2 = {
    val latest = catalog.versions(ns, table).lastOption.getOrElse(0)
    if (latest == 0) null else render(Pos(latest, -1, snap = false))
  }

  override def commit(end: OffsetV1): Unit = {
    val p = parsePos(end)
    highPos = Seq(highPos, p).max
    persistPos(highPos)
    // evict admission-unit file lists for windows at or below the committed
    // position — a long-running sliced stream must not accumulate one
    // full-file-list entry per processed version on the driver forever
    // (ADVICE r15). Entries still mid-window (v == highPos.v with a live
    // dir cursor) stay until their version completes.
    val h = highPos
    unitsCache.keys
      .filter { case (v, _) => v < h.v || (v == h.v && h.d < 0) }
      .foreach(unitsCache.remove)
  }
  override def stop(): Unit = ()
  override def toString: String = s"LakeStreamSource($ns.$table @ $root)"
}

object LakeStreamSource {

  /** A stream position. `v` names the window (a snapshot version); `d` is
    * the dir cursor within that window (-1 = the whole version is
    * consumed — the plain-integer offset encoding); `snap` marks the
    * window as the initial snapshot at `v` (dir list = the full snapshot)
    * rather than the single-version delta (dir list = dirs v adds over
    * v-1); `f` (r15, byte-capped slicing) is the FILE cursor within dir
    * index `d` — `f` files of that dir are consumed on top of `d` full
    * dirs (0 for dir-granular positions; never equal to the dir's file
    * count — a finished dir advances `d`). Total order: by version,
    * completed > any cursor, cursors by (dir, file) position.
    */
  final case class Pos(v: Int, d: Int, snap: Boolean, f: Int = 0)
      extends Ordered[Pos] {
    override def compare(that: Pos): Int = {
      if (v != that.v) v.compare(that.v)
      else if ((d < 0) != (that.d < 0)) { if (d < 0) 1 else -1 }
      else if (d != that.d) d.compare(that.d)
      else if (f != that.f) f.compare(that.f)
      // snap tie-break keeps the Ordered instance CONSISTENT WITH EQUALS
      // (ADVICE r14): snapshot and delta cursors never share a version
      // today, but max()/sorting over persisted markers must not pick an
      // arbitrary winner if that invariant ever breaks. A snapshot cursor
      // (the initial, bigger window) sorts above the same-v delta cursor.
      else java.lang.Boolean.compare(snap, that.snap)
    }
  }

  object Pos {
    val zero: Pos = Pos(0, -1, snap = false)

    private val Sliced =
      """\s*\{\s*"v"\s*:\s*(\d+)\s*,\s*"d"\s*:\s*(\d+)\s*,(?:\s*"f"\s*:\s*(\d+)\s*,)?\s*"snap"\s*:\s*(true|false)\s*\}\s*""".r

    def parse(json: String): Pos = json.trim match {
      case Sliced(v, d, f, s) =>
        Pos(v.toInt, d.toInt, s == "true", Option(f).map(_.toInt).getOrElse(0))
      case plain => Pos(plain.toInt, -1, snap = false)
    }
  }

  /** Mid-window offset JSON (completed versions serialize as the plain
    * integer [[LongOffset]]; dir-granular positions keep the r14 3-field
    * encoding — the `f` field appears only for mid-dir file cursors — so
    * pre-r15 checkpoints parse unchanged and unsliced lineages are
    * byte-identical).
    */
  final case class SlicedOffset(p: Pos) extends OffsetV1 {
    override val json: String =
      if (p.f > 0) s"""{"v":${p.v},"d":${p.d},"f":${p.f},"snap":${p.snap}}"""
      else s"""{"v":${p.v},"d":${p.d},"snap":${p.snap}}"""
  }

  private val PosMarker = """pos-(\d+)-(c|\d+)-([01])""".r
  private val PosMarkerF = """pos-(\d+)-(\d+)-f(\d+)-([01])""".r
  private val StartMarker = """start-(\d+)""".r
}

/** A graft lake table as a NATIVE STREAMING SINK (VERDICT r14 #1) —
  * `stream.writeStream.format("graft-lake").option(...)` lands every
  * micro-batch through the SAME exactly-once machinery the foreachBatch
  * helpers use ([[graft.streaming.SinkOps]]): the B39 txn watermark
  * (appId × batchId in the atomically-published manifest) makes a
  * replayed batch a no-op. With the source above this completes the
  * symmetric SQL-first story: `FROM STREAM graft.ns.t` reads and
  * `INSERT INTO graft.ns.dst SELECT … FROM STREAM graft.ns.src` writes,
  * each one statement.
  *
  * Modes (`mode` option): `append` (default — one idempotent append
  * commit per batch), `upsert` (file-scoped MERGE per batch on `key`),
  * `cdc` (upserts + `_op` tombstones through applyCdc, optional
  * `orderCol`). A durable `checkpointLocation` is REQUIRED — the replay
  * guard's identity is the checkpoint lineage.
  */
final class LakeStreamSink(
    spark: SparkSession,
    root: String,
    ns: String,
    table: String,
    params: Map[String, String],
    checkpoint: String) extends org.apache.spark.sql.execution.streaming.Sink {

  import graft.streaming.SinkOps

  private val catalog = graft.lake.LakeCatalog(spark, root)
  private val mode = params.getOrElse("mode", "append").toLowerCase
  require(Set("append", "upsert", "cdc").contains(mode),
    s"graft-lake sink mode must be append|upsert|cdc, got '$mode'")
  // comma-separated for composite keys: cdc mode runs the tuple-keyed
  // apply, upsert the tuple-keyed MERGE (mergeTableKeys — ADVICE r15
  // closed the keys.head-only hole)
  private val keys: Seq[String] =
    params.get("key").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  require(mode == "append" || keys.nonEmpty,
    s"graft-lake sink mode=$mode requires option 'key' (the merge key column)")
  private val orderCol = params.get("ordercol")
  private val appId = SinkOps.appIdFor(ns, table, checkpoint)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands a frame riding the micro-batch's incrementalized
    // plan; SinkOps pins it as a fresh batch frame on the catalog's
    // session (the ForeachBatchSink pattern + AQE re-enable) before the
    // landing logic re-plans it
    val batch = data
    mode match {
      case "append" => SinkOps.landAppend(catalog, ns, table, appId, batchId, batch)
      case "upsert" => SinkOps.landUpsertKeys(catalog, ns, table, keys, appId, batchId, batch)
      case "cdc" => SinkOps.landCdc(catalog, ns, table, keys, appId, batchId, batch, orderCol)
    }
  }

  override def toString: String = s"LakeStreamSink($ns.$table @ $root, mode=$mode)"
}

/** `spark.readStream.format("graft-lake")` source provider AND
  * `writeStream.format("graft-lake")` sink provider (one registration —
  * the same short name reads and writes, like the Delta source).
  *
  * Source options (lowercased by Spark): `root` (lake warehouse root),
  * `table` ("ns.table"), `startingVersion` (int or "latest"),
  * `ignoreChanges` (bool), `maxVersionsPerTrigger` (int — backlog rate
  * limit), `maxFilesPerTrigger` (int — dir-granular rate limit: splits
  * the initial snapshot and over-sized append windows across
  * micro-batches), `maxBytesPerTrigger` (long — byte-granular rate
  * limit slicing WITHIN dirs by file; soft cap, at least one unit per
  * batch), `changeFeed` (bool — emit the snapshot diff per window with
  * a `_change` column, inserts AND deletes, so non-append commits
  * stream faithfully).
  *
  * Sink options: `root`, `table`, `mode` (append|upsert|cdc), `key`
  * (merge key for upsert/cdc), `orderCol` (cdc LSN column); a durable
  * `checkpointLocation` is required.
  */
final class LakeStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def resolve(params: Map[String, String]): (String, String, String) = {
    val root = params.getOrElse("root",
      throw new IllegalArgumentException("graft-lake source requires option 'root'"))
    val tbl = params.getOrElse("table",
      throw new IllegalArgumentException("graft-lake source requires option 'table' (\"ns.table\")"))
    tbl.split("\\.", 2) match {
      case Array(ns, t) if ns.nonEmpty && t.nonEmpty => (root, ns, t)
      case _ => throw new IllegalArgumentException(
        s"option 'table' must be \"ns.table\", got: $tbl")
    }
  }

  override def createSink(
      ctx: SQLContext,
      params: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val (root, ns, t) = resolve(params)
    // Complete mode re-emits the FULL result every trigger: landing that
    // as appends would duplicate, and as merges would never delete
    // dropped groups — no lake-commit semantics match it; refuse loudly.
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-lake sink supports Append/Update output (per-batch delta " +
        "commits); land a Complete-mode aggregate through foreachBatch + " +
        "INSERT OVERWRITE instead")
    // Update mode re-emits a GROUP each time it changes: appending those
    // rows stacks every revision of the group in the table — only the
    // keyed modes (upsert/cdc) converge under re-emission; refuse the
    // silent-duplication pairing loudly.
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update() ||
        params.getOrElse("mode", "append").toLowerCase != "append",
      "graft-lake sink in Update output mode needs mode=upsert or mode=cdc " +
        "(re-emitted groups must MERGE on their key; plain appends would " +
        "stack every revision)")
    val cp = params.getOrElse("checkpointlocation",
      throw new IllegalArgumentException(
        "graft-lake sink requires a durable checkpointLocation — the " +
          "exactly-once replay guard is keyed on the checkpoint lineage"))
    new LakeStreamSink(ctx.sparkSession, root, ns, t, params, cp)
  }

  override def sourceSchema(
      ctx: SQLContext,
      schemaOpt: Option[StructType],
      providerName: String,
      params: Map[String, String]): (String, StructType) = {
    val (root, ns, t) = resolve(params)
    val changeFeed = params.get("changefeed").exists(_.trim.toBoolean)
    val tableSchema =
      graft.lake.LakeCatalog(ctx.sparkSession, root).read(ns, t).schema
    require(!(changeFeed && tableSchema.fieldNames.contains("_change")),
      s"$ns.$t already has a `_change` column — changeFeed=true would " +
        "clobber it with change-feed metadata; rename the column or stream " +
        "without changeFeed")
    val base = schemaOpt.getOrElse(tableSchema)
    // must agree with LakeStreamSource.schema: change-feed batches carry
    // the extra `_change` column (unless the supplied schema already
    // names it — a user schema DESCRIBES the feed, so it may)
    val schema =
      if (changeFeed && !base.fieldNames.contains("_change"))
        base.add(org.apache.spark.sql.types.StructField(
          "_change", org.apache.spark.sql.types.StringType, nullable = false))
      else base
    (s"graft-lake:$ns.$t", schema)
  }

  override def createSource(
      ctx: SQLContext,
      metadataPath: String,
      schemaOpt: Option[StructType],
      providerName: String,
      params: Map[String, String]): Source = {
    val (root, ns, t) = resolve(params)
    // hand the source the RESOLVED stream schema (sourceSchema's answer),
    // so a user-supplied narrower/reordered schema becomes the align()
    // projection target instead of a runtime frame/schema mismatch
    val resolved = sourceSchema(ctx, schemaOpt, providerName, params)._2
    new LakeStreamSource(ctx.sparkSession, root, ns, t, params, metadataPath,
      Some(resolved))
  }
}
