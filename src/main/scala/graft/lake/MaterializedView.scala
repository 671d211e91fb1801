package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Incrementally-maintained materialized aggregate view — the
  * Delta/Iceberg "incremental model" shape: a grouped aggregate over a
  * base lake table is itself stored as a lake table, together with the
  * base snapshot version it reflects, and `refresh` advances it by
  * aggregating ONLY the base's append delta and merging the partial
  * aggregate into the stored state by key.
  *
  * The aggregate vocabulary is restricted to self-mergeable ops —
  * COUNT, SUM (exact decimal), MIN, MAX — precisely because those make
  * the delta merge algebraically equal to a full recompute (AVG is
  * derivable downstream as sum/count). When the base history in the
  * refresh window is NOT append-only (an overwrite/delete/compaction
  * rewrote entries), merging a delta would be wrong for every op, so
  * refresh detects that from the manifests alone and falls back to a
  * full recompute.
  *
  * At 100 TB the economics are the point: a daily refresh of a
  * dashboard aggregate costs the IO of the day's commits plus the (keys
  * × columns)-sized view, never a scan of the base table. The refresh
  * cursor rides the catalog's optimistic commits — the view write CAS'es
  * against the version the merge read, so two concurrent refreshes
  * conflict loudly instead of double-counting a delta.
  */
object MaterializedView {
  /** One aggregate column: `op` ∈ sum_money (exact DECIMAL(12,2) sum,
    * for the 2-decimal money columns), sum_long, min, max.
    */
  final case class MvAgg(op: String, column: String, as: String) {
    require(Set("sum_money", "sum_long", "min", "max")(op), s"unsupported op: $op")
  }
}

final class MaterializedView(catalog: LakeCatalog) {
  import MaterializedView.MvAgg

  private final case class Spec(
      baseNs: String, baseT: String, seenVersion: Int,
      keys: Seq[String], aggs: Seq[MvAgg], countAs: String)

  private val MetaName = "mv"

  /** The refresh cursor is keyed by the COMMIT DATA DIR it was merged
    * into (`mvseen-d<uuid>` sidecar, written between staging the dir and
    * the CAS that publishes it) and is only honored when a committed
    * manifest actually references that dir. Because the key is the staged
    * dir's unguessable UUID, no two refreshes ever touch the same sidecar
    * — the manifest CAS alone decides which cursor is live:
    *
    *   - crash between sidecar put and publish → the dir is never
    *     committed, the sidecar is an orphan no reader resolves;
    *   - a LOSING concurrent refresh (the round-6 design's residual race:
    *     its unconditional put could overwrite the winner's same-version
    *     cursor with a newer baseV, silently skipping the winner's
    *     unmerged delta on the next refresh) writes only its own dir's
    *     key, which the winner's committed manifest does not reference —
    *     the loser cannot poison the winner's cursor, no restore needed;
    *   - a committed version always carries the exact baseV its merge
    *     read, because sidecar and data travel under the same uuid.
    *
    * `mvseen-v<N>` version-keyed sidecars from the previous design are
    * still read as a fallback for tables written before this scheme.
    */
  private def legacySeenMetaName(mvVersion: Int): String = s"mvseen-v$mvVersion"

  private def seenMetaForRel(rel: String): String =
    s"mvseen-d${rel.stripPrefix("data/")}"

  /** The cursor of the LATEST committed MV version: the newest committed
    * version whose manifest references a dir carrying a cursor sidecar
    * (legacy version-keyed sidecars honored next), falling back to the
    * create-time cursor in the spec.
    *
    * Hot path: for any table written by this code the LATEST version
    * resolves — its refresh staged a cursor-keyed dir (or a metadata-only
    * advance re-keyed the current dir) — so a refresh costs one manifest
    * read plus one sidecar probe: entries are probed newest-FIRST
    * (publishStaged appends the staged dir last), so the first probe is
    * the hit. The per-version walk below the latest only runs for tables
    * whose recent history was produced outside refresh (pre-scheme
    * tables, or an MV compacted/rewritten by table maintenance, which
    * drops the dir the cursor was keyed by) — there the deeper scan is
    * the correctness fallback, not the steady-state cost.
    */
  private def currentSeen(mvNs: String, mvT: String, spec: Spec): Int =
    currentSeenProbed(mvNs, mvT, spec)._1

  /** As currentSeen, also returning HOW MANY versions were probed before
    * the cursor resolved — the spec pin for the hot path's O(1) cost
    * (1 for any table whose latest version was written by refresh; the
    * deeper walk only runs for pre-scheme or maintenance-rewritten
    * history). Exposed private[graft] for MaterializedViewSpec only.
    */
  private[graft] def currentSeenProbed(mvNs: String, mvT: String): (Int, Int) =
    currentSeenProbed(mvNs, mvT, readSpec(mvNs, mvT))

  private def currentSeenProbed(mvNs: String, mvT: String, spec: Spec): (Int, Int) = {
    var probed = 0
    catalog.versions(mvNs, mvT).reverse.iterator
      .flatMap { v =>
        probed += 1
        catalog.snapshot(mvNs, mvT, Some(v)).data.reverseIterator
          .flatMap(rel => catalog.getTableMeta(mvNs, mvT, seenMetaForRel(rel)))
          .nextOption()
          .orElse(catalog.getTableMeta(mvNs, mvT, legacySeenMetaName(v)))
      }
      .map(s => (s.trim.toInt, probed)).nextOption()
      .getOrElse((spec.seenVersion, probed))
  }

  // the sidecar format mirrors the stats sidecar: tab-separated lines,
  // URL-encoded fields
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def writeSpec(ns: String, t: String, spec: Spec): Unit = {
    val lines =
      Seq(s"base\t${enc(spec.baseNs)}\t${enc(spec.baseT)}",
        s"seen\t${spec.seenVersion}",
        s"count\t${enc(spec.countAs)}") ++
        spec.keys.map(k => s"key\t${enc(k)}") ++
        spec.aggs.map(a => s"agg\t${a.op}\t${enc(a.column)}\t${enc(a.as)}")
    catalog.putTableMeta(ns, t, MetaName, lines.mkString("\n"))
  }

  private def readSpec(ns: String, t: String): Spec = {
    val text = catalog.getTableMeta(ns, t, MetaName)
      .getOrElse(sys.error(s"$ns.$t is not a materialized view (no mv sidecar)"))
    var baseNs = ""; var baseT = ""; var seen = -1; var countAs = "mv_count"
    val keys = Seq.newBuilder[String]
    val aggs = Seq.newBuilder[MvAgg]
    text.split("\n").foreach {
      _.split("\t") match {
        case Array("base", n, t2) => baseNs = dec(n); baseT = dec(t2)
        case Array("seen", v) => seen = v.toInt
        case Array("count", c) => countAs = dec(c)
        case Array("key", k) => keys += dec(k)
        case Array("agg", op, c, as) => aggs += MvAgg(op, dec(c), dec(as))
        case _ => ()
      }
    }
    require(baseNs.nonEmpty && seen >= 0, s"corrupt mv sidecar on $ns.$t")
    Spec(baseNs, baseT, seen, keys.result(), aggs.result(), countAs)
  }

  /** The sum columns' stored type: wide enough that no realistic commit
    * count overflows, fixed so merge arithmetic round-trips parquet
    * without precision drift.
    */
  private val SumMoney = DecimalType(28, 2)

  private def aggExprs(spec: Spec): Seq[Column] =
    count(lit(1)).cast(LongType).as(spec.countAs) +: spec.aggs.map { a =>
      a.op match {
        case "sum_money" => sum(col(a.column).cast(DecimalType(12, 2)))
          .cast(SumMoney).as(a.as)
        case "sum_long" => sum(col(a.column).cast(LongType)).as(a.as)
        case "min" => min(col(a.column)).as(a.as)
        case "max" => max(col(a.column)).as(a.as)
      }
    }

  private def aggregate(base: DataFrame, spec: Spec): DataFrame = {
    val exprs = aggExprs(spec)
    base.groupBy(spec.keys.map(col): _*).agg(exprs.head, exprs.drop(1): _*)
  }

  /** Merge a delta partial aggregate into the stored view state: full
    * outer join on the keys, then per-op combine (brand-new keys appear,
    * untouched keys pass through with nothing re-read from the base).
    */
  private def merge(stored: DataFrame, delta: DataFrame, spec: Spec): DataFrame = {
    val joined = stored.as("s").join(delta.as("d"), spec.keys, "full_outer")
    def s(c: String) = col(s"s.$c"); def d(c: String) = col(s"d.$c")
    val combined =
      (coalesce(s(spec.countAs), lit(0L)) + coalesce(d(spec.countAs), lit(0L)))
        .as(spec.countAs) +:
        spec.aggs.map { a =>
          (a.op match {
            case "sum_money" =>
              (coalesce(s(a.as), lit(0).cast(SumMoney)) +
                coalesce(d(a.as), lit(0).cast(SumMoney))).cast(SumMoney)
            case "sum_long" =>
              coalesce(s(a.as), lit(0L)) + coalesce(d(a.as), lit(0L))
            case "min" => least(s(a.as), d(a.as)) // least/greatest skip nulls
            case "max" => greatest(s(a.as), d(a.as))
          }).as(a.as)
        }
    joined.select(spec.keys.map(col) ++ combined: _*)
  }

  /** Full compute at the base's current snapshot; stores the view and its
    * refresh cursor. Returns the view's version (1).
    */
  def create(
      mvNs: String, mvT: String,
      baseNs: String, baseT: String,
      keys: Seq[String], aggs: Seq[MvAgg],
      countAs: String = "mv_count"): Int = {
    require(keys.nonEmpty, "need at least one group-by key")
    val baseV = catalog.snapshot(baseNs, baseT).version
    val spec = Spec(baseNs, baseT, baseV, keys, aggs, countAs)
    val v = catalog.write(mvNs, mvT, aggregate(
      catalog.read(baseNs, baseT, Some(baseV)), spec))
    writeSpec(mvNs, mvT, spec)
    v
  }

  /** Advance the view to the base's current snapshot. Append-only window →
    * aggregate ONLY the added commits and merge; rewritten window → full
    * recompute (a delta merge would double- or under-count every op).
    * No-op (current version returned) when the base hasn't moved.
    */
  def refresh(mvNs: String, mvT: String): Int = {
    val spec = readSpec(mvNs, mvT)
    val seen = currentSeen(mvNs, mvT, spec)
    val base = catalog.snapshot(spec.baseNs, spec.baseT)
    val baseV = base.version
    if (baseV == seen)
      return catalog.versions(mvNs, mvT).last
    val mv = catalog.snapshot(mvNs, mvT)
    val mvV = mv.version
    // stage the data dir first, key the cursor by ITS uuid, then CAS the
    // manifest — see the race analysis on seenMetaForRel. The CAS is
    // pinned to mvV (the version the merge READ), not the stage-time
    // latest, so a commit sneaking in between the read and the stage
    // still conflicts loudly. A lost CAS leaves an unreferenced stage:
    // abort reclaims the dir, and the orphan sidecar resolves to nothing.
    def cursorThenWrite(df: DataFrame): Int = {
      val staged = catalog.stageWrite(mvNs, mvT, df, SaveMode.Overwrite)
      catalog.putTableMeta(mvNs, mvT, seenMetaForRel(staged.rel), baseV.toString)
      try catalog.publishStaged(staged.copy(baseVersion = mvV))
      catch { case e: CommitConflictException =>
        catalog.abortStaged(staged)
        throw e
      }
    }
    val window = catalog.snapshot(spec.baseNs, spec.baseT, Some(seen)).diff(base)
    if (!window.appendOnly)
      cursorThenWrite(aggregate(catalog.read(spec.baseNs, spec.baseT, Some(baseV)), spec))
    else if (window.added.isEmpty) {
      // base moved but added no data (metadata-only commits): advance
      // the cursor alone — overwrite the CURRENT committed dir's
      // sidecar in place (safe: a metadata-only advance is a verified
      // "this window appended nothing" claim, so concurrent advances
      // may land in either order; a concurrent DATA refresh commits a
      // new version whose fresh dir-keyed cursor shadows this one)
      mv.data.headOption match {
        case Some(rel) =>
          catalog.putTableMeta(mvNs, mvT, seenMetaForRel(rel), baseV.toString)
        case None =>
          catalog.putTableMeta(mvNs, mvT, legacySeenMetaName(mvV), baseV.toString)
      }
      mvV
    } else cursorThenWrite(merge(catalog.read(mvNs, mvT, Some(mvV)),
      aggregate(catalog.readDirs(spec.baseNs, spec.baseT, window.added), spec), spec))
  }
}
