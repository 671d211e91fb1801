package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Merge strategies for landing staged data into existing lake tables —
  * the reference's TableMerger (/root/reference/utils/merge_utils.py:8-75)
  * re-expressed Spark-first:
  *
  *   1. key found + target exists   → MERGE (upsert): update all columns of
  *      matched rows, insert unmatched — `WHEN MATCHED UPDATE SET * / WHEN
  *      NOT MATCHED INSERT *` semantics.
  *   2. target exists, no key       → INSERT OVERWRITE.
  *   3. target missing              → CREATE TABLE AS SELECT.
  *
  * The upsert is FILE-SCOPED copy-on-write, the Iceberg `MERGE INTO`
  * rewrite shape (reference: utils/merge_utils.py:70-82 rewrites only
  * matched data files):
  *
  *   1. PRUNE — commits whose recorded key [min, max] (the per-commit
  *      stats sidecars) cannot contain any delta key are dropped from the
  *      plan without touching their data.
  *   2. PLAN — one semi-join of the surviving candidates' key column
  *      against the (broadcastable) delta keys finds the commits that hold
  *      actual matches; candidates that merely overlap in range keep their
  *      manifest entries verbatim.
  *   3. REWRITE — only the touched commits are read, anti-joined against
  *      the delta keys and re-unioned with the delta into ONE fresh commit
  *      dir; every untouched commit's dir is never read or rewritten.
  *
  * At 100 TB a daily upsert of 0.1% of rows therefore costs the IO of the
  * overlapping commits, not the table — and the whole commit is CAS'd
  * against the version the plan read, so a concurrent writer conflicts
  * loudly instead of being resurrected or clobbered.
  */
final class TableMerger(
    catalog: LakeCatalog,
    /** Delta-key sets up to this size are collected driver-side for EXACT
      * candidate pruning; above it the plan falls back to [min, max]
      * bound pruning. Overridable so specs can exercise the fallback
      * without a 500k-row delta.
      */
    val DeltaKeyCollectCap: Long = 500000L) {

  /** Reference's auto-detection list (merge_utils.py:13). */
  val keyCandidates: Seq[String] = Seq("id", "product_id", "sku", "code", "_id")

  def findKeyColumn(df: DataFrame): Option[String] =
    keyCandidates.find(df.columns.contains)

  final case class MergeResult(strategy: String, sourceRows: Long, finalRows: Long)

  /** One row per key, chosen deterministically: rank by the orderable
    * non-key columns (descending, nulls last) so the same source frame
    * always yields the same winner regardless of partition order. Frames
    * whose non-key columns are all unorderable (maps) fall back to
    * dropDuplicates. No-op shuffle-wise when keys are already unique —
    * the window shares the anti-join's hash partitioning on the key.
    */
  private def dedupeOnKey(src: DataFrame, ks: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orderable = src.schema.fields
      .filter(f => !ks.contains(f.name) &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name).desc_nulls_last)
    if (orderable.isEmpty) src.dropDuplicates(ks)
    else {
      val w = Window.partitionBy(ks.map(col): _*).orderBy(orderable.toSeq: _*)
      src.withColumn("__graft_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    }
  }

  private def dedupeOnKey(src: DataFrame, k: String): DataFrame =
    dedupeOnKey(src, Seq(k))

  def mergeTable(
      src: DataFrame,
      ns: String,
      table: String,
      key: Option[String] = None): MergeResult = {
    val sourceRows = src.count()
    val keyCol = key.orElse(findKeyColumn(src))
    val targetExists = catalog.tableExists(ns, table)

    val strategy = (keyCol, targetExists) match {
      case (Some(k), true) =>
        // MERGE INTO updates a matched target row ONCE (and the reference's
        // engine errors on multiple source matches) — so a source carrying
        // duplicate key values must collapse to one row per key first, or
        // the anti-join+union would silently keep every duplicate. Pick the
        // winner deterministically (max over the orderable non-key columns)
        // rather than dropDuplicates' partition-order lottery.
        val deduped = dedupeOnKey(src, k)
        mergeScoped(deduped, ns, table, Seq(k), sourceRows)
        s"MERGE (upsert) using key `$k`"
      case (None, true) =>
        catalog.write(ns, table, src, SaveMode.Overwrite)
        "INSERT OVERWRITE (replacing all data)"
      case (k, false) =>
        catalog.write(ns, table, src, SaveMode.Overwrite)
        "CREATE TABLE AS SELECT" +
          k.map(kk => s" (Key `$kk` available for future merges)").getOrElse("")
    }
    MergeResult(strategy, sourceRows, catalog.rowCount(ns, table))
  }

  /** first index in [0, n) where the monotone predicate turns true; n if never */
  private def lowerBound(n: Int, pred: Int => Boolean): Int = {
    var lo = 0; var hi = n
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (pred(mid)) hi = mid else lo = mid + 1 }
    lo
  }

  /** Apply a CDC delta — upsert rows and delete tombstones tagged in
    * `opCol` ("upsert" / "delete", the Debezium-feed shape) — in ONE
    * file-scoped pass: a single PRUNE → PLAN → REWRITE cycle handles
    * both, so commits touched by an update and a tombstone are rewritten
    * once, not twice, and every untouched commit keeps its manifest
    * entry verbatim. Tombstones for absent keys are no-ops; a missing
    * target is created from the upsert rows alone (a delete-only or
    * empty first delta is a no-op — it must NOT create an empty table).
    *
    * Event ordering: when a key carries BOTH an upsert and a tombstone in
    * the same delta, pass `orderCol` (the feed's ts/LSN column) and the
    * LATEST event per key wins — an insert-then-delete micro-batch
    * correctly removes the row, converging to the source state. On exact
    * orderCol ties the delete wins (deterministic; a tombstone at the
    * same LSN means the key's final state is gone). WITHOUT `orderCol`
    * there is no order to resolve by, and the tie-break is documented as
    * UPSERT-WINS: tombstone keys are subtracted first, then upsert rows
    * re-added, so a key present in both lists survives with its upsert
    * row.
    */
  def applyCdc(
      deltaRaw: DataFrame,
      ns: String,
      table: String,
      key: Option[String] = None,
      opCol: String = "_op",
      orderCol: Option[String] = None): MergeResult = {
    val k = key.orElse(findKeyColumn(deltaRaw.drop(opCol))).getOrElse(
      sys.error(s"no merge key among ${keyCandidates.mkString(",")} — pass one explicitly"))
    applyCdcKeys(deltaRaw, ns, table, Seq(k), opCol, orderCol)
  }

  /** [[applyCdc]] on a COMPOSITE key tuple (r15, VERDICT r14 #6): the
    * ordering window, the upsert dedupe, the tombstone key set and the
    * file-scoped rewrite all operate on the column TUPLE, with the same
    * conjunctive-bounds stats pruning as [[mergeTableKeys]].
    */
  def applyCdcKeys(
      deltaRaw: DataFrame,
      ns: String,
      table: String,
      keys: Seq[String],
      opCol: String = "_op",
      orderCol: Option[String] = None): MergeResult = {
    require(keys.nonEmpty, "applyCdcKeys needs at least one key column")
    require(deltaRaw.columns.contains(opCol), s"CDC delta needs a `$opCol` column")
    require(keys.forall(deltaRaw.columns.contains),
      s"CDC keys ${keys.mkString(",")} not all present in delta columns " +
        deltaRaw.columns.mkString(","))
    orderCol.foreach(oc => require(deltaRaw.columns.contains(oc),
      s"ordering column `$oc` not in delta"))
    // the delta feeds count + the upsert/tombstone splits + (via
    // mergeScoped) the prune/plan/rewrite jobs — PIN IT ONCE. In the
    // streaming sink the delta is a change-feed micro-batch whose plan
    // re-derives the file-scoped snapshot diff on every action; pinning
    // caps that at one derivation per window (at 100 TB, one scan of the
    // changed commits instead of one per consumer).
    val delta = deltaRaw.persist()
    try applyCdcPinned(delta, ns, table, keys, opCol, orderCol)
    finally { delta.unpersist(); () }
  }

  private def applyCdcPinned(
      delta: DataFrame,
      ns: String,
      table: String,
      ks: Seq[String],
      opCol: String,
      orderCol: Option[String]): MergeResult = {
    val keyDesc = s"key${if (ks.size > 1) "s" else ""} `${ks.mkString("`, `")}`"
    val sourceRows = delta.count()
    // with an ordering column: ONE winner per key tuple by (orderCol desc,
    // delete-beats-upsert on ties), then split; the window shares the
    // key's hash partitioning with the downstream anti-join. Exact
    // (key, orderCol, op) ties — two upserts carrying the same LSN —
    // resolve by the remaining orderable columns (dedupeOnKey's
    // ordering), so the surviving row never depends on partitioning.
    val resolved = orderCol match {
      case Some(oc) =>
        import org.apache.spark.sql.expressions.Window
        val trailing = delta.schema.fields
          .filter(f => !ks.contains(f.name) && f.name != oc && f.name != opCol &&
            org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
          .map(f => col(f.name).desc_nulls_last)
        val w = Window.partitionBy(ks.map(col): _*)
          .orderBy(col(oc).desc_nulls_last +: col(opCol).asc +: // "delete" < "upsert"
            trailing.toSeq: _*)
        delta.withColumn("__graft_rn",
          org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__graft_rn") === 1).drop("__graft_rn")
      case None => delta
    }
    val ups = dedupeOnKey(
      resolved.filter(col(opCol) === "upsert").drop(opCol +: orderCol.toSeq: _*), ks)
    val dels = resolved.filter(col(opCol) === "delete")
      .select(ks.map(col): _*).distinct()
    val strategy =
      if (!catalog.tableExists(ns, table)) {
        if (ups.isEmpty) s"CDC NO-OP (delete-only delta, no target table, $keyDesc)"
        else {
          catalog.write(ns, table, ups, SaveMode.Overwrite)
          s"CDC CREATE from upserts ($keyDesc)"
        }
      } else {
        mergeScoped(ups, ns, table, ks, sourceRows, tombstones = Some(dels))
        s"CDC apply (upsert + delete) using $keyDesc"
      }
    val finalRows =
      if (catalog.tableExists(ns, table)) catalog.rowCount(ns, table) else 0L
    MergeResult(strategy, sourceRows, finalRows)
  }

  /** Composite-key upsert (`MERGE … ON t.a = s.a AND t.b = s.b` through
    * the SQL façade): the same PRUNE → PLAN → REWRITE cycle keyed on the
    * column TUPLE. Stats pruning degrades gracefully — the per-column
    * sidecars can't test tuple membership, so a commit survives pruning
    * iff EVERY key column's [min, max] overlaps the delta's (conjunctive
    * bounds; still file-scoped, just coarser than the single-key exact
    * key-set test) — and the PLAN semi-join then scopes the rewrite to
    * commits holding true tuple matches.
    */
  def mergeTableKeys(
      src: DataFrame, ns: String, table: String, keys: Seq[String]): MergeResult = {
    require(keys.nonEmpty, "mergeTableKeys needs at least one key column")
    require(keys.forall(src.columns.contains),
      s"merge keys ${keys.mkString(",")} not all present in source columns " +
        src.columns.mkString(","))
    val sourceRows = src.count()
    val strategy =
      if (catalog.tableExists(ns, table)) {
        mergeScoped(dedupeOnKey(src, keys), ns, table, keys, sourceRows)
        s"MERGE (upsert) using keys `${keys.mkString("`, `")}`"
      } else {
        catalog.write(ns, table, src, SaveMode.Overwrite)
        "CREATE TABLE AS SELECT"
      }
    MergeResult(strategy, sourceRows, catalog.rowCount(ns, table))
  }

  /** The file-scoped upsert itself (steps PRUNE → PLAN → REWRITE of the
    * class doc). `deduped` must already be one row per key tuple;
    * `tombstones` (CDC) contributes keys whose rows are removed without
    * replacement.
    */
  private def mergeScoped(
      dedupedRaw: DataFrame, ns: String, table: String, ks: Seq[String],
      sourceRows: Long, tombstones: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val k = ks.head // stats pruning is per-column; `k` drives the exact test
    val snap = catalog.snapshot(ns, table)
    // deletion-vector entries are not data: candidates come from the data
    // dirs only, and the plan/rewrite reads subtract the vectors so a
    // logically-deleted row can neither select a commit nor be resurrected
    val rels = snap.data
    // the deduped delta feeds FOUR consumers (key collect / bounds, plan
    // semi-join, rewrite anti-join, rewrite union) — pin it once instead
    // of re-running the dedupe window per job
    val deduped = dedupedRaw.persist()
    // PRUNE/PLAN/anti-join all operate on upsert keys PLUS tombstone
    // keys (CDC); only the upsert rows land in the rewrite union
    val keyCols = ks.map(col)
    val allKeys = tombstones
      .map(tb => deduped.select(keyCols: _*).unionByName(tb.select(keyCols: _*)))
      .getOrElse(deduped.select(keyCols: _*))
    try {
      // ONE bounded collect of the DISTINCT delta keys serves all three
      // decision passes (r17, VERDICT r16 #8 / guide §8 — decide with
      // small rows): PRUNE tests each commit's recorded [min, max]
      // against the exact key set; PLAN and REWRITE join against the
      // collected keys as a broadcast LOCAL RELATION, so the delta side
      // never re-executes its lineage (window dedupe + tombstone
      // distinct, once per consumer before) and the key side of both
      // joins broadcasts DETERMINISTICALLY — exact row count, no
      // estimate, independent of AQE (streaming clones disable AQE; the
      // static tier is 1 MB). Bounded by [[DeltaKeyCollectCap]], the same
      // driver-side budget the exact prune always had; larger deltas keep
      // the frame-join path below. The extra string column rides the same
      // collect so the prune's bounds test sees EXACTLY Spark's
      // cast-to-string rendering (the stats sidecar's format — a
      // driver-side toString would diverge on timestamps/decimals).
      val numericKey = deduped.schema(k).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      val strTag = StatsOrder.freshTag(ks, "_graft_keystr")
      val collected: Option[Array[org.apache.spark.sql.Row]] =
        if (sourceRows > DeltaKeyCollectCap) {
          // observable cap: a scale soak must SEE the exact-key prune give
          // way to the bounds fallback, not infer it
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"merge: delta rows $sourceRows > collect cap $DeltaKeyCollectCap " +
              "-> min/max bounds pruning (exact key-set prune skipped)")
          None
        } else Some {
          val base = allKeys.distinct()
          (if (ks.size == 1) base.withColumn(strTag, col(k).cast("string"))
           else base).collect()
        }
      // the in-memory key relation for PLAN/REWRITE (typed key columns
      // only; the prune's string rendering is stripped)
      val keysLocal: Option[DataFrame] = collected.map { rows =>
        import scala.jdk.CollectionConverters._
        val typed =
          if (ks.size == 1)
            rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
          else rows
        catalog.session.createDataFrame(
          typed.toSeq.asJava,
          org.apache.spark.sql.types.StructType(
            allKeys.schema.fields.toIndexedSeq))
      }
      // PRUNE: commits whose key range can't contain any delta key. For a
      // small delta (the daily-upsert shape) the key set itself is
      // collected and each commit's [min, max] is tested for ANY member —
      // exact, so a delta of {low keys} ∪ {brand-new high keys} doesn't
      // degenerate to a whole-table range the way plain min/max bounds do.
      // Large deltas fall back to bounds. NaN/Infinity float keys don't
      // parse as BigDecimal: they simply disable pruning (candidates =
      // everything), never throw — pruning is an optimization.
      val deltaKeys: Option[(Array[String], Array[java.math.BigDecimal])] =
        if (ks.size > 1) None // composite key: conjunctive bounds prune below
        else collected.map { rows =>
          val strs = rows.iterator.map(_.getAs[String](strTag))
            .filter(_ != null).toArray
          if (numericKey) {
            try ((Array.empty[String],
              strs.map(new java.math.BigDecimal(_)).sortWith((a, b) => a.compareTo(b) < 0)))
            catch { case _: NumberFormatException => null }
          } else
            // sorted in the SAME order the sidecar bounds compare under
            // (unsigned UTF-8 bytes) or the binary search below lies
            ((strs.sortWith(StatsOrder.lt), Array.empty[java.math.BigDecimal]))
        }.filter(_ != null)

      def anyKeyIn(kind: String, mn: String, mx: String): Boolean = deltaKeys match {
        case None => true // handled by the bounds fallback below
        case Some((strs, nums)) =>
          if (kind == "num") {
            try {
              val lo = new java.math.BigDecimal(mn)
              val i = lowerBound(nums.length, j => nums(j).compareTo(lo) >= 0)
              i < nums.length && nums(i).compareTo(new java.math.BigDecimal(mx)) <= 0
            } catch { case _: NumberFormatException => true }
          } else {
            val i = lowerBound(strs.length, j => StatsOrder.geq(strs(j), mn))
            i < strs.length && StatsOrder.leq(strs(i), mx)
          }
      }

      // bounds: free from the collected keys when present, one tiny agg
      // job otherwise; all-null/empty bounds disable pruning entirely.
      // The bounds are rendered by Spark's cast-to-string AFTER the
      // aggregate — the exact formatting the stats sidecar stores (a
      // timestamp probe via JVM toString would render '…10:00:00.0'
      // where the sidecar strips trailing zeros, and the lexicographic
      // compare would falsely prune a commit holding an equal key)
      lazy val b = {
        val aggs = ks.flatMap(c =>
          Seq(fmin(col(c)).cast("string"), fmax(col(c)).cast("string")))
        allKeys.agg(aggs.head, aggs.tail: _*).head()
      }
      val noPrune = deltaKeys match {
        case Some((strs, nums)) => strs.isEmpty && nums.isEmpty
        case None => (0 until ks.size).forall(i =>
          b.isNullAt(2 * i) || b.isNullAt(2 * i + 1))
      }
      val candidates =
        if (noPrune) rels
        else if (ks.size > 1)
          // composite key: a commit survives iff EVERY key column's
          // sidecar range overlaps the delta's — conjunctive, so one
          // non-overlapping column prunes the commit
          rels.filter { rel =>
            ks.zipWithIndex.forall { case (kc, i) =>
              b.isNullAt(2 * i) || b.isNullAt(2 * i + 1) ||
                catalog.statsMayOverlap(ns, table, rel, kc,
                  b.get(2 * i), b.get(2 * i + 1))
            }
          }
        else rels.filter { rel =>
          catalog.commitColumnRange(ns, table, rel, k) match {
            case None => true // pre-stats commit or uncovered key: keep
            case Some((kind, mn, mx)) =>
              if (deltaKeys.isDefined &&
                (kind == "num") == numericKey) anyKeyIn(kind, mn, mx)
              else catalog.statsMayOverlap(ns, table, rel, k, b.get(0), b.get(1))
          }
        }

      // PLAN: which candidates hold actual key matches. One job — the
      // scan reads only the key column; the key side is the collected
      // LOCAL RELATION with an explicit broadcast hint when the delta fit
      // the collect cap (deterministic BroadcastHashJoin at any session
      // policy — the streaming landings' sessions and non-AQE contexts
      // included), the live frame otherwise (broadcast recovered by AQE).
      val keys = keysLocal
        .map(org.apache.spark.sql.functions.broadcast)
        .getOrElse(allKeys)
      val touched: Set[String] =
        if (candidates.isEmpty) Set.empty
        else {
          val (tagged, tag) = catalog.readTagged(ns, table, snap, candidates)
          tagged.join(keys, ks, "left_semi")
            .select(tag).distinct().collect().map(_.getString(0)).toSet
        }

      // REWRITE: touched commits lose their matched rows; the delta
      // (updates + brand-new keys) lands in the same fresh commit dir.
      // Untouched commits keep their manifest entries verbatim.
      val kept =
        if (touched.isEmpty) deduped.limit(0) // pure insert: delta's schema
        else catalog.readDirsClean(ns, table, snap, rels.filter(touched))
          .join(keys, ks, "left_anti")
      val merged = kept.unionByName(deduped, allowMissingColumns = true)
      catalog.commitRewrite(ns, table, snap, touched, merged)
      ()
    } finally { deduped.unpersist(); () }
  }
}
