package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class MaterializedViewSpec extends SparkSpec {
  import MaterializedView.MvAgg

  private def freshCatalog() =
    (LakeCatalog(spark, Files.createTempDirectory("graft_mv").toString))

  private def seed(cat: LakeCatalog): Unit = {
    import spark.implicits._
    cat.write("ns", "base", Seq(
      ("a", 1L, 10.50), ("a", 2L, 4.25), ("b", 3L, 7.00)
    ).toDF("k", "seq", "amt"))
  }

  private def mkView(cat: LakeCatalog): MaterializedView = {
    val mv = new MaterializedView(cat)
    mv.create("ns", "view", "ns", "base", Seq("k"),
      Seq(MvAgg("sum_money", "amt", "total"),
        MvAgg("min", "seq", "lo"), MvAgg("max", "seq", "hi")),
      countAs = "n")
    mv
  }

  private def viewRows(cat: LakeCatalog): Map[String, (Long, BigDecimal, Long, Long)] =
    cat.read("ns", "view").collect().map { r =>
      r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3), r.getLong(4)))
    }.toMap

  test("create computes the full aggregate; refresh without base movement is a no-op") {
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    assert(viewRows(cat) == Map(
      "a" -> ((2L, BigDecimal("14.75"), 1L, 2L)),
      "b" -> ((1L, BigDecimal("7.00"), 3L, 3L))))
    val vBefore = cat.versions("ns", "view").last
    mv.refresh("ns", "view")
    assert(cat.versions("ns", "view").last == vBefore, "no-op refresh must not commit")
  }

  test("refresh merges an append delta: existing keys combine, new keys appear") {
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    cat.write("ns", "base", Seq(("a", 9L, 0.25), ("c", 4L, 1.00)).toDF("k", "seq", "amt"),
      SaveMode.Append)
    mv.refresh("ns", "view")
    assert(viewRows(cat) == Map(
      "a" -> ((3L, BigDecimal("15.00"), 1L, 9L)),
      "b" -> ((1L, BigDecimal("7.00"), 3L, 3L)),
      "c" -> ((1L, BigDecimal("1.00"), 4L, 4L))))
  }

  test("refresh reads ONLY the delta: base commits deleted from disk, refresh still succeeds") {
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    // physically destroy the seed commit's data — a refresh that scanned
    // the base table would now fail; a delta-only refresh never notices
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val rels = cat.snapshot("ns", "base").entries
    rels.foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(s"${cat.root}/ns/base/$rel")
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(st => fs.delete(st.getPath, false))
    }
    cat.write("ns", "base", Seq(("b", 8L, 2.50)).toDF("k", "seq", "amt"), SaveMode.Append)
    mv.refresh("ns", "view")
    assert(viewRows(cat)("b") == ((2L, BigDecimal("9.50"), 3L, 8L)))
    // sanity: the seed rows are physically gone (a full read either fails
    // schema inference or sees only the delta commit's single row — with
    // the immutable-dir probe cache it's the latter), so the refresh above
    // could not have recomputed the view from the base
    val liveBase = try cat.read("ns", "base").count() catch { case _: Exception => 0L }
    assert(liveBase <= 1, s"seed rows should be unreadable, saw $liveBase")
  }

  test("non-append-only window falls back to full recompute (delete between refreshes)") {
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    cat.write("ns", "base", Seq(("a", 9L, 0.25)).toDF("k", "seq", "amt"), SaveMode.Append)
    cat.delete("ns", "base", col("k") === "b") // rewrites history: not append-only
    mv.refresh("ns", "view")
    assert(viewRows(cat) == Map(
      "a" -> ((3L, BigDecimal("15.00"), 1L, 9L))),
      "deleted key must vanish from the view via the recompute path")
  }

  test("refresh cursor rides the commit: staged sidecar honored only once its version exists") {
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    cat.write("ns", "base", Seq(("a", 9L, 0.25)).toDF("k", "seq", "amt"), SaveMode.Append)
    // emulate a refresh that staged its cursor for the NEXT view version
    // and crashed before committing it — the old post-commit-cursor design
    // failed the dual way (committed data + stale cursor → double-count);
    // here the orphaned sidecar must be IGNORED because v2 never committed
    cat.putTableMeta("ns", "view", "mvseen-v2",
      cat.versions("ns", "base").last.toString)
    mv.refresh("ns", "view")
    assert(viewRows(cat)("a") == ((3L, BigDecimal("15.00"), 1L, 9L)),
      "orphaned cursor must not suppress the delta")
    // the committed refresh owns the cursor now: a second refresh is a
    // no-op (no new version, no re-merge of the same delta)
    val v = cat.versions("ns", "view").last
    mv.refresh("ns", "view")
    assert(cat.versions("ns", "view").last == v)
    assert(viewRows(cat)("a") == ((3L, BigDecimal("15.00"), 1L, 9L)),
      "re-refresh must not double-count the already-merged delta")
    // and the committed version's DATA DIR carries the cursor sidecar
    // matching the base (the dir-keyed scheme: cursor and data share a
    // uuid, so the manifest CAS decides which cursor is live)
    val rel = cat.snapshot("ns", "view").entries.find(_.startsWith("data/")).get
    assert(cat.getTableMeta("ns", "view", s"mvseen-d${rel.stripPrefix("data/")}")
      .map(_.trim.toInt).contains(cat.versions("ns", "base").last))
  }

  test("losing refresh cannot poison the winner's committed cursor") {
    // replay of the round-6 advice race: winner merges delta A and commits;
    // a loser that had read a NEWER base version stages its own cursor and
    // loses the CAS. Under version-keyed sidecars the loser's put would
    // overwrite the winner's cursor with the newer baseV and delta B would
    // silently never merge; under dir-keyed sidecars the loser only ever
    // writes its own (uncommitted) dir's key.
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    cat.write("ns", "base", Seq(("a", 9L, 0.25)).toDF("k", "seq", "amt"), SaveMode.Append)
    mv.refresh("ns", "view") // the winner: merges delta A (base v2)
    // delta B lands; the loser had read base v3 and staged against the
    // same view version the winner took — emulate the loser's surviving
    // side effect: a cursor sidecar for a dir no manifest references
    cat.write("ns", "base", Seq(("c", 4L, 1.00)).toDF("k", "seq", "amt"), SaveMode.Append)
    cat.putTableMeta("ns", "view",
      s"mvseen-d${java.util.UUID.randomUUID().toString}",
      cat.versions("ns", "base").last.toString)
    // the next refresh must still see cursor=2 and merge delta B
    mv.refresh("ns", "view")
    assert(viewRows(cat) == Map(
      "a" -> ((3L, BigDecimal("15.00"), 1L, 9L)),
      "b" -> ((1L, BigDecimal("7.00"), 3L, 3L)),
      "c" -> ((1L, BigDecimal("1.00"), 4L, 4L))),
      "the loser's orphan cursor must not suppress delta B")
  }

  test("long-history MV: the refresh cursor resolves from ONE probed version") {
    // a refresh must touch O(1) manifests however deep the view's history
    // is — the newest-first walk's FIRST probe hits for any table whose
    // latest version was written by refresh (the sidecar travels with the
    // staged dir), so a long-lived daily-refresh MV never pays a
    // history-length metadata scan
    val cat = freshCatalog()
    seed(cat)
    val mv = mkView(cat)
    import spark.implicits._
    for (i <- 1 to 8) {
      cat.write("ns", "base", Seq(("a", 100L + i, 0.01)).toDF("k", "seq", "amt"),
        SaveMode.Append)
      mv.refresh("ns", "view")
    }
    assert(cat.versions("ns", "view").size >= 9, "history must be deep for this pin")
    val (seen, probed) = mv.currentSeenProbed("ns", "view")
    assert(seen == cat.versions("ns", "base").last,
      "cursor must reflect the last refreshed base version")
    assert(probed == 1,
      s"refresh cursor probed $probed versions; the hot path must stay O(1)")
  }

  test("readAppended is metadata-scoped for append windows, changelog fallback otherwise") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1, 2).toDF("id"))
    cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append)
    assert(cat.readAppended("ns", "t", 1, 2).as[Int].collect().toSet == Set(3))
    val appended = cat.snapshot("ns", "t", Some(1)).diff(cat.snapshot("ns", "t", Some(2)))
    assert(appended.appendOnly && appended.added.length == 1)
    cat.write("ns", "t", Seq(9).toDF("id"), SaveMode.Overwrite)
    assert(!cat.snapshot("ns", "t", Some(2)).diff(cat.snapshot("ns", "t", Some(3))).appendOnly,
      "overwrite is not append-only")
    assert(cat.readAppended("ns", "t", 2, 3).as[Int].collect().toSet == Set(9))
  }
}
