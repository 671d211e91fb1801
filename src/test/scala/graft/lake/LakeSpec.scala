package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_lake").toString)

  test("catalog: namespaces, tables, existence, counts") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.createNamespace("raw")
    assert(cat.listNamespaces() == Seq("raw"))
    assert(!cat.tableExists("raw", "t"))
    cat.write("raw", "t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(cat.tableExists("raw", "t"))
    assert(cat.listTables("raw") == Seq("t"))
    assert(cat.rowCount("raw", "t") == 2)
    cat.dropTable("raw", "t")
    assert(!cat.tableExists("raw", "t"))
  }

  test("append extends the manifest without rewriting prior data") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1, 2).toDF("id"))
    cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append)
    assert(cat.rowCount("ns", "t") == 3)
    // v1 still readable with 2 rows: time travel
    assert(cat.read("ns", "t", Some(1)).count() == 2)
    assert(cat.versions("ns", "t") == Seq(1, 2))
  }

  test("overwrite starts a new snapshot; old snapshot remains readable") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1, 2, 3).toDF("id"))
    cat.write("ns", "t", Seq(9).toDF("id"), SaveMode.Overwrite)
    assert(cat.rowCount("ns", "t") == 1)
    assert(cat.read("ns", "t", Some(1)).count() == 3)
  }

  test("partitioned write round-trips with partition column intact") {
    val cat = freshCatalog()
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "grp")
    cat.write("ns", "p", df, partitionBy = Seq("grp"))
    val back = cat.read("ns", "p")
    assert(back.columns.toSet == Set("id", "grp"))
    assert(back.filter(col("grp") === "a").count() == 2)
  }

  test("schema evolution across commits: new column appears, old rows null") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "e", Seq((1, "x")).toDF("id", "name"))
    cat.write("ns", "e", Seq((2, "y", 3.5)).toDF("id", "name", "score"), SaveMode.Append)
    val back = cat.read("ns", "e")
    assert(back.columns.toSet == Set("id", "name", "score"))
    assert(back.filter("score IS NULL").count() == 1)
  }

  test("compaction rewrites many commits into one, preserving data") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "c", Seq(1, 2).toDF("id"))
    cat.write("ns", "c", Seq(3).toDF("id"), SaveMode.Append)
    cat.write("ns", "c", Seq(4).toDF("id"), SaveMode.Append)
    val before = cat.read("ns", "c").collect().map(_.getInt(0)).sorted.toSeq
    cat.compact("ns", "c")
    val after = cat.read("ns", "c")
    assert(after.collect().map(_.getInt(0)).sorted.toSeq == before)
    // compacted snapshot reads from exactly one commit dir
    assert(after.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 1)
  }

  test("changelog reports inserts and deletes between snapshots") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "d", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    cat.write("ns", "d", Seq((2, "B"), (3, "c")).toDF("id", "v"), SaveMode.Overwrite)
    val ch = cat.changelog("ns", "d", 1, 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((2, "B", "insert"), (3, "c", "insert"),
      (1, "a", "delete"), (2, "b", "delete")))
  }

  test("partition pruning reaches the scan for partitioned lake tables") {
    val cat = freshCatalog()
    import spark.implicits._
    val df = (1 to 100).map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "grp")
    cat.write("ns", "pp", df, partitionBy = Seq("grp"))
    val filtered = cat.read("ns", "pp").filter(col("grp") === "even")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("grp"),
      s"partition filter not pushed:\n$plan")
    assert(filtered.count() == 50)
  }

  test("reads of missing tables and unknown snapshots fail with clear errors") {
    val cat = freshCatalog()
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException] { cat.read("ns", "nope") }
    assert(e1.getMessage.contains("no such table"))
    cat.write("ns", "t", Seq(1).toDF("id"))
    val e2 = intercept[IllegalArgumentException] { cat.read("ns", "t", Some(9)) }
    assert(e2.getMessage.contains("no snapshot v9"))
  }

  test("key auto-detection follows the reference candidate list") {
    val merger = new TableMerger(freshCatalog())
    import spark.implicits._
    assert(merger.findKeyColumn(Seq((1, 2)).toDF("x", "id")).contains("id"))
    assert(merger.findKeyColumn(Seq((1, 2)).toDF("sku", "v")).contains("sku"))
    assert(merger.findKeyColumn(Seq((1, 2)).toDF("x", "y")).isEmpty)
  }

  test("merge handles schema drift: source with a new column upserts cleanly") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    merger.mergeTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "ns", "drift")
    // delta carries an extra column the target lacks
    val r = merger.mergeTable(Seq((2, "B", 9.5), (3, "c", 1.5)).toDF("id", "v", "score"),
      "ns", "drift")
    assert(r.strategy.startsWith("MERGE"))
    val back = cat.read("ns", "drift")
    assert(back.columns.toSet == Set("id", "v", "score"))
    assert(back.filter("id = 1 AND score IS NULL").count() == 1)
    assert(back.filter("id = 2 AND v = 'B' AND score = 9.5").count() == 1)
    assert(back.count() == 3)
  }

  test("merge strategies: CTAS, then upsert updates matched + inserts new") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    val r1 = merger.mergeTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "ns", "m")
    assert(r1.strategy.startsWith("CREATE TABLE"))
    assert(r1.finalRows == 2)
    val r2 = merger.mergeTable(Seq((2, "B"), (3, "c")).toDF("id", "v"), "ns", "m")
    assert(r2.strategy.startsWith("MERGE"))
    assert(r2.finalRows == 3)
    val rows = cat.read("ns", "m").orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
    // no key → INSERT OVERWRITE
    val r3 = merger.mergeTable(Seq(("only", 1)).toDF("v", "n"), "ns", "m")
    assert(r3.strategy.startsWith("INSERT OVERWRITE"))
    assert(cat.rowCount("ns", "m") == 1)
  }

  test("SCD2: changed keys close-and-insert, unchanged keep, re-applied snapshot is a no-op") {
    val cat = freshCatalog()
    import spark.implicits._
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Scd2.applySnapshot(cat, "ns", "dim", v1, "id", 1)
    // id=1 changes, id=3 is new, id=2 absent from snapshot (kept current)
    val v2 = Seq((1, "A"), (3, "c")).toDF("id", "v")
    Scd2.applySnapshot(cat, "ns", "dim", v2, "id", 2)
    val hist = cat.read("ns", "dim").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4))).toSet
    assert(hist == Set(
      (1, "a", 1, 2, false), // closed at v2
      (1, "A", 2, -1, true), // new current
      (2, "b", 1, -1, true), // untouched
      (3, "c", 2, -1, true)  // brand new
    ), hist.toString)
    // identical snapshot → history unchanged
    Scd2.applySnapshot(cat, "ns", "dim", v2, "id", 3)
    assert(cat.read("ns", "dim").count() == 4)
    assert(cat.read("ns", "dim").filter("valid_from = 3").count() == 0)
  }

  test("SCD2 collapses duplicate snapshot keys to one row (no history fan-out)") {
    val cat = freshCatalog()
    import spark.implicits._
    Scd2.applySnapshot(cat, "ns", "dup", Seq((1, "a")).toDF("id", "v"), "id", 1)
    // snapshot carries id=1 twice: must update once (deterministic winner)
    Scd2.applySnapshot(cat, "ns", "dup", Seq((1, "x"), (1, "z")).toDF("id", "v"), "id", 2)
    val hist = cat.read("ns", "dup")
    assert(hist.count() == 2, hist.collect().mkString(","))
    assert(hist.filter("is_current AND v = 'z'").count() == 1)
  }

  test("DELETE keeps rows where the predicate is NULL (SQL semantics)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "nd", Seq((1, Some("drop")), (2, None), (3, Some("keep")))
      .toDF("id", "v"))
    cat.delete("ns", "nd", col("v") === "drop")
    val left = cat.read("ns", "nd").collect().map(_.getInt(0)).sorted.toSeq
    assert(left == Seq(2, 3), s"NULL-predicate row must survive: $left")
  }

  test("DELETE is copy-on-write: prior snapshot still time-travels") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq((1, "keep"), (2, "drop"), (3, "keep")).toDF("id", "v"))
    cat.delete("ns", "t", col("v") === "drop")
    assert(cat.read("ns", "t").count() == 2)
    assert(cat.read("ns", "t").filter("v = 'drop'").count() == 0)
    assert(cat.read("ns", "t", Some(1)).count() == 3) // pre-delete snapshot intact
  }

  test("expireSnapshots drops old manifests and unreferenced data, keeps current") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq((1, "a")).toDF("id", "v"))                     // v1
    cat.write("ns", "t", Seq((2, "b")).toDF("id", "v"),
      org.apache.spark.sql.SaveMode.Append)                                  // v2 (reuses v1 data)
    cat.write("ns", "t", Seq((9, "z")).toDF("id", "v"))                     // v3 overwrite
    val removed = cat.expireSnapshots("ns", "t", keepLast = 1)
    assert(cat.versions("ns", "t") == Seq(3))
    assert(removed == 2, s"expected both pre-overwrite data dirs gone, removed=$removed")
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).toSeq == Seq(9))
    intercept[IllegalArgumentException] { cat.read("ns", "t", Some(1)) }
    // keepLast=2 keeps a data dir alive if any surviving manifest references it
    cat.write("ns", "t", Seq((10, "y")).toDF("id", "v"),
      org.apache.spark.sql.SaveMode.Append)                                  // v4 references v3 data
    assert(cat.expireSnapshots("ns", "t", keepLast = 1) == 0) // v3's dir still referenced by v4
    assert(cat.read("ns", "t").count() == 2)
  }

  test("incremental read returns only rows added between snapshots") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq((1, "a")).toDF("id", "v"))
    cat.write("ns", "t", Seq((2, "b"), (3, "c")).toDF("id", "v"),
      org.apache.spark.sql.SaveMode.Append)
    val delta = cat.readIncremental("ns", "t", 1, 2)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(delta == Set((2, "b"), (3, "c")))
  }

  test("catalog metadata IO works through an explicit file:// URI (Hadoop FS path)") {
    // the same catalog must run wherever a Hadoop FileSystem exists —
    // file://, hdfs://, s3a:// — so exercise the full snapshot lifecycle
    // through a scheme-qualified URI instead of a bare local path
    val dir = Files.createTempDirectory("graft_lake_uri")
    val cat = LakeCatalog(spark, "file://" + dir.toString)
    import spark.implicits._
    cat.write("raw", "t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    cat.write("raw", "t", Seq((3, "c")).toDF("id", "v"), SaveMode.Append)
    assert(cat.listNamespaces() == Seq("raw"))
    assert(cat.versions("raw", "t") == Seq(1, 2))
    assert(cat.rowCount("raw", "t") == 3)
    assert(cat.read("raw", "t", Some(1)).count() == 2)
    cat.write("raw", "t", Seq((9, "z")).toDF("id", "v"), SaveMode.Overwrite)
    assert(cat.expireSnapshots("raw", "t", keepLast = 1) == 2)
    assert(cat.versions("raw", "t") == Seq(3))
    assert(cat.read("raw", "t").collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("optimistic commit: stale expectedVersion loses, exactly one writer wins") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1).toDF("id")) // v1
    // two writers both staged against v1; the first commit wins...
    cat.write("ns", "t", Seq(2).toDF("id"), SaveMode.Append,
      expectedVersion = Some(1)) // v2
    // ...and the straggler's optimistic check fails instead of clobbering
    val e = intercept[CommitConflictException] {
      cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append,
        expectedVersion = Some(1))
    }
    assert(e.getMessage.contains("moved to v2"))
    assert(cat.versions("ns", "t") == Seq(1, 2))
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("readWhere prunes whole commits via min/max stats (data skipping)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "ev", Seq((1, 10), (2, 19)).toDF("id", "day"))                   // commit A: 10..19
    cat.write("ns", "ev", Seq((3, 20), (4, 29)).toDF("id", "day"), SaveMode.Append)  // commit B: 20..29
    cat.write("ns", "ev", Seq((5, 30), (6, 39)).toDF("id", "day"), SaveMode.Append)  // commit C: 30..39
    val q = cat.readWhere("ns", "ev", "day", 20, 25)
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(3))
    // data skipping: only commit B's dir is ever scanned
    assert(q.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 1,
      "band read must scan exactly one commit dir")
    // an all-pruned band yields an empty frame with the table schema
    val none = cat.readWhere("ns", "ev", "day", 100, 200)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "day"))
    // the stats sidecar itself is inspectable
    val v1dir = {
      val fsDir = new java.io.File(cat.root, "ns/ev/data")
      fsDir.listFiles().filter(_.isDirectory).map(d => s"data/${d.getName}").sorted
    }
    assert(v1dir.forall(rel => cat.commitStats("ns", "ev", rel).isDefined))
    val allStats = v1dir.flatMap(rel => cat.commitStats("ns", "ev", rel))
    assert(allStats.map(_._1).sum == 6) // row counts across commits
    // string-typed bounds prune lexicographically too
    cat.write("ns", "names", Seq("apple", "berry").toDF("w"))
    cat.write("ns", "names", Seq("melon", "peach").toDF("w"), SaveMode.Append)
    val sq = cat.readWhere("ns", "names", "w", "a", "c")
    assert(sq.collect().map(_.getString(0)).sorted.toSeq == Seq("apple", "berry"))
    assert(sq.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 1)
  }

  test("vacuumOrphans reclaims data staged by a losing commit, keeps committed data") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1).toDF("id")) // v1
    cat.write("ns", "t", Seq(2).toDF("id"), SaveMode.Append,
      expectedVersion = Some(1)) // v2
    intercept[CommitConflictException] {
      cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append,
        expectedVersion = Some(1)) // staged its data dir, then lost the CAS
    }
    // the loser's dir is referenced by no manifest → reclaimed
    assert(cat.vacuumOrphans("ns", "t", graceMs = 0L) == 1)
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(cat.vacuumOrphans("ns", "t", graceMs = 0L) == 0)
  }

  test("append without expectedVersion still CASes against the version it extended") {
    // appends EXTEND an entry list, so they are implicitly pinned: the
    // commit publishes base+1 and includes every base entry — a concurrent
    // commit between read and publish raises instead of losing its dirs
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1).toDF("id"))
    cat.write("ns", "t", Seq(2).toDF("id"), SaveMode.Append)
    cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append)
    assert(cat.versions("ns", "t") == Seq(1, 2, 3))
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  // (relative file path, length, mtime) of every data file under a commit
  // dir — the "byte-identical" fingerprint for file-scoped rewrite tests
  private def dirFingerprint(cat: LakeCatalog, ns: String, t: String, rel: String) = {
    val base = java.nio.file.Paths.get(cat.root, ns, t, rel)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("MERGE is file-scoped: only commits holding matched keys are rewritten") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    // three commits with disjoint key ranges
    cat.write("ns", "fs", (1 to 10).map(i => (i, "a")).toDF("id", "v"))                // A: 1..10
    cat.write("ns", "fs", (11 to 20).map(i => (i, "b")).toDF("id", "v"), SaveMode.Append) // B: 11..20
    cat.write("ns", "fs", (21 to 30).map(i => (i, "c")).toDF("id", "v"), SaveMode.Append) // C: 21..30
    val Snapshot(v3, rels) = cat.snapshot("ns", "fs")
    assert(v3 == 3 && rels.length == 3)
    val before = rels.map(r => r -> dirFingerprint(cat, "ns", "fs", r)).toMap
    // delta hits only B (key 15) plus a brand-new key beyond every range
    val r = merger.mergeTable(Seq((15, "X"), (35, "new")).toDF("id", "v"), "ns", "fs")
    assert(r.strategy.startsWith("MERGE") && r.finalRows == 31)
    val Snapshot(v4, after) = cat.snapshot("ns", "fs")
    assert(v4 == 4)
    // A (stats-pruned) and C (range overlap 21..30 vs [15,35] but no actual
    // match) keep their manifest entries VERBATIM; B is replaced
    val (bRel, others) = (rels(1), Seq(rels(0), rels(2)))
    others.foreach { rel =>
      assert(after.contains(rel), s"untouched commit $rel must stay in the manifest")
      assert(dirFingerprint(cat, "ns", "fs", rel) == before(rel),
        s"untouched commit $rel was rewritten")
    }
    assert(!after.contains(bRel), "matched commit must be replaced")
    assert(after.length == 3, s"expected 2 kept + 1 fresh dir, got $after")
    // contents: update landed, insert landed, everything else intact
    val back = cat.read("ns", "fs").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getString(1)))
    assert(back.length == 31)
    assert(back.contains((15, "X")) && back.contains((35, "new")))
    assert(back.contains((14, "b")) && back.contains((1, "a")) && back.contains((30, "c")))
  }

  test("composite-key MERGE (mergeTableKeys) is file-scoped via conjunctive bounds pruning") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    // three commits sharing the FIRST key value but disjoint in the second:
    // single-column pruning on `id` alone could not prune any of them
    cat.write("ns", "ck", (1 to 10).map(i => (1L, i.toLong, "a")).toDF("id", "sub", "v"))
    cat.write("ns", "ck", (11 to 20).map(i => (1L, i.toLong, "b")).toDF("id", "sub", "v"),
      SaveMode.Append)
    cat.write("ns", "ck", (21 to 30).map(i => (1L, i.toLong, "c")).toDF("id", "sub", "v"),
      SaveMode.Append)
    val Snapshot(v3, rels) = cat.snapshot("ns", "ck")
    assert(v3 == 3 && rels.length == 3)
    val before = rels.map(r => r -> dirFingerprint(cat, "ns", "ck", r)).toMap
    // delta: tuple (1,15) updates commit B; (2,15) is brand-new; a duplicate
    // of (1,15) must collapse to one deterministic winner before the upsert
    val delta = Seq((1L, 15L, "X"), (1L, 15L, "W"), (2L, 15L, "new"))
      .toDF("id", "sub", "v")
    val r = merger.mergeTableKeys(delta, "ns", "ck", Seq("id", "sub"))
    assert(r.strategy.contains("keys `id`, `sub`"), r.strategy)
    assert(r.finalRows == 31, r.toString)
    val Snapshot(v4, after) = cat.snapshot("ns", "ck")
    assert(v4 == 4)
    // A and C prune on the `sub` column's [15,15] bounds (their `id`
    // ranges all overlap) — manifest entries kept verbatim, bytes intact
    val (bRel, others) = (rels(1), Seq(rels(0), rels(2)))
    others.foreach { rel =>
      assert(after.contains(rel), s"untouched commit $rel must stay in the manifest")
      assert(dirFingerprint(cat, "ns", "ck", rel) == before(rel),
        s"untouched commit $rel was rewritten")
    }
    assert(!after.contains(bRel), "matched commit must be replaced")
    val back = cat.read("ns", "ck").orderBy("id", "sub")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(back.length == 31)
    // dedupe winner is deterministic: max over orderable non-key cols ("X" > "W")
    assert(back.contains((1L, 15L, "X")) && !back.exists(_._3 == "W"))
    assert(back.contains((2L, 15L, "new")))
    assert(back.contains((1L, 14L, "b")) && back.contains((1L, 30L, "c")))
    // a tuple match is NOT a per-column match: (1, 99) matches `id` of every
    // row and `sub` of nothing — it must INSERT, touching no commit
    val before4 = after.map(rel => rel -> dirFingerprint(cat, "ns", "ck", rel)).toMap
    merger.mergeTableKeys(Seq((1L, 99L, "ins")).toDF("id", "sub", "v"),
      "ns", "ck", Seq("id", "sub"))
    val after5 = cat.snapshot("ns", "ck").entries
    before4.keys.foreach { rel =>
      assert(after5.contains(rel) &&
        dirFingerprint(cat, "ns", "ck", rel) == before4(rel),
        s"pure composite insert must rewrite nothing, but $rel changed")
    }
    assert(cat.rowCount("ns", "ck") == 32)
    // missing target: CTAS; missing key column: loud
    val r2 = merger.mergeTableKeys(delta, "ns", "ck_new", Seq("id", "sub"))
    assert(r2.strategy.startsWith("CREATE TABLE"))
    val e = intercept[IllegalArgumentException] {
      merger.mergeTableKeys(delta, "ns", "ck", Seq("id", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("CDC apply: upserts + tombstones in ONE pass, untouched commits verbatim") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "cdc", (1 to 10).map(i => (i, "a")).toDF("id", "v"))
    cat.write("ns", "cdc", (11 to 20).map(i => (i, "b")).toDF("id", "v"), SaveMode.Append)
    cat.write("ns", "cdc", (21 to 30).map(i => (i, "c")).toDF("id", "v"), SaveMode.Append)
    val Snapshot(v3, rels) = cat.snapshot("ns", "cdc")
    val before = rels.map(r => r -> dirFingerprint(cat, "ns", "cdc", r)).toMap
    // one delta: update key 5, delete key 6 (both commit A), insert key
    // 99, tombstone for an ABSENT key (no-op)
    val delta = Seq((5, "U5", "upsert"), (6, "x", "delete"),
      (99, "new", "upsert"), (1000, "x", "delete")).toDF("id", "v", "_op")
    val r = merger.applyCdc(delta, "ns", "cdc")
    assert(r.strategy.startsWith("CDC apply"), r.strategy)
    // exactly ONE new version: update + delete + insert in a single pass
    assert(cat.versions("ns", "cdc") == Seq(1, 2, 3, 4),
      s"one pass must create exactly v${v3 + 1}, have ${cat.versions("ns", "cdc")}")
    val after = cat.snapshot("ns", "cdc").entries
    // commits B and C hold no matched keys: entries + dirs verbatim
    Seq(rels(1), rels(2)).foreach { rel =>
      assert(after.contains(rel), s"untouched commit $rel must stay")
      assert(dirFingerprint(cat, "ns", "cdc", rel) == before(rel))
    }
    val back = cat.read("ns", "cdc").collect()
      .map(x => (x.getInt(0), x.getString(1))).toMap
    assert(back.size == 30, s"10 - 1 deleted + 1 inserted + 20 = 30, got ${back.size}")
    assert(back(5) == "U5" && !back.contains(6) && back(99) == "new")
    assert(back(1) == "a" && back(20) == "b" && back(30) == "c")
  }

  test("CDC apply with orderCol: latest event per key wins (insert-then-delete removes)") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "cdco", (1 to 10).map(i => (i, "a")).toDF("id", "v"))
    // one micro-batch carrying conflicting events per key, resolved by ts:
    //  key 2: upsert@1 then delete@2  -> row must be GONE
    //  key 3: delete@1 then upsert@2  -> row must survive as the upsert
    //  key 4: upsert@1, upsert@3      -> latest upsert wins
    //  key 5: upsert@2 vs delete@2    -> exact tie: delete wins (documented)
    val delta = Seq(
      (2, "U2", "upsert", 1L), (2, "x", "delete", 2L),
      (3, "x", "delete", 1L), (3, "U3", "upsert", 2L),
      (4, "OLD", "upsert", 1L), (4, "NEW", "upsert", 3L),
      (5, "U5", "upsert", 2L), (5, "x", "delete", 2L)
    ).toDF("id", "v", "_op", "ts")
    merger.applyCdc(delta, "ns", "cdco", orderCol = Some("ts"))
    val back = cat.read("ns", "cdco").collect()
      .map(x => (x.getInt(0), x.getString(1))).toMap
    assert(!back.contains(2), "insert-then-delete must remove the row")
    assert(back(3) == "U3", "delete-then-insert must keep the later upsert")
    assert(back(4) == "NEW", "latest upsert must win")
    assert(!back.contains(5), "exact-tie resolves to delete")
    assert(back(1) == "a" && back.size == 8, s"got $back")
  }

  test("CDC apply with orderCol: equal-LSN upsert ties resolve by remaining columns") {
    // two upserts for one key at the SAME orderCol value — the winner must
    // be decided by the trailing orderable columns (desc_nulls_last, the
    // dedupeOnKey ordering), never by partition arrival order
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "cdct", Seq((1, "a")).toDF("id", "v"))
    for (shuffled <- Seq(
      Seq((7, "alpha", "upsert", 5L), (7, "zeta", "upsert", 5L)),
      Seq((7, "zeta", "upsert", 5L), (7, "alpha", "upsert", 5L)))) {
      merger.applyCdc(shuffled.toDF("id", "v", "_op", "ts").repartition(4),
        "ns", "cdct", orderCol = Some("ts"))
      val back = cat.read("ns", "cdct").collect()
        .map(x => (x.getInt(0), x.getString(1))).toMap
      assert(back(7) == "zeta", s"tie must resolve to the desc-max row, got ${back(7)}")
    }
  }

  test("CDC apply: a delete-only first delta must NOT create an empty table") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    val delta = Seq((1, "x", "delete")).toDF("id", "v", "_op")
    val r = merger.applyCdc(delta, "ns", "ghost")
    assert(r.strategy.contains("NO-OP"), r.strategy)
    assert(!cat.tableExists("ns", "ghost"),
      "delete-only delta on a missing target created a table")
    assert(r.finalRows == 0L)
    // and the next real delta creates it normally
    val r2 = merger.applyCdc(Seq((1, "a", "upsert")).toDF("id", "v", "_op"), "ns", "ghost")
    assert(r2.strategy.startsWith("CDC CREATE"), r2.strategy)
    assert(cat.read("ns", "ghost").count() == 1)
  }

  test("DELETE is file-scoped: untouched commits keep their dirs byte-identical") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "fd", (1 to 10).map(i => (i, i % 2 == 0)).toDF("id", "drop"))
    cat.write("ns", "fd", (11 to 20).map(i => (i, false)).toDF("id", "drop"), SaveMode.Append)
    val rels = cat.snapshot("ns", "fd").entries
    val before = rels.map(r => r -> dirFingerprint(cat, "ns", "fd", r)).toMap
    cat.delete("ns", "fd", col("drop"))
    val after = cat.snapshot("ns", "fd").entries
    // second commit has no matches → entry + dir untouched
    assert(after.contains(rels(1)) && !after.contains(rels(0)))
    assert(dirFingerprint(cat, "ns", "fd", rels(1)) == before(rels(1)))
    assert(cat.read("ns", "fd").count() == 15)
    assert(cat.read("ns", "fd").filter("drop").count() == 0)
    assert(cat.read("ns", "fd", Some(2)).count() == 20) // time travel intact
  }

  test("UPDATE is file-scoped with pre-update RHS semantics; NULL predicate keeps rows") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "fu", (1 to 10).map(i => (i, i * 10, i * 100)).toDF("id", "a", "b"))
    cat.write("ns", "fu", (11 to 20).map(i => (i, i * 10, i * 100)).toDF("id", "a", "b"),
      SaveMode.Append)
    val rels = cat.snapshot("ns", "fu").entries
    val before = rels.map(r => r -> dirFingerprint(cat, "ns", "fu", r)).toMap
    // SET a = b, b = a swaps (all RHS read the PRE-update row); only the
    // first commit holds matches, so the second stays byte-identical
    cat.update("ns", "fu",
      Seq("a" -> col("b"), "b" -> col("a")), col("id") <= 5)
    val after = cat.snapshot("ns", "fu").entries
    assert(after.contains(rels(1)) && !after.contains(rels(0)))
    assert(dirFingerprint(cat, "ns", "fu", rels(1)) == before(rels(1)))
    val got = cat.read("ns", "fu").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got.take(5) == (1 to 5).map(i => (i, i * 100, i * 10)))
    assert(got.drop(5) == (6 to 20).map(i => (i, i * 10, i * 100)))
    // prior snapshot still time-travels to pre-update values
    assert(cat.read("ns", "fu", Some(2)).filter(col("id") === 1)
      .head().getInt(1) == 10)
    // NULL predicate rows stay unchanged; type preservation casts back
    cat.write("ns", "fu2", Seq((1, Some(5), "x"), (2, None, "y"))
      .toDF("id", "k", "v"))
    cat.update("ns", "fu2", Seq("v" -> lit(7)), col("k") > 0) // 7 cast to string
    val vs = cat.read("ns", "fu2").orderBy("id").collect().map(_.getString(2)).toSeq
    assert(vs == Seq("7", "y"))
    // unknown SET column fails loudly
    val e = intercept[IllegalArgumentException] {
      cat.update("ns", "fu2", Seq("nope" -> lit(1)), lit(true))
    }
    assert(e.getMessage.contains("no such column"))
  }

  test("UPDATE with no matches publishes a metadata-only snapshot") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "un", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val rels = cat.snapshot("ns", "un").entries
    val before = dirFingerprint(cat, "ns", "un", rels.head)
    cat.update("ns", "un", Seq("v" -> lit("z")), col("id") > 99)
    assert(cat.versions("ns", "un") == Seq(1, 2))
    val after = cat.snapshot("ns", "un").entries
    assert(after == rels)
    assert(dirFingerprint(cat, "ns", "un", rels.head) == before)
  }

  test("DELETE with no matches publishes a metadata-only snapshot") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "nm", Seq((1, "keep"), (2, "keep")).toDF("id", "v"))
    val rels = cat.snapshot("ns", "nm").entries
    val before = dirFingerprint(cat, "ns", "nm", rels.head)
    cat.delete("ns", "nm", col("v") === "nothing-matches")
    assert(cat.versions("ns", "nm") == Seq(1, 2))
    val after = cat.snapshot("ns", "nm").entries
    assert(after == rels, "no-match delete must keep every entry verbatim")
    assert(dirFingerprint(cat, "ns", "nm", rels.head) == before)
    assert(cat.rowCount("ns", "nm") == 2)
  }

  test("DELETE of every row leaves an empty, readable table with its schema") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "all", Seq((1, "x"), (2, "y")).toDF("id", "v"))
    cat.delete("ns", "all", lit(true))
    val back = cat.read("ns", "all")
    assert(back.count() == 0)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("merge tolerates NaN/Infinity in a floating-point key column") {
    // NaN bounds can't stats-prune — they must disable pruning, not throw
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    merger.mergeTable(Seq((1.0, "a"), (Double.NaN, "n")).toDF("id", "v"), "ns", "nan")
    val r = merger.mergeTable(
      Seq((1.0, "A"), (Double.PositiveInfinity, "inf")).toDF("id", "v"), "ns", "nan")
    assert(r.strategy.startsWith("MERGE"))
    val back = cat.read("ns", "nan")
    assert(back.filter("id = 1.0 AND v = 'A'").count() == 1)
    assert(back.filter("v = 'n'").count() == 1)   // NaN row untouched
    assert(back.filter("v = 'inf'").count() == 1) // Infinity row inserted
    assert(back.count() == 3)
  }

  test("compactSmall folds only small commits; big ones keep their dirs verbatim") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "cs", (1 to 1000).toDF("id"))                        // big
    cat.write("ns", "cs", Seq(1001).toDF("id"), SaveMode.Append)          // small
    cat.write("ns", "cs", Seq(1002).toDF("id"), SaveMode.Append)          // small
    cat.write("ns", "cs", Seq(1003).toDF("id"), SaveMode.Append)          // small
    val rels = cat.snapshot("ns", "cs").entries
    val bigRel = rels.head
    val bigBefore = dirFingerprint(cat, "ns", "cs", bigRel)
    val v = cat.compactSmall("ns", "cs", smallRowThreshold = 100L)
    assert(v == 5)
    val after = cat.snapshot("ns", "cs").entries
    assert(after.length == 2, s"3 small commits should fold into one: $after")
    assert(after.contains(bigRel) && dirFingerprint(cat, "ns", "cs", bigRel) == bigBefore,
      "the big commit must not be rewritten")
    assert(cat.rowCount("ns", "cs") == 1003)
    // nothing left to fold: metadata no-op returns the current version
    assert(cat.compactSmall("ns", "cs", smallRowThreshold = 100L) == 5)
  }

  test("readAsOf time-travels by wall clock to the snapshot live at that instant") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "ts", Seq(1).toDF("id"))                    // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    cat.write("ns", "ts", Seq(2).toDF("id"), SaveMode.Append)   // v2
    assert(cat.readAsOf("ns", "ts", afterV1).count() == 1)
    assert(cat.readAsOf("ns", "ts", System.currentTimeMillis()).count() == 2)
    val e = intercept[IllegalArgumentException] { cat.readAsOf("ns", "ts", 1000L) }
    assert(e.getMessage.contains("no snapshot"))
  }

  test("rollback republishes an old snapshot as a new version, metadata-only") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "rb", Seq(1, 2).toDF("id"))                          // v1
    cat.write("ns", "rb", Seq(9).toDF("id"), SaveMode.Overwrite)          // v2 (bad deploy)
    val v1Entries = cat.snapshot("ns", "rb", Some(1)).entries
    val v = cat.rollback("ns", "rb", 1)
    assert(v == 3)
    assert(cat.snapshot("ns", "rb", Some(3)).entries == v1Entries, "rollback must republish v1's entries")
    assert(cat.read("ns", "rb").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(cat.read("ns", "rb", Some(2)).collect().map(_.getInt(0)).toSeq == Seq(9),
      "rolled-back-over snapshot stays time-travelable")
    intercept[IllegalArgumentException] { cat.rollback("ns", "rb", 9) }
  }

  test("merge collapses duplicate source keys to ONE deterministic row (MERGE semantics)") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    merger.mergeTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "ns", "dup")
    // source carries id=2 twice: MERGE INTO must update the matched target
    // row once, not keep both duplicates
    merger.mergeTable(Seq((2, "x"), (2, "z"), (3, "c")).toDF("id", "v"), "ns", "dup")
    val back = cat.read("ns", "dup")
    assert(back.count() == 3, "duplicate source keys leaked through the upsert")
    // deterministic winner: max over non-key columns → "z"
    assert(back.filter("id = 2 AND v = 'z'").count() == 1)
  }
}
