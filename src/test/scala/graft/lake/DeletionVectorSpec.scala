package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: a DELETE must cost a positional
  * sidecar, never a data rewrite; readers must subtract marked rows
  * everywhere (plain reads, time travel, band/point reads, merge plans);
  * and materializeDeletes must fold vectors file-scoped.
  */
class DeletionVectorSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_dv").toString)

  private def dataDirState(cat: LakeCatalog, ns: String, t: String): Map[String, Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(s"${cat.root}/$ns/$t/data")
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).flatMap { d =>
      fs.listStatus(d.getPath).map(f =>
        s"${d.getPath.getName}/${f.getPath.getName}" -> f.getModificationTime)
    }.toMap
  }

  test("MoR delete: data dirs byte-untouched, reads and time travel correct, stacking composes") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    cat.write("ns", "t", (101 to 200).map(i => (i, s"v$i")).toDF("id", "v"), SaveMode.Append)
    val before = dataDirState(cat, "ns", "t")

    val v3 = cat.deleteMoR("ns", "t", col("id") <= 10)
    assert(v3 == 3)
    assert(dataDirState(cat, "ns", "t") == before,
      "MoR delete must not touch any data dir")
    assert(cat.read("ns", "t").count() == 190)
    assert(cat.read("ns", "t", Some(2)).count() == 200, "time travel sees pre-delete rows")
    assert(cat.rowCount("ns", "t") == 190, "metadata-only rowCount must subtract vectors")

    // overlapping second delete must not double-mark rows 6..10
    cat.deleteMoR("ns", "t", col("id") <= 20)
    assert(cat.read("ns", "t").count() == 180)
    assert(cat.rowCount("ns", "t") == 180)
    assert(dataDirState(cat, "ns", "t") == before)

    // no-match delete publishes a metadata-only snapshot
    val vNoop = cat.deleteMoR("ns", "t", col("id") > 99999)
    assert(cat.read("ns", "t", Some(vNoop)).count() == 180)

    // null-predicate rows are KEPT (SQL DELETE semantics)
    cat.deleteMoR("ns", "t", when(col("id") > 150, true))
    assert(cat.read("ns", "t").count() == 130)
  }

  test("materializeDeletes folds vectors file-scoped: untouched commits stay byte-identical") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 100).map(i => (i, "a")).toDF("id", "v"))
    cat.write("ns", "t", (101 to 200).map(i => (i, "b")).toDF("id", "v"), SaveMode.Append)
    cat.deleteMoR("ns", "t", col("id") <= 10) // marks rows only in commit 1
    val before = dataDirState(cat, "ns", "t")
    val untouchedRel = cat.snapshot("ns", "t").data.last // commit 2: no marks

    cat.materializeDeletes("ns", "t")
    val post = cat.snapshot("ns", "t")
    assert(post.dvs.isEmpty, "vectors must be gone after materialize")
    assert(post.entries.contains(untouchedRel), "unmarked commit keeps its entry verbatim")
    val after = dataDirState(cat, "ns", "t")
    val untouchedFiles = before.keySet.filter(_.startsWith(untouchedRel.stripPrefix("data/")))
    untouchedFiles.foreach { f =>
      assert(after(f) == before(f), s"unmarked commit file $f was rewritten")
    }
    assert(cat.read("ns", "t").count() == 190)
    assert(cat.rowCount("ns", "t") == 190)
    // idempotent when vector-free
    val v = cat.versions("ns", "t").last
    assert(cat.materializeDeletes("ns", "t") == v)
  }

  test("MERGE on a vectored table neither resurrects deleted rows nor over-selects commits") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "t", (1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    cat.deleteMoR("ns", "t", col("id") <= 5)
    // upsert touches id 6 (live) — the rewrite of commit 1 must NOT bring
    // back ids 1..5, whose deletion exists only as a vector
    merger.mergeTable(Seq((6, "NEW6"), (999, "v999")).toDF("id", "v"), "ns", "t")
    val rows = cat.read("ns", "t").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size == 46, s"expected 46 rows, got ${rows.size}")
    assert(!rows.contains(1) && !rows.contains(5), "vector-deleted rows resurrected by merge")
    assert(rows(6) == "NEW6" && rows(999) == "v999")
    // the merge rewrite replaced the only marked commit → vectors pruned
    assert(cat.snapshot("ns", "t").dvs.isEmpty,
      "vectors referencing a rewritten commit must be pruned")
  }

  test("CoW delete and band/point reads subtract vectors") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 100).map(i => (i, i * 10)).toDF("id", "amt"))
    cat.deleteMoR("ns", "t", col("id") === 7)
    assert(cat.readWhere("ns", "t", "id", 1, 10).count() == 9)
    cat.buildBlooms("ns", "t", "id")
    assert(cat.readWhereIn("ns", "t", "id", Seq(6, 7, 8)).count() == 2)
    cat.delete("ns", "t", col("id") === 8) // CoW on a vectored table
    val ids = cat.read("ns", "t").collect().map(_.getInt(0)).toSet
    assert(!ids.contains(7) && !ids.contains(8) && ids.size == 98)
  }

  test("MV refresh treats a vector commit as non-append-only (full recompute)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "base", Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "amt"))
    val mv = new MaterializedView(cat)
    mv.create("ns", "view", "ns", "base", Seq("k"),
      Seq(MaterializedView.MvAgg("sum_money", "amt", "total")), countAs = "n")
    cat.deleteMoR("ns", "base", col("amt") === 2.0)
    assert(!cat.snapshot("ns", "base", Some(1)).diff(cat.snapshot("ns", "base", Some(2))).appendOnly,
      "a vector commit is a logical delete, not an append")
    mv.refresh("ns", "view")
    val rows = cat.read("ns", "view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("a" -> 1L, "b" -> 1L))
  }

  test("vectors interoperate with z-ordered tables (deeper manifest entries)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.writeClustered("ns", "z",
      (1 to 2000).map(i => (i, i % 50, i * 1.0)).toDF("id", "grp", "x"),
      Seq("id"), commits = 8)
    cat.deleteMoR("ns", "z", col("id") <= 100)
    assert(cat.read("ns", "z").count() == 1900)
    assert(cat.readWhere("ns", "z", "id", 1, 200).count() == 100)
    val preData = cat.snapshot("ns", "z").data
    cat.materializeDeletes("ns", "z")
    val post = cat.snapshot("ns", "z")
    assert(post.dvs.isEmpty)
    assert(cat.read("ns", "z").count() == 1900)
    // only z-buckets containing marked rows were rewritten
    val survivors = preData.toSet.intersect(post.data.toSet)
    assert(survivors.nonEmpty, "unmarked z-bucket entries must survive verbatim")
    // CoW delete on the z table still correct post-materialize
    cat.delete("ns", "z", col("id") === 101)
    assert(cat.read("ns", "z").count() == 1899)
  }

  test("dv broadcast is cardinality-guarded: a large vector drops the hint and still reads correctly") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 1000).map(i => (i, i * 2)).toDF("id", "x"))
    cat.deleteMoR("ns", "t", col("id") <= 500)
    // disable the planner's own broadcast threshold so the ONLY way the
    // join can be broadcast is the catalog's explicit hint — this isolates
    // the guard decision from the tiny test-data sizes
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // under the cap (500 marked rows << default 1M): hint forces broadcast
      val p1 = cat.read("ns", "t").queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"),
        s"small vectors must keep the broadcast anti-join:\n$p1")
      // over the cap: hint dropped, planner falls back to a shuffled anti-join
      spark.conf.set("graft.lake.dv.broadcastMaxRows", "10")
      val p2 = cat.read("ns", "t").queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin") && p2.contains("LeftAnti"),
        s"oversized vectors must not be force-broadcast:\n$p2")
      assert(cat.read("ns", "t").count() == 500,
        "shuffle-path read must subtract the same rows")
      // deleteMoR's already-marked subtraction takes the same guarded path
      cat.deleteMoR("ns", "t", col("id") <= 600)
      assert(cat.read("ns", "t").count() == 400)
    } finally {
      spark.conf.unset("graft.lake.dv.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("auto-materialize valve: vectors past the ceiling fold themselves, restoring broadcast reads") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 500).map(i => (i, i * 2)).toDF("id", "x"))
    cat.write("ns", "t", (501 to 1000).map(i => (i, i * 2)).toDF("id", "x"),
      SaveMode.Append)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("graft.lake.dv.broadcastMaxRows", "100")
    try {
      // below the ceiling, opt-in set: delete stays a cheap vector commit
      spark.conf.set("graft.lake.dv.autoMaterialize", "true")
      cat.deleteMoR("ns", "t", col("id") <= 50)
      assert(cat.snapshot("ns", "t").entries.exists(_.startsWith("dv/")),
        "under-ceiling deletes must stay merge-on-read")
      // past the ceiling: the valve folds ALL vectors in the same call
      cat.deleteMoR("ns", "t", col("id") <= 200)
      val entries = cat.snapshot("ns", "t").entries
      assert(!entries.exists(_.startsWith("dv/")),
        s"valve must fold vectors past the ceiling, entries=$entries")
      assert(cat.read("ns", "t").count() == 800)
      // the fold restores the vector-free scan: no anti-join in the plan
      // at all (strictly better than re-earning the broadcast hint)
      val p = cat.read("ns", "t").queryExecution.executedPlan.toString
      assert(!p.contains("LeftAnti"), s"post-fold reads must scan plain:\n$p")
      // only the marked commit was rewritten: the second commit's files
      // survive with their manifest entry (500 untouched high rows)
      assert(cat.read("ns", "t").filter(col("id") > 500).count() == 500)
      // opt-out default: same shape WITHOUT the conf keeps vectors
      spark.conf.unset("graft.lake.dv.autoMaterialize")
      cat.deleteMoR("ns", "t", col("id") <= 400)
      assert(cat.snapshot("ns", "t").entries.exists(_.startsWith("dv/")),
        "without the opt-in conf the valve must stay closed")
    } finally {
      spark.conf.unset("graft.lake.dv.autoMaterialize")
      spark.conf.unset("graft.lake.dv.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("expiry reclaims vector dirs with their snapshots; orphan vacuum covers dv/") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", (1 to 20).map(i => (i, i)).toDF("id", "x"))
    cat.deleteMoR("ns", "t", col("id") <= 5)
    cat.materializeDeletes("ns", "t")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val dvRoot = new org.apache.hadoop.fs.Path(s"${cat.root}/ns/t/dv")
    assert(fs.exists(dvRoot) && fs.listStatus(dvRoot).nonEmpty)
    cat.expireSnapshots("ns", "t", keepLast = 1)
    assert(fs.listStatus(dvRoot).isEmpty,
      "expired snapshots' vector dirs must be vacuumed")
    assert(cat.read("ns", "t").count() == 15)
  }
}
