package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The file-scoped changelog (r12) must equal the whole-snapshot diff —
  * row for row, multiplicity included — across every commit shape the
  * engine produces, while reading only the dirs that actually changed.
  */
class ChangelogScopedSpec extends SparkSpec {

  private def freshCatalog(): LakeCatalog =
    LakeCatalog(spark, Files.createTempDirectory("graft_cl").toString)

  /** the pre-r12 semantics, computed independently */
  private def fullDiff(cat: LakeCatalog, ns: String, t: String,
      fromV: Int, toV: Int): DataFrame = {
    val before = cat.read(ns, t, Some(fromV))
    val after = cat.read(ns, t, Some(toV))
    after.exceptAll(before).withColumn("_change", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("_change", lit("delete")))
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Long] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def assertScopedEqualsFull(cat: LakeCatalog, ns: String, t: String,
      fromV: Int, toV: Int): Unit = {
    val scoped = cat.changelog(ns, t, fromV, toV)
    val full = fullDiff(cat, ns, t, fromV, toV)
    assert(scoped.columns.sorted.toSeq == full.columns.sorted.toSeq)
    assert(multiset(scoped.select(full.columns.map(col).toSeq: _*)) == multiset(full),
      s"scoped changelog v$fromV->v$toV diverged from the whole-snapshot diff")
  }

  test("append window: scoped diff equals full and reads only the new commit") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("cl", "t", (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("cl", "t", (51 to 80).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    assertScopedEqualsFull(cat, "cl", "t", 1, 2)
    // IO scope: the scoped plan's input files come from the added dir only
    val files = cat.changelog("cl", "t", 1, 2).inputFiles
    assert(files.nonEmpty && files.length < cat.read("cl", "t").inputFiles.length,
      "append changelog must not scan the base commit")
  }

  test("CoW delete (rewrite) window equals full; duplicates keep multiplicity") {
    import spark.implicits._
    val cat = freshCatalog()
    // duplicate rows on purpose: multiset semantics must hold
    val dup = ((1 to 40) ++ (30 to 40)).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    cat.write("cl", "t", dup)
    cat.write("cl", "t", (41 to 60).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.delete("cl", "t", col("id") % 5 === 0)
    val vs = cat.versions("cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", vs(1), vs(2))
    assertScopedEqualsFull(cat, "cl", "t", vs(0), vs(2))
  }

  test("MoR delete window: dv delta reads only the marked dirs") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("cl", "t", (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("id", "x"))
    cat.write("cl", "t", (61 to 120).map(i => (i.toLong, i * 2.0)).toDF("id", "x"),
      SaveMode.Append)
    cat.deleteMoR("cl", "t", col("id") <= 30) // marks rows of commit 1 only
    val vs = cat.versions("cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", vs(1), vs(2))
    // stacked second vector
    cat.deleteMoR("cl", "t", col("id") % 7 === 0)
    val vs2 = cat.versions("cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", vs2(2), vs2(3))
    assertScopedEqualsFull(cat, "cl", "t", vs2(0), vs2(3))
  }

  test("rollback (dv unmark direction) and compaction windows equal full") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("cl", "t", (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.deleteMoR("cl", "t", col("id") % 4 === 0)
    cat.rollback("cl", "t", 1) // v3: shared dirs, dv DROPPED -> inserts
    val vs = cat.versions("cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", vs(1), vs(2))
    cat.compact("cl", "t") // full rewrite, no row change
    val vs2 = cat.versions("cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", vs2(2), vs2(3))
    assert(cat.changelog("cl", "t", vs2(2), vs2(3)).count() == 0)
  }

  test("metadata-only window (tag/no-match delete) diffs to empty with zero IO") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("cl", "t", (1 to 30).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.delete("cl", "t", col("id") > 1000) // no-match: metadata-only version
    val vs = cat.versions("cl", "t")
    val cl = cat.changelog("cl", "t", vs(0), vs(1))
    assert(cl.count() == 0)
    assert(cl.inputFiles.isEmpty, "identical snapshots must diff without any scan")
  }

  test("MERGE upsert window (the CDC scenario shape) equals full") {
    import spark.implicits._
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    merger.mergeTable((1 to 60).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "cl", "t")
    merger.mergeTable((30 to 90).map(i => (i.toLong, i * 10.0)).toDF("id", "v"),
      "cl", "t")
    assertScopedEqualsFull(cat, "cl", "t", 1, 2)
  }

  test("window across ADD COLUMN: changelog and readIncremental align both sides by name") {
    import spark.implicits._
    val cat = freshCatalog()
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    cat.write("cl", "t", rows(1 to 10))
    cat.write("cl", "t", rows(6 to 15)) // CTAS over the old rows
    cat.write("cl", "t", rows(16 to 20), SaveMode.Append)
    cat.addColumn("cl", "t", "note", org.apache.spark.sql.types.StringType)
    cat.write("cl", "t", (21 to 25).map(i => (i.toLong, i * 1.0, s"n$i")).toDF("id", "x", "note"),
      SaveMode.Append)
    val v = cat.versions("cl", "t").last
    def row(i: Int, note: String): Seq[Any] = Seq(i.toLong, i * 1.0, note)
    val inserts = (11 to 20).map(row(_, null)) ++ (21 to 25).map(i => row(i, s"n$i"))
    val deletes = (1 to 5).map(row(_, null))
    def counted(rs: Seq[Seq[Any]]) = rs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(multiset(cat.changelog("cl", "t", 1, v).select("id", "x", "note", "_change")) ==
      counted(inserts.map(_ :+ "insert") ++ deletes.map(_ :+ "delete")))
    assert(multiset(cat.readIncremental("cl", "t", 1, v).select("id", "x", "note")) ==
      counted(inserts))
  }
}
