package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Pins the Z-order clustering contract: band queries prune commits on
  * EVERY clustered column, results stay exact, and the nested manifest
  * entries survive vacuum/expiry.
  */
class ZOrderSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_zorder").toString)

  // two INDEPENDENT uniform dimensions — the adversarial case for
  // single-column sorting, the home turf of a space-filling curve
  private def grid() = {
    import spark.implicits._
    (0 until 10000).map { i =>
      val x = (i * 7919) % 1000   // pseudo-random but deterministic
      val y = (i * 104729) % 1000
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
  }

  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Int =
    df.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length

  test("z-ordered table prunes commits on BOTH clustered dimensions") {
    val cat = freshCatalog()
    val df = grid()
    cat.writeClustered("ns", "zt", df, Seq("x", "y"), commits = 16)
    val entries = cat.snapshot("ns", "zt").entries
    assert(entries.length > 4, s"expected many z-bucket entries, got ${entries.length}")
    // full contents intact
    assert(cat.read("ns", "zt").count() == 10000)

    // a narrow band on x alone must NOT touch every commit...
    val qx = cat.readWhere("ns", "zt", "x", 0, 99)
    assert(scannedDirs(qx) < entries.length / 2,
      s"x-band scanned ${scannedDirs(qx)} of ${entries.length} commits — no pruning")
    // ...and neither must a band on y — the property single-column
    // sorting cannot give
    val qy = cat.readWhere("ns", "zt", "y", 0, 99)
    assert(scannedDirs(qy) < entries.length / 2,
      s"y-band scanned ${scannedDirs(qy)} of ${entries.length} commits — no pruning")

    // exactness: pruned reads equal brute-force filters
    assert(qx.count() == df.filter("x BETWEEN 0 AND 99").count())
    assert(qy.count() == df.filter("y BETWEEN 0 AND 99").count())
    val q2 = cat.readWhere("ns", "zt", "x", 500, 599).filter(col("y").between(500, 599))
    assert(q2.count() == df.filter("x BETWEEN 500 AND 599 AND y BETWEEN 500 AND 599").count())
  }

  test("clustered commits interoperate: append, time travel, vacuum, expiry") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.writeClustered("ns", "t", grid(), Seq("x", "y"), commits = 8) // v1
    val v1Count = cat.read("ns", "t").count()
    // plain append on top of a clustered snapshot
    cat.write("ns", "t", Seq((99999L, 1, 1)).toDF("id", "x", "y"), SaveMode.Append) // v2
    assert(cat.read("ns", "t").count() == v1Count + 1)
    assert(cat.read("ns", "t", Some(1)).count() == v1Count)
    // vacuum must NOT reclaim the clustered commit's parent dir (entries
    // reference subdirs of it)
    assert(cat.vacuumOrphans("ns", "t", graceMs = 0L) == 0)
    assert(cat.read("ns", "t").count() == v1Count + 1)
    // expiry reclaims clustered data once unreferenced
    cat.write("ns", "t", Seq((1L, 2, 2)).toDF("id", "x", "y"), SaveMode.Overwrite) // v3
    assert(cat.expireSnapshots("ns", "t", keepLast = 1) > 0)
    assert(cat.read("ns", "t").count() == 1)
  }

  test("z-order degenerate shapes: null values, constant columns, recluster") {
    val cat = freshCatalog()
    import spark.implicits._
    // nulls in a cluster column land in a bucket (rank 0) and survive
    val withNulls = Seq((1L, Some(10), 5), (2L, None, 7), (3L, Some(20), 9))
      .toDF("id", "x", "y")
    cat.writeClustered("ns", "n", withNulls, Seq("x", "y"), commits = 4)
    assert(cat.read("ns", "n").count() == 3)
    assert(cat.read("ns", "n").filter("x IS NULL").count() == 1)
    // a constant column collapses every rank to one value: still correct,
    // just one bucket on that dimension
    val const = (1 to 100).map(i => (i.toLong, 7, i)).toDF("id", "x", "y")
    cat.writeClustered("ns", "c", const, Seq("x", "y"), commits = 4)
    assert(cat.read("ns", "c").count() == 100)
    assert(cat.readWhere("ns", "c", "y", 1, 10).count() == 10)
    // recluster restores bucket structure after an unclustered merge commit
    val merger = new TableMerger(cat)
    merger.mergeTable((1 to 50).map(i => (i.toLong, 7, i + 1000)).toDF("id", "x", "y"),
      "ns", "c")
    val v = cat.recluster("ns", "c", Seq("x", "y"), commits = 4)
    assert(cat.versions("ns", "c").last == v)
    assert(cat.read("ns", "c").count() == 100) // 50 updated in place, 50 kept
    assert(cat.readWhere("ns", "c", "y", 1001, 1010).count() == 10)
  }

  test("bloom sidecars prune point lookups where min/max ranges cannot") {
    val cat = freshCatalog()
    import spark.implicits._
    // two commits with IDENTICAL id ranges but disjoint membership —
    // range pruning is blind here, blooms are not
    cat.write("ns", "bl", (0 until 1000 by 2).map(i => (i, "even")).toDF("id", "v"))
    cat.write("ns", "bl", (1 until 1000 by 2).map(i => (i, "odd")).toDF("id", "v"),
      SaveMode.Append)
    // before blooms: both commits scanned (range can't discriminate)
    val before = cat.readWhereIn("ns", "bl", "id", Seq(4))
    assert(before.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 2)
    assert(cat.buildBlooms("ns", "bl", "id") == 2)
    assert(cat.buildBlooms("ns", "bl", "id") == 0) // idempotent: already covered
    val q = cat.readWhereIn("ns", "bl", "id", Seq(4))
    assert(q.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length == 1,
      "bloom must rule out the odd-ids commit")
    assert(q.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((4, "even")))
    // multi-value lookup spanning both commits scans both, returns both
    val q2 = cat.readWhereIn("ns", "bl", "id", Seq(4, 7))
    assert(q2.collect().map(_.getInt(0)).sorted.toSeq == Seq(4, 7))
    // a value no commit holds: bloom prunes everything, schema preserved
    val none = cat.readWhereIn("ns", "bl", "id", Seq(5000))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
  }

  test("multi-file commits with Infinity/NaN doubles write stats without crashing") {
    val cat = freshCatalog()
    import spark.implicits._
    // 2+ part files so cross-file bound accumulation runs; one file holds
    // non-finite doubles — column must degrade to unsupported, not throw
    val df = Seq((1L, 1.5), (2L, Double.PositiveInfinity), (3L, Double.NaN), (4L, 2.5))
      .toDF("id", "x").repartition(2)
    cat.write("ns", "inf", df)
    assert(cat.rowCount("ns", "inf") == 4)
    val rels = cat.snapshot("ns", "inf").entries
    val stats = cat.commitStats("ns", "inf", rels.head)
    assert(stats.isDefined && stats.get._1 == 4)
    // id column keeps bounds; band reads stay correct either way
    assert(cat.readWhere("ns", "inf", "id", 1, 2).count() == 2)
  }

  test("5-column z-order with 4096 buckets stays in range (Long morton arithmetic)") {
    val cat = freshCatalog()
    import spark.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong, i % 97, (i * 7) % 89, (i * 13) % 83, (i * 17) % 79, (i * 19) % 73)
    }.toDF("id", "a", "b", "c", "d", "e")
    // 5 cols x 4 bits = 2^20 morton cells; x 4096 overflows Int — must not
    // produce negative/garbage bucket ids
    cat.writeClustered("ns", "wide", df, Seq("a", "b", "c", "d", "e"), commits = 4096)
    val entries = cat.snapshot("ns", "wide").entries
    val ids = entries.map(_.split("_zbucket=").last.toInt)
    assert(ids.forall(i => i >= 0 && i < 4096), s"bucket ids out of range: ${ids.take(5)}")
    assert(cat.read("ns", "wide").count() == 200)
  }

  test("bloom probes tolerate mismatched value types (no false prune, no crash)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "bt", Seq((42L, "x"), (43L, "y")).toDF("id", "v"))
    assert(cat.buildBlooms("ns", "bt", "id") == 1)
    // string probe against the long-keyed bloom: normalized, still found
    assert(cat.readWhereIn("ns", "bt", "id", Seq("42")).count() == 1)
    // double probe: not bloom-testable — conservative scan, correct result
    assert(cat.readWhereIn("ns", "bt", "id", Seq(42.0)).count() == 1)
    // and on a STRING column, an int probe normalizes to the string hash
    cat.write("ns", "bs", Seq(("7", "a"), ("8", "b")).toDF("k", "v"))
    assert(cat.buildBlooms("ns", "bs", "k") == 1)
    assert(cat.readWhereIn("ns", "bs", "k", Seq(7)).count() == 1)
  }

  test("file-scoped DELETE rewrites only the z-buckets holding matches") {
    val cat = freshCatalog()
    cat.writeClustered("ns", "d", grid(), Seq("x", "y"), commits = 16)
    val before = cat.snapshot("ns", "d").entries
    cat.delete("ns", "d", col("x") < 50 && col("y") < 50)
    val after = cat.snapshot("ns", "d").entries
    val kept = before.toSet & after.toSet
    assert(kept.nonEmpty, "a corner delete must leave far-corner z-buckets untouched")
    assert(cat.read("ns", "d").filter("x < 50 AND y < 50").count() == 0)
    assert(cat.read("ns", "d").count() ==
      grid().filter("NOT (x < 50 AND y < 50)").count())
  }

  test("recluster keeps the table's txn marks: a replayed batch stays a no-op") {
    import spark.implicits._
    val cat = freshCatalog()
    def rows(ids: Range) = ids.map(i => (i.toLong, i % 13, i % 29)).toDF("id", "x", "y")
    cat.write("ns", "t", rows(1 to 200))
    assert(cat.writeTxn("ns", "t", "app", 5L, rows(201 to 220)).nonEmpty)
    cat.recluster("ns", "t", Seq("x", "y"), commits = 4)
    assert(cat.txnVersion("ns", "t", "app").contains(5L))
    assert(cat.writeTxn("ns", "t", "app", 5L, rows(201 to 220)).isEmpty)
    assert(cat.read("ns", "t").count() == 220)
  }
}
