package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the stats-pruning comparison contract: every probe must be rendered
  * and ordered EXACTLY as the sidecar bounds were (Spark cast-to-string
  * formatting, unsigned UTF-8 byte order). A formatting or collation
  * mismatch here doesn't fail loudly — it falsely prunes a commit that
  * holds matches, and through the MERGE plan phase that becomes silent
  * duplicate key rows.
  */
class StatsPruningSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_prune").toString)

  // U+E000 (private use, 3-byte UTF-8 EE 80 80) vs U+1F600 (emoji,
  // surrogate pair in UTF-16, 4-byte UTF-8 F0 9F 98 80): UTF-16 code-unit
  // order puts the emoji FIRST (D83D < E000), UTF-8 byte order puts it
  // LAST (F0 > EE) — the divergence every string-stats compare must handle.
  private val HighBmp = ""
  private val Emoji = "😀"
  private val MidBmp = "" // EF 80 80: between the two in UTF-8 only

  test("statsMayOverlap compares string bounds in UTF-8 byte order") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "s", Seq((HighBmp, 1), (Emoji, 2)).toDF("k", "v"))
    val rels = cat.snapshot("ns", "s").entries
    // sidecar bounds are [U+E000, emoji] in UTF-8 order; the probe sits
    // between them in UTF-8 but ABOVE the max in UTF-16 — a UTF-16
    // compare would falsely prune this commit
    assert(cat.statsMayOverlap("ns", "s", rels.head, "k", MidBmp, MidBmp),
      "commit with range [U+E000, U+1F600] must not be pruned for a U+F000 probe")
    // genuine non-overlap still prunes (below the min in both orders)
    assert(!cat.statsMayOverlap("ns", "s", rels.head, "k", "A", "B"))
  }

  test("merge with a supplementary-character key rewrites the right commit (no silent duplicates)") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "u", Seq((HighBmp, "old-a"), (Emoji, "old-b")).toDF("id", "v"))
    // delta updates the emoji key: the sorted delta-key binary search
    // against the commit's [min=U+E000, max=emoji] bounds must agree with
    // the order that PRODUCED those bounds, or the commit is skipped and
    // the update lands as a duplicate insert
    merger.mergeTable(Seq((Emoji, "NEW-b")).toDF("id", "v"), "ns", "u")
    val out = cat.read("ns", "u").collect()
    assert(out.length == 2, s"expected 2 rows, got ${out.length} — duplicate keys after merge")
    assert(out.count(r => r.getString(0) == Emoji && r.getString(1) == "NEW-b") == 1)
    assert(out.count(r => r.getString(0) == HighBmp && r.getString(1) == "old-a") == 1)
  }

  test("bounds-fallback merge with a timestamp key matches the sidecar's rendering") {
    val cat = freshCatalog()
    // cap of 1 forces the large-delta [min, max] bounds fallback
    val merger = new TableMerger(cat, DeltaKeyCollectCap = 1L)
    import spark.implicits._
    // exact-second timestamps: the stats sidecar renders them WITHOUT a
    // fractional part ('…10:00:00'); a probe rendered via JVM
    // Timestamp.toString ('…10:00:00.0') compares lexicographically ABOVE
    // the sidecar max and falsely prunes the commit holding the key
    val base = Seq(("2024-01-01 10:00:00", "old1"), ("2024-01-01 11:00:00", "old2"))
      .toDF("ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    cat.write("ns", "t", base)
    val delta = Seq(("2024-01-01 10:00:00", "NEW1"), ("2024-01-01 11:00:00", "NEW2"))
      .toDF("ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    merger.mergeTable(delta, "ns", "t", key = Some("ts"))
    val out = cat.read("ns", "t").collect()
    assert(out.length == 2, s"expected 2 rows, got ${out.length} — duplicate keys after merge")
    assert(out.forall(_.getString(1).startsWith("NEW")), "matched rows must carry the delta values")
  }

  test("DELETE works on a table that genuinely contains a _graft_commit column") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "c",
      Seq((1, "keep"), (2, "drop"), (3, "keep")).toDF("id", "_graft_commit"))
    // a colliding internal tag would shadow the user column during
    // scan-to-plan: the predicate would evaluate against the injected
    // commit-dir literal and never match
    cat.delete("ns", "c", col("_graft_commit") === "drop")
    val out = cat.read("ns", "c").collect()
    assert(out.length == 2, s"expected 2 rows after delete, got ${out.length}")
    assert(out.forall(_.getString(1) == "keep"))
  }

  test("MERGE works on a table that genuinely contains a _graft_commit column") {
    val cat = freshCatalog()
    val merger = new TableMerger(cat)
    import spark.implicits._
    cat.write("ns", "m", Seq((1, "a"), (2, "b")).toDF("id", "_graft_commit"))
    merger.mergeTable(Seq((2, "B2"), (3, "c")).toDF("id", "_graft_commit"), "ns", "m")
    val out = cat.read("ns", "m").collect().sortBy(_.getInt(0))
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "B2"), (3, "c")))
  }

  test("freshTag steps around existing _graft_commit columns") {
    assert(StatsOrder.freshTag(Seq("id", "v")) == "_graft_commit")
    assert(StatsOrder.freshTag(Seq("id", "_graft_commit")) == "_graft_commit_1")
    assert(StatsOrder.freshTag(Seq("_graft_commit", "_graft_commit_1")) == "_graft_commit_2")
  }
}
