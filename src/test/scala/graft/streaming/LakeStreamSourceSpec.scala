package graft.streaming

import graft.SparkSpec
import graft.lake.LakeCatalog
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.graft.LakeStreamSource

/** E22: a lake table as a streaming source. getBatch is exercised both
  * DIRECTLY (window semantics, plan shape — deterministic, no streaming
  * engine) and through a real MicroBatchExecution run (offset checkpoint
  * round-trip + the isStreaming contract).
  */
class LakeStreamSourceSpec extends SparkSpec {

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_lss_")

  private def rows(n: Int, from: Int = 0): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"r$i", i * 2.0)).toDF("id", "name", "v")
  }

  /** Execute a getBatch frame as a batch (strip the streaming tag). */
  private def exec(df: DataFrame): DataFrame = GraftBridge.asBatch(df)

  private def src(cat: LakeCatalog, ns: String, t: String,
      opts: Map[String, String] = Map.empty): LakeStreamSource =
    new LakeStreamSource(spark, cat.root, ns, t, opts)

  /** A source with a checkpoint metadata path (position persistence on). */
  private def src2(cat: LakeCatalog, ns: String, t: String,
      opts: Map[String, String], meta: String): LakeStreamSource =
    new LakeStreamSource(spark, cat.root, ns, t, opts, meta)

  test("initial snapshot batch equals the table; appends stream only the delta") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "t", rows(10))
    cat.write("s", "t", rows(5, 10), SaveMode.Append)
    val s = src(cat, "s", "t")
    assert(s.getOffset.contains(LongOffset(2L)))

    val initial = s.getBatch(None, LongOffset(2L))
    assert(initial.isStreaming, "v1 batches must carry isStreaming")
    assert(exec(initial).count() === 15)

    cat.write("s", "t", rows(3, 15), SaveMode.Append)
    assert(s.getOffset.contains(LongOffset(3L)))
    val delta = s.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    assert(delta.isStreaming)
    assert(exec(delta).select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (15L until 18L))
  }

  test("append-window batches stay declarative: filters push into the parquet scan") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "p", rows(10))
    cat.write("s", "p", rows(10, 10), SaveMode.Append)
    val s = src(cat, "s", "p")
    val delta = exec(s.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
      .filter(col("id") === 12L)
    val physical = delta.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(id), EqualTo(id,12)"),
      s"expected pushed filter in:\n$physical")
    assert(delta.count() === 1)
  }

  test("non-append windows fail loudly; ignoreChanges streams the added dirs") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "c", rows(10))
    val s = src(cat, "s", "c")
    // overwrite removes v1's dir
    cat.write("s", "c", rows(4, 100))
    val e = intercept[IllegalStateException] {
      s.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    }
    assert(e.getMessage.contains("not append-only"))
    val tolerant = src(cat, "s", "c", Map("ignorechanges" -> "true"))
    assert(exec(tolerant.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === (100L until 104L))
  }

  test("a deletion-vector change is a non-append window") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "d", rows(10))
    val s = src(cat, "s", "d")
    cat.deleteMoR("s", "d", col("id") < 3)
    val e = intercept[IllegalStateException] {
      s.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    }
    assert(e.getMessage.contains("dvChanged=true"))
  }

  test("initial snapshot applies deletion vectors") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "dv", rows(10))
    cat.deleteMoR("s", "dv", col("id") < 4)
    val s = src(cat, "s", "dv")
    val initial = s.getBatch(None, LongOffset(2L))
    assert(initial.isStreaming)
    assert(exec(initial).select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (4L until 10L))
  }

  test("startingVersion=latest streams only post-start commits; int starts at that version's delta") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "sv", rows(10))
    cat.write("s", "sv", rows(5, 10), SaveMode.Append)
    val fromLatest = src(cat, "s", "sv", Map("startingversion" -> "latest"))
    cat.write("s", "sv", rows(2, 15), SaveMode.Append)
    val b = exec(fromLatest.getBatch(None, LongOffset(3L)))
    assert(b.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(15L, 16L))
    // startingVersion=2: deltas from version 2 on (not the v1 snapshot)
    val fromV2 = src(cat, "s", "sv", Map("startingversion" -> "2"))
    assert(exec(fromV2.getBatch(None, LongOffset(3L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === (10L until 17L))
  }

  test("an expired start version fails loudly") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "ex", rows(4))
    val s = src(cat, "s", "ex")
    cat.write("s", "ex", rows(4, 4), SaveMode.Append)
    cat.write("s", "ex", rows(4, 8), SaveMode.Append)
    cat.expireSnapshots("s", "ex", keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      s.getBatch(Some(LongOffset(1L)), LongOffset(3L))
    }
    assert(e.getMessage.contains("expired"))
  }

  test("end-to-end through the engine: initial snapshot, then a restart consumes only the appended window") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "e2e", rows(20))
    val cp = root.resolve("cp").toString
    val outDir = root.resolve("out").toString
    def runOnce(): Unit = {
      val q = EventStreams.readLakeStream(spark, cat.root, "s", "e2e")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() === 20)
    cat.write("s", "e2e", rows(7, 20), SaveMode.Append)
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() === 27, "restart must consume exactly the delta, not re-emit the snapshot")
    assert(all.select("id").distinct().count() === 27)
  }

  test("maxVersionsPerTrigger bounds each window; a restart learns the committed position") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "rl", rows(2))
    cat.write("s", "rl", rows(2, 2), SaveMode.Append)
    cat.write("s", "rl", rows(2, 4), SaveMode.Append)
    val s = src(cat, "s", "rl", Map("maxversionspertrigger" -> "1"))
    // trigger 1: the capped initial snapshot (v1 only)
    assert(s.getOffset.contains(LongOffset(1L)))
    assert(exec(s.getBatch(None, LongOffset(1L))).count() === 2)
    // triggers 2/3: one version per window
    assert(s.getOffset.contains(LongOffset(2L)))
    assert(exec(s.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(s.getOffset.contains(LongOffset(3L)))
    // a fresh instance (restart) re-learns the committed position from the
    // engine's recovery commit — the capped offset never regresses
    val restarted = src(cat, "s", "rl", Map("maxversionspertrigger" -> "1"))
    restarted.commit(LongOffset(2L))
    assert(restarted.getOffset.contains(LongOffset(3L)))
  }

  test("maxFilesPerTrigger splits the initial snapshot into bounded dir slices; restart mid-snapshot resumes") {
    import org.apache.spark.sql.graft.LakeStreamSource.{Pos, SlicedOffset}
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    // 5 commits = 5 dirs, then ONE source sees them as a single v5 snapshot
    (0 until 5).foreach(i =>
      cat.write("s", "mf", rows(4, i * 4), if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    val s = src(cat, "s", "mf", Map("maxfilespertrigger" -> "2"))
    // trigger 1: dirs (0, 2] of the snapshot at v5
    val o1 = s.getOffset.get
    assert(o1 === SlicedOffset(Pos(5, 2, snap = true)), s"got $o1")
    val b1 = exec(s.getBatch(None, o1))
    assert(b1.count() === 8)
    // trigger 2: dirs (2, 4]
    val o2 = s.getOffset.get
    assert(o2 === SlicedOffset(Pos(5, 4, snap = true)))
    val b2 = exec(s.getBatch(Some(o1), o2))
    assert(b2.count() === 8)
    // a RESTART mid-snapshot: a fresh source replays the pending window
    // from the logged offsets alone (no in-memory state)
    val restarted = src(cat, "s", "mf", Map("maxfilespertrigger" -> "2"))
    val b2r = exec(restarted.getBatch(Some(o1), o2))
    assert(b2r.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      b2.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // trigger 3: the final slice completes the snapshot -> plain offset
    val o3 = restarted.getOffset.get
    assert(o3 === LongOffset(5L), s"final slice must normalize, got $o3")
    val b3 = exec(restarted.getBatch(Some(o2), o3))
    assert(b3.count() === 4)
    // all slices together = the table, no dup, no loss
    val all = b1.select("id").union(b2.select("id")).union(b3.select("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(all === (0L until 20L))
    // post-snapshot appends stream as ordinary windows
    cat.write("s", "mf", rows(3, 20), SaveMode.Append)
    assert(restarted.getOffset.contains(LongOffset(6L)))
    assert(exec(restarted.getBatch(Some(o3), LongOffset(6L))).count() === 3)
  }

  test("maxFilesPerTrigger slices apply deletion vectors (DV-bearing snapshot)") {
    import org.apache.spark.sql.graft.LakeStreamSource.{Pos, SlicedOffset}
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "mfdv", rows(6))
    cat.write("s", "mfdv", rows(6, 6), SaveMode.Append)
    cat.deleteMoR("s", "mfdv", col("id") % 3 === 0)
    val s = src(cat, "s", "mfdv", Map("maxfilespertrigger" -> "1"))
    val o1 = s.getOffset.get
    val b1 = exec(s.getBatch(None, o1))
    val o2 = s.getOffset.get
    val b2 = exec(s.getBatch(Some(o1), o2))
    val ids = (b1.select("id") union b2.select("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 12L).filter(_ % 3 != 0), s"got $ids")
  }

  test("maxBytesPerTrigger splits a SINGLE-dir snapshot into file slices; restart mid-dir resumes (VERDICT r14 #4)") {
    import org.apache.spark.sql.graft.LakeStreamSource.Pos
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    // ONE commit dir with 6 data files — the post-OPTIMIZE / single-CTAS
    // shape dir granularity cannot split
    cat.write("s", "bt", rows(24).repartition(6))
    val files = cat.commitFilesIfFlat("s", "bt",
      cat.snapshot("s", "bt").entries.head).get
    assert(files.size === 6, files.toString)
    // budget ~ two files per batch
    val cap = (files(0)._2 + files(1)._2 + 1).toString
    val s = src(cat, "s", "bt", Map("maxbytespertrigger" -> cap))
    var start: Option[org.apache.spark.sql.execution.streaming.Offset] = None
    var batches = 0
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    var sawMidDir = false
    var done = false
    while (!done) {
      val end = s.getOffset.get
      if (end.json.contains("\"f\":")) sawMidDir = true
      ids ++= exec(s.getBatch(start, end)).select("id").collect().map(_.getLong(0))
      batches += 1
      s.commit(end)
      done = LakeStreamSource.Pos.parse(end.json).d < 0
      start = Some(end)
      assert(batches < 20, "runaway slicing")
    }
    assert(batches >= 3, s"6 files at ~2 files/batch must take >=3 batches, got $batches")
    assert(sawMidDir, "expected at least one mid-dir file-cursor offset")
    assert(ids.sorted.toSeq === (0L until 24L), s"no dup, no loss: got ${ids.sorted}")
    // a RESTART mid-dir: a fresh source replays a pending mid-dir window
    // from the logged offsets alone
    val s2 = src(cat, "s", "bt", Map("maxbytespertrigger" -> cap))
    val o1 = s2.getOffset.get
    val b1 = exec(s2.getBatch(None, o1)).select("id").collect().map(_.getLong(0)).sorted
    val restarted = src(cat, "s", "bt", Map("maxbytespertrigger" -> cap))
    val b1r = exec(restarted.getBatch(None, o1))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(b1r.toSeq === b1.toSeq, "mid-dir window must replay identically")
    // dir-granular lineages stay byte-identical: a plain dir cursor still
    // serializes WITHOUT the f field
    assert(!LakeStreamSource.SlicedOffset(Pos(3, 1, snap = true)).json.contains("\"f\""))
  }

  test("maxBytesPerTrigger: DV-marked dirs admit whole (DV-clean), unmarked dirs split by file") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "btdv", rows(12).repartition(4))           // dir 1: 4 files
    cat.write("s", "btdv", rows(12, 12), SaveMode.Append)     // dir 2
    cat.deleteMoR("s", "btdv", col("id") >= 12 && col("id") % 2 === 0) // marks dir 2 only
    val s = src(cat, "s", "btdv", Map("maxbytespertrigger" -> "1"))
    var start: Option[org.apache.spark.sql.execution.streaming.Offset] = None
    var batches = 0
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    var done = false
    while (!done) {
      val end = s.getOffset.get
      ids ++= exec(s.getBatch(start, end)).select("id").collect().map(_.getLong(0))
      batches += 1
      s.commit(end)
      done = LakeStreamSource.Pos.parse(end.json).d < 0
      start = Some(end)
      assert(batches < 20, "runaway slicing")
    }
    // 4 one-file slices from the unmarked dir + 1 whole-dir unit for the
    // marked dir = 5 batches at a 1-byte budget
    assert(batches === 5, s"got $batches")
    assert(ids.sorted.toSeq === ((0L until 12L) ++ (12L until 24L).filter(_ % 2 != 0)),
      s"marked dir must stream DV-clean as one unit: got ${ids.sorted}")
  }

  test("engine end-to-end with maxBytesPerTrigger: mid-dir offsets ride the real checkpoint") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "e2b", rows(24).repartition(6))
    val files = cat.commitFilesIfFlat("s", "e2b",
      cat.snapshot("s", "e2b").entries.head).get
    val cap = (files.map(_._2).max * 2 + 1).toString
    val cp = root.resolve("cp").toString
    val outDir = root.resolve("out").toString
    def runOnce(): Unit = {
      val q = EventStreams.readLakeStream(spark, cat.root, "s", "e2b",
        Map("maxbytespertrigger" -> cap))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 24)
    assert(out.select("id").distinct().count() === 24, "no dup, no loss across file slices")
    val batches = new java.io.File(cp, "offsets").list().count(!_.startsWith("."))
    assert(batches >= 3, s"expected >=3 byte-capped micro-batches, got $batches")
    // restart consumes only new appends
    cat.write("s", "e2b", rows(3, 24), SaveMode.Append)
    runOnce()
    assert(spark.read.parquet(outDir).select("id").distinct().count() === 27)
  }

  test("engine end-to-end with maxFilesPerTrigger: the snapshot streams as bounded batches through the real offset log") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    (0 until 5).foreach(i =>
      cat.write("s", "e2f", rows(4, i * 4), if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    val cp = root.resolve("cp").toString
    val outDir = root.resolve("out").toString
    def runOnce(): Unit = {
      val q = EventStreams.readLakeStream(spark, cat.root, "s", "e2f",
        Map("maxfilespertrigger" -> "2"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 20)
    assert(out.select("id").distinct().count() === 20, "no dup, no loss across slices")
    // the 5-dir snapshot must have streamed as >= 3 bounded micro-batches
    // (2+2+1), each a real offset-log entry — SlicedOffset round-trips
    // through the engine's checkpoint serialization
    val batches = new java.io.File(cp, "offsets").list().count(!_.startsWith("."))
    assert(batches >= 3, s"expected >=3 sliced micro-batches, got $batches")
    // a restart from the committed checkpoint consumes only new appends
    cat.write("s", "e2f", rows(3, 20), SaveMode.Append)
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() === 23)
    assert(all.select("id").distinct().count() === 23)
  }

  test("Trigger.AvailableNow drains the rate-limited backlog as bounded batches, then stops") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    (0 until 4).foreach(i =>
      cat.write("s", "an", rows(3, i * 3), if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    val cp = root.resolve("cp").toString
    val outDir = root.resolve("out").toString
    // the 100 TB catch-up shape: a scheduled JOB (not a resident stream)
    // drains everything available in rate-limited micro-batches and exits
    val q = EventStreams.readLakeStream(spark, cat.root, "s", "an",
      Map("maxfilespertrigger" -> "2"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val out = spark.read.parquet(outDir)
    assert(out.count() === 12)
    assert(out.select("id").distinct().count() === 12)
    val batches = new java.io.File(cp, "offsets").list().count(!_.startsWith("."))
    assert(batches >= 2, s"expected the 4-dir snapshot split across batches, got $batches")
  }

  test("persisted position: a restarted rate-limited source never regresses below the committed checkpoint") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    (0 until 3).foreach(i =>
      cat.write("s", "pp", rows(2, i * 2), if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    val meta = root.resolve("meta").toString
    val s = src2(cat, "s", "pp", Map("maxversionspertrigger" -> "1"), meta)
    assert(s.getOffset.contains(LongOffset(1L)))
    s.getBatch(None, LongOffset(1L))
    s.commit(LongOffset(1L))
    assert(s.getOffset.contains(LongOffset(2L)))
    s.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    s.commit(LongOffset(2L))
    // the ADVICE r13 scenario: restart from a FULLY COMMITTED checkpoint —
    // the engine's first call is getOffset, with no recovery getBatch or
    // commit to re-learn from. The persisted position is the base: the
    // offset must be v3, never min(latest, 0+1)=v1 (a regression the
    // engine would log, re-committing already-delivered windows).
    val restarted = src2(cat, "s", "pp", Map("maxversionspertrigger" -> "1"), meta)
    assert(restarted.getOffset.contains(LongOffset(3L)),
      s"restart regressed: ${restarted.getOffset}")
  }

  test("startingVersion=latest resolves once per checkpoint (persisted), not per incarnation") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "svp", rows(4))
    cat.write("s", "svp", rows(4, 4), SaveMode.Append) // latest = 2 at first start
    val meta = root.resolve("meta2").toString
    val first = src2(cat, "s", "svp", Map("startingversion" -> "latest"), meta)
    // batch 0 planned to v3 and logged, but the query dies BEFORE commit
    cat.write("s", "svp", rows(4, 8), SaveMode.Append) // v3
    assert(exec(first.getBatch(None, LongOffset(3L))).count() === 4)
    // more commits land while the query is down
    cat.write("s", "svp", rows(4, 12), SaveMode.Append) // v4
    // restart replays batch 0 from the offset log: the persisted base (2)
    // must be used — re-resolving latest (now 4) would return an empty
    // batch and silently drop (2, 3]
    val restarted = src2(cat, "s", "svp", Map("startingversion" -> "latest"), meta)
    assert(exec(restarted.getBatch(None, LongOffset(3L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === (8L until 12L))
  }

  test("changeFeed refuses a table whose data already has a _change column") {
    import spark.implicits._
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "cfx", Seq((1L, "real")).toDF("id", "_change"))
    val e = intercept[IllegalArgumentException] {
      src(cat, "s", "cfx", Map("changefeed" -> "true")).schema
    }
    assert(e.getMessage.contains("_change"), e.getMessage)
  }

  test("changeFeed refuses the dir/byte slicers; the version cap composes (ADVICE r15)") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "cfc", rows(5))
    // diff windows are not dir unions: silently ignoring the caps told the
    // caller a feed was rate-limited when it was not — must refuse
    val e = intercept[IllegalArgumentException] {
      src(cat, "s", "cfc", Map("changefeed" -> "true", "maxfilespertrigger" -> "2"))
    }
    assert(e.getMessage.contains("maxVersionsPerTrigger"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      src(cat, "s", "cfc", Map("changefeed" -> "true", "maxbytespertrigger" -> "1024"))
    }
    assert(e2.getMessage.contains("maxVersionsPerTrigger"), e2.getMessage)
    // maxVersionsPerTrigger IS the change-feed rate limit
    val ok = src(cat, "s", "cfc",
      Map("changefeed" -> "true", "maxversionspertrigger" -> "1"))
    assert(ok.getOffset.contains(LongOffset(1L)))
  }

  test("a user-supplied narrower schema becomes the projection target") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "us", rows(4))
    val narrow = new org.apache.spark.sql.types.StructType()
      .add("name", org.apache.spark.sql.types.StringType)
      .add("id", org.apache.spark.sql.types.LongType)
    val s = new org.apache.spark.sql.graft.LakeStreamSource(
      spark, cat.root, "s", "us", Map.empty, "", Some(narrow))
    val b = s.getBatch(None, LongOffset(1L))
    assert(b.schema.fieldNames.toSeq === Seq("name", "id"))
    val r = exec(b).orderBy("id").collect().head
    assert(r.getString(0) === "r0" && r.getLong(1) === 0L)
  }

  test("changeFeed mode: initial snapshot as inserts; append/delete/update windows as diffs") {
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "cf", rows(6))
    val s = src(cat, "s", "cf", Map("changefeed" -> "true"))
    assert(s.schema.fieldNames.last === "_change")
    val initial = exec(s.getBatch(None, LongOffset(1L)))
    assert(initial.groupBy("_change").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap === Map("insert" -> 6L))
    // append window: inserts only
    cat.write("s", "cf", rows(2, 6), SaveMode.Append)
    val app = exec(s.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
      .collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
    assert(app === Seq((6L, "insert"), (7L, "insert")))
    // CoW delete window: deletes only — no refusal in CDF mode
    cat.delete("s", "cf", col("id") < 2)
    val del = exec(s.getBatch(Some(LongOffset(2L)), LongOffset(3L)))
      .collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
    assert(del === Seq((0L, "delete"), (1L, "delete")))
    // UPDATE window: the delete/insert pair for each touched row
    cat.update("s", "cf", Seq("v" -> lit(99.0)), col("id") === 5L)
    val upd = exec(s.getBatch(Some(LongOffset(3L)), LongOffset(4L)))
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3))).sorted.toSeq
    assert(upd === Seq((5L, 10.0, "delete"), (5L, 99.0, "insert")))
    // MoR delete window: DV-mark delta surfaces as deletes
    cat.deleteMoR("s", "cf", col("id") === 4L)
    val mor = exec(s.getBatch(Some(LongOffset(4L)), LongOffset(5L)))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(mor === Seq((4L, "delete")))
  }

  test("schema evolution in later commits aligns to the declared stream schema") {
    import spark.implicits._
    val root = tmp()
    val cat = LakeCatalog(spark, root.toString)
    cat.write("s", "ev", rows(3))
    val s = src(cat, "s", "ev")
    // a later commit drops `v` and adds an extra column
    val evolved = Seq((100L, "x", 9)).toDF("id", "name", "extra")
    cat.write("s", "ev", evolved, SaveMode.Append)
    val delta = s.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    assert(delta.schema.fieldNames.toSeq === Seq("id", "name", "v"))
    val r = exec(delta).collect().head
    assert(r.getLong(0) === 100L && r.isNullAt(2))
  }
}
