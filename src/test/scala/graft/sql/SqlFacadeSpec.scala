package graft.sql

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The thin SQL entrypoint (GraftSqlParser via SparkSessionExtensions):
  * MERGE INTO / CTAS / time-travel reads must drive the SAME lake
  * machinery the DataFrame API does, and every statement that never
  * mentions `graft.` must reach Spark's parser untouched.
  */
class SqlFacadeSpec extends SparkSpec {

  private def withRoot[T](f: String => T): T = {
    val root = Files.createTempDirectory("graft_sqlroot_").toString
    val prev = spark.conf.getOption(GraftSqlParser.RootConf)
    spark.conf.set(GraftSqlParser.RootConf, root)
    try f(root)
    finally prev.fold(spark.conf.unset(GraftSqlParser.RootConf))(
      spark.conf.set(GraftSqlParser.RootConf, _))
  }

  test("CTAS + MERGE INTO + time travel, all through spark.sql") {
    import spark.implicits._
    withRoot { root =>
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("src0")
      // CTAS into a versioned lake table
      val made = spark.sql("CREATE TABLE graft.sqlns.t AS SELECT * FROM src0")
        .collect()
      assert(made.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("sqlns.t", 1L)))
      // MERGE: one correction + one new key, key auto-detected from `id`
      Seq((3L, "V3"), (11L, "v11")).toDF("id", "v")
        .createOrReplaceTempView("delta0")
      val merged = spark.sql("MERGE INTO graft.sqlns.t USING delta0")
        .collect()
      assert(merged.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("sqlns.t", 2L)))
      // current state reads through plain SQL — filters, aggregates, the
      // works — against the rewritten view
      val now = spark.sql(
        "SELECT id, v FROM graft.sqlns.t WHERE id IN (3, 11) ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(now == Seq((3L, "V3"), (11L, "v11")))
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.t")
        .head().getLong(0) == 11L)
      // time travel to the pre-merge snapshot
      val before = spark.sql(
        "SELECT v FROM graft.sqlns.t VERSION AS OF 1 WHERE id = 3")
        .head().getString(0)
      assert(before == "v3")
      // an explicit ON key works too
      Seq((5L, "V5")).toDF("id", "v").createOrReplaceTempView("delta1")
      spark.sql("MERGE INTO graft.sqlns.t USING delta1 ON id").collect()
      assert(spark.sql("SELECT v FROM graft.sqlns.t WHERE id = 5")
        .head().getString(0) == "V5")
    }
  }

  test("lake reads compose with full Spark SQL (join of two versions)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 5).map(i => (i.toLong, i * 10L)).toDF("id", "n")
        .createOrReplaceTempView("src1")
      spark.sql("CREATE TABLE graft.sqlns.j AS SELECT * FROM src1").collect()
      Seq((2L, 999L)).toDF("id", "n").createOrReplaceTempView("delta2")
      spark.sql("MERGE INTO graft.sqlns.j USING delta2 ON id").collect()
      // join current vs v1 in ONE statement: both refs rewrite
      val changed = spark.sql(
        """SELECT cur.id FROM graft.sqlns.j cur
           JOIN graft.sqlns.j VERSION AS OF 1 old ON cur.id = old.id
           WHERE cur.n <> old.n""")
        .collect().map(_.getLong(0)).toSeq
      assert(changed == Seq(2L))
    }
  }

  test("INSERT INTO / DELETE FROM / DESCRIBE HISTORY round out the surface") {
    import spark.implicits._
    withRoot { root =>
      (1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("src2")
      spark.sql("CREATE TABLE graft.sqlns.k AS SELECT * FROM src2").collect()
      // INSERT INTO appends one commit (no rewrite)
      spark.sql("INSERT INTO graft.sqlns.k SELECT 5L AS id, 'v5' AS v").collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.k")
        .head().getLong(0) == 5L)
      // DELETE FROM is the file-scoped CoW delete with a parsed predicate
      spark.sql("DELETE FROM graft.sqlns.k WHERE id <= 2").collect()
      assert(spark.sql("SELECT id FROM graft.sqlns.k ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
      // INSERT OVERWRITE replaces the snapshot (reference merge strategy 2);
      // the pre-overwrite version still time-travels
      spark.sql("INSERT OVERWRITE graft.sqlns.k SELECT 9L AS id, 'v9' AS v").collect()
      assert(spark.sql("SELECT id FROM graft.sqlns.k").collect()
        .map(_.getLong(0)).toSeq == Seq(9L))
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.k VERSION AS OF 3")
        .head().getLong(0) == 3L)
      // DESCRIBE HISTORY: CTAS + append + delete + overwrite = versions
      // 1..4, with publish times agreeing with readAsOf's clock (monotone)
      val hist = spark.sql("DESCRIBE HISTORY graft.sqlns.k")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
      assert(hist.map(_._2).toSeq == hist.map(_._2).sorted.toSeq)
    }
  }

  test("UPDATE: file-scoped SET with pre-update RHS semantics, optional WHERE") {
    import spark.implicits._
    withRoot { root =>
      (1 to 6).map(i => (i.toLong, i * 10L, s"s$i")).toDF("id", "n", "s")
        .createOrReplaceTempView("src3")
      spark.sql("CREATE TABLE graft.sqlns.u AS SELECT * FROM src3").collect()
      // multi-assignment with a function call containing a comma, plus a
      // RHS reading a column the same UPDATE writes (pre-update semantics)
      spark.sql("""UPDATE graft.sqlns.u
        SET n = greatest(n, 35), s = concat(s, '!') WHERE id <= 4""").collect()
      val rows = spark.sql("SELECT id, n, s FROM graft.sqlns.u ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, 35L, "s1!"), (2L, 35L, "s2!"), (3L, 35L, "s3!"),
        (4L, 40L, "s4!"), (5L, 50L, "s5"), (6L, 60L, "s6")))
      // no WHERE: every row; and the pre-update snapshot still time-travels
      spark.sql("UPDATE graft.sqlns.u SET n = n + 1").collect()
      assert(spark.sql("SELECT sum(n) AS t FROM graft.sqlns.u").head().getLong(0)
        == 35 + 35 + 35 + 40 + 50 + 60 + 6)
      assert(spark.sql("SELECT n FROM graft.sqlns.u VERSION AS OF 1 WHERE id = 1")
        .head().getLong(0) == 10L)
    }
  }

  test("OPTIMIZE / VACUUM / RESTORE / TIMESTAMP AS OF maintenance verbs") {
    import spark.implicits._
    withRoot { root =>
      val cat = graft.lake.LakeCatalog(spark, root)
      (1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("src4")
      spark.sql("CREATE TABLE graft.sqlns.m AS SELECT * FROM src4").collect()
      spark.sql("INSERT INTO graft.sqlns.m SELECT 5L AS id, 'v5' AS v").collect()
      spark.sql("INSERT INTO graft.sqlns.m SELECT 6L AS id, 'v6' AS v").collect()
      // OPTIMIZE bin-packs the three small commits into one entry
      assert(cat.snapshot("sqlns", "m").entries.size == 3)
      spark.sql("OPTIMIZE graft.sqlns.m").collect()
      assert(cat.snapshot("sqlns", "m").entries.size == 1)
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.m")
        .head().getLong(0) == 6L)
      // TIMESTAMP AS OF (standard grammar, evaluated by the analyzer in
      // the UTC session TZ and routed to the catalog's time-travel
      // loadTable) reads the snapshot current at that wall clock
      val now = java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1000)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft.sqlns.m TIMESTAMP AS OF '$now'")
        .head().getLong(0) == 6L)
      // RESTORE back to version 1 (metadata-only), then VACUUM reclaims
      spark.sql("RESTORE graft.sqlns.m TO VERSION AS OF 1").collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.m")
        .head().getLong(0) == 4L)
      val removed = spark.sql("VACUUM graft.sqlns.m RETAIN 1 VERSIONS")
        .head().getLong(1)
      assert(removed >= 1L, s"vacuum should reclaim unreferenced dirs, got $removed")
      assert(spark.sql("SELECT count(*) AS n FROM graft.sqlns.m")
        .head().getLong(0) == 4L)
    }
  }

  test("the reference's LITERAL emitted statements parse and run (merge_utils.py:74-103)") {
    import spark.implicits._
    withRoot { root =>
      // 1. CREATE TABLE … USING iceberg AS SELECT … (merge_utils.py:99-103)
      (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("source_data")
      spark.sql("""
            CREATE TABLE graft.refsql.t
            USING iceberg
            AS SELECT * FROM source_data
        """).collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft.refsql.t")
        .head().getLong(0) == 6L)
      // 2. aliased MERGE with qualified backticked ON + WHEN clauses
      //    (merge_utils.py:74-80, byte-for-byte shape)
      Seq((2L, "V2"), (7L, "v7")).toDF("id", "v")
        .createOrReplaceTempView("source_changes")
      spark.sql("""
            MERGE INTO graft.refsql.t t
            USING source_changes s
            ON t.`id` = s.`id`
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """).collect()
      assert(spark.sql("SELECT v FROM graft.refsql.t WHERE id = 2")
        .head().getString(0) == "V2")
      assert(spark.sql("SELECT count(*) AS n FROM graft.refsql.t")
        .head().getLong(0) == 7L)
      // 3. INSERT OVERWRITE TABLE … (merge_utils.py:88-91)
      spark.sql("""
            INSERT OVERWRITE TABLE graft.refsql.t
            SELECT * FROM source_data
        """).collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft.refsql.t")
        .head().getLong(0) == 6L)
      // the pre-overwrite snapshot still time-travels
      assert(spark.sql("SELECT count(*) AS n FROM graft.refsql.t VERSION AS OF 2")
        .head().getLong(0) == 7L)
    }
  }

  test("MERGE USING (subquery) and multi-column ON") {
    import spark.implicits._
    withRoot { root =>
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c"))
        .toDF("id", "sub", "v").createOrReplaceTempView("mk_src")
      spark.sql("CREATE TABLE graft.refsql.mk AS SELECT * FROM mk_src").collect()
      // subquery USING + composite ON: only the (1, 20) tuple matches
      Seq((1L, 20L, "B!"), (3L, 30L, "new"))
        .toDF("id", "sub", "v").createOrReplaceTempView("mk_delta")
      spark.sql("""MERGE INTO graft.refsql.mk AS t
        USING (SELECT * FROM mk_delta WHERE id < 99) AS s
        ON t.id = s.id AND t.sub = s.sub
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""").collect()
      val rows = spark.sql(
        "SELECT id, sub, v FROM graft.refsql.mk ORDER BY id, sub")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, 10L, "a"), (1L, 20L, "B!"), (2L, 10L, "c"),
        (3L, 30L, "new")))
      // a WHEN shape with different semantics must refuse loudly, not
      // silently run SET */INSERT *
      val e = intercept[Exception] {
        spark.sql("""MERGE INTO graft.refsql.mk t USING mk_delta s
          ON t.id = s.id WHEN MATCHED THEN DELETE""").collect()
      }
      assert(e.getMessage.contains("unsupported MERGE WHEN"), e.getMessage)
      // ON equating DIFFERENT columns is not a key-equality upsert
      val e2 = intercept[Exception] {
        spark.sql("""MERGE INTO graft.refsql.mk t USING mk_delta s
          ON t.id = s.sub""").collect()
      }
      assert(e2.getMessage.contains("same key column"), e2.getMessage)
    }
  }

  test("string literals are opaque to the grammar (UPDATE WHERE split, read rewrite)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 3).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("lit_src")
      spark.sql("CREATE TABLE graft.refsql.lit AS SELECT * FROM lit_src").collect()
      // a SET literal containing ' WHERE ' must not split there (ADVICE r13)
      spark.sql("UPDATE graft.refsql.lit SET v = 'a WHERE b' WHERE id = 2").collect()
      val vals = spark.sql("SELECT v FROM graft.refsql.lit ORDER BY id")
        .collect().map(_.getString(0)).toSeq
      assert(vals == Seq("v1", "a WHERE b", "v3"))
      // a string literal containing `FROM graft.x.y` survives the read
      // rewrite byte-identical, even in a statement that ALSO reads a
      // real graft table (the rewrite must fire for the real ref only)
      val r = spark.sql(
        "SELECT 'FROM graft.refsql.lit' AS s, count(*) AS n FROM graft.refsql.lit")
        .head()
      assert(r.getString(0) == "FROM graft.refsql.lit" && r.getLong(1) == 3L)
    }
  }

  test("backticked identifiers and double-quoted SET literals are opaque too (ADVICE r14)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 3).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("bt_src")
      spark.sql("CREATE TABLE graft.refsql.bt AS SELECT * FROM bt_src").collect()
      // a backtick-quoted ALIAS whose text contains `FROM graft.x.y` must
      // survive the read rewrite byte-identical (same statement also reads
      // a real graft table, so the rewrite fires for the real ref only)
      val r = spark.sql(
        "SELECT count(*) AS `count FROM graft.refsql.bt` FROM graft.refsql.bt")
      assert(r.schema.fieldNames.toSeq == Seq("count FROM graft.refsql.bt"))
      assert(r.head().getLong(0) == 3L)
      // a double-quoted SET literal containing a comma parses as ONE
      // assignment (splitTop treats all three quote kinds as opaque)
      spark.sql("""UPDATE graft.refsql.bt SET v = "x,y" WHERE id = 2""").collect()
      assert(spark.sql("SELECT v FROM graft.refsql.bt WHERE id = 2")
        .head().getString(0) == "x,y")
      // CTAS USING formats that are NOT render-equivalent refuse loudly
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE graft.refsql.csvt USING csv AS SELECT * FROM bt_src")
          .collect()
      }
      assert(e.getMessage.contains("render-equivalent"), e.getMessage)
      // the render-equivalent spellings all work
      spark.sql("CREATE TABLE graft.refsql.dlt USING delta AS SELECT * FROM bt_src")
        .collect()
      assert(spark.sql("SELECT count(*) AS n FROM graft.refsql.dlt")
        .head().getLong(0) == 3L)
    }
  }

  test("FROM STREAM graft.ns.t plans a continuous read (SQL-first streaming)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 8).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
        .createOrReplaceTempView("st_src")
      spark.sql("CREATE TABLE graft.refsql.st AS SELECT * FROM st_src").collect()
      // the statement composes with the full language and stays streaming
      val df = spark.sql("SELECT id, v FROM STREAM graft.refsql.st WHERE id <= 6")
      assert(df.isStreaming, "STREAM ref must plan a streaming frame")
      val out = Files.createTempDirectory("graft_sqlstream_")
      val q = df.writeStream.format("parquet")
        .option("path", out.resolve("data").toString)
        .option("checkpointLocation", out.resolve("cp").toString).start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.read.parquet(out.resolve("data").toString).count() == 6L)
      // a stream cannot time-travel
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM STREAM graft.refsql.st VERSION AS OF 1")
      }
      assert(e.getMessage.contains("checkpoint"), e.getMessage)
      // conf-forwarded source options: changeFeed adds the _change column
      spark.conf.set(GraftSqlParser.StreamOptionPrefix + "changeFeed", "true")
      try {
        val cf = spark.sql("SELECT * FROM STREAM graft.refsql.st")
        assert(cf.isStreaming && cf.schema.fieldNames.contains("_change"))
      } finally spark.conf.unset(GraftSqlParser.StreamOptionPrefix + "changeFeed")
    }
  }

  test("one-statement streaming pipeline: INSERT INTO … SELECT … FROM STREAM, exactly-once across re-runs (VERDICT r14 #1)") {
    import spark.implicits._
    withRoot { root =>
      val cpRoot = Files.createTempDirectory("graft_sqlcp_").toString
      spark.conf.set(GraftSqlParser.StreamCheckpointConf, cpRoot)
      try {
        (1 to 8).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
          .createOrReplaceTempView("osp_src")
        spark.sql(
          "CREATE TABLE graft.osp.src AS SELECT * FROM osp_src WHERE id <= 4")
          .collect()
        // ONE statement: stream source → transform → graft-lake sink,
        // drained under Trigger.AvailableNow
        val stmt =
          """INSERT INTO graft.osp.dst
             SELECT id, v * 10 AS v10 FROM STREAM graft.osp.src WHERE id <> 3"""
        spark.sql(stmt).collect()
        assert(spark.sql("SELECT id FROM graft.osp.dst ORDER BY id")
          .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
        // append to the source, re-run the SAME statement: the shared
        // checkpoint lineage processes ONLY the delta (the scheduled-job
        // shape) — no snapshot re-emission, no duplicates
        spark.sql("INSERT INTO graft.osp.src SELECT * FROM osp_src WHERE id > 4")
          .collect()
        spark.sql(stmt).collect()
        val rows = spark.sql("SELECT id, v10 FROM graft.osp.dst ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows == Seq(1L -> 20.0, 2L -> 40.0, 4L -> 80.0,
          5L -> 100.0, 6L -> 120.0, 7L -> 140.0, 8L -> 160.0), rows.toString)
        // a third run with nothing new lands nothing (no empty commits
        // would be wrong too — version count stays put)
        val vBefore = graft.lake.LakeCatalog(spark, root).versions("osp", "dst")
        spark.sql(stmt).collect()
        assert(graft.lake.LakeCatalog(spark, root).versions("osp", "dst") == vBefore)
        // OVERWRITE + STREAM refuses loudly
        val e = intercept[Exception] {
          spark.sql(
            "INSERT OVERWRITE graft.osp.dst SELECT * FROM STREAM graft.osp.src")
            .collect()
        }
        assert(e.getMessage.contains("STREAM"), e.getMessage)
      } finally spark.conf.unset(GraftSqlParser.StreamCheckpointConf)
    }
  }

  test("continuous MERGE: USING STREAM lands a keyed feed, corrections merge across re-runs (VERDICT r15 #1)") {
    import spark.implicits._
    withRoot { root =>
      val cpRoot = Files.createTempDirectory("graft_sqlcp_").toString
      spark.conf.set(GraftSqlParser.StreamCheckpointConf, cpRoot)
      try {
        (1 to 4).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
          .createOrReplaceTempView("cm_src")
        spark.sql("CREATE TABLE graft.cm.src AS SELECT * FROM cm_src").collect()
        val stmt = "MERGE INTO graft.cm.dst USING STREAM graft.cm.src ON id"
        spark.sql(stmt).collect()
        assert(spark.sql("SELECT id FROM graft.cm.dst ORDER BY id")
          .collect().map(_.getLong(0)).toSeq == (1L to 4L))
        // append a CORRECTION for id 2 and a new id 5; the re-run's delta
        // window must MERGE on the key (one row per id, latest value) —
        // an append-only pipeline would stack id 2 twice
        spark.sql(
          "INSERT INTO graft.cm.src SELECT * FROM VALUES (2, 99.0), (5, 5.0) AS t(id, v)")
          .collect()
        spark.sql(stmt).collect()
        val rows = spark.sql("SELECT id, v FROM graft.cm.dst ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows == Seq(1L -> 1.0, 2L -> 99.0, 3L -> 3.0, 4L -> 4.0, 5L -> 5.0),
          rows.toString)
        // ON omitted: the reference's key auto-detection applies to the
        // continuous form too (`id` is a candidate) and shares the lineage
        spark.sql("MERGE INTO graft.cm.dst USING STREAM graft.cm.src").collect()
        assert(spark.sql("SELECT COUNT(*) AS c FROM graft.cm.dst")
          .collect().head.getLong(0) == 5L)
      } finally spark.conf.unset(GraftSqlParser.StreamCheckpointConf)
    }
  }

  test("one-statement streaming checkpoints refuse a DIFFERENT statement at the same destination (ADVICE r15)") {
    import spark.implicits._
    withRoot { root =>
      val cpRoot = Files.createTempDirectory("graft_sqlcp_").toString
      spark.conf.set(GraftSqlParser.StreamCheckpointConf, cpRoot)
      try {
        (1 to 4).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
          .createOrReplaceTempView("ig_src")
        spark.sql("CREATE TABLE graft.ig.src AS SELECT * FROM ig_src").collect()
        spark.sql("INSERT INTO graft.ig.dst SELECT id, v FROM STREAM graft.ig.src")
          .collect()
        // the SAME statement spelled with cosmetic whitespace resumes
        spark.sql(
          "INSERT INTO graft.ig.dst  SELECT  id,  v  FROM  STREAM graft.ig.src")
          .collect()
        // a different projection into the same destination would resume
        // the old lineage's offsets against a different frame — refuse
        val e = intercept[Exception] {
          spark.sql(
            "INSERT INTO graft.ig.dst SELECT id, v * 2 AS v FROM STREAM graft.ig.src")
            .collect()
        }
        assert(e.getMessage.contains("DIFFERENT"), e.getMessage)
        // so would a MERGE aimed at the INSERT's destination
        val e2 = intercept[Exception] {
          spark.sql("MERGE INTO graft.ig.dst USING STREAM graft.ig.src ON id")
            .collect()
        }
        assert(e2.getMessage.contains("DIFFERENT"), e2.getMessage)
      } finally spark.conf.unset(GraftSqlParser.StreamCheckpointConf)
    }
  }

  test("same-version SELF-JOIN of one graft table resolves (relation dedup over the shared marker plan)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 5).map(i => (i.toLong, i * 10L)).toDF("id", "n")
        .createOrReplaceTempView("sj_src")
      spark.sql("CREATE TABLE graft.refsql.sj AS SELECT * FROM sj_src").collect()
      // both references resolve through the SAME memoized marker read —
      // the analyzer must re-instance one side (the df.join(df) shape)
      val pairs = spark.sql(
        """SELECT a.id, b.id AS other FROM graft.refsql.sj a
           JOIN graft.refsql.sj b ON a.id = b.id - 1 ORDER BY a.id""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), pairs.toString)
    }
  }

  test("resolution is side-effect-free: EXPLAIN/parse leave the temp-view catalog unchanged (VERDICT r14 #2)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 3).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .createOrReplaceTempView("sfx_src")
      spark.sql("CREATE TABLE graft.sfx.t AS SELECT * FROM sfx_src").collect()
      val viewsBefore = spark.catalog.listTables()
        .collect().map(_.name).toSet
      // EXPLAIN plans (and therefore fully resolves) the reference —
      // including a time-travel self-join — without materializing anything
      val plan = spark.sql(
        """EXPLAIN SELECT cur.id FROM graft.sfx.t cur
           JOIN graft.sfx.t VERSION AS OF 1 old ON cur.id = old.id""")
        .head().getString(0)
      assert(plan.contains("Scan parquet"), plan.take(400))
      // a dry parse of a STREAM reference mutates nothing either
      spark.sessionState.sqlParser.parsePlan(
        "SELECT * FROM STREAM graft.sfx.t")
      val viewsAfter = spark.catalog.listTables()
        .collect().map(_.name).toSet
      assert(viewsAfter == viewsBefore,
        s"resolution leaked views: ${viewsAfter -- viewsBefore}")
      // and the pre-r15 mechanism's rewrite views (graft_<ns>_<t>[_vN],
      // graft_stream_<ns>_<t>) for THIS table do not exist (other suites
      // may name their own views graft_*, so only the mechanism's exact
      // spellings prove anything)
      assert(!viewsAfter.exists(v => v == "graft_sfx_t" || v == "graft_sfx_t_v1" ||
        v == "graft_stream_sfx_t"), viewsAfter.toString)
    }
  }

  test("catalog verbs: SHOW NAMESPACES / SHOW TABLES / DESCRIBE / DROP TABLE (VERDICT r14 #5)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 4).map(i => (i.toLong, i * 1.5)).toDF("id", "x")
        .createOrReplaceTempView("cv_src")
      spark.sql("CREATE TABLE graft.cva.t1 AS SELECT * FROM cv_src").collect()
      spark.sql("CREATE TABLE graft.cva.t2 AS SELECT id FROM cv_src").collect()
      spark.sql("CREATE TABLE graft.cvb.t3 AS SELECT x FROM cv_src").collect()
      // SHOW NAMESPACES lists the lake's namespaces, sorted
      val nss = spark.sql("SHOW NAMESPACES IN graft")
        .collect().map(_.getString(0)).toSeq
      assert(nss == Seq("cva", "cvb"), nss.toString)
      // SHOW TABLES scoped to one namespace
      val tbls = spark.sql("SHOW TABLES IN graft.cva")
        .collect().map(_.getString(1)).sorted.toSeq
      assert(tbls == Seq("t1", "t2"), tbls.toString)
      // DESCRIBE reports the schema (metadata-only, off the marker table)
      val desc = spark.sql("DESCRIBE TABLE graft.cva.t1")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(desc.contains(("id", "bigint")) && desc.contains(("x", "double")),
        desc.toString)
      // DESCRIBE EXTENDED surfaces the sidecar row count + latest version
      val ext = spark.sql("DESCRIBE TABLE EXTENDED graft.cva.t1")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      val props = ext.getOrElse("Table Properties", "")
      assert(props.contains("rows=4") && props.contains("version=1"), ext.toString)
      // DROP TABLE removes the table; the namespace survives via t2
      spark.sql("DROP TABLE graft.cva.t1").collect()
      val after = spark.sql("SHOW TABLES IN graft.cva")
        .collect().map(_.getString(1)).toSeq
      assert(after == Seq("t2"), after.toString)
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft.cva.t1").collect()
      }
      assert(e.getMessage.contains("t1"), e.getMessage)
    }
  }

  test("ALTER TABLE ADD COLUMN: metadata-only declaration, null-filled reads, old snapshots untouched (VERDICT r15 #5)") {
    import spark.implicits._
    withRoot { root =>
      (1 to 4).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
        .createOrReplaceTempView("at_src")
      spark.sql("CREATE TABLE graft.at.t AS SELECT * FROM at_src").collect()
      spark.sql("ALTER TABLE graft.at.t ADD COLUMN note STRING").collect()
      val cat = graft.lake.LakeCatalog(spark, root)
      // one NEW metadata-only version; the data commit is untouched
      assert(cat.versions("at", "t") == Seq(1, 2))
      // declared-only: reads null-fill immediately
      val rows = spark.sql("SELECT id, note FROM graft.at.t ORDER BY id").collect()
      assert(rows.length == 4 && rows.forall(_.isNullAt(1)))
      // DESCRIBE surfaces it; the pre-alter snapshot keeps the old shape
      assert(spark.sql("DESCRIBE graft.at.t").collect()
        .map(_.getString(0)).contains("note"))
      assert(!spark.sql("SELECT * FROM graft.at.t VERSION AS OF 1")
        .columns.contains("note"))
      // later data MATERIALIZES the column; pre-evolution rows stay null
      spark.sql("""INSERT INTO graft.at.t
        SELECT CAST(id AS BIGINT) AS id, CAST(v AS DOUBLE) AS v, note
        FROM VALUES (5, 10.0, 'n5'), (6, 12.0, 'n6') AS t(id, v, note)""")
        .collect()
      val after = spark.sql("SELECT id, note FROM graft.at.t ORDER BY id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      assert(after.toSeq == Seq(1L -> null, 2L -> null, 3L -> null,
        4L -> null, 5L -> "n5", 6L -> "n6"), after.mkString(","))
      // refusals stay loud: duplicate add, and anything but ADD COLUMN
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.at.t ADD COLUMN note STRING").collect()
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.at.t DROP COLUMN v").collect()
      }
      assert(e2.getMessage.contains("no graft spelling"), e2.getMessage)
    }
  }

  test("non-graft SQL delegates verbatim; unset root fails loudly") {
    assert(spark.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
    // `graft.x.y` OUTSIDE table position (a string literal, a property
    // name) must pass through untouched — the q_bucketed_join regression:
    // ALTER TABLE ... TBLPROPERTIES ('graft.bucketed.src' = ...) was
    // hijacked by an unanchored rewrite
    assert(spark.sql("SELECT 'graft.some.prop' AS s").head().getString(0) ==
      "graft.some.prop")
    // a graft reference without the root conf set must be loud
    val prev = spark.conf.getOption(GraftSqlParser.RootConf)
    spark.conf.unset(GraftSqlParser.RootConf)
    try {
      val e = intercept[RuntimeException] {
        spark.sql("SELECT * FROM graft.nope.t").collect()
      }
      assert(e.getMessage.contains(GraftSqlParser.RootConf), e.getMessage)
    } finally prev.foreach(spark.conf.set(GraftSqlParser.RootConf, _))
  }
}
