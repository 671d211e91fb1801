package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-checked STREAMING queries (SURVEY §2 E8/E10/E12/E13): batch-vs-
  * stream equivalence twins under the DuckDB oracle.
  *
  * Replay harness (round 8): the corpus is replayed through the streaming
  * operators via a FILE SOURCE — each micro-batch is a partition-parallel
  * parquet drop published by ONE atomic directory rename into the watched
  * glob, consumed by a single long-lived query; results land in a parquet
  * sink read back as an ordinary distributed frame. NO scale-proportional
  * data ever moves through the driver: the only collects are single-row
  * aggregates (a split threshold, a max timestamp). This is the shape a
  * production replay takes on a real cluster — data at rest becomes a
  * stream by landing (renaming in) files, not by addData from the driver.
  *
  * Batch membership is decided by a data-derived event-time threshold
  * (everything below the midpoint is micro-batch 1), which preserves the
  * property the twins rely on: batch 2's minimum event time is at or above
  * batch 1's maximum, so no replayed row ever arrives below the watermark.
  * WITHIN a micro-batch every stateful operator sorts its group input
  * deterministically (see EventStreams), so partition arrival order — the
  * one thing a parallel file drop does not control — cannot affect the
  * output.
  */
object StreamingQueries {

  // ----- file-source replay harness ---------------------------------------

  private def rmrf(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Land `rounds` of per-source parquet drops, one drop = one replay
    * round, through ONE long-lived query. A drop is a multi-file
    * partition-parallel write whose task files become visible one rename
    * at a time — a query polling DURING that commit could take a partial
    * subset as its own micro-batch and break the twins' arrival-order
    * invariants. The harness therefore makes each drop ATOMIC instead of
    * stopping the query around it: the round's frame is written to a
    * staging directory outside the watched glob, then ONE directory
    * rename (`ATOMIC_MOVE`) publishes the whole drop into `src<i>/r<n>`,
    * which the source watches as a one-level glob under `src<i>`. A
    * trigger's listing
    * either sees none of the round's files or all of them, so micro-batch
    * membership is exactly one drop per round (`processAllAvailable`
    * drains round N before round N+1 lands). This is also the documented
    * production shape — Structured Streaming's file source contract is
    * "files must be atomically placed in the monitored directory", which
    * on a real DFS is exactly a rename of a fully-written directory.
    *
    * Versus the round-7 stop-start harness this keeps operator state,
    * watermark and offsets IN MEMORY across rounds — no per-round
    * checkpoint reload, state-store restore or query re-planning — which
    * is where the r7 bench regression (+49% on the four twins,
    * BENCH_r07) went. `start` receives the file-source streams once and
    * must return the started query.
    */
  private def replay(
      s: SparkSession,
      root: java.nio.file.Path,
      sources: Seq[(StructType, Seq[DataFrame])],
      start: Seq[DataFrame] => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val srcDirs = sources.indices.map(i => root.resolve(s"src$i"))
    srcDirs.foreach(java.nio.file.Files.createDirectories(_))
    val rounds = sources.map(_._2.length).max
    def land(round: Int): Unit = {
      // stage EVERY source's drop first, then publish with back-to-back
      // renames: a multi-source round otherwise splits into one micro-batch
      // per source (the second source's stage WRITE — a full Spark job —
      // sits between the renames, and the running query's poll always
      // catches the first rename alone; measured on stream_join_twin: 5
      // micro-batches where 4 carry the proof, ~1.2 s of pure state-store/
      // planning overhead for the extra batch). Same rows, same watermark
      // invariant — batch membership of a round is one drop per source
      // either way; only the number of trigger cycles changes.
      val staged =
        for (((_, frames), i) <- sources.zipWithIndex; if round < frames.length)
          yield {
            val stage = root.resolve(s"stage${i}_$round")
            frames(round).write.parquet(stage.toString)
            (stage, srcDirs(i).resolve(s"r$round"))
          }
      staged.foreach { case (stage, dst) =>
        java.nio.file.Files.move(stage, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    land(0) // the glob matches at least one dir before the query starts
    val streams = sources.zip(srcDirs).map { case ((schema, _), d) =>
      s.readStream.schema(schema).parquet(d.toString + "/*")
    }
    // The replay is a DRAIN (process all available data, stop). No-data
    // micro-batches exist to advance eviction/emission between arrivals in
    // a LATENCY-sensitive continuous job; in a drain they are pure overhead
    // — each re-plans the incremental query and commits every state store
    // per partition with zero input (measured: ~1 s per no-data batch on
    // the stream-stream join at 8 stateful partitions, two such batches per
    // replay). Emission does not depend on them HERE: every watermarked
    // twin pushes its watermark with explicit sentinel DATA rounds, and the
    // final outputs are oracle-hash-pinned (22/22 at sf0.01 and sf0.1 with
    // the conf off). The conf is read at STREAM START, so setting it around
    // the query and restoring after is the submit-time conf a production
    // drain job would carry; continuous deployments keep the default.
    // The drain is faster without them at scale too (stream_neardup_twin
    // at the sf10 soak, same window: 108.5 s with no-data batches off vs
    // 126.5 s on), the relocated state eviction notwithstanding.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = s.conf.getOption(noDataKey)
    s.conf.set(noDataKey, "false")
    val query =
      try start(streams)
      finally prevNoData.fold(s.conf.unset(noDataKey))(s.conf.set(noDataKey, _))
    try {
      query.processAllAvailable()
      for (r <- 1 until rounds) { land(r); query.processAllAvailable() }
    } finally {
      query.stop()
      // The finished query's state-store providers stay cached on-heap
      // (HDFS provider: full version maps — ~6 GB for the sf10 near-dup
      // replay; RocksDB provider: native block cache). The caller's next
      // step is a BATCH stage over the sink output; release the state
      // memory before it runs rather than at the next releaseCaches.
      org.apache.spark.sql.GraftBridge.unloadStateStores()
    }
  }

  /** Replay through a streaming TRANSFORM and collect its results from a
    * parquet sink (append mode) or a foreachBatch overwrite (complete
    * mode — the lake-sink shape for a fully-refreshed aggregate). The
    * returned frame is localCheckpoint'ed so the temp dirs can be
    * reclaimed immediately.
    */
  // private[graft] so the failure-path temp-dir cleanup is spec-pinned
  private[graft] def fileReplay(
      s: SparkSession,
      sources: Seq[(StructType, Seq[DataFrame])],
      transform: Seq[DataFrame] => DataFrame,
      complete: Boolean = false): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_twin_")
    val outDir = root.resolve("out")
    val cpDir = root.resolve("cp").toString
    var outSchema: StructType = null
    try {
      replay(s, root, sources, { streams =>
        val tf = transform(streams)
        outSchema = tf.schema
        val sinkBase = tf.writeStream.option("checkpointLocation", cpDir)
        if (complete)
          sinkBase.outputMode("complete").foreachBatch {
            (b: Dataset[Row], _: Long) =>
              b.write.mode("overwrite").parquet(outDir.toString); ()
          }.start()
        else sinkBase.outputMode("append").format("parquet")
          .option("path", outDir.toString).start()
      })
      // explicit schema: a twin that emitted zero rows reads back as an
      // empty frame instead of a schema-inference failure
      val result =
        if (java.nio.file.Files.exists(outDir))
          s.read.schema(outSchema).parquet(outDir.toString)
        else s.createDataFrame(new java.util.ArrayList[Row](), outSchema)
      // Small splits while the eager checkpoint plans+runs the scan: the
      // sink holds narrow highly-compressed rows (a 128 MB parquet split
      // decodes to >1 GB of pairs), and the checkpoint partitioning
      // becomes the map-side partitioning of the caller's
      // distinct/aggregate — 32 concurrent default-sized tasks over the
      // sf10 near-dup sink exhausted the execution pool
      // (AGGREGATE_OUT_OF_MEMORY, BENCH_sf10b).
      // DISK_ONLY: the checkpoint is written once and read once by the
      // caller's batch stage; keeping a scale-proportional sink in the
      // eviction-protected half of the storage pool would starve that
      // stage's aggregation memory instead.
      val prev = s.conf.get("spark.sql.files.maxPartitionBytes")
      s.conf.set("spark.sql.files.maxPartitionBytes", (16 << 20).toString)
      try result.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      finally s.conf.set("spark.sql.files.maxPartitionBytes", prev)
    } finally rmrf(root) // temp source/checkpoint/output never leak
  }

  /** Stateful-stage partition count for the replay twins. 8 is the
    * r9-measured optimum at bench SFs, where per-micro-batch state-store
    * commits dominate (ScaleProbe `streamparts`: 8 beats 32 by 2.3× on the
    * stream-stream join).
    */
  private val StatefulParts = "8"

  /** Run `f` (a replay that starts its stream) with the session's shuffle
    * partitions at [[StatefulParts]], restoring the previous value after:
    * the conf is pinned at stream start, so only the replay's stateful
    * stage sees it.
    */
  private def withStatefulParts[T](s: SparkSession)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatefulParts)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** single-row aggregate: midpoint of a long column's range — the
    * replay's batch-membership threshold (bounded, never data-sized) */
  private def midpoint(df: DataFrame, c: String): Long = {
    val r = df.agg(min(col(c)).as("lo"), max(col(c)).as("hi")).head()
    r.getLong(0) / 2 + r.getLong(1) / 2
  }

  /** ScaleProbe canary: a two-micro-batch file-source replay of an events
    * frame (`event_id, ts, user_id, event_type, value`) through the E1
    * windowed aggregate — times the twin HARNESS itself, which must stay
    * linear in replayed rows (partition-parallel drops, no driver data).
    * Returns the aggregate's row count.
    */
  private[graft] def replayProbe(s: SparkSession, events: DataFrame): Long = {
    val feed = events.select(unix_micros(col("ts")).as("ts_us"), col("ts"),
      col("event_type"), col("value"))
    val mid = midpoint(feed, "ts_us")
    def half(p: org.apache.spark.sql.Column): DataFrame =
      feed.filter(p).select("ts", "event_type", "value")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    fileReplay(
      s,
      Seq(schema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid))),
      srcs => EventStreams.hourlyAggregates(srcs.head),
      complete = true).count()
  }

  /** ScaleProbe canary: the STATEFUL sessionizer replay (the
    * stream_sessions_twin machinery minus the oracle) — run by the
    * `streamparts` probe at two shuffle-partition settings to MEASURE the
    * state-store-commits-per-partition trade instead of asserting it.
    * Returns emitted session count.
    */
  private[graft] def sessionReplayProbe(s: SparkSession, events: DataFrame): Long = {
    import s.implicits._
    val feed = events.select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
      col("ts"), col("user_id"), lit("replay").as("event_type"), lit(0.0).as("value"))
    val mid = midpoint(feed, "ts_us")
    val maxUs = feed.agg(max(col("ts_us"))).head().getLong(0)
    val gapMs = 30L * 60L * 1000L
    def half(p: org.apache.spark.sql.Column): DataFrame =
      feed.filter(p).select("event_id", "ts", "user_id", "event_type", "value")
    def sentinel(k: Int): DataFrame =
      Seq((-k.toLong, new java.sql.Timestamp(maxUs / 1000L + (100L * k) * gapMs),
        -1L, "sentinel", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    fileReplay(
      s,
      Seq(schema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid),
        sentinel(1), sentinel(2))),
      srcs => EventStreams.sessionize(srcs.head.as[EventStreams.Event]).toDF())
      .filter(col("user_id") >= 0).count()
  }

  /** ScaleProbe canary: the STREAM-STREAM interval-join replay (the
    * stream_join_twin machinery minus the oracle); four state stores per
    * shuffle partition, committed per micro-batch. Returns joined pairs.
    */
  private[graft] def joinReplayProbe(s: SparkSession, events: DataFrame): Long = {
    val feed = events.filter(col("event_type").isin("click", "view"))
      .select(unix_micros(col("ts")).as("ts_us"), col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
    val mid = midpoint(feed, "ts_us")
    def slice(et: String, p: org.apache.spark.sql.Column): DataFrame =
      feed.filter(col("event_type") === et && p).select("event_id", "ts", "user_id")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    fileReplay(
      s,
      Seq(
        schema -> Seq(slice("click", col("ts_us") <= mid),
          slice("click", col("ts_us") > mid)),
        schema -> Seq(slice("view", col("ts_us") <= mid),
          slice("view", col("ts_us") > mid))),
      srcs => EventStreams.correlate(srcs(0), srcs(1), withinMinutes = 60))
      .count()
  }

  // ----- the four twins ----------------------------------------------------

  /** E8 twin: the dedup corpus replayed through the E7 streaming near-dup
    * operator as two micro-batches; emitted candidate pairs must hash-match
    * the batch MinHash pipeline's DuckDB oracle, est_jaccard included.
    * Batch 1 carries the low half of the doc_id range stamped at `base`,
    * batch 2 the high half a minute later — so global arrival order is
    * doc_id order (the within-batch group sort is (ts, doc_id) and all ts
    * tie inside a batch), which makes the stream's first-k bucket occupancy
    * provably equal the batch path's min-k bucket cap.
    */
  val streamNeardupTwin: Q = Q(
    "stream_neardup_twin",
    (s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Dedup
        .withPlantedDups(Tables(s, dir).documents)
        .select("doc_id", "text")
      val mid = midpoint(corpus, "doc_id")
      // Timestamps must sit ABOVE epoch 0 — Spark's global watermark starts
      // at 0 and the stateful operator drops rows at/below it as late.
      val base = 1700000000000L
      def stamped(half: DataFrame, tsMs: Long): DataFrame =
        half.select(col("doc_id"), timestamp_millis(lit(tsMs)).as("ts"), col("text"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("ts", TimestampType),
        StructField("text", StringType)))
      // signature hashing parallelizes on the SOURCE partitions; only the
      // stateful bucket stage follows shuffle.partitions, where per-batch
      // store commits dominate — fewer partitions there (see streamJoinTwin)
      val out = withStatefulParts(s) {
        fileReplay(
          s,
          Seq(schema -> Seq(
            stamped(corpus.filter(col("doc_id") <= mid), base),
            stamped(corpus.filter(col("doc_id") > mid), base + 60000L))),
          srcs => EventStreams.nearDupCandidates(srcs.head.as[EventStreams.DocIn],
            threshold = 0.5).toDF())
      }
      // a pair colliding in several bands emits once per band: distinct
      out.select(col("a"), col("b"), col("est_jaccard"))
        .distinct()
        .orderBy("a", "b")
    },
    // the batch pipeline's generated oracle, verbatim — stream == batch
    Some(graft.Q.oracleResource("dedup_minhash"))
  )

  /** E10 twin: the whole events table replayed through `hourlyAggregates`
    * (E1) as two micro-batches in complete output mode; the final
    * aggregation state must hash-match the per-hour totals DuckDB computes
    * over the table at rest. Pins window assignment, decimal sum and the
    * cross-batch state merge — count/sum partials from batch 1 combine
    * exactly with batch 2's. (countDistinct is not available to streaming
    * aggs, so the twin checks the count/sum columns.)
    */
  val streamBucketsTwin: Q = Q(
    "stream_buckets_twin",
    (s, dir) => {
      // Tables.events canonicalizes ts to native TimestampType (micros);
      // the micros long is derived only to pick the batch-split midpoint
      val feed = Tables(s, dir).events
        .select(unix_micros(col("ts")).as("ts_us"), col("ts"),
          col("event_type"), col("value"))
      val mid = midpoint(feed, "ts_us")
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("ts", "event_type", "value")
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      // the windowed agg's state is tiny (hours × types) but each shuffle
      // partition still commits its own store per micro-batch — fewer
      // partitions, same correctness (see streamJoinTwin)
      val out = withStatefulParts(s) {
        fileReplay(
          s,
          Seq(schema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid))),
          srcs => EventStreams.hourlyAggregates(srcs.head),
          complete = true)
      }
      out.select(col("window.start").cast("long").as("bucket_s"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("bucket_s", "event_type")
    },
    Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** E12 twin: the STATEFUL SESSIONIZER (E2) under the DuckDB oracle. The
    * events table is replayed through `sessionize` (flatMapGroupsWithState,
    * event-time timeout) as two event-time-ordered micro-batches, and the
    * emitted sessions must hash-match the gaps-and-islands SQL over the
    * table at rest — micros precision, 30-minute gap, now proven for the
    * cross-batch state path: sessions spanning the replay split, session-id
    * continuity through tombstones, and timeout-driven emission.
    *
    * The final open session per user only leaves the operator when the
    * WATERMARK passes its gap horizon, so two sentinel micro-batches with
    * far-future timestamps push the watermark past every real event (the
    * first advances the watermark; timeouts FIRE while processing the
    * second). The sentinel user (-1) is excluded from the result.
    */
  val streamSessionsTwin: Q = Q(
    "stream_sessions_twin",
    (s, dir) => {
      import s.implicits._
      val feed = Tables(s, dir).events
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("ts"), col("user_id"),
          lit("replay").as("event_type"), lit(0.0).as("value"))
      val mid = midpoint(feed, "ts_us")
      val maxUs = feed.agg(max(col("ts_us"))).head().getLong(0)
      val gapMs = 30L * 60L * 1000L
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("event_id", "ts", "user_id", "event_type", "value")
      def sentinel(k: Int): DataFrame =
        Seq((-k.toLong, new java.sql.Timestamp(maxUs / 1000L + (100L * k) * gapMs),
          -1L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      // four micro-batches (2 halves + 2 sentinels) each commit one state
      // store per shuffle partition; at replay volume the commits dominate
      // wall time, so the stateful stage runs on fewer partitions — same
      // trade as streamJoinTwin (correctness is partition-count-
      // independent; the conf is pinned at stream start)
      val out = withStatefulParts(s) {
        fileReplay(
          s,
          Seq(schema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid),
            sentinel(1), sentinel(2))),
          srcs => EventStreams.sessionize(srcs.head.as[EventStreams.Event]).toDF())
      }
      out.filter(col("user_id") >= 0)
        .select("user_id", "session_id", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_id")
    },
    Some("""WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, ts_us,
        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
      MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
    FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""")
  )

  /** E13 twin: the STREAM-STREAM INTERVAL JOIN (E5) under the DuckDB
    * oracle. The events table splits into a click stream and a view stream
    * (two independent file sources), both replayed in event-time order
    * through `correlate` (each click joins the same user's views from the
    * preceding 60 minutes; watermarks on BOTH sides bound the buffered
    * state), and the emitted pairs must hash-match the interval join DuckDB
    * computes over the table at rest. Pairs whose two sides arrive in
    * DIFFERENT micro-batches prove the cross-batch state buffering;
    * inner-join results emit on match, so no sentinel watermark push is
    * needed.
    */
  val streamJoinTwin: Q = Q(
    "stream_join_twin",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .filter(col("event_type").isin("click", "view"))
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("ts"), col("user_id"),
          col("event_type"))
      val mid = midpoint(feed, "ts_us")
      def slice(et: String, p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(col("event_type") === et && p)
          .select("event_id", "ts", "user_id")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType)))
      // a stream-stream join runs FOUR state stores per shuffle partition,
      // each committed per micro-batch — at the replay's data volume the
      // store commits dominate wall time, so the join runs on fewer
      // partitions (correctness is partition-count-independent; the
      // session conf is restored after the query starts, which pins the
      // stream's own partitioning at start time)
      val out = withStatefulParts(s) {
        fileReplay(
          s,
          Seq(
            schema -> Seq(slice("click", col("ts_us") <= mid),
              slice("click", col("ts_us") > mid)),
            schema -> Seq(slice("view", col("ts_us") <= mid),
              slice("view", col("ts_us") > mid))),
          srcs => EventStreams.correlate(srcs(0), srcs(1), withinMinutes = 60))
      }
      out.select(col("user_id"), col("click_id"), col("view_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("view_ts")).as("view_us"))
        .orderBy("user_id", "click_id", "view_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
      epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND epoch_us(c.ts) >= epoch_us(v.ts)
     AND epoch_us(c.ts) <= epoch_us(v.ts) + 3600000000
    ORDER BY c.user_id, click_id, view_id""")
  )

  /** E19 twin: stream-static dim ENRICHMENT under the DuckDB oracle. The
    * events table replays as two micro-batches through
    * `EventStreams.enrichWithDim` against the customer⋈nation dim, and
    * the enriched rows must hash-match the plain three-way batch join —
    * value columns pass through untouched (no aggregation), so the match
    * is bit-exact by construction and what the twin actually proves is
    * JOIN COMPLETENESS across micro-batch boundaries: a dim row is
    * available to every batch, each event appears exactly once.
    *
    * Stateless (no watermark, no state store), so no stateful-partition
    * tuning applies; the scale property is in the PLAN — the hinted
    * broadcast keeps the unbounded stream side unshuffled per micro-batch
    * (EnrichPlanSpec pins BroadcastHashJoin + zero stream-side exchanges).
    */
  val streamEnrichTwin: Q = Q(
    "stream_enrich_twin",
    (s, dir) => {
      val t = Tables(s, dir)
      val feed = t.events.select(unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      val mid = midpoint(feed, "ts_us")
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("event_id", "user_id", "event_type", "value")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      val dim = t.customer
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      val out = fileReplay(
        s,
        Seq(schema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid))),
        srcs => EventStreams.enrichWithDim(srcs.head, dim,
            col("user_id") === col("c_custkey"))
          .select("event_id", "event_type", "value", "c_name", "n_name"))
      out.orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.event_type, e.value, c.c_name, n.n_name
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY e.event_id""")
  )

  /** E17 twin: ONLINE SemDeDup under the DuckDB oracle. The embedding
    * corpus (with the planted copies) is cluster-assigned by the SAME
    * stateless centroid projection as batch, replayed in vec_id order as
    * two micro-batches through `semanticDedupStream`, and the emitted
    * eliminations must hash-match the batch dedup_semantic oracle —
    * witness ids and cluster included. The midpoint split puts every
    * planted copy (id ≥ 1M) in batch 2 while its source sits in batch 1,
    * so every emission crosses the state boundary — the cross-batch
    * seen-set is what this twin proves.
    */
  val streamSemanticTwin: Q = Q(
    "stream_semantic_twin",
    (s, dir) => {
      import s.implicits._
      val base = Tables(s, dir).embeddings
      val planted = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.select("vec_id", "embedding").unionByName(planted)
      // same data-dependent K as batch dedup_semantic — the shared oracle
      // computes the identical ceil(n/2000) from the same corpus count
      // (footer row count for the unfiltered base + one planted count, the
      // same no-full-scan sizing as the batch path)
      val n = graft.sources.ParquetMeta.scanRowCount(s, base)
        .getOrElse(base.count()) + planted.count()
      val cents = graft.operators.Dedup.semCentroids(corpus, "vec_id", "embedding",
        graft.operators.Dedup.semClustersFor(n))
      val assigned = corpus.select(col("vec_id"),
        org.apache.spark.sql.GraftBridge.column(graft.functions.NearestCentroid(
          org.apache.spark.sql.GraftBridge.expression(s, col("embedding")),
          cents)).as("cluster"),
        col("embedding"))
      val mid = midpoint(assigned, "vec_id")
      val baseTs = 1700000000000L
      def stamped(half: DataFrame, tsMs: Long): DataFrame =
        half.select(col("vec_id"), timestamp_millis(lit(tsMs)).as("ts"),
          col("cluster"), col("embedding"))
      val schema = StructType(Seq(
        StructField("vec_id", LongType), StructField("ts", TimestampType),
        StructField("cluster", IntegerType),
        StructField("embedding", ArrayType(FloatType))))
      // same stateful-stage partition trade as the other twins: centroid
      // assignment runs source-side; only the per-cluster state stage
      // follows shuffle.partitions
      val out = withStatefulParts(s) {
        fileReplay(
          s,
          Seq(schema -> Seq(
            stamped(assigned.filter(col("vec_id") <= mid), baseTs),
            stamped(assigned.filter(col("vec_id") > mid), baseTs + 60000L))),
          srcs => EventStreams.semanticDedupStream(srcs.head.as[EventStreams.VecIn]).toDF())
      }
      out.select("vec_id", "dup_of", "cluster").orderBy("vec_id")
    },
    // the batch dedup_semantic oracle, verbatim — stream == batch
    Some(graft.operators.Dedup.dedupSemantic.sql.get)
  )

  // ----- production sink paths under the oracle (E4/E9/E11 end-to-end) ----

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** E4 end-to-end: the full events table streamed file-source → lake
    * sink (one atomic catalog commit per micro-batch) and aggregated
    * FROM THE LAKE TABLE against the at-rest oracle. This is the bench's
    * production-ingestion throughput path — the reference's headline
    * number is exactly this shape (rows ingested end-to-end per second),
    * so regressions in the foreachBatch → LakeCatalog.write path are
    * caught the way batch ones are.
    */
  val streamLakeSink: Q = Q(
    "stream_lake_sink",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mid = midpoint(feed, "ts_us")
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("event_id", "ts", "user_id", "event_type", "value")
      val root = java.nio.file.Files.createTempDirectory("graft_sink_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        replay(s, root,
          Seq(eventSchema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid))),
          srcs => EventStreams.streamIntoLake(srcs.head, cat, "st", "events",
            root.resolve("cp").toString))
        cat.read("st", "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E20: STREAMING INGESTION → OPEN-FORMAT HANDOFF. The E4/E14 lake sink
    * (one atomic commit per micro-batch), then the table is handed to the
    * Delta ecosystem: every streaming commit becomes a Delta version via
    * `lake.DeltaExport`, a checkpoint is cut at version 0, and the final
    * aggregate is computed READING EXCLUSIVELY through `lake.DeltaImport`
    * (checkpoint seed + JSON tail). This is the production shape where a
    * Spark streaming pipeline feeds a table that non-Spark Delta readers
    * consume — the handoff has to be correct for every micro-batch's
    * commit, not just batch-written lineages (lake_delta_export covers
    * those).
    */
  val streamDeltaSink: Q = Q(
    "stream_delta_sink",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mid = midpoint(feed, "ts_us")
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("event_id", "ts", "user_id", "event_type", "value")
      val root = java.nio.file.Files.createTempDirectory("graft_sink_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        replay(s, root,
          Seq(eventSchema -> Seq(half(col("ts_us") <= mid), half(col("ts_us") > mid))),
          srcs => EventStreams.streamIntoLake(srcs.head, cat, "st", "events",
            root.resolve("cp").toString))
        val exp = graft.lake.DeltaExport.export(s, cat, "st", "events")
        graft.lake.DeltaExport.checkpoint(s, exp.logDir, 0L)
        val loc = root.resolve("lake").resolve("st").resolve("events").toString
        graft.lake.DeltaImport.read(s, loc)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E21 end-to-end: AUDITED streaming ingestion — micro-batches land on a
    * BRANCH while main stays at its pre-stream snapshot (pinned: the
    * pre-publish main count rides the result as a column), an
    * end-of-stream audit checks the branch tip, and ONE fast-forward
    * publishes the whole session atomically. The final aggregate reads
    * MAIN after the publish, so a branch that leaked early, lost a
    * micro-batch, or merged the wrong tip each break a different column.
    */
  val streamBranchSink: Q = Q(
    "stream_branch_sink",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mid = midpoint(feed, "ts_us")
      def half(p: org.apache.spark.sql.Column): DataFrame =
        feed.filter(p).select("event_id", "ts", "user_id", "event_type", "value")
      // main starts with the first half already published; the stream
      // lands the second half on a branch as two micro-batches
      val h2 = feed.filter(col("ts_us") > mid)
      val mid2 = midpoint(h2, "ts_us")
      val root = java.nio.file.Files.createTempDirectory("graft_sink_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("st", "events", half(col("ts_us") <= mid))
        cat.createBranch("st", "events", "ingest")
        replay(s, root,
          Seq(eventSchema -> Seq(
            half(col("ts_us") > mid && col("ts_us") <= mid2),
            half(col("ts_us") > mid2))),
          srcs => EventStreams.streamIntoBranch(srcs.head, cat, "st", "events",
            "ingest", root.resolve("cp").toString))
        val mainBefore = cat.read("st", "events")
          .agg(count(lit(1)).as("n_main_during_stream"))
        // audit the branch tip, then publish the session atomically
        require(cat.readBranch("st", "events", "ingest")
          .filter(col("event_id").isNull).isEmpty, "audit: null event ids")
        cat.fastForwardBranch("st", "events", "ingest")
        cat.read("st", "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .crossJoin(broadcast(mainBefore))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      (SELECT COUNT(*) FROM events
        WHERE epoch_us(ts) <= (SELECT MIN(epoch_us(ts)) // 2 + MAX(epoch_us(ts)) // 2 FROM events))
        AS n_main_during_stream
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E22 end-to-end: a LAKE TABLE AS A STREAMING SOURCE
    * ([[org.apache.spark.sql.graft.LakeStreamSource]]), composed with the
    * txn-watermark lake sink — lake→lake incremental replication with
    * exactly-once semantics and SNAPSHOT VERSIONS as offsets. The source
    * table is built as three append commits (event_id quarters 0-2); a
    * first pass streams the INITIAL SNAPSHOT into the sink table; a
    * fourth quarter is appended and a RESTART from the same checkpoint
    * streams ONLY that delta (the version offset rides the checkpoint).
    * The final aggregate reads the SINK table, so a source that
    * re-emitted the snapshot on restart, missed the delta window, or a
    * sink that double-committed a replay each hash-mismatch the
    * whole-events oracle.
    */
  val streamLakeSource: Q = Q(
    "stream_lake_source",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      def quarter(q: Int): DataFrame =
        feed.filter(pmod(col("event_id"), lit(4)) === q)
      val root = java.nio.file.Files.createTempDirectory("graft_lksrc_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("st", "src", quarter(0))
        cat.write("st", "src", quarter(1), org.apache.spark.sql.SaveMode.Append)
        cat.write("st", "src", quarter(2), org.apache.spark.sql.SaveMode.Append)
        val cp = root.resolve("cp").toString
        def pass(): Unit = {
          val q = EventStreams.streamIntoLake(
            EventStreams.readLakeStream(s, cat.root, "st", "src"),
            cat, "st", "out", cp)
          try q.processAllAvailable() finally q.stop()
        }
        pass() // initial snapshot (everything up to v3)
        cat.write("st", "src", quarter(3), org.apache.spark.sql.SaveMode.Append)
        pass() // restart: only the (v3, v4] append window
        cat.read("st", "out")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E23 end-to-end: the lake streaming source in CHANGE-FEED mode — the
    * windows E22 refuses (non-append commits) stream faithfully as
    * snapshot diffs with a `_change` column. Pass 1 streams the initial
    * two-commit snapshot as inserts; a CoW DELETE then lands and a
    * RESTART from the same checkpoint streams exactly that window's
    * deletes. The feed aggregates by change type, so a missed delete
    * window, a re-emitted snapshot, or wrongly-derived diff rows each
    * hash-mismatch.
    */
  val streamCdfSource: Q = Q(
    "stream_cdf_source",
    (s, dir) => {
      val base = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val root = java.nio.file.Files.createTempDirectory("graft_cdfsrc_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("st", "src", base.filter(col("o_orderkey") % 2 === 0))
        cat.write("st", "src", base.filter(col("o_orderkey") % 2 =!= 0),
          org.apache.spark.sql.SaveMode.Append)
        val cp = root.resolve("cp").toString
        val outDir = root.resolve("out").toString
        def pass(): Unit = {
          val q = EventStreams.readLakeStream(s, cat.root, "st", "src",
            Map("changefeed" -> "true"))
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", cp).start()
          try q.processAllAvailable() finally q.stop()
        }
        pass() // initial snapshot: every row as an insert
        cat.delete("st", "src", col("o_orderkey") % 7 === 0)
        pass() // restart: the CoW-delete window streams as deletes
        s.read.parquet(outDir)
          .groupBy("_change")
          .agg(count(lit(1)).as("n"), graft.Num.dsum(col("o_totalprice")).as("total"))
          .orderBy("_change")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT * FROM (
      SELECT 'delete' AS _change, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT 'insert' AS _change, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders) f ORDER BY _change""")
  )

  /** E24 end-to-end: LAKE→LAKE CHANGE-DATA REPLICATION
    * ([[EventStreams.replicateLakeToLake]]) — the change-feed source
    * FEEDING the CDC APPLY sink, so the replica converges to the source
    * through NON-APPEND windows. Pass 1 replicates the two-commit initial
    * snapshot; then a file-scoped UPDATE and a CoW DELETE land on the
    * source and a RESTART from the same checkpoint streams the mutation
    * diff window through applyCdc: update pairs rewrite in place,
    * tombstones remove — both in ONE file-scoped pass (E11's one-cycle
    * property; per-version window splitting is spec-pinned in
    * LakeStreamSourceSpec, so the benched entry proves the COMPOSITION,
    * not the rate limiter again). The aggregate reads the REPLICA, so a
    * missed window, a re-applied snapshot, an update pair applied as
    * delete-only or insert-only, or a non-convergent tie-break each
    * hash-mismatch the oracle (= the source's final state recomputed
    * from `orders`).
    */
  val streamLakeReplicate: Q = Q(
    "stream_lake_replicate",
    (s, dir) => {
      // quarter of orders: the entry proves the COMPOSITION (change-feed
      // windows through applyCdc, restart convergence) — every code path
      // fires identically at any slice, and the oracle re-derives the
      // same final state, so corpus size only buys benchmark seconds
      val base = Tables(s, dir).orders
        .filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val root = java.nio.file.Files.createTempDirectory("graft_lrep_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("st", "src", base.filter(col("o_orderkey") % 8 === 0))
        cat.write("st", "src", base.filter(col("o_orderkey") % 8 =!= 0),
          org.apache.spark.sql.SaveMode.Append)
        val cp = root.resolve("cp").toString
        def pass(): Unit = {
          val q = EventStreams.replicateLakeToLake(s, cat.root, "st", "src",
            cat, "st", "replica", Seq("o_orderkey"), cp)
          try q.processAllAvailable() finally q.stop()
        }
        pass() // initial snapshot: replica = source
        cat.update("st", "src",
          Seq("o_totalprice" ->
            (graft.Num.m(col("o_totalprice")) + 1000).cast("double")),
          col("o_orderkey") % 20 === 0)
        cat.delete("st", "src", col("o_orderkey") % 28 === 0)
        pass() // restart: the UPDATE+DELETE mutation window applies
        cat.read("st", "replica")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), graft.Num.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CASE WHEN o_orderkey % 20 = 0
        THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
        ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 28 <> 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B44/E25 end-to-end (r15, VERDICT r14 #1): the ONE-STATEMENT STREAMING
    * PIPELINE — `INSERT INTO graft.ns.dst SELECT … FROM STREAM
    * graft.ns.src`, the SQL-first completion of the streaming story (the
    * read half shipped in r14; the write half needed Scala until the
    * native `graft-lake` sink provider). The statement plans change-feed
    * source → projection → txn-watermarked sink and drains under
    * `Trigger.AvailableNow`. Run 1 processes the three-commit initial
    * snapshot; a fourth quarter is appended and the SAME statement runs
    * again: the shared checkpoint lineage (keyed per destination under
    * [[graft.sql.GraftSqlParser.StreamCheckpointConf]]) processes ONLY
    * the delta — the scheduled-incremental-job shape. The aggregate reads
    * the destination, so a re-emitted snapshot, a missed delta window, or
    * a replayed commit each hash-mismatch the whole-events oracle.
    */
  val streamSqlPipeline: Q = Q(
    "stream_sql_pipeline",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      def quarter(q: Int): DataFrame =
        feed.filter(pmod(col("event_id"), lit(4)) === q)
      val root = java.nio.file.Files.createTempDirectory("graft_sqlpipe_")
      val prevRoot = s.conf.getOption(graft.sql.GraftSqlParser.RootConf)
      val prevCp = s.conf.getOption(graft.sql.GraftSqlParser.StreamCheckpointConf)
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("stq", "src", quarter(0))
        cat.write("stq", "src", quarter(1), org.apache.spark.sql.SaveMode.Append)
        cat.write("stq", "src", quarter(2), org.apache.spark.sql.SaveMode.Append)
        s.conf.set(graft.sql.GraftSqlParser.RootConf, cat.root)
        s.conf.set(graft.sql.GraftSqlParser.StreamCheckpointConf,
          root.resolve("cp").toString)
        val stmt = """INSERT INTO graft.stq.dst
          SELECT event_id, ts, user_id, event_type, value
          FROM STREAM graft.stq.src"""
        s.sql(stmt).collect()            // initial snapshot (v1..v3)
        cat.write("stq", "src", quarter(3), org.apache.spark.sql.SaveMode.Append)
        s.sql(stmt).collect()            // re-run: only the (v3, v4] delta
        s.sql("""SELECT event_type, COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
          FROM graft.stq.dst GROUP BY event_type ORDER BY event_type""")
          .localCheckpoint(true)
      } finally {
        prevRoot.fold(s.conf.unset(graft.sql.GraftSqlParser.RootConf))(
          s.conf.set(graft.sql.GraftSqlParser.RootConf, _))
        prevCp.fold(s.conf.unset(graft.sql.GraftSqlParser.StreamCheckpointConf))(
          s.conf.set(graft.sql.GraftSqlParser.StreamCheckpointConf, _))
        rmrf(root)
      }
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** B45b/E25 end-to-end (r16, VERDICT r15 #1): the KEYED one-statement
    * streaming pipeline — `MERGE INTO graft.ns.dst USING (streaming
    * aggregate) ON key`, the continuous version of the reference's MERGE
    * shape (merge_utils.py:74-80). The subquery is a STREAMING GROUP BY
    * over `FROM STREAM graft.ns.src`; the statement plans source →
    * stateful aggregate → the native sink in upsert mode under Update
    * output, so re-emitted groups CONVERGE on their key. Run 1 aggregates
    * the three-commit initial snapshot; a fourth quarter is appended and
    * the SAME statement runs again — the checkpointed aggregate STATE
    * carries across runs, so the re-run processes only the delta yet
    * emits the updated TOTALS, and the merge converges the table to one
    * row per group. The final read is the destination itself, so a
    * lineage that re-counted the snapshot, dropped the delta, stacked
    * group revisions (append-not-merge), or lost aggregate state across
    * the restart each hash-mismatch the whole-events oracle.
    */
  val streamSqlMerge: Q = Q(
    "stream_sql_merge",
    (s, dir) => {
      val feed = Tables(s, dir).events
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      def quarter(q: Int): DataFrame =
        feed.filter(pmod(col("event_id"), lit(4)) === q)
      val root = java.nio.file.Files.createTempDirectory("graft_sqlmrg_")
      val prevRoot = s.conf.getOption(graft.sql.GraftSqlParser.RootConf)
      val prevCp = s.conf.getOption(graft.sql.GraftSqlParser.StreamCheckpointConf)
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        cat.write("stm", "src", quarter(0))
        cat.write("stm", "src", quarter(1), org.apache.spark.sql.SaveMode.Append)
        cat.write("stm", "src", quarter(2), org.apache.spark.sql.SaveMode.Append)
        s.conf.set(graft.sql.GraftSqlParser.RootConf, cat.root)
        s.conf.set(graft.sql.GraftSqlParser.StreamCheckpointConf,
          root.resolve("cp").toString)
        val stmt = """MERGE INTO graft.stm.agg USING (
            SELECT event_type, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
            FROM STREAM graft.stm.src GROUP BY event_type
          ) ON event_type
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""
        s.sql(stmt).collect()            // initial snapshot (v1..v3)
        cat.write("stm", "src", quarter(3), org.apache.spark.sql.SaveMode.Append)
        s.sql(stmt).collect()            // re-run: delta in, TOTALS out
        s.sql("""SELECT event_type, n_events, total_value
          FROM graft.stm.agg ORDER BY event_type""")
          .localCheckpoint(true)
      } finally {
        prevRoot.fold(s.conf.unset(graft.sql.GraftSqlParser.RootConf))(
          s.conf.set(graft.sql.GraftSqlParser.RootConf, _))
        prevCp.fold(s.conf.unset(graft.sql.GraftSqlParser.StreamCheckpointConf))(
          s.conf.set(graft.sql.GraftSqlParser.StreamCheckpointConf, _))
        rmrf(root)
      }
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E9 end-to-end: streaming CDC UPSERT sink — micro-batch 1 lands every
    * event, micro-batch 2 re-sends corrections for 1-in-10 keys (+1000),
    * and the LAKE TABLE must converge to one row per key with the latest
    * value: the oracle counts each event once with corrections applied,
    * so a sink that appended instead of merging (or merged the wrong
    * rows) hash-mismatches.
    */
  val streamUpsertSink: Q = Q(
    "stream_upsert_sink",
    (s, dir) => {
      val base = Tables(s, dir).events
        .select(col("event_id"), col("event_type"), col("value"))
      val corrections = base.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("event_type"),
          (graft.Num.m(col("value")) + 1000).cast("double").as("value"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val root = java.nio.file.Files.createTempDirectory("graft_sink_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        replay(s, root, Seq(schema -> Seq(base, corrections)),
          srcs => EventStreams.streamUpsertIntoLake(srcs.head, cat, "st", "events",
            "event_id", root.resolve("cp").toString))
        cat.read("st", "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_id % 10 = 0
        THEN CAST(value AS DECIMAL(12,2)) + 1000
        ELSE CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** E11 end-to-end: streaming CDC APPLY sink (the full Debezium shape) —
    * micro-batch 1 upserts every event; micro-batch 2 carries delete
    * tombstones for 1-in-7 keys AND corrections for 1-in-10 (disjoint:
    * corrected keys exclude deleted ones), resolved by the feed's `ord`
    * LSN column in ONE file-scoped pass per batch. The lake table must
    * equal the source minus tombstones with corrections applied.
    */
  val streamCdcSink: Q = Q(
    "stream_cdc_sink",
    (s, dir) => {
      val base = Tables(s, dir).events
        .select(col("event_id"), col("event_type"), col("value"))
      val upserts1 = base.select(col("event_id"), col("event_type"), col("value"),
        lit("upsert").as("_op"), lit(1L).as("ord"))
      val batch2 = base.filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("delete").as("_op"), lit(2L).as("ord"))
        .unionByName(base
          .filter(col("event_id") % 10 === 0 && col("event_id") % 7 =!= 0)
          .select(col("event_id"), col("event_type"),
            (graft.Num.m(col("value")) + 1000).cast("double").as("value"),
            lit("upsert").as("_op"), lit(2L).as("ord")))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("_op", StringType),
        StructField("ord", LongType)))
      val root = java.nio.file.Files.createTempDirectory("graft_sink_")
      try {
        val cat = graft.lake.LakeCatalog(s, root.resolve("lake").toString)
        replay(s, root, Seq(schema -> Seq(upserts1, batch2)),
          srcs => EventStreams.streamCdcApplyIntoLake(srcs.head, cat, "st", "events",
            "event_id", root.resolve("cp").toString, orderCol = Some("ord")))
        cat.read("st", "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), graft.Num.dsum(col("value")).as("total_value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally rmrf(root)
    },
    Some("""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_id % 10 = 0
        THEN CAST(value AS DECIMAL(12,2)) + 1000
        ELSE CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 7 <> 0
    GROUP BY event_type ORDER BY event_type""")
  )

  // ----- RocksDB state-store replays (E8/E10/E12/E13/E17 + E16) -----------

  /** The same twin replayed with the state kept in
    * `RocksDBStateStoreProvider` (native, off-heap, disk-spilling) instead
    * of the default heap-map provider — same DuckDB oracle, so the
    * provider swap is proven BEHAVIOR-preserving end-to-end, not assumed
    * from the provider-agnostic API surface. This is the 100 TB state
    * path: heap-map stores bound state by executor heap; RocksDB bounds it
    * by local SSD (see STATE_STORES.md for the measured commit-cost
    * trade). Changelog checkpointing keeps per-batch commits delta-sized,
    * as a production deployment would.
    *
    * The provider conf is read at STREAM START, so setting it around the
    * twin's own run (which starts, drains and stops its query inside) and
    * restoring after is exactly the submit-time conf swap a real cluster
    * performs — operators are untouched.
    */
  private def underRocksDb(inner: Q, name: String): Q = Q(
    name,
    (s, dir) => {
      val confs = Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true")
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try inner.fn(s, dir)
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },
    inner.sql)

  val streamNeardupRocks: Q = underRocksDb(streamNeardupTwin, "stream_neardup_rocks")
  val streamBucketsRocks: Q = underRocksDb(streamBucketsTwin, "stream_buckets_rocks")
  val streamSessionsRocks: Q = underRocksDb(streamSessionsTwin, "stream_sessions_rocks")
  val streamJoinRocks: Q = underRocksDb(streamJoinTwin, "stream_join_rocks")
  val streamSemanticRocks: Q = underRocksDb(streamSemanticTwin, "stream_semantic_rocks")
  val streamCdcRocks: Q = underRocksDb(streamCdcSink, "stream_cdc_rocks")

  val all: Seq[Q] = Seq(streamNeardupTwin, streamBucketsTwin, streamSessionsTwin,
    streamJoinTwin, streamEnrichTwin, streamSemanticTwin, streamLakeSink,
    streamUpsertSink, streamCdcSink, streamNeardupRocks, streamBucketsRocks,
    streamSessionsRocks, streamJoinRocks, streamSemanticRocks, streamCdcRocks,
    streamDeltaSink, streamBranchSink, streamLakeSource, streamCdfSource,
    streamLakeReplicate, streamSqlPipeline, streamSqlMerge)
}
