package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-linearity probe: synthesizes corpora at 1x / 3x / 10x of an input
  * scale factor's documents+embeddings and times the heaviest pipelines
  * (MinHash near-dup, brute-force ANN) at each size. Run manually:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ScaleProbe <sf dir> [sections]"
  *
  * A super-linear blow-up here means a bucket cap or broadcast assumption
  * broke — the cheap local canary for the 100 TB question.
  */
object ScaleProbe {

  /** Section-name whitelist; a typo must not run zero sections and exit 0
    * (the same contract Verify enforces on query names).
    */
  private[graft] val knownSections = Set("minhash", "ann", "text",
    "mega-bucket", "rank", "merge", "mor", "pq", "skew", "sem", "stream",
    "width", "streamparts", "iceimport", "deltaimport", "annrank", "lloyd",
    "lakestream", "ivfsearch", "replicate", "imisearch", "imicell", "commits")

  /** Validates requested section names against the whitelist; throws on
    * any unknown name. Factored out of main so the contract is spec-pinned.
    */
  private[graft] def validateSections(sections: Set[String]): Set[String] = {
    val unknownSections = sections -- knownSections
    require(unknownSections.isEmpty,
      s"unknown section(s): ${unknownSections.mkString(", ")} " +
        s"(known: ${knownSections.toSeq.sorted.mkString(", ")})")
    sections
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional trailing section names restrict the run; empty = all
    val sections = validateSections(args.drop(1).toSet)
    def on(name: String): Boolean = sections.isEmpty || sections.contains(name)
    val spark = GraftSession.getOrCreate("graft-scale-probe")
    import spark.implicits._

    val docs = Tables(spark, dir).documents.select("doc_id", "text")
    val emb = Tables(spark, dir).embeddings

    def multiplied(mult: Int): DataFrame =
      (0 until mult).map { m =>
        docs.select((col("doc_id") + lit(m.toLong * 10000000L)).as("doc_id"),
          // perturb copies so they are near- but not exact dups of the base
          (if (m == 0) col("text")
           else concat(col("text"), lit(s" variant token $m"))).as("text"))
      }.reduce(_ unionByName _)

    // Sections share the multiplied corpora through /tmp parquet drops.
    // Each corpus is (re)materialized the FIRST time any section in THIS
    // run needs it — so a subset run (`ScaleProbe dir sem`) is
    // self-sufficient and never silently measures a stale file written by
    // an earlier run against a different scale factor.
    val materialized = scala.collection.mutable.Set.empty[String]
    def docsCorpus(mult: Int): String = {
      val path = s"/tmp/graft_scale_${mult}x"
      if (materialized.add(path))
        multiplied(mult).write.mode(SaveMode.Overwrite).parquet(path)
      path
    }
    def embCorpus(mult: Int): String = {
      val path = s"/tmp/graft_scale_emb_${mult}x"
      if (materialized.add(path)) {
        (0 until mult).map { m =>
          emb.select((col("vec_id") + lit(m.toLong * 10000000L)).as("vec_id"),
            col("embedding"))
        }.reduce(_ unionByName _)
          .write.mode(SaveMode.Overwrite).parquet(path)
      }
      path
    }

    if (on("minhash")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(docsCorpus(mult))
      val n = loaded.count()
      val t0 = System.nanoTime()
      val pairs = operators.Dedup.nearDuplicatePairs(loaded, "doc_id", "text").count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] minhash ${mult}x: docs=$n%d pairs=$pairs%d time=$dt%.1fs")
    }

    if (on("ann")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(embCorpus(mult))
      val n = loaded.count()
      val queries = loaded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val t0 = System.nanoTime()
      val scored = loaded
        .join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(operators.Similarity.cosine(col("q_emb"), col("embedding")).as("s"))
        .agg(max("s")).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] ann-brute ${mult}x: vecs=$n%d time=$dt%.1fs maxcos=${scored(0).getDouble(0)}%.3f")
    }

    // ANN RANK-STAGE probe (r12): the bounded-heap TopKPerGroup cut that
    // replaced the per-query row_number window (VERDICT r11 #2). The full
    // top-k-per-query over the scored corpus must scale ~linearly in
    // vectors: partial heaps reduce map-side, the exchange moves at most
    // k x queries x partitions rows, and the only window sorts <=k rows
    // per query — no single-reducer funnel at any multiple.
    if (on("annrank")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(embCorpus(mult))
      val n = loaded.count()
      val queries = loaded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val corpus = loaded.select(col("vec_id").as("neighbor_id"), col("embedding"))
      val t0 = System.nanoTime()
      val scored = corpus
        .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          operators.Similarity.cosine(col("q_emb"), col("embedding")).as("score"))
      val ranked = operators.Similarity.rankTopK(scored, "query_id",
        Seq(desc("score"), asc("neighbor_id")), 5, "rank")
      val out = ranked.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] ann-rank ${mult}x: vecs=$n%d kept=$out%d time=$dt%.1fs")
    }

    // DETERMINISTIC LLOYD probe (r13): the IVF quantizer fit that replaced
    // Spark ML KMeans. Each pass is one scan of the 25% md5 sample (narrow
    // argmin) plus a numCells x dim fixed-point-sum shuffle (tiny), so fit
    // time must scale ~linearly in vectors at any multiple — and the
    // centroids must be IDENTICAL for identical data regardless of
    // partitioning (the bit-reproducibility the oracle relies on).
    // Lake streaming source economics: an append-window micro-batch must
    // cost the APPENDED commit's IO regardless of how big the base table
    // is — the planner diffs two manifests (KB metadata), and the batch
    // scans only the window's new dirs (inputFiles-pinned). A window cost
    // that grows with the base means the source is re-reading the table
    // per trigger and the 100 TB tail-read story is broken.
    if (on("lakestream")) {
      val root = "/tmp/graft_scale_lakestream"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      val ev = Tables(spark, dir).events
        .select("event_id", "user_id", "event_type", "value")
      // the appended commit is the SAME fixed slice at every base size
      val fixedAppend = ev.filter(col("event_id") % 97 === 0)
      def window(mult: Int): (Long, Int, Double) = {
        val t = s"t$mult"
        val base = (0 until mult).map(m =>
          ev.select((col("event_id") + lit(m * 1000000000L)).as("event_id"),
            col("user_id"), col("event_type"), col("value")))
          .reduce(_ unionByName _)
        cat.write("ls", t, base)
        cat.write("ls", t, fixedAppend, SaveMode.Append)
        val src = new org.apache.spark.sql.graft.LakeStreamSource(
          spark, root, "ls", t, Map.empty)
        val t0 = System.nanoTime()
        val batch = org.apache.spark.sql.GraftBridge.asBatch(src.getBatch(
          Some(new org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L)),
          new org.apache.spark.sql.execution.streaming.runtime.LongOffset(2L)))
        val n = batch.count()
        (n, batch.inputFiles.length, (System.nanoTime() - t0) / 1e9)
      }
      val (n1, f1, t1) = window(1)
      val (n10, f10, t10) = window(10)
      require(n1 == n10,
        s"append window must be the fixed slice at every base size: $n1 vs $n10")
      println(f"[scale] lakestream append-window rows=$n1%d: base 1x " +
        f"files=$f1%d time=$t1%.2fs; base 10x files=$f10%d time=$t10%.2fs " +
        f"time_ratio=${t10 / t1}%.2f (flat = window cost tracks the append, " +
        "not the table)")
    }

    // E24 REPLICATION probe (r15, VERDICT r14 #6): a mutation window's
    // replication cost must track the CHANGE SIZE, not the table size.
    // Setup: a src table of 8×mult range-clustered commits, seeded into
    // the replica under maxVersionsPerTrigger=2 (the cap that composes
    // with the change feed — r16 made the source REFUSE the dir/byte
    // slicers under changeFeed instead of silently ignoring them, ADVICE
    // r15). Rate-limited seeding is itself the scale lesson: version
    // windows land the replica as MULTIPLE apply commits, so the later
    // mutation apply stays file-scoped — a one-window seed would fuse the
    // replica into one commit and every future upsert would rewrite it
    // all. Then ONE fixed-size UPDATE (1000 rows inside commit 0's key
    // range) lands on src and the timed pass replicates that window. At
    // 10x the table the diff is the same two commits and the apply
    // rewrites only replica commits holding matched keys — the pass must
    // stay within session-overhead noise of the 1x time, and the probe
    // THROWS when the 10x mutation pass exceeds 3x the 1x pass
    // (table-proportional work would show as ~10x).
    if (on("replicate")) {
      val root = "/tmp/graft_scale_replicate"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      def run(mult: Int): Double = {
        val t = s"src$mult"
        for (m <- 0 until 8 * mult)
          cat.write("rp", t,
            spark.range(m * 25000L, (m + 1) * 25000L)
              .select(col("id"), (col("id") % 100).cast("double").as("v")),
            if (m == 0) SaveMode.Overwrite else SaveMode.Append)
        val cp = s"$root/cp$mult"
        def pass(): Unit = {
          val q = streaming.EventStreams.replicateLakeToLake(spark, root,
            "rp", t, cat, "rp", s"dst$mult", Seq("id"), cp,
            Map("maxversionspertrigger" -> "2"))
          try q.processAllAvailable() finally q.stop()
        }
        pass() // seed (untimed; rate-limited into 2-version diff windows)
        cat.update("rp", t, Seq("v" -> lit(9.9)), col("id") < 1000)
        val t0 = System.nanoTime()
        pass() // the timed mutation window
        val dt = (System.nanoTime() - t0) / 1e9
        val (srcN, dstN) = (cat.rowCount("rp", t), cat.rowCount("rp", s"dst$mult"))
        require(srcN == dstN, s"replica diverged: src=$srcN dst=$dstN")
        require(cat.read("rp", s"dst$mult").filter(col("v") === 9.9).count() == 1000L,
          "mutation window did not apply")
        dt
      }
      val t1 = run(1)
      val t10 = run(10)
      println(f"[scale] replicate mutation-window: 1x=$t1%.2fs 10x=$t10%.2fs " +
        f"ratio=${t10 / t1}%.2f (flat = window cost tracks the change)")
      require(t10 / t1 < 3.0,
        f"mutation-window replication cost grew ${t10 / t1}%.2fx across a 10x " +
          "table step — per-window work is no longer change-proportional")
    }

    // SCALED-CELL IVF probe (r14, VERDICT r13 #4): numCells = ceil(n/2000)
    // keeps PROBED CANDIDATES PER QUERY ~flat as the corpus grows — a
    // fixed 16-cell quantizer's probe cost is linear in n (each probed
    // cell holds n/16 vectors). The fit pays one 25%-sample scan per pass
    // with the two-level argmin (codegen-friendly at any scaled K), and
    // search time per query must track the ~nProbe x 2000 candidate
    // bound, not the corpus.
    if (on("ivfsearch")) {
      val stats = Seq(10, 50).map { mult =>
        val loaded = spark.read.parquet(embCorpus(mult))
        val n = loaded.count()
        val k = operators.IvfIndex.numCellsFor(n)
        val cents = operators.IvfIndex.trainCentroids(loaded, "vec_id", "embedding", k)
        val queries = loaded.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        val t0 = System.nanoTime()
        val kept = operators.IvfIndex.searchTopK(
          loaded, "vec_id", "embedding", cents, queries, 5).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val candPerQuery = 4.0 * n / k // nProbe cells x mean population
        println(f"[scale] ivfsearch ${mult}x: vecs=$n%d cells=$k%d " +
          f"cand/query=$candPerQuery%.0f kept=$kept%d time=$dt%.1fs")
        (n, candPerQuery, dt)
      }
      val (n0, c0, _) = stats.head
      val (n1, c1, _) = stats.last
      require(c1 / c0 < (n1.toDouble / n0) / 2,
        f"scaled K must hold candidates/query ~flat: ${c0}%.0f -> ${c1}%.0f " +
          f"across a ${n1.toDouble / n0}%.1fx corpus step")
    }

    // IMI probe (r15, VERDICT r14 #8 stretch): ONE MORE DECADE past the
    // single-level cap. At n > MaxCells×TargetCellSize (~8.2M vectors)
    // IvfIndex clamps and candidates/query grow linearly again; ImiIndex's
    // product quantizer (kSide = ceil(sqrt(n/2000)) per half) keeps cells
    // scaling as kSide², so candidates/query must stay ~flat across sizes
    // that BOTH sit past the cap. Corpora are synthesized directly
    // (deterministic hash-derived vectors — embCorpus's union-of-selects
    // does not scale to 40M rows), and the probe THROWS if the flatness
    // assertion fails. The search itself runs end-to-end: md5-sample
    // codebooks, product assignment over the full corpus, pair-ranked
    // probes, cosine top-k.
    if (on("imisearch")) {
      // sizes override (r16): GRAFT_IMI_SIZES="10000000,40000000,100000000"
      // runs the stretch decade — every size must sit past the single-level
      // cap, and the flatness assertion below spans first -> last
      val sizes = sys.env.get("GRAFT_IMI_SIZES")
        .map(_.split(",").toSeq.map(_.trim.toLong))
        .getOrElse(Seq(10000000L, 40000000L))
      val stats = sizes.map { n =>
        val vdim = 16
        val vec = array((0 until vdim).map(j =>
          ((pmod(xxhash64(col("id"), lit(j)), lit(2000L)) - lit(1000L)) / lit(1000.0))
            .cast("float")): _*)
        val path = s"/tmp/graft_scale_imi_$n"
        spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
          .write.mode(SaveMode.Overwrite).parquet(path)
        val loaded = spark.read.parquet(path)
        require(operators.ImiIndex.needed(n),
          s"probe sizes must sit past the single-level cap, got n=$n")
        val kSide = operators.ImiIndex.kSideFor(n)
        val (a, b) = operators.ImiIndex.codebooksDet(loaded, "vec_id", "embedding", kSide)
        val queries = loaded.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        val t0 = System.nanoTime()
        val kept = operators.ImiIndex.searchTopK(
          loaded, "vec_id", "embedding", a, b, queries, 5).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val candPerQuery = 4.0 * n / (kSide.toDouble * kSide)
        // wall time is dominated by the one-pass corpus ASSIGNMENT, whose
        // per-vector cost is 2×kSide half-L2s — ∝ sqrt(n/2000), the
        // standard IMI trade (FAISS scans the same two codebooks). In
        // production the cell is computed ONCE per vector at ingest and
        // stored with the corpus, so queries never re-pay it; the flat
        // quantity this probe asserts is the per-QUERY candidate bound.
        println(f"[scale] imisearch n=$n%d: kSide=$kSide%d cells=${kSide.toLong * kSide}%d " +
          f"cand/query=$candPerQuery%.0f kept=$kept%d time=$dt%.1fs " +
          "(time includes the once-per-corpus assignment pass)")
        (n, candPerQuery, dt)
      }
      val (n0, c0, _) = stats.head
      val (n1, c1, _) = stats.last
      require(c1 / c0 < (n1.toDouble / n0) / 2,
        f"IMI cells must keep candidates/query ~flat past the single-level " +
          f"cap: ${c0}%.0f -> ${c1}%.0f across a ${n1.toDouble / n0}%.1fx step")
    }

    // CELL-AT-INGEST probe (r16, VERDICT r15 #4): past ~10M vectors the
    // IMI search's wall time is dominated by the once-per-corpus cell
    // ASSIGNMENT (2×kSide half-argmins per vector) — at 100 TB that pass
    // must be paid at INGEST, not per search session. The probe (a) lands
    // a 10M-vector lake corpus, (b) materializes the product cell as a
    // stored column through the E22 stream → assign → E4 sink pipeline,
    // (c) shows search-over-preassigned beats the assignment-inclusive
    // search (its cost is independent of the assignment pass), and (d)
    // appends a fixed 200k slice and re-runs the SAME checkpoint: the
    // increment must assign ONLY the delta — it THROWS if the incremental
    // pass costs more than half the full ingest pass (corpus-proportional
    // re-assignment would show as ~1x).
    if (on("imicell")) {
      val n = 10000000L
      val vdim = 16
      def vec(idc: org.apache.spark.sql.Column) =
        array((0 until vdim).map(j =>
          ((pmod(xxhash64(idc, lit(j)), lit(2000L)) - lit(1000L)) / lit(1000.0))
            .cast("float")): _*)
      val root = "/tmp/graft_scale_imicell"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      cat.write("ann", "corpus",
        spark.range(n).select(col("id").as("vec_id"), vec(col("id")).as("embedding")))
      val loaded = cat.read("ann", "corpus")
      val kSide = operators.ImiIndex.kSideFor(n)
      val (a, b) = operators.ImiIndex.codebooksDet(loaded, "vec_id", "embedding", kSide)
      val cp = s"$root/cp"
      def ingestPass(): Double = {
        val t0 = System.nanoTime()
        val q = operators.ImiIndex.assignIncremental(
          spark, cat, "ann", "corpus", "corpus_cells", "embedding", a, b, cp)
        try q.processAllAvailable() finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      val tIngest = ingestPass() // the once-per-corpus assignment, at ingest
      val pre = cat.read("ann", "corpus_cells")
      val queries = loaded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      def timedSearch(corpus: DataFrame, cellCol: Option[String]): (Long, Double) = {
        val t0 = System.nanoTime()
        val kept = operators.ImiIndex.searchTopK(
          corpus, "vec_id", "embedding", a, b, queries, 5, cellCol = cellCol).count()
        (kept, (System.nanoTime() - t0) / 1e9)
      }
      val (keptPre, tPre) = timedSearch(pre, Some("cell"))
      val (keptInl, tInline) = timedSearch(loaded, None)
      require(keptPre == keptInl,
        s"preassigned search must return the same ranks: $keptPre vs $keptInl")
      // append increment: the SAME checkpoint assigns only the new commit
      cat.write("ann", "corpus",
        spark.range(n, n + 200000L)
          .select(col("id").as("vec_id"), vec(col("id")).as("embedding")),
        SaveMode.Append)
      val tInc = ingestPass()
      val total = cat.rowCount("ann", "corpus_cells")
      require(total == n + 200000L,
        s"incremental assignment must cover exactly the appended slice: $total")
      println(f"[scale] imicell n=$n%d kSide=$kSide%d: ingest-assign=$tIngest%.1fs " +
        f"search_pre=$tPre%.1fs search_inline=$tInline%.1fs " +
        f"increment(200k)=$tInc%.1fs (pre < inline = the argmin left the " +
        "search path; increment ≪ ingest = appends assign only the delta)")
      require(tPre < tInline,
        f"search over stored cells ($tPre%.1fs) must beat assignment-" +
          f"inclusive search ($tInline%.1fs)")
      require(tInc < tIngest / 2,
        f"append increment ($tInc%.1fs) must cost the delta, not the corpus " +
          f"($tIngest%.1fs) — the stream is re-assigning history")
    }

    if (on("lloyd")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(embCorpus(mult))
      val n = loaded.count()
      val t0 = System.nanoTime()
      val cents = operators.IvfIndex.trainCentroids(loaded, "vec_id", "embedding")
      val k = cents.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // partitioning invariance: a repartitioned fit yields the same bytes
      val again = operators.IvfIndex.trainCentroids(
        loaded.repartition(7), "vec_id", "embedding")
      val same = cents.orderBy("cell").collect().map(_.toString) sameElements
        again.orderBy("cell").collect().map(_.toString)
      println(f"[scale] lloyd ${mult}x: vecs=$n%d cells=$k%d time=$dt%.1fs " +
        s"partition-invariant=$same")
      require(same, "Lloyd fit must be partition-order-free")
    }

    // text-pipeline probe: tokenize -> bigram explode -> count (the shape of
    // text_ngrams / text_term_docfreq / text_tfidf) — one narrow shuffle;
    // must stay linear in documents.
    if (on("text")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(docsCorpus(mult))
      val n = loaded.count()
      val t0 = System.nanoTime()
      val top = loaded
        .select(operators.TextAnalysis.wsTokens(lower(col("text"))).as("tk"))
        .select(explode(col("tk")).as("term"))
        .groupBy("term").count()
        .orderBy(desc("count"), asc("term")).limit(5).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] text-terms ${mult}x: docs=$n%d top=${top.head.getLong(1)}%d time=$dt%.1fs")
    }

    // degenerate-bucket probe (round 3): ALL ids share one LSH bucket —
    // the adversarial spam shape. The k-bounded min-k aggregate must keep
    // pair output and memory constant while input grows 100x; time should
    // track the scan, never the quadratic bucket size.
    if (on("mega-bucket")) for (n <- Seq(10000, 100000, 1000000)) {
      val banded = spark.range(n.toLong).select(col("id"),
        array(struct(lit(0).as("band"), lit(42L).as("bh"))).as("bands"))
      val t0 = System.nanoTime()
      val pairs = operators.Dedup.candidatePairs(banded).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] mega-bucket n=$n%d pairs=$pairs%d time=$dt%.1fs")
    }

    // distributed global-rank probe (round 3): the de-skewed
    // percent_rank/ntile shape over a 3-value key — time must scale with
    // rows/partitions, not with the size of the largest key group.
    if (on("rank")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(docsCorpus(mult))
        .select(col("doc_id"), (col("doc_id") % 3).cast("string").as("grp"),
          length(col("text")).as("x"))
      val n = loaded.count()
      val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val parted = loaded
        .repartitionByRange(nParts, col("grp"), col("x"), col("doc_id"))
        .withColumn("pid", spark_partition_id())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("pid", "grp").orderBy(col("x"), col("doc_id"))
      val local = parted.withColumn("lrn", row_number().over(w))
        .localCheckpoint(eager = false)
      val wOff = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy("pid")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsets = local.groupBy("pid", "grp").agg(count(lit(1)).as("c"))
        .select(col("pid"), col("grp"),
          coalesce(sum("c").over(wOff), lit(0L)).as("off"))
      val t0 = System.nanoTime()
      val mx = local.join(broadcast(offsets), Seq("pid", "grp"))
        .select((col("lrn") + col("off")).as("rn"))
        .agg(max("rn")).head().getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] global-rank ${mult}x: rows=$n%d maxrank=$mx%d time=$dt%.1fs")
    }

    // file-scoped MERGE probe (round 4): upsert cost must track the
    // TOUCHED commit, not the table. Tables of 4/16/64 equal-size commits
    // with disjoint id ranges; a small delta always hits exactly ONE
    // commit. Time (and the replaced-entry count) must stay ~flat while
    // the table grows 16x — the whole point of the stats-pruned rewrite.
    val rowsPerCommit = 100000L
    if (on("merge")) for (k <- Seq(4, 16, 64)) {
      val root = s"/tmp/graft_scale_merge_$k"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      for (i <- 0 until k)
        cat.write("p", "t",
          spark.range(i * rowsPerCommit, (i + 1) * rowsPerCommit)
            .select(col("id"), (col("id") * 2).as("v")),
          SaveMode.Append)
      val (_, before) = cat.latestEntries("p", "t")
      // 1000 updates inside commit 0's range + 10 brand-new keys
      val delta = spark.range(0L, 1000L).select(col("id"), lit(-1L).as("v"))
        .unionByName(spark.range(k * rowsPerCommit, k * rowsPerCommit + 10)
          .select(col("id"), lit(-2L).as("v")))
      val merger = new lake.TableMerger(cat)
      val t0 = System.nanoTime()
      merger.mergeTable(delta, "p", "t")
      val dt = (System.nanoTime() - t0) / 1e9
      val (_, after) = cat.latestEntries("p", "t")
      val replaced = before.toSet -- after.toSet
      println(f"[scale] file-merge commits=$k%d rows=${k * rowsPerCommit}%d " +
        f"replaced=${replaced.size}%d time=$dt%.1fs")
    }

    // merge-on-read DELETE probe (round 5): a vectored delete must cost
    // the predicate scan + a KB-sized sidecar, with ZERO data dirs
    // rewritten at any table size — and the vectored READ's broadcast
    // anti-join must stay ~flat too. Same 4/16/64-commit tables.
    if (on("mor")) for (k <- Seq(4, 16, 64)) {
      val root = s"/tmp/graft_scale_mor_$k"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      for (i <- 0 until k)
        cat.write("p", "t",
          spark.range(i * rowsPerCommit, (i + 1) * rowsPerCommit)
            .select(col("id"), (col("id") * 2).as("v")),
          SaveMode.Append)
      val tb = System.nanoTime()
      cat.read("p", "t").count() // vector-free baseline over the same dirs
      val tBase = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      cat.deleteMoR("p", "t", col("id") < 1000L)
      val tDel = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val remaining = cat.read("p", "t").count()
      val tRead = (System.nanoTime() - t1) / 1e9
      val (_, entries) = cat.latestEntries("p", "t")
      println(f"[scale] mor-delete commits=$k%d rows=${k * rowsPerCommit}%d " +
        f"remaining=$remaining%d dvs=${entries.count(_.startsWith("dv/"))}%d " +
        f"base_read=$tBase%.1fs delete=$tDel%.1fs read=$tRead%.1fs")
    }
    // PQ-encode probe (round 6, retooled round 7): the product-quantization
    // assignment is a codebook-bound codegen expression — cost must track
    // corpus size linearly with zero shuffle. Forces the recon column
    // through an aggregate (a bare count() would let Catalyst PRUNE the
    // encode projection and time an empty scan — the exact mismeasurement
    // that hid the old explode-path SortAggregate blowup).
    if (on("pq")) for (mult <- Seq(1, 3, 10)) {
      val loaded = spark.read.parquet(embCorpus(mult))
      val n = loaded.count()
      val t0 = System.nanoTime()
      val out = operators.Similarity.pqRecon(loaded, "vec_id", "embedding", "id")
        .agg(count(when(element_at(col("recon"), 1) > -2e9f, 1)))
        .head().getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] pq-encode ${mult}x: vecs=$n%d recon=$out%d time=$dt%.1fs")
    }

    // AQE skew-join probe (round 6): SURVEY §4 leans on AQE for fact-fact
    // skew, so MEASURE it — a planted-skew join (half the left rows pile
    // onto ONE key) must (a) show AQE splitting the skewed partition in
    // the final plan and (b) keep wall time tracking total rows, not the
    // hot key's row count. Thresholds are lowered so local[32]-sized data
    // crosses the skew detector exactly as multi-GB partitions would on a
    // cluster; broadcast is disabled so the join actually sort-merges (at
    // this row count the planner would otherwise broadcast the small side
    // and hide the skew path entirely).
    if (on("skew")) {
    val prevConf = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    ).map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      for (mult <- Seq(1, 3, 10)) {
        val n = 300000L * mult
        // md5 payload kept through the agg: identical hot keys alone would
        // lz4-compress below the detector threshold (see PlanQualitySpec)
        val left = spark.range(n).select(
          when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("payload"))
        val right = spark.range(n / 10).select(col("id").as("k"), (col("id") * 3L).as("rv"))
        val joined = left.join(right, "k")
          .agg(count(lit(1)).as("c"), max("payload").as("p"), sum("rv").as("s"))
        val t0 = System.nanoTime()
        val c = joined.collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        val plan = joined.queryExecution.executedPlan.toString
        val handled = plan.contains("skew=true")
        println(f"[scale] skew-join ${mult}x: rows=$n%d matched=$c%d " +
          f"aqe_split=$handled%b time=$dt%.1fs")
      }
    } finally prevConf.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    }

    // semantic-dedup probe (round 7): assignment is a centroid-bound
    // codegen projection — must track corpus size linearly with zero
    // shuffle (forced through an aggregate that reads the cluster column,
    // the pq-probe lesson). The pair screen is per-cluster quadratic BY
    // DESIGN; K is the knob — the same corpus under 4x the clusters must
    // cut screen time ~quadratically-per-cluster, which is the scaling
    // argument production relies on (K ~ corpus/5k).
    if (on("sem")) {
      for (mult <- Seq(1, 3, 10)) {
        val loaded = spark.read.parquet(embCorpus(mult))
        val n = loaded.count()
        val cents = operators.Dedup.semCentroids(loaded, "vec_id", "embedding", 16)
        val t0 = System.nanoTime()
        val assigned = loaded.select(
          org.apache.spark.sql.GraftBridge.column(graft.functions.NearestCentroid(
            org.apache.spark.sql.GraftBridge.expression(spark, col("embedding")),
            cents)).as("cluster"))
          .agg(countDistinct(col("cluster"))).head().getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[scale] sem-assign ${mult}x: vecs=$n%d clusters=$assigned%d time=$dt%.1fs")
      }
      val loaded = spark.read.parquet(embCorpus(10))
      for (k <- Seq(16, 64)) {
        val cents = operators.Dedup.semCentroids(loaded, "vec_id", "embedding", k)
        val assigned = loaded.select(col("vec_id"), col("embedding"),
          org.apache.spark.sql.GraftBridge.column(graft.functions.NearestCentroid(
            org.apache.spark.sql.GraftBridge.expression(spark, col("embedding")),
            cents)).as("cluster"))
        val lhs = assigned.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("e_a"))
        val rhs = assigned.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("e_b"))
        val t0 = System.nanoTime()
        val pairs = lhs.join(rhs, "cluster").filter(col("a") < col("b"))
          .select(operators.Similarity.cosine(col("e_a"), col("e_b")).as("cos"))
          .filter(col("cos") >= operators.Dedup.SemThreshold).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[scale] sem-screen k=$k%d: pairs=$pairs%d time=$dt%.1fs")
      }
    }

    // wide-schema probe (round 8): the reference's one PUBLISHED benchmark
    // is a 50K-row, 4,450-column CSV ingested in ~15 s single-node. Every
    // per-column cost on the ingest path — CSV inference, header
    // sanitization, the lake's footer-stats sidecars — must stay flat as
    // width grows 1k -> 4.5k at constant rows (the timed span is ingest
    // only, excluding test-data generation, to match the reference's
    // measurement).
    // Iceberg import pruning probe (r11): full-snapshot read vs a
    // one-partition read through lake.IcebergImport on an exported
    // partitioned + merge-on-read table. Pruning happens at metadata
    // planning (non-matching files never reach the parquet scan), so the
    // pruned read must cost like ITS partition, not like the table — the
    // serve-one-partition-of-100 TB contract, measured.
    if (on("iceimport")) {
      val root = "/tmp/graft_scale_iceimport"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      val orders = Tables(spark, dir).orders
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("ice", "orders", orders, partitionBy = Seq("o_orderstatus"))
      cat.deleteMoR("ice", "orders", col("o_orderkey") % 7 === 0)
      lake.IcebergExport.export(spark, cat, "ice", "orders")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root), "ice"),
        "orders").toString
      def timed(df: => DataFrame): (Long, Int, Double) = {
        val t0 = System.nanoTime()
        val d = df
        val n = d.count()
        (n, d.inputFiles.length, (System.nanoTime() - t0) / 1e9)
      }
      val (nFull, fFull, tFull) = timed(lake.IcebergImport.read(spark, loc))
      val (nOne, fOne, tOne) = timed(lake.IcebergImport.read(spark, loc,
        partitionEq = Map("o_orderstatus" -> "F")))
      // r12: the driver-state cap's distributive walk — planning cost must
      // stay flat per partition served when the manifest walk fans out
      sys.props("graft.iceberg.import.maxDriverFiles") = "1"
      val (nCap, fCap, tCap) =
        try timed(lake.IcebergImport.read(spark, loc,
          partitionEq = Map("o_orderstatus" -> "F")))
        finally sys.props.remove("graft.iceberg.import.maxDriverFiles")
      println(f"[scale] ice-import full rows=$nFull%d files=$fFull%d " +
        f"time=$tFull%.1fs; pruned(F) rows=$nOne%d files=$fOne%d " +
        f"time=$tOne%.1fs time_ratio=${tOne / tFull}%.2f; " +
        f"pruned-capped rows=$nCap%d files=$fCap%d time=$tCap%.1fs")
    }

    // Delta-log import economics, mirroring the iceimport probe: replay is
    // checkpoint-seeded metadata work, the data IO is one scan, and
    // partitionEq pruning must make a one-partition read cost one
    // partition (plus fixed plan overhead), not the table.
    if (on("deltaimport")) {
      val root = "/tmp/graft_scale_deltaimport"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      val orders = Tables(spark, dir).orders
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("dl", "orders", orders, partitionBy = Seq("o_orderstatus"))
      val exp = lake.DeltaExport.export(spark, cat, "dl", "orders")
      lake.DeltaExport.checkpoint(spark, exp.logDir, exp.lastDeltaVersion)
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root), "dl"),
        "orders").toString
      def timed(df: => DataFrame): (Long, Int, Double) = {
        val t0 = System.nanoTime()
        val d = df
        val n = d.count()
        (n, d.inputFiles.length, (System.nanoTime() - t0) / 1e9)
      }
      val (nFull, fFull, tFull) = timed(lake.DeltaImport.read(spark, loc))
      val (nOne, fOne, tOne) = timed(lake.DeltaImport.read(spark, loc,
        partitionEq = Map("o_orderstatus" -> "F")))
      // r12: checkpoint adds past the driver cap plan distributively —
      // prune before collect, cost tracking the partition served
      sys.props("graft.delta.import.maxDriverFiles") = "1"
      val (nCap, fCap, tCap) =
        try timed(lake.DeltaImport.read(spark, loc,
          partitionEq = Map("o_orderstatus" -> "F")))
        finally sys.props.remove("graft.delta.import.maxDriverFiles")
      println(f"[scale] delta-import full rows=$nFull%d files=$fFull%d " +
        f"time=$tFull%.1fs; pruned(F) rows=$nOne%d files=$fOne%d " +
        f"time=$tOne%.1fs time_ratio=${tOne / tFull}%.2f; " +
        f"pruned-capped rows=$nCap%d files=$fCap%d time=$tCap%.1fs")
    }

    if (on("width")) for (cols <- Seq(1000, 2000, 4450)) {
      val rows = 50000L
      val csvDir = s"/tmp/graft_scale_wide_$cols"
      operators.IngestLake.writeWideCsv(spark, rows, cols, csvDir)
      val root = s"/tmp/graft_scale_wide_lake_$cols"
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val t0 = System.nanoTime()
      val clean = sources.MultiFormatReader.readCsvSanitized(spark, csvDir)
      val cat = lake.LakeCatalog(spark, root)
      cat.write("wide", "t", clean)
      val n = cat.read("wide", "t").count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] wide-ingest cols=$cols%d rows=$n%d time=$dt%.1fs " +
        f"per_kcol=${dt * 1000 / cols}%.2fs")
    }

    // stream-replay probe (round 7): the file-source twin harness itself
    // (partition-parallel parquet drops -> file source -> stateful agg ->
    // parquet sink readback) must cost linear in replayed events; a
    // super-linear step here means the replay started moving data through
    // the driver again or the sink stopped scaling.
    // partition-count trade for STATEFUL streaming (r9 pinned the twins to
    // 8 shuffle partitions on reasoning; this measures it): each micro-
    // batch commits one state store per shuffle partition (FOUR for a
    // stream-stream join), so at replay volumes the commit count — not the
    // data — dominates wall time. The probe runs the sessionizer and the
    // interval-join replays at 8 vs 32 partitions on the same corpus; the
    // expected shape is "8 wins at small batches, the gap narrows as
    // per-batch data grows" — which is why the twins pin a LOW count for
    // replay volume while a production deployment with large micro-batches
    // raises it (it's a conf, never operator state). See also
    // streaming/STATE_STORES.md for the RocksDB path at 100 TB state.
    if (on("streamparts")) for (mult <- Seq(1, 3); parts <- Seq(8, 32)) {
      val n = 60000L * mult
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 500000L).as("ts"),
        (col("id") % 997L).as("user_id"),
        when(col("id") % 3 === 0, "click").otherwise("view").as("event_type"),
        (col("id") % 100L).cast("double").as("value"))
      val path = s"/tmp/graft_scale_streamparts_${mult}x"
      ev.write.mode(SaveMode.Overwrite).parquet(path)
      val loaded = spark.read.parquet(path)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val t0 = System.nanoTime()
        val sessions = streaming.StreamingQueries.sessionReplayProbe(spark, loaded)
        val tSess = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pairs = streaming.StreamingQueries.joinReplayProbe(spark, loaded)
        val tJoin = (System.nanoTime() - t1) / 1e9
        println(f"[scale] stream-parts ${mult}x parts=$parts%d: events=$n%d " +
          f"sessions=$sessions%d t_session=$tSess%.1fs pairs=$pairs%d t_join=$tJoin%.1fs")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }

    if (on("stream")) for (mult <- Seq(1, 3, 10)) {
      val n = 60000L * mult
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 500000L).as("ts"),
        (col("id") % 997L).as("user_id"),
        when(col("id") % 3 === 0, "click").otherwise("view").as("event_type"),
        (col("id") % 100L).cast("double").as("value"))
      val path = s"/tmp/graft_scale_stream_${mult}x"
      ev.write.mode(SaveMode.Overwrite).parquet(path)
      val loaded = spark.read.parquet(path)
      val t0 = System.nanoTime()
      val buckets = streaming.StreamingQueries.replayProbe(spark, loaded)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] stream-replay ${mult}x: events=$n%d buckets=$buckets%d time=$dt%.1fs")
    }

    // COMMIT-COUNT probe: a table of N single-file appends of 10 rows.
    // Read planning must not grow with N — every read builds its scan from
    // the commits' recorded file lists, so it neither lists dirs nor
    // infers schemas, and starts no Spark job. Each plan uses a FRESH
    // catalog (the SQL façade's shape: one catalog per statement), so no
    // per-instance memo flatters the figure. Reports plan ms and jobs
    // (median of 3), count ms, and the table's metadata bytes: commit
    // sidecars, schema files and manifests (the last grows O(N²), each
    // version listing every entry).
    if (on("commits")) for (n <- Seq(10, 100, 1000)) {
      val root = s"/tmp/graft_scale_commits_$n"
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(root), true)
      val cat = lake.LakeCatalog(spark, root)
      val t0 = System.nanoTime()
      for (i <- 0 until n)
        cat.write("c", "t", spark.range(i * 10L, i * 10L + 10L, 1L, 1).toDF("id"),
          SaveMode.Append)
      val appendMs = (System.nanoTime() - t0) / 1e6 / n
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def median3(f: => Double): Double = Seq(f, f, f).sorted.apply(1)
      def planOnce(): (Double, Int) = {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        val j0 = jobs.get()
        val p0 = System.nanoTime()
        lake.LakeCatalog(spark, root).read("c", "t").queryExecution.executedPlan
        val ms = (System.nanoTime() - p0) / 1e6
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        (ms, jobs.get() - j0)
      }
      val plans = Seq(planOnce(), planOnce(), planOnce())
      spark.sparkContext.removeSparkListener(listener)
      val planMs = plans.map(_._1).sorted.apply(1)
      val planJobs = plans.map(_._2).sorted.apply(1)
      var rows = 0L
      val countMs = median3 {
        val c0 = System.nanoTime()
        rows = lake.LakeCatalog(spark, root).read("c", "t").count()
        (System.nanoTime() - c0) / 1e6
      }
      require(rows == 10L * n, s"commits probe read $rows rows, wrote ${10L * n}")
      def bytesUnder(rel: String, keep: String => Boolean): Long = {
        val p = new org.apache.hadoop.fs.Path(s"$root/c/t/$rel")
        if (!hfs.exists(p)) 0L
        else {
          val it = hfs.listFiles(p, true)
          var sum = 0L
          while (it.hasNext) {
            val st = it.next()
            if (keep(st.getPath.getName)) sum += st.getLen
          }
          sum
        }
      }
      val sidecarB = bytesUnder("data", _ == "_graft_stats.tsv")
      val schemaB = bytesUnder("_graft_schemas", _.endsWith(".json"))
      val manifestB = bytesUnder("manifests", _.endsWith(".txt"))
      println(f"[scale] commits n=$n%d: append=$appendMs%.0fms/commit " +
        f"read_plan=$planMs%.0fms plan_jobs=$planJobs%d count=$countMs%.0fms " +
        f"sidecar_bytes=$sidecarB%d schema_bytes=$schemaB%d manifest_bytes=$manifestB%d")
    }
    spark.stop()
  }
}
