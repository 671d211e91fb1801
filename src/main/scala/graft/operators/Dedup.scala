package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2 D1-D5):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: signatures (shingle hashes, 64-perm MinHash, 64-bit
  * SimHash) are computed **columnar per row** with higher-order array
  * functions — no explode, no shuffle, embarrassingly parallel over any
  * number of documents. The only shuffles are (1) the LSH band groupBy,
  * whose buckets are tiny by construction, and (2) the candidate-pair join
  * back to signatures. Bucket sizes are capped (`MaxBucket`) so one
  * degenerate bucket (all-identical spam) can never produce a quadratic
  * pair explosion on a single partition — the skew guard a 100 TB corpus
  * needs.
  */
object Dedup {

  val NumPerms = 64
  val NumBands = 16 // 16 bands x 4 rows
  val RowsPerBand: Int = NumPerms / NumBands
  val MaxBucket = 64

  // ---- signatures (columnar, shuffle-free, native expressions) ----------
  // The signature stage is CPU-bound at corpus scale, so it runs as native
  // Catalyst expressions (graft.functions.*, registered by GraftExtensions)
  // — tight JVM loops instead of per-element lambda interpretation, ~100x
  // faster than the higher-order-function formulation.

  /** distinct 64-bit hashes of word 3-shingles (whole text if shorter) */
  def shingleHashes(text: Column, n: Int = 3): Column =
    call_function("graft_shingle_hashes", text, lit(n))

  /** 64-permutation MinHash signature (min over seeded-mix permutations) */
  def minhashSignature(hashes: Column): Column =
    call_function("graft_minhash_sig", hashes, lit(NumPerms))

  /** LSH band keys: hash of each signature slice (band count is a Scala
    * constant, so slices use plain literals — no lambda machinery).
    */
  def bandKeys(sig: Column): Column =
    array((0 until NumBands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * RowsPerBand + 1, RowsPerBand)).as("bh"))): _*)

  /** estimated Jaccard = fraction of agreeing MinHash positions */
  def estJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b)).cast("double") / NumPerms

  /** exact Jaccard over shingle-hash sets */
  def exactJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b))).cast("double")

  /** 64-bit packed SimHash: bit b set iff the sum of (+1/-1 per unigram
    * token, by token-hash bit b) is non-negative. Native expression.
    */
  def simhash64(text: Column): Column = call_function("graft_simhash64", text)

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- candidate generation (the only shuffle) ---------------------------

  /** bucket docs by (band, band-hash), emit sorted candidate pairs.
    * Input must have columns (id, bands: array<struct<band,bh>>).
    *
    * The per-bucket cap is applied INSIDE the aggregation: graft_min_k is a
    * TypedImperativeAggregate whose buffer never exceeds MaxBucket longs
    * and which partial-aggregates map-side, so a degenerate bucket (every
    * copy of a spam document sharing one (band, bh) at 100 TB) can never
    * materialize unbounded state on a reducer — unlike collect_list, which
    * buffers the whole group before any slice applies. Non-long id types
    * take an equivalent capped path that bounds the group BEFORE the
    * aggregation with a disk-spilling windowed row_number.
    */
  def candidatePairs(withBands: DataFrame): DataFrame = {
    val exploded = withBands.select(col("id"), explode(col("bands")).as("b"))
    val buckets = (withBands.schema("id").dataType match {
      case org.apache.spark.sql.types.LongType =>
        exploded
          .groupBy(col("b.band"), col("b.bh"))
          .agg(call_function("graft_min_k", col("id"), lit(MaxBucket)).as("ids"))
      case _ =>
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(col("b.band"), col("b.bh")).orderBy(col("id"))
        exploded
          .withColumn("rk", row_number().over(wB))
          .filter(col("rk") <= MaxBucket)
          .groupBy(col("b.band"), col("b.bh"))
          .agg(array_sort(collect_list(col("id"))).as("ids"))
    }).filter(size(col("ids")) > 1)
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, lit(MaxBucket)), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
      .distinct()
  }

  /** Connected components over a near-dup pair list: collapses transitive
    * chains (a~b, b~c → {a,b,c}) into clusters labeled by their minimum
    * member id — the step that turns pairwise similarity into "keep one per
    * group". Iterative min-label propagation in plain DataFrame ops
    * (driver-controlled loop, the standard distributed-CC shape): each round
    * is one shuffle; duplicate clusters are shallow in practice so it
    * converges in a few rounds. `maxIter` bounds the worst case; each round
    * localCheckpoints to keep lineage flat (no exponential plan growth).
    */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 10,
      localThreshold: Long = LocalCCThreshold): DataFrame = {
    // persisted WITH an explicit hash partitioning on the probe key (not
    // localCheckpoint, which erases partitioning): InMemoryTableScan
    // reports the partitioning to EnsureRequirements, so each pointer-
    // jumping round shuffles only the (small) labels side — the |E| side
    // pays its shuffle once, not once per iteration
    val edges = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct().repartition(col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph fast path: near-dup pair graphs are tiny relative to the
    // corpus (only documents with LSH collisions appear). Below a bounded
    // edge count (~16 MB of longs — the same order as Spark's broadcast
    // threshold) a driver-local union-find replaces the iterative join
    // loop: exact same min-label semantics, zero shuffle rounds. Larger
    // graphs take the distributed pointer-jumping loop below.
    val nEdges = edges.count()
    // the local path round-trips ids through primitive longs, so take it
    // only for integral id types (strings/decimals would null out under the
    // cast and crash the primitive encoder) — and cast the result back so
    // the output schema is identical to the distributed loop's
    val idType = pairs.schema(pairs.columns.head).dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // the path decision is logged so a scale soak can OBSERVE the cap
    // engaging its distributed fallback instead of inferring it from time
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"duplicateClusters: $nEdges edges, threshold $localThreshold -> " +
        (if (nEdges <= localThreshold && integralIds) "driver-local union-find"
         else "distributed pointer-jumping"))
    if (nEdges <= localThreshold && integralIds) {
      val local = localUnionFind(edges, idType)
      edges.unpersist()
      return local
    }
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val propagated = edges
        .join(labels, edges("a") === labels("id"))
        .select(col("b").as("id"), col("label"), lit(null).cast(idType).as("old"))
      // the previous round's label rides the union as `old` (one row per id
      // — max() just peels it past the propagated nulls), so convergence
      // detection below is a scan of the checkpointed frame, NOT another
      // |V|-vs-|V| shuffle join + action per round
      val merged = propagated
        .unionByName(labels.select(col("id"), col("label"), col("label").as("old")))
        .groupBy("id").agg(min("label").as("label"), max("old").as("old"))
      // pointer jump: follow label -> label(label) through the previous
      // round's (checkpointed) table. Labels are always ids present in the
      // table (min over self-seeded ids), so chains shorten multiplicatively
      // — O(log diameter) rounds instead of O(diameter), the difference
      // between 40 and 6 shuffle rounds on a corpus with deep duplicate
      // chains.
      val jump = labels.select(col("id").as("jid"), col("label").as("jlabel"))
      val next = merged
        .join(jump, col("label") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlabel"), col("label")).as("label"),
          col("old"))
        .localCheckpoint(eager = true)
      val changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select("id", "label")
      converged = changed == 0
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters stopped after $maxIter iterations WITHOUT converging: " +
          "duplicate chains with graph diameter > maxIter are split into " +
          "multiple clusters (survivor materialization keeps extra copies). " +
          "Raise maxIter for deep-chain corpora.")
    edges.unpersist() // final labels are localCheckpointed — lineage-free
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Edge-count bound for the driver-local CC fast path. The collect
    * materializes boxed (Long, Long) tuples plus a boxed HashMap — roughly
    * 10-20x the raw 16 bytes/edge — so 2^18 edges budgets a few hundred MB
    * of transient driver heap, comparable to a broadcast-side build.
    */
  val LocalCCThreshold: Long = 1L << 18

  /** Driver-local union-find over a (symmetrized) edge list: produces the
    * identical (id, cluster_id=min member) labeling the distributed loop
    * converges to, in one collect. Only called for integral id types;
    * `idType` restores the caller's exact column types on the way out.
    */
  private def localUnionFind(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- es) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = parent.keys.toArray
    val labels = ids.map(id => (id, find(id))).toSeq
    spark.createDataset(labels).toDF("id", "cluster_id")
      .select(col("id").cast(idType), col("cluster_id").cast(idType))
  }

  /** documents ∪ deterministic mutated copies — self-demonstrating corpus
    * for near-dup queries (the base corpus has no planted duplicates).
    * Mutants: every `every`-th doc, id += 1,000,000, one appended token.
    */
  def withPlantedDups(docs: DataFrame, every: Int = 7): DataFrame = {
    val mutants = docs
      .filter(col("doc_id") % every === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate copy")).as("text"))
    docs.select("doc_id", "text").unionByName(mutants)
  }

  // ---- registered queries ------------------------------------------------

  val dedupExact: Q = Q(
    "dedup_exact",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .orderBy("source")
    },
    Some("""SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents GROUP BY source ORDER BY source""")
  )

  /** Library-facing MinHash near-dup candidate generation over ANY corpus
    * frame: returns (a, b, sig_a, sig_b, h_a, h_b) for every LSH candidate
    * pair. Downstream pick estJaccard / exactJaccard / clustering.
    *
    * Materializes signatures ONCE (persist). Without it, CollapseProject
    * inlines the whole shingle->minhash tree into each of the 16 band
    * expressions (and again into the verify join) — a multiplicative plan
    * blow-up that stalls the optimizer. The signature frame is also
    * genuinely reused (band generation + verify join), so at scale this is
    * the stage boundary you'd checkpoint anyway.
    */
  def candidatePairsFor(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    joinPairs(signedFrame(docs, idCol, textCol).persist())

  private def signedFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      shingleHashes(col(textCol)).as("hashes"))
      .withColumn("sig", minhashSignature(col("hashes")))

  private def joinPairs(signed: DataFrame): DataFrame = {
    val banded = signed.withColumn("bands", bandKeys(col("sig")))
    val pairs = candidatePairs(banded.select("id", "bands"))
    val left = signed.select(col("id").as("a"), col("sig").as("sig_a"), col("hashes").as("h_a"))
    val right = signed.select(col("id").as("b"), col("sig").as("sig_b"), col("hashes").as("h_b"))
    pairs.join(left, "a").join(right, "b")
  }

  /** near-duplicate pairs above an estimated-Jaccard threshold */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): DataFrame =
    candidatePairsFor(docs, idCol, textCol)
      .select(col("a"), col("b"), estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

  /** The registered entries' shared MinHash stages over the planted-dup
    * corpus: the persisted signature frame and the persisted, UNFILTERED
    * (a, b, est_jaccard) frame of every LSH candidate pair. Built on every
    * call; the persists are stage boundaries inside ONE query.
    */
  private final case class Pipeline(signatures: DataFrame, slimPairs: DataFrame)

  private def pipeline(s: SparkSession, dir: String): Pipeline = {
    val signed =
      signedFrame(withPlantedDups(Tables(s, dir).documents), "doc_id", "text").persist()
    // Every pipeline consumer starts from (a, b[, est_jaccard]) — a
    // ~24 B/row projection of the LSH self-join. The estimate joins attach
    // ONLY the 64-long minhash signature, never the (larger, variable-size)
    // shingle-hash sets — those ride a separate narrow join in the one
    // consumer that needs them (ngram's exact-Jaccard verify, which also
    // explains why this frame is UNFILTERED: that verify filters on exact
    // Jaccard, not the estimate).
    val banded = signed.withColumn("bands", bandKeys(col("sig")))
    val sigOnly = signed.select(col("id"), col("sig"))
    val slim = candidatePairs(banded.select("id", "bands"))
      .join(sigOnly.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigOnly.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .select(col("a"), col("b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Pipeline(signed, slim)
  }

  /** (a, b, est_jaccard) for the LSH candidate pairs at the 0.5 estimate. */
  private def estimatedPairs(s: SparkSession, dir: String): DataFrame =
    pipeline(s, dir).slimPairs.filter(col("est_jaccard") >= 0.5)

  /** Connected components of the near-dup pair graph (localCheckpointed). */
  private def clusters(s: SparkSession, dir: String): DataFrame =
    duplicateClusters(estimatedPairs(s, dir)
      .select(col("a"), col("b"), col("est_jaccard").as("ej")))

  val dedupMinhash: Q = Q(
    "dedup_minhash",
    (s, dir) => estimatedPairs(s, dir).orderBy("a", "b"),
    // Bit-exact DuckDB twin of the FULL MinHash pipeline — FNV-1a shingle
    // hashes, 64 mix64 permutations, xxhash64 band keys, capped buckets —
    // re-expressed in HUGEINT mod-2^64 arithmetic (generated by
    // tools/gen_dedup_oracles.py).
    Some(graft.Q.oracleResource("dedup_minhash"))
  )

  val dedupNgramJaccard: Q = Q(
    "dedup_ngram_jaccard",
    (s, dir) => {
      // pair list from the persisted slim frame + hashes from the persisted
      // signature frame — two narrow hash joins instead of re-running the
      // LSH bucket self-join (the only consumer that needs the shingle
      // sets, for the EXACT-Jaccard verify; the estimate filter does not
      // apply here, which is why the slim frame is unfiltered)
      val p = pipeline(s, dir)
      p.slimPairs.select("a", "b")
        .join(p.signatures.select(col("id").as("a"), col("hashes").as("h_a")), "a")
        .join(p.signatures.select(col("id").as("b"), col("hashes").as("h_b")), "b")
        .select(col("a"), col("b"), exactJaccard(col("h_a"), col("h_b")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    },
    // Same generated prelude as dedup_minhash; exact Jaccard over the
    // distinct shingle-hash sets of every LSH candidate pair.
    Some(graft.Q.oracleResource("dedup_ngram_jaccard"))
  )

  val dedupSimhash: Q = Q(
    "dedup_simhash",
    (s, dir) => {
      val docs = withPlantedDups(Tables(s, dir).documents)
      // band the 64 bits into 4 x 16-bit chunks: near-dups (hamming <= 3)
      // must agree exactly on at least one chunk (pigeonhole).
      // persist: same optimizer-inlining hazard as the minhash pipeline.
      // Band the 64 bits into 8 x 8-bit chunks: pairs with hamming <= 7
      // must agree exactly on at least one chunk (pigeonhole) — the loose
      // banding short documents need, where a few changed tokens flip more
      // bits than on long web pages.
      val signed = docs.select(col("doc_id").as("id"), simhash64(col("text")).as("sh"))
        .persist()
      val banded = signed
        .withColumn("bands", array((0 until 8).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * 8).bitwiseAND(lit(0xffL)).as("bh"))): _*))
      val pairs = candidatePairs(banded.select("id", "bands"))
      val left = signed.select(col("id").as("a"), col("sh").as("sh_a"))
      val right = signed.select(col("id").as("b"), col("sh").as("sh_b"))
      pairs.join(left, "a").join(right, "b")
        .select(col("a"), col("b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
        .filter(col("hamming") <= 7)
        .orderBy("a", "b")
    },
    // Bit-exact DuckDB twin: FNV-1a token hashes vote per bit, 8x8-bit
    // pigeonhole banding, hamming via bit_count(xor) — generated by
    // tools/gen_dedup_oracles.py.
    Some(graft.Q.oracleResource("dedup_simhash"))
  )

  val dedupEmbedding: Q = Q(
    "dedup_embedding",
    (s, dir) => {
      val base = Tables(s, dir).embeddings
      val planted = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val vecs = base.select("vec_id", "embedding").unionByName(planted)
        .select(col("vec_id").as("id"), col("embedding"),
          Similarity.hyperplaneSig(col("embedding")).as("sig"))
      val pairs = candidatePairs(
        vecs.select(col("id"),
          array(struct(lit(0).as("band"), col("sig").as("bh"))).as("bands")))
      val left = vecs.select(col("id").as("a"), col("embedding").as("e_a"))
      val right = vecs.select(col("id").as("b"), col("embedding").as("e_b"))
      pairs.join(left, "a").join(right, "b")
        .select(col("a"), col("b"), Similarity.cosine(col("e_a"), col("e_b")).as("cosine"))
        .filter(col("cosine") >= 0.95)
        .orderBy("a", "b")
    },
    // Bit-exact DuckDB twin of the FULL LSH pipeline: 16-bit hyperplane
    // signatures (murmur fmix64 in HUGEINT mod-2^64 arithmetic), sorted
    // capped buckets, pairwise candidates, double cosine — every stage
    // reproduced operation-for-operation (see Similarity.annLsh notes).
    Some("""WITH bi AS (SELECT t1.range AS b, t2.range AS i FROM range(0,16) t1, range(0,64) t2),
    m0 AS (SELECT b, i,
      xor((b::HUGEINT * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT,
          (i::HUGEINT * 14029467366897019727::HUGEINT) % 18446744073709551616::HUGEINT) AS x
      FROM bi),
    m1 AS (SELECT b, i, xor(x, x >> 33) AS x FROM m0),
    m2 AS (SELECT b, i,
      ((((x >> 32) * 18397679294719823053::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
       + (x % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT) % 18446744073709551616::HUGEINT AS x
      FROM m1),
    m3 AS (SELECT b, i, xor(x, x >> 33) AS x FROM m2),
    m4 AS (SELECT b, i,
      ((((x >> 32) * 14181476777654086739::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
       + (x % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT) % 18446744073709551616::HUGEINT AS x
      FROM m3),
    m5 AS (SELECT b, i, xor(x, x >> 33) AS x FROM m4),
    units AS (SELECT b, i,
      ((CASE WHEN x >= 9223372036854775808::HUGEINT
            THEN (x - 18446744073709551616::HUGEINT)::BIGINT ELSE x::BIGINT END) % 1000001)::DOUBLE
       / 1000000.0 AS u
      FROM m5),
    ulist AS (SELECT list(u ORDER BY b * 64 + i) AS ul FROM units),
    corpus AS (
      SELECT vec_id AS id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS id, embedding FROM embeddings WHERE vec_id % 20 = 0),
    signed_v AS (
      SELECT id, embedding,
        list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), b ->
          CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * ul[b*64 + i])),
              (x,y) -> x+y) >= 0
          THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (x,y) -> x | y) AS sig
      FROM corpus, ulist),
    buckets AS (
      SELECT sig, (list_sort(list(id)))[1:64] AS ids FROM signed_v GROUP BY sig
      HAVING count(*) > 1),
    pairs AS (
      SELECT DISTINCT x.a, y.b FROM
        (SELECT sig, unnest(ids) AS a FROM buckets) x
        JOIN (SELECT sig, unnest(ids) AS b FROM buckets) y USING (sig)
      WHERE x.a < y.b),
    scored AS (
      SELECT a, b,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(ea.embedding)+1),
          i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)), (x,y) -> x+y)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(ea.embedding)+1),
            i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)), (x,y) -> x+y))
         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(eb.embedding)+1),
            i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)), (x,y) -> x+y))) AS cosine
      FROM pairs JOIN signed_v ea ON pairs.a = ea.id JOIN signed_v eb ON pairs.b = eb.id)
    SELECT a, b, cosine FROM scored WHERE cosine >= 0.95 ORDER BY a, b""")
  )

  /** exact dedup as a transformation: keep the lowest-id document per
    * distinct content hash (the "canonical survivor" a training pipeline
    * materializes, vs D1's audit counts).
    */
  val dedupKeepFirst: Q = Q(
    "dedup_keep_first",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      t.documents
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents) sub
    WHERE rn = 1 ORDER BY doc_id""")
  )

  /** end-to-end near-dup clustering: minhash LSH pairs → connected
    * components → (doc, cluster) assignment for every clustered document.
    */
  val dedupClusters: Q = Q(
    "dedup_clusters",
    (s, dir) => clusters(s, dir).orderBy("id"),
    // Generated prelude + WITH RECURSIVE transitive closure: DuckDB computes
    // the true connected components, so this oracle also proves the
    // iterative min-label propagation converged.
    Some(graft.Q.oracleResource("dedup_clusters"))
  )

  /** the dedup pipeline's terminal output: the corpus with every
    * non-canonical near-dup cluster member dropped (canonical = min id).
    */
  val dedupSurvivors: Q = Q(
    "dedup_survivors",
    (s, dir) => {
      val dropList = clusters(s, dir)
        .filter(col("id") =!= col("cluster_id")) // keep canonical members
        .select(col("id").as("doc_id"))
      withPlantedDups(Tables(s, dir).documents)
        .join(dropList, Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    },
    // Generated prelude + recursive closure + anti-join of non-canonical
    // cluster members — the terminal output of the dedup pipeline, checked
    // end-to-end against an independent engine.
    Some(graft.Q.oracleResource("dedup_survivors"))
  )

  /** Edit-distance verify stage: exact Levenshtein over the LSH candidate
    * pairs that passed the estimated-Jaccard screen — the final
    * "how different are they really" measure before survivor selection.
    * O(len^2) per pair, but only on the tiny candidate set (never the
    * corpus cross product) — the standard verify-stage cost model.
    */
  val dedupLevenshtein: Q = Q(
    "dedup_levenshtein",
    (s, dir) => {
      val docs = withPlantedDups(Tables(s, dir).documents)
      val pairs = estimatedPairs(s, dir).select("a", "b")
      pairs
        .join(docs.select(col("doc_id").as("a"), col("text").as("text_a")), "a")
        .join(docs.select(col("doc_id").as("b"), col("text").as("text_b")), "b")
        .select(col("a"), col("b"),
          levenshtein(col("text_a"), col("text_b")).as("edit_distance"))
        .orderBy("a", "b")
    },
    // Generated minhash prelude + DuckDB's levenshtein — integer DP, so
    // the distances match exactly (ASCII corpus: char == codepoint).
    Some(graft.Q.oracleResource("dedup_levenshtein"))
  )

  // ---- semantic dedup (SemDeDup) ----------------------------------------

  val SemClusters = 16

  /** SemDeDup target MEAN cluster size: K is sized so clusters hold ~this
    * many vectors — the paper's own 100 TB trade (cluster size, not
    * cluster count, is the knob that bounds the within-cluster O(n²)
    * screen). 2,000 deliberately sits 4× under the online twin's
    * [[MaxSemCluster]] retention cap because nearest-centroid assignment
    * is NOT balanced: at the sf10 soak a 5,000 mean produced a
    * >8,192-member cluster, the cap truncated the twin's seen-set, and
    * stream diverged from batch by 19 dup rows — the margin absorbs
    * realistic skew, and the cap-hit warning below makes any residual
    * truncation observable instead of silent.
    */
  val SemTargetClusterSize = 2000

  /** Cluster count for a corpus of `n` vectors: ceil(n / target size),
    * floored at [[SemClusters]] so small corpora (every sf≤0.1 oracle run)
    * keep the historical K=16 verbatim. Data-dependent BY DESIGN — a fixed
    * K turns the per-cluster quadratic screen superlinear the moment the
    * corpus outgrows K×target (measured at the sf10 soak: K=16 over 210k
    * vectors made 13k-row clusters, 1.36B cosine pairs, and pushed
    * clusters past the online twin's MaxSemCluster retention cap). The
    * DuckDB oracles compute the same K from the same count.
    */
  def semClustersFor(n: Long): Int =
    math.max(SemClusters.toLong, (n + SemTargetClusterSize - 1) / SemTargetClusterSize).toInt
  val SemThreshold = 0.95

  /** Hard per-cluster retention cap for the ONLINE SemDeDup seen-set
    * ([[graft.streaming.EventStreams.semanticDedupStream]]) — the E7
    * MaxBucket treatment at cluster granularity. Production sizing keeps
    * clusters well under it (K ≈ corpus/5k); the cap bounds the one state
    * store entry a mis-sized or adversarially hot cluster would otherwise
    * grow with O(cluster) embeddings.
    */
  val MaxSemCluster = 8192

  /** Deterministic cluster centroids for the semantic dedup: the first K
    * corpus vectors in md5-of-id order — literally the same sampler as the
    * PQ codebook ([[Similarity.sampledVectors]]), so the determinism
    * contract the oracles reproduce lives in one place.
    */
  def semCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = SemClusters): Array[Array[Float]] =
    Similarity.sampledVectors(corpus, idCol, vecCol, k)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space into K clusters, then run the O(n²)
    * cosine screen WITHIN each cluster only — never over the corpus.
    * Output: every eliminated vector with a lower-id witness duplicate and
    * its cluster. Adapted for engine determinism: centroids are the
    * deterministic md5-ordered corpus sample (not KMeans, whose iteration
    * is partitioning-dependent — the reason ann_ivf is rows-only), and the
    * kept representative is the lowest id (the paper keeps a
    * centroid-distance extremum; any fixed rule is valid SemDeDup).
    *
    * Scale shape: assignment is a pure codegen projection — the centroids
    * are bound INTO graft_nearest_centroid (functions/NearestCentroid), so
    * there is no explode, no join, no shuffle for the assign stage. The
    * pair screen shuffles ONCE on cluster id. Per-cluster work is
    * quadratic BY DESIGN (that is SemDeDup's trade); cluster size is the
    * knob — production sizes K ≈ corpus/5k so clusters stay ~5k vectors,
    * exactly how the paper runs at 100 TB-class corpora.
    */
  val dedupSemantic: Q = Q(
    "dedup_semantic",
    (s, dir) => {
      val base = Tables(s, dir).embeddings
      val planted = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.select("vec_id", "embedding").unionByName(planted)
      // K = ceil(n/2000) keeps cluster SIZE ~flat across scale steps, so
      // the within-cluster screen stays linear-in-n. n comes from parquet
      // footers for the unfiltered base (metadata-only, no scan job) plus
      // one single-column count of the planted rows — never a full pass
      // over the embedding column just to size K.
      val n = graft.sources.ParquetMeta.scanRowCount(s, base)
        .getOrElse(base.count()) + planted.count()
      val cents = semCentroids(corpus, "vec_id", "embedding", semClustersFor(n))
      val assigned = corpus.select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.GraftBridge.column(graft.functions.NearestCentroid(
          org.apache.spark.sql.GraftBridge.expression(s, col("embedding")),
          cents)).cast("long").as("cluster"))
      val lhs = assigned.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("e_a"))
      val rhs = assigned.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("e_b"))
      lhs.join(rhs, "cluster").filter(col("a") < col("b"))
        .select(col("cluster"), col("a"), col("b"),
          Similarity.cosine(col("e_a"), col("e_b")).as("cos"))
        .filter(col("cos") >= SemThreshold)
        .groupBy("b")
        .agg(min(col("a")).as("dup_of"), min(col("cluster")).as("cluster"))
        .select(col("b").as("vec_id"), col("dup_of"), col("cluster"))
        .orderBy("vec_id")
    },
    // Bit-exact DuckDB twin of the full pipeline: md5-ordered centroid
    // sample → L2 argmin assignment (same left-to-right double fold, same
    // lowest-centroid-id tie-break) → within-cluster pairs → double cosine
    // → keep-first. Same IEEE-reproducibility argument as ann_pq.
    Some("""WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
    ordered AS (
      SELECT vec_id, embedding,
        row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM corpus),
    cent AS (SELECT cid, embedding AS c_emb FROM ordered
      WHERE cid < (SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) FROM corpus)),
    dists AS (
      SELECT c.vec_id, cent.cid,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(c.embedding)+1),
          i -> (c.embedding[i]::DOUBLE - c_emb[i]::DOUBLE)
             * (c.embedding[i]::DOUBLE - c_emb[i]::DOUBLE))), (x,y) -> x+y) AS d
      FROM corpus c, cent),
    assigned AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists) r WHERE rn = 1),
    pairs AS (
      SELECT x.cluster, x.vec_id AS a, y.vec_id AS b
      FROM assigned x JOIN assigned y USING (cluster) WHERE x.vec_id < y.vec_id),
    scored AS (
      SELECT cluster, a, b,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(ea.embedding)+1),
          i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)), (x,y) -> x+y)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(ea.embedding)+1),
            i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)), (x,y) -> x+y))
         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(eb.embedding)+1),
            i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)), (x,y) -> x+y))) AS cos
      FROM pairs JOIN corpus ea ON a = ea.vec_id JOIN corpus eb ON b = eb.vec_id)
    SELECT b AS vec_id, MIN(a) AS dup_of, MIN(cluster) AS cluster
    FROM scored WHERE cos >= 0.95 GROUP BY b ORDER BY vec_id""")
  )

  val all: Seq[Q] = Seq(dedupExact, dedupKeepFirst, dedupMinhash, dedupNgramJaccard,
    dedupSimhash, dedupEmbedding, dedupClusters, dedupSurvivors, dedupLevenshtein,
    dedupSemantic)
}
