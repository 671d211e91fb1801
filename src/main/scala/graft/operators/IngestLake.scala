package graft.operators

import java.nio.file.{Files, Paths}

import graft.{Q, Tables}
import graft.Num._
import graft.lake.{LakeCatalog, TableMerger}
import graft.sources.{MultiFormatReader => MFR, SchemaTools}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Ingestion (SURVEY §2 A) + lakehouse (§2 B) operations, exercised as
  * round-trips so the DuckDB oracle can check them against the original
  * parquet tables: write a table out through the engine's writer, read it
  * back through the engine's safe reader, and the result must equal the
  * source. That pins reader + writer fidelity (types, quoting, corrupt
  * handling) — not just "it didn't crash".
  */
object IngestLake {

  private val D = "DECIMAL(12,2)"

  /** The user-scoped local scratch root, `<tmpdir>/graft_scratch_<user>`:
    * a world-shared tmpdir subpath could be squatted by another local
    * user. Every local scratch consumer (per-invocation dirs, the IVF
    * index, the wide CSV corpus, the bench canary) lives under it.
    */
  private[graft] def localScratchRoot: java.nio.file.Path = {
    val user = sys.props.getOrElse("user.name", "unknown")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    Paths.get(sys.props("java.io.tmpdir"), s"graft_scratch_$user")
  }

  /** fresh scratch dir per invocation — lake ops are stateful, so reruns
    * must not see previous snapshots.
    */
  private def scratch(name: String): String =
    sys.props.get(ScratchRootProp) match {
      case Some(root) => // scheme-qualified root (e.g. graftoss://bucket/x):
        // the owning FileSystem creates dirs on write; nothing local to make
        s"${root.stripSuffix("/")}/$name/${java.util.UUID.randomUUID().toString}"
      case None => scratchLocal(name)
    }

  /** Per-invocation local scratch dirs allocated by this JVM and not yet
    * reclaimed. The UUID dirs are write-once and never revisited after
    * their query materializes — but "never revisited" used to also mean
    * "never deleted": a full Verify pass at the sf10 soak accumulated
    * 56 GB of dead scratch and filled the device mid-sequence. Reclaimed
    * via [[reclaimScratch]]. The IVF index (Similarity.scala), the wide
    * CSV corpus and the bench canary are deliberately reused across runs,
    * so they do NOT register here.
    */
  private val liveScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  /** Delete every registered scratch dir. Callers must guarantee no query
    * is mid-flight: GraftSession.releaseCaches invokes this after each
    * Bench pass and Verify entry, once the entry's result has fully
    * materialized.
    */
  def reclaimScratch(): Unit = {
    val it = liveScratch.iterator()
    while (it.hasNext) {
      val root = it.next()
      it.remove()
      try {
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder()).forEach { p =>
            try Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () } // open-but-unlinked is fine on POSIX
          } finally walk.close()
        }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** System property redirecting every operator scratch dir (lake
    * warehouses, roundtrip files) to a scheme-qualified root — how the
    * object-store spec replays the whole lake family against
    * `graftoss://` storage with zero per-query changes.
    */
  val ScratchRootProp = "graft.scratch.root"

  /** Always-LOCAL scratch, exempt from [[ScratchRootProp]] — for the few
    * seeds that must live on a real local filesystem regardless of where
    * the warehouse is (the embedded Derby database directory).
    */
  private def scratchLocal(name: String): String = {
    val p = localScratchRoot.resolve(name).resolve(java.util.UUID.randomUUID().toString)
    Files.createDirectories(p)
    liveScratch.add(p)
    p.toString
  }

  /** Zip `dir` into `jar` with entries rooted at `rootName/` — the layout
    * Derby's `jdbc:derby:jar:(file)rootName` subprotocol boots read-only.
    */
  private def jarUpDirectory(dir: java.nio.file.Path, jar: java.nio.file.Path,
      rootName: String): Unit = {
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(jar))
    try {
      val it = Files.walk(dir).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) {
          out.putNextEntry(new java.util.zip.ZipEntry(
            s"$rootName/${dir.relativize(p).toString.replace('\\', '/')}"))
          Files.copy(p, out)
          out.closeEntry()
        }
      }
    } finally out.close()
  }

  val ingestCsvRoundtrip: Q = Q(
    "ingest_csv_roundtrip",
    (s, dir) => {
      val t = Tables(s, dir)
      val nation = t.nation
      val out = scratch("csv") + "/nation_csv"
      nation.write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
      SchemaTools.conformTo(MFR.readCsv(s, out), nation.schema)
        .orderBy("n_nationkey")
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey")
  )

  val ingestJsonRoundtrip: Q = Q(
    "ingest_json_roundtrip",
    (s, dir) => {
      val t = Tables(s, dir)
      val customer = t.customer
      val out = scratch("json") + "/customer_json"
      customer.write.mode(SaveMode.Overwrite).json(out)
      // line-delimited JSON (one record per line, as the writer produces)
      SchemaTools.conformTo(MFR.readJson(s, out, multiLine = false), customer.schema)
        .orderBy("c_custkey")
    },
    Some("SELECT * FROM customer ORDER BY c_custkey")
  )

  val ingestParquet: Q = Q(
    "ingest_parquet",
    (s, dir) => MFR.readParquet(s, s"$dir/part.parquet").orderBy("p_partkey"),
    Some("SELECT * FROM part ORDER BY p_partkey")
  )

  val ingestTextLines: Q = Q(
    "ingest_text_lines",
    (s, dir) => {
      val t = Tables(s, dir)
      val out = scratch("text") + "/nation_txt"
      t.nation.select(concat(col("n_name"), lit("|"), col("n_nationkey")).as("value"))
        .write.mode(SaveMode.Overwrite).text(out)
      MFR.readText(s, out)
        .select(
          split(col("value"), "\\|").getItem(0).as("n_name"),
          split(col("value"), "\\|").getItem(1).cast("int").as("n_nationkey"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_name, n_nationkey FROM nation ORDER BY n_nationkey")
  )

  val ingestOrcRoundtrip: Q = Q(
    "ingest_orc_roundtrip",
    (s, dir) => {
      val t = Tables(s, dir)
      val out = scratch("orc") + "/lineitem_orc"
      // roundtrip the projection the check reads — writer/reader fidelity
      // is per-column, and a fidelity check that writes 11 columns to
      // verify 2 just burns IO
      t.lineitem.select("l_returnflag", "l_quantity")
        .write.mode(SaveMode.Overwrite).orc(out)
      MFR.readOrc(s, out)
        .groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
        .orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n_items FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** A6b: Avro ingest on avro-core + avro-mapred only (no spark-avro
    * connector in this env) — full orders round-trip through real Avro
    * container files: distributed write (one container per partition,
    * timestamp-micros logical type), splittable read back via
    * AvroKeyInputFormat (sync-marker splits, the 100 TB shape), row values
    * checked per-row against the parquet-sourced oracle. Timestamps are
    * surfaced as epoch micros (unix_micros == DuckDB epoch_us; the NTZ →
    * timestamp cast is exact under the pinned UTC session).
    */
  val ingestAvroRoundtrip: Q = Q(
    "ingest_avro_roundtrip",
    (s, dir) => {
      val out = scratch("avro") + "/orders_avro"
      val src = Tables(s, dir).orders
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      graft.sources.AvroReader.writeAvro(s, src, out)
      graft.sources.AvroReader.readAvro(s, out)
        .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"), col("o_totalprice").as("totalprice"),
          unix_micros(col("o_orderdate")).as("od_us"),
          col("o_orderpriority").as("priority"))
        .orderBy("orderkey")
    },
    Some("""SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      o_orderstatus AS status, o_totalprice AS totalprice,
      epoch_us(o_orderdate) AS od_us, o_orderpriority AS priority
    FROM orders ORDER BY orderkey""")
  )

  val ingestSchemaEvolution: Q = Q(
    "ingest_schema_evolution",
    (s, dir) => {
      val t = Tables(s, dir)
      val names = t.customer.select("c_custkey", "c_name")
      val balances = t.customer.select("c_custkey", "c_acctbal")
      SchemaTools.unifySchemas(Seq(names, balances))
        .orderBy(asc("c_custkey"), asc_nulls_first("c_name"))
    },
    Some("""SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal FROM customer
    ORDER BY c_custkey, c_name NULLS FIRST""")
  )

  val ingestJsonProps: Q = Q(
    "ingest_json_props",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("k")
    },
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      COUNT(*) AS n_events FROM events GROUP BY 1 ORDER BY 1""")
  )

  val ingestXmlRoundtrip: Q = Q(
    "ingest_xml_roundtrip",
    (s, dir) => {
      val t = Tables(s, dir)
      val nation = t.nation
      val out = scratch("xml") + "/nation_xml"
      nation.write.mode(SaveMode.Overwrite).format("xml")
        .option("rowTag", "nation").save(out)
      SchemaTools.conformTo(MFR.readXml(s, out, rowTag = "nation"), nation.schema)
        .orderBy("n_nationkey")
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey")
  )

  /** The two-version table the CDC trio (merge_upsert / changelog /
    * incremental_read) reads through three different APIs: v1 = CTAS of
    * the even orders, v2 = MERGE upsert of every 3rd order at +1000.
    * Built on fresh scratch by every call.
    */
  private def cdcScenario(s: org.apache.spark.sql.SparkSession, dir: String): LakeCatalog = {
    val t = Tables(s, dir)
    val cat = LakeCatalog(s, scratch("cdc"))
    val merger = new TableMerger(cat)
    val base = t.orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("id"), col("o_totalprice"))
    merger.mergeTable(base, "lake", "orders_cdc") // v1 (CTAS)
    val updates = t.orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("id"), (col("o_totalprice") + 1000).as("o_totalprice"))
    merger.mergeTable(updates, "lake", "orders_cdc") // v2 (MERGE upsert)
    cat
  }

  val lakeChangelog: Q = Q(
    "lake_changelog",
    (s, dir) =>
      cdcScenario(s, dir).changelog("lake", "orders_cdc", 1, 2).orderBy("_change", "id"),
    Some("""WITH base AS (
      SELECT o_orderkey AS id, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    updates AS (
      SELECT o_orderkey AS id, o_totalprice + 1000 AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
    after AS (
      SELECT id, o_totalprice FROM updates
      UNION ALL
      SELECT id, o_totalprice FROM base WHERE id NOT IN (SELECT id FROM updates))
    SELECT id, o_totalprice, 'insert' AS _change FROM (SELECT * FROM after EXCEPT ALL SELECT * FROM base) i
    UNION ALL
    SELECT id, o_totalprice, 'delete' AS _change FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM after) d
    ORDER BY _change, id""")
  )

  val lakeCtas: Q = Q(
    "lake_ctas",
    (s, dir) => {
      val cat = LakeCatalog(s, scratch("ctas"))
      val result = Relational.q1PricingSummary.fn(s, dir)
      cat.write("analytics", "pricing_summary", result)
      cat.read("analytics", "pricing_summary").orderBy("l_returnflag", "l_linestatus")
    },
    Relational.q1PricingSummary.sql
  )

  val lakeMergeUpsert: Q = Q(
    "lake_merge_upsert",
    (s, dir) => cdcScenario(s, dir).read("lake", "orders_cdc").orderBy("id"),
    Some("""WITH base AS (
      SELECT o_orderkey AS id, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    updates AS (
      SELECT o_orderkey AS id, o_totalprice + 1000 AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0)
    SELECT id, o_totalprice FROM updates
    UNION ALL
    SELECT id, o_totalprice FROM base WHERE id NOT IN (SELECT id FROM updates)
    ORDER BY id""")
  )

  /** Data-quality profiling (reference roadmap item "data quality checks"):
    * per-table completeness, cardinality and range stats in one pass —
    * the pre-ingest validation report. Integer/2-decimal exact throughout.
    */
  val lakeDataProfile: Q = Q(
    "lake_data_profile",
    (s, dir) => {
      val t = Tables(s, dir)
      t.orders.agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("custkey_nonnull"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        countDistinct(col("o_orderstatus")).as("status_distinct"),
        min(col("o_totalprice")).as("price_min"),
        max(col("o_totalprice")).as("price_max"),
        min(col("o_orderdate")).as("date_min"),
        max(col("o_orderdate")).as("date_max"))
    },
    Some("""SELECT COUNT(*) AS n_rows,
      COUNT(o_custkey) AS custkey_nonnull,
      COUNT(DISTINCT o_custkey) AS custkey_distinct,
      COUNT(DISTINCT o_orderstatus) AS status_distinct,
      MIN(o_totalprice) AS price_min,
      MAX(o_totalprice) AS price_max,
      MIN(o_orderdate) AS date_min,
      MAX(o_orderdate) AS date_max
    FROM orders""")
  )

  /** SCD Type-2 history: v1 seeds the customer dimension, v2 applies a
    * snapshot where every 3rd customer's balance changed — changed keys
    * close their old row at version 2 and insert a new current row;
    * unchanged keys keep their version-1 row.
    */
  val lakeScd2: Q = Q(
    "lake_scd2",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("scd2"))
      val dim = t.customer.select("c_custkey", "c_name", "c_acctbal")
      graft.lake.Scd2.applySnapshot(cat, "lake", "customer_dim", dim, "c_custkey", 1)
      val snap = t.customer.select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      graft.lake.Scd2.applySnapshot(cat, "lake", "customer_dim", snap, "c_custkey", 2)
      cat.read("lake", "customer_dim")
        .orderBy("c_custkey", "valid_from")
    },
    Some("""WITH changed AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
    SELECT c_custkey, c_name, c_acctbal, 1 AS valid_from,
      CASE WHEN c_custkey IN (SELECT c_custkey FROM changed) THEN 2 ELSE NULL END AS valid_to,
      c_custkey NOT IN (SELECT c_custkey FROM changed) AS is_current
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal, 2 AS valid_from,
      NULL AS valid_to, TRUE AS is_current
    FROM customer WHERE c_custkey % 3 = 0
    ORDER BY c_custkey, valid_from""")
  )

  /** Predicate DELETE (copy-on-write): remove low-value open orders in a
    * new snapshot; the pre-delete snapshot stays time-travelable (pinned in
    * LakeSpec — here the oracle checks the post-delete table contents).
    */
  val lakeDelete: Q = Q(
    "lake_delete",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("del"))
      val base = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("lake", "orders_d", base)
      cat.delete("lake", "orders_d",
        col("o_orderstatus") === "O" && col("o_totalprice") < 50000.0)
      cat.read("lake", "orders_d").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 50000.0)
    ORDER BY o_orderkey""")
  )

  /** Predicate UPDATE (B43): the file-scoped CoW `UPDATE … SET … WHERE`
    * DML verb. The table lands as TWO commits (even/odd order keys) and
    * the update hits keys in both, so the rewrite is exercised across
    * commit boundaries; one SET assignment reads a column the same UPDATE
    * also writes (o_orderstatus), pinning pre-update RHS semantics under
    * the oracle.
    */
  val lakeUpdate: Q = Q(
    "lake_update",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("upd"))
      val base = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("lake", "orders_u", base.filter(col("o_orderkey") % 2 === 0))
      cat.write("lake", "orders_u", base.filter(col("o_orderkey") % 2 =!= 0),
        SaveMode.Append)
      cat.update("lake", "orders_u",
        Seq(
          "o_totalprice" -> (graft.Num.m(col("o_totalprice")) + 500).cast(DoubleType),
          "o_orderstatus" -> concat(lit("U"), col("o_orderstatus"))),
        col("o_orderstatus") === "O" && col("o_orderkey") % 5 === 0)
      cat.read("lake", "orders_u").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
        THEN 'U' || o_orderstatus ELSE o_orderstatus END AS o_orderstatus,
      CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 500 AS DOUBLE)
        ELSE o_totalprice END AS o_totalprice
    FROM orders ORDER BY o_orderkey""")
  )

  /** Incremental read: a downstream consumer resumes from its last-seen
    * snapshot and reads only the rows ADDED since — here the rows the
    * MERGE upsert introduced or updated between v1 and v2.
    */
  val lakeIncrementalRead: Q = Q(
    "lake_incremental_read",
    (s, dir) => cdcScenario(s, dir).readIncremental("lake", "orders_cdc", 1, 2).orderBy("id"),
    Some("""WITH base AS (
      SELECT o_orderkey AS id, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    updates AS (
      SELECT o_orderkey AS id, o_totalprice + 1000 AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
    after AS (
      SELECT id, o_totalprice FROM updates
      UNION ALL
      SELECT id, o_totalprice FROM base WHERE id NOT IN (SELECT id FROM updates))
    SELECT id, o_totalprice FROM (SELECT * FROM after EXCEPT ALL SELECT * FROM base) i
    ORDER BY id""")
  )

  /** Constraint validation (reference roadmap "data quality checks"): one
    * pass of declarative rules — NOT NULL, value range, set membership,
    * and referential integrity (FK anti-join) — reported as violation
    * counts per rule. At scale each rule is a partial-aggregated count;
    * the FK anti-join carries no broadcast hint (customer grows with SF) —
    * the planner broadcasts the key set while it fits and shuffles beyond.
    */
  val lakeConstraints: Q = Q(
    "lake_constraints",
    (s, dir) => {
      val t = Tables(s, dir)
      val scalarRules = t.orders.agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("bad_status"))
      val fkViolations = t.orders
        .join(t.customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("fk_orphans"))
      scalarRules.crossJoin(fkViolations)
    },
    Some("""SELECT
      (SELECT COUNT(*) FROM orders) AS n_checked,
      (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders) AS null_custkey,
      (SELECT CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders) AS nonpositive_price,
      (SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders) AS bad_status,
      (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS fk_orphans""")
  )

  /** Commit-level data skipping end-to-end: an append-per-period table
    * (three date-band commits), then a band read that PRUNES to the
    * overlapping commits via the per-commit min/max sidecars before any
    * scan is planned — and still matches the oracle computed over the full
    * table. LakeSpec separately pins that only the matching commit dirs
    * are scanned.
    */
  val lakeDataSkipping: Q = Q(
    "lake_data_skipping",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("skip"))
      val orders = t.orders.select("o_orderkey", "o_orderdate", "o_totalprice")
      cat.write("lake", "orders_by_period",
        orders.filter(col("o_orderdate") < lit("1994-01-01")))
      cat.write("lake", "orders_by_period",
        orders.filter(col("o_orderdate") >= lit("1994-01-01") &&
          col("o_orderdate") < lit("1996-01-01")), SaveMode.Append)
      cat.write("lake", "orders_by_period",
        orders.filter(col("o_orderdate") >= lit("1996-01-01")), SaveMode.Append)
      cat.readWhere("lake", "orders_by_period", "o_orderdate",
          "1994-06-01", "1995-06-30")
        .agg(count(lit(1)).as("n_orders"),
          sum(m(col("o_totalprice"))).cast(DoubleType).as("total"))
    },
    Some(s"""SELECT COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1994-06-01' AND DATE '1995-06-30'""")
  )

  /** Z-order clustered table end-to-end: orders clustered on
    * (o_custkey, o_totalprice), then band reads on EACH clustered column
    * answered through commit-level pruning — and still matching the oracle
    * computed over the raw table. ZOrderSpec separately pins that both
    * bands scan a strict subset of the z-bucket commits (the multi-column
    * skipping single-column sorting cannot give).
    */
  val lakeZorder: Q = Q(
    "lake_zorder",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("zorder"))
      cat.writeClustered("lake", "orders_z",
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_custkey", "o_totalprice"), commits = 16)
      val priceBand = cat
        .readWhere("lake", "orders_z", "o_totalprice", 10000.0, 50000.0)
        .agg(count(lit(1)).as("n_price_band"),
          dsum(col("o_totalprice")).as("price_band_total"))
      val custBand = cat
        .readWhere("lake", "orders_z", "o_custkey", 100, 500)
        .agg(count(lit(1)).as("n_cust_band"))
      priceBand.crossJoin(custBand)
    },
    Some(s"""SELECT
      (SELECT COUNT(*) FROM orders WHERE o_totalprice BETWEEN 10000.0 AND 50000.0) AS n_price_band,
      (SELECT CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) FROM orders
        WHERE o_totalprice BETWEEN 10000.0 AND 50000.0) AS price_band_total,
      (SELECT COUNT(*) FROM orders WHERE o_custkey BETWEEN 100 AND 500) AS n_cust_band""")
  )

  /** Maintenance lifecycle end-to-end under the oracle: seed + two small
    * appends, a bad overwrite, ROLLBACK to the good snapshot, then
    * bin-packing compactSmall — the final table must equal the pre-bad
    * state computed independently by the oracle, through four maintenance
    * commits.
    */
  val lakeMaintenance: Q = Q(
    "lake_maintenance",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("maint"))
      val orders = t.orders.select("o_orderkey", "o_totalprice")
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 0))            // v1 big
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 1),
        SaveMode.Append)                                                              // v2
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 2),
        SaveMode.Append)                                                              // v3
      cat.write("lake", "om", orders.limit(0), SaveMode.Overwrite)                    // v4: bad deploy
      cat.rollback("lake", "om", 3)                                                   // v5 == v3
      cat.compactSmall("lake", "om", smallRowThreshold = Long.MaxValue)               // v6: fold all
      cat.read("lake", "om")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total"),
          countDistinct(col("o_orderkey")).as("n_keys"))
    },
    Some(s"""SELECT COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total,
      COUNT(DISTINCT o_orderkey) AS n_keys
    FROM orders""")
  )

  /** Bloom-pruned point lookup under the oracle: per-period commits, bloom
    * sidecars on the key, then an IN-list read answered through
    * range+bloom commit skipping — equal to the oracle's plain IN query.
    */
  val lakePointLookup: Q = Q(
    "lake_point_lookup",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("ptlk"))
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      cat.write("lake", "op", orders.filter(col("o_orderkey") % 2 === 0))
      cat.write("lake", "op", orders.filter(col("o_orderkey") % 2 === 1), SaveMode.Append)
      cat.buildBlooms("lake", "op", "o_orderkey")
      cat.readWhereIn("lake", "op", "o_orderkey",
          Seq(1L, 2L, 3L, 100L, 101L, 9999999L))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey IN (1, 2, 3, 100, 101, 9999999)
    ORDER BY o_orderkey""")
  )

  /** Incrementally-maintained materialized view end-to-end under the
    * oracle: a per-customer aggregate view over a growing orders table,
    * advanced by two refreshes that each aggregate ONLY the appended
    * commits and merge by key — the final view must equal a full
    * recompute over everything (which is exactly what the oracle does).
    * MaterializedViewSpec separately pins that refresh never reads the
    * base commits (they are deleted from disk before the refresh).
    */
  val lakeMvRefresh: Q = Q(
    "lake_mv_refresh",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("mv"))
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      cat.write("lake", "ord", orders.filter(col("o_orderkey") % 3 === 0))
      import graft.lake.MaterializedView.MvAgg
      val mv = new graft.lake.MaterializedView(cat)
      mv.create("lake", "ord_by_cust", "lake", "ord", Seq("o_custkey"),
        Seq(MvAgg("sum_money", "o_totalprice", "total"),
          MvAgg("min", "o_orderkey", "first_key"),
          MvAgg("max", "o_orderkey", "last_key")),
        countAs = "n_orders")
      cat.write("lake", "ord", orders.filter(col("o_orderkey") % 3 === 1),
        SaveMode.Append)
      mv.refresh("lake", "ord_by_cust")
      cat.write("lake", "ord", orders.filter(col("o_orderkey") % 3 === 2),
        SaveMode.Append)
      mv.refresh("lake", "ord_by_cust")
      cat.read("lake", "ord_by_cust")
        .withColumn("total", col("total").cast(DoubleType))
        .orderBy("o_custkey")
    },
    Some(s"""SELECT o_custkey,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total,
      MIN(o_orderkey) AS first_key,
      MAX(o_orderkey) AS last_key
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey""")
  )

  /** Write-audit-publish lifecycle end-to-end under the oracle: a
    * corrupted batch is staged, FAILS its audit (negative money), and is
    * aborted without ever becoming visible; the corrected batch and a
    * second append batch each pass their audits (non-negative money;
    * key uniqueness over the would-be table) and publish. The final
    * table must equal the clean source — which is exactly what the
    * oracle computes. If the aborted stage had leaked into any
    * manifest, every aggregate below would be off.
    */
  val lakeWap: Q = Q(
    "lake_wap",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("wap"))
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      val evens = orders.filter(col("o_orderkey") % 2 === 0)

      // batch 1, corrupted: some prices negated upstream
      val corrupted = evens.withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      val s1 = cat.stageWrite("lake", "wap_orders", corrupted, SaveMode.Overwrite)
      val bad1 = cat.readStagedData(s1)
        .filter(col("o_totalprice") < 0).limit(1).count() > 0
      require(bad1, "audit should catch the planted corruption")
      cat.abortStaged(s1) // never published, never visible

      // batch 1, corrected
      val s2 = cat.stageWrite("lake", "wap_orders", evens, SaveMode.Overwrite)
      require(cat.readStagedData(s2)
        .filter(col("o_totalprice") < 0).limit(1).count() == 0)
      cat.publishStaged(s2)

      // batch 2 appends; audit key uniqueness over the WOULD-BE table
      val s3 = cat.stageWrite("lake", "wap_orders",
        orders.filter(col("o_orderkey") % 2 === 1), SaveMode.Append)
      val v = cat.readStagedView(s3)
        .agg(count(lit(1)).as("n"), countDistinct(col("o_orderkey")).as("k")).head()
      require(v.getLong(0) == v.getLong(1), "audit: duplicate keys in staged view")
      cat.publishStaged(s3)

      cat.read("lake", "wap_orders")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          min(col("o_totalprice")).cast(DoubleType).as("min_price"))
    },
    Some(s"""SELECT COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total,
      COUNT(DISTINCT o_orderkey) AS n_keys,
      CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
    FROM orders""")
  )

  /** Merge-on-read DELETE end-to-end under the oracle: three append
    * commits, then two STACKED deletion-vector deletes (overlapping
    * predicates — the second must not double-mark) with zero data
    * rewrite, read back through the vector-subtracting scan; then
    * materializeDeletes folds the vectors file-scoped and the table must
    * still read identically. Both states are checked against the same
    * plain-SQL filter over the source. DeletionVectorSpec separately
    * pins that the data dirs stay byte-identical through the deletes.
    */
  val lakeDeleteMor: Q = Q(
    "lake_delete_mor",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("mor"))
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 0))
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 1), SaveMode.Append)
      cat.write("lake", "om", orders.filter(col("o_orderkey") % 3 === 2), SaveMode.Append)
      cat.deleteMoR("lake", "om", col("o_totalprice") < 50000.0)
      cat.deleteMoR("lake", "om",
        col("o_totalprice") < 100000.0 && col("o_custkey") % 2 === 0)
      val mor = cat.read("lake", "om")
        .agg(count(lit(1)).as("n_mor"),
          dsum(col("o_totalprice")).as("total_mor"),
          countDistinct(col("o_orderkey")).as("k_mor"))
      cat.materializeDeletes("lake", "om")
      val mat = cat.read("lake", "om")
        .agg(count(lit(1)).as("n_mat"),
          dsum(col("o_totalprice")).as("total_mat"))
      mor.crossJoin(mat)
    },
    Some(s"""WITH kept AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE NOT (o_totalprice < 50000.0)
        AND NOT (o_totalprice < 100000.0 AND o_custkey % 2 = 0))
    SELECT COUNT(*) AS n_mor,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_mor,
      COUNT(DISTINCT o_orderkey) AS k_mor,
      COUNT(*) AS n_mat,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_mat
    FROM kept""")
  )

  /** CDC apply end-to-end under the oracle: one Debezium-shaped delta —
    * updates (+1000.00 on matched prices), inserts (shifted new keys)
    * and delete tombstones — applied in a SINGLE file-scoped pass, then
    * the whole-table aggregate must equal the oracle's reconstruction
    * of the same final state from the source. TableMergerSpec pins
    * single-version commit + untouched-dir behavior.
    */
  val lakeCdcApply: Q = Q(
    "lake_cdc_apply",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("cdc"))
      val merger = new TableMerger(cat)
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      cat.write("lake", "oc", orders.filter(col("o_orderkey") % 3 === 0))
      cat.write("lake", "oc", orders.filter(col("o_orderkey") % 3 =!= 0),
        SaveMode.Append)
      val updates = orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice",
          (m(col("o_totalprice")) + lit(1000)).cast(DoubleType))
        .withColumn("_op", lit("upsert"))
      // synthetic-insert keys must sit ABOVE the live key domain — a fixed
      // +10M offset collided with the 10×-soak corpus's key stride and the
      // "inserts" silently merged into the next replica's rows. One max()
      // (bounded: a single long) mirrored verbatim by the oracle's
      // scalar subquery keeps both engines' keys identical at any SF.
      val insertOff = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val inserts = orders.filter(col("o_orderkey") % 10 === 4)
        .select((col("o_orderkey") + lit(insertOff)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .withColumn("_op", lit("upsert"))
      val tombstones = orders.filter(col("o_orderkey") % 10 === 7)
        .withColumn("_op", lit("delete"))
      merger.applyCdc(updates.unionByName(inserts).unionByName(tombstones),
        "lake", "oc", key = Some("o_orderkey"))
      cat.read("lake", "oc")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total"),
          countDistinct(col("o_orderkey")).as("n_keys"))
    },
    Some(s"""WITH final AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 10 = 3
          THEN CAST(CAST(o_totalprice AS $D) + 1000 AS DOUBLE)
          ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey,
        o_totalprice
      FROM orders WHERE o_orderkey % 10 = 4)
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total,
      COUNT(DISTINCT o_orderkey) AS n_keys
    FROM final""")
  )

  /** REAL .docx parse under the oracle (strict upgrade over the reference,
    * which reads .docx as raw text lines and gets zip garbage —
    * schema_manager.py:96-104): build genuine OOXML files (zip +
    * word/document.xml) carrying the nation table one paragraph per row,
    * read them back through the distributed zip+StAX reader, and the
    * parsed rows must equal the source table.
    */
  val ingestDocxReal: Q = Q(
    "ingest_docx_real",
    (s, dir) => {
      val t = Tables(s, dir)
      val rows = t.nation.select("n_nationkey", "n_name")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      val out = scratch("docx")
      // two files: the read must union multiple documents
      val (a, b) = rows.splitAt(rows.length / 2)
      for ((name, part) <- Seq("a.docx" -> a, "b.docx" -> b)) {
        java.nio.file.Files.write(
          Paths.get(out, name),
          graft.sources.DocxReader.docxBytes(part.map { case (k, n) => s"$k|$n" }))
      }
      graft.sources.DocxReader.readDocx(s, out)
        .filter(col("para_idx") >= 0)
        .select(
          split(col("text"), "\\|").getItem(0).cast("int").as("n_nationkey"),
          split(col("text"), "\\|").getItem(1).as("n_name"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
  )

  /** B38 (r11): BRANCHES under the oracle — a writable ref accumulates two
    * audit-isolated commits (odd keys in two halves) on top of a main
    * snapshot holding the even keys; main must still read pre-branch
    * content while the branch tip already reads everything; a
    * FAST-FORWARD merge then publishes the branch lineage as the next
    * main snapshot. One result row set carries the final per-status
    * aggregate plus the pre-merge main/branch counts, so a branch that
    * leaked into main early, lost a commit, or merged the wrong tip each
    * breaks a different column.
    */
  val lakeBranches: Q = Q(
    "lake_branches",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("branches"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("br", "orders", orders.filter(col("o_orderkey") % 2 === 0))
      cat.createBranch("br", "orders", "audit")
      cat.writeBranch("br", "orders", "audit", orders.filter(col("o_orderkey") % 4 === 1))
      cat.writeBranch("br", "orders", "audit", orders.filter(col("o_orderkey") % 4 === 3))
      val mainBefore = cat.read("br", "orders")
        .agg(count(lit(1)).as("n_main_before"))
      val branchTip = cat.readBranch("br", "orders", "audit")
        .agg(count(lit(1)).as("n_branch_tip"))
      cat.fastForwardBranch("br", "orders", "audit")
      cat.read("br", "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_final"), dsum(col("o_totalprice")).as("total_final"))
        .crossJoin(broadcast(mainBefore))
        .crossJoin(broadcast(branchTip))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n_final,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_final,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_main_before,
      (SELECT COUNT(*) FROM orders) AS n_branch_tip
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B36b (r11): MERGE-ON-READ deletes through the Delta handoff — stacked
    * deleteMoR commits export as REAL deletion vectors (RoaringBitmapArray
    * bytes, Z85-inlined descriptors, protocol feature `deletionVectors`),
    * zero data rewrite, and the read back EXCLUSIVELY through
    * `lake.DeltaImport` must subtract exactly the marked rows. The result
    * joins the CURRENT state against the Delta-version-1 state (first
    * delete only), so one hash covers the bitmap encode/decode round-trip,
    * stacked-vector merging (last-add-wins), and DV time travel.
    */
  val lakeDeltaDv: Q = Q(
    "lake_delta_dv",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("delta_dv"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("dl", "orders", orders)
      cat.deleteMoR("dl", "orders", col("o_orderkey") % 7 === 0) // Delta v1: DVs
      cat.deleteMoR("dl", "orders", col("o_orderkey") % 11 === 0) // Delta v2: stacked
      graft.lake.DeltaExport.export(s, cat, "dl", "orders")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(cat.root), "dl"), "orders").toString
      val now = graft.lake.DeltaImport.read(s, loc)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_now"), dsum(col("o_totalprice")).as("total_now"))
      val v1 = graft.lake.DeltaImport.read(s, loc, Some(1L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_v1"))
      now.join(v1, "o_orderstatus").orderBy("o_orderstatus")
    },
    Some(s"""SELECT n.o_orderstatus, n.n_now, n.total_now, v.n_v1
    FROM (SELECT o_orderstatus, COUNT(*) AS n_now,
            CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_now
          FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
          GROUP BY o_orderstatus) n
    JOIN (SELECT o_orderstatus, COUNT(*) AS n_v1
          FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY o_orderstatus) v
    USING (o_orderstatus)
    ORDER BY o_orderstatus""")
  )

  /** REAL .xlsx parse under the oracle (A15 — the spreadsheet sibling of
    * ingest_docx_real; the reference's multi-format intake has no
    * spreadsheet path at all): build genuine SpreadsheetML files (zip +
    * worksheet + a real shared-string table) carrying the nation table,
    * with every 5th name cell OMITTED — the A1-ref gap that silently
    * left-shifts a naive parser — and read them back through the
    * distributed zip+StAX reader. The parsed, typed rows must equal the
    * source table with exactly those cells null.
    */
  val ingestXlsxReal: Q = Q(
    "ingest_xlsx_real",
    (s, dir) => {
      val t = Tables(s, dir)
      val rows = t.nation.select("n_nationkey", "n_name", "n_regionkey")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
      val out = scratch("xlsx")
      val header = Seq[Any]("n_nationkey", "n_name", "n_regionkey")
      // two files: the read must union multiple workbooks
      val (a, b) = rows.splitAt(rows.length / 2)
      for ((name, part) <- Seq("a.xlsx" -> a, "b.xlsx" -> b)) {
        val body = part.map { case (k, n, rk) =>
          Seq[Any](k, if (k % 5 == 0) null else n, rk)
        }
        java.nio.file.Files.write(Paths.get(out, name),
          graft.sources.XlsxReader.xlsxBytes(header +: body.toSeq))
      }
      graft.sources.XlsxReader.readXlsx(s, out)
        .filter(col("row_idx") >= 1) // drop each workbook's header row
        .select(
          element_at(col("cells"), 1).cast("int").as("n_nationkey"),
          element_at(col("cells"), 2).as("n_name"),
          element_at(col("cells"), 3).cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey,
      CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS n_name,
      n_regionkey
    FROM nation ORDER BY n_nationkey""")
  )

  /** B8 under the oracle: SNAPSHOT TIME TRAVEL — three commits land
    * disjoint thirds of orders; reading @v2 must return exactly the first
    * two thirds (DuckDB reconstructs the same subset from the base
    * table). A time-travel read that leaked later commits, or pinned the
    * wrong manifest, hash-mismatches.
    */
  val lakeTimeTravel: Q = Q(
    "lake_time_travel",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("timetravel"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("tt", "orders", orders.filter(col("o_orderkey") % 3 === 0))
      cat.write("tt", "orders", orders.filter(col("o_orderkey") % 3 === 1), SaveMode.Append)
      cat.write("tt", "orders", orders.filter(col("o_orderkey") % 3 === 2), SaveMode.Append)
      cat.read("tt", "orders", Some(2))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 3 <> 2
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B17 under the oracle: SNAPSHOT EXPIRY + VACUUM — after expiring to
    * the last two of three snapshots and vacuuming unreferenced data, the
    * surviving version count is surfaced as a column (a broken retention
    * keeps 3 or drops live history → hash mismatch) and the LATEST read
    * must still equal the full table (vacuum must never touch data the
    * kept snapshots reference).
    */
  val lakeExpiry: Q = Q(
    "lake_expiry",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("expiry"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("ex", "orders", orders.filter(col("o_orderkey") % 3 === 0))
      cat.write("ex", "orders", orders.filter(col("o_orderkey") % 3 === 1), SaveMode.Append)
      cat.write("ex", "orders", orders.filter(col("o_orderkey") % 3 === 2), SaveMode.Append)
      // expiry deletes the dropped snapshots' unreferenced data dirs in
      // the same pass (the vacuum); orphaned stages have their own
      // grace-period reclaim (vacuumOrphans, spec-covered)
      cat.expireSnapshots("ex", "orders", keepLast = 2)
      cat.read("ex", "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .withColumn("versions_kept", lit(cat.versions("ex", "orders").length))
        .select("o_orderstatus", "versions_kept", "n_orders", "total_price")
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, 2 AS versions_kept, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B32 under the oracle: SNAPSHOT TAGS — v1 is tagged, later commits
    * land, expiry keeps only the last snapshot; the tagged v1 must
    * survive with its exact content readable by name (DuckDB reconstructs
    * v1's subset from the base table). A tag that expiry dropped, or that
    * resolves to the wrong snapshot, hash-mismatches.
    */
  val lakeTags: Q = Q(
    "lake_tags",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("tags"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("tg", "orders", orders.filter(col("o_orderkey") % 3 === 0))
      cat.createTag("tg", "orders", "train-run-1")
      cat.write("tg", "orders", orders.filter(col("o_orderkey") % 3 === 1), SaveMode.Append)
      cat.write("tg", "orders", orders.filter(col("o_orderkey") % 3 === 2), SaveMode.Append)
      cat.expireSnapshots("tg", "orders", keepLast = 1)
      cat.readTag("tg", "orders", "train-run-1")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** Write-mode lifecycle under the oracle (reference: merge_utils.py's
    * overwrite/append strategies; SURVEY §2 B2/B3/B7/B11 promoted from
    * spec-only to hash-checked): a hive-partitioned base write, two
    * appends that bring the table to full parity with the source, a
    * partition-pruned read (filter on the partition column travels to
    * directory pruning — only the matching `o_orderstatus=` dirs are
    * scanned), then an INSERT OVERWRITE that replaces the file list
    * entirely, and a final full read. The oracle recomputes both probe
    * aggregates independently; a leaked pre-overwrite file, a dropped
    * append, or a partition column lost in the hive round-trip all
    * hash-mismatch. Scale shape: appends are metadata-only extensions
    * (no data rewrite), overwrite is an O(1) manifest swap, and the
    * pruned read never lists non-matching partition dirs.
    */
  val lakeWriteModes: Q = Q(
    "lake_write_modes",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("wmodes"))
      val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val part = Seq("o_orderstatus")
      cat.write("wm", "orders", orders.filter(col("o_orderkey") % 3 === 0),
        SaveMode.Overwrite, part)                                            // v1: partitioned base
      cat.write("wm", "orders", orders.filter(col("o_orderkey") % 3 === 1),
        SaveMode.Append, part)                                               // v2: append
      cat.write("wm", "orders", orders.filter(col("o_orderkey") % 3 === 2),
        SaveMode.Append, part)                                               // v3: append → full table
      val pruned = cat.read("wm", "orders")
        .filter(col("o_orderstatus") === "F")                                // partition-dir pruning
        .agg(count(lit(1)).as("n_f"), dsum(col("o_totalprice")).as("total_f"))
      // materialize the probe BEFORE the overwrite swaps the manifest out
      // from under the lazy plan
      val prunedRow = pruned.head()
      cat.write("wm", "orders", orders.filter(col("o_orderkey") % 2 === 0),
        SaveMode.Overwrite, part)                                            // v4: INSERT OVERWRITE
      val after = cat.read("wm", "orders")
        .agg(count(lit(1)).as("n_after"), dsum(col("o_totalprice")).as("total_after"))
      import s.implicits._
      Seq((prunedRow.getLong(0), prunedRow.getDouble(1))).toDF("n_f", "total_f")
        .crossJoin(after)
    },
    Some(s"""SELECT
      (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS n_f,
      (SELECT CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) FROM orders
        WHERE o_orderstatus = 'F') AS total_f,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_after,
      (SELECT CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) FROM orders
        WHERE o_orderkey % 2 = 0) AS total_after""")
  )

  /** JDBC ingestion end-to-end under the oracle (reference: main.py:18
    * ships the MySQL connector jar for its OLTP feed; re-expressed
    * against the embedded Derby engine this environment ships): the
    * nation dimension is loaded into a relational database through plain
    * JDBC, then ingested back with MFR.readJdbc as a PARTITIONED read
    * (4 range-predicated parallel queries on n_nationkey — the scale
    * shape; a bare JDBC read is one connection no matter the cluster)
    * and must hash-match the parquet table it came from. The JDBC load
    * itself is driver-side but bounded: nation is a fixed-size dimension
    * (25 rows), the same class of bounded seed every ingest_* roundtrip
    * writes.
    *
    * The loaded database is re-published as Derby's JAR-ARCHIVED
    * read-only form (`jdbc:derby:jar:(file)db`) before the Spark read:
    * an in-memory or live file database is bootable by ONE JVM only, so
    * the partitioned read would deadlock (or see nothing) the moment the
    * four range queries run from real executor processes — the
    * local-cluster correctness replay caught exactly that. A read-only
    * archive boots concurrently in any number of JVMs, which is the
    * honest single-file analog of "executors connect to a DB server".
    */
  val ingestJdbcRoundtrip: Q = Q(
    "ingest_jdbc",
    (s, dir) => {
      val t = Tables(s, dir)
      val rows = t.nation.select("n_nationkey", "n_name", "n_regionkey")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      val root = scratchLocal("jdbc")
      val dbName = "seeddb"
      val url = s"jdbc:derby:$root/$dbName;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.createStatement().execute(
          "CREATE TABLE nation (n_nationkey INT PRIMARY KEY, n_name VARCHAR(64), n_regionkey INT)")
        val ps = conn.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
        rows.foreach { case (k, n, r) =>
          ps.setInt(1, k); ps.setString(2, n); ps.setInt(3, r)
          ps.addBatch()
        }
        ps.executeBatch()
      } finally conn.close()
      // clean shutdown (flushes the log), then archive to a jar: success
      // of a Derby shutdown IS an exception, per its JDBC contract
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$root/$dbName;shutdown=true")
      catch { case _: java.sql.SQLException => () }
      val dbJar = s"$root/$dbName.jar"
      jarUpDirectory(Paths.get(root, dbName), Paths.get(dbJar), dbName)
      MFR.readJdbc(s, s"jdbc:derby:jar:($dbJar)$dbName", "nation",
          partitionColumn = Some("n_nationkey"), lowerBound = Some(0L),
          upperBound = Some(rows.map(_._1).max.toLong + 1), numPartitions = 4)
        // Derby folds unquoted identifiers to upper case; restore the
        // lake's lower-case column contract
        .select(col("n_nationkey").as("n_nationkey"),
          col("n_name").as("n_name"), col("n_regionkey").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")
  )

  /** Iceberg v2 metadata export end-to-end under the oracle (reference:
    * utils/spark_write_iceberg.py's format-v2 tables, re-expressed as a
    * jar-less spec exporter): build a two-commit table, vector-delete a
    * slice (merge-on-read), export the lineage as Iceberg v2 JSON
    * metadata, then answer the query READING ONLY what the exported
    * metadata references — current snapshot → manifest list → manifests →
    * data files minus position-delete files. A hash match proves the
    * exported metadata is a faithful, self-sufficient description of the
    * table (files, lineage, AND delete semantics) that an adopting engine
    * could trust. IcebergExportSpec pins the spec-field structure.
    */
  /** Read back STRICTLY from exported Iceberg metadata: the JSON
    * TableMetadata via Jackson, the manifest lists + manifests as the
    * Avro object container files they really are — never a graft
    * manifest. Returns the current snapshot's (data files, delete files).
    */
  private def exportedFileSets(s: org.apache.spark.sql.SparkSession,
      exp: graft.lake.IcebergExport.Export): (Seq[(String, Int)], Seq[(String, Int)]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hconf = s.sessionState.newHadoopConf()
    def json(p: String) = {
      // through the owning FileSystem, not java.io.File — the export can
      // live on any scheme the warehouse does (object-store spec replays
      // this on graftoss://)
      val path = new org.apache.hadoop.fs.Path(new java.net.URI(p))
      val in = path.getFileSystem(hconf).open(path)
      try mapper.readTree(in.readAllBytes()) finally in.close()
    }
    def avro(p: String) = {
      val path = new org.apache.hadoop.fs.Path(new java.net.URI(p))
      graft.lake.IcebergAvro.readContainer(path.getFileSystem(hconf), path)._1
    }
    val meta = json(exp.metadataFile)
    val snaps = meta.get("snapshots")
    val cur = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() ==
        meta.get("current-snapshot-id").asLong())
      .getOrElse(sys.error("current snapshot missing from exported metadata"))
    import graft.lake.IcebergAvro.{int => aInt, rec => aRec, str => aStr}
    avro(cur.get("manifest-list").asText())
      .flatMap { mf =>
        avro(aStr(mf, "manifest_path")).map(aRec(_, "data_file"))
          .map(df => (aStr(df, "file_path"), aInt(df, "content")))
      }.partition(_._2 == 0)
  }

  val lakeIcebergExport: Q = Q(
    "lake_iceberg_export",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("iceberg"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 0))
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 1),
        SaveMode.Append)
      cat.deleteMoR("ice", "orders", col("o_orderkey") % 7 === 0)
      val exp = graft.lake.IcebergExport.export(s, cat, "ice", "orders")
      val (dataFiles, deleteFiles) = exportedFileSets(s, exp)
      // normalize both sides to table-relative keys (URI-scheme-agnostic,
      // same rationale as LakeCatalog.fileKeyExpr)
      def relKey(c: org.apache.spark.sql.Column) =
        concat(lit("data/"), substring_index(c, "/data/", -1))
      val data = s.read.parquet(dataFiles.map(_._1): _*)
        .withColumn("__fp", relKey(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      val dels = s.read.parquet(deleteFiles.map(_._1): _*)
        .select(relKey(col("file_path")).as("__dfp"), col("pos").as("__dpos"))
      // no broadcast hint: delete cardinality is scale-proportional
      data.join(dels,
          col("__fp") === col("__dfp") && col("__pos") === col("__dpos"),
          "left_anti")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B35 (r11): Iceberg v2 IMPORT — the adoption path in the other
    * direction. The table is PARTITIONED on o_orderstatus (so the column's
    * values exist only in hive dir names → exported manifests, never in
    * the parquet pages), tagged before a merge-on-read delete, exported,
    * and then read back EXCLUSIVELY through `lake.IcebergImport` — version
    * hint → metadata JSON → Avro manifest lists/manifests → one parquet
    * scan ± position-delete anti-join. The result joins the CURRENT
    * snapshot (deletes applied, partition column reattached from manifest
    * partition tuples) against the TAG REF'S snapshot (pre-delete state
    * via time travel), so one hash covers partition reattachment, MoR
    * sequence semantics, and ref resolution at once.
    */
  val lakeIcebergImport: Q = Q(
    "lake_iceberg_import",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("ice_import"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 0),
        partitionBy = Seq("o_orderstatus"))
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 1),
        SaveMode.Append, partitionBy = Seq("o_orderstatus"))
      cat.createTag("ice", "orders", "pre_delete")
      cat.deleteMoR("ice", "orders", col("o_orderkey") % 7 === 0)
      graft.lake.IcebergExport.export(s, cat, "ice", "orders")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(cat.root), "ice"), "orders").toString
      val now = graft.lake.IcebergImport.read(s, loc)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_now"), dsum(col("o_totalprice")).as("total_now"))
      val tagged = graft.lake.IcebergImport.read(s, loc, ref = Some("pre_delete"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_tagged"))
      now.join(tagged, "o_orderstatus").orderBy("o_orderstatus")
    },
    Some(s"""SELECT n.o_orderstatus, n.n_now, n.total_now, t.n_tagged
    FROM (SELECT o_orderstatus, COUNT(*) AS n_now,
            CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_now
          FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY o_orderstatus) n
    JOIN (SELECT o_orderstatus, COUNT(*) AS n_tagged
          FROM orders GROUP BY o_orderstatus) t
    USING (o_orderstatus)
    ORDER BY o_orderstatus""")
  )

  /** B35b (r12): Iceberg EQUALITY DELETES, both directions — the Flink-CDC
    * shape a real v2 table carries. Two commits (sequence 1: even keys,
    * sequence 2: odd keys) export, then two equality-delete snapshots land
    * through `IcebergExport.exportEqualityDelete`: the first is PINNED to
    * data-sequence 2, so it removes its matching keys only from the
    * sequence-1 commit (the spec's strict `<` rule — keys that also match
    * in the sequence-2 commit survive); the second uses the default
    * sequence and removes its keys everywhere. The aggregate is computed
    * READING EXCLUSIVELY through `IcebergImport`, so one hash covers the
    * delete-file writer, manifest/list/metadata chaining, the per-file
    * sequence scoping inside one equality-id group, and the anti-join
    * semantics.
    */
  val lakeIcebergEqDelete: Q = Q(
    "lake_iceberg_eqdelete",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("ice_eqdel"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 0)) // seq 1
      cat.write("ice", "orders", orders.filter(col("o_orderkey") % 2 === 1),
        SaveMode.Append) // seq 2
      graft.lake.IcebergExport.export(s, cat, "ice", "orders")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(cat.root), "ice"), "orders").toString
      // CDC tombstones scoped to sequence 2: %10==0 keys are even (seq-1
      // data -> removed); %10==5 keys are odd (seq-2 data -> SURVIVE)
      graft.lake.IcebergExport.exportEqualityDelete(s, loc,
        orders.filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 10 === 5)
          .select("o_orderkey"),
        Seq("o_orderkey"), deleteSequence = Some(2L))
      // a later global delete: covers both commits
      graft.lake.IcebergExport.exportEqualityDelete(s, loc,
        orders.filter(col("o_orderkey") % 9 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      graft.lake.IcebergImport.read(s, loc)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
    FROM orders
    WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 10 = 0)
      AND o_orderkey % 9 <> 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B39 (r12): IDEMPOTENT TRANSACTIONAL APPENDS under the oracle. Three
    * batches land through `writeTxn`, with batch 1 REPLAYED verbatim and a
    * STALE id re-sent after later progress — both must no-op — and a
    * compaction between batches must not reopen the replay window. The
    * final aggregate equals the plain three-batch union exactly: a sink
    * that applied any replay doubles rows and hash-mismatches; one that
    * lost the watermark to maintenance does too.
    */
  val lakeTxnAppend: Q = Q(
    "lake_txn_append",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("txn_append"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      def part(i: Int) = orders.filter(col("o_orderkey") % 3 === i)
      val app = "ingest-pipeline"
      cat.writeTxn("lake", "orders", app, 0L, part(0))
      cat.writeTxn("lake", "orders", app, 1L, part(1))
      cat.writeTxn("lake", "orders", app, 1L, part(1)) // micro-batch retry: no-op
      cat.compactSmall("lake", "orders", Long.MaxValue) // maintenance mid-stream
      cat.writeTxn("lake", "orders", app, 0L, part(0)) // stale replay: no-op
      cat.writeTxn("lake", "orders", app, 2L, part(2))
      cat.read("lake", "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** B41 (r12): DELTA CHANGE DATA FEED, both directions. A two-commit
    * table takes a CoW DELETE; the export (changeDataFeed=true) renders
    * `delta.enableChangeDataFeed`, the spec's `cdc` action and a
    * `_change_data` file holding the EXACT row diff for the rewriting
    * commit (derived from graft's snapshot changelog); add-only commits
    * carry no cdc file, so the reader's derive-inserts-from-adds rule is
    * exercised on v0/v1 and the explicit-cdc rule on v2. The aggregate
    * groups the whole feed by (version, change type) — a wrong diff, a
    * mis-derived insert, or a version misattribution each break a row.
    */
  val lakeDeltaCdf: Q = Q(
    "lake_delta_cdf",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("delta_cdf"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("dl", "orders", orders.filter(col("o_orderkey") % 2 === 0)) // Delta v0
      cat.write("dl", "orders", orders.filter(col("o_orderkey") % 2 === 1),
        SaveMode.Append) // Delta v1
      cat.delete("dl", "orders", col("o_orderkey") % 7 === 0) // Delta v2: CoW
      graft.lake.DeltaExport.export(s, cat, "dl", "orders", changeDataFeed = true)
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(cat.root), "dl"), "orders").toString
      graft.lake.DeltaImport.readChangeFeed(s, loc, 0L, 2L)
        .groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("_commit_version", "_change_type")
    },
    Some(s"""SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'insert', COUNT(*),
        CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE)
      FROM orders WHERE o_orderkey % 2 = 1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'delete', COUNT(*),
        CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE)
      FROM orders WHERE o_orderkey % 7 = 0
    ) ORDER BY _commit_version, _change_type""")
  )

  /** B36/B37 (r11): DELTA LAKE adoption round-trip — the other open table
    * format's public protocol (delta-io/delta PROTOCOL.md), no Delta jar.
    * A PARTITIONED two-commit table takes a CoW DELETE (so the lineage
    * holds adds AND remove tombstones), its full history is exported as a
    * `_delta_log` (`lake.DeltaExport`), a CHECKPOINT parquet is cut
    * mid-lineage, and the table is read back EXCLUSIVELY through
    * `lake.DeltaImport`: the CURRENT read seeds from the checkpoint and
    * replays only the JSON tail (the spec's log-compaction economics —
    * remove tombstones from the post-checkpoint commit must still apply),
    * while the TIME-TRAVEL read of Delta version 0 replays JSON from
    * scratch below the checkpoint. Partition values reattach from
    * `add.partitionValues` (per the spec they exist nowhere else), and
    * everything is cast per `schemaString`. One hash covers export
    * fidelity, checkpoint+tail replay, tombstone semantics, version time
    * travel, and partition reattachment.
    */
  val lakeDeltaExport: Q = Q(
    "lake_delta_export",
    (s, dir) => {
      val t = Tables(s, dir)
      val cat = LakeCatalog(s, scratch("delta"))
      val orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      cat.write("dl", "orders", orders.filter(col("o_orderkey") % 2 === 0),
        partitionBy = Seq("o_orderstatus")) // Delta v0
      cat.write("dl", "orders", orders.filter(col("o_orderkey") % 2 === 1),
        SaveMode.Append, partitionBy = Seq("o_orderstatus")) // Delta v1
      cat.delete("dl", "orders", col("o_orderkey") % 7 === 0) // Delta v2: removes+adds
      val exp = graft.lake.DeltaExport.export(s, cat, "dl", "orders")
      graft.lake.DeltaExport.checkpoint(s, exp.logDir, 1L)
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(cat.root), "dl"), "orders").toString
      val now = graft.lake.DeltaImport.read(s, loc) // checkpoint seed + JSON tail
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_now"), dsum(col("o_totalprice")).as("total_now"))
      val v0 = graft.lake.DeltaImport.read(s, loc, Some(0L)) // below the checkpoint
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_v0"))
      now.join(v0, "o_orderstatus").orderBy("o_orderstatus")
    },
    Some(s"""SELECT n.o_orderstatus, n.n_now, n.total_now, v.n_v0
    FROM (SELECT o_orderstatus, COUNT(*) AS n_now,
            CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total_now
          FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY o_orderstatus) n
    JOIN (SELECT o_orderstatus, COUNT(*) AS n_v0
          FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus) v
    USING (o_orderstatus)
    ORDER BY o_orderstatus""")
  )

  /** B31-nested (r8): NESTED types end-to-end through the lake + Iceberg
    * export — a struct column and an array column built from lineitem are
    * written as two lake commits, exported (exercising the recursive
    * field-id assignment and name-mapping on a live table, not just in
    * spec), and read back STRICTLY from the exported Avro manifests. The
    * result flattens the struct fields and folds the array so the oracle
    * recomputes every value from the flat table — a mangled struct field,
    * a reordered/lost array element, or a data file missing from the
    * exported manifests each breaks a different column.
    */
  val lakeExportNested: Q = Q(
    "lake_export_nested",
    (s, dir) => {
      val t = Tables(s, dir)
      val src = t.lineitem.filter(col("l_orderkey") % 50 === 0)
        .groupBy("l_orderkey")
        .agg(
          sort_array(collect_list(col("l_linenumber").cast("int"))).as("lines"),
          struct(
            count(lit(1)).cast("long").as("n_lines"),
            max(col("l_quantity").cast("int")).as("max_qty")).as("info"))
      val cat = LakeCatalog(s, scratch("ice_nested"))
      cat.write("ice", "nested", src.filter(col("l_orderkey") % 100 === 0))
      cat.write("ice", "nested", src.filter(col("l_orderkey") % 100 =!= 0),
        SaveMode.Append)
      val exp = graft.lake.IcebergExport.export(s, cat, "ice", "nested")
      val (dataFiles, _) = exportedFileSets(s, exp)
      s.read.parquet(dataFiles.map(_._1): _*)
        .select(col("l_orderkey").as("orderkey"),
          col("info.n_lines").as("n_lines"),
          col("info.max_qty").as("max_qty"),
          aggregate(col("lines"), lit(0L), (a, x) => a + x).as("line_sum"))
        .orderBy("orderkey")
    },
    Some("""SELECT l_orderkey AS orderkey,
      COUNT(*) AS n_lines,
      MAX(CAST(l_quantity AS INT)) AS max_qty,
      CAST(SUM(l_linenumber) AS BIGINT) AS line_sum
    FROM lineitem WHERE l_orderkey % 50 = 0
    GROUP BY l_orderkey ORDER BY orderkey""")
  )

  /** The reference's HEADLINE benchmark width/size (README.md:449-455:
    * ~50K rows, "tested with 4,450+ columns", ~15 s single-node).
    */
  val WideRows = 50000L
  val WideCols = 4450

  /** The deterministic messy-headed wide frame — v(i,j) = (i+j) % 97
    * under header `Col %04d (wide)`: the DECLARATIVE definition of the
    * wide test corpus. The benched/probed paths write the same bytes via
    * [[writeWideCsv]] (no wide-projection codegen); IngestWideSpec pins
    * the two against each other, and the ingest_wide_schema oracle hashes
    * the md5 of the sanitized name list, so a drifted copy would silently
    * decouple the probe from the benched shape.
    */
  def wideFrame(s: org.apache.spark.sql.SparkSession, rows: Long,
      cols: Int): org.apache.spark.sql.DataFrame =
    s.range(rows).select(
      (0 until cols).map(j => ((col("id") + lit(j)) % 97).cast("int")
        .as(f"Col $j%04d (wide)")): _*)

  /** Writes the wide test CSV directly as text lines (header first in
    * every part file, the per-file contract `header=true` reads expect).
    *
    * Exists because generating the same bytes through [[wideFrame]]'s
    * 4,450-expression projection + the CSV writer spends ~30 s in ONE
    * thread compiling and running the generated projection class — the
    * test-DATA generation dominated the benched query 3:1 over the
    * ingest it exists to measure (r9, 43.6 s total vs the 13.4 s
    * ingest-only probe). A per-partition StringBuilder emits the
    * identical bytes with no wide codegen at all and parallelizes
    * across the range's partitions.
    */
  def writeWideCsv(s: org.apache.spark.sql.SparkSession, rows: Long,
      cols: Int, dir: String): Unit = {
    import s.implicits._
    val header = (0 until cols).map(j => f"Col $j%04d (wide)").mkString(",")
    s.range(rows).mapPartitions { it =>
      val sb = new java.lang.StringBuilder(cols * 3 + 16)
      Iterator.single(header) ++ it.map { i =>
        val iv = i.longValue
        sb.setLength(0)
        var j = 0
        while (j < cols) {
          if (j > 0) sb.append(',')
          sb.append(((iv + j) % 97).toInt)
          j += 1
        }
        sb.toString
      }
    }.write.mode(SaveMode.Overwrite).text(dir)
  }

  /** The wide test CSV corpus, built ONCE per scratch root and reused
    * across invocations (r17, VERDICT r16 #1) — the [[BenchCanary]]
    * treatment applied to the entry's INPUT: the corpus is a
    * deterministic synthetic dataset (v(i,j) = (i+j) % 97, not derived
    * from the benchmark tables), and re-generating its ~650 MB of CSV
    * text inside the timed region both charged corpus construction to
    * the ingest (0.7–8.5 s, run-history-dependent) and left 650 MB of
    * dirty pages for the entry's OWN parquet write to stall behind —
    * the largest single variance source in the bench (committed stamps
    * 8.6–38 s on identical code). The ingest itself (CSV read →
    * inference → sanitization → observed lake write → read-back) is
    * unchanged and still computes from the CSV bytes every invocation.
    */
  private def wideCsvCorpus(s: org.apache.spark.sql.SparkSession): String = {
    val p = localScratchRoot.resolve("wide_csv_v1").resolve(s"${WideRows}x$WideCols")
    if (!Files.exists(p.resolve("_SUCCESS")))
      writeWideCsv(s, WideRows, WideCols, p.toString)
    p.toString
  }

  /** A2/A7/B-width canary (r8): the reference's published benchmark shape
    * end-to-end — safe CSV read of the [[WideRows]]×[[WideCols]]
    * messy-headed corpus (schema inference, malformed-row quarantine,
    * maxColumns) → name sanitization over all 4,450 headers → lake write
    * (footer-stats sidecars for every column) → lake read-back. The
    * result is a one-row accounting the oracle re-derives from first
    * principles: row count, data-column count, the global cell sum of the
    * deterministic generator v(i,j) = (i+j) % 97, and the md5 of the
    * ','-joined sanitized name list — a lost row, a dropped or mangled
    * column, and a mis-sanitized header each break a different column.
    */
  val ingestWideSchema: Q = Q(
    "ingest_wide_schema",
    (s, dir) => {
      val root = scratch("wide")
      val csvDir = wideCsvCorpus(s)
      // sanitization happens at the SCHEMA level, fused into the scan —
      // the wide-table discipline (a post-read rename Project at this
      // width costs tens of seconds of projection codegen alone) — and
      // inference is SAMPLE-BOUNDED (first 1,000 data rows): full-scan
      // inference re-parses all 222M cells just to learn 4,450 ints, the
      // single largest cost of the r9 entry. The oracle still checks the
      // full cell sum, so a type the sample got wrong (rows quarantined
      // to the corrupt column) would hash-mismatch loudly.
      // multiLine=false: the wide dialect has no embedded newlines, and
      // whole-file stream parsing is the 5x cell-conversion tax the
      // reference's own reader (Spark default) never pays.
      // quarantine=false (r17): the entry never inspects quarantined rows
      // — DROPMALFORMED removes the same malformed-row set without
      // materializing the corrupt column through the 4,450-wide pipeline
      // (width-probed: parse+write 8.8 s -> 4.8 s; row-set equivalence is
      // spec-pinned in IngestSpec).
      val clean = MFR.readCsvSanitized(s, csvDir, inferRows = 1000,
        multiLine = false, quarantine = false)
      // ONE data pass: the row-count and full-cell-sum verification ride
      // the write scan via observe()/CollectMetrics instead of a second
      // full read of the 4,450-column table (the r10 entry's 18.9s
      // re-scan). graft_row_sum is the codegen'd reduction — the
      // `aggregate(array(...))` spelling is CodegenFallback and costs
      // 17-20s of interpreted lambda per pass.
      val rowSum = call_function("graft_row_sum",
        clean.columns.toIndexedSeq.map(col): _*)
      val obs = new org.apache.spark.sql.Observation("wide_ingest")
      val cat = LakeCatalog(s, root + "/lake")
      cat.write("wide", "t",
        clean.observe(obs, count(lit(1)).as("n_rows"), sum(rowSum).as("total_sum")))
      // metadata-only from here: the read-back proves the committed
      // schema round-trips (names/arity/types); cell-level read fidelity
      // of the same parquet path is pinned by every lake_* oracle
      val dataCols = cat.read("wide", "t").columns
      val m = obs.get
      s.range(1).select(
        lit(m("n_rows").asInstanceOf[Long]).as("n_rows"),
        lit(dataCols.length).cast("long").as("n_cols"),
        lit(m("total_sum").asInstanceOf[Long]).as("total_sum"),
        md5(lit(dataCols.mkString(","))).as("names_md5"))
    },
    Some(s"""SELECT
      CAST((SELECT COUNT(*) FROM range($WideRows)) AS BIGINT) AS n_rows,
      CAST((SELECT COUNT(*) FROM range($WideCols)) AS BIGINT) AS n_cols,
      CAST((SELECT SUM((i.range + j.range) % 97)
            FROM range($WideRows) i CROSS JOIN range($WideCols) j) AS BIGINT)
        AS total_sum,
      (SELECT md5(string_agg(printf('Col_%04d_wide', CAST(j.range AS INT)), ',' ORDER BY j.range))
       FROM range($WideCols) j) AS names_md5""")
  )

  /** The SQL-façade scenario: CTAS + the reference's literal MERGE into
    * `graft.sqlq.orders` under a fresh scratch warehouse, which is returned.
    */
  private def sqlSurfaceScenario(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val warehouse = scratch("sqlsurface")
    val prev = s.conf.getOption(graft.sql.GraftSqlParser.RootConf)
    s.conf.set(graft.sql.GraftSqlParser.RootConf, warehouse)
    try {
      val t = Tables(s, dir)
      t.orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("id"), col("o_totalprice"))
        .createOrReplaceTempView("sql_base")
      s.sql("CREATE TABLE graft.sqlq.orders USING iceberg AS SELECT * FROM sql_base")
        .collect()
      t.orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("id"),
          (col("o_totalprice") + lit(1000)).as("o_totalprice"))
        .createOrReplaceTempView("sql_delta")
      // the reference's LITERAL emitted MERGE (merge_utils.py:74-80):
      // aliases, qualified backticked ON, both WHEN clauses
      s.sql("""MERGE INTO graft.sqlq.orders t
        USING sql_delta s
        ON t.`id` = s.`id`
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""").collect()
    } finally prev.fold(s.conf.unset(graft.sql.GraftSqlParser.RootConf))(
      s.conf.set(graft.sql.GraftSqlParser.RootConf, _))
    warehouse
  }

  /** The SQL FAÇADE end to end (SURVEY §2 B42; VERDICT r12 #9, r13 #1):
    * CTAS in the reference's `USING iceberg AS` spelling, the reference's
    * LITERAL aliased MERGE with WHEN clauses (merge_utils.py:74-80), and
    * a time-travel self-join — all through `spark.sql` against
    * `graft.<ns>.<table>` names (graft.sql.GraftSqlParser). The scenario
    * is lake_merge_upsert's (base = even orders, corrections = multiples
    * of 3), so the oracle replays the same merge semantics and then diffs
    * the two versions the way the SQL statement does.
    */
  val lakeSqlSurface: Q = Q(
    "lake_sql_surface",
    (s, dir) => {
      val root = sqlSurfaceScenario(s, dir)
      val prev = s.conf.getOption(graft.sql.GraftSqlParser.RootConf)
      s.conf.set(graft.sql.GraftSqlParser.RootConf, root)
      try {
        s.sql("""SELECT cur.id, cur.o_totalprice, old.o_totalprice AS before_price
          FROM graft.sqlq.orders cur
          JOIN graft.sqlq.orders VERSION AS OF 1 old ON cur.id = old.id
          ORDER BY cur.id""")
      } finally prev.fold(s.conf.unset(graft.sql.GraftSqlParser.RootConf))(
        s.conf.set(graft.sql.GraftSqlParser.RootConf, _))
    },
    Some("""WITH base AS (
      SELECT o_orderkey AS id, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    updates AS (
      SELECT o_orderkey AS id, o_totalprice + 1000 AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT id, o_totalprice FROM updates
      UNION ALL
      SELECT id, o_totalprice FROM base WHERE id NOT IN (SELECT id FROM updates))
    SELECT m.id, m.o_totalprice, b.o_totalprice AS before_price
    FROM merged m JOIN base b ON m.id = b.id
    ORDER BY m.id""")
  )

  /** B46 (r16, VERDICT r15 #5): SQL SCHEMA EVOLUTION — `ALTER TABLE
    * graft.ns.t ADD COLUMN` through the v2 catalog, landing as a
    * METADATA-ONLY `col/` manifest declaration (no data IO; prior
    * snapshots keep the pre-evolution schema). Commit 1 writes two
    * columns; the ALTER declares `priority`; commit 2 appends rows that
    * CARRY it. The final read must null-fill the pre-evolution rows and
    * surface the post-evolution values — a declaration that leaked into
    * old snapshots, dropped under the append, or shadowed the real data
    * each hash-mismatch the oracle.
    */
  val lakeAddColumn: Q = Q(
    "lake_add_column",
    (s, dir) => {
      val orders = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val root = java.nio.file.Files.createTempDirectory("graft_altab_")
      val prev = s.conf.getOption(graft.sql.GraftSqlParser.RootConf)
      s.conf.set(graft.sql.GraftSqlParser.RootConf, root.toString)
      try {
        val cat = graft.lake.LakeCatalog(s, root.toString)
        cat.write("al", "t", orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice"))
        // the metadata-only verb (v2 catalog alterTable -> col/ entry)
        s.sql("ALTER TABLE graft.al.t ADD COLUMN priority STRING").collect()
        // post-evolution data carries the column; pre-evolution commits
        // are never rewritten
        cat.write("al", "t", orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority").as("priority")),
          org.apache.spark.sql.SaveMode.Append)
        s.sql("""SELECT o_orderkey, o_totalprice, priority
          FROM graft.al.t ORDER BY o_orderkey""")
          .localCheckpoint(true)
      } finally {
        prev.fold(s.conf.unset(graft.sql.GraftSqlParser.RootConf))(
          s.conf.set(graft.sql.GraftSqlParser.RootConf, _))
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
    },
    Some("""SELECT o_orderkey, o_totalprice, NULL AS priority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 2 = 1
      ORDER BY o_orderkey""")
  )

  val all: Seq[Q] = Seq(
    ingestCsvRoundtrip, ingestJsonRoundtrip, ingestParquet, ingestTextLines,
    ingestOrcRoundtrip, ingestXmlRoundtrip, ingestSchemaEvolution, ingestJsonProps,
    lakeCtas, lakeMergeUpsert, lakeChangelog, lakeDataProfile,
    lakeScd2, lakeDelete, lakeUpdate, lakeIncrementalRead, lakeConstraints, lakeDataSkipping,
    lakeZorder, lakeMaintenance, lakePointLookup, lakeMvRefresh, lakeWap,
    lakeDeleteMor, lakeCdcApply, lakeIcebergExport, lakeIcebergImport, ingestDocxReal,
    ingestJdbcRoundtrip, lakeTimeTravel, lakeExpiry, lakeTags, ingestWideSchema,
    lakeExportNested, lakeWriteModes, ingestAvroRoundtrip, lakeDeltaExport,
    ingestXlsxReal, lakeDeltaDv, lakeBranches, lakeIcebergEqDelete, lakeDeltaCdf,
    lakeTxnAppend, lakeSqlSurface, lakeAddColumn)
}
