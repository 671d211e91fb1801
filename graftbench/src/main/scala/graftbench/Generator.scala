package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The seeded input generator. It reads only the sf0.1 test data, writes the
  * files the program under test receives, and keeps a model of everything it
  * planted (corrupt rows, unreadable files, key overlap, recent-key skew,
  * duplicate groups, low-quality docs) for the output checkers. The same
  * seed always yields the same files and the same model.
  *
  * Reading uses plain Spark, never graft: the program sees only the
  * generated files.
  */
final class Generator(spark: SparkSession, sfDir: String, seed: Long) {
  import Generator._

  private def rng(stream: Long, n: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + n)

  private def collect(table: String, exprs: String*)(limit: Int): Array[Row] =
    spark.read.parquet(s"$sfDir/$table.parquet").selectExpr(exprs: _*).limit(limit).collect()

  private lazy val customers = collect("customer", "c_name", "c_nationkey", "c_acctbal",
    "c_mktsegment")(Int.MaxValue)
  private lazy val orders = collect("orders", "o_custkey", "o_orderstatus", "o_totalprice",
    "cast(to_date(o_orderdate) as string)", "o_orderpriority")(30000)
  private lazy val parts = collect("part", "p_name", "p_brand", "p_type", "p_size",
    "p_retailprice")(Int.MaxValue)
  private lazy val suppliers = collect("supplier", "s_name", "s_nationkey", "s_acctbal")(Int.MaxValue)
  private lazy val lineitems = collect("lineitem", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax")(20000)
  private lazy val events = collect("events", "user_id", "event_type", "value")(20000)
  private lazy val documents = collect("documents", "text")(Int.MaxValue).map(_.getString(0))

  /** Touch every base table once (part of set-up). */
  def load(): Unit = {
    Seq(customers, orders, parts, suppliers, lineitems, events).foreach(_.length)
    documents.length
    ()
  }

  // ===== ingest_pipeline ==================================================

  /** Write round `round`'s batch into `dir`, replacing the previous round's
    * files under the same names, and advance `model` to the state the lake
    * must be in once the batch is merged.
    */
  def ingestRound(dir: Path, round: Int, model: IngestModel): Unit = {
    val r = rng(1, round)
    // keys come from a fixed universe twice the batch size: each round
    // overlaps the keys merged before by a seeded share, and the tables stop
    // growing once the universe is covered, so later rounds do alike work
    def keys(table: String, n: Int): Array[Long] = {
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < n) picked += 1L + r.nextInt(2 * n)
      model.keys.getOrElseUpdate(table, mutable.LinkedHashSet[Long]()) ++= picked
      picked.toArray
    }
    Files.createDirectories(dir)
    Seq("json", "csv", "parquet", "orc", "xml", "docx").foreach(d => Files.createDirectories(dir.resolve(d)))
    var wellFormed = 0L

    // multi-line JSON document, keyed by `id`
    val cust = keys("json_customers", IngestSizes.customers)
    val custJson = cust.map { k =>
      val c = customers((k % customers.length).toInt)
      s"""  {
         |    "id": $k,
         |    "name": ${Json.str(c.getString(0))},
         |    "nation": ${c.getInt(1)},
         |    "acctbal": ${c.getDouble(2) + round},
         |    "segment": ${Json.str(c.getString(3))}
         |  }""".stripMargin
    }
    write(dir.resolve("json/customers.json"), custJson.mkString("[\n", ",\n", "\n]\n"))
    wellFormed += cust.length

    // a multi-line JSON document with one malformed record: Spark parses a
    // multi-line document as a whole, so the entire file is unreadable
    val badEvents = (0 until 40).map { i =>
      if (i == 17) s"""  {"event_ref": $i, "etype": }"""
      else s"""  {"event_ref": $i, "etype": "click"}"""
    }
    write(dir.resolve("json/bad_events.json"), badEvents.mkString("[\n", ",\n", "\n]\n"))

    // keyless CSV with ragged rows (short and long) that must be quarantined
    val ord = (0 until IngestSizes.orders).map(_ => 1L + r.nextInt(orders.length))
    val ordCsv = new StringBuilder("order_ref,cust,status,total,odate,prio\n")
    ord.zipWithIndex.foreach { case (k, i) =>
      val o = orders((k % orders.length).toInt)
      ordCsv ++= s"$k,${o.getLong(0)},${o.getString(1)},${o.getDouble(2) + round}," +
        s"${o.getString(3)},${o.getString(4)}\n"
      if (i % 20 == 7) ordCsv ++= s"${k + 500000000L},${o.getLong(0)},X\n"
      if (i % 20 == 13) ordCsv ++= s"${k + 600000000L},1,X,1.0,2020-01-01,P,extra\n"
    }
    write(dir.resolve("csv/orders.csv"), ordCsv.toString)
    wellFormed += ord.length

    // a keyless CSV a few hundred columns wide
    val wide = new StringBuilder((1 to IngestSizes.wideCols).map(c => f"m$c%03d").mkString(",") + "\n")
    (0 until IngestSizes.wideRows).foreach { i =>
      val l = lineitems(r.nextInt(lineitems.length))
      wide ++= (1 to IngestSizes.wideCols).map(c => l.getDouble(c % 4) * c + i).mkString(",") + "\n"
    }
    write(dir.resolve("csv/wide_metrics.csv"), wide.toString)
    wellFormed += IngestSizes.wideRows

    // parquet keyed by `sku`, ORC keyed by `code`
    val sku = keys("parquet_parts", IngestSizes.parts)
    writeSingleFile("parquet", dir.resolve("parquet/parts.parquet"),
      StructType(Seq(StructField("sku", LongType), StructField("name", StringType),
        StructField("brand", StringType), StructField("ptype", StringType),
        StructField("size", IntegerType), StructField("price", DoubleType))),
      sku.toSeq.map { k =>
        val p = parts((k % parts.length).toInt)
        Row(k, p.getString(0), p.getString(1), p.getString(2), p.getInt(3), p.getDouble(4) + round)
      })
    wellFormed += sku.length
    val code = keys("orc_suppliers", IngestSizes.suppliers)
    writeSingleFile("orc", dir.resolve("orc/suppliers.orc"),
      StructType(Seq(StructField("code", LongType), StructField("name", StringType),
        StructField("nation", IntegerType), StructField("acctbal", DoubleType))),
      code.toSeq.map { k =>
        val s = suppliers((k % suppliers.length).toInt)
        Row(k, s.getString(0), s.getInt(1), s.getDouble(2) + round)
      })
    wellFormed += code.length

    // a wholly unreadable file
    val junk = new Array[Byte](4096)
    r.nextBytes(junk)
    Files.write(dir.resolve("parquet/corrupt.parquet"), junk)

    // keyless XML and TXT
    val xml = new StringBuilder("<rows>\n")
    (0 until IngestSizes.events).foreach { i =>
      val e = events(r.nextInt(events.length))
      xml ++= s"  <row><event_ref>$i</event_ref><user_ref>${e.getLong(0)}</user_ref>" +
        s"<etype>${e.getString(1)}</etype><amount>${e.getDouble(2)}</amount></row>\n"
    }
    xml ++= "</rows>\n"
    write(dir.resolve("xml/events.xml"), xml.toString)
    wellFormed += IngestSizes.events
    val notes = (0 until IngestSizes.notes).map(_ => documents(r.nextInt(documents.length)))
    write(dir.resolve("docx/notes.txt"), notes.mkString("", "\n", "\n"))
    wellFormed += IngestSizes.notes

    model.keyless("csv_orders") = IngestSizes.orders
    model.keyless("csv_wide_metrics") = IngestSizes.wideRows
    model.keyless("xml_events") = IngestSizes.events
    model.keyless("text_notes") = IngestSizes.notes
    model.badFiles = Set("json/bad_events.json", "parquet/corrupt.parquet")
    model.allFiles = Set("json/customers.json", "json/bad_events.json", "csv/orders.csv",
      "csv/wide_metrics.csv", "parquet/parts.parquet", "parquet/corrupt.parquet",
      "orc/suppliers.orc", "xml/events.xml", "docx/notes.txt")
    model.wellFormedRows = wellFormed
    model.inputBytes = model.allFiles.toSeq.map(f => Files.size(dir.resolve(f))).sum
  }

  // ===== lake_cdc_serve ===================================================

  /** The initial keyed table, as `commits` append batches in key order. */
  def cdcHistory(model: CdcModel, commits: Int, rowsPerCommit: Int): Seq[Seq[Row]] =
    (0 until commits).map { _ =>
      (0 until rowsPerCommit).map { _ =>
        model.nextKey += 1
        val row = orderRow(model.nextKey, 0)
        model.rows(model.nextKey) = row
        row
      }
    }

  private def orderRow(k: Long, version: Int): Row = {
    val o = orders((k % orders.length).toInt)
    Row(k, o.getLong(0), o.getString(1),
      math.round(o.getDouble(2) * 100) + version,
      o.getString(3), o.getString(4))
  }

  /** One CDC delta: mostly inserts of new keys, plus updates and tombstones
    * skewed towards the most recent keys. Returns the delta rows (schema
    * [[CdcDeltaSchema]]); the model is advanced to the post-landing state.
    */
  def cdcDelta(model: CdcModel, round: Int): Seq[Row] = {
    val r = rng(2, round)
    val live = model.rows.keysIterator.toArray.sorted
    def recent(): Long = {
      // exponential skew towards the newest keys, within the last two
      // deltas' inserts: a rewrite never reaches back into the commit the
      // previous rewrite made, so commit sizes stay bounded
      val back = (-math.log(1 - r.nextDouble()) * CdcSizes.recentScale).toInt % (2 * CdcSizes.inserts)
      live(math.max(0, live.length - 1 - back))
    }
    // insert-heavy: one delta in three also updates and deletes, so data
    // dirs keep accumulating as on an append-mostly CDC table
    val changes = round % 3 == 1
    val touched = mutable.LinkedHashSet[Long]()
    while (changes && touched.size < CdcSizes.updates + CdcSizes.deletes) touched += recent()
    val (upd, del) = touched.toSeq.splitAt(CdcSizes.updates)
    // every delta carries the same number of rows
    val inserts = CdcSizes.inserts + (if (changes) 0 else CdcSizes.updates + CdcSizes.deletes)
    val ins = (0 until inserts).map { _ => model.nextKey += 1; model.nextKey }
    def lsn(): Long = { model.lsn += 1; model.lsn }
    val rows = (ins ++ upd).map { k =>
      val row = orderRow(k, round + 1)
      model.rows(k) = row
      Row.fromSeq(row.toSeq ++ Seq("upsert", lsn()))
    } ++ del.map { k =>
      model.rows.remove(k)
      Row(k, 0L, "", 0L, "", "", "delete", lsn())
    }
    rows
  }

  // ===== curate_corpus ====================================================

  /** The corpus: sf0.1 documents multiplied to `docs` rows, with planted
    * exact duplicates, near-duplicates, low-quality and non-English docs.
    */
  def corpus(model: CurateModel, docs: Int): Seq[Row] = {
    val r = rng(3, 0)
    val vocab = documents.iterator.flatMap(_.split("\\s+")).toSet.toArray.sorted
    val out = mutable.ArrayBuffer[Row]()
    def add(text: String): Long = { val id = out.size.toLong; out += Row(id, text); id }
    val planted = docs / 25
    val base = docs - 4 * planted
    val originals = (0 until base).map { i =>
      val words = documents(i % documents.length).split("\\s+")
      val text =
        if (i < documents.length) words.mkString(" ")
        else words.map(w => if (r.nextDouble() < 0.4) vocab(r.nextInt(vocab.length)) else w)
          .mkString(" ") + s" w${i / documents.length}"
      add(text) -> text
    }
    // exact duplicates: case and whitespace noise only
    (0 until planted).foreach { _ =>
      val (id, text) = originals(r.nextInt(originals.length))
      val dup = add("  " + text.toUpperCase.replace(" ", "   ") + " ")
      model.exactDups += dup
    }
    // near duplicates: one word replaced
    (0 until planted).foreach { _ =>
      val (id, text) = originals(r.nextInt(originals.length))
      val words = text.split(" ")
      words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length)) + "x"
      model.nearPairs += id -> add(words.mkString(" "))
    }
    // low quality: digits and punctuation
    (0 until planted).foreach { _ =>
      val n = 10 + r.nextInt(30)
      model.lowQuality += add((0 until n).map(_ =>
        if (r.nextBoolean()) r.nextInt(100000).toString else "!?#%&*".substring(r.nextInt(5))).mkString(" "))
    }
    // non-English: German function words around a few vocabulary words
    val de = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf")
    (0 until planted).foreach { _ =>
      val n = 20 + r.nextInt(30)
      model.nonEnglish += add((0 until n).map(i =>
        if (i % 3 == 2) vocab(r.nextInt(vocab.length)) else de(r.nextInt(de.length))).mkString(" "))
    }
    model.docs = out.size
    out.toSeq
  }

  // ===== file helpers =====================================================

  private def write(p: Path, s: String): Unit = {
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    Files.write(tmp, s.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Write `rows` as ONE file of `format` at `target`. */
  def writeSingleFile(format: String, target: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val tmp = target.resolveSibling("." + target.getFileName + ".d")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
      .format(format).save(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(f => f.getFileName.toString.startsWith("part-")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    Dirs.delete(tmp)
  }
}

object Generator {
  /** the only data the generator reads */
  val SfDir = "/root/testdata/sf0.1"

  val CdcSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("cust", LongType),
    StructField("status", StringType), StructField("cents", LongType),
    StructField("odate", StringType), StructField("prio", StringType)))

  val CdcDeltaSchema: StructType = StructType(CdcSchema.fields ++ Seq(
    StructField("_op", StringType), StructField("lsn", LongType)))

  /** Standalone use: `Generator --workload <name> --seed <n> --out <dir>`
    * writes one workload's first inputs and prints the planted model's
    * summary.
    */
  def main(args: Array[String]): Unit = {
    val f = Main.flags(args)
    require(Seq("workload", "seed", "out").forall(f.contains),
      "usage: Generator --workload <ingest_pipeline|lake_cdc_serve|curate_corpus> --seed <n> --out <dir>")
    val out = Paths.get(f("out")).toAbsolutePath
    val spark = Session.start(out.resolve("spark"))
    try {
      val g = new Generator(spark, SfDir, f("seed").toLong)
      f("workload") match {
        case "ingest_pipeline" =>
          val m = new IngestModel
          g.ingestRound(out.resolve("in"), 0, m)
          println(s"well-formed rows ${m.wellFormedRows}, bad files ${m.badFiles.mkString(",")}")
        case "lake_cdc_serve" =>
          val m = new CdcModel
          val h = g.cdcHistory(m, CdcSizes.commits, CdcSizes.rowsPerCommit).flatten
          val d = g.cdcDelta(m, 1)
          spark.createDataFrame(h.asJava, CdcSchema).write.mode("overwrite")
            .parquet(out.resolve("history").toString)
          g.writeSingleFile("parquet", out.resolve("delta-1.parquet"), CdcDeltaSchema, d)
          println(s"history rows ${h.size}, first delta ${d.size} rows")
        case "curate_corpus" =>
          val m = new CurateModel
          val docs = g.corpus(m, CurateSizes.docs)
          spark.createDataFrame(docs.asJava, CurateSchema).write.mode("overwrite")
            .parquet(out.resolve("corpus").toString)
          println(s"${m.docs} docs, planted: ${m.exactDups.size} exact, ${m.nearPairs.size} near, " +
            s"${m.lowQuality.size} low-quality, ${m.nonEnglish.size} non-English")
        case w => sys.error(s"unknown workload $w")
      }
    } finally spark.stop()
  }

  val CurateSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}

/** What the lake must hold after each ingest round. */
final class IngestModel {
  /** keyed table -> every key merged so far */
  val keys = mutable.Map[String, mutable.LinkedHashSet[Long]]()
  /** keyless table -> rows of the latest round (INSERT OVERWRITE) */
  val keyless = mutable.Map[String, Long]()
  var badFiles: Set[String] = Set.empty
  var allFiles: Set[String] = Set.empty
  var wellFormedRows: Long = 0L
  var inputBytes: Long = 0L

  def tables: Seq[String] = (keys.keys ++ keyless.keys).toSeq.sorted
  def expectedRows(t: String): Long = keys.get(t).map(_.size.toLong).getOrElse(keyless(t))
}

/** The live rows of the CDC table, and its row count at every version. */
final class CdcModel {
  val rows = mutable.HashMap[Long, Row]()
  var nextKey: Long = 0L
  var lsn: Long = 0L
  val countAt = mutable.Map[Int, Long]()
}

/** What the curation run must remove. */
final class CurateModel {
  var docs: Int = 0
  val exactDups = mutable.Set[Long]()
  val nearPairs = mutable.ArrayBuffer[(Long, Long)]()
  val lowQuality = mutable.Set[Long]()
  val nonEnglish = mutable.Set[Long]()
}

object IngestSizes {
  val customers = 400
  val orders = 600
  val wideCols = 300
  val wideRows = 80
  val parts = 400
  val suppliers = 300
  val events = 400
  val notes = 300
}

object CdcSizes {
  /** initial commits: past Spark's 32-root-path parallel-listing threshold */
  val commits = 34
  val rowsPerCommit = 300
  val inserts = 300
  val updates = 60
  val deletes = 30
  val recentScale = 150.0
}

object CurateSizes {
  val docs = 10000
}

/** Directory helpers for the benchmark's own bookkeeping. */
object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** bytes of every regular file under `p` */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
