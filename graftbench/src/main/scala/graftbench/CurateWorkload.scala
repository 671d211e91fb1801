package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.LakeCatalog
import graft.operators.{BpeTokenizer, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `curate_corpus`: the CPU- and shuffle-bound training-data path. Set-up
  * writes a seeded corpus and trains and saves a BPE model. Each round is one
  * curation pass, a sequence of public calls that each end in their own
  * action: quality and language scoring with a filter, exact dedup by
  * fingerprint, MinHash near-duplicate pairs, duplicate clusters and their
  * survivors, BPE encoding, and one lake write.
  */
final class CurateWorkload(spark: SparkSession, sf: String, seed: Long) extends Workload {
  private val ns = "curate"
  /** estimated-Jaccard threshold for near duplicates */
  private val Threshold = 0.7
  private var model: CurateModel = _
  private var corpusPath: String = _
  private var corpusBytes = 0L
  private var cat: LakeCatalog = _
  private var dir: Path = _
  private var ranks: Map[(String, String), Int] = _

  val warmupRounds = 0
  /** passes are long and the first one runs while the JIT and Spark's code
    * caches fill: measure at least three, so the median is a warm pass
    */
  override val roundsPerCycle = 3

  /** The corpus, written as parquet. */
  def generate(d: Path): Unit = {
    dir = d
    model = new CurateModel
    val rows = new Generator(spark, sf, seed).corpus(model, CurateSizes.docs)
    corpusPath = d.resolve("corpus").toString
    spark.createDataFrame(rows.asJava, Generator.CurateSchema).write.mode("overwrite")
      .parquet(corpusPath)
    corpusBytes = Dirs.bytes(d.resolve("corpus"))
  }

  /** The BPE model, trained on the corpus and saved to the lake. */
  def build(): Unit = {
    cat = LakeCatalog(spark, dir.resolve("lake").toString)
    val corpus = spark.read.parquet(corpusPath)
    BpeTokenizer.saveModel(cat, ns, "bpe_model", BpeTokenizer.trainOnCorpus(corpus, "doc_id", "text"))
    ranks = BpeTokenizer.loadModel(cat, ns, "bpe_model")
  }

  /** what one pass produced, for the checkers */
  final case class Output(survivors: Set[Long], hash: Long, pairs: Set[(Long, Long)])
  private val outputs = mutable.ArrayBuffer[Output]()
  private var candidates = 0L

  /** Checker: every planted exact duplicate, low-quality and non-English doc
    * is gone, and every pass over the same corpus yields the same output.
    */
  private def check(m: CurateModel, o: Output, first: Output): Seq[String] = {
    def gone(what: String, ids: collection.Set[Long]) = {
      val left = ids.filter(o.survivors.contains)
      if (left.isEmpty) None else Some(s"${left.size} planted $what docs survived, e.g. ${left.head}")
    }
    gone("exact-duplicate", m.exactDups).toSeq ++ gone("low-quality", m.lowQuality) ++
      gone("non-English", m.nonEnglish) ++
      (if (o.hash == first.hash && o.survivors == first.survivors) None
       else Some(s"output hash ${o.hash} differs from the first pass's ${first.hash}"))
  }

  def round(i: Int, p: Phase, tr: Tracer): Unit = {
    val pinned = mutable.ArrayBuffer[DataFrame]()
    /** persist and materialize: each step ends in its own action */
    def pin(df: DataFrame): DataFrame = { pinned += df.persist(); df.count(); df }
    val curated = dir.resolve("lake").resolve(ns).resolve("curated")
    val bytes0 = Dirs.bytes(curated)
    p.guarded(s"pass $i") {
      val cpu0 = Proc.cpuS
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(corpusPath)
      val kept = tr("operators", "quality") {
        val (lang, _) = TextAnalysis.langIdColumns(col("text"))
        val scored = docs.select(Seq(col("doc_id"), col("text"), lang.as("lang")) ++
          TextAnalysis.qualityColumns(col("text")): _*)
        pin(scored.filter(col("lang") === "en" && col("alpha_ratio") >= 0.6 &&
          col("n_tokens") >= 5).select("doc_id", "text"))
      }
      val exact = tr("operators", "exact_dedup") {
        val first = Window.partitionBy("fp").orderBy("doc_id")
        pin(kept.withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("rn", row_number().over(first)).filter(col("rn") === 1)
          .select("doc_id", "text"))
      }
      val pairs = tr("operators", "minhash_pairs") {
        pin(Dedup.nearDuplicatePairs(exact, "doc_id", "text", Threshold).select("a", "b"))
      }
      val survivors = tr("operators", "clusters") {
        val members = Dedup.duplicateClusters(pairs).filter(col("id") =!= col("cluster_id"))
        pin(exact.join(members, exact("doc_id") === members("id"), "left_anti"))
      }
      val hash = tr("operators", "encode") {
        BpeTokenizer.encodeCorpus(survivors, "doc_id", "text", ranks)
          .agg(bit_xor(xxhash64(col("id"), col("n_tokens")))).head().getLong(0)
      }
      tr("lake", "write") { cat.write(ns, "curated", survivors, SaveMode.Overwrite) }
      p.record((System.nanoTime() - t0) / 1e9, Proc.cpuS - cpu0, model.docs)
      p.inputBytes += corpusBytes
      if (tr.enabled && candidates == 0L)
        candidates = Dedup.candidatePairsFor(exact, "doc_id", "text").count()
      val out = Output(survivors.select("doc_id").collect().map(_.getLong(0)).toSet, hash,
        pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      pinned.foreach(_.unpersist())
      outputs += out
      check(model, out, outputs.head)
    }
    p.lakeBytes += Dirs.bytes(curated) - bytes0
  }

  def workloadFigures(p: Phase): Map[String, Double] = Map(
    "curate.docs_per_s" -> p.rowsPerS,
    "curate.cpu_s_per_kdoc" -> p.cpuPerKrow)

  def layerMetrics(p: Phase, tr: Tracer): Map[String, Double] = {
    val passes = p.roundS.size.max(1)
    def perPass(name: String) = tr.spans.filter(_.name == name).map(_.durS).sum / passes
    val last = outputs.last
    val planted = model.nearPairs.map { case (a, b) => (a min b, a max b) }
    Map(
      "operators.quality_s" -> perPass("quality"),
      "operators.exact_dedup_s" -> perPass("exact_dedup"),
      "operators.minhash_pairs_s" -> perPass("minhash_pairs"),
      "operators.clusters_s" -> perPass("clusters"),
      "operators.encode_s" -> perPass("encode"),
      "operators.candidate_pairs" -> candidates.toDouble,
      "operators.lsh_precision" -> (if (candidates == 0) 0.0 else last.pairs.size.toDouble / candidates),
      "operators.planted_recall" -> planted.count(last.pairs.contains).toDouble / planted.size.max(1),
      "lake.write_s" -> perPass("write"),
      "lake.bytes_written" -> p.lakeBytes.toDouble / passes
    ) ++ Layers.selfTimes(tr, passes)
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val o = outputs.last
    val survivor = o.survivors.head
    def withPlanted(f: CurateModel => Unit): CurateModel = {
      val w = new CurateModel
      w.exactDups ++= model.exactDups
      w.lowQuality ++= model.lowQuality
      w.nonEnglish ++= model.nonEnglish
      f(w)
      w
    }
    Seq(
      "curate.accepts_true_model" -> check(model, o, outputs.head).isEmpty,
      "curate.rejects_survivor_as_exact_dup" ->
        check(withPlanted(_.exactDups += survivor), o, outputs.head).nonEmpty,
      "curate.rejects_survivor_as_low_quality" ->
        check(withPlanted(_.lowQuality += survivor), o, outputs.head).nonEmpty,
      "curate.rejects_different_output_hash" ->
        check(model, o, o.copy(hash = o.hash + 1)).nonEmpty)
  }
}
