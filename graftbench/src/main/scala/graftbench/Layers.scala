package graftbench

/** The per-layer metric catalogue (every traced run prints all of them; a
  * metric a workload does not exercise reads 0) and the span aggregations
  * the workloads share.
  */
object Layers {
  /** the graft layers spans are recorded for */
  val layers: Seq[String] = Seq("pipeline", "sources", "lake", "streaming", "sql", "operators")

  /** snapshot data-dir buckets of the commit-count curve */
  val dirBuckets: Seq[Int] = Seq(8, 16, 32, 64, 128)

  def bucketOf(dirs: Int): Int = dirBuckets.find(dirs <= _).getOrElse(dirBuckets.last)

  val sparkTotals: Seq[String] = Tracer.SparkNames.map("spark." + _)
  val sparkPerLayer: Seq[String] =
    for (l <- layers; m <- Seq("jobs", "tasks", "executor_cpu_s", "shuffle_read_bytes"))
      yield s"spark.$l.$m"

  val names: Seq[String] = Seq(
    "sources.load_s", "sources.jobs", "sources.cpu_s", "sources.tables_staged",
    "sources.files_skipped", "sources.rows_staged_ratio",
    "lake.merge_s.ctas", "lake.merge_s.upsert", "lake.merge_s.overwrite", "lake.merge_jobs",
    "lake.bytes_written", "lake.rowcount_ms",
    "lake.read_plan_ms", "lake.read_exec_ms", "lake.plan_jobs", "lake.snapshot_entries",
    "lake.lookup_dirs_scanned_ratio", "lake.manifest_bytes", "lake.write_s") ++
    dirBuckets.map(d => s"lake.read_plan_ms.d$d") ++ dirBuckets.map(d => s"lake.plan_jobs.d$d") ++
    Seq("streaming.trigger_ms", "streaming.getBatch_ms", "streaming.addBatch_ms",
      "streaming.queryPlanning_ms", "streaming.walCommit_ms", "streaming.batches",
      "streaming.useful_batch_ratio",
      "sql.plan_ms", "sql.exec_ms",
      "operators.quality_s", "operators.exact_dedup_s", "operators.minhash_pairs_s",
      "operators.clusters_s", "operators.encode_s", "operators.candidate_pairs",
      "operators.lsh_precision", "operators.planted_recall",
      "pipeline.self_s") ++
    layers.filterNot(_ == "pipeline").map(l => s"$l.self_s") ++
    Seq("trace.overhead_share", "trace.spans") ++
    sparkTotals ++ sparkPerLayer ++
    Seq("ingest.rows_per_s", "ingest.round_p50_s", "ingest.cpu_s_per_mrow",
      "cdc.commit_p50_ms", "cdc.write_amp", "lake.lookup_p50_ms", "lake.scan_p50_ms",
      "lake.travel_p50_ms", "lake.ops_per_s", "curate.docs_per_s", "curate.cpu_s_per_kdoc",
      "ops_failed_share")

  def unitOf(n: String): String = {
    val last = n.split('.').filterNot(_.matches("d\\d+")).last
    if (n.startsWith("lake.merge_s.")) "s"
    else if (last.endsWith("_ms")) "ms"
    else if (last.endsWith("_s") || last == "cpu_s") "s"
    else if (last.endsWith("_bytes") || last == "bytes_written") "bytes"
    else if (last.endsWith("_per_s")) "1/s"
    else if (last.endsWith("_per_mrow")) "s/Mrow"
    else if (last.endsWith("_per_kdoc")) "s/kdoc"
    else if (last.endsWith("ratio") || last.endsWith("share") || last.endsWith("precision") ||
      last.endsWith("recall") || last.endsWith("amp")) "ratio"
    else "count"
  }

  /** Spark listener totals, per run and per layer of the innermost span. */
  def spark(tr: Tracer): Map[String, Double] = {
    val by = tr.sparkBySpan()
    val layerOf = tr.spans.map(s => s.id -> s.layer).toMap
    val idx = Tracer.SparkNames.zipWithIndex.toMap
    val totals = Tracer.SparkNames.indices.map(i => by.values.map(_(i)).sum)
    val perLayer = for (l <- layers; m <- Seq("jobs", "tasks", "executor_cpu_s", "shuffle_read_bytes"))
      yield s"spark.$l.$m" -> by.collect { case (id, c) if layerOf.get(id).contains(l) => c(idx(m)) }.sum
    (sparkTotals.zip(totals) ++ perLayer).toMap
  }

  /** Self time per round of every layer. */
  def selfTimes(tr: Tracer, rounds: Int): Map[String, Double] =
    layers.map { l =>
      s"$l.self_s" -> tr.spans.filter(_.layer == l).map(_.selfS).sum / rounds.max(1)
    }.toMap

  /** Spark jobs started inside each span, counting its descendants. */
  def inclusiveJobs(tr: Tracer): Map[Int, Double] = {
    val by = tr.sparkBySpan()
    val out = Array.fill(tr.spans.size)(0.0)
    tr.spans.foreach { s =>
      val n = by.get(s.id).map(_(0)).getOrElse(0.0)
      var p = s.id
      while (p >= 0) { out(p) += n; p = tr.spans(p).parent }
    }
    out.indices.map(i => i -> out(i)).toMap
  }
}
