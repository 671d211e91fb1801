package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Every entry
  * builds what it reads on each call, and the session state it leaves
  * behind is released after it is written (GraftSession.releaseCaches) —
  * the same per-entry contract Bench times under.
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump every selected query's result to `outDir/<name>` parquet.
    *
    * A query that fails to build or run must APPEAR in the dump, never
    * vanish: the round-8 correctness artifact silently shrank from 139 to
    * 133 entries when ten queries hit an analysis error, and the file read
    * as all-green unless diffed against the previous round. Failures now
    * land twice: a one-row `err` parquet under the query's own name (so
    * the driver's compare yields an explicit mismatching row instead of an
    * absent one — Bench.scala's `err:<class>` markers, mirrored) and an
    * `errors.json` sidecar naming every failed query.
    *
    * Returns name → error for the failures.
    */
  def dump(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      only: Set[String] = Set.empty): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    try {
      queries.toSeq.sortBy(_._1)
        .filter(kv => only.isEmpty || only.contains(kv._1))
        .foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            val msg = s"err:${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
            System.err.println(s"[verify] $name failed: $msg")
            errors += name -> msg
            // the marker write itself can fail (dead session, OOM): the
            // errors.json entry above already records the query, and the
            // finally below makes sure the sidecar lands even then
            try {
              import spark.implicits._
              Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            } catch { case m: Throwable =>
              System.err.println(s"[verify] $name err-marker write failed: ${m.getMessage}")
            }
          }
          // a 173-query session must not accumulate every entry's pinned
          // storage and scratch (see GraftSession.releaseCaches)
          GraftSession.releaseCaches(spark)
        }
    } finally {
      val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    }
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only that subset (dev loop; the driver
    // always runs the full surface)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"no such quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")} " +
        "(a typo here would otherwise dump nothing and exit 0)")
    val spark = GraftSession.getOrCreate("graft-verify")
    val errors = dump(spark, sfDir, outDir, SparkEntry.queries, only)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // scripted/CI use must not be able to miss failures: the err parquets
    // and errors.json still land (so the driver's compare sees explicit
    // mismatches, not absences), but the process itself exits nonzero too
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] FAILED: ${errors.size} quer${if (errors.size == 1) "y" else "ies"} " +
          s"errored: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
