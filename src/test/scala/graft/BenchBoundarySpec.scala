package graft

/** Pins the per-pass housekeeping contract (GraftSession.releaseCaches /
  * syncBarrier): Bench and Verify call them between queries, so they must
  * be safe on a live session — running queries before AND after them —
  * and must actually drop cached storage and scratch, because no
  * registered entry shares a build with another and Bench charges none of
  * this work to any query. A release that broke the session would surface
  * as a bogus `err:` entry on whatever query runs next.
  */
class BenchBoundarySpec extends SparkSpec {

  test("releaseCaches drops session-cached frames") {
    val df = spark.range(5000).toDF("id")
    df.cache().count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    GraftSession.releaseCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("releaseCaches unpersists everything a dedup entry persisted") {
    GraftSession.releaseCaches(spark)
    assert(operators.Dedup.dedupClusters.fn(spark, sfDir).count() > 0)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "dedup_clusters persists its signature and pair frames inside the query")
    GraftSession.releaseCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("syncBarrier completes (flush is untimed boundary work, never a query's)") {
    GraftSession.syncBarrier() // must not throw, with or without a sync binary
  }

  test("releaseCaches reclaims per-invocation scratch; CDC trio rebuilds after") {
    val root = operators.IngestLake.localScratchRoot
    // per-invocation dirs are <root>/<name>/<uuid>; the digest-keyed IVF
    // index, the wide CSV corpus and the bench canary are reused across
    // runs and never reclaimed, so scope the check to dirs that APPEAR
    // during the lake queries
    def uuidDirs: Set[java.nio.file.Path] =
      if (!java.nio.file.Files.exists(root)) Set.empty
      else {
        val w = java.nio.file.Files.walk(root, 2)
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala
            .filter(p => p.getParent != null && p.getParent.getParent == root)
            .toSet
        } finally w.close()
      }
    def under(dirs: Set[java.nio.file.Path], name: String) =
      dirs.filter(_.getParent.getFileName.toString == name)
    val pre = uuidDirs
    // lake queries allocate scratch and fully materialize through it; the
    // CDC and SQL-surface tables are built on it by every call
    assert(operators.IngestLake.lakeCtas.fn(spark, sfDir).count() > 0)
    assert(operators.IngestLake.lakeMergeUpsert.fn(spark, sfDir).count() > 0)
    assert(operators.IngestLake.lakeSqlSurface.fn(spark, sfDir).count() > 0)
    val created = uuidDirs -- pre
    Seq("ctas", "cdc", "sqlsurface").foreach(n =>
      assert(under(created, n).nonEmpty, s"lake query should have written $n scratch"))
    GraftSession.releaseCaches(spark)
    val left = uuidDirs -- pre
    assert(left.isEmpty, s"release must reclaim every query's scratch, left: $left")
    // the next call builds its table on fresh scratch, not on a tomb
    assert(operators.IngestLake.lakeChangelog.fn(spark, sfDir).count() > 0)
    GraftSession.releaseCaches(spark)
    assert((uuidDirs -- pre).isEmpty)
  }
}
