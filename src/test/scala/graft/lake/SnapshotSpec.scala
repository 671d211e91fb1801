package graft.lake

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** [[Snapshot]] owns the manifest grammar: parsing then rendering gives
  * back every manifest byte the lake verbs publish, and each verb reads
  * the manifest dir only as often as its commit needs.
  */
class SnapshotSpec extends SparkSpec {

  test("grammar: entry classes, txn and column decoding, render round trip, diff") {
    val entries = Seq("data/a", "dv/x", "txn/app+1%2Fb=7", "data/b/_zbucket=3",
      s"col/score=${java.net.URLEncoder.encode(DoubleType.json, "UTF-8")}")
    val s = Snapshot(4, entries)
    assert(s.data == Seq("data/a", "data/b/_zbucket=3"))
    assert(s.dvs == Seq("dv/x"))
    assert(s.dirs == Seq("data/a", "dv/x", "data/b/_zbucket=3"))
    assert(s.txns == Map("app 1/b" -> 7L))
    assert(s.columns == Seq("score" -> DoubleType))
    assert(s.tableState == entries.filter(e => e.startsWith("txn/") || e.startsWith("col/")))
    assert(Snapshot.parse(4, s.render) == s)
    assert(Snapshot.parse(0, "\n data/a \n\n".getBytes("UTF-8")).entries == Seq("data/a"))
    assert(s.withTxn("app 1/b", 9, Seq("data/c")) ==
      Seq("data/a", "dv/x", "data/b/_zbucket=3", entries.last, "data/c", "txn/app+1%2Fb=9"))

    val appended = s.diff(Snapshot(5, entries :+ "data/c"))
    assert(appended.added == Seq("data/c") && appended.appendOnly)
    val marked = s.diff(Snapshot(5, entries :+ "dv/y"))
    assert(marked.added.isEmpty && marked.dvsAdded == Seq("dv/y") && !marked.appendOnly)
    val rewritten = s.diff(Snapshot(5, Seq("data/b/_zbucket=3", "data/d", "dv/x")))
    assert(rewritten.removed == Seq("data/a") && rewritten.added == Seq("data/d"))
    assert(!rewritten.dvsChanged && !rewritten.appendOnly)
    assert(Snapshot.empty.diff(s).added == s.data)
  }

  test("render(parse(bytes)) is byte-identical to every manifest the lake verbs write") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snapshot").toString
    val cat = LakeCatalog(spark, root)
    val manifests = Paths.get(root, "ns", "t", "manifests")
    var seen = Set.empty[String]
    def check(verb: String): Unit = {
      val files = Files.list(manifests).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.endsWith(".txt"))
      val names = files.map(_.getFileName.toString).toSet
      assert((names -- seen).nonEmpty, s"$verb published no manifest")
      seen = names
      files.foreach { p =>
        val bytes = Files.readAllBytes(p)
        assert(Snapshot.parse(0, bytes).render.sameElements(bytes),
          s"$verb: ${p.getFileName} does not round-trip")
      }
    }
    def rows(from: Int, to: Int) = (from to to).map(i => (i.toLong, i % 7, i * 1.5)).toDF("id", "g", "x")

    cat.write("ns", "t", rows(1, 100)); check("write overwrite")
    cat.write("ns", "t", rows(101, 150), SaveMode.Append); check("write append")
    cat.writeClustered("ns", "t", rows(151, 300), Seq("id", "g"), commits = 4,
      mode = SaveMode.Append); check("writeClustered")
    cat.writeTxn("ns", "t", "sink/a b", 1L, rows(301, 310)); check("writeTxn")
    cat.recordTxn("ns", "t", "sink/a b", 2L); check("recordTxn")
    cat.addColumn("ns", "t", "note", LongType); check("addColumn")
    cat.deleteMoR("ns", "t", col("id") <= 5); check("deleteMoR")
    cat.materializeDeletes("ns", "t"); check("materializeDeletes")
    cat.delete("ns", "t", col("id") === 120); check("delete")
    cat.update("ns", "t", Seq("x" -> lit(0.0)), col("id") === 130); check("update")
    cat.rollback("ns", "t", 5); check("rollback")
    cat.write("ns", "t", rows(400, 401), SaveMode.Append)
    cat.write("ns", "t", rows(402, 403), SaveMode.Append)
    cat.compactSmall("ns", "t", 10L); check("compactSmall")
    cat.write("ns", "t", rows(1, 20)); check("write overwrite (carries txn marks)")
    cat.createBranch("ns", "t", "dev")
    cat.writeBranch("ns", "t", "dev", rows(500, 510)); check("writeBranch")
    cat.writeBranchTxn("ns", "t", "dev", "sink", 1L, rows(511, 512)); check("writeBranchTxn")
    cat.fastForwardBranch("ns", "t", "dev"); check("fastForwardBranch")
    assert(cat.read("ns", "t").count() == 33)
    assert(cat.txnVersion("ns", "t", "sink/a b").contains(2L))
  }

  /** Counts the manifest-dir listings and manifest reads of a catalog. */
  private final class CountingBackend(inner: CommitBackend) extends CommitBackend {
    var lists = 0
    var reads = 0
    def mkdirs(dir: Path): Unit = inner.mkdirs(dir)
    def exists(p: Path): Boolean = inner.exists(p)
    def list(dir: Path): Seq[String] = { lists += 1; inner.list(dir) }
    def readBytes(p: Path): Array[Byte] = { reads += 1; inner.readBytes(p) }
    def writeBytes(p: Path, bytes: Array[Byte]): Unit = inner.writeBytes(p, bytes)
    def createExclusive(p: Path): Boolean = inner.createExclusive(p)
    def mtime(p: Path): Option[Long] = inner.mtime(p)
    def delete(p: Path): Unit = inner.delete(p)
    def renameIfAbsent(src: Path, dst: Path): Boolean = inner.renameIfAbsent(src, dst)
  }

  test("each verb resolves its snapshot once: manifest listings and reads are pinned") {
    import spark.implicits._
    val backend = new CountingBackend(
      new HadoopCommitBackend(FileSystem.getLocal(spark.sessionState.newHadoopConf())))
    val cat = LakeCatalog(spark, Files.createTempDirectory("graft_io").toString, Some(backend))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.write("ns", "t", df)
    def io(f: => Any): (Int, Int) = {
      backend.lists = 0; backend.reads = 0
      f
      (backend.lists, backend.reads)
    }
    // (listings, manifest reads): the latest snapshot costs one listing and
    // one read, a given version one read; commit's own listing is its
    // conflict check, and a staged write lists once for its base
    assert(io(cat.write("ns", "t", df, SaveMode.Append)) == (2, 1), "write append")
    assert(io(cat.write("ns", "t", df, SaveMode.Overwrite)) == (2, 1), "write overwrite")
    assert(io(cat.writeTxn("ns", "t", "app", 1L, df)) == (3, 1), "writeTxn")
    assert(io(cat.recordTxn("ns", "t", "app", 2L)) == (2, 1), "recordTxn")
    assert(io(cat.read("ns", "t")) == (1, 1), "read latest")
    assert(io(cat.read("ns", "t", Some(2))) == (0, 1), "read VERSION AS OF")
    assert(io(cat.rowCount("ns", "t")) == (1, 1), "rowCount")
    val missing = intercept[IllegalArgumentException](cat.read("ns", "t", Some(99)))
    assert(missing.getMessage.contains("no snapshot v99 of ns.t (have: 1,2,3,4,5)"))
  }
}
