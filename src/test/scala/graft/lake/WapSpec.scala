package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Write-audit-publish: staged data must be invisible until publish,
  * abort must leave no trace, and publish must be CAS'd against the
  * staged base so audited data can't clobber a concurrent commit.
  */
class WapSpec extends SparkSpec {

  private def freshCatalog() =
    LakeCatalog(spark, Files.createTempDirectory("graft_wap").toString)

  test("staged commit is invisible to readers until published") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq((1, "a")).toDF("id", "v"))
    val s1 = cat.stageWrite("ns", "t", Seq((2, "b")).toDF("id", "v"), SaveMode.Append)
    assert(cat.read("ns", "t").count() == 1, "staged rows leaked before publish")
    assert(cat.versions("ns", "t") == Seq(1), "stage must not create a snapshot")
    assert(cat.readStagedData(s1).count() == 1)
    assert(cat.readStagedView(s1).count() == 2, "staged view = base + staged")
    cat.publishStaged(s1)
    assert(cat.read("ns", "t").count() == 2)
    assert(cat.versions("ns", "t") == Seq(1, 2))
  }

  test("aborted stage leaves no data dir and no snapshot") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1).toDF("id"))
    val s1 = cat.stageWrite("ns", "t", Seq(-99).toDF("id"), SaveMode.Append)
    cat.abortStaged(s1)
    assert(cat.versions("ns", "t") == Seq(1))
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).toSeq == Seq(1))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${cat.root}/ns/t/${s1.rel}")),
      "aborted staged dir must be deleted")
  }

  test("publish conflicts when a commit landed after the stage (no lost update)") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq(1).toDF("id"))
    val s1 = cat.stageWrite("ns", "t", Seq(2).toDF("id"), SaveMode.Append)
    cat.write("ns", "t", Seq(3).toDF("id"), SaveMode.Append) // concurrent writer
    intercept[CommitConflictException] { cat.publishStaged(s1) }
    // the staged dir survives the conflict for re-audit + retry
    assert(cat.readStagedData(s1).count() == 1)
    // retry on the new base: re-stage semantics = new StagedCommit
    val s2 = s1.copy(baseVersion = cat.versions("ns", "t").last)
    cat.publishStaged(s2)
    assert(cat.read("ns", "t").collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
  }

  test("overwrite-mode WAP on a fresh table publishes as v1") {
    val cat = freshCatalog()
    import spark.implicits._
    val s1 = cat.stageWrite("ns", "fresh", Seq(7).toDF("id"), SaveMode.Overwrite)
    assert(!cat.tableExists("ns", "fresh") || cat.versions("ns", "fresh").isEmpty)
    cat.publishStaged(s1)
    assert(cat.read("ns", "fresh").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("overwrite publish keeps the table's txn marks and declared columns") {
    val cat = freshCatalog()
    import spark.implicits._
    cat.write("ns", "t", Seq((1, "a")).toDF("id", "v"))
    cat.recordTxn("ns", "t", "app", 4L)
    cat.addColumn("ns", "t", "score", org.apache.spark.sql.types.DoubleType)
    val s1 = cat.stageWrite("ns", "t", Seq((2, "b")).toDF("id", "v"), SaveMode.Overwrite)
    cat.publishStaged(s1)
    assert(cat.txnVersion("ns", "t", "app").contains(4L))
    assert(cat.recordTxn("ns", "t", "app", 4L).isEmpty, "a replayed batch must stay a no-op")
    val back = cat.read("ns", "t")
    assert(back.columns.toSeq == Seq("id", "v", "score"))
    assert(back.collect().map(_.toSeq).toSeq == Seq(Seq(2, "b", null)))
  }
}
