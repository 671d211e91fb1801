package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Writable branch refs (B38): isolation from main, fast-forward merge
  * semantics, the CAS conflict when main moves under a branch, and branch
  * lifecycle (overwrite commits, drop, listing).
  */
class BranchSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def freshCatalog(): LakeCatalog =
    LakeCatalog(spark, Files.createTempDirectory("graft_branch").toString)

  test("branch commits are invisible to main until fast-forward") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev")
    cat.writeBranch("br", "t", "dev", (51 to 80).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.writeBranch("br", "t", "dev", (81 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    assert(cat.read("br", "t").count() == 50) // main untouched
    assert(cat.readBranch("br", "t", "dev").count() == 100)
    assert(cat.listBranches("br", "t") == Map("dev" -> (1, 2)))
    val v = cat.fastForwardBranch("br", "t", "dev")
    assert(v == 2)
    assert(cat.read("br", "t").count() == 100)
    assert(cat.listBranches("br", "t").isEmpty) // merged branch is dropped
    // merged content identical to the pre-merge branch tip
    assert(rows(cat.read("br", "t")) ==
      (1 to 100).map(i => Seq[Any](i.toLong, i * 1.0)).toSet)
  }

  test("fast-forward conflicts when main moved since the branch was cut") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev")
    cat.writeBranch("br", "t", "dev", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    // main commits AFTER the branch was cut
    cat.write("br", "t", (21 to 30).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Append)
    intercept[CommitConflictException] {
      cat.fastForwardBranch("br", "t", "dev")
    }
    // the conflict must not damage either lineage
    assert(cat.read("br", "t").count() == 20) // 1-10 + 21-30
    assert(cat.readBranch("br", "t", "dev").count() == 20) // 1-10 + 11-20
    // rebase path: re-cut and replay
    cat.dropBranch("br", "t", "dev")
    cat.createBranch("br", "t", "dev2")
    cat.writeBranch("br", "t", "dev2", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    assert(cat.fastForwardBranch("br", "t", "dev2") == 3)
    assert(cat.read("br", "t").count() == 30)
  }

  test("overwrite-mode branch commit replaces the branch tip only") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev")
    cat.writeBranch("br", "t", "dev", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.writeBranch("br", "t", "dev",
      (100 to 102).map(i => (i.toLong, i * 1.0)).toDF("id", "x"), SaveMode.Overwrite)
    assert(cat.readBranch("br", "t", "dev").count() == 3)
    assert(cat.read("br", "t").count() == 10) // main still isolated
    cat.fastForwardBranch("br", "t", "dev")
    assert(rows(cat.read("br", "t").select("id")) ==
      (100 to 102).map(i => Seq[Any](i.toLong)).toSet)
  }

  test("dropped branch leaves orphan data dirs that vacuum reclaims") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev")
    cat.writeBranch("br", "t", "dev", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.dropBranch("br", "t", "dev")
    assert(cat.listBranches("br", "t").isEmpty)
    assert(cat.read("br", "t").count() == 10)
    assert(cat.vacuumOrphans("br", "t", graceMs = 0L) >= 1)
    assert(cat.read("br", "t").count() == 10) // live data untouched
    intercept[RuntimeException] { cat.branchBase("br", "t", "dev") }
  }

  test("vacuum keeps the data dirs a live branch's commits reference") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev")
    cat.writeBranch("br", "t", "dev", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    assert(cat.vacuumOrphans("br", "t", graceMs = 0L) == 0)
    assert(cat.readBranch("br", "t", "dev").count() == 20)
  }

  test("snapshot expiry keeps branch bases and the dirs branch tips list") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.createBranch("br", "t", "dev", Some(1))
    cat.createBranch("br", "t", "idle", Some(1)) // no commits: reads its base
    cat.writeBranch("br", "t", "dev", (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    cat.write("br", "t", (100 to 102).map(i => (i.toLong, i * 1.0)).toDF("id", "x"),
      SaveMode.Overwrite)
    cat.expireSnapshots("br", "t", keepLast = 1)
    assert(rows(cat.readBranch("br", "t", "dev").select("id")) ==
      (1 to 20).map(i => Seq[Any](i.toLong)).toSet)
    assert(cat.readBranch("br", "t", "idle").count() == 10)
    assert(cat.read("br", "t").count() == 3)
  }

  test("branch names validate; duplicate branch rejected; missing branch loud") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.write("br", "t", (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "x"))
    intercept[IllegalArgumentException] { cat.createBranch("br", "t", "a/b") }
    cat.createBranch("br", "t", "dev")
    intercept[IllegalArgumentException] { cat.createBranch("br", "t", "dev") }
    intercept[RuntimeException] { cat.readBranch("br", "t", "nope").count() }
  }
}
