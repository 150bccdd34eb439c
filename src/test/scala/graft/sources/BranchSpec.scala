package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Write-Audit-Publish branches: stage appends on a zero-copy fork,
  * audit, then squash-publish atomically onto main via the conflict
  * checker — or drop the branch and main never saw anything. */
class BranchSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_br_").toString

  test("stage, audit, publish: appends land on main as one commit") {
    val root = tmp()
    VersionedTable.commit(Seq(1L, 2L).toDF("k"), root) // main v0
    val bp = VersionedTable.createBranch(root, "ingest")
    VersionedTable.commit(Seq(3L).toDF("k"), bp) // staged
    VersionedTable.commit(Seq(4L).toDF("k"), bp) // staged
    // staged rows invisible to main; branch sees base + staged
    assert(VersionedTable.read(spark, root).count() === 2)
    assert(VersionedTable.read(spark, bp).as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    assert(VersionedTable.branches(root) === Map("ingest" -> ((0L, 2L))))
    val v = VersionedTable.publishBranch(spark, root, "ingest")
    assert(v === 1L) // one squash commit
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    assert(VersionedTable.branches(root).isEmpty) // publish consumed it
    // published files carry their stats: a range read can prune
    val (kept, total) = VersionedTable.pruneFiles(root, 1L,
      col("k").between(3L, 4L))
    assert(kept.size < total)
  }

  test("publish rebases over compatible main appends") {
    val root = tmp()
    VersionedTable.commit(Seq(1L).toDF("k"), root) // v0
    val bp = VersionedTable.createBranch(root, "wap")
    VersionedTable.commit(Seq(2L).toDF("k"), bp)
    VersionedTable.commit(Seq(9L).toDF("k"), root) // main moves on: v1
    val v = VersionedTable.publishBranch(spark, root, "wap")
    assert(v === 2L)
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === Array(1L, 2L, 9L))
  }

  test("publish refuses when main's schema moved; branch survives") {
    val root = tmp()
    VersionedTable.commit(Seq(1L).toDF("k"), root)
    val bp = VersionedTable.createBranch(root, "stale")
    VersionedTable.commit(Seq(2L).toDF("k"), bp)
    VersionedTable.commit(Seq((3L, "x")).toDF("k", "s"), root) // evolves
    intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishBranch(spark, root, "stale")
    }
    // the branch is intact after the refused publish (data dirs moved
    // back): its read still works and a re-fork can salvage the rows
    assert(VersionedTable.read(spark, bp).as[Long].collect().sorted
      === Array(1L, 2L))
    assert(VersionedTable.fsck(bp).ok)
  }

  test("truncateLog refuses to cut under a live branch's base") {
    // publishBranch needs state(root, baseV) and the manifests above it
    // for its conflict basis; truncating below a live branch's base
    // would permanently break publishing that branch. Same guard shape
    // as tags (vacuum already pins branch bases like tags).
    val root = tmp()
    (0 to 10).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("k"), root)) // v0..v10,
    // auto-checkpoint lands at v10
    VersionedTable.createBranch(root, "early", Some(2L)) // base v2 < ckpt
    val err = intercept[IllegalArgumentException] {
      VersionedTable.truncateLog(root, Some(10L))
    }
    assert(err.getMessage.contains("early"))
    VersionedTable.dropBranch(root, "early")
    assert(VersionedTable.truncateLog(root, Some(10L)) === 10)
    assert(VersionedTable.read(spark, root).count() === 11)
  }

  test("branch schema evolution squashes; audit-fail path is dropBranch") {
    val root = tmp()
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), root)
    val bp = VersionedTable.createBranch(root, "evolve")
    VersionedTable.commit(Seq((2L, "b", 7L)).toDF("k", "s", "extra"), bp)
    val v = VersionedTable.publishBranch(spark, root, "evolve")
    val out = VersionedTable.read(spark, root, Some(v))
    assert(out.columns.toSeq === Seq("k", "s", "extra"))
    assert(out.where(col("k") === 1).select("extra").head().isNullAt(0))

    val bp2 = VersionedTable.createBranch(root, "bad-batch")
    VersionedTable.commit(Seq((99L, "z", 0L)).toDF("k", "s", "extra"), bp2)
    VersionedTable.dropBranch(root, "bad-batch") // audit failed
    assert(VersionedTable.branches(root).isEmpty)
    assert(VersionedTable.read(spark, root).count() === 2) // main untouched
  }

  test("non-append branch commits refuse to publish") {
    val root = tmp()
    VersionedTable.commit(Seq(1L, 2L).toDF("k"), root)
    val bp = VersionedTable.createBranch(root, "edited")
    VersionedTable.deleteRanges(spark, bp, Seq(("k", Some(1L), Some(1L))))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.publishBranch(spark, root, "edited")
    }
    assert(e.getMessage.contains("plain append"))
    VersionedTable.dropBranch(root, "edited")
  }

  test("vacuum pins a branch's base snapshot") {
    val root = tmp()
    VersionedTable.commit(Seq(1L, 2L).toDF("k"), root)       // v0
    VersionedTable.createBranch(root, "pinned", Some(0L))
    VersionedTable.commit(Seq(9L).toDF("k"), root, "overwrite") // v1
    VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
    // the branch still reads its base through the ext: references
    assert(VersionedTable.read(spark,
        VersionedTable.branchRoot(root, "pinned"))
      .as[Long].collect().sorted === Array(1L, 2L))
    VersionedTable.dropBranch(root, "pinned")
  }

  test("SQL surface: BRANCH CREATE / BRANCHES / PUBLISH / DROP") {
    val root = tmp()
    VersionedTable.commit(Seq(1L).toDF("k"), root)
    val bp = spark.sql(s"GRAFT BRANCH '$root' CREATE nightly")
      .head().getString(0)
    VersionedTable.commit(Seq(2L).toDF("k"), bp)
    assert(spark.sql(s"GRAFT BRANCHES '$root'").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq(("nightly", 0L, 1L)))
    assert(spark.sql(s"GRAFT BRANCH '$root' PUBLISH nightly")
      .head().getLong(0) === 1L)
    assert(VersionedTable.read(spark, root).count() === 2)
    val bp2 = spark.sql(s"GRAFT BRANCH '$root' CREATE scratch")
      .head().getString(0)
    assert(VersionedTable.latestVersion(bp2) === 0L)
    spark.sql(s"GRAFT BRANCH '$root' DROP scratch")
    assert(VersionedTable.branches(root).isEmpty)
  }

  test("branch inherits CHECK constraints from its base") {
    val root = tmp()
    VersionedTable.commit(Seq(5L).toDF("k"), root)
    VersionedTable.addCheck(spark, root, "k_pos", "k > 0")
    val bp = VersionedTable.createBranch(root, "guarded")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq(-1L).toDF("k"), bp)
    }
    assert(e.getMessage.contains("k_pos")) // bad data bounces AT STAGING
    VersionedTable.dropBranch(root, "guarded")
  }
}
