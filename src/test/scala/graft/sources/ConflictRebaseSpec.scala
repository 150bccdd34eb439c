package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Logical conflict detection + rebase for prepared row-edit commits
  * (the Delta ConflictChecker contract): compatible interleavings
  * publish without redoing the rewrite; incompatible ones fail loudly
  * with [[VersionedTable.ConcurrentWriteConflictException]]; MOR
  * deletes compose with each other. */
class ConflictRebaseSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_cr_").toString

  /** v0 = two range-disjoint files; returns (root, fileA, fileB) with
    * fileA holding k in [0,4) and fileB k in [4,8). */
  private def twoFileTable(): (String, String, String) = {
    val root = tmp()
    VersionedTable.commit(
      spark.range(0, 8).toDF("k")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"), root)
    val fs = VersionedTable.snapshotFiles(root, 0L).sorted
    assert(fs.size === 2)
    // identify which file holds the low range from its recorded stats
    val st = VersionedTable.state(root, 0L)
    val (lows, highs) = fs.partition(f =>
      st.stats(f)("k").min.exists(_.toLong == 0L))
    (root, lows.head, highs.head)
  }

  private def replaceBody(schemaJson: Option[String], removes: Seq[String])
      (next: Long): VersionedTable.Manifest =
    VersionedTable.Manifest(next, "replace", schemaJson = schemaJson,
      removes = removes)

  test("prepared replace rebases over an interleaved append") {
    val (root, fileA, _) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    // interleaved append lands AFTER the edit's basis was read
    VersionedTable.commit(Seq(100L).toDF("k"), root) // v1
    // prepared remove-only replace of fileA, based at v0: must land at
    // v2 WITHOUT being recomputed, and the append's rows must survive
    val v = VersionedTable.publishRebasing(root, 0L, Set(fileA),
      basisSchema, replaceBody(basisSchema, Seq(fileA)))
    assert(v === 2L)
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === Array(4L, 5L, 6L, 7L, 100L))
  }

  test("rebase range re-extends when commits land during the check") {
    val (root, fileA, _) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    (1 to 3).foreach(i => VersionedTable.commit(Seq(100L + i).toDF("k"), root))
    val v = VersionedTable.publishRebasing(root, 0L, Set(fileA),
      basisSchema, replaceBody(basisSchema, Seq(fileA)))
    assert(v === 4L)
  }

  test("interleaved rewrite of a touched file conflicts") {
    val (root, _, fileB) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    // a competing edit rewrites fileB first (remove-only replace)
    VersionedTable.publishRebasing(root, 0L, Set(fileB),
      basisSchema, replaceBody(basisSchema, Seq(fileB))) // v1
    val e = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, 0L, Set(fileB),
        basisSchema, replaceBody(basisSchema, Seq(fileB)))
    }
    assert(e.getMessage.contains("rewrote"))
    // the winner's effect is intact: fileB's rows are gone exactly once
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === Array(0L, 1L, 2L, 3L))
  }

  test("interleaved disjoint rewrite is compatible") {
    val (root, fileA, fileB) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    VersionedTable.publishRebasing(root, 0L, Set(fileA),
      basisSchema, replaceBody(basisSchema, Seq(fileA))) // v1 removes A
    val v = VersionedTable.publishRebasing(root, 0L, Set(fileB),
      basisSchema, replaceBody(basisSchema, Seq(fileB))) // rebases to v2
    assert(v === 2L)
    assert(VersionedTable.read(spark, root).count() === 0L)
  }

  test("interleaved schema evolution conflicts") {
    val (root, fileA, _) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    VersionedTable.commit( // v1: append evolves schema (adds column)
      Seq((200L, "x")).toDF("k", "s"), root)
    val e = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, 0L, Set(fileA),
        basisSchema, replaceBody(basisSchema, Seq(fileA)))
    }
    assert(e.getMessage.contains("schema"))
  }

  test("interleaved constraint DDL conflicts") {
    val (root, fileA, _) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    VersionedTable.addCheck(spark, root, "k_nonneg", "k >= 0") // v1
    val e = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, 0L, Set(fileA),
        basisSchema, replaceBody(basisSchema, Seq(fileA)))
    }
    assert(e.getMessage.contains("metadata") || e.getMessage.contains("schema"))
  }

  test("interleaved MOR tombstone on a touched file conflicts a rewrite") {
    val (root, fileA, _) = twoFileTable()
    val basisSchema = VersionedTable.state(root, 0L).schemaJson
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(1L).toDF("k")) // v1
    val e = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, 0L, Set(fileA),
        basisSchema, replaceBody(basisSchema, Seq(fileA)))
    }
    assert(e.getMessage.contains("tombstoned"))
  }

  test("concurrent MOR deletes compose: all writers land, no retries") {
    val root = tmp()
    VersionedTable.commit(spark.range(0, 64).toDF("k").coalesce(1), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val tasks = (0 until 6).map { w =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              latch.await()
              // disjoint keys, same single data file: every writer
              // tombstones the SAME file — composition, not conflict
              VersionedTable.deleteKeysMOR(spark, root, "k",
                Seq(w.toLong * 2, w.toLong * 2 + 1).toDF("k"))
            } catch { case t: Throwable => failures.add(t) }
        })
      }
      latch.countDown()
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty,
      s"MOR deletes must compose without conflicts: ${failures.peek()}")
    // gap-free log: v0 + 6 tombstone commits; all 12 keys deleted
    assert(VersionedTable.versions(root) === (0L to 6L))
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === (12L until 64L).toArray)
  }

  test("commitRetrying: racing appenders all land without caller loops") {
    val root = tmp()
    VersionedTable.commit(Seq(0L).toDF("k"), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val tasks = (1 to 6).map { w =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              latch.await()
              VersionedTable.commitRetrying(Seq(w.toLong).toDF("k"), root)
            } catch { case t: Throwable => failures.add(t) }
        })
      }
      latch.countDown()
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    assert(VersionedTable.versions(root) === (0L to 6L))
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === (0L to 6L).toArray)
  }

  test("concurrent appends and a COW delete all land (rebase under race)") {
    val root = tmp()
    VersionedTable.commit(
      spark.range(0, 8).toDF("k")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val appenders = (0 until 3).map { w =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              latch.await()
              // plain appends don't rebase — they CAS the next slot and
              // retry on loss (the caller-side optimistic loop)
              var done = false
              var n = 0
              while (!done) {
                n += 1; assert(n <= 100, "append retry storm")
                try {
                  VersionedTable.commit(Seq(100L + w).toDF("k"), root)
                  done = true
                } catch {
                  case _: VersionedTable.ConcurrentCommitException => ()
                }
              }
            } catch { case t: Throwable => failures.add(t) }
        })
      }
      val deleter = pool.submit(new Runnable {
        def run(): Unit =
          try {
            latch.await()
            // COW delete of [0,4): may rebase over appends; appends
            // never conflict with it, so ALL four writers succeed
            VersionedTable.deleteRanges(spark, root,
              Seq(("k", Some(0L), Some(3L))))
          } catch { case t: Throwable => failures.add(t) }
      })
      latch.countDown()
      (appenders :+ deleter).foreach(
        _.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    assert(VersionedTable.versions(root) === (0L to 4L))
    assert(VersionedTable.read(spark, root).as[Long].collect().sorted
      === Array(4L, 5L, 6L, 7L, 100L, 101L, 102L))
  }
}
