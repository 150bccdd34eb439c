package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Merge-on-read UPDATE ([[VersionedTable.updateKeysMOR]]): one atomic
  * commit = tombstone sidecar for the old images + append of the new
  * ones. The headline invariant is WRITE AMPLIFICATION — a point
  * update must rewrite NO existing data file — plus read resolution,
  * upsert semantics, time travel, CDC pairing, compaction folding,
  * and the non-commuting conflict posture vs concurrent row edits. */
class MorUpdateSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_morup_").toString

  /** 64 rows in 8 range-disjoint files: file i holds k in [8i, 8i+8). */
  private def rangedTable(): String = {
    val root = tmp()
    (0 until 8).foreach { i =>
      VersionedTable.commit(
        spark.range(8 * i, 8 * i + 8).toDF("k")
          .withColumn("v", col("k") * 10).coalesce(1),
        root)
    }
    root
  }

  test("point update rewrites NO existing data file") {
    val root = rangedTable()
    val before = VersionedTable.state(root, 7L).files.toSet
    val v = VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L)).toDF("k", "v"))
    assert(v === 8L)
    val after = VersionedTable.state(root, v)
    // every pre-update file survives BY REFERENCE; exactly one new
    // data file (the single new image) was added
    assert(before.subsetOf(after.files.toSet),
      s"update rewrote existing files: ${(before -- after.files).mkString(",")}")
    assert((after.files.toSet -- before).size === 1)
    // the tombstone applies only to the one file whose range holds 12
    assert(after.tombs.keySet.size === 1)
    assert(after.tombs.keySet.forall(before))
    assert(VersionedTable.fsck(root).ok)
  }

  test("reads resolve the update; old snapshot time-travels") {
    val root = rangedTable()
    VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L), (50L, 8888L)).toDF("k", "v"))
    val now = VersionedTable.read(spark, root)
    assert(now.count() === 64) // replacement, not duplication
    assert(now.filter(col("k") === 12).select("v").as[Long].head() === 9999L)
    assert(now.filter(col("k") === 50).select("v").as[Long].head() === 8888L)
    assert(now.filter(col("k") === 13).select("v").as[Long].head() === 130L)
    // pre-update snapshot unchanged
    val v7 = VersionedTable.read(spark, root, Some(7L))
    assert(v7.filter(col("k") === 12).select("v").as[Long].head() === 120L)
    // the datasource scan path resolves the tombstones through the
    // GraftMorScan ∪/anti-join rewrite (round 8) — same answer as the
    // resolving read, straight from SQL
    val ds = spark.read.format("graft").load(root)
    assert(ds.orderBy("k").collect().toSeq ===
      now.orderBy("k").collect().toSeq)
    assert(ds.filter(col("k") === 12).select("v").as[Long].head() === 9999L)
  }

  test("SQL read of a tombstoned snapshot prunes the clean side") {
    val root = rangedTable()
    VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L)).toDF("k", "v"))
    // a filter far from the touched file still prunes via manifest
    // stats on the clean branch of the rewritten plan
    val df = spark.read.format("graft").load(root)
      .filter(col("k") >= 40 && col("k") <= 47)
    assert(df.select(sum("v")).as[Long].head() === (40 to 47).map(_ * 10).sum)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Union") || !plan.contains("tomb"),
      s"expected the MOR union rewrite in the plan:\n$plan")
    // without the extension rule, the raw listing gate still refuses
    // (loud, never wrong): simulate by scanning through a fresh index
    val st = VersionedTable.state(root, VersionedTable.latestVersion(root))
    val idx = new GraftFileIndex(spark, root,
      VersionedTable.latestVersion(root), st, pinnedSnapshot = true)
    val e = intercept[UnsupportedOperationException] {
      idx.listFiles(Nil, Nil)
    }
    assert(e.getMessage.contains("tombstones"))
  }

  test("keys absent from every file append (upsert); empty batch no-ops") {
    val root = rangedTable()
    val v = VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((1000L, 1L)).toDF("k", "v")) // beyond every file's range
    assert(v === 8L)
    val st = VersionedTable.state(root, v)
    assert(st.tombs.isEmpty, "no file can hold key 1000 — no tombstone")
    assert(VersionedTable.read(spark, root).count() === 65)
    assert(VersionedTable.updateKeysMOR(spark, root, "k",
      spark.emptyDataset[(Long, Long)].toDF("k", "v")) === 8L)
  }

  test("duplicate and NULL keys refuse; schema mismatch refuses") {
    val root = rangedTable()
    intercept[IllegalArgumentException] {
      VersionedTable.updateKeysMOR(spark, root, "k",
        Seq((12L, 1L), (12L, 2L)).toDF("k", "v"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.updateKeysMOR(spark, root, "k",
        Seq((Some(12L), 1L), (None, 2L)).toDF("k", "v"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.updateKeysMOR(spark, root, "k",
        Seq(12L).toDF("k")) // missing v
    }
  }

  test("keyed change feed pairs the commit into update pre/postimages") {
    val root = rangedTable()
    val v = VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L), (50L, 8888L)).toDF("k", "v"))
    val ch = VersionedTable.changesKeyed(spark, root, 7L, v, "k")
      .select("_change", "k", "v").as[(String, Long, Long)].collect().toSet
    assert(ch === Set(
      ("update_preimage", 12L, 120L), ("update_postimage", 12L, 9999L),
      ("update_preimage", 50L, 500L), ("update_postimage", 50L, 8888L)))
  }

  test("compaction folds the tombstones; answers unchanged; gate lifts") {
    val root = rangedTable()
    VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L)).toDF("k", "v"))
    VersionedTable.compact(spark, root, numFiles = 2)
    val st = VersionedTable.state(root, VersionedTable.latestVersion(root))
    assert(st.tombs.isEmpty)
    val ds = spark.read.format("graft").load(root) // MOR gate lifted
    assert(ds.count() === 64)
    assert(ds.filter(col("k") === 12).select("v").as[Long].head() === 9999L)
  }

  test("a prepared row edit refuses to rebase over an interleaved update") {
    // Unlike delete∘delete, edit∘update on the same file does not
    // commute (the update appended fresh images for rows the other
    // edit reasoned about — composing could resurrect or double-edit
    // them), so even a tombstone writer with the overlap waiver must
    // conflict against an interleaved update-mor.
    val root = rangedTable()
    val basis = VersionedTable.latestVersion(root) // 7
    val st = VersionedTable.state(root, basis)
    val v = VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((12L, 9999L)).toDF("k", "v")) // v8, tombstones k=12's file
    val touched = VersionedTable.state(root, v).tombs.keySet
    assert(touched.nonEmpty)
    val ex = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, basis, touched, st.schemaJson,
        next => VersionedTable.Manifest(next, "delete-mor",
          schemaJson = st.schemaJson),
        allowTombstoneOverlap = true)
    }
    assert(ex.getMessage.contains("updated"))
    // and the compatible direction still holds: an update prepared on
    // the CURRENT head rebases fine over a plain append
    VersionedTable.commit(Seq((200L, 1L)).toDF("k", "v"), root)
    val v2 = VersionedTable.updateKeysMOR(spark, root, "k",
      Seq((13L, 7777L)).toDF("k", "v"))
    assert(v2 === VersionedTable.latestVersion(root))
  }

  test("rebase refuses an interleaved append that may carry an updated key") {
    // updateKeysMOR's tombstone covers BASIS files only: an append
    // landing one of the updated keys between basis and publish would
    // survive untombstoned — duplicate keys. The keyGuard turns that
    // into a loud conflict; key-disjoint appends still rebase.
    val root = rangedTable()
    val basis = VersionedTable.latestVersion(root)
    val st = VersionedTable.state(root, basis)
    VersionedTable.commit(Seq((12L, 5L)).toDF("k", "v"), root) // interleaved
    val overlap12: Option[VersionedTable.ColStats] => Boolean =
      cs => VersionedTable.mayMatch(cs, Some(12L), Some(12L))
    val body = (next: Long) =>
      VersionedTable.Manifest(next, "append", schemaJson = st.schemaJson)
    val ex = intercept[VersionedTable.ConcurrentWriteConflictException] {
      VersionedTable.publishRebasing(root, basis, Set.empty, st.schemaJson,
        body, keyGuard = Some(("k", overlap12)))
    }
    assert(ex.getMessage.contains("duplicate keys"))
    // a guard the interleaved append's key range cannot satisfy: fine
    val overlap999: Option[VersionedTable.ColStats] => Boolean =
      cs => VersionedTable.mayMatch(cs, Some(999L), Some(999L))
    val v = VersionedTable.publishRebasing(root, basis, Set.empty,
      st.schemaJson, body, keyGuard = Some(("k", overlap999)))
    assert(v === VersionedTable.latestVersion(root))
  }
}
