package graft.sources

import java.nio.file.Files

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Iceberg-side conditional MERGE and SQL-shaped UPDATE — the targeted
  * copy-on-write write path ([[IcebergMeta.replaceFiles]]): clause
  * cascade correctness, manifest-bounds file targeting, sequence-number
  * preservation for carried files (the equality-delete resurrection
  * hazard), merge-on-read visibility under both v2 delete kinds, and
  * time travel across the overwrite. */
class IcebergMergeSpec extends SparkSpecBase {
  import spark.implicits._
  import VersionedTable.{MergeClause, MergeDelete, MergeInsert, MergeRef,
    MergeUpdate}
  private def X(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  private def tmp(): String =
    Files.createTempDirectory("ice_mrg_spec_").toString + "/t"

  private def rows(root: String): Seq[(Long, String)] =
    spark.read.format("iceberg-meta").load(root)
      .select("k", "cat").as[(Long, String)].collect().sorted.toSeq

  test("conditional MERGE: update-if, delete-if, insert-if cascade") {
    val root = tmp()
    IcebergMeta.writeFixture(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "cat"), root)
    val source = Seq((2L, "B"), (3L, "drop"), (4L, "skip"), (9L, "new"))
      .toDF("k", "cat")
    IcebergMeta.mergeConditional(spark, root, source, "k", "k",
      matched = Seq(
        MergeDelete(Some(MergeRef.source("cat") === "drop")),
        MergeUpdate(Some(MergeRef.source("cat") =!= "skip"),
          Map("cat" -> MergeRef.source("cat")))),
      notMatched = Seq(
        MergeInsert(Some(MergeRef.source("cat") =!= "skip"),
          Map("k" -> MergeRef.source("k"),
            "cat" -> MergeRef.source("cat")))))
    // 1 untouched-by-clause, 2 updated, 3 deleted, 4 matched-but-no-
    // clause-fires (kept verbatim), 9 inserted
    assert(rows(root) ===
      Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "new")))
  }

  test("MERGE targets files by manifest key bounds; others carry") {
    val root = tmp()
    // two data files with disjoint k ranges inside one manifest
    IcebergMeta.writeFixture(
      spark.range(0, 10).toDF("k").withColumn("cat", lit("lo"))
        .repartitionByRange(2, col("k")), root)
    val before = IcebergMeta.snapshot(root)
    assert(before.files.size === 2)
    val loFile = before.files.minBy(_.stats("k").min.get.toString.toLong)
    IcebergMeta.mergeConditional(spark, root,
      Seq((7L, "HI")).toDF("k", "cat"), "k", "k",
      matched = Seq(MergeUpdate(None, Map("cat" -> MergeRef.source("cat")))))
    val after = IcebergMeta.snapshot(root)
    // the low-range file survived the rewrite BY REFERENCE
    assert(after.files.map(_.recordedPath).contains(loFile.recordedPath))
    assert(!after.files.map(_.recordedPath)
      .exists(p => p != loFile.recordedPath && !p.contains("cow-")))
    assert(rows(root) === (0L until 10L).map(k =>
      (k, if (k == 7) "HI" else "lo")))
  }

  test("carried files keep their sequence numbers: equality deletes " +
    "still apply after an unrelated rewrite") {
    val root = tmp()
    // one manifest, two files: [0,4] and [5,9]; cat=x rows in BOTH
    IcebergMeta.writeFixture(
      spark.range(0, 10).toDF("k").withColumn("cat",
        when(col("k") % 5 === 0, "x").otherwise("y"))
        .repartitionByRange(2, col("k")), root)
    IcebergMeta.deleteEquality(spark, root, Seq("x").toDF("cat"))
    assert(rows(root).map(_._1) ===
      (0L until 10L).filterNot(k => k % 5 == 0))
    // rewrite ONLY the high file; the low file is carried EXISTING in
    // a rewritten manifest — with an inherited (new) seq the eq delete
    // would detach from it and resurrect k=0
    IcebergMeta.mergeConditional(spark, root,
      Seq((7L, "z")).toDF("k", "cat"), "k", "k",
      matched = Seq(MergeUpdate(None, Map("cat" -> MergeRef.source("cat")))))
    assert(rows(root) === (0L until 10L).filterNot(_ % 5 == 0).map(k =>
      (k, if (k == 7) "z" else "y")))
    // and the rewritten file is delete-free: k=5 (hidden x) is GONE,
    // not carried into the new file
    val snap = IcebergMeta.snapshot(root)
    val cow = snap.files.filter(_.recordedPath.contains("cow-"))
    assert(cow.nonEmpty && cow.forall(_.stats("k").min.get.toString
      .toLong >= 5L))
  }

  test("WHEN NOT MATCHED BY SOURCE ranges over every file") {
    val root = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 6).toDF("k").withColumn("cat", lit("old"))
        .repartitionByRange(2, col("k")), root)
    IcebergMeta.mergeConditional(spark, root,
      Seq((1L, "keep"), (4L, "keep")).toDF("k", "cat"), "k", "k",
      matched = Seq(MergeUpdate(None, Map("cat" -> MergeRef.source("cat")))),
      bySource = Seq(MergeDelete(None)))
    assert(rows(root) === Seq((1L, "keep"), (4L, "keep")))
  }

  test("MERGE reads through MOR: positionally-deleted rows neither " +
    "match nor resurrect") {
    val root = tmp()
    IcebergMeta.writeFixture(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "cat"), root)
    IcebergMeta.delete(spark, root, col("k") === 2)
    IcebergMeta.mergeConditional(spark, root,
      Seq((2L, "back"), (3L, "C")).toDF("k", "cat"), "k", "k",
      matched = Seq(MergeUpdate(None, Map("cat" -> MergeRef.source("cat")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> MergeRef.source("k"), "cat" -> MergeRef.source("cat")))))
    // k=2 was deleted → NOT matched → inserts as a new row
    assert(rows(root) === Seq((1L, "a"), (2L, "back"), (3L, "C")))
  }

  test("MERGE refusals: matched INSERT, duplicate source keys") {
    // every format's mergeConditional shares one clause check and one
    // source pre-flight (MergeKernel): the same inputs behave the same
    val seed = Seq((Some(1L), "a")).toDF("k", "cat")
    val (g, d, i) = (tmp(), tmp(), tmp())
    VersionedTable.commit(seed, g)
    DeltaLog.commit(seed, d)
    IcebergMeta.writeFixture(seed, i)
    type Merge = (org.apache.spark.sql.DataFrame, Seq[MergeClause],
      Seq[MergeClause]) => Long
    val formats: Seq[(String, String, () => Long, Merge)] = Seq(
      ("graft", g, () => VersionedTable.latestVersion(g),
        (src, m, n) => VersionedTable.mergeConditional(spark, g, src,
          "k", "k", m, n)),
      ("delta-log", d, () => DeltaLog.latestVersion(d),
        (src, m, n) => DeltaLog.mergeConditional(spark, d, src,
          "k", "k", m, n)),
      ("iceberg-meta", i, () => IcebergMeta.snapshot(i).snapshotId,
        (src, m, n) => IcebergMeta.mergeConditional(spark, i, src,
          "k", "k", m, n)))
    val upd = Seq(MergeUpdate(None, Map("cat" -> MergeRef.source("cat"))))
    val ins = Seq(MergeInsert(None,
      Map("k" -> MergeRef.source("k"), "cat" -> MergeRef.source("cat"))))
    def src(rs: (Option[Long], String)*) = rs.toDF("k", "cat")
    formats.foreach { case (fmt, root, head, merge) =>
      def rows() = spark.read.format(fmt).load(root).select("k", "cat")
        .as[(Option[Long], String)].collect().toSet
      val v0 = head()
      // misplaced clause kinds
      intercept[IllegalArgumentException] {
        merge(src((Some(1L), "x")), ins, Nil)
      }
      intercept[IllegalArgumentException] {
        merge(src((Some(1L), "x")), Nil, Seq(MergeDelete(None)))
      }
      // a duplicated source key has no deterministic outcome
      intercept[IllegalArgumentException] {
        merge(src((Some(1L), "x"), (Some(1L), "y")), upd, Nil)
      }
      // empty and all-NULL-key sources return the current version and
      // commit nothing
      assert(merge(src(), upd, ins) === v0, fmt)
      assert(merge(src((None, "n"), (None, "m")), upd, ins) === v0, fmt)
      assert(head() === v0, fmt)
      assert(rows() === Set((Some(1L), "a")), fmt)
      // beside a keyed row, a NULL source key matches nothing and
      // lands as an unmatched insert
      merge(src((Some(1L), "u"), (None, "n")), upd, ins)
      assert(rows() === Set((Some(1L), "u"), (None, "n")), fmt)
    }
  }

  test("updateWhere: COW point update, untouched file carried, " +
    "no-match is a no-op, time travel intact") {
    val root = tmp()
    val snap0 = IcebergMeta.writeFixture(
      spark.range(0, 10).toDF("k").withColumn("cat", lit("v1"))
        .repartitionByRange(2, col("k")), root)
    val before = IcebergMeta.snapshot(root)
    val loFile = before.files.minBy(_.stats("k").min.get.toString.toLong)
    val up = IcebergMeta.updateWhere(spark, root,
      Seq("cat" -> X(lit("v2"))),
      Some(X(col("k") === 8)))
    assert(rows(root) === (0L until 10L).map(k =>
      (k, if (k == 8) "v2" else "v1")))
    // stats targeting: the low-bounds file never rewrote
    assert(IcebergMeta.snapshot(root).files.map(_.recordedPath)
      .contains(loFile.recordedPath))
    // predicate matching nothing: same snapshot, no commit
    assert(IcebergMeta.updateWhere(spark, root,
      Seq("cat" -> X(lit("v3"))),
      Some(X(col("k") === 999))) === up)
    // the pre-update snapshot still reads in full
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", snap0.toString).load(root)
      .where(col("cat") === "v1").count() === 10)
  }

  test("updateWhere applies deletes first: hidden rows do not " +
    "reappear in the rewritten file") {
    val root = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 6).toDF("k").withColumn("cat", lit("a")), root)
    IcebergMeta.delete(spark, root, col("k") === 3)
    IcebergMeta.updateWhere(spark, root,
      Seq("cat" -> X(lit("b"))), Some(X(col("k") >= 2)))
    assert(rows(root) === Seq((0L, "a"), (1L, "a"), (2L, "b"),
      (4L, "b"), (5L, "b")))
  }

  test("record_count is the footer row count: DECIMAL/BOOLEAN files " +
    "survive compaction and UPDATE") {
    // neither column type records footer stats, so a count read off
    // the column stats would be 0 for every file
    def table(n: Int): String = {
      val root = tmp()
      IcebergMeta.writeFixture((1 to n).map(i => (i / 2.0 + 1, i % 2 == 0))
        .toDF("d", "b").select(col("d").cast("decimal(10,2)").as("d"),
          col("b")).repartition(2), root)
      root
    }
    def read(root: String): Seq[(java.math.BigDecimal, Boolean)] =
      spark.read.format("iceberg-meta").load(root)
        .as[(java.math.BigDecimal, Boolean)].collect().toSeq
        .sortBy(_._1)
    val root = table(4)
    val files = IcebergMeta.snapshot(root).files
    assert(files.map(_.records) ===
      files.map(f => spark.read.parquet(f.path).count()))
    assert(files.map(_.records).sum === 4)
    IcebergMeta.compact(spark, root)
    assert(read(root).map(_._1.toString) === Seq("1.50", "2.00", "2.50", "3.00"))
    val root3 = table(3)
    IcebergMeta.updateWhere(spark, root3, Seq("b" -> X(lit(true))),
      Some(X(col("d") === lit(new java.math.BigDecimal("1.50")))))
    assert(read(root3).map(r => (r._1.toString, r._2)) ===
      Seq(("1.50", true), ("2.00", true), ("2.50", false)))
  }
}
