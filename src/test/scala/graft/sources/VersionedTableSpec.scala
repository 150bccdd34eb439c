package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The table-format contract: snapshot isolation, time travel, atomic
  * commits under a race, compaction invisibility, vacuum bounds. */
class VersionedTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def newRoot(): String =
    Files.createTempDirectory("vtable").toString

  test("append/overwrite replay and time travel") {
    val root = newRoot()
    val v0 = VersionedTable.commit(Seq(1L, 2L).toDF("id"), root, "append")
    val v1 = VersionedTable.commit(Seq(3L).toDF("id"), root, "append")
    val v2 = VersionedTable.commit(Seq(9L).toDF("id"), root, "overwrite")
    val v3 = VersionedTable.commit(Seq(10L).toDF("id"), root, "append")
    assert(Seq(v0, v1, v2, v3) == Seq(0L, 1L, 2L, 3L))
    def ids(v: Long): Seq[Long] =
      VersionedTable.read(spark, root, Some(v))
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(0) == Seq(1L, 2L))
    assert(ids(1) == Seq(1L, 2L, 3L)) // append extends
    assert(ids(2) == Seq(9L)) // overwrite resets
    assert(ids(3) == Seq(9L, 10L))
    // latest == explicit max version
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(9L, 10L))
  }

  test("statsAggregate answers from metadata alone — even with the " +
      "data files gone — and refuses when stats could lie") {
    val root = newRoot()
    val df = spark.range(0, 1000)
      .select(col("id").as("k"),
        when(col("id") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("id") * 2).as("v"))
    VersionedTable.commit(df.filter(col("k") < 500).repartition(2), root)
    VersionedTable.commit(df.filter(col("k") >= 500).repartition(2), root)
    def agg() = VersionedTable.statsAggregate(spark, root, Seq("k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.get(3), r.get(4))).sortBy(_._1).toSeq
    val expected = Seq(
      ("k", 1000L, 0L, 0L, 999L),
      ("v", 1000L, 200L, 2L, 1998L)) // min over non-null: k=1 -> 2
    assert(agg() == expected)
    // the strong zero-read proof: delete every data file; the
    // metadata-only answer is unchanged while a scan now fails
    val dataDir = Paths.get(root, "data")
    Files.walk(dataDir).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    assert(agg() == expected)
    intercept[Exception] {
      VersionedTable.read(spark, root).collect()
    }
    // refusal rail 1: MOR tombstones make footer counts overcount
    val root2 = newRoot()
    VersionedTable.commit(
      spark.range(0, 100).select(col("id").as("k"), col("id").as("v")),
      root2)
    VersionedTable.deleteKeysMOR(spark, root2, "k",
      spark.range(0, 10).select(col("id").as("k")))
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.statsAggregate(spark, root2, Seq("k"))
    }
    assert(e1.getMessage.contains("tombstones"))
    // refusal rail 2: non-long stats column (string) is out of scope
    val root3 = newRoot()
    VersionedTable.commit(
      spark.range(0, 10).select(col("id").as("k"),
        concat(lit("s"), col("id")).as("s")), root3)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.statsAggregate(spark, root3, Seq("s"))
    }
    assert(e2.getMessage.contains("long-typed"))
  }

  test("mergeKeyedEvolve: schema widens atomically, untouched files " +
      "carry over by reference") {
    val root = newRoot()
    val base = spark.range(0, 800)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(base, root) // v0: 8 range-clustered files
    val v0Files = VersionedTable.snapshotFiles(root, 0L).toSet
    // CDC batch clustered in the low key range, with a NEW column
    val src = spark.range(0, 50)
      .select(col("id").as("k"), (col("id") * 10 + 1).as("v"),
        concat(lit("t"), col("id")).as("tag"))
    val v1 = VersionedTable.mergeKeyedEvolve(spark, root, src, "k")
    assert(v1 == 1L)
    // schema evolved: tag appended, nullable
    val sc = VersionedTable.tableSchema(root, v1).get
    assert(sc.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(sc("tag").nullable)
    // stats pruning held: most of v0's files survive by reference
    val v1Files = VersionedTable.snapshotFiles(root, v1).toSet
    assert((v0Files & v1Files).size >= 6,
      s"expected >=6 of 8 files untouched, kept ${(v0Files & v1Files).size}")
    // data: merged rows updated + tagged; untouched rows NULL tag
    val out = VersionedTable.read(spark, root)
    assert(out.count() == 800)
    assert(out.filter(col("tag").isNotNull).count() == 50)
    assert(out.filter(col("k") === 7).select(col("v"), col("tag"))
      .head() == org.apache.spark.sql.Row(71L, "t7"))
    assert(out.filter(col("k") === 700).select(col("v"), col("tag"))
      .head() == org.apache.spark.sql.Row(7000L, null))
    // widening-only rail: a source missing a table column is rejected
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeKeyedEvolve(spark, root,
        spark.range(0, 5).select(col("id").as("k"),
          lit("x").as("other")), "k")
    }
    assert(e.getMessage.contains("must cover every table column"))
  }

  test("cloneShallow: zero-copy create, independent evolution, " +
      "compaction materializes") {
    val src = newRoot()
    VersionedTable.commit(
      spark.range(0, 400).select(col("id").as("k"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("k")), src)
    val dst = newRoot()
    assert(VersionedTable.cloneShallow(src, dst) == 0L)
    // zero-copy: the clone owns no data files at all yet
    assert(!Files.isDirectory(Paths.get(dst, "data")))
    assert(VersionedTable.snapshotFiles(dst, 0L).forall(_.startsWith("ext:")))
    // reads agree with the source snapshot
    assert(VersionedTable.read(spark, dst).count() == 400)
    assert(VersionedTable.read(spark, dst).agg(sum(col("v"))).head.getLong(0)
      == VersionedTable.read(spark, src).agg(sum(col("v"))).head.getLong(0))
    // stats metadata cloned too: pruning works through ext refs
    val (keep, total) = VersionedTable.pruneFiles(dst, 0L,
      col("k").between(0L, 50L))
    assert(total == 4 && keep.size <= 1)
    // divergence: a delete on the clone rewrites only touched ext
    // files into LOCAL ones; the source is untouched
    VersionedTable.deleteRanges(spark, dst,
      Seq(("k", Some(0L), Some(99L))))
    assert(VersionedTable.read(spark, dst).count() == 300)
    assert(VersionedTable.read(spark, src).count() == 400)
    val afterDelete = VersionedTable.snapshotFiles(dst, 1L)
    assert(afterDelete.exists(_.startsWith("ext:")), "untouched files stay external")
    // the source is frozen at clone time: a later source commit is
    // invisible to the clone
    VersionedTable.commit(
      spark.range(1000, 1010).select(col("id").as("k"), lit(0L).as("v")),
      src)
    assert(VersionedTable.read(spark, dst).count() == 300)
    // compact materializes: no external references survive
    VersionedTable.compact(spark, dst, numFiles = 2)
    val latest = VersionedTable.latestVersion(dst)
    assert(VersionedTable.snapshotFiles(dst, latest)
      .forall(!_.startsWith("ext:")))
    assert(VersionedTable.read(spark, dst).count() == 300)
    // clone-target-must-be-empty rail
    intercept[IllegalArgumentException] {
      VersionedTable.cloneShallow(src, dst)
    }
  }

  test("fsck on a clone reports references the source reclaimed") {
    val src = newRoot()
    VersionedTable.commit(
      spark.range(0, 100).select(col("id").as("k")), src)
    val dst = newRoot()
    VersionedTable.cloneShallow(src, dst)
    assert(VersionedTable.fsck(dst).ok)
    // simulate a source-side vacuum that reclaims the files
    val dataDir = Paths.get(src, "data")
    Files.walk(dataDir).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    val report = VersionedTable.fsck(dst)
    assert(!report.ok && report.missingLatest.nonEmpty)
  }

  test("data skipping: selective range opens fewer files, same rows") {
    val root = newRoot()
    // range-clustered layout: 8 files with disjoint k ranges; s is a
    // zero-padded string key so string stats order == numeric order;
    // n is NULL in the low half (all-null in the low-range files)
    val df = spark.range(0, 8000)
      .select(col("id").as("k"),
        concat(lit("s"), lpad(col("id"), 5, "0")).as("s"),
        when(col("id") >= 4000, col("id")).as("n"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root)
    val (keep, total) = VersionedTable.pruneFiles(root, 0L,
      col("k").between(100L, 300L))
    assert(total == 8, s"expected 8 files, got $total")
    assert(keep.nonEmpty && keep.size <= 2,
      s"[100,300] should touch at most 2 of 8 range-clustered files, " +
        s"touched ${keep.size}")
    // the skipping read opens exactly the kept files and returns
    // exactly what a full-scan filter returns
    val skipped = VersionedTable.readPruned(spark, root,
      col("k").between(100L, 300L))
    assert(skipped.inputFiles.length == keep.size)
    val full = VersionedTable.read(spark, root)
      .filter(col("k").between(100, 300))
    assert(skipped.collect().map(_.getLong(0)).sorted.toSeq ==
      full.collect().map(_.getLong(0)).sorted.toSeq)
    // string stats prune too (UTF-8 byte order)
    val (keepS, _) = VersionedTable.pruneFiles(root, 0L,
      col("s").between("s00100", "s00300"))
    assert(keepS.size <= 2, s"string range touched ${keepS.size} files")
    // all-null files are skippable by any range on that column
    val (keepN, _) = VersionedTable.pruneFiles(root, 0L,
      col("n") >= 0L)
    assert(keepN.size <= 5,
      s"files where n is entirely NULL must be skipped, kept ${keepN.size}")
    assert(VersionedTable.readPruned(spark, root, col("n") >= 0L)
      .count() == 4000)
  }

  test("strict bounds prune the boundary file on BOTH read paths") {
    val root = newRoot()
    // two range-disjoint files: [0,999] and [1000,1999]
    (0 until 2).foreach { i =>
      VersionedTable.commit(spark.range(1000L * i, 1000L * (i + 1))
        .toDF("k").withColumn("v", col("k") * 2).coalesce(1), root)
    }
    spark.sql(s"CREATE TABLE strict_t USING graft OPTIONS (path '$root')")
    try {
      def planned(pred: String): (Int, Int) = {
        spark.sql(s"SELECT sum(v) FROM strict_t WHERE $pred").collect()
        Graft2DataSource.lastPlanned(root)
      }
      // the aligned-range pattern: `k > 999` can never match the low
      // file (max == 999) — strict pruning opens 1 of 2, where the
      // inclusive comparator used to open both
      assert(planned("k > 999") === ((1, 2)))
      assert(planned("k >= 999") === ((2, 2))) // inclusive keeps it
      assert(planned("k < 1000") === ((1, 2)))
      assert(planned("k <= 1000") === ((2, 2)))
      // answers unchanged (the pruned file had no qualifying rows)
      assert(spark.sql("SELECT count(*) FROM strict_t WHERE k > 999")
        .as[Long].head() === 1000L)
      // v1 path prunes identically
      spark.conf.set("spark.graft.readPath", "v1")
      try {
        val q = spark.sql("SELECT sum(v) FROM strict_t WHERE k > 999")
        assert(q.as[Long].head() ===
          (1000L until 2000L).map(_ * 2).sum)
        val idx = q.queryExecution.optimizedPlan.collectFirst {
          case org.apache.spark.sql.execution.datasources.LogicalRelation(
              r: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation, _, _, _, _) =>
            r.location.asInstanceOf[GraftFileIndex]
        }.get
        assert(idx.lastListing.get === ((1, 2)))
      } finally spark.conf.unset("spark.graft.readPath")
    } finally spark.sql("DROP TABLE IF EXISTS strict_t")
  }

  test("data skipping degrades safely: no stats -> no pruning") {
    val root = newRoot()
    // array column: unsupported type, no stats recorded
    val df = Seq((1L, Seq(1, 2)), (2L, Seq(3))).toDF("k", "arr")
    VersionedTable.commit(df, root)
    val (keep, total) = VersionedTable.pruneFiles(root, 0L,
      col("arr").between(0L, 1L))
    assert(keep.size == total, "stat-less column must never prune")
    // a manifest written BEFORE stats existed (simulated by stripping
    // stats lines) reads fine and prunes nothing
    val rootOld = newRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("k"), rootOld)
    val mf = Paths.get(rootOld, "_graft_log", "v00000.txt")
    val stripped = Files.readAllLines(mf).toArray.map(_.toString)
      .filterNot(_.startsWith("stats=")).mkString("", "\n", "\n")
    Files.writeString(mf, stripped)
    val (keepOld, totalOld) = VersionedTable.pruneFiles(rootOld, 0L,
      col("k") >= 100L)
    assert(keepOld.size == totalOld, "stats-free manifest must not prune")
    assert(VersionedTable.read(spark, rootOld).count() == 2)
  }

  test("data skipping stats survive overwrite/append replay") {
    val root = newRoot()
    VersionedTable.commit(
      spark.range(0, 100).select(col("id").as("k")), root) // v0
    VersionedTable.commit(
      spark.range(1000, 1100).select(col("id").as("k")), root) // v1 append
    // both versions' stats are live; [0,50] prunes v1's file
    val (keep, total) = VersionedTable.pruneFiles(root, 1L,
      col("k").between(0L, 50L))
    assert(total >= 2 && keep.size < total,
      s"append snapshot should prune the disjoint file ($keep of $total)")
    // overwrite resets the stat set along with the file set
    VersionedTable.commit(
      spark.range(5000, 5100).select(col("id").as("k")), root, "overwrite")
    val (keep2, total2) = VersionedTable.pruneFiles(root, 2L,
      col("k").between(0L, 50L))
    assert(keep2.isEmpty,
      s"post-overwrite snapshot holds only [5000,5100]; kept $keep2")
    assert(VersionedTable.readPruned(spark, root,
      col("k").between(0L, 50L)).count() == 0)
    // time travel still prunes against the OLD snapshot's stats
    assert(VersionedTable.readPruned(spark, root,
      col("k").between(0L, 50L), version = Some(1L)).count() == 51)
  }

  test("compactClustered: z-order makes BOTH dimensions prunable") {
    // 64×64 grid; a single-column sort would cluster x only — after
    // z-order compaction a selective range on EITHER column must
    // prune, and the conjunction must prune harder than each alone.
    val root = newRoot()
    val grid = spark.range(0, 64L * 64)
      .select(expr("id % 64").as("x"), expr("id div 64").as("y"))
    VersionedTable.commit(grid.repartition(4), root) // v0: unclustered
    VersionedTable.compact(spark, root, numFiles = 16,
      zorderBy = Some(("x", "y")), zorderBits = 6)
    val total = VersionedTable.snapshotFiles(
      root, VersionedTable.latestVersion(root)).size
    assert(total == 16)
    val (kx, _) = VersionedTable.pruneFiles(root, 1L,
      col("x").between(0L, 7L))
    val (ky, _) = VersionedTable.pruneFiles(root, 1L,
      col("y").between(0L, 7L))
    assert(kx.size < total, s"x range kept all $total files")
    assert(ky.size < total, s"y range kept all $total files")
    val both = VersionedTable.readPruned(spark, root,
      col("x").between(0L, 7L) && col("y").between(0L, 7L))
    assert(both.inputFiles.length <= math.min(kx.size, ky.size),
      "conjunction must prune at least as hard as each dimension")
    assert(both.count() == 64) // 8×8 corner, layout-independent
    // the unclustered version is still time-travel readable
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 64L * 64)
  }

  test("schema evolution: appends may add columns; reads fill NULLs " +
      "from metadata; drop/retype rejected") {
    val root = newRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    // add a column on append: allowed, schema comes from the manifest
    VersionedTable.commit(
      Seq((3L, "c", 30L)).toDF("k", "s", "extra"), root)
    val latest = VersionedTable.read(spark, root)
    assert(latest.columns.toSeq == Seq("k", "s", "extra"))
    val byK = latest.collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(byK(1L).isEmpty && byK(2L).isEmpty, "old rows must read NULL")
    assert(byK(3L).contains(30L))
    // time travel shows the OLD schema
    assert(VersionedTable.read(spark, root, Some(0L)).columns.toSeq ==
      Seq("k", "s"))
    // dropping a column under append is rejected
    val drop = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq(4L).toDF("k"), root)
    }
    assert(drop.getMessage.contains("missing or retyped"))
    // retyping a column under append is rejected
    val retype = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq(("5", "e", 50L)).toDF("k", "s", "extra"), root)
    }
    assert(retype.getMessage.contains("missing or retyped"))
    // overwrite may change the schema freely
    VersionedTable.commit(Seq(("x", 1.5)).toDF("name", "w"), root,
      "overwrite")
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("name", "w"))
  }

  test("type widening: append with int->bigint / float->double is " +
      "metadata-only; old files read up-cast; narrowing refuses") {
    val root = newRoot()
    VersionedTable.commit(
      Seq((1, 1.5f), (2, 2.5f)).toDF("n", "x").coalesce(1), root) // int, float
    val before = VersionedTable.state(root, 0L).files.toSet
    // the widening append: no existing file rewrites
    VersionedTable.commit(
      Seq((3L, 3.5d), (1L << 40, 4.5d)).toDF("n", "x").coalesce(1), root)
    val st = VersionedTable.state(root, 1L)
    assert(before.subsetOf(st.files.toSet), "widening rewrote files")
    // reads surface ONE widened schema; old rows up-cast exactly
    val out = VersionedTable.read(spark, root)
    assert(out.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(out.schema("x").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val byN = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byN(1L) === 1.5 && byN(3L) === 3.5 && byN(1L << 40) === 4.5)
    // stats-based skipping stays sound across the width change: a
    // probe above the old files' int range prunes them, finds the row
    val (kept, total) = VersionedTable.pruneFiles(root, 1L,
      col("n") >= (1L << 39))
    assert(total === 2 && kept.size === 1, s"got ${kept.size}/$total")
    // the widened schema is the new baseline: narrowing back refuses
    val narrow = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((9, 9.5d)).toDF("n", "x"), root)
    }
    assert(narrow.getMessage.contains("missing or retyped"))
    // and the datasource scan path reads the mixed-width files too
    val ds = spark.read.format("graft").load(root)
    assert(ds.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ds.filter(col("n") === 1L).count() === 1)
    assert(ds.count() === 4)
  }

  test("type widening round 8: decimal precision growth and " +
      "date->timestamp_ntz are metadata-only; scale change refuses") {
    val root = newRoot()
    VersionedTable.commit(spark.sql(
      """SELECT CAST(id AS DECIMAL(10,2)) AS amt, DATE'2021-03-04' AS d
        |FROM range(3)""".stripMargin).coalesce(1), root)
    val before = VersionedTable.state(root, 0L).files.toSet
    // widening append: decimal(10,2)->decimal(20,2), date->ntz
    VersionedTable.commit(spark.sql(
      """SELECT CAST(123456789012345.67 AS DECIMAL(20,2)) AS amt,
        |  TIMESTAMP_NTZ'2022-05-06 07:08:09' AS d""".stripMargin)
      .coalesce(1), root)
    val st = VersionedTable.state(root, 1L)
    assert(before.subsetOf(st.files.toSet), "widening rewrote files")
    val out = VersionedTable.read(spark, root)
    assert(out.schema("amt").dataType ===
      org.apache.spark.sql.types.DecimalType(20, 2))
    assert(out.schema("d").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(out.count() === 4)
    // old rows up-cast exactly: dates read as midnight NTZ
    val olds = out.filter(col("amt") < 10).orderBy("amt").collect()
    assert(olds.length === 3)
    assert(olds.head.getAs[java.time.LocalDateTime]("d") ===
      java.time.LocalDateTime.of(2021, 3, 4, 0, 0, 0))
    assert(out.filter(col("amt") > 1000000).count() === 1)
    // scale change is NOT widening (it changes values): refuses
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        spark.sql("""SELECT CAST(1 AS DECIMAL(20,4)) AS amt,
          |  TIMESTAMP_NTZ'2022-01-01 00:00:00' AS d""".stripMargin), root)
    }
    assert(e.getMessage.contains("missing or retyped"))
    // the datasource scan path reads the mixed files too
    assert(spark.read.format("graft").load(root).count() === 4)
  }

  test("deleteRanges: copy-on-write — untouched files carry over by " +
      "reference; NULLs survive; no-op delete commits nothing") {
    val root = newRoot()
    // 8 range-clustered files on k; x is NULL on odd k (null rows in
    // a ranged column must SURVIVE a delete on that column)
    val df = spark.range(0, 8000)
      .select(col("id").as("k"),
        when(col("id") % 2 === 0, col("id")).as("x"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root)
    val before = VersionedTable.snapshotFiles(root, 0L)
    assert(before.size == 8)
    // delete k in [1000, 1999] AND x non-null — touches ~1-2 files
    val v1 = VersionedTable.deleteRanges(spark, root, Seq(
      ("k", Some(1000L), Some(1999L)), ("x", Some(0L), None)))
    assert(v1 == 1L)
    val after = VersionedTable.snapshotFiles(root, 1L)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size >= 5,
      s"expected >= 5 of 8 files carried over untouched, got ${carried.size}")
    assert(after.toSet != before.toSet, "touched files must be rewritten")
    // NULL-x rows in the deleted k-range survive; non-null are gone
    val cur = VersionedTable.read(spark, root)
      .filter(col("k").between(1000, 1999))
    assert(cur.filter(col("x").isNotNull).count() == 0)
    assert(cur.filter(col("x").isNull).count() == 500)
    assert(VersionedTable.read(spark, root).count() == 8000 - 500)
    // time travel: the pre-delete snapshot is intact
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 8000)
    // stats survive the replace: a later skipping read still prunes
    val (keep2, total2) = VersionedTable.pruneFiles(root, 1L,
      col("k").between(7000L, 7500L))
    assert(keep2.size < total2)
    // a delete no file can match is metadata-only: same version back
    assert(VersionedTable.deleteRanges(spark, root,
      Seq(("k", Some(100000L), None))) == 1L)
    assert(VersionedTable.latestVersion(root) == 1L)
  }

  test("updateRanges: SET reads the pre-update row; untouched files " +
      "carry over; NULL in ranged column never matches") {
    val root = newRoot()
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), col("id").as("a"),
        (col("id") * 2).as("b"),
        when(col("id") % 2 === 0, col("id")).as("x"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root)
    val before = VersionedTable.snapshotFiles(root, 0L)
    // swap a and b where k in [1000,1999] — if SET were sequential,
    // a := b; b := a would make b the NEW a (i.e. b == old b)
    val v1 = VersionedTable.updateRanges(spark, root,
      Seq(("k", Some(1000L), Some(1999L))),
      Map("a" -> col("b"), "b" -> col("a")))
    assert(v1 == 1L)
    val carried = VersionedTable.snapshotFiles(root, 1L).toSet
      .intersect(before.toSet)
    assert(carried.size >= 5,
      s"expected >= 5 of 8 files untouched, got ${carried.size}")
    val in = VersionedTable.read(spark, root)
      .filter(col("k").between(1000, 1999))
    assert(in.filter(col("a") =!= col("k") * 2).count() == 0, "a := old b")
    assert(in.filter(col("b") =!= col("k")).count() == 0, "b := old a")
    val out = VersionedTable.read(spark, root)
      .filter(!col("k").between(1000, 1999))
    assert(out.filter(col("a") =!= col("k")).count() == 0)
    // NULL in a ranged column: x-range update must not touch NULL-x rows
    VersionedTable.updateRanges(spark, root,
      Seq(("k", Some(0L), Some(999L)), ("x", Some(0L), None)),
      Map("a" -> lit(-1L)))
    val low = VersionedTable.read(spark, root)
      .filter(col("k") < 1000)
    assert(low.filter(col("x").isNotNull && col("a") =!= -1L).count() == 0)
    assert(low.filter(col("x").isNull && col("a") === -1L).count() == 0,
      "NULL-x rows must keep their value")
    // SET on a column that doesn't exist is rejected
    val bad = intercept[IllegalArgumentException] {
      VersionedTable.updateRanges(spark, root,
        Seq(("k", Some(0L), Some(1L))), Map("nope" -> lit(0)))
    }
    assert(bad.getMessage.contains("missing"))
    // time travel still shows the original
    assert(VersionedTable.read(spark, root, Some(0L))
      .filter(col("a") =!= col("k")).count() == 0)
  }

  test("history: one row per commit with action/file/row accounting") {
    val root = newRoot()
    VersionedTable.commit(spark.range(0, 100).toDF("id"), root)
    VersionedTable.commit(spark.range(100, 150).toDF("id"), root)
    VersionedTable.deleteRanges(spark, root,
      Seq(("id", Some(0L), Some(9L))))
    val h = VersionedTable.history(spark, root)
      .orderBy(col("version")).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(h.map(_.getString(1)).toSeq ==
      Seq("append", "append", "replace"))
    assert(h(2).getInt(3) >= 1, "replace must record removed files")
    // rows written per commit come from manifest stats, no data read
    assert(h(0).getLong(4) == 100L && h(1).getLong(4) == 50L)
    assert(VersionedTable.read(spark, root).count() == 140)
  }

  test("commit race: exactly one writer wins a version") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root) // v0
    // two writers read basis v0 and both target v1; writer A lands first
    val basis = VersionedTable.latestVersion(root)
    val vA = VersionedTable.commit(Seq(2L).toDF("id"), root, "append",
      expected = Some(basis + 1))
    assert(vA == 1L)
    val race = intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commit(Seq(3L).toDF("id"), root, "append",
        expected = Some(basis + 1)) // writer B, stale basis
    }
    assert(race.getMessage.contains("concurrent commit"))
    // the loser's retry on the new basis succeeds; nothing was lost
    val vB = VersionedTable.commit(Seq(3L).toDF("id"), root, "append",
      expected = Some(VersionedTable.latestVersion(root) + 1))
    assert(vB == 2L)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("compaction rewrites the snapshot without changing its rows") {
    val root = newRoot()
    VersionedTable.commit(spark.range(100).toDF(), root)
    VersionedTable.commit(spark.range(100, 200).toDF(), root)
    val before = VersionedTable.read(spark, root)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    val cv = VersionedTable.compact(spark, root, numFiles = 1)
    val after = VersionedTable.read(spark, root)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(before == after, "compaction changed table content")
    assert(VersionedTable.snapshotFiles(root, cv).size == 1)
    // pre-compaction snapshot still time-travels
    assert(VersionedTable.read(spark, root, Some(cv - 1)).count() == 200)
  }

  test("merge commits a CDC upsert atomically on the current snapshot") {
    val root = newRoot()
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    // update 2, delete 3, insert 4
    val v = VersionedTable.merge(spark, root,
      Seq((2L, "B", false), (3L, "c", true), (4L, "d", false))
        .toDF("id", "v", "del"),
      key = "id", deleteCol = "del")
    val rows = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B"), (4L, "d")))
    // pre-merge snapshot still intact
    assert(VersionedTable.read(spark, root, Some(v - 1)).count() == 3)
  }

  test("mergeKeyed: stats-pruned upsert — disjoint files carry over " +
      "by reference; inserts land; empty source is a no-op") {
    val root = newRoot()
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root)
    val before = VersionedTable.snapshotFiles(root, 0L)
    assert(before.size == 8)
    // source: update k in [100, 199] (v -> -1), insert 10 negative keys
    val source = spark.range(100, 200)
        .select(col("id").as("k"), lit(-1L).as("v"))
      .unionByName(spark.range(0, 10)
        .select((col("id") - 1000000L).as("k"), lit(-2L).as("v")))
    val v1 = VersionedTable.mergeKeyed(spark, root, source, "k")
    assert(v1 == 1L)
    // key envelope [-999999, 199] touches only the lowest file(s)
    val after = VersionedTable.snapshotFiles(root, 1L)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size >= 6,
      s"expected >= 6 of 8 files carried by reference, got ${carried.size}")
    val cur = VersionedTable.read(spark, root)
    assert(cur.count() == 8010)
    assert(cur.filter(col("v") === -1L).count() == 100) // matched replaced
    assert(cur.filter(col("v") === -2L).count() == 10)  // inserts landed
    assert(cur.filter(col("k") === 150L).select("v").head().getLong(0) == -1L)
    assert(cur.filter(col("k") === 250L).select("v").head().getLong(0) == 2500L)
    // pre-merge snapshot intact; empty source commits nothing
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 8000)
    assert(VersionedTable.mergeKeyed(spark, root,
      source.filter(lit(false)), "k") == 1L)
    assert(VersionedTable.latestVersion(root) == 1L)
    // schema mismatch rejected
    intercept[IllegalArgumentException] {
      VersionedTable.mergeKeyed(spark, root,
        spark.range(1).select(col("id").as("k")), "k")
    }
    // a table that predates schema tracking (schema line stripped)
    // merges against its footer columns and stays untracked
    val rootOld = newRoot()
    VersionedTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), rootOld)
    val mf = Paths.get(rootOld, "_graft_log", "v00000.txt")
    Files.writeString(mf, Files.readAllLines(mf).toArray.map(_.toString)
      .filterNot(_.startsWith("schema=")).mkString("", "\n", "\n"))
    assert(VersionedTable.tableSchema(rootOld, 0L).isEmpty)
    VersionedTable.mergeKeyed(spark, rootOld,
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), "k")
    assert(VersionedTable.tableSchema(rootOld, 1L).isEmpty)
    assert(VersionedTable.read(spark, rootOld).select("k", "v")
      .as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 10L), (2L, 21L), (3L, 30L)))
  }

  test("streamingSink: replayed micro-batch commits exactly once") {
    val root = newRoot()
    val sink = VersionedTable.streamingSink(root)
    sink(Seq(1L, 2L).toDF("id"), 0L)
    sink(Seq(3L).toDF("id"), 1L)
    sink(Seq(3L).toDF("id"), 1L) // replay after simulated restart
    assert(VersionedTable.read(spark, root).count() == 3,
      "replayed batch double-committed")
    assert(VersionedTable.latestVersion(root) == 1L)
  }

  test("diff: CDC between snapshots, file-pruned") {
    val root = newRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "v"), root) // append
    VersionedTable.merge(spark, root,
      Seq((2L, "B", false)).toDF("id", "v", "del"), "id", "del") // update 2
    def changes(from: Long, to: Long): Set[(Long, String, String)] =
      VersionedTable.diff(spark, root, from, to).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // append-only step: inserts only
    assert(changes(0, 1) == Set((3L, "c", "insert")))
    // update step (overwrite commit): the changed row appears as a
    // delete+insert pair; untouched rows are absent
    assert(changes(1, 2) == Set((2L, "b", "delete"), (2L, "B", "insert")))
    // self-diff and full-range sanity
    assert(changes(2, 2).isEmpty)
    assert(changes(0, 2) ==
      Set((3L, "c", "insert"), (2L, "b", "delete"), (2L, "B", "insert")))
  }

  test("vacuum reclaims unreferenced data dirs, keeps retained versions") {
    val root = newRoot()
    VersionedTable.commit(spark.range(10).toDF(), root) // v0
    VersionedTable.commit(spark.range(10, 20).toDF(), root, "overwrite") // v1
    VersionedTable.commit(spark.range(20, 30).toDF(), root) // v2
    val dirsBefore = Files.list(Paths.get(root, "data")).count()
    assert(dirsBefore == 3)
    // age threshold first: a fresh (in-flight-aged) dir is NOT deleted
    VersionedTable.vacuum(root, retain = 1)
    assert(Files.list(Paths.get(root, "data")).count() == 3,
      "vacuum deleted a dir younger than the safety age")
    // explicit zero age (no live writers in this test) reclaims v0
    VersionedTable.vacuum(root, retain = 1, minAgeMs = 0)
    val dirsAfter = Files.list(Paths.get(root, "data")).count()
    assert(dirsAfter == 2, "v0's dir (only referenced below retain) survives")
    // retained snapshots unaffected
    assert(VersionedTable.read(spark, root, Some(1)).count() == 10)
    assert(VersionedTable.read(spark, root).count() == 20)
    // the off-by-one that would wipe the table is rejected
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(root, retain = VersionedTable.latestVersion(root) + 1,
        minAgeMs = 0)
    }
  }

  test("commit rejects an expected version that would gap the log") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root)
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq(2L).toDF("id"), root, "append",
        expected = Some(5L))
    }
  }

  test("checkpoint: 100-commit table resolves from checkpoint + suffix") {
    val root = newRoot()
    // 100 tiny commits at streaming-sink cadence
    (0 until 100).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("id"), root))
    // auto-checkpoints landed on the interval (every 10th commit)
    val ckpts = VersionedTable.checkpointVersions(root)
    assert(ckpts.nonEmpty && ckpts.last == 90,
      s"expected auto-checkpoints up to v90, got $ckpts")
    assert(VersionedTable.read(spark, root).count() == 100)
    assert(VersionedTable.read(spark, root, Some(42L)).count() == 43)
    // THE PROOF resolution uses checkpoint + suffix, not the full log:
    // truncate every manifest below the newest checkpoint — reads at
    // and above v90 must be unaffected because they never needed the
    // deleted prefix
    val removed = VersionedTable.truncateLog(root)
    assert(removed == 90, s"expected 90 manifests truncated, got $removed")
    assert(VersionedTable.read(spark, root).count() == 100)
    assert(VersionedTable.read(spark, root, Some(95L)).count() == 96)
    assert(VersionedTable.snapshotFiles(root, 99L).size == 100)
    // stats survive the checkpoint round-trip (pruning still works)
    val (keep, total) = VersionedTable.pruneFiles(root, 99L,
      col("id").between(5L, 5L))
    assert(total == 100 && keep.size == 1,
      s"stats through checkpoint should prune to 1 file, kept ${keep.size}")
    // time travel below the truncation horizon fails loudly, never
    // resolves wrong
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(50L)).count()
    }
    // new commits on the truncated table keep working (and the next
    // interval checkpoint still lands)
    VersionedTable.commit(Seq(100L).toDF("id"), root)
    assert(VersionedTable.read(spark, root).count() == 101)
  }

  test("CHECK constraints: enforced at commit, survive truncation, droppable") {
    val root = newRoot()
    VersionedTable.commit(
      Seq((1L, 5L), (2L, 9L)).toDF("k", "v"), root) // v0
    VersionedTable.addCheck(spark, root, "v_range", "v BETWEEN 0 AND 10")
    VersionedTable.addCheck(spark, root, "k_not_null", "k IS NOT NULL")
    assert(VersionedTable.checks(root).keySet == Set("v_range", "k_not_null"))
    // violating batch bounces; the table is untouched
    val before = VersionedTable.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((3L, 42L)).toDF("k", "v"), root)
    }
    assert(e.getMessage.contains("v_range"))
    assert(VersionedTable.latestVersion(root) == before)
    assert(VersionedTable.read(spark, root).count() == 2)
    // NULL in the checked column passes a CHECK (SQL semantics) but
    // not an IS NOT NULL constraint
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq((Option.empty[Long], Option(3L))).toDF("k", "v"), root)
    }
    assert(e2.getMessage.contains("k_not_null") &&
      !e2.getMessage.contains("v_range"))
    // clean batch commits
    VersionedTable.commit(Seq((3L, 7L)).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 3)
    // constraints survive checkpoint + truncateLog (state round-trip)
    (0 until 12).foreach(i =>
      VersionedTable.commit(Seq((100L + i, 1L)).toDF("k", "v"), root))
    VersionedTable.truncateLog(root)
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((4L, 99L)).toDF("k", "v"), root)
    }
    // cannot declare a constraint existing rows violate
    intercept[IllegalArgumentException] {
      VersionedTable.addCheck(spark, root, "v_tiny", "v < 5")
    }
    // dropped constraint stops binding
    VersionedTable.dropCheck(root, "v_range")
    VersionedTable.commit(Seq((5L, 99L)).toDF("k", "v"), root)
    assert(VersionedTable.checks(root).keySet == Set("k_not_null"))
  }

  test("timestamp time travel resolves the last commit at or before the instant") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root) // v0
    Thread.sleep(20)
    val betweenV0V1 = System.currentTimeMillis
    Thread.sleep(20)
    VersionedTable.commit(Seq(2L).toDF("id"), root) // v1
    Thread.sleep(20)
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v2
    assert(VersionedTable.versionAsOf(root, betweenV0V1) == 0L)
    assert(VersionedTable.readAsOfTimestamp(spark, root, betweenV0V1)
      .count() == 1)
    assert(VersionedTable.versionAsOf(root, System.currentTimeMillis) == 2L)
    // commit times are monotone non-decreasing over versions
    val ts = (0L to 2L).map(v => VersionedTable.commitTimestamp(root, v))
    assert(ts == ts.sorted)
    // an instant before the table existed fails loudly
    intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(root, ts.head - 1000L)
    }
  }

  test("truncateLog crash window: checkpoints-first order keeps reads correct") {
    val root = newRoot()
    (0 until 100).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("id"), root))
    // Simulate the state truncateLog's FIRST loop leaves behind on a
    // crash: older checkpoints deleted, every manifest still present.
    // Readers must degrade to full replay — correct answers at every
    // version, including ones the deleted checkpoints used to serve.
    val ckpts = VersionedTable.checkpointVersions(root)
    ckpts.filter(_ < ckpts.last).foreach { v =>
      Files.delete(Paths.get(root, "_graft_log", f"ckpt-v$v%05d.txt"))
    }
    assert(VersionedTable.read(spark, root, Some(85L)).count() == 86)
    assert(VersionedTable.read(spark, root, Some(42L)).count() == 43)
    assert(VersionedTable.read(spark, root).count() == 100)
  }

  test("changes() fails loudly when the range predates the truncated log") {
    val root = newRoot()
    (0 until 100).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("id"), root))
    VersionedTable.truncateLog(root) // manifests < 90 gone
    val latest = VersionedTable.latestVersion(root)
    // initial-load CDC (afterVersion = -1) can no longer be served —
    // it must error, not silently emit only the surviving suffix
    intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, root, -1L, latest)
    }
    // a range fully inside the surviving suffix still works
    assert(VersionedTable.changes(spark, root, 89L, latest)
      .count() == 10) // appends 90..99, one row each
    // first unavailable version below the horizon errors too
    intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, root, 50L, latest)
    }
  }

  test("exactly-once sink survives truncateLog via checkpointed batch tag") {
    val root = newRoot()
    val sink = VersionedTable.streamingSink(root)
    (0L to 9L).foreach(b => sink(Seq(b).toDF("id"), b)) // v0..v9, tagged
    assert(VersionedTable.read(spark, root).count() == 10)
    // an untagged maintenance commit lands v10 and auto-checkpoints;
    // the checkpoint must carry batchtag=9 harvested from the manifests
    VersionedTable.compact(spark, root, numFiles = 1) // v10
    assert(VersionedTable.checkpointVersions(root).contains(10L))
    // truncation deletes ALL tagged manifests (v0..v9); only the
    // untagged v10 survives
    VersionedTable.truncateLog(root)
    // restart re-delivers batch 9: the manifest scan proves nothing,
    // the checkpointed tag must prevent the double-commit
    sink(Seq(9L).toDF("id"), 9L)
    assert(VersionedTable.latestVersion(root) == 10L,
      "replayed batch 9 must NOT re-commit after truncateLog")
    assert(VersionedTable.read(spark, root).count() == 10)
    // a genuinely new batch still commits
    sink(Seq(10L).toDF("id"), 10L)
    assert(VersionedTable.latestVersion(root) == 11L)
    assert(VersionedTable.read(spark, root).count() == 11)
  }

  test("checkpoint drops tombfile entries for dead tombstones") {
    val root = newRoot()
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.commit(df, root) // v0
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(5L).toDF("k")) // v1
    assert(VersionedTable.snapshotTombstones(root, 1L).nonEmpty)
    // copy-on-write rewrite of the tombstoned file kills the tombstone
    // link; the sidecar-key entry is now dead state
    VersionedTable.deleteRanges(spark, root,
      Seq(("k", Some(0L), Some(1000L)))) // v2 (replace)
    assert(VersionedTable.snapshotTombstones(root, 2L).isEmpty)
    val cv = VersionedTable.checkpoint(root)
    val ckptLines = Files.readAllLines(
      Paths.get(root, "_graft_log", f"ckpt-v$cv%05d.txt"))
    assert(!ckptLines.asScala.exists(_.startsWith("tombfile=")),
      "checkpoint must not re-serialize sidecar keys no live file references")
    // and the checkpointed state still reads correctly
    assert(VersionedTable.read(spark, root).count() == 4000 - 1001)
  }

  test("merge-on-read delete: tombstone commit rewrites no data file") {
    val root = newRoot()
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root) // v0
    val filesBefore = VersionedTable.snapshotFiles(root, 0L)
    // point delete of two keys in different files
    val v1 = VersionedTable.deleteKeysMOR(spark, root, "k",
      Seq(5L, 4005L).toDF("k"))
    assert(v1 == 1L)
    // NO data file was written or removed — the file set is unchanged
    assert(VersionedTable.snapshotFiles(root, 1L) == filesBefore,
      "merge-on-read delete must not rewrite any data file")
    // tombstones attach ONLY to the stats-matching files (1 per key)
    val tombs = VersionedTable.snapshotTombstones(root, 1L)
    assert(tombs.nonEmpty && tombs.size <= 2,
      s"tombstone should apply to at most 2 of 8 files, got ${tombs.size}")
    // reads resolve the tombstone; time travel predates it
    assert(VersionedTable.read(spark, root).count() == 7998)
    assert(VersionedTable.read(spark, root)
      .filter(col("k").isin(5L, 4005L)).count() == 0)
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 8000)
    // skipping reads resolve it too
    assert(VersionedTable.readPruned(spark, root,
      col("k").between(0L, 10L)).count() == 10)
    // append-after-delete: a NEW row with a deleted key stays visible
    VersionedTable.commit(Seq((5L, 99L)).toDF("k", "v"), root) // v2
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 5L).count() == 1)
    // copy-on-write over a tombstoned file must not resurrect: delete
    // a range in the same file as k=5 (file rewrites, tombstone link
    // dies with it, deleted row stays deleted)
    VersionedTable.deleteRanges(spark, root,
      Seq(("k", Some(900L), Some(950L)))) // v3
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 4005L).count() == 0)
    assert(VersionedTable.read(spark, root).count() == 7999 - 51)
    // compaction folds tombstones in: state is tombstone-free after
    VersionedTable.compact(spark, root, numFiles = 2) // v4
    assert(VersionedTable.snapshotTombstones(root,
      VersionedTable.latestVersion(root)).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 7999 - 51)
    // stats-disjoint delete is a metadata-only no-op
    val basis = VersionedTable.latestVersion(root)
    assert(VersionedTable.deleteKeysMOR(spark, root, "k",
      Seq(999999L).toDF("k")) == basis)
  }

  test("merge-on-read delete: vacuum keeps live sidecars") {
    val root = newRoot()
    VersionedTable.commit(
      spark.range(0, 100).select(col("id").as("k")), root) // v0
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(7L).toDF("k")) // v1
    // sidecar dir is referenced by the retained snapshot — must survive
    VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
    assert(VersionedTable.read(spark, root).count() == 99,
      "vacuum must not reclaim a sidecar the live snapshot reads through")
    // after compaction folds the tombstone, the sidecar is vacuumable
    VersionedTable.compact(spark, root) // v2 overwrite
    VersionedTable.vacuum(root, retain = 2L, minAgeMs = 0L)
    assert(Files.list(Paths.get(root, "data")).count() == 1,
      "only the compacted dir should remain")
    assert(VersionedTable.read(spark, root).count() == 99)
  }

  test("null-count stats: IS NULL / IS NOT NULL prune files") {
    val root = newRoot()
    // range-clustered on k; n is NULL for the whole low half — so the
    // low-range files are all-null and the high-range files no-null
    val df = spark.range(0, 8000)
      .select(col("id").as("k"),
        when(col("id") >= 4000, col("id")).as("n"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root)
    val (keepNotNull, total) =
      VersionedTable.pruneFiles(root, 0L, col("n").isNotNull)
    val (keepNull, _) =
      VersionedTable.pruneFiles(root, 0L, col("n").isNull)
    assert(total == 8)
    // range boundaries need not land exactly on 4000 — at most ONE
    // straddling file may legitimately survive both directions
    assert(keepNotNull.size <= 5,
      s"all-null files must prune for IS NOT NULL, kept ${keepNotNull.size}")
    assert(keepNull.size <= 5,
      s"no-null files must prune for IS NULL, kept ${keepNull.size}")
    assert(keepNull.size + keepNotNull.size <= total + 1,
      "only a boundary-straddling file may be kept by both directions")
    // answers equal the full-scan filter exactly
    val notNull = VersionedTable.readPruned(spark, root,
      col("n").isNotNull)
    assert(notNull.inputFiles.length == keepNotNull.size)
    assert(notNull.count() == 4000)
    assert(VersionedTable.readPruned(spark, root,
      col("n").isNull).count() == 4000)
    // stat-less column: never prunes, still answers
    val (keepK, totalK) =
      VersionedTable.pruneFiles(root, 0L, col("nosuchcol").isNull)
    assert(keepK.size == totalK)
  }

  test("multi-writer stress: 8 concurrent committers, no lost update") {
    val root = newRoot()
    VersionedTable.commit(Seq(-1L).toDF("id"), root) // v0 seed
    val nWriters = 8
    val perWriter = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val tasks = (0 until nWriters).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            latch.await()
            (0 until perWriter).foreach { i =>
              val id = (w * 1000 + i).toLong
              var committed = false
              var attempts = 0
              while (!committed) {
                attempts += 1
                assert(attempts <= 200, "retry storm: commit never landed")
                try {
                  // optimistic concurrency: pin latest+1, retry on loss
                  VersionedTable.commit(Seq(id).toDF("id"), root, "append",
                    expected =
                      Some(VersionedTable.latestVersion(root) + 1))
                  committed = true
                } catch {
                  case _: VersionedTable.ConcurrentCommitException => ()
                }
              }
            }
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      latch.countDown()
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    // gap-free log: exactly 1 seed + 40 racing commits, contiguous
    val vs = VersionedTable.versions(root)
    assert(vs == (0L to (nWriters.toLong * perWriter)),
      s"log must be gap-free, got ${vs.take(50)}")
    // no lost update: every writer's every row is present exactly once
    val ids = VersionedTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = (-1L +: (for (w <- 0 until nWriters; i <- 0 until perWriter)
      yield (w * 1000 + i).toLong)).sorted
    assert(ids == expected, "a concurrent commit lost rows")
  }

  test("bloom index: point lookup opens fewer files, stays exact " +
      "through append/delete/rewrite") {
    val root = newRoot()
    // HASH layout: every file spans the whole key range, so min/max
    // stats cannot prune a point lookup — the case blooms exist for
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartition(8, col("k"))
    VersionedTable.commit(df, root) // v0
    val (keepRange, total) = VersionedTable.pruneFiles(root, 0L,
      col("k").between(4005L, 4005L))
    assert(total == 8 && keepRange.size == 8,
      "hash layout should defeat min/max pruning (precondition)")
    val v1 = VersionedTable.buildBloomIndex(spark, root, "k")
    assert(v1 == 1L)
    // the index is a data-free append: file set unchanged
    assert(VersionedTable.snapshotFiles(root, v1) ==
      VersionedTable.snapshotFiles(root, 0L))
    val (keep, tot) = VersionedTable.pruneFiles(root, v1, col("k") === 4005L)
    assert(tot == 8 && keep.size <= 2,
      s"bloom should prune a point lookup to <=2 of 8 files, kept ${keep.size}")
    assert(VersionedTable.readPruned(spark, root, col("k") === 4005L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((4005L, 4005L % 7)))
    // out-of-range probe: min/max stats finish it off entirely
    assert(VersionedTable.pruneFiles(root, v1, col("k") === 999999L)
      ._1.isEmpty)
    // checkpoint round-trips the index map
    VersionedTable.checkpoint(root)
    assert(VersionedTable.pruneFiles(root, v1, col("k") === 4005L)
      ._1.size <= 2)
    // an append WITHOUT an index is always read: new row surfaces
    VersionedTable.commit(Seq((4005L, 99L)).toDF("k", "v"), root) // v2
    assert(VersionedTable.readPruned(spark, root, col("k") === 4005L)
      .count() == 2)
    // merge-on-read delete: bloom keeps the file, anti-join drops the row
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(4005L).toDF("k")) // v3
    assert(VersionedTable.readPruned(spark, root, col("k") === 4005L).count() == 0)
    assert(VersionedTable.readPruned(spark, root, col("k") === 4006L).count() == 1)
    // rewrite: dead files' bloom entries die with them; lookups degrade
    // to reads, never to wrong answers
    VersionedTable.compact(spark, root, numFiles = 2) // v4
    val latest = VersionedTable.latestVersion(root)
    val (keepAfter, totAfter) =
      VersionedTable.pruneFiles(root, latest, col("k") === 4006L)
    assert(keepAfter.size == totAfter,
      "rewritten files have no index and must all be read")
    assert(VersionedTable.readPruned(spark, root, col("k") === 4006L).count() == 1)
    // reindex the compacted snapshot; vacuum keeps the live sidecars
    VersionedTable.buildBloomIndex(spark, root, "k") // v5
    VersionedTable.vacuum(root, retain = 5L, minAgeMs = 0L)
    assert(VersionedTable.pruneFiles(root, 5L, col("k") === 4006L)._1.size <= 1)
    assert(VersionedTable.readPruned(spark, root, col("k") === 4006L).count() == 1)
  }

  test("rename column: metadata-only, exact through every machinery") {
    val root = newRoot()
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root) // v0
    VersionedTable.deleteKeysMOR(spark, root, "k",
      Seq(4005L).toDF("k")) // v1: tombstone under the OLD name
    def dataDirs(): Long = Files.list(Paths.get(root, "data")).count()
    val dirsBefore = dataDirs()
    val v2 = VersionedTable.renameColumn(root, "k", "key")
    assert(v2 == 2L && dataDirs() == dirsBefore,
      "rename must not write data")
    assert(VersionedTable.columnMapping(root) == Map("key" -> "k"))
    // reads surface the new logical name; values and tombstones intact
    val cur = VersionedTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("key", "v"))
    assert(cur.count() == 7999)
    assert(cur.filter(col("key") === 4005L).count() == 0)
    // time travel reads the OLD name before the rename
    assert(VersionedTable.read(spark, root, Some(1L))
      .columns.toSeq == Seq("k", "v"))
    // stats pruning answers under the new name (stats stay physical)
    val (keep, total) = VersionedTable.pruneFiles(root, v2,
      col("key").between(100L, 300L))
    assert(total == 8 && keep.size <= 2,
      s"range pruning must survive the rename, kept ${keep.size}")
    assert(VersionedTable.readPruned(spark, root,
      col("key").between(100L, 300L)).count() == 201)
    // appends after the rename write the PHYSICAL name; reads logical
    VersionedTable.commit(Seq((4005L, 99L)).toDF("key", "v"), root) // v3
    assert(VersionedTable.read(spark, root)
      .filter(col("key") === 4005L).count() == 1)
    // copy-on-write delete under the new name
    VersionedTable.deleteRanges(spark, root,
      Seq(("key", Some(900L), Some(950L)))) // v4
    assert(VersionedTable.read(spark, root).count() == 8000 - 51)
    // bloom index + point lookup under the new name
    VersionedTable.buildBloomIndex(spark, root, "key") // v5
    val (keepEq, totEq) = VersionedTable.pruneFiles(root, 5L,
      col("key") === 4005L)
    assert(keepEq.size < totEq)
    assert(VersionedTable.readPruned(spark, root, col("key") === 4005L)
      .count() == 1)
    // appending a column named like the OLD physical name is rejected
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        spark.range(1).select(lit(1L).as("key"), lit(1L).as("v"),
          lit(1L).as("k")), root)
    }
    assert(e.getMessage.contains("collide"),
      s"expected a collision rejection, got: ${e.getMessage}")
    // checkpoint round-trips the mapping
    VersionedTable.checkpoint(root)
    assert(VersionedTable.read(spark, root).columns.head == "key")
    // CDC across the rename boundary aligns on the NEW name
    val feed = VersionedTable.changes(spark, root, -1L, 4L)
    assert(feed.columns.contains("key") && !feed.columns.contains("k"))
    // restore to the pre-rename snapshot brings the old name back
    VersionedTable.restore(root, 1L)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k", "v"))
    assert(VersionedTable.read(spark, root).count() == 7999)
    // and renaming v -> k is now legal again? no: physical k is still
    // held by... after restore colMap is empty (v1 predates the
    // rename), so k is just a normal column again
    assert(VersionedTable.columnMapping(root).isEmpty)
  }

  test("rename chain and rename-back collapse the mapping") {
    val root = newRoot()
    VersionedTable.commit(Seq((1L, "x")).toDF("a", "s"), root) // v0
    VersionedTable.renameColumn(root, "a", "b") // v1
    VersionedTable.renameColumn(root, "b", "c") // v2: chain a->b->c
    assert(VersionedTable.columnMapping(root) == Map("c" -> "a"))
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("c", "s"))
    VersionedTable.commit(Seq((2L, "y")).toDF("c", "s"), root) // v3
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // rename back to the physical name: identity entry collapses
    VersionedTable.renameColumn(root, "c", "a") // v4
    assert(VersionedTable.columnMapping(root).isEmpty)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("a", "s"))
    // overwrite re-baselines: rename then overwrite clears the map
    VersionedTable.renameColumn(root, "a", "z") // v5
    VersionedTable.commit(Seq((9L, "q")).toDF("z", "s"), root,
      "overwrite") // v6
    assert(VersionedTable.columnMapping(root).isEmpty)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("z", "s"))
    // a CHECK constraint blocks renaming the column it references
    VersionedTable.addCheck(spark, root, "zpos", "z > 0") // v7
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(root, "z", "w")
    }
  }

  test("drop column: metadata-only; physical name retired until overwrite") {
    val root = newRoot()
    VersionedTable.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "x"), root) // v0
    def dataDirs(): Long = Files.list(Paths.get(root, "data")).count()
    val dirsBefore = dataDirs()
    val v1 = VersionedTable.dropColumn(root, "x")
    assert(v1 == 1L && dataDirs() == dirsBefore, "drop must not write data")
    val cur = VersionedTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "s"))
    assert(cur.count() == 2)
    // time travel still reads the dropped column
    assert(VersionedTable.read(spark, root, Some(0L))
      .columns.toSeq == Seq("k", "s", "x"))
    // re-introducing the column would resurrect old bytes: rejected
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((3L, "c", 99L)).toDF("k", "s", "x"), root)
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
    // appends without it are normal
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), root) // v2
    assert(VersionedTable.read(spark, root).count() == 3)
    // CDC aligns the whole range to the final schema (no x)
    val feed = VersionedTable.changes(spark, root, -1L, 2L)
    assert(!feed.columns.contains("x"))
    assert(feed.filter(col("_change") === "insert").count() == 3)
    // retirement survives a checkpoint round-trip
    VersionedTable.checkpoint(root)
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((4L, "d", 1L)).toDF("k", "s", "x"), root)
    }
    // drop AFTER a rename retires the original physical name
    VersionedTable.renameColumn(root, "k", "key") // v3
    VersionedTable.dropColumn(root, "key") // v4: physical 'k' retired
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("s"))
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq(("e", 5L)).toDF("s", "k"), root)
    }
    // restore to the pre-drop snapshot brings column and values back
    VersionedTable.restore(root, 2L) // v5
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k", "s"))
    assert(VersionedTable.read(spark, root).count() == 3)
    // ...including the v2-era retirement of x
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((6L, "f", 1L)).toDF("k", "s", "x"), root)
    }
    // overwrite re-baselines: x may exist again afterwards
    VersionedTable.commit(
      Seq((7L, "g", 70L)).toDF("k", "s", "x"), root, "overwrite") // v6
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "s", "x"))
    // a CHECK constraint blocks dropping the column it references
    VersionedTable.addCheck(spark, root, "xpos", "x > 0") // v7
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(root, "x")
    }
  }

  test("fsck: reports missing files, broken time travel, orphan dirs") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v1
    val healthy = VersionedTable.fsck(root)
    assert(healthy.ok && healthy.missingLatest.isEmpty &&
      healthy.missingHistoric.isEmpty && healthy.orphanDirs.isEmpty,
      s"fresh table should be healthy: $healthy")
    assert(healthy.checkedVersions == Seq(0L, 1L))
    // an orphan dir (crashed writer / lost race) is reported, not fatal
    Files.createDirectories(Paths.get(root, "data", "vX-deadbeef"))
    val withOrphan = VersionedTable.fsck(root)
    assert(withOrphan.ok && withOrphan.orphanDirs == Seq("vX-deadbeef"))
    // vacuum breaks old time travel: historic missing, current fine
    VersionedTable.commit(Seq(9L).toDF("id"), root, "overwrite") // v2
    VersionedTable.vacuum(root, retain = 2L, minAgeMs = 0L)
    val vacuumed = VersionedTable.fsck(root)
    assert(vacuumed.ok, s"vacuumed table must stay ok: $vacuumed")
    assert(vacuumed.missingLatest.isEmpty)
    assert(vacuumed.missingHistoric.nonEmpty &&
      vacuumed.missingHistoric.forall(_._1 < 2L),
      s"vacuum should surface as broken historic travel: $vacuumed")
    // losing a CURRENT file is critical
    val live = VersionedTable.snapshotFiles(root, 2L).head
    Files.delete(Paths.get(root, live))
    val broken = VersionedTable.fsck(root)
    assert(!broken.ok && broken.missingLatest == Seq(live))
  }

  test("fsck hash chain: an edited historical manifest flags at its " +
      "successor; truncation leaves no false positives") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v1
    VersionedTable.commit(Seq(4L).toDF("id"), root) // v2
    assert(VersionedTable.fsck(root).chainBreaks.isEmpty)
    // tamper: rewrite a metadata line in v1 — no file goes missing,
    // so only the chain can catch it
    val m1 = Paths.get(root, "_graft_log", "v00001.txt")
    val doctored = new String(Files.readAllBytes(m1), "UTF-8")
      .replaceFirst("(?m)^ts=\\d+", "ts=1")
    Files.write(m1, doctored.getBytes("UTF-8"))
    val tampered = VersionedTable.fsck(root)
    assert(tampered.chainBreaks == Seq(2L) && !tampered.ok,
      s"edit to v1 must break v2's parent link: $tampered")
    // restore the original chain by re-linking: fix v1 back is not
    // possible (bytes unknown) — instead prove truncation hygiene on
    // a FRESH table: checkpoint + truncate, then the surviving suffix
    // still chain-verifies (the head's parent target is gone and is
    // skipped, not flagged)
    val root2 = newRoot()
    (0 to 5).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("id"), root2))
    VersionedTable.checkpoint(root2, Some(4L))
    VersionedTable.truncateLog(root2, Some(4L))
    val truncated = VersionedTable.fsck(root2)
    assert(truncated.chainBreaks.isEmpty && truncated.ok,
      s"truncated suffix must still verify: $truncated")
  }

  test("restore: metadata-only rollback preserving history") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v1
    VersionedTable.commit(Seq(99L).toDF("id"), root, "overwrite") // v2
    def dataDirs(): Long = Files.list(Paths.get(root, "data")).count()
    val dirsBefore = dataDirs()
    val rv = VersionedTable.restore(root, 1L) // v3 = snapshot of v1
    assert(rv == 3L)
    // metadata-only: no data dir written, no file read
    assert(dataDirs() == dirsBefore, "restore must not write data files")
    def ids(v: Option[Long]): Seq[Long] =
      VersionedTable.read(spark, root, v)
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(None) == Seq(1L, 2L, 3L), "restored state != v1 snapshot")
    // history preserved: the mistaken v2 is still time-travelable, and
    // the restore itself can be restored away
    assert(ids(Some(2L)) == Seq(99L))
    VersionedTable.restore(root, 2L) // v4
    assert(ids(None) == Seq(99L))
    // a later append builds on the restored snapshot
    VersionedTable.commit(Seq(100L).toDF("id"), root) // v5
    assert(ids(None) == Seq(99L, 100L))
  }

  test("restore re-establishes merge-on-read tombstones and stats") {
    val root = newRoot()
    val df = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(df, root) // v0
    VersionedTable.deleteKeysMOR(spark, root, "k",
      Seq(5L, 4005L).toDF("k")) // v1: tombstoned snapshot
    VersionedTable.commit(Seq((5L, 99L)).toDF("k", "v"), root) // v2
    val v3 = VersionedTable.restore(root, 1L)
    assert(v3 == 3L)
    // the restored snapshot still resolves its tombstones at read time
    assert(VersionedTable.read(spark, root).count() == 7998)
    assert(VersionedTable.read(spark, root)
      .filter(col("k").isin(5L, 4005L)).count() == 0)
    assert(VersionedTable.snapshotTombstones(root, v3).nonEmpty,
      "restore dropped the target snapshot's tombstones")
    // stats restored too: range pruning works on the restored version
    val (keep, total) = VersionedTable.pruneFiles(root, v3,
      col("k").between(100L, 300L))
    assert(total == 8 && keep.size <= 2,
      s"restored stats should prune to <=2 of 8 files, kept ${keep.size}")
    // restored state round-trips through a checkpoint
    VersionedTable.checkpoint(root)
    assert(VersionedTable.read(spark, root).count() == 7998)
  }

  test("restore: constraints roll back with the snapshot") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) // v0
    VersionedTable.addCheck(spark, root, "pos", "id > 0") // v1
    val v2 = VersionedTable.restore(root, 0L)
    assert(VersionedTable.checks(root).isEmpty,
      "restore to a pre-constraint snapshot must drop the constraint")
    // a batch the dropped constraint would have rejected now commits
    VersionedTable.commit(Seq(-1L).toDF("id"), root)
    assert(VersionedTable.read(spark, root).count() == 3)
    // and restoring forward re-adds it
    VersionedTable.restore(root, v2 - 1) // back to v1 state
    assert(VersionedTable.checks(root) == Map("pos" -> "id > 0"))
    intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq(-2L).toDF("id"), root)
    }
  }

  test("restore fails loudly on vacuumed or truncated targets") {
    val root = newRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(2L).toDF("id"), root, "overwrite") // v1
    VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.restore(root, 0L)
    }
    assert(e.getMessage.contains("vacuum"),
      s"expected a vacuumed-files error, got: ${e.getMessage}")
    // truncated target: state() guard must fire through restore
    val root2 = newRoot()
    (0 until 12).foreach(i =>
      VersionedTable.commit(Seq(i.toLong).toDF("id"), root2))
    VersionedTable.truncateLog(root2) // checkpoint at v10 exists
    intercept[IllegalArgumentException] {
      VersionedTable.restore(root2, 3L)
    }
  }

  // -------------------------------------------------------------------
  // Hidden partitioning ([[PartitionTransform]])
  // -------------------------------------------------------------------

  test("bucket partitioning: point lookup opens only the probe's " +
      "bucket, answer identical to a full read") {
    val root = newRoot()
    // ids in ARRIVAL order — every file's raw min/max spans the whole
    // domain, so min/max alone can prune nothing; bucket tags can
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") * 7 % 1000).as("v"))
    VersionedTable.commit(df, root, "overwrite",
      partitionBy = Some(PartitionTransform.Bucket(8, "k")))
    val (keep, total) = VersionedTable.pruneFiles(root, 0L, col("k") === 42L)
    assert(total == 8, s"expected 8 bucket files, got $total")
    assert(keep.size == 1, s"expected 1 surviving bucket, got ${keep.size}")
    val pruned = VersionedTable.readPruned(spark, root, col("k") === 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = VersionedTable.read(spark, root)
      .filter(col("k") === 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pruned == full && pruned.size == 1)
    // a probe for an absent key still prunes to its one bucket and
    // returns empty — never a wrong answer
    assert(VersionedTable.readPruned(spark, root, col("k") === 999999L)
      .count() == 0)
    // data files carry NO helper column — hidden means hidden
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k", "v"))
  }

  test("partition evolution: each file prunes under its own spec; " +
      "untagged files always read") {
    val root = newRoot()
    val a = spark.range(0, 1000).select(col("id").as("k"))
    val b = spark.range(1000, 2000).select(col("id").as("k"))
    val c = spark.range(2000, 2100).select(col("id").as("k"))
    VersionedTable.commit(a, root, "overwrite",
      partitionBy = Some(PartitionTransform.Bucket(4, "k")))   // v0: 4 files
    VersionedTable.commit(b, root, "append",
      partitionBy = Some(PartitionTransform.Bucket(8, "k")))   // v1: 8 files
    VersionedTable.commit(c.coalesce(1), root, "append")        // v2: untagged
    val (keep, total) = VersionedTable.pruneFiles(root, 2L, col("k") === 5L)
    assert(total == 13, s"expected 13 files, got $total")
    // probe 5: one bucket of 4, one bucket of 8 — but min/max stats
    // also exclude the v1 (k>=1000) and v2 (k>=2000) files entirely
    assert(keep.size == 1, s"expected 1 surviving file, got ${keep.size}: $keep")
    def probe(k: Long): Seq[Long] =
      VersionedTable.readPruned(spark, root, col("k") === k)
        .collect().map(_.getLong(0)).toSeq
    assert(probe(5L) == Seq(5L))
    assert(probe(1500L) == Seq(1500L)) // lives in a v1 bucket(8) file
    assert(probe(2050L) == Seq(2050L)) // lives in the untagged v2 file
    // the untagged v2 file survives any in-stats probe of its range
    val (keep2, _) = VersionedTable.pruneFiles(root, 2L, col("k") === 2050L)
    assert(keep2.size == 1)
  }

  test("partition tags round-trip through checkpoint, restore, clone, " +
      "and survive merge-on-read deletes") {
    val root = newRoot()
    val df = spark.range(0, 1200).select(col("id").as("k"),
      (col("id") % 10).as("v"))
    VersionedTable.commit(df, root, "overwrite",
      partitionBy = Some(PartitionTransform.Bucket(6, "k"))) // v0
    // push past the checkpoint cadence with tag-free appends
    (1 to 10).foreach(i => VersionedTable.commit(
      Seq((100000L + i, 0L)).toDF("k", "v"), root))
    assert(VersionedTable.checkpointVersions(root).nonEmpty)
    // resolution now runs checkpoint + suffix; bucket tags must survive
    val (keep, total) =
      VersionedTable.pruneFiles(root, 10L, col("k") === 7L)
    assert(total == 16 && keep.size == 1,
      s"expected 1/16 files after checkpointed resolve, got ${keep.size}/$total")
    // MOR delete keeps tags (rows only shrink — tag stays conservative)
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(7L).toDF("k"))
    assert(VersionedTable.readPruned(spark, root, col("k") === 7L)
      .count() == 0)
    val (keepMor, _) = VersionedTable.pruneFiles(
      root, VersionedTable.latestVersion(root), col("k") === 8L)
    assert(keepMor.size == 1)
    assert(VersionedTable.readPruned(spark, root, col("k") === 8L)
      .count() == 1)
    // restore back to v10 (pre-delete): tags re-established
    val rv = VersionedTable.restore(root, 10L)
    val (keepR, _) = VersionedTable.pruneFiles(root, rv, col("k") === 7L)
    assert(keepR.size == 1)
    assert(VersionedTable.readPruned(spark, root, col("k") === 7L)
      .count() == 1)
    // shallow clone: tags travel with the external references
    val cloneRoot = newRoot() + "_clone"
    VersionedTable.cloneShallow(root, cloneRoot)
    val (keepC, totalC) =
      VersionedTable.pruneFiles(cloneRoot, 0L, col("k") === 7L)
    assert(keepC.size == 1 && totalC == 16)
    assert(VersionedTable.readPruned(spark, cloneRoot, col("k") === 7L)
      .count() == 1)
  }

  test("fsck and vacuum treat a partitioned commit's nested dirs as " +
      "one referenced unit") {
    val root = newRoot()
    val df = spark.range(0, 500).select(col("id").as("k"))
    VersionedTable.commit(df, root, "overwrite",
      partitionBy = Some(PartitionTransform.Bucket(4, "k"))) // v0
    val report = VersionedTable.fsck(root)
    assert(report.ok && report.orphanDirs.isEmpty,
      s"partitioned commit misread as orphan/missing: $report")
    // compaction rewrites into an untagged layout; vacuum must reclaim
    // the nested partitioned dir without touching the live one
    VersionedTable.compact(spark, root) // v1 overwrite
    VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
    assert(VersionedTable.read(spark, root).count() == 500)
    val dataDirs = Files.list(Paths.get(root, "data")).iterator()
      .asScala.map(_.getFileName.toString).toSeq
    assert(dataDirs.size == 1 && dataDirs.head.startsWith("v1-"),
      s"vacuum left: $dataDirs")
    // after compaction the tags are gone (rewrite changes layout) —
    // pruning degrades to stats-only, still correct
    assert(VersionedTable.readPruned(spark, root, col("k") === 42L)
      .count() == 1)
  }

  test("changesKeyed: update pairs re-labeled, unpaired rows kept, " +
      "unchanged rows cancel") {
    val root = newRoot()
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .coalesce(1), root, "overwrite") // v0
    // v1: merge updates k=2, inserts k=4; k=1,3 carried unchanged
    VersionedTable.mergeKeyed(spark, root,
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), "k")
    // v2: plain delete (no pairing partner)
    VersionedTable.deleteRanges(spark, root,
      Seq(("k", Some(3L), Some(3L))))
    val rows = VersionedTable.changesKeyed(spark, root, -1L,
        VersionedTable.latestVersion(root), "k")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("_version")),
        r.getString(r.fieldIndex("_change")),
        r.getLong(r.fieldIndex("k")),
        r.getString(r.fieldIndex("v"))))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(rows == Seq(
      (0L, "insert", 1L, "a"),
      (0L, "insert", 2L, "b"),
      (0L, "insert", 3L, "c"),
      (1L, "insert", 4L, "d"),
      (1L, "update_postimage", 2L, "B"),
      (1L, "update_preimage", 2L, "b"),
      (2L, "delete", 3L, "c")), s"got: $rows")
    // same-commit delete+reinsert of an IDENTICAL row is a no-op in
    // the feed (multiset diff cancels it before classification)
    val root2 = newRoot()
    VersionedTable.commit(Seq((1L, "x")).toDF("k", "v"), root2)
    VersionedTable.mergeKeyed(spark, root2,
      Seq((1L, "x")).toDF("k", "v"), "k")
    assert(VersionedTable.changesKeyed(spark, root2, 0L, 1L, "k")
      .count() == 0)
  }

  test("trunc and day transforms: layout matches driver-side probe") {
    val root = newRoot()
    val df = Seq(
      ("2024-03-01", "alpha", -7L), ("2024-03-01", "alpine", 3L),
      ("2024-03-02", "beta", 10L), ("2024-03-02", "betamax", 19L),
      ("2024-03-03", "gamma", 20L))
      .toDF("d", "s", "x")
      .select(to_date(col("d")).as("d"), col("s"), col("x"))
    VersionedTable.commit(df, root, "overwrite",
      partitionBy = Some(PartitionTransform.Day("d")))
    val (kD, tD) = VersionedTable.pruneFiles(root, 0L,
      col("d") === java.sql.Date.valueOf("2024-03-02"))
    assert(tD == 3 && kD.size == 1, s"day prune: ${kD.size}/$tD")
    assert(VersionedTable.readPruned(spark, root,
      col("d") === java.sql.Date.valueOf("2024-03-02"))
      .count() == 2)
    // trunc over strings: prefix-1 buckets (a, b, g)
    val root2 = newRoot()
    VersionedTable.commit(df, root2, "overwrite",
      partitionBy = Some(PartitionTransform.Trunc(1, "s")))
    val (kS, tS) = VersionedTable.pruneFiles(root2, 0L, col("s") === "beta")
    assert(tS == 3 && kS.size == 1, s"trunc-str prune: ${kS.size}/$tS")
    assert(VersionedTable.readPruned(spark, root2, col("s") === "beta")
      .count() == 1)
    // trunc over ints: floored binning handles negatives (-7 -> -10)
    val root3 = newRoot()
    VersionedTable.commit(df, root3, "overwrite",
      partitionBy = Some(PartitionTransform.Trunc(10, "x")))
    val (kX, tX) = VersionedTable.pruneFiles(root3, 0L, col("x") === -7L)
    assert(tX == 4 && kX.size == 1, s"trunc-int prune: ${kX.size}/$tX")
    assert(VersionedTable.readPruned(spark, root3, col("x") === -7L)
      .count() == 1)
    // day() refuses a non-DATE column instead of zone-dependent layout
    val e = intercept[Exception] {
      VersionedTable.commit(df.select(col("s")), newRoot(), "overwrite",
        partitionBy = Some(PartitionTransform.Day("s")))
    }
    assert(e.getMessage.contains("DATE"))
  }
}
