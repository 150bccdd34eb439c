package graft.sources

import java.net.URLEncoder
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The graft log as a record: every commit kind writes the keys its
  * action owns (and each `file=` its size and stats), the three
  * restatements of a snapshot state (checkpoint, RESTORE, shallow
  * clone) agree with the fold they restate, and a log hand-written in
  * the established line forms resolves to the state it spells. */
class ManifestSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_manifest_").toString

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def logFile(root: String, name: String): Path =
    Paths.get(root, "_graft_log", name)

  private def lines(root: String, v: Long): Seq[String] =
    Files.readAllLines(logFile(root, f"v$v%05d.txt")).asScala.toSeq

  /** The keys of manifest `v`, without the publish stamp. */
  private def keysOf(root: String, v: Long): Set[String] =
    lines(root, v).map(_.takeWhile(_ != '=')).toSet -- Set("ts", "parent")

  /** Every `file=` of manifest `v` has exactly one `fsize=` and at least
    * one `stats=` line, and no size or stats line names another file. */
  private def assertFilesDescribed(root: String, v: Long): Unit = {
    val ls = lines(root, v)
    def cell0(k: String) = ls.filter(_.startsWith(k + "="))
      .map(l => java.net.URLDecoder.decode(
        l.drop(k.length + 1).split("\\|", -1).head, "UTF-8"))
    val files = ls.filter(_.startsWith("file=")).map(_.drop(5))
    val sizes = cell0("fsize")
    val stats = cell0("stats")
    files.foreach { f =>
      assert(sizes.count(_ == f) === 1, s"v$v: fsize lines for $f")
      assert(stats.contains(f), s"v$v: no stats line for $f")
    }
    assert((sizes ++ stats).toSet.subsetOf(files.toSet),
      s"v$v describes files it does not add")
  }

  test("every commit kind writes exactly the keys of its record") {
    val root = tmp()
    val base = Set("version", "action", "schema")
    val adds = base ++ Set("file", "fsize", "stats")
    def check(v: Long, keys: Set[String]): Unit = {
      assert(keysOf(root, v) === keys, s"keys of v$v")
      assertFilesDescribed(root, v)
    }
    val rows = spark.range(0, 40).select(col("id").as("k"),
      (col("id") % 5).as("v"), (col("id") * 2).as("w"))
    check(VersionedTable.commit(rows.repartition(2), root), adds)
    check(VersionedTable.commit(spark.range(40, 48).select(col("id").as("k"),
        lit(1L).as("v"), lit(2L).as("w")), root,
        partitionBy = Some(PartitionTransform.Bucket(2, "k"))),
      adds + "part")
    VersionedTable.streamingSink(root)(
      Seq((48L, 1L, 2L)).toDF("k", "v", "w"), 3L)
    check(VersionedTable.latestVersion(root), adds + "batch")
    check(VersionedTable.addCheck(spark, root, "k_pos", "k >= 0"),
      base + "check")
    check(VersionedTable.buildBloomIndex(spark, root, "k"),
      base + "bloomfile")
    check(VersionedTable.deleteKeysMOR(spark, root, "k", Seq(3L).toDF("k")),
      base ++ Set("tombfile", "tombapply"))
    check(VersionedTable.updateKeysMOR(spark, root, "k",
        Seq((4L, 9L, 9L)).toDF("k", "v", "w")),
      adds ++ Set("tombfile", "tombapply"))
    check(VersionedTable.deleteWhere(spark, root,
        org.apache.spark.sql.GraftColumnBridge.expression(col("k") === 10L)),
      adds + "remove")
    check(VersionedTable.addColumns(root,
        Seq(org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))), base)
    check(VersionedTable.renameColumn(root, "v", "v2"), base + "rename")
    check(VersionedTable.dropColumn(root, "w"), base + "dropcol")
    check(VersionedTable.dropCheck(root, "k_pos"), base + "dropcheck")
    // a RESTORE restates the target: its checks, and drops the ones
    // added since (the check dropped above is back at v3)
    val restored = VersionedTable.restore(root, 5L)
    check(restored, adds ++ Set("restore", "tombfile", "tombmap",
      "bloomfile", "part", "check"))
    check(VersionedTable.commit(rows, root, "overwrite"), adds)
    // the DSv2 INSERT path (staged files)
    spark.sql(s"CREATE TABLE manifest_t USING graft OPTIONS (path '$root')")
    try spark.sql("INSERT INTO manifest_t VALUES (100, 1, 2)")
    finally spark.sql("DROP TABLE manifest_t")
    check(VersionedTable.latestVersion(root), adds)
    // a copy-on-write UPDATE lands as a replace
    check(VersionedTable.updateRanges(spark, root,
        Seq(("k", Some(0L), Some(5L))), Map("v" -> lit(0L))),
      adds + "remove")
    // branch: clone anchor at v0 (restating the restored check),
    // squash append on publish
    val bp = VersionedTable.createBranch(root, "b1")
    assert(keysOf(bp, 0L) === adds ++ Set("clonesrc", "check"))
    VersionedTable.commit(Seq((200L, 1L, 2L)).toDF("k", "v", "w"), bp)
    check(VersionedTable.publishBranch(spark, root, "b1"), adds)
    // a shallow clone of the restored state carries its sidecars
    val dst = tmp()
    VersionedTable.cloneShallow(root, dst, Some(restored))
    assert(keysOf(dst, 0L) === adds ++ Set("clonesrc", "tombfile",
      "tombmap", "bloomfile", "part", "check"))
    // checkpoint: the checkpoint spellings, no action line
    val cv = VersionedTable.checkpoint(root, Some(restored))
    val ckptKeys = Files.readAllLines(logFile(root, f"ckpt-v$cv%05d.txt"))
      .asScala.map(_.takeWhile(_ != '=')).toSet
    assert(ckptKeys === Set("version", "batchtag", "schema", "file", "fsize",
      "stats", "tombfile", "tombmap", "bloom", "part", "check"))
    // imports: one overwrite of ext: references, with provenance
    val deltaRoot = tmp()
    DeltaLog.commit(spark.range(0, 8).toDF("k").coalesce(1), deltaRoot)
    val fromDelta = tmp()
    VersionedTable.importDelta(spark, deltaRoot, fromDelta)
    assert(keysOf(fromDelta, 0L) === adds + "importsrc")
    assertFilesDescribed(fromDelta, 0L)
    val iceRoot = tmp()
    IcebergMeta.writeFixture(spark.range(0, 8).toDF("k"), iceRoot)
    val fromIce = tmp()
    VersionedTable.importIceberg(spark, iceRoot, fromIce)
    assert(keysOf(fromIce, 0L) === adds + "importsrc")
    assertFilesDescribed(fromIce, 0L)
  }

  /** A table whose latest state has every kind of restated entry:
    * partition tags, a check, a bloom index, tombstones, a renamed
    * and a dropped column. Returns (root, latest version). */
  private def richTable(): (String, Long) = {
    val root = tmp()
    VersionedTable.commit(spark.range(0, 64).select(col("id").as("k"),
        (col("id") % 7).as("v"), (col("id") * 3).as("w")), root,
      partitionBy = Some(PartitionTransform.Bucket(4, "k")))
    VersionedTable.addCheck(spark, root, "k_pos", "k >= 0")
    VersionedTable.buildBloomIndex(spark, root, "k")
    VersionedTable.deleteKeysMOR(spark, root, "k", Seq(5L, 40L).toDF("k"))
    VersionedTable.renameColumn(root, "v", "v2")
    (root, VersionedTable.dropColumn(root, "w"))
  }

  test("checkpoint, RESTORE and shallow clone restate the folded state") {
    val (root, v) = richTable()
    val full = VersionedTable.state(root, v)
    assert(full.tombs.nonEmpty && full.blooms.nonEmpty && full.parts.nonEmpty &&
      full.checks.nonEmpty && full.colMap.nonEmpty && full.dropped.nonEmpty)
    assert(VersionedTable.checkpointVersions(root).isEmpty)
    val mid = VersionedTable.state(root, v - 2)
    // checkpoint + replay == full replay, at the checkpoint and after it
    VersionedTable.checkpoint(root, Some(v - 2))
    VersionedTable.invalidateStateCache(root)
    assert(VersionedTable.state(root, v - 2) === mid)
    assert(VersionedTable.state(root, v) === full)
    // restore(v) == state(v)
    val r = VersionedTable.restore(root, v)
    assert(VersionedTable.state(root, r) === full)
    val r2 = VersionedTable.restore(root, v - 2)
    assert(VersionedTable.state(root, r2) === mid)
    // a shallow clone == its source, every reference under ext:
    val dst = tmp()
    VersionedTable.cloneShallow(root, dst, Some(v))
    val abs = Paths.get(root).toAbsolutePath
    def ext(f: String) = s"ext:${abs.resolve(f)}"
    assert(VersionedTable.state(dst, 0L) === full.copy(
      files = full.files.map(ext),
      stats = full.stats.map { case (f, s) => ext(f) -> s },
      tombs = full.tombs.map { case (f, scs) => ext(f) -> scs.map(ext) },
      tombKey = full.tombKey.map { case (sc, k) => ext(sc) -> k },
      blooms = full.blooms.map { case ((f, c), sc) => (ext(f), c) -> ext(sc) },
      parts = full.parts.map { case (f, p) => ext(f) -> p },
      sizes = full.sizes.map { case (f, sz) => ext(f) -> sz }))
    assert(VersionedTable.read(spark, dst).orderBy("k").collect().toSeq ===
      VersionedTable.read(spark, root, Some(v)).orderBy("k").collect().toSeq)
  }

  test("a hand-written log in the established line forms resolves") {
    val root = tmp()
    Files.createDirectories(Paths.get(root, "_graft_log"))
    def write(name: String, ls: String*): Unit =
      Files.writeString(logFile(root, name), ls.mkString("", "\n", "\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val renamed = StructType(Seq(StructField("k", LongType),
      StructField("v2", LongType)))
    val (f0, f1, f4) = ("data/v0-aa/part-0.parquet",
      "data/v0-aa/part-1.parquet", "data/v4-bb/part-0.parquet")
    val sc = "data/tomb-v3-cc/part-0.parquet"
    val bf = "data/bloomidx-v2-dd/00000.bf"
    def stats(f: String, c: String, lo: Long, hi: Long) =
      s"stats=${enc(f)}|${enc(c)}|long|$lo|$hi|0|10"
    // v0..v2 as written before, then truncated below the checkpoint
    write("v00000.txt", "ts=1", "parent=genesis", "version=0",
      "action=overwrite", s"schema=${enc(schema.json)}", s"file=$f0",
      s"file=$f1", s"fsize=${enc(f0)}|100", s"fsize=${enc(f1)}|200",
      stats(f0, "k", 0, 9), stats(f1, "k", 10, 19),
      s"part=${enc(f0)}|${enc("bucket(2,k)")}|0")
    write("v00003.txt", "ts=4", "parent=x", "version=3", "action=delete-mor",
      s"schema=${enc(renamed.json)}", s"tombfile=${enc(sc)}|${enc("k")}",
      s"tombapply=${enc(f0)}")
    write("ckpt-v00003.txt", "version=3", "batchtag=7",
      s"schema=${enc(renamed.json)}", s"file=$f0", s"file=$f1",
      s"fsize=${enc(f0)}|100", s"fsize=${enc(f1)}|200",
      stats(f0, "k", 0, 9), stats(f1, "k", 10, 19),
      s"tombfile=${enc(sc)}|${enc("k")}", s"tombmap=${enc(f0)}|${enc(sc)}",
      s"check=${enc("k_pos")}|${enc("k >= 0")}",
      s"bloom=${enc(f1)}|${enc("k")}|${enc(bf)}",
      s"colmap=${enc("v2")}|${enc("v")}", s"dropcol=${enc("w")}",
      s"part=${enc(f0)}|${enc("bucket(2,k)")}|0")
    write("v00004.txt", "ts=5", "parent=y", "version=4", "action=append",
      s"schema=${enc(renamed.json)}", s"file=$f4", s"fsize=${enc(f4)}|300",
      stats(f4, "k", 20, 29), stats(f4, "v", 1, 1))
    Files.delete(logFile(root, "v00000.txt")) // truncated prefix
    val st = VersionedTable.state(root, 4L)
    assert(st.files === Vector(f0, f1, f4))
    assert(st.sizes === Map(f0 -> 100L, f1 -> 200L, f4 -> 300L))
    assert(st.stats(f0)("k") === VersionedTable.ColStats("long",
      Some("0"), Some("9"), 0L, 10L))
    assert(st.stats(f4).keySet === Set("k", "v"))
    assert(VersionedTable.tableSchema(root, 4L) === Some(renamed))
    assert(st.checks === Map("k_pos" -> "k >= 0"))
    assert(st.colMap === Map("v2" -> "v") && st.dropped === Set("w"))
    assert(st.tombs === Map(f0 -> Vector(sc)) && st.tombKey === Map(sc -> "k"))
    assert(st.blooms === Map((f1, "k") -> bf))
    assert(st.parts === Map(f0 -> ("bucket(2,k)", "0")))
    // the checkpoint's batchtag answers a replay the surviving
    // manifests cannot: batch 5 <= 7 was committed before truncation
    VersionedTable.streamingSink(root)(Seq((1L, 1L)).toDF("k", "v2"), 5L)
    assert(VersionedTable.latestVersion(root) === 4L)
    // a branch's v0 anchors it at its base through clonesrc=
    val bp = Paths.get(root, "_graft_branches", "b1", "_graft_log")
    Files.createDirectories(bp)
    Files.writeString(bp.resolve("v00000.txt"), Seq("ts=6",
      "parent=genesis", "version=0", "action=overwrite",
      s"clonesrc=${enc(root)}|3", s"schema=${enc(renamed.json)}")
      .mkString("", "\n", "\n"))
    assert(VersionedTable.branches(root) === Map("b1" -> (3L, 0L)))
  }
}
