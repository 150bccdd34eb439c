package graft.ext

import graft.SparkSpecBase
import graft.ops.{TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** The SQL function surface (SparkSessionExtensions.injectFunction)
  * must agree exactly with the DataFrame-API kernels it mirrors. */
class GraftExtensionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("graft_dot / graft_l2norm evaluate from spark.sql") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_l2norm(array(3.0d, 4.0d)) AS n").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
  }

  test("SQL functions match the Column-API kernels on real shapes") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g").toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val api = df.select(
      TextOps.minhashSig(TextOps.shingleHashes3(split(col("text"), " ")), 12)
        .as("mh"),
      TextOps.simhash16(TextOps.shingleHashes3(split(col("text"), " ")))
        .as("sh")).collect()
    val sql = spark.sql(
      """SELECT graft_minhash_sig(
        |    array_distinct(graft_shingle_hashes3(
        |      graft_polyhash_tokens(split(text, ' ')))), 12) AS mh,
        |  graft_simhash16(
        |    array_distinct(graft_shingle_hashes3(
        |      graft_polyhash_tokens(split(text, ' '))))) AS sh
        |FROM ext_docs""".stripMargin).collect()
    assert(api.map(_.getSeq[Long](0)).toSeq === sql.map(_.getSeq[Long](0)).toSeq)
    assert(api.map(_.getLong(1)).toSeq === sql.map(_.getLong(1)).toSeq)
  }

  test("vector SQL functions match the Column API bit-for-bit") {
    val vs = Seq(Seq(0.1, -2.5, 3.75, 1e-7), Seq(1.0, 1.0, 1.0, 1.0))
    val df = vs.map(Tuple1(_)).toDF("v")
    df.createOrReplaceTempView("ext_vecs")
    val api = df.select(
      VectorOps.dot(col("v"), col("v")).as("d"),
      VectorOps.hyperplaneBucket(col("v"), 8).as("b")).collect()
    val sql = spark.sql(
      "SELECT graft_dot(v, v) AS d, graft_hyperplane_bucket(v, 8) AS b " +
        "FROM ext_vecs").collect()
    assert(api.map(_.getDouble(0)).toSeq === sql.map(_.getDouble(0)).toSeq)
    assert(api.map(_.getLong(1)).toSeq === sql.map(_.getLong(1)).toSeq)
  }

  test("array<float> inputs get an implicit elementwise cast in SQL") {
    // The raw embeddings column is array<float>; without
    // ImplicitCastInputTypes the kernel would read 4-byte-packed data
    // as 8-byte doubles (garbage) or throw at runtime.
    val f = Seq(Tuple1(Seq(3.0f, 4.0f))).toDF("fv")
    f.createOrReplaceTempView("ext_floats")
    assert(spark.sql("SELECT graft_l2norm(fv) AS n FROM ext_floats")
      .head().getDouble(0) === 5.0)
    // integer arrays coerce to string arrays (standard implicit cast),
    // but a non-array input is an analysis error, not silent garbage
    assert(spark.sql("SELECT graft_polyhash_tokens(array('1', '2')) AS a")
      .head().getSeq[Long](0) ===
      spark.sql("SELECT graft_polyhash_tokens(array(1, 2)) AS a")
        .head().getSeq[Long](0))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_polyhash_tokens(42)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type") ||
      e.getMessage.toLowerCase.contains("cast"))
  }

  test("graft_l2distsq: exact integer distance from SQL, int coercion") {
    assert(spark.sql(
      "SELECT graft_l2distsq(array(3L, 0L), array(0L, 4L)) AS d")
      .head().getLong(0) === 25L)
    // array<int> coerces to array<bigint> via ImplicitCastInputTypes
    assert(spark.sql(
      "SELECT graft_l2distsq(array(1, 2), array(2, 4)) AS d")
      .head().getLong(0) === 5L)
    // dimension mismatch fails loudly, never a truncated distance
    val e = intercept[Exception] {
      spark.sql("SELECT graft_l2distsq(array(1L), array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("graft_count_in_set: literal set membership counting from SQL") {
    assert(spark.sql(
      "SELECT graft_count_in_set(split('the cat the dog', ' '), " +
        "array('the', 'dog')) AS c").head().getLong(0) === 3L)
  }

  test("non-literal cardinality parameter is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(array(1L), CAST(rand()*4 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("literal INT"))
  }

  test("graft_simhash(hs, bits): parameterized width from SQL") {
    val r = spark.sql(
      "SELECT graft_simhash(array(5L, 7L, 5L), 30) AS s30, " +
        "graft_simhash(array(5L, 7L, 5L), 16) AS s16, " +
        "graft_simhash16(array(5L, 7L, 5L)) AS legacy").head()
    // majority of {5,7,5} = 5 (101b): strict majority per bit
    assert(r.getLong(0) === 5L)
    // low 16 bits identical across widths; legacy name agrees
    assert((r.getLong(0) & 0xffffL) === r.getLong(1))
    assert(r.getLong(1) === r.getLong(2))
    // out-of-range width is an analysis-time error
    val e = intercept[Exception] {
      spark.sql("SELECT graft_simhash(array(1L), 63)").collect()
    }
    assert(e.getMessage.contains("[1, 62]") ||
      Option(e.getCause).exists(_.getMessage.contains("[1, 62]")))
  }

  test("GRAFT maintenance DDL: SQL surface over the versioned table") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_sql_").toString
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), root)
    // HISTORY: one row per commit, metadata-only
    val hist = spark.sql(s"GRAFT HISTORY '$root'")
    assert(hist.columns.toSeq.take(2) == Seq("version", "action"))
    assert(hist.select("version").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L))
    // RENAME COLUMN via SQL; reads see the new name
    spark.sql(s"GRAFT RENAME COLUMN k TO key IN '$root'")
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("key", "s"))
    // DROP COLUMN via SQL
    spark.sql(s"GRAFT DROP COLUMN s IN '$root'")
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("key"))
    // RESTORE via SQL rolls back both DDLs
    val r = spark.sql(s"GRAFT RESTORE '$root' VERSION AS OF 1").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 4L)
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "s"))
    // CHECKPOINT + FSCK report health through SQL
    spark.sql(s"GRAFT CHECKPOINT '$root'")
    val f = spark.sql(s"GRAFT FSCK '$root'").head()
    assert(f.getBoolean(0), s"fsck not ok: $f")
    // VACUUM executes (empty result set); current snapshot unharmed
    spark.sql(s"GRAFT VACUUM '$root' RETAIN 4 MIN AGE 0")
    assert(VersionedTable.read(spark, root).count() == 3)
    // the restore re-references every data dir, so vacuum had nothing
    // to reclaim and the table stays fully healthy
    val f2 = spark.sql(s"GRAFT FSCK '$root'").head()
    assert(f2.getBoolean(0) && f2.getInt(4) == 0, s"unexpected: $f2")
    // CLONE via SQL: zero-copy branch, then divergence-free read
    val cl = java.nio.file.Files
      .createTempDirectory("graft_sqlclone_").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(cl))
    assert(spark.sql(s"GRAFT CLONE '$root' TO '$cl'").head().getLong(0)
      == 0L)
    assert(VersionedTable.read(spark, cl).count() == 3)
    // STATS via SQL: metadata-only aggregates
    val st = spark.sql(s"GRAFT STATS '$root' COLUMNS k").head()
    assert(st.getString(0) == "k" && st.getLong(1) == 3L &&
      st.getLong(3) == 1L && st.getLong(4) == 3L, s"stats: $st")
    // TRUNCATE LOG via SQL (checkpoint exists from above)
    spark.sql(s"GRAFT CHECKPOINT '$root'")
    val tr = spark.sql(s"GRAFT TRUNCATE LOG '$root'").head()
    assert(tr.getInt(0) > 0, s"expected manifests removed, got $tr")
    assert(VersionedTable.read(spark, root).count() == 3)
    // plain SQL still parses through the delegating parser
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
    // malformed GRAFT statements fail with our grammar message
    val e = intercept[Exception] {
      spark.sql(s"GRAFT EXPLODE '$root'")
    }
    assert(e.getMessage.contains("unrecognized GRAFT"),
      s"got: ${e.getMessage}")
  }

  test("GRAFT OPTIMIZE: FILES, PARTITION BY, ZORDER BY via SQL") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlopt_").toString
    VersionedTable.commit(
      spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") % 50).as("x"),
          (col("id") % 37).as("y"))
        .repartition(6), root) // v0: 6 files, arrival order
    // FILES: bin-pack to 2 files
    spark.sql(s"GRAFT OPTIMIZE '$root' FILES 2")
    assert(VersionedTable.fsck(root).ok)
    assert(VersionedTable.read(spark, root).count() == 2000)
    // PARTITION BY (case/space-insensitive spec): point lookup on k
    // prunes to one bucket
    spark.sql(s"GRAFT OPTIMIZE '$root' PARTITION BY BUCKET(8, k)")
    val (keep, total) = VersionedTable.pruneFiles(
      root, VersionedTable.latestVersion(root), col("k") === 42L)
    assert(total == 8 && keep.size == 1, s"prune: ${keep.size}/$total")
    assert(VersionedTable.readPruned(spark, root, col("k") === 42L)
      .count() == 1)
    // ZORDER BY: conjunctive range pruning via 2-D clustering
    spark.sql(s"GRAFT OPTIMIZE '$root' ZORDER BY x, y FILES 4")
    val zr = VersionedTable.readPruned(spark, root,
      col("x").between(0L, 5L) && col("y").between(0L, 5L))
    assert(zr.count() ==
      VersionedTable.read(spark, root)
        .filter(col("x") <= 5 && col("y") <= 5).count())
    assert(VersionedTable.read(spark, root).count() == 2000)
  }

  test("graft_table / graft_changes table-valued functions") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_tvf_").toString
    graft.sources.VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    graft.sources.VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root)
    // snapshot + time travel straight from a FROM clause
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$root')")
      .as[Long].head() === 3)
    assert(spark.sql(
        s"SELECT CAST(sum(k) AS BIGINT) FROM graft_table('$root', 0)")
      .as[Long].head() === 3) // 1 + 2
    // WHERE over the TVF goes through the pruning datasource path
    assert(spark.sql(
        s"SELECT v FROM graft_table('$root') WHERE k = 3")
      .as[String].head() === "c")
    // CDC rows of (0, 1] — exactly the second commit, as inserts
    val changes = spark.sql(
      s"SELECT k, _change FROM graft_changes('$root', 0, 1)")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(changes.toSeq === Seq((3L, "insert")))
    // arguments must be literals: analysis-time failure, not silence
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$root', k)").collect()
    }
  }

  test("GRAFT DETAIL: one-row operational summary") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_detail_").toString
    graft.sources.VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    graft.sources.VersionedTable.deleteKeysMOR(spark, root, "k", Seq(1L).toDF("k"))
    graft.sources.VersionedTable.addCheck(spark, root, "k_pos", "k > 0")
    graft.sources.VersionedTable.createTag(root, "r1", Some(0L))
    val d = spark.sql(s"GRAFT DETAIL '$root'").head()
    assert(d.getLong(0) === 2L)   // version
    assert(d.getInt(1) >= 1)      // files
    assert(d.getLong(2) > 0L)     // bytes
    assert(d.getInt(3) === 1)     // tombstone sidecars
    assert(d.getInt(5) === 1)     // checks
    assert(d.getInt(6) === 1)     // tags
    assert(d.getInt(9) === 2)     // columns
  }
}
