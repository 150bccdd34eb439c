package graft.queries

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.{QueryDef, Tables}
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Lakehouse table-format catalog entries (SURVEY.md §2b north star:
  * "Spark reads/writes lakehouse formats"): the behaviors the real
  * Delta/Iceberg connectors would provide, exercised through
  * [[graft.sources.VersionedTable]] under the driver's differential
  * check. The data result of each entry is layout-independent by
  * construction (that is the POINT of a table format), so the DuckDB
  * oracle states the plain relational semantics over the raw tables
  * and the entry must reproduce it through the versioned layout —
  * commit protocol, manifest stats, and file pruning all sit in the
  * checked path.
  */
object Lakehouse {
  import Tables._

  val defs: Seq[QueryDef] = Seq(

    // DATA SKIPPING end-to-end: commit `orders` range-clustered on
    // o_orderkey (8 files with disjoint key ranges — the Z-order/
    // cluster-by layout a lakehouse table maintains), then answer a
    // selective key-range aggregate through the manifest's per-file
    // min/max stats. readPruned opens ONLY the files whose range
    // can match ([1, 1024] touches 1-2 of the 8 at every sf) — at
    // 100 TB this is the difference between a full-table scan and a
    // handful of file opens, decided from metadata alone before any
    // row is read. The oracle is the layout-free WHERE over the raw
    // table: pruning must be invisible in the answer (a wrong skip
    // loses rows; the harness would catch it as a hash mismatch).
    // VersionedTableSpec asserts the file-count side (scan touches
    // fewer files); integer-only aggregates keep the check exact.
    QueryDef(
      "q120_table_data_skipping",
      (s, d) => {
        val root = Files.createTempDirectory("graft_skip_").toString
        VersionedTable.commit(
          orders(s, d).repartitionByRange(8, col("o_orderkey")), root)
        VersionedTable.readPruned(s, root,
            col("o_orderkey").between(1L, 1024L))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 1 AND 1024
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // OPTIMIZE ZORDER + 2-D data skipping: lineitem committed, then
    // rewritten clustered on the Morton interleave of (l_partkey,
    // l_suppkey) — after which each file's min/max is a tight
    // bounding box in BOTH dimensions and a conjunctive range read
    // prunes multiplicatively (readPruned's rule keeps a file only
    // when both ranges can match it). This is the layout-maintenance +
    // metadata-pruning pair that keeps a 100 TB table's selective
    // scans at a handful of file opens; a single-column sort gives
    // one prunable dimension only (VersionedTableSpec measures the
    // difference). The oracle is the layout-free conjunctive WHERE:
    // clustering must never change the answer.
    QueryDef(
      "q125_zorder_skipping",
      (s, d) => {
        val root = Files.createTempDirectory("graft_zorder_").toString
        VersionedTable.commit(
          lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity")), root)
        VersionedTable.compact(s, root, numFiles = 8,
          zorderBy = Some(("l_partkey", "l_suppkey")), zorderBits = 21)
        VersionedTable.readPruned(s, root,
            col("l_partkey").between(1L, 200L) &&
              col("l_suppkey").between(1L, 40L))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_partkey")).as("max_part"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  min(l_partkey) AS min_part, max(l_partkey) AS max_part
             |FROM lineitem
             |WHERE l_partkey BETWEEN 1 AND 200 AND l_suppkey BETWEEN 1 AND 40
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // SCHEMA EVOLUTION from manifest metadata: v0 commits two columns,
    // v1 appends with a third — reads resolve the schema from the
    // MANIFEST (no mergeSchema footer-listing pass over the table, the
    // cost that makes footer merging unusable at 100 TB), and v0's
    // rows surface the added column as NULL. The oracle states the
    // same union-with-null semantics over the raw table; count/sum
    // over the nullable column pin exactly which rows carry it. The
    // append-validation side (drop/retype rejected) lives in
    // VersionedTableSpec.
    QueryDef(
      "q127_schema_evolution",
      (s, d) => {
        val root = Files.createTempDirectory("graft_evo_").toString
        val o = orders(s, d)
        VersionedTable.commit(
          o.filter(col("o_orderkey") <= 1000)
            .select(col("o_orderkey"), col("o_orderstatus")), root)
        // ADD a column (as INT), then WIDEN it to BIGINT in a later
        // append — both metadata-only evolutions; reads must surface
        // one BIGINT schema with old INT files up-cast exactly
        VersionedTable.commit(
          o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 3000)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_custkey").cast("int").as("o_custkey")), root)
        VersionedTable.commit(
          o.filter(col("o_orderkey") > 3000)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_custkey")), root)
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            count(col("o_custkey")).as("n_with_cust"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_orderstatus, NULL AS o_custkey
             |  FROM orders WHERE o_orderkey <= 1000
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_custkey
             |  FROM orders WHERE o_orderkey > 1000)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  count(o_custkey) AS n_with_cust,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // COPY-ON-WRITE DELETE: orders committed range-clustered on
    // o_orderkey (8 files, disjoint key ranges), then
    // `DELETE WHERE o_orderkey BETWEEN 2000 AND 4000` — the manifest
    // stats prune first, so only the 1-2 files whose range overlaps
    // are read and rewritten; the rest CARRY OVER by reference in one
    // `replace` commit (VersionedTableSpec asserts the untouched
    // files keep their exact paths). At 100 TB this is a selective
    // delete rewriting a handful of files instead of the table —
    // Delta's DELETE shape. The pre-delete snapshot stays readable
    // (time travel), which the entry proves by aggregating BOTH
    // versions into one result; the oracle states both from the raw
    // table, delete-side as WHERE NOT BETWEEN.
    QueryDef(
      "q128_cow_delete",
      (s, d) => {
        val root = Files.createTempDirectory("graft_del_").toString
        VersionedTable.commit(
          orders(s, d).repartitionByRange(8, col("o_orderkey")), root)
        VersionedTable.deleteRanges(s, root,
          Seq(("o_orderkey", Some(2000L), Some(4000L))))
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_orderkey")).as("sum_key"))
            .withColumn("snapshot", lit(tag))
        agg(VersionedTable.read(s, root), "after_delete")
          .unionByName(agg(VersionedTable.read(s, root, Some(0L)), "v0"))
          .orderBy(col("snapshot"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'after_delete' AS snapshot
             |FROM orders WHERE o_orderkey NOT BETWEEN 2000 AND 4000
             |GROUP BY o_orderstatus
             |UNION ALL
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'v0' AS snapshot
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY snapshot, o_orderstatus""".stripMargin)),

    // COPY-ON-WRITE UPDATE (q128's sibling): same range-clustered
    // layout, `UPDATE SET o_orderstatus='X', o_custkey=o_custkey+1000000
    // WHERE o_orderkey BETWEEN 2000 AND 4000` — stats prune to the 1-2
    // overlapping files, which rewrite with the SET applied to
    // matching rows; everything else carries over by reference in the
    // `replace` commit. Both SET expressions read the PRE-update row
    // (SQL UPDATE semantics — the spec pins the swap case). The
    // oracle is the layout-free CASE projection over the raw table.
    QueryDef(
      "q133_cow_update",
      (s, d) => {
        val root = Files.createTempDirectory("graft_upd_").toString
        VersionedTable.commit(
          orders(s, d).repartitionByRange(8, col("o_orderkey")), root)
        VersionedTable.updateRanges(s, root,
          Seq(("o_orderkey", Some(2000L), Some(4000L))),
          Map("o_orderstatus" -> lit("X"),
            "o_custkey" -> (col("o_custkey") + 1000000L)))
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey BETWEEN 2000 AND 4000
             |         THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             |    CASE WHEN o_orderkey BETWEEN 2000 AND 4000
             |         THEN o_custkey + 1000000 ELSE o_custkey END
             |      AS o_custkey
             |  FROM orders)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM t GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // INCREMENTAL MATERIALIZED-VIEW MAINTENANCE over the table
    // format: base orders committed (v0), a batch appended (v1); the
    // MV (per-status count / sum / min / max) is brought current by
    // aggregating ONLY the CDC diff v0→v1 and algebraically merging
    // it into the stored MV — count+count, sum+sum, least/greatest —
    // never rescanning the base. On an append-only history `diff`
    // reads just the new files (zero comparison work), so at 100 TB
    // the refresh cost tracks the batch, not the table — the
    // incremental-refresh contract every warehouse MV promises. The
    // full-outer merge handles groups born in the batch. Exactness:
    // money sums in integer CENTS (floor(x*100+0.5)) — a float sum
    // merged in a different order than the oracle's could flip a
    // rounding boundary. The oracle states the MV definition over the
    // final table: maintenance must be invisible in the result.
    QueryDef(
      "q136_incremental_mv",
      (s, d) => {
        val root = Files.createTempDirectory("graft_mv_").toString
        val o = orders(s, d).withColumn("cents",
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        def mv(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("sum_cents"),
              min(col("o_orderkey")).as("min_key"),
              max(col("o_orderkey")).as("max_key"))
        VersionedTable.commit(o.filter(col("o_orderkey") <= 3000), root)
        val stored = mv(VersionedTable.read(s, root, Some(0L)))
        VersionedTable.commit(o.filter(col("o_orderkey") > 3000), root)
        val deltaAgg = mv(
          VersionedTable.diff(s, root, 0L, 1L)
            .filter(col("_change") === "insert").drop("_change"))
          .select(col("o_orderstatus"), col("n_orders").as("d_n"),
            col("sum_cents").as("d_sum"), col("min_key").as("d_min"),
            col("max_key").as("d_max"))
        stored.join(deltaAgg, Seq("o_orderstatus"), "full_outer")
          .select(col("o_orderstatus"),
            (coalesce(col("n_orders"), lit(0L)) +
              coalesce(col("d_n"), lit(0L))).as("n_orders"),
            (coalesce(col("sum_cents"), lit(0L)) +
              coalesce(col("d_sum"), lit(0L))).as("sum_cents"),
            least(col("min_key"), col("d_min")).as("min_key"),
            greatest(col("max_key"), col("d_max")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |    AS BIGINT) AS sum_cents,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // MERGE INTO, stats-pruned (Delta's MERGE shape — q71 is the
    // DataFrame algebra, this is the TABLE op): orders committed
    // range-clustered on o_orderkey (8 files), then one upsert batch
    // merges — keys 2000-2100 flip to status 'U' (matched → replace),
    // and 50 rows keyed BELOW the table's keyspace (o_orderkey −
    // 10,000,000, status 'N') insert. The source's key envelope
    // [−10M, 2100] overlaps only the low-range files, so the high ~6
    // of 8 files CARRY OVER by reference — never opened — and the one
    // `replace` commit holds the rewrite + inserts. Pruning is sound
    // because a file disjoint from the envelope can neither match a
    // source key nor shadow an insert; the oracle states the merged
    // semantics (CASE + UNION) layout-free.
    QueryDef(
      "q143_table_merge",
      (s, d) => {
        val root = Files.createTempDirectory("graft_merge_").toString
        val o = orders(s, d)
        VersionedTable.commit(
          o.repartitionByRange(8, col("o_orderkey")), root)
        val source =
          o.filter(col("o_orderkey").between(2000, 2100))
            .withColumn("o_orderstatus", lit("U"))
          .unionByName(
            o.filter(col("o_orderkey").between(1, 50))
              .withColumn("o_orderkey", col("o_orderkey") - 10000000L)
              .withColumn("o_orderstatus", lit("N")))
        VersionedTable.mergeKeyed(s, root, source, "o_orderkey")
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH merged AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey BETWEEN 2000 AND 2100
             |         THEN 'U' ELSE o_orderstatus END AS o_orderstatus
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderkey - 10000000 AS o_orderkey,
             |    'N' AS o_orderstatus
             |  FROM orders WHERE o_orderkey BETWEEN 1 AND 50)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM merged GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // VACUUM in the checked path: v0 commits the full table, v1
    // overwrites with the filtered mart, vacuum(retain=1) physically
    // reclaims v0's now-unreferenced data dir (minAgeMs=0 is safe
    // here — no concurrent writer). The entry then answers through
    // the post-vacuum snapshot AND reports `n_dirs_reclaimed`
    // (measured by listing, stated by the oracle as a literal), so
    // both sides of the contract sit under the hash check: the
    // current snapshot is untouched by vacuum, and exactly one dir —
    // v0's — is gone. Retention is the cost side of time travel: old
    // snapshots are only free until storage says otherwise, and the
    // safety rails (retain must exist; young dirs skipped) are what
    // keep the one destructive op from eating a live commit.
    QueryDef(
      "q144_vacuum_retention",
      (s, d) => {
        val root = Files.createTempDirectory("graft_vac_").toString
        val o = orders(s, d)
        VersionedTable.commit(o, root)
        VersionedTable.commit(
          o.filter(col("o_orderkey") <= 3000), root, "overwrite")
        def nDirs = {
          val dd = java.nio.file.Paths.get(root, "data")
          val st = Files.list(dd)
          try st.iterator().asScala.size finally st.close()
        }
        val before = nDirs
        VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
        val reclaimed = before - nDirs
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .withColumn("n_dirs_reclaimed", lit(reclaimed.toLong))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS n_dirs_reclaimed
             |FROM orders WHERE o_orderkey <= 3000
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // RESTORE (rollback-as-commit): v0 commits `orders` range-
    // clustered, v1 is a legitimate copy-on-write DELETE, v2 is the
    // "bad deploy" — an overwrite that clobbers the table with a tiny
    // corrupted mart. restore(1) rolls back to the v1 snapshot as a
    // NEW commit (v3) without reading or writing a single data file:
    // old dirs are immutable and stats/schema/tombstones are metadata,
    // so at 100 TB the rollback is a millisecond manifest write — the
    // operational escape hatch every production table needs (Delta
    // RESTORE TABLE ... VERSION AS OF). Both sides of the contract sit
    // under the hash: the restored snapshot answers exactly like the
    // pre-corruption table, AND the corrupted v2 stays time-travelable
    // (restore preserves history, it never erases it — erasure is
    // vacuum's job). Spec side (VersionedTableSpec): no data dir is
    // written, tombstones/stats/constraints roll back, vacuumed or
    // truncated targets fail loudly.
    QueryDef(
      "q188_restore_rollback",
      (s, d) => {
        val root = Files.createTempDirectory("graft_restore_").toString
        val o = orders(s, d)
        VersionedTable.commit(
          o.repartitionByRange(8, col("o_orderkey")), root) // v0
        // NOTE: at small sf the range may match no file, making the
        // delete a metadata-only no-op — track versions by RETURN
        // value, never by assumed arithmetic
        val vDel = VersionedTable.deleteRanges(s, root,
          Seq(("o_orderkey", Some(2000L), Some(4000L))))
        val vBad = VersionedTable.commit( // the bad deploy
          o.filter(col("o_orderkey") <= 100)
            .withColumn("o_orderstatus", lit("Z")),
          root, "overwrite")
        VersionedTable.restore(root, vDel)
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_orderkey")).as("sum_key"))
            .withColumn("snapshot", lit(tag))
        agg(VersionedTable.read(s, root), "restored")
          .unionByName(agg(VersionedTable.read(s, root, Some(vBad)),
            "bad_deploy"))
          .orderBy(col("snapshot"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'restored' AS snapshot
             |FROM orders WHERE o_orderkey NOT BETWEEN 2000 AND 4000
             |GROUP BY o_orderstatus
             |UNION ALL
             |SELECT 'Z' AS o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'bad_deploy' AS snapshot
             |FROM orders WHERE o_orderkey <= 100
             |ORDER BY snapshot, o_orderstatus""".stripMargin)),

    // BLOOM-FILTER FILE INDEX: `orders` committed HASH-partitioned on
    // o_custkey — the layout min/max stats cannot prune (every file
    // spans nearly the whole key range; this is what a table keyed by
    // arrival order or a high-cardinality id looks like at 100 TB).
    // buildBloomIndex makes one distributed pass (per-partition
    // filters merged per file — bloom union is bitwise OR, mergeable
    // like every sketch here) and registers one sidecar per file as a
    // data-free append; the point lookup then opens only the files
    // whose bloom says "maybe" (~1 of 8 + fpp stragglers) instead of
    // all of them. A false positive costs one extra file read; a miss
    // is impossible — so the oracle is the plain WHERE over the raw
    // table and any unsound skip surfaces as lost rows in the hash.
    // Spec side (VersionedTableSpec): file counts, rewrite
    // invalidation, checkpoint round-trip, vacuum retention.
    QueryDef(
      "q189_bloom_point_lookup",
      (s, d) => {
        val root = Files.createTempDirectory("graft_bloom_").toString
        VersionedTable.commit(
          orders(s, d).repartition(8, col("o_custkey")), root) // v0
        VersionedTable.buildBloomIndex(s, root, "o_custkey") // v1
        VersionedTable.readPruned(s, root, col("o_custkey") === 97L)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders WHERE o_custkey = 97
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // COLUMN MAPPING (RENAME without rewrite): commit range-clustered,
    // rename o_orderkey → order_id as a metadata-only manifest (the
    // parquet files keep the physical name forever — at 100 TB a
    // rename is a manifest write, not a table rewrite), then run a
    // copy-on-write DELETE against the NEW name: the stats pruning,
    // predicate, and rewrite all translate through the logical→
    // physical mapping, and the post-delete aggregate answers under
    // the new name. The oracle is the raw table with the delete
    // applied and the output aliased — any translation slip (wrong
    // stats key, un-aliased read, physical leak) breaks the hash.
    // Spec side (VersionedTableSpec): time travel under the old name,
    // tombstones/bloom/checkpoint/restore through the rename, the
    // physical-name collision rejection, rename chains.
    QueryDef(
      "q194_rename_column",
      (s, d) => {
        val root = Files.createTempDirectory("graft_ren_").toString
        VersionedTable.commit(
          orders(s, d).repartitionByRange(8, col("o_orderkey")), root) // v0
        VersionedTable.renameColumn(root, "o_orderkey", "order_id") // v1
        VersionedTable.deleteRanges(s, root,
          Seq(("order_id", Some(2000L), Some(4000L))))
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("order_id")).as("sum_id"),
            min(col("order_id")).as("min_id"),
            max(col("order_id")).as("max_id"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_id,
             |  min(o_orderkey) AS min_id, max(o_orderkey) AS max_id
             |FROM orders WHERE o_orderkey NOT BETWEEN 2000 AND 4000
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // DROP COLUMN (column mapping's other half): the bytes stay in the
    // live files, the logical schema stops projecting them, and the
    // physical name is retired against resurrection — another
    // metadata-only DDL a 100 TB table cannot afford as a rewrite.
    // The entry drops o_custkey, APPENDS under the narrowed schema
    // (schema evolution composing with the drop), and answers through
    // the post-drop read; the oracle never selects the dropped column
    // and unions the appended rows. Spec side: retirement/collision
    // rules, time travel, restore, checkpoint round-trip.
    QueryDef(
      "q195_drop_column",
      (s, d) => {
        val root = Files.createTempDirectory("graft_drop_").toString
        val o = orders(s, d)
        VersionedTable.commit(
          o.repartitionByRange(8, col("o_orderkey")), root) // v0
        VersionedTable.dropColumn(root, "o_custkey") // v1
        VersionedTable.commit( // v2: append under the narrowed schema
          o.filter(col("o_orderkey") <= 50)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("o_orderstatus", lit("N"))
            .drop("o_custkey"),
          root)
        VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_orderstatus FROM orders
             |  UNION ALL
             |  SELECT o_orderkey + 10000000 AS o_orderkey,
             |    'N' AS o_orderstatus
             |  FROM orders WHERE o_orderkey <= 50)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM t GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // METADATA-ONLY AGGREGATES: count(*)/null-count/min/max answered
    // purely from the manifest's footer-harvested stats — zero data
    // files opened (Delta's "SELECT COUNT(*) from the log"
    // optimization). The table spans two commits (4 files) so the
    // fold crosses manifests; o_custkey_n carries deterministic NULLs
    // so the null-count path is live, not vacuously zero. At 100 TB
    // this turns a full-table scan into an O(files) driver fold over
    // metadata already resident for planning. VersionedTableSpec
    // proves the zero-read claim the strong way: it DELETES the data
    // directory and the answer still comes back; and proves the
    // refusal rails (MOR tombstones, stats-less files) fail loudly
    // instead of under-counting. The oracle is the plain SQL the
    // metadata must reproduce exactly.
    QueryDef(
      "q204_stats_only_agg",
      (s, d) => {
        val root = Files.createTempDirectory("graft_statsagg_").toString
        val base = orders(s, d).select(col("o_orderkey"),
          when(col("o_custkey") % 7 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("o_custkey_n"))
        VersionedTable.commit(
          base.filter(col("o_orderkey") % 2 === 0).repartition(2), root)
        VersionedTable.commit(
          base.filter(col("o_orderkey") % 2 =!= 0).repartition(2), root)
        VersionedTable.statsAggregate(s, root,
            Seq("o_custkey_n", "o_orderkey"))
          .orderBy(col("col_name"))
      },
      Some("""WITH t AS (SELECT o_orderkey,
             |  CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END
             |    AS o_custkey_n FROM orders)
             |SELECT col_name, n_rows, n_nulls, min_v, max_v FROM (
             |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             |    count(*) - count(o_orderkey) AS n_nulls,
             |    min(o_orderkey) AS min_v, max(o_orderkey) AS max_v
             |  FROM t
             |  UNION ALL
             |  SELECT 'o_custkey_n', count(*),
             |    count(*) - count(o_custkey_n),
             |    min(o_custkey_n), max(o_custkey_n) FROM t)
             |ORDER BY col_name""".stripMargin)),

    // MERGE + AUTOMATIC SCHEMA EVOLUTION in one atomic commit (the
    // Delta autoMerge shape): a CDC batch carries a column the table
    // has never seen — updates land, inserts land, the new column is
    // appended to the schema, and every UNTOUCHED file stays
    // untouched (stats-pruned merge), its rows surfacing the new
    // column as NULL through the metadata-resolved read. At 100 TB
    // the alternative — rewrite the table to add a column — is the
    // difference between an O(CDC batch) commit and an O(table) one.
    // The oracle states the upsert + widening semantics in plain SQL;
    // the grouped aggregate over the evolved column makes both the
    // NULL-backfill rows and the merged rows visible in the answer.
    QueryDef(
      "q205_merge_evolve",
      (s, d) => {
        val root = Files.createTempDirectory("graft_mergevo_").toString
        VersionedTable.commit(
          orders(s, d).select(col("o_orderkey"), col("o_custkey"))
            .repartitionByRange(8, col("o_orderkey")), root)
        val src = orders(s, d).filter(col("o_orderkey") <= 100)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000L).as("o_custkey"),
            col("o_orderpriority").as("priority"))
          .unionByName(orders(s, d).filter(col("o_orderkey") <= 10)
            .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
              col("o_custkey"), lit("NEW").as("priority")))
        VersionedTable.mergeKeyedEvolve(s, root, src, "o_orderkey")
        VersionedTable.read(s, root)
          .groupBy(coalesce(col("priority"), lit("-")).as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("priority"))
      },
      Some("""WITH src AS (
             |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
             |    o_orderpriority AS priority
             |  FROM orders WHERE o_orderkey <= 100
             |  UNION ALL
             |  SELECT o_orderkey + 20000000, o_custkey, 'NEW'
             |  FROM orders WHERE o_orderkey <= 10),
             |merged AS (
             |  SELECT b.o_orderkey, b.o_custkey,
             |    CAST(NULL AS VARCHAR) AS priority
             |  FROM orders b
             |  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |  UNION ALL
             |  SELECT * FROM src)
             |SELECT coalesce(priority, '-') AS priority,
             |  count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM merged GROUP BY 1 ORDER BY priority""".stripMargin)),

    // SHALLOW CLONE + divergent evolution: the clone's v0 is one
    // metadata commit referencing the source's files in place (zero
    // bytes copied — at 100 TB, the difference between an instant
    // branch and a day of copying); a stats-pruned DELETE on the
    // clone then rewrites ONLY the touched files into clone-local
    // storage while the source stays byte-identical. The result
    // reads both sides to prove the isolation in the checked answer:
    // the clone shows the delete, the source does not. Oracle = the
    // layout-free restatement (clone side is the filtered aggregate,
    // source side the full one).
    QueryDef(
      "q206_shallow_clone",
      (s, d) => {
        val src = Files.createTempDirectory("graft_clsrc_").toString
        val dst = Files.createTempDirectory("graft_cldst_").toString
        VersionedTable.commit(
          customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
            .repartitionByRange(4, col("c_custkey")), src)
        VersionedTable.cloneShallow(src, dst)
        VersionedTable.deleteRanges(s, dst,
          Seq(("c_custkey", Some(1L), Some(100L))))
        val cloneAgg = VersionedTable.read(s, dst)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("c_custkey")).as("sum_key"))
          .withColumn("side", lit("clone"))
        val srcAgg = VersionedTable.read(s, src)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("c_custkey")).as("sum_key"))
          .withColumn("side", lit("source"))
        cloneAgg.unionByName(srcAgg)
          .select(col("side"), col("c_mktsegment"),
            col("n_cust"), col("sum_key"))
          .orderBy(col("side"), col("c_mktsegment"))
      },
      Some("""SELECT 'clone' AS side, c_mktsegment,
             |  count(*) AS n_cust,
             |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
             |FROM customer
             |WHERE NOT (c_custkey BETWEEN 1 AND 100)
             |   OR c_custkey IS NULL
             |GROUP BY c_mktsegment
             |UNION ALL
             |SELECT 'source', c_mktsegment, count(*),
             |  CAST(sum(c_custkey) AS BIGINT)
             |FROM customer GROUP BY c_mktsegment
             |ORDER BY side, c_mktsegment""".stripMargin)),

    // HIDDEN PARTITIONING (Iceberg partition transforms): `orders`
    // committed under `bucket(8, o_custkey)` — the writer lays files
    // out by the Murmur3 bucket of the key and tags each file with its
    // (transform, value) in the manifest; the query names only the
    // SOURCE column (`o_custkey = 97`), never the bucket. This is the
    // pruning class min/max stats cannot give: on an arrival-ordered
    // high-cardinality key every file's raw min/max spans the whole
    // domain, yet the bucket tag sends the point lookup to 1 of 8
    // files from metadata alone — bloom-grade skipping with zero
    // index bytes and zero false positives. The residual predicate
    // still applies, so the oracle is the layout-free WHERE; an
    // unsound prune surfaces as lost rows in the hash. Spec side
    // (VersionedTableSpec): file counts, hidden helper column
    // absence, checkpoint/restore/clone round-trip, trunc/day/
    // identity transforms, null-partition handling.
    QueryDef(
      "q212_hidden_partitioning",
      (s, d) => {
        val root = Files.createTempDirectory("graft_hpart_").toString
        VersionedTable.commit(orders(s, d), root, "overwrite",
          partitionBy =
            Some(graft.sources.PartitionTransform.Bucket(8, "o_custkey")))
        VersionedTable.readPruned(s, root, col("o_custkey") === 97L)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders WHERE o_custkey = 97
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // PARTITION-SPEC EVOLUTION: the spec is per FILE, not per table —
    // v0 lands under bucket(4, o_custkey), later ingests re-spec to
    // bucket(8, o_custkey) without touching a single old file (the
    // Iceberg evolution contract; Hive-style tables must rewrite
    // everything). A point lookup then prunes EACH file under the
    // transform it was written with: one bucket-of-4 file from v0,
    // one bucket-of-8 file from v1 — 2 of 12 files opened, and the
    // answer is the union the oracle states over the raw table. At
    // 100 TB this is what makes re-tuning bucket counts (the normal
    // response to table growth) a metadata decision instead of a
    // full rewrite.
    QueryDef(
      "q213_partition_evolution",
      (s, d) => {
        val root = Files.createTempDirectory("graft_pevo_").toString
        val o = orders(s, d)
        VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 0),
          root, "overwrite",
          partitionBy =
            Some(graft.sources.PartitionTransform.Bucket(4, "o_custkey")))
        VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 1),
          root, "append",
          partitionBy =
            Some(graft.sources.PartitionTransform.Bucket(8, "o_custkey")))
        VersionedTable.readPruned(s, root, col("o_custkey") === 97L)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_custkey = 97
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // CHANGE FEED WITH UPDATE IMAGES (Delta CDF row set): v0 seeds a
    // keyed table, v1 MERGEs a source that updates the overlapping
    // keys and inserts the rest; `changesKeyed` then emits the CDC
    // rows with a delete+insert of the same key in the same commit
    // re-labeled `update_preimage`/`update_postimage` — the
    // distinction an incremental MV or replication target needs
    // (subtract preimages, add postimages; or emit one UPDATE instead
    // of a FK-violating delete+insert). Unchanged rows carried
    // through the rewrite cancel BEFORE classification (multiset
    // diff), so the feed is change-volume-sized, and the classifier
    // is one window over the change rows — no self-join, no second
    // table read. The oracle restates each image set from the raw
    // table: pre = old values of overlapping keys, post = new values,
    // inserts = the non-overlap.
    QueryDef(
      "q214_change_feed_updates",
      (s, d) => {
        val root = Files.createTempDirectory("graft_cdf_").toString
        val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        VersionedTable.commit(
          o.filter(col("o_orderkey") <= 2000)
            .repartitionByRange(4, col("o_orderkey")), root) // v0
        VersionedTable.mergeKeyed(s, root,
          o.filter(col("o_orderkey").between(1500, 2500))
            .withColumn("o_custkey", col("o_custkey") + 10000L),
          "o_orderkey") // v1: updates 1500..2000, inserts 2001..2500
        VersionedTable.changesKeyed(s, root, -1L,
            VersionedTable.latestVersion(root), "o_orderkey")
          .groupBy(col("_version"), col("_change"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("_version"), col("_change"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey FROM orders
             |  WHERE o_orderkey <= 2000),
             |src AS (
             |  SELECT o_orderkey, o_custkey + 10000 AS o_custkey
             |  FROM orders WHERE o_orderkey BETWEEN 1500 AND 2500)
             |SELECT * FROM (
             |  SELECT 0 AS _version, 'insert' AS _change,
             |    count(*) AS n_rows,
             |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |    CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |  FROM base
             |  UNION ALL
             |  SELECT 1, 'insert', count(*),
             |    CAST(sum(o_orderkey) AS BIGINT),
             |    CAST(sum(o_custkey) AS BIGINT)
             |  FROM src WHERE o_orderkey > 2000
             |  UNION ALL
             |  SELECT 1, 'update_preimage', count(*),
             |    CAST(sum(o_orderkey) AS BIGINT),
             |    CAST(sum(o_custkey) AS BIGINT)
             |  FROM base WHERE o_orderkey >= 1500
             |  UNION ALL
             |  SELECT 1, 'update_postimage', count(*),
             |    CAST(sum(o_orderkey) AS BIGINT),
             |    CAST(sum(o_custkey) AS BIGINT)
             |  FROM src WHERE o_orderkey <= 2000
             |) ORDER BY _version, _change""".stripMargin)),

    // OPTIMIZE INTO A PARTITION LAYOUT: v0 ingests `orders` hashed on
    // the WRONG column (arrival-order stand-in: every file spans the
    // whole o_custkey domain, so a point lookup must open all 8);
    // compactPartitioned rewrites the snapshot under bucket(8,
    // o_custkey) as one overwrite commit, after which the same lookup
    // opens exactly 1 of 8 files from the manifest tags alone. The
    // before/after file counts are PART OF THE CHECKED RESULT (the
    // oracle pins 8-of-8 then 1-of-8), so a pruning regression — not
    // just a wrong answer — fails the hash. This is the retrofit
    // move: at 100 TB you don't re-ingest a mis-laid-out table, you
    // OPTIMIZE it into the layout its query pattern wants.
    QueryDef(
      "q216_partitioned_optimize",
      (s, d) => {
        val root = Files.createTempDirectory("graft_popt_").toString
        VersionedTable.commit(
          orders(s, d).repartition(8, col("o_orderkey")), root) // v0
        val before =
          VersionedTable.pruneFiles(root, 0L, col("o_custkey") === 97L)
        VersionedTable.compactPartitioned(s, root,
          graft.sources.PartitionTransform.Bucket(8, "o_custkey")) // v1
        val after =
          VersionedTable.pruneFiles(root, 1L, col("o_custkey") === 97L)
        VersionedTable.readPruned(s, root, col("o_custkey") === 97L)
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"))
          .select(
            lit(before._1.size.toLong).as("files_before"),
            lit(before._2.toLong).as("files_total_before"),
            lit(after._1.size.toLong).as("files_after"),
            lit(after._2.toLong).as("files_total_after"),
            col("n_orders"), col("sum_key"))
      },
      Some("""SELECT 8 AS files_before, 8 AS files_total_before,
             |  1 AS files_after, 8 AS files_total_after,
             |  count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders WHERE o_custkey = 97""".stripMargin)),

    // SPARK-NATIVE DATASOURCE read (graft.sources.GraftDataSource, the
    // Delta DeltaDataSource shape): the table is written through
    // `df.write.format("graft")` (full commit protocol — atomic
    // publish, stats harvest) and read back through
    // `spark.read.format("graft")`, where a custom FileIndex prunes
    // files from manifest min/max stats INSIDE Catalyst — the WHERE
    // below opens 1-2 of the 8 range-clustered files with no bespoke
    // readPruned call in sight, and everything downstream is stock
    // vectorized parquet + whole-stage codegen. The q120 semantics
    // through the engine-native path; GraftDataSourceSpec asserts the
    // file-count side. At 100 TB this is the surface users actually
    // touch: plain DataFrame/SQL reads, skipping for free.
    QueryDef(
      "q220_datasource_pruned_read",
      (s, d) => {
        val root = Files.createTempDirectory("graft_dsrc_").toString
        orders(s, d).repartitionByRange(8, col("o_orderkey"))
          .write.format("graft").mode("append").save(root)
        s.read.format("graft").load(root)
          .filter(col("o_orderkey").between(1, 1024))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 1 AND 1024
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // SQL over a CATALOG TABLE: `CREATE TABLE ... USING graft` then a
    // plain `SELECT ... WHERE` — zero engine-specific API in the query
    // text. The datasource registers through DataSourceRegister, the
    // catalog resolves it by short name, and the same manifest-stats
    // pruning drives the scan (the WHERE range keeps 1-2 of 8 files).
    // This is the serving-layer contract the reference meets with
    // Redshift Spectrum external schemas over S3
    // (external-table-queries.sql:4-8): register the lake table once,
    // query it as ordinary SQL forever after.
    QueryDef(
      "q221_sql_catalog_table",
      (s, d) => {
        val root = Files.createTempDirectory("graft_dcat_").toString
        orders(s, d).repartitionByRange(8, col("o_orderkey"))
          .write.format("graft").mode("append").save(root)
        val tbl = "g_tbl_" + java.util.UUID.randomUUID().toString.take(8)
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
        // spark.sql analyzes eagerly: the relation (and its snapshot)
        // is resolved HERE, so dropping the catalog name afterwards
        // doesn't disturb the returned plan.
        val out = s.sql(
          s"""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM $tbl WHERE o_orderkey BETWEEN 513 AND 2048
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM orders WHERE o_orderkey BETWEEN 513 AND 2048
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TIME TRAVEL through the datasource options: two commits land
    // through the native write path, then `versionAsOf` reads the
    // first snapshot while the default read sees both — the audit /
    // reproducibility read ("exactly what did the table hold when the
    // model trained?") as a read OPTION, not an API call. The oracle
    // restates both snapshots from the raw table by the commit
    // predicate: version resolution must be exact, not approximate.
    QueryDef(
      "q222_datasource_time_travel",
      (s, d) => {
        val root = Files.createTempDirectory("graft_dtt_").toString
        val src = orders(s, d).select(col("o_orderkey"))
        src.filter(col("o_orderkey") <= 3000)
          .write.format("graft").mode("append").save(root) // v0
        src.filter(col("o_orderkey") > 3000)
          .write.format("graft").mode("append").save(root) // v1
        val v0 = s.read.format("graft").option("versionAsOf", 0).load(root)
          .agg(count(lit(1)).as("n_v0"),
            sum(col("o_orderkey")).as("sum_v0"))
        val cur = s.read.format("graft").load(root)
          .agg(count(lit(1)).as("n_cur"),
            sum(col("o_orderkey")).as("sum_cur"))
        v0.crossJoin(cur) // 1 row × 1 row
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_orderkey <= 3000) AS n_v0,
             |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 3000) AS sum_v0,
             |  count(*) AS n_cur,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_cur
             |FROM orders""".stripMargin)),

    // SNAPSHOT TAGS + retention pinning (Iceberg refs): the training
    // snapshot is tagged, the table moves on (overwrite), and VACUUM
    // runs with a horizon that would reclaim the tagged snapshot's
    // files — but the tag PINS them, so "exactly what release-1
    // trained on" stays readable after retention. The tag read goes
    // through the datasource's tagAsOf option (name, not version
    // number — the operational handle). The oracle restates both
    // snapshots from the raw table: the pin must preserve the tagged
    // rows EXACTLY through the vacuum, not approximately.
    QueryDef(
      "q223_snapshot_tags",
      (s, d) => {
        val root = Files.createTempDirectory("graft_tags_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        VersionedTable.commit(
          src.filter(col("o_orderkey") <= 3000), root) // v0: the release
        VersionedTable.createTag(root, "release-1", Some(0L))
        VersionedTable.commit(src, root, "overwrite")  // v1: table moves on
        // retain only v1 — without the tag, v0's files would be gone
        VersionedTable.vacuum(root, retain = 1L, minAgeMs = 0L)
        val tagged = s.read.format("graft").option("tagAsOf", "release-1")
          .load(root)
          .agg(count(lit(1)).as("n_tag"),
            sum(col("o_custkey")).as("sum_tag"))
        val cur = s.read.format("graft").load(root)
          .agg(count(lit(1)).as("n_cur"),
            sum(col("o_custkey")).as("sum_cur"))
        tagged.crossJoin(cur) // 1 row × 1 row
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_orderkey <= 3000) AS n_tag,
             |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 3000) AS sum_tag,
             |  count(*) AS n_cur,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cur
             |FROM orders""".stripMargin)),

    // WRITE-AUDIT-PUBLISH: the ingest-quality workflow every 100 TB
    // lakehouse runs (Iceberg WAP). The daily batch stages on a
    // zero-copy BRANCH (a shallow clone under the table root), the
    // audit queries the branch like any table — main's readers never
    // see unaudited rows — and the publish lands every staged append
    // as ONE atomic squash commit on main, MOVING data files instead
    // of copying (a 10 TB publish is a metadata operation). The
    // audit here is the staged row count and a null-key scan; the
    // oracle restates the end state from the raw table: publish must
    // be exact, with the staged rows' stats intact for later pruning.
    QueryDef(
      "q224_wap_branch",
      (s, d) => {
        val root = Files.createTempDirectory("graft_wap_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        VersionedTable.commit(
          src.filter(col("o_orderkey") <= 3000), root) // main v0
        val bp = VersionedTable.createBranch(root, "daily")
        VersionedTable.commit(
          src.filter(col("o_orderkey") > 3000), bp)    // staged
        // AUDIT on the branch (main still unaudited-row-free here)
        val staged = VersionedTable.read(s, bp)
          .filter(col("o_orderkey") > 3000)
        val audit = staged.agg(
          count(lit(1)).as("n_staged"),
          count(when(col("o_custkey").isNull, 1)).as("n_null_keys")).head()
        require(audit.getLong(1) == 0, "audit failed: staged null keys")
        VersionedTable.publishBranch(s, root, "daily")
        s.read.format("graft").load(root)
          .agg(count(lit(1)).as("n_main"),
            sum(col("o_custkey")).as("sum_main"))
          .select(lit(audit.getLong(0)).as("n_staged"),
            col("n_main"), col("sum_main"))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_orderkey > 3000)
             |    AS n_staged,
             |  count(*) AS n_main,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_main
             |FROM orders""".stripMargin)),

    // RIGHT-TO-BE-FORGOTTEN, end to end — the compliance flow a real
    // lakehouse must run, composed from the format's own pieces:
    // (1) deleteKeysMOR erases the users LOGICALLY in one tombstone
    // commit (no rewrite — instant, however big the table);
    // (2) the CDC reader emits exactly the forgotten rows as deletes,
    // notifying downstream consumers/incremental MVs;
    // (3) REORG PURGE rewrites ONLY the tombstoned files (megabytes,
    // not the 100 TB table), folding the deletes into fresh bytes;
    // (4) vacuum reclaims the superseded dirs and sidecars — after
    // which the bytes are physically gone, which is what the
    // regulation means by "forgotten". The oracle states SQL DELETE
    // semantics: every stage must preserve exactly the non-forgotten
    // rows.
    QueryDef(
      "q227_forget_flow",
      (s, d) => {
        val root = Files.createTempDirectory("graft_rtbf_").toString
        VersionedTable.commit(
          orders(s, d).select(col("o_orderkey"), col("o_custkey"))
            .repartitionByRange(8, col("o_orderkey")), root) // v0
        VersionedTable.deleteKeysMOR(s, root, "o_custkey",
          s.range(0, 2).select((col("id") * 6 + 7).as("o_custkey"))) // 7, 13
        val forgotten = VersionedTable.changes(s, root, 0L, 1L)
          .filter(col("_change") === "delete")
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_gone")).head()
        val purged = VersionedTable.purgeTombstones(s, root) // v2
        VersionedTable.vacuum(root, retain = purged, minAgeMs = 0L)
        s.read.format("graft").load(root) // reads post-vacuum, no MOR gate
          .agg(count(lit(1)).as("n_cur"),
            sum(col("o_orderkey")).as("sum_cur"))
          .select(lit(forgotten.getLong(0)).as("n_forgotten"),
            lit(forgotten.getLong(1)).as("sum_forgotten"),
            col("n_cur"), col("sum_cur"))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_custkey IN (7, 13))
             |    AS n_forgotten,
             |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
             |     WHERE o_custkey IN (7, 13)) AS sum_forgotten,
             |  count(*) AS n_cur,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_cur
             |FROM orders WHERE o_custkey NOT IN (7, 13)""".stripMargin)),

    // CDC in PURE SQL: the incremental-MV delta computed from the
    // graft_changes TABLE-VALUED FUNCTION — no API calls in the query
    // text at all. The table takes an append then a COW delete; the
    // SQL reads each commit's change rows from the FROM clause and
    // folds signed deltas (+insert / -delete) per status, which must
    // reconcile exactly with the full snapshot recomputed from
    // graft_table — the MV-maintenance identity Δ(agg) = agg(Δ),
    // checked by the oracle restating both sides relationally. Cost
    // scales with the CHANGED rows (appends read only their new
    // files), the property that makes incremental maintenance viable
    // against a 100 TB base table.
    QueryDef(
      "q228_sql_cdc_delta",
      (s, d) => {
        val root = Files.createTempDirectory("graft_cdcsql_").toString
        val src = orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"))
        VersionedTable.commit(
          src.filter(col("o_orderkey") <= 3000), root)             // v0
        VersionedTable.commit(
          src.filter(col("o_orderkey") > 3000), root)              // v1
        VersionedTable.deleteRanges(s, root,
          Seq(("o_orderkey", Some(1L), Some(512L))))               // v2
        s.sql(
          s"""SELECT c.o_orderstatus,
             |  CAST(sum(CASE WHEN c._change = 'insert' THEN 1 ELSE -1 END)
             |    AS BIGINT) AS delta_n,
             |  t.n_now
             |FROM graft_changes('$root', 0, 2) c
             |JOIN (SELECT o_orderstatus, count(*) AS n_now
             |      FROM graft_table('$root') GROUP BY o_orderstatus) t
             |  ON c.o_orderstatus = t.o_orderstatus
             |GROUP BY c.o_orderstatus, t.n_now
             |ORDER BY c.o_orderstatus""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT o_orderstatus FROM orders WHERE o_orderkey <= 3000),
             |now AS (
             |  SELECT o_orderstatus, count(*) AS n_now FROM orders
             |  WHERE o_orderkey NOT BETWEEN 1 AND 512
             |  GROUP BY o_orderstatus),
             |deltas AS (
             |  SELECT o_orderstatus,
             |    CAST(sum(CASE WHEN o_orderkey > 3000 THEN 1
             |      WHEN o_orderkey BETWEEN 1 AND 512 THEN -1 END)
             |      AS BIGINT) AS delta_n
             |  FROM orders
             |  WHERE o_orderkey > 3000 OR o_orderkey BETWEEN 1 AND 512
             |  GROUP BY o_orderstatus)
             |SELECT d.o_orderstatus, d.delta_n, n.n_now
             |FROM deltas d JOIN now n ON d.o_orderstatus = n.o_orderstatus
             |ORDER BY d.o_orderstatus""".stripMargin)),

    // MERGE-ON-READ UPDATE (q133's scale sibling): same range-
    // clustered layout, but the point update commits a TOMBSTONE for
    // the old images plus an APPEND of the new ones in ONE manifest —
    // rewriting NO existing data file (MorUpdateSpec asserts the file
    // set is old ∪ {one new}), so write amplification tracks the
    // UPDATED ROWS, not the files that hold them: the deletion-vector
    // + re-append composition that keeps GDPR-style point updates
    // viable at 100 TB, where q133's copy-on-write rewrites a whole
    // file to touch one row. Reads resolve tombstones transparently;
    // the pre-update snapshot stays readable (both aggregated here,
    // like q128). The oracle is the layout-free CASE projection — the
    // MOR mechanics must be invisible in the answer.
    QueryDef(
      "q230_mor_update",
      (s, d) => {
        val root = Files.createTempDirectory("graft_morupd_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        VersionedTable.commit(
          src.repartitionByRange(8, col("o_orderkey")), root)          // v0
        VersionedTable.updateKeysMOR(s, root, "o_orderkey",
          src.filter(col("o_orderkey").between(200L, 260L))
            .withColumn("o_orderstatus", lit("U"))
            .withColumn("o_custkey", col("o_custkey") + 1000000L))     // v1
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_orderkey")).as("sum_key"),
              sum(col("o_custkey")).as("sum_cust"))
            .withColumn("snapshot", lit(tag))
        agg(VersionedTable.read(s, root), "after_update")
          .unionByName(agg(VersionedTable.read(s, root, Some(0L)), "v0"))
          .orderBy(col("snapshot"), col("o_orderstatus"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey BETWEEN 200 AND 260
             |         THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             |    CASE WHEN o_orderkey BETWEEN 200 AND 260
             |         THEN o_custkey + 1000000 ELSE o_custkey END
             |      AS o_custkey
             |  FROM orders)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  'after_update' AS snapshot
             |FROM t GROUP BY o_orderstatus
             |UNION ALL
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  'v0' AS snapshot
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY snapshot, o_orderstatus""".stripMargin)),

    // CDC CLASSIFICATION of a merge-on-read update: the SAME commit
    // carries the tombstone (deletes) and the new images (inserts), so
    // a keyed change feed must pair them into update_preimage /
    // update_postimage — the row set an incremental MV or replication
    // target consumes (subtract pre, add post). The feed reads ONLY
    // the stats-targeted old files semi-joined to the broadcast
    // sidecar plus the one new file — cost tracks the update, not the
    // table. The oracle restates both images from the raw rows in the
    // updated key range; the postimage sum pins that consumers see the
    // NEW values, not a second copy of the old ones.
    QueryDef(
      "q231_mor_update_cdc",
      (s, d) => {
        val root = Files.createTempDirectory("graft_morcdc_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        VersionedTable.commit(
          src.repartitionByRange(8, col("o_orderkey")), root)          // v0
        val v1 = VersionedTable.updateKeysMOR(s, root, "o_orderkey",
          src.filter(col("o_orderkey").between(200L, 260L))
            .withColumn("o_custkey", col("o_custkey") + 1000000L))
        VersionedTable.changesKeyed(s, root, 0L, v1, "o_orderkey")
          .groupBy(col("_change"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy(col("_change"))
      },
      Some("""WITH r AS (
             |  SELECT o_custkey FROM orders
             |  WHERE o_orderkey BETWEEN 200 AND 260)
             |SELECT 'update_postimage' AS _change, count(*) AS n,
             |  CAST(sum(o_custkey) + 1000000 * count(*) AS BIGINT)
             |    AS sum_cust
             |FROM r
             |UNION ALL
             |SELECT 'update_preimage' AS _change, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM r
             |ORDER BY _change""".stripMargin)),

    // DELTA LAKE INTEROP, read path: commit `orders` as a REAL Delta
    // table (the published `_delta_log` JSON protocol — protocol/
    // metaData/add actions, Hive-laid partition dirs WITHOUT the
    // partition column in the files, per-file stats JSON) through the
    // dependency-free [[graft.sources.DeltaLog]] writer, then answer a
    // selective aggregate through `format("delta-log")`. The scan gets
    // its partition column from the log's partitionValues (EXACT
    // partition pruning — `o_orderstatus` never plans I/O for other
    // statuses) and skips files via the adds' min/max stats on
    // o_orderkey. The oracle is the layout-free WHERE over raw orders:
    // a wrong replay, wrong partition decode, or wrong skip all break
    // the hash. DeltaLogSpec proves the same reader against a
    // HAND-written foreign log, checkpoints, and the refusal gates.
    QueryDef(
      "q232_delta_log_interop",
      (s, d) => {
        val root = Files.createTempDirectory("delta_interop_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.DeltaLog.commit(
          src.repartitionByRange(4, col("o_orderkey")),
          root, partitionBy = Seq("o_orderstatus"))
        s.read.format("delta-log").load(root)
          .filter(col("o_orderkey").between(1L, 2048L))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 1 AND 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA CHECKPOINT REPLAY + time travel under log retention: two
    // appends, a checkpoint parquet at v1 (`%020d.checkpoint.parquet`
    // + `_last_checkpoint` hint), the covered JSON commits DELETED
    // (what VACUUM/log-retention does to an aged Delta table), then an
    // overwrite on top. Reading v1 must reconstruct PURELY from the
    // checkpoint; reading head replays checkpoint + the overwrite's
    // remove/add actions. At 100 TB the checkpoint is what bounds
    // snapshot resolution to O(commits since checkpoint) instead of
    // O(history). Oracle restates both snapshots from raw orders.
    QueryDef(
      "q233_delta_checkpoint_travel",
      (s, d) => {
        import java.nio.file.{Files => JFiles, Paths}
        val root = Files.createTempDirectory("delta_cp_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= 1024L), root)              // v0
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > 1024L), root)               // v1
        graft.sources.DeltaLog.checkpoint(s, root)                   // cp@v1
        (0L to 1L).foreach(v => JFiles.delete(
          Paths.get(root, "_delta_log", f"$v%020d.json")))           // retention
        graft.sources.DeltaLog.commit(
          src.filter(col("o_custkey") % 2 === 0), root, "overwrite") // v2
        def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_orderkey")).as("sum_key"))
            .withColumn("snapshot", lit(tag))
        agg(s.read.format("delta-log").load(root), "head")
          .unionByName(agg(s.read.format("delta-log")
            .option("versionAsOf", 1).load(root), "v1"))
          .orderBy(col("snapshot"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'head' AS snapshot
             |FROM orders WHERE o_custkey % 2 = 0
             |GROUP BY o_orderstatus
             |UNION ALL
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  'v1' AS snapshot
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY snapshot, o_orderstatus""".stripMargin)),

    // CONDITIONAL SQL MERGE (the full Delta clause algebra, round 8):
    // in-order WHEN MATCHED [AND cond] THEN DELETE / THEN UPDATE with
    // a PARTIAL SET list, plus INSERT * for unmatched source rows —
    // lowered to ONE full-outer join over the stats-pruned touched
    // files and landed as ONE replace commit
    // (ext/GraftDmlRewrite → VersionedTable.mergeConditional). The
    // source is a deterministic CDC-ish batch derived from orders:
    // updates for keys [100,300] (every third key a delete), inserts
    // under shifted keys. The oracle restates the clause semantics as
    // CASE + anti-join SQL over the raw table — first-matching-clause
    // order, partial-SET column preservation, and insert guards all
    // sit in the hash.
    QueryDef(
      "q234_merge_conditional",
      (s, d) => {
        val root = Files.createTempDirectory("graft_cmrg_").toString
        val src0 = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src0.repartitionByRange(8, col("o_orderkey"))
          .write.format("graft").mode("append").save(root)
        val tbl = "g_cmrg_" + java.util.UUID.randomUUID().toString.take(8)
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
        src0.filter(col("o_orderkey").between(100L, 300L))
          .unionByName(src0.filter(col("o_orderkey").between(1L, 64L))
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("o_orderstatus", lit("N")))
          .createOrReplaceTempView(s"${tbl}_src")
        s.sql(
          s"""MERGE INTO $tbl t USING ${tbl}_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND s.o_custkey % 3 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey + 1000000
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus"""
            .stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""WITH src AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |  WHERE o_orderkey BETWEEN 100 AND 300
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_custkey, 'N' FROM orders
             |  WHERE o_orderkey BETWEEN 1 AND 64),
             |merged AS (
             |  SELECT t.o_orderkey,
             |    CASE WHEN s.o_orderkey IS NOT NULL
             |         THEN s.o_custkey + 1000000 ELSE t.o_custkey END
             |      AS o_custkey,
             |    t.o_orderstatus
             |  FROM orders t LEFT JOIN src s
             |    ON t.o_orderkey = s.o_orderkey
             |  WHERE s.o_orderkey IS NULL OR s.o_custkey % 3 <> 0
             |  UNION ALL
             |  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus
             |  FROM src s ANTI JOIN orders t
             |    ON s.o_orderkey = t.o_orderkey)
             |SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM merged GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG INTEROP, read path (round 8 — the other half of the
    // lakehouse-formats north star next to q232's Delta read): commit
    // `orders` as a spec-shaped Iceberg metadata tree (vN.metadata.json
    // → manifest-list AVRO → manifest AVRO with per-field-id bounds in
    // the spec's single-value binary serialization), then answer a
    // selective aggregate through `format("iceberg-meta")`. The scan
    // skips files whose manifest bounds cannot hold the key range —
    // metadata-only pruning with zero directory listing, the reason
    // the format exists at 100 TB. Oracle is the layout-free WHERE
    // over raw orders; IcebergMetaSpec proves the same reader against
    // the kv-array map encoding real iceberg-core writes, deleted
    // entries, and the format-version/delete-file refusal gates.
    QueryDef(
      "q235_iceberg_meta_interop",
      (s, d) => {
        val root = Files.createTempDirectory("iceberg_interop_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.IcebergMeta.writeFixture(
          src.repartitionByRange(8, col("o_orderkey")), root)
        s.read.format("iceberg-meta").load(root)
          .filter(col("o_orderkey").between(1L, 2048L))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 1 AND 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // CONVERT (round 8): a user's existing Delta table becomes a graft
    // table in ONE metadata commit — every live file referenced in
    // place (ext: refs, zero copy), Delta's per-file stats imported
    // into graft's skipping model — and is immediately a FULL graft
    // table: the entry appends the rest of `orders` through the graft
    // commit protocol on top of the converted snapshot and aggregates
    // across both. Migration cost at 100 TB: one manifest write, not a
    // table rewrite. Oracle is the whole raw table — conversion,
    // import-stats reads, and the post-convert append must compose to
    // exactly the original relation. ConvertSpec pins the zero-copy
    // invariant, pruning through imported stats, vacuum never reaching
    // the source, and COW DML rewriting ext files into local ones.
    QueryDef(
      "q236_convert_delta_to_graft",
      (s, d) => {
        val deltaRoot = Files.createTempDirectory("conv_delta_").toString
        val graftRoot = Files.createTempDirectory("conv_graft_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= 4096L)
            .repartitionByRange(4, col("o_orderkey")), deltaRoot)
        VersionedTable.importDelta(s, deltaRoot, graftRoot)
        VersionedTable.commit(
          src.filter(col("o_orderkey") > 4096L), graftRoot)
        VersionedTable.read(s, graftRoot)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG INTEROP, write path (round 8 — closes the lakehouse
    // write half): create an Iceberg table from the low half of
    // `orders` through `df.write.format("iceberg-meta")`, then COMMIT
    // the high half as a second snapshot (`mode("append")` →
    // IcebergMeta.append: v2.metadata.json published by conditional
    // put, the filesystem-catalog mutual-exclusion protocol; the new
    // manifest list carries the first snapshot's manifests forward).
    // The read side then answers a selective aggregate whose bounds
    // pruning spans BOTH snapshots' manifests. At 100 TB an append is
    // O(new data) — metadata grows by one manifest + one json
    // document, nothing is rewritten. Oracle is the whole raw table:
    // create + append + manifest replay must compose to exactly the
    // original relation. IcebergMetaSpec pins time travel to the
    // pre-append snapshot, racing-commit refusal, and the
    // schema/partition-spec gates.
    QueryDef(
      "q237_iceberg_write_append",
      (s, d) => {
        val root = Files.createTempDirectory("iceberg_wr_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 4096L)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").save(root)
        src.filter(col("o_orderkey") > 4096L)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").mode("append").save(root)
        s.read.format("iceberg-meta").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).as("sum_cust"),
            sum(col("o_orderkey")).as("sum_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // SQL TIME TRAVEL (round 8): `FROM t VERSION AS OF n` on a
    // `USING graft` catalog table — the Delta/Iceberg SQL spelling,
    // which Spark's analyzer refuses for v1 relations; the graft
    // parser hides the clause behind a placeholder that an injected
    // resolution rule pins to the named snapshot (GraftTimeTravel).
    // The entry commits `orders` in two halves, then reconciles
    // CURRENT vs V0 in one query: per-status row deltas via a
    // past-vs-present anti-join — the audit query every versioned
    // table exists to answer ("what changed since the snapshot?").
    // Scale: both sides are manifest-pruned scans of the SAME files;
    // no data is copied to hold history. Oracle recomputes both
    // populations from raw orders. TimeTravelSqlSpec pins tags,
    // TIMESTAMP AS OF, interop providers, and the non-graft fallback.
    QueryDef(
      "q238_sql_time_travel",
      (s, d) => {
        val root = Files.createTempDirectory("tt_entry_").toString
        val tbl = "tt_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        VersionedTable.commit(src.filter(col("o_orderkey") <= 8192L), root)
        VersionedTable.commit(src.filter(col("o_orderkey") > 8192L), root)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
        val out = s.sql(
          s"""SELECT cur.o_orderstatus,
             |  count(*) AS n_now,
             |  CAST(sum(CASE WHEN old.o_orderkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_added,
             |  CAST(sum(cur.o_custkey) AS BIGINT) AS sum_cust
             |FROM $tbl cur
             |LEFT JOIN (SELECT o_orderkey FROM $tbl VERSION AS OF 0) old
             |  ON cur.o_orderkey = old.o_orderkey
             |GROUP BY cur.o_orderstatus
             |ORDER BY cur.o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_now,
             |  CAST(sum(CASE WHEN o_orderkey > 8192 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_added,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG v2 ROW-LEVEL DELETE (round 8): `DELETE FROM` an Iceberg
    // interop catalog table lowers to a POSITIONAL delete-file commit
    // (IcebergMeta.delete — merge-on-read: one parquet of
    // (file_path, pos) + a content=1 delete manifest; NO data file
    // rewritten), and the read side applies it through the
    // IcebergMorScan rewrite: files outside every delete's file_path
    // bounds keep the stock pruned scan, only touched files pay the
    // anti-join. The entry builds the table in two snapshots (create
    // + append), deletes a key range via SQL, and aggregates the
    // survivors. At 100 TB: delete cost is O(matched rows), read
    // overhead is O(touched files) — the write-amplification contract
    // row-level deletes exist for. Oracle applies the same predicate
    // to raw orders. IcebergMetaSpec pins MOR (no rewrite) on disk,
    // compose-on-delete, time travel to pre-delete snapshots, the
    // no-extensions refusal gate, and equality-delete refusal.
    QueryDef(
      "q239_iceberg_pos_delete",
      (s, d) => {
        val root = Files.createTempDirectory("ice_del_e_").toString + "/t"
        val tbl = "ice_del_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        // round 9: the table is PARTITIONED (identity on status) —
        // the positional delete now scopes ONE delete file per
        // touched tuple, each delete-manifest entry restating the
        // target files' r102 partition record
        src.filter(col("o_orderkey") <= 4096L)
          .write.format("iceberg-meta")
          .option("partitionBy", "o_orderstatus").save(root)
        src.filter(col("o_orderkey") > 4096L)
          .write.format("iceberg-meta").mode("append").save(root)
        val preFiles = graft.sources.IcebergMeta.snapshot(root)
          .files.map(_.path).toSet
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 100 < 7")
        val snap = graft.sources.IcebergMeta.snapshot(root)
        val morOk =
          if (snap.files.map(_.path).toSet == preFiles &&
            snap.deletes.nonEmpty &&
            snap.deletes.size <= 3) 1L // ≤ one delete file per tuple
          else 0L
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($morOk AS BIGINT) AS mor_ok
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS mor_ok
             |FROM orders WHERE o_orderkey % 100 >= 7
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA DELETION VECTORS (round 8): read a Delta table whose adds
    // carry the `deletionVectors` table feature — the biggest refusal
    // gate the round-7 Delta reader had, now honored end to end:
    // dependency-free Z85 + portable-RoaringBitmapArray codecs
    // (sources/DeletionVectors, validated against the published
    // reference vectors), DV descriptors replayed from the log, and
    // scan-time application through the DeltaMorScan rewrite (clean
    // adds keep the stock pruned path; only DV-carrying files pay the
    // anti-join on _metadata.row_index). The entry commits `orders`,
    // hand-attaches a spec-framed DV sidecar deleting every position
    // ≡ 3 (mod 10) of one file, then SQL-COW-DELETEs a key range —
    // materializing the DV — and aggregates the survivors. Oracle
    // derives both deletions from raw orders (positions in the
    // range-sorted file = rank order). DeletionVectorsSpec pins the
    // codecs, checkpoint fidelity, and the no-extensions gate.
    QueryDef(
      "q240_delta_deletion_vectors",
      (s, d) => {
        val root = Files.createTempDirectory("dv_entry_").toString
        val tbl = "dv_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")).orderBy(col("o_orderkey"))
        graft.sources.DeltaLog.commit(src.coalesce(1), root)
        // DV on the single data file: delete positions ≡ 3 (mod 10);
        // the file is o_orderkey-rank-ordered, so position i holds the
        // i-th smallest key — the oracle reproduces that by rank
        val a = graft.sources.DeltaLog.snapshot(s, root).adds.head
        val n = src.count()
        val dv = graft.sources.DeletionVectors.writeFile(root,
          (0L until n).filter(_ % 10 == 3).toArray)
        val dvJson = s"""{"storageType":"${dv.storageType}",""" +
          s""""pathOrInlineDv":"${dv.pathOrInlineDv}",""" +
          s""""offset":${dv.offset.get},"sizeInBytes":${dv.sizeInBytes},""" +
          s""""cardinality":${dv.cardinality}}"""
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          (s"""{"add":{"path":"${a.path}","partitionValues":{},""" +
            s""""size":${a.size},"modificationTime":0,"dataChange":false,""" +
            s""""deletionVector":$dvJson}}""" + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 50 = 0")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""WITH ranked AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
             |  FROM orders)
             |SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM ranked
             |WHERE pos % 10 <> 3 AND o_orderkey % 50 <> 0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA COLUMN MAPPING (round 8): read a Delta table written under
    // `delta.columnMapping.mode = name` — the parquet files, stats
    // JSON, and partition keys all carry PHYSICAL uuid-ish names while
    // queries use the LOGICAL schema. The entry plays a foreign writer
    // (delta-spark's layout, per the published protocol): `orders`
    // split into two key-range files whose columns are physical
    // (`pk-af01`...), a hand-written commit whose schemaString maps
    // logical→physical via `delta.columnMapping.physicalName` field
    // metadata, and per-file stats keyed by PHYSICAL name. The
    // DeltaColumnMappingScan rewrite restates the scan in physical
    // space and aliases back, so the logical WHERE prunes through the
    // physical stats (spec pins the file count); a mapped table with
    // deletion vectors composes (spec). Oracle is the layout-free
    // logical-name SQL over raw orders.
    QueryDef(
      "q241_delta_column_mapping",
      (s, d) => {
        val root = Files.createTempDirectory("dcm_entry_").toString
        val tbl = "dcm_orders_entry"
        val src = orders(s, d).select(
          col("o_orderkey").as("pk-af01"),
          col("o_custkey").as("pk-af02"),
          col("o_orderstatus").as("pk-af03"))
        val split = 1024L
        // foreign-writer layout: one parquet per key range, physical
        // column names, true sizes + physical-name stats in the adds
        def half(dir: String, pred: org.apache.spark.sql.Column)
            : (String, Long, String) = {
          src.filter(pred).coalesce(1).write.parquet(s"$root/$dir")
          val lst = Files.list(java.nio.file.Paths.get(root, dir))
          val rel = try dir + "/" + lst.iterator().asScala
            .map(_.getFileName.toString)
            .find(n => n.endsWith(".parquet") && !n.startsWith(".")).get
          finally lst.close()
          val row = src.filter(pred)
            .agg(min(col("`pk-af01`")), max(col("`pk-af01`")),
              count(lit(1))).head()
          val (lo, hi, n) = (row.getLong(0), row.getLong(1), row.getLong(2))
          val stats = s"""{\\"numRecords\\":$n,\\"minValues\\":{\\"pk-af01\\":$lo},\\"maxValues\\":{\\"pk-af01\\":$hi},\\"nullCount\\":{\\"pk-af01\\":0}}"""
          (rel, Files.size(java.nio.file.Paths.get(root, rel)), stats)
        }
        val (p1, s1, st1) = half("data1", col("`pk-af01`") <= split)
        val (p2, s2, st2) = half("data2", col("`pk-af01`") > split)
        def fld(logical: String, phys: String, tpe: String, id: Int) =
          s"""{\\"name\\":\\"$logical\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,\\"metadata\\":{\\"delta.columnMapping.id\\":$id,\\"delta.columnMapping.physicalName\\":\\"$phys\\"}}"""
        val schema = s"""{\\"type\\":\\"struct\\",\\"fields\\":[${Seq(
          fld("o_orderkey", "pk-af01", "long", 1),
          fld("o_custkey", "pk-af02", "long", 2),
          fld("o_orderstatus", "pk-af03", "string", 3)).mkString(",")}]}"""
        val log = java.nio.file.Paths.get(root, "_delta_log")
        Files.createDirectories(log)
        Files.write(log.resolve(f"${0L}%020d.json"),
          (s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
            s"""{"metaData":{"id":"dcm","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""" + "\n" +
            s"""{"add":{"path":"$p1","partitionValues":{},"size":$s1,"modificationTime":0,"dataChange":true,"stats":"$st1"}}""" + "\n" +
            s"""{"add":{"path":"$p2","partitionValues":{},"size":$s2,"modificationTime":0,"dataChange":true,"stats":"$st2"}}""" + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        // round 8: DML on the MAPPED table — logical names in the SQL,
        // physical rewrite underneath (predicates remap, survivors
        // restage under physical names, stats stay physical)
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
        s.sql(s"UPDATE $tbl SET o_custkey = o_custkey + 1000000 " +
          s"WHERE o_orderkey % 10 = 3")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl WHERE o_orderkey <= $split
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(CASE WHEN o_orderkey % 10 = 3
             |    THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT)
             |    AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey <= 1024 AND o_orderkey % 10 <> 7
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG V2 EQUALITY DELETES (round 8): delete-by-VALUE — the
    // streaming-upsert primitive real Flink/Iceberg CDC pipelines
    // write, and the last v2 delete kind this reader refused. The
    // commit writes ONE content=2 parquet naming the values (here: the
    // single status 'P') and touches zero data files; the read side
    // (IcebergMetaRead.morRead) partitions data files by the spec's
    // STRICT sequence ordering — the entry proves it end to end by
    // appending more orders (including more 'P' rows) AFTER the
    // delete: files at seq 3 are out of the seq-2 delete's scope, so
    // exactly the pre-delete 'P' rows vanish. Oracle restates that
    // scoping over raw orders. IcebergEqDeleteSpec pins null-safe
    // matching, pos-delete composition, and the refusal posture.
    QueryDef(
      "q242_iceberg_equality_delete",
      (s, d) => {
        val root = Files.createTempDirectory("ice_eq_e_").toString + "/t"
        val tbl = "ice_eq_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        val split = 1024L
        src.filter(col("o_orderkey") <= split)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").save(root)           // seq 1
        import s.implicits._
        graft.sources.IcebergMeta.deleteEquality(s, root,
          Seq("P").toDF("o_orderstatus"))                    // seq 2
        src.filter(col("o_orderkey") > split)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").mode("append").save(root) // seq 3
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey > 1024 OR o_orderstatus <> 'P'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // PARTITIONED DELTA COW DELETE (round 8): SQL `DELETE FROM` a
    // Hive-partitioned Delta table — the shape round-7/8 refused.
    // Survivors of the touched files restage through the writer's own
    // partitionBy layout (partition columns live in `col=value/` DIRS
    // and `partitionValues`, never in the parquet — the spec's
    // layout), so every new add re-records its partition and files in
    // untouched partitions carry over unread. The entry partitions
    // orders by status, deletes a key-range slice CROSSING all
    // partitions plus one whole partition by partition predicate
    // (pruned: only that partition's files are scanned), then
    // aggregates survivors per status. Oracle restates both deletes
    // over raw orders. DeletionVectorsSpec pins the per-partition
    // rewrite (untouched partition files carry over by path).
    QueryDef(
      "q243_delta_partitioned_delete",
      (s, d) => {
        val root = Files.createTempDirectory("dpd_entry_").toString
        val tbl = "dpd_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.DeltaLog.commit(src, root,
          partitionBy = Seq("o_orderstatus"))
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 < 3")
        s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'P'")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey % 10 >= 3 AND o_orderstatus <> 'P'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA CHANGE DATA FEED (round 8): `table_changes` over a real
    // Delta log via the `delta_changes` TVF — BOTH protocol grains in
    // one feed: append commits derive as inserts and a remove-only
    // commit derives as whole-file deletes (no cdc actions needed),
    // then the table flips `delta.enableChangeDataFeed` on
    // (DeltaLog.setConfiguration — the SET TBLPROPERTIES commit
    // shape) and a COW key-delete RECORDS its deleted rows as `cdc`
    // parquet under _change_data/, which the reader trusts as the
    // authoritative change set (the same remove+add rewrite WITHOUT
    // cdc refuses — DeltaCdfSpec pins that). The oracle restates the
    // whole feed from raw orders: every row inserts once, 'P' rows
    // delete at the partition drop, and %10==7 rows of the surviving
    // partitions delete at the CDF commit. Cost shape: O(changed
    // files) per version, never a table scan.
    QueryDef(
      "q244_delta_cdf",
      (s, d) => {
        val root = Files.createTempDirectory("cdf_entry_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        val split = 1024L
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= split), root,
          partitionBy = Seq("o_orderstatus"))                    // v0
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > split), root, "append",
          Seq("o_orderstatus"))                                  // v1
        graft.sources.DeltaLog.deleteWhere(s, root,
          col("o_orderstatus") === "P")                          // v2: remove-only
        graft.sources.DeltaLog.setConfiguration(s, root,
          Map("delta.enableChangeDataFeed" -> "true"))           // v3
        val v4 = graft.sources.DeltaLog.deleteWhere(s, root,
          col("o_orderkey") % 10 === 7)                          // v4: cdc
        s.sql(
          s"""SELECT _change_type, o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM delta_changes('$root', -1, $v4)
             |GROUP BY _change_type, o_orderstatus
             |ORDER BY _change_type, o_orderstatus""".stripMargin)
      },
      Some("""WITH feed AS (
             |  SELECT 'insert' AS _change_type, o_orderstatus, o_orderkey
             |  FROM orders
             |  UNION ALL
             |  SELECT 'delete', o_orderstatus, o_orderkey FROM orders
             |  WHERE o_orderstatus = 'P'
             |  UNION ALL
             |  SELECT 'delete', o_orderstatus, o_orderkey FROM orders
             |  WHERE o_orderstatus <> 'P' AND o_orderkey % 10 = 7
             |)
             |SELECT _change_type, o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM feed GROUP BY _change_type, o_orderstatus
             |ORDER BY _change_type, o_orderstatus""".stripMargin)),

    // DELTA SQL UPDATE + CONDITIONAL MERGE (round 8): the row-level
    // SQL surface on a FOREIGN Delta table — UPDATE rewrites only the
    // touched files with pre-update-row SET semantics, and MERGE runs
    // the full Delta clause algebra (conditional UPDATE, DELETE,
    // guarded INSERT) through the SAME one-full-outer-join cascade
    // graft's own MERGE uses (MergeKernel.mergeCascadeRows — one
    // implementation, two formats), committed copy-on-write with
    // key-envelope file targeting. The oracle restates both
    // statements over raw orders as CASE/filter algebra. GraftDmlSpec
    // pins the plumbing (partition relocation, CDF images, refusals).
    QueryDef(
      "q245_delta_sql_update_merge",
      (s, d) => {
        val root = Files.createTempDirectory("dum_entry_").toString
        val tbl = "dum_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        val split = 1024L
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= split), root)
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > split), root)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        s.sql(s"UPDATE $tbl SET o_custkey = o_custkey + 1000000 " +
          "WHERE o_orderkey % 7 = 0")
        orders(s, d)
          .filter(col("o_orderkey") <= 512)
          .select(col("o_orderkey").as("k"),
            (col("o_orderkey") * 3).as("val"))
          .union(orders(s, d).filter(col("o_orderkey") <= 256)
            .select((-col("o_orderkey") - 1).as("k"),
              col("o_orderkey").as("val")))
          .createOrReplaceTempView("dum_src_entry")
        s.sql(
          s"""MERGE INTO $tbl t USING dum_src_entry s ON t.o_orderkey = s.k
             |WHEN MATCHED AND s.val % 2 = 0
             |  THEN UPDATE SET o_custkey = s.val
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus)
             |  VALUES (s.k, s.val, 'Z')""".stripMargin)
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""WITH t0 AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
             |         ELSE o_custkey END AS o_custkey,
             |    o_orderstatus
             |  FROM orders
             |), merged AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey <= 512 AND (o_orderkey * 3) % 2 = 0
             |         THEN o_orderkey * 3 ELSE o_custkey END AS o_custkey,
             |    o_orderstatus
             |  FROM t0
             |  WHERE NOT (o_orderkey <= 512 AND (o_orderkey * 3) % 2 = 1)
             |  UNION ALL
             |  SELECT -(o_orderkey + 1), o_orderkey, 'Z' FROM orders
             |  WHERE o_orderkey <= 256
             |)
             |SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM merged GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG MERGE-ON-READ UPSERT (round 8): the canonical star
    // MERGE on an Iceberg table lowers to IcebergMeta.upsertKeyed —
    // ONE snapshot carrying both an equality-delete file on the key
    // (retiring every old image, strictly-older-sequence scope) and
    // the new images as data files at the same sequence number, which
    // therefore survive their own delete. ZERO existing data files
    // are read or rewritten: a CDC batch upserts a 100 TB table at
    // the cost of the batch — the Flink/Iceberg streaming-upsert
    // write shape, done through plain SQL. Oracle restates the upsert
    // as CASE/UNION algebra over raw orders. IcebergEqDeleteSpec pins
    // the file-level invariants (old files untouched, composition,
    // stream refusal of the overwrite snapshot).
    QueryDef(
      "q246_iceberg_sql_upsert",
      (s, d) => {
        val root = Files.createTempDirectory("ius_entry_").toString + "/t"
        val tbl = "ius_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        val split = 1024L
        src.filter(col("o_orderkey") <= split)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").save(root)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        src.filter(col("o_orderkey") <= 512)
          .select(col("o_orderkey"),
            (col("o_custkey") * 2 + 1).as("o_custkey"),
            lit("U").as("o_orderstatus"))
          .union(src.filter(col("o_orderkey") <= 256)
            .select((-col("o_orderkey") - 1).as("o_orderkey"),
              col("o_custkey"), lit("N").as("o_orderstatus")))
          .createOrReplaceTempView("ius_src_entry")
        s.sql(
          s"""MERGE INTO $tbl t USING ius_src_entry s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey <= 512 THEN o_custkey * 2 + 1
             |         ELSE o_custkey END AS o_custkey,
             |    CASE WHEN o_orderkey <= 512 THEN 'U'
             |         ELSE o_orderstatus END AS o_orderstatus
             |  FROM orders WHERE o_orderkey <= 1024
             |  UNION ALL
             |  SELECT -(o_orderkey + 1), o_custkey, 'N' FROM orders
             |  WHERE o_orderkey <= 256
             |)
             |SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM t GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG REWRITE_DATA_FILES (round 8): compaction as a
    // CORRECTNESS surface — an equality delete hides rows
    // merge-on-read, IcebergMeta.compact materializes the visible
    // rows into ONE fresh file in a carried-nothing snapshot (the
    // n_files=1 output column is part of the ORACLE contract: the
    // oracle's literal 1 fails the hash if compaction ever stops
    // packing), and the formerly-refused positional SQL DELETE then
    // works on the compacted state. Oracle restates all three steps
    // as plain filters over raw orders.
    QueryDef(
      "q247_iceberg_rewrite_files",
      (s, d) => {
        val root = Files.createTempDirectory("icr_entry_").toString + "/t"
        val tbl = "icr_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 2048)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").save(root)
        import s.implicits._
        graft.sources.IcebergMeta.deleteEquality(s, root,
          Seq("P").toDF("o_orderstatus"))
        graft.sources.IcebergMeta.compact(s, root)
        val nFiles = graft.sources.IcebergMeta.snapshot(root).files.size
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7") // positional again
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($nFiles AS BIGINT) AS n_files
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS n_files
             |FROM orders
             |WHERE o_orderkey <= 2048 AND o_orderstatus <> 'P'
             |  AND o_orderkey % 10 <> 7
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA OPTIMIZE / REORG PURGE (round 8): same contract for the
    // Delta side — four append commits plus a COW DELETE leave a
    // multi-file table; DeltaLog.compact packs the live rows into ONE
    // dataChange:false file (n_files=1 pinned by the oracle), rows
    // identical, and the pre-compaction version still time-travels
    // (the entry reads it back and folds its row count into the
    // output so the oracle checks BOTH states at once).
    QueryDef(
      "q248_delta_optimize",
      (s, d) => {
        val root = Files.createTempDirectory("dop_entry_").toString
        val tbl = "dop_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        val quarter = 512L
        (0 until 4).foreach(i => graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > i * quarter &&
            col("o_orderkey") <= (i + 1) * quarter or
            (if (i == 0) col("o_orderkey") === 0 else lit(false))), root))
        graft.sources.DeltaLog.deleteWhere(s, root,
          col("o_orderkey") % 5 === 2)
        val preVersion = graft.sources.DeltaLog.latestVersion(root)
        graft.sources.DeltaLog.compact(s, root)
        val nFiles = graft.sources.DeltaLog.snapshot(s, root).adds.size
        val preRows = s.read.format("delta-log")
          .option("versionAsOf", preVersion.toString).load(root).count()
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($nFiles AS BIGINT) AS n_files,
             |  CAST($preRows AS BIGINT) AS n_pre_compact
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS n_files,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey <= 2048 AND o_orderkey % 5 <> 2)
             |    AS n_pre_compact
             |FROM orders
             |WHERE o_orderkey <= 2048 AND o_orderkey % 5 <> 2
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG SQL UPDATE + CONDITIONAL MERGE (round 8): the row-level
    // SQL surface on a FOREIGN Iceberg table that is ALSO carrying a
    // v2 EQUALITY DELETE — the two interact everywhere: UPDATE reads
    // touched files merge-on-read (hidden rows stay hidden AND come
    // out materialized-away), its copy-on-write targets files by
    // MANIFEST BOUNDS alone (the carried_ok column pins that the
    // top-range file survived by reference — zero data I/O for it),
    // and the conditional MERGE (same clause cascade as graft/Delta:
    // MergeKernel.mergeCascadeRows — ONE implementation, THREE
    // formats) sees equality-deleted keys as NOT MATCHED, so they
    // re-enter as inserts. Carried files keep their original data
    // sequence numbers through the rewrite (IcebergMergeSpec pins
    // the resurrection hazard), so the delete keeps applying to
    // them. Oracle restates delete+update+merge as filter/CASE/UNION
    // algebra over raw orders.
    QueryDef(
      "q249_iceberg_sql_update_merge",
      (s, d) => {
        val root = Files.createTempDirectory("ium_entry_").toString + "/t"
        val tbl = "ium_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 1024)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("iceberg-meta").save(root)
        import s.implicits._
        graft.sources.IcebergMeta.deleteEquality(s, root,
          Seq("P").toDF("o_orderstatus"))
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        s.sql(s"UPDATE $tbl SET o_custkey = o_custkey + 1000000 " +
          "WHERE o_orderkey BETWEEN 200 AND 400")
        // bounds targeting is OBSERVABLE: files above the predicate's
        // range cannot match and must carry by reference
        val carried = graft.sources.IcebergMeta.snapshot(root).files
          .count(f => !f.recordedPath.contains("cow-"))
        src.filter(col("o_orderkey") <= 512)
          .select(col("o_orderkey").as("k"),
            (col("o_orderkey") * 3).as("val"))
          .union(src.filter(col("o_orderkey") <= 256)
            .select((-col("o_orderkey") - 1).as("k"),
              col("o_orderkey").as("val")))
          .createOrReplaceTempView("ium_src_entry")
        s.sql(
          s"""MERGE INTO $tbl t USING ium_src_entry s ON t.o_orderkey = s.k
             |WHEN MATCHED AND s.val % 2 = 0
             |  THEN UPDATE SET o_custkey = s.val
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus)
             |  VALUES (s.k, s.val, 'Z')""".stripMargin)
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(${if (carried >= 1) 1 else 0} AS BIGINT) AS carried_ok
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""WITH vis AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |  WHERE o_orderkey <= 1024 AND o_orderstatus <> 'P'
             |), upd AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey BETWEEN 200 AND 400
             |         THEN o_custkey + 1000000 ELSE o_custkey END
             |      AS o_custkey,
             |    o_orderstatus
             |  FROM vis
             |), merged AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey <= 512 AND (o_orderkey * 3) % 2 = 0
             |         THEN o_orderkey * 3 ELSE o_custkey END AS o_custkey,
             |    o_orderstatus
             |  FROM upd
             |  WHERE NOT (o_orderkey <= 512 AND (o_orderkey * 3) % 2 = 1)
             |  UNION ALL
             |  SELECT -(o_orderkey + 1), o_orderkey, 'Z' FROM orders
             |  WHERE o_orderkey <= 256
             |  UNION ALL
             |  SELECT o_orderkey, o_orderkey * 3, 'Z' FROM orders
             |  WHERE o_orderkey <= 512 AND o_orderstatus = 'P'
             |)
             |SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS carried_ok
             |FROM merged GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // LAKEHOUSE MAINTENANCE (round 8): the retention procedures both
    // ecosystems run nightly — Delta VACUUM (age+reference-guarded
    // physical deletion; vac_ok pins that afterwards the on-disk
    // parquet set IS the live snapshot exactly, and travel_gone_ok
    // that time travel to the pre-rewrite version now fails — the
    // documented cost of vacuum) and Iceberg expire_snapshots
    // (reachability-based: the literal 2/2/1 pins that exactly the
    // two compacted-away snapshots, their two orphaned data files,
    // and nothing else expired, leaving a 1-entry history). All
    // deletes route through the DataStore seam — at 100 TB these are
    // LIST+DELETE storms, the exact ops an object store meters.
    // Oracle restates the surviving table as a filter over orders.
    QueryDef(
      "q250_lakehouse_maintenance",
      (s, d) => {
        val droot = Files.createTempDirectory("lhm_entry_").toString
        val iroot = Files.createTempDirectory("lhm_entry_").toString + "/t"
        val tbl = "lhm_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        // Delta: two appends + a COW delete leave replaced files behind
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= 512).coalesce(1), droot)
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > 512 &&
            col("o_orderkey") <= 1024).coalesce(1), droot)
        val preVersion = graft.sources.DeltaLog.deleteWhere(s, droot,
          col("o_orderkey") % 7 === 3) - 1
        s.sql(s"GRAFT VACUUM DELTA '$droot' RETAIN 0 MS")
        val live = graft.sources.DeltaLog.snapshot(s, droot)
          .adds.map(_.path).toSet
        val onDisk = {
          val r = java.nio.file.Paths.get(droot)
          val st = java.nio.file.Files.walk(r)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_))
              .map(p => r.relativize(p).toString)
              .filter(p => p.endsWith(".parquet") &&
                !p.startsWith("_delta_log/")).toSet
          } finally st.close()
        }
        val vacOk = if (onDisk == live) 1L else 0L
        val travelGoneOk =
          try {
            s.read.format("delta-log")
              .option("versionAsOf", preVersion.toString)
              .load(droot).count()
            0L
          } catch { case _: Exception => 1L }
        // Iceberg: fixture + append + compact, then expire history
        graft.sources.IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 512).coalesce(1), iroot)
        graft.sources.IcebergMeta.append(
          src.filter(col("o_orderkey") > 512 &&
            col("o_orderkey") <= 1024).coalesce(1), iroot)
        graft.sources.IcebergMeta.compact(s, iroot)
        val er = s.sql(s"GRAFT EXPIRE SNAPSHOTS '$iroot' OLDER THAN ${
          System.currentTimeMillis() + 3600000L} RETAIN LAST 1").head()
        val iceHistory = graft.sources.IcebergMeta.snapshotLog(iroot).size
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$droot')")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($vacOk AS BIGINT) AS vac_ok,
             |  CAST($travelGoneOk AS BIGINT) AS travel_gone_ok,
             |  CAST(${er.getInt(0)} AS BIGINT) AS ice_expired,
             |  CAST(${er.getInt(1)} AS BIGINT) AS ice_deleted_files,
             |  CAST($iceHistory AS BIGINT) AS ice_history
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS vac_ok,
             |  CAST(1 AS BIGINT) AS travel_gone_ok,
             |  CAST(2 AS BIGINT) AS ice_expired,
             |  CAST(2 AS BIGINT) AS ice_deleted_files,
             |  CAST(1 AS BIGINT) AS ice_history
             |FROM orders
             |WHERE o_orderkey <= 1024 AND o_orderkey % 7 <> 3
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // PARTITIONED ICEBERG (round 8): identity partition specs — how
    // virtually every production Iceberg table is laid out — now
    // WRITE through this layer: table creation declares the spec
    // (option("partitionBy")), data files split ONE PER TUPLE with
    // the identity source columns kept IN the payload (spec
    // behavior; a Hive-style layout that dropped them would corrupt
    // every other reader), manifest entries carry their r102
    // partition records, and APPEND follows the table's own spec.
    // The pruned_ok column pins that a filter on the partition
    // column reads 2 of 8 files — partition layout must PRUNE, which
    // is the entire reason to partition 100 TB. Oracle restates the
    // two halves as one filter over raw orders.
    QueryDef(
      "q251_iceberg_partitioned",
      (s, d) => {
        val root = Files.createTempDirectory("ipt_entry_").toString + "/t"
        val src = orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_orderkey") % 4).as("p"))
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta").option("partitionBy", "p")
          .save(root)
        graft.sources.IcebergMeta.append(
          src.filter(col("o_orderkey") > 1024 &&
            col("o_orderkey") <= 2048), root)
        val nFiles = graft.sources.IcebergMeta.snapshot(root).files.size
        val q = s.read.format("iceberg-meta").load(root)
          .filter(col("p") === 2)
        q.count() // force the pruned listing
        val (kept, total) = q.queryExecution.optimizedPlan.collect {
          case org.apache.spark.sql.execution.datasources.LogicalRelation(
              r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
              _, _, _, _) =>
            r.location.asInstanceOf[graft.sources.IcebergMetaFileIndex]
        }.head.lastListing.get
        val prunedOk = if (kept == 2 && total == nFiles) 1L else 0L
        // a TRANSFORM layout (bucket[8] on the key — the spec's
        // murmur3, vector-pinned) must round-trip the same rows: the
        // hash only places files, never changes visibility
        val broot = Files.createTempDirectory("ipt_entry_").toString + "/b"
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta")
          .option("partitionBy", "bucket(8,o_orderkey)").save(broot)
        val bkt = s.read.format("iceberg-meta").load(broot)
          .agg(count(lit(1)), sum(col("o_orderkey"))).head()
        // round 9: HOUR transform leg — six hour tuples, and an
        // hour-range predicate prunes by the per-file TIMESTAMP
        // bounds (manifest single-value epoch-micros longs, exactly
        // what a Catalyst timestamp literal carries)
        val hroot = Files.createTempDirectory("ipt_entry_").toString + "/h"
        src.filter(col("o_orderkey") <= 1024)
          .withColumn("ts",
            timestamp_seconds((col("o_orderkey") % 6) * 3600))
          .write.format("iceberg-meta")
          .option("partitionBy", "hour(ts)").save(hroot)
        val hq = s.read.format("iceberg-meta").load(hroot)
          .filter(col("ts") < timestamp_seconds(lit(9000))) // 2.5 h
        val hrRows = hq.count()
        val (hKept, hTotal) = hq.queryExecution.optimizedPlan.collect {
          case org.apache.spark.sql.execution.datasources.LogicalRelation(
              r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
              _, _, _, _) =>
            r.location.asInstanceOf[graft.sources.IcebergMetaFileIndex]
        }.head.lastListing.get
        val hrOk = if (hKept == 3 && hTotal == 6) 1L else 0L
        s.read.format("iceberg-meta").load(root)
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"),
            countDistinct(col("o_custkey")).as("n_cust"))
          .withColumn("n_files", lit(nFiles).cast("bigint"))
          .withColumn("pruned_ok", lit(prunedOk).cast("bigint"))
          .withColumn("bkt_rows", lit(bkt.getLong(0)).cast("bigint"))
          .withColumn("bkt_sum", lit(bkt.getLong(1)).cast("bigint"))
          .withColumn("hr_rows", lit(hrRows).cast("bigint"))
          .withColumn("hr_ok", lit(hrOk).cast("bigint"))
          .orderBy(col("p"))
      },
      Some("""SELECT o_orderkey % 4 AS p, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
             |  CAST(8 AS BIGINT) AS n_files,
             |  CAST(1 AS BIGINT) AS pruned_ok,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey <= 1024) AS bkt_rows,
             |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
             |   WHERE o_orderkey <= 1024) AS bkt_sum,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey <= 1024 AND o_orderkey % 6 < 3)
             |    AS hr_rows,
             |  CAST(1 AS BIGINT) AS hr_ok
             |FROM orders WHERE o_orderkey <= 2048
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TIME MACHINE (round 8): the undo surfaces both ecosystems ship —
    // Delta RESTORE (one commit re-establishing a prior version's
    // files+metaData; the botched DELETE below simply un-happens,
    // with history PRESERVED — hist_ok pins the newest-first
    // operation sequence RESTORE,DELETE,WRITE,WRITE) and Iceberg
    // rollback_to_snapshot (current pointer moves in one metadata
    // commit, ZERO data I/O — the rolled-back read equals the first
    // half exactly, ice_rows pins it, and the rolled-past snapshot
    // stays time-travelable until expire). Oracle: the delta side
    // must equal plain orders (the restore undid the delete).
    QueryDef(
      "q252_lakehouse_time_machine",
      (s, d) => {
        val droot = Files.createTempDirectory("ltm_entry_").toString
        val iroot = Files.createTempDirectory("ltm_entry_").toString + "/t"
        val tbl = "ltm_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") <= 512).coalesce(1), droot)  // v0
        graft.sources.DeltaLog.commit(
          src.filter(col("o_orderkey") > 512 &&
            col("o_orderkey") <= 1024).coalesce(1), droot)          // v1
        graft.sources.DeltaLog.deleteWhere(s, droot,
          col("o_orderkey") % 3 === 0)                              // v2: oops
        s.sql(s"GRAFT RESTORE DELTA '$droot' VERSION AS OF 1")      // v3: undo
        val ops = s.sql(s"GRAFT HISTORY DELTA '$droot'")
          .collect().map(_.getString(1)).mkString(",")
        val histOk =
          if (ops == "RESTORE,DELETE,WRITE,WRITE") 1L else 0L
        // iceberg: rollback to the first half, zero data I/O
        graft.sources.IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 512).coalesce(1), iroot)
        val snap1 = graft.sources.IcebergMeta.snapshot(iroot).snapshotId
        graft.sources.IcebergMeta.append(
          src.filter(col("o_orderkey") > 512 &&
            col("o_orderkey") <= 1024).coalesce(1), iroot)
        s.sql(s"GRAFT ROLLBACK ICEBERG '$iroot' TO SNAPSHOT $snap1")
        val iceRows = s.read.format("iceberg-meta").load(iroot).count()
        val iceHist = s.sql(s"GRAFT SNAPSHOTS ICEBERG '$iroot'").count()
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$droot')")
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($histOk AS BIGINT) AS hist_ok,
             |  CAST($iceRows AS BIGINT) AS ice_rows,
             |  CAST($iceHist AS BIGINT) AS ice_hist
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS hist_ok,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey <= 512) AS ice_rows,
             |  CAST(2 AS BIGINT) AS ice_hist
             |FROM orders WHERE o_orderkey <= 1024
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA ADVANCED-FEATURE WRITER (round 9): the round-8 reader
    // honored deletion vectors and column mapping but could not
    // CREATE them — a delta-spark user round-tripping advanced tables
    // hit a one-way door. This entry exercises the writer end of both
    // features: `orders` lands as a table created with
    // `delta.columnMapping.mode = id` (schema stamped with mapping
    // ids + col-<uuid> physical names, files staged under PHYSICAL
    // names with real parquet field ids, protocol (2,5) raised to
    // (3,7) by `delta.enableDeletionVectors`), then SQL DELETE takes
    // the DV path: the commit writes per-file deletion vectors and
    // re-adds the SAME data files — `dv_no_rewrite` pins that ZERO
    // data files were restaged (O(deleted rows), the point of DVs at
    // 100 TB) and that descriptors exist. A second DELETE proves DV
    // MERGING; logical-name aggregation reads through the mapping
    // with the DVs applied. Oracle restates both deletes over raw
    // orders. DeletionVectorsSpec/DeltaColumnMappingSpec pin the
    // protocol lines, field ids, density fallback, and fully-dead
    // file handling.
    QueryDef(
      "q253_delta_dv_writer",
      (s, d) => {
        val root = Files.createTempDirectory("dvw_entry_").toString + "/t"
        val tbl = "dvw_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.coalesce(2).write.format("delta-log")
          .option("delta.columnMapping.mode", "id")
          .option("delta.enableDeletionVectors", "true").save(root)
        val before = graft.sources.DeltaLog.snapshot(s, root)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `delta-log` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 20 = 11")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 20 = 4")
        val afterDel = graft.sources.DeltaLog.snapshot(s, root)
        // round 9: UPDATE also rides DVs — pre-update rows die via
        // descriptors, post-update rows append as NEW files, every
        // original file survives unrewritten
        s.sql(s"UPDATE $tbl SET o_custkey = o_custkey + 1000000 " +
          s"WHERE o_orderkey % 20 = 8")
        val after = graft.sources.DeltaLog.snapshot(s, root)
        val dvNoRewrite =
          if (afterDel.adds.map(_.path).toSet ==
              before.adds.map(_.path).toSet &&
            before.adds.map(_.path).toSet
              .subsetOf(after.adds.map(_.path).toSet) &&
            after.adds.size > before.adds.size &&
            after.adds.exists(_.deletionVector.isDefined) &&
            before.minWriterVersion == 7 &&
            before.columnMapping.nonEmpty) 1L
          else 0L
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($dvNoRewrite AS BIGINT) AS dv_no_rewrite
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(CASE WHEN o_orderkey % 20 = 8
             |    THEN o_custkey + 1000000 ELSE o_custkey END)
             |    AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS dv_no_rewrite
             |FROM orders
             |WHERE o_orderkey % 20 <> 11 AND o_orderkey % 20 <> 4
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG BATCH CHANGELOG (round 9): `iceberg_changes(root, after,
    // to)` — the Iceberg leg of the graft_changes/delta_changes TVF
    // family, closing the incremental-MV identity's last format gap.
    // History: two appends (seq 1-2), a positional MOR delete (seq 3),
    // an equality delete (seq 4 — delete-by-VALUE, zero data I/O).
    // The TVF derives inserts from manifest-inherited data sequence
    // numbers (appended files read RAW) and deletes from the PRIOR
    // snapshot's retained files (positional: touched files only;
    // equality: one broadcast null-safe semi join). `recon_ok` pins
    // Δ(agg) = agg(Δ): the signed changelog sum equals the final
    // snapshot's recompute. Oracle restates the feed as UNION ALL
    // algebra over raw orders.
    QueryDef(
      "q254_iceberg_changes",
      (s, d) => {
        val root = Files.createTempDirectory("icc_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta").save(root)                   // seq 1
        src.filter(col("o_orderkey") > 1024 && col("o_orderkey") <= 2048)
          .write.format("iceberg-meta").mode("append").save(root)    // seq 2
        graft.sources.IcebergMeta.delete(s, root,
          col("o_orderkey") % 10 === 3)                              // seq 3
        graft.sources.IcebergMeta.deleteEquality(s, root,
          s.createDataFrame(java.util.List.of(
            org.apache.spark.sql.Row("P")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("o_orderstatus",
                org.apache.spark.sql.types.StringType)))))           // seq 4
        // Persisted: the recon probe AND the output SQL's
        // iceberg_changes TVF resolve to the same logical plan, so the
        // cache serves both — the changelog derivation (snapshot
        // replay + per-seq unions + delete joins) runs ONCE.
        val ch = graft.sources.IcebergMeta.changes(s, root, 0L, 4L)
          .persist()
        val signed = ch.withColumn("signed",
          when(col("_change_type") === "insert", col("o_orderkey"))
            .otherwise(-col("o_orderkey")))
          .agg(sum("signed")).head().getLong(0)
        val snapSum = s.read.format("iceberg-meta").load(root)
          .agg(sum("o_orderkey")).head().getLong(0)
        val reconOk = if (signed == snapSum) 1L else 0L
        s.sql(
          s"""SELECT _change_type, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($reconOk AS BIGINT) AS recon_ok
             |FROM iceberg_changes('$root', 0, 4)
             |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      },
      Some("""SELECT _change_type, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS recon_ok
             |FROM (
             |  SELECT 'insert' AS _change_type, o_orderkey
             |  FROM orders WHERE o_orderkey <= 2048
             |  UNION ALL
             |  SELECT 'delete', o_orderkey FROM orders
             |  WHERE o_orderkey <= 2048 AND o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT 'delete', o_orderkey FROM orders
             |  WHERE o_orderkey <= 2048 AND o_orderkey % 10 <> 3
             |    AND o_orderstatus = 'P'
             |) GROUP BY _change_type ORDER BY _change_type""".stripMargin)),

    // DSV2 DEFAULT READ PATH (round 9): plain graft reads now execute
    // through the public connector API (GraftDsv2Swap +
    // Graft2DataSource) with Spark's VECTORIZED parquet batch reader —
    // the round-8 spike promoted to the serving path. The entry
    // commits `orders` as 4 range-disjoint graft files, queries a key
    // range through a CATALOG table in SQL, and pins THREE invariants
    // under the oracle: `is_v2` (the analyzed plan reads through a
    // Graft2Table DataSourceV2Relation), `pruned_ok` (the v2 planner
    // kept exactly the 1 overlapping file of 4 — the v1 index's exact
    // ratio, from manifest stats with zero file I/O), and the
    // aggregate itself (vectorized batches produce the same numbers).
    // Graft2DefaultSpec pins codegen shape, freshness, fallback, and
    // MOR unswap; the REST OF THIS CATALOG is the real coverage — all
    // 250+ entries' graft reads run through this path now.
    QueryDef(
      "q255_dsv2_default_read",
      (s, d) => {
        val root = Files.createTempDirectory("dsv2_entry_").toString
        val tbl = "dsv2_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")).filter(col("o_orderkey") < 4096)
        (0 until 4).foreach { i => // 4 range-disjoint files
          graft.sources.VersionedTable.commit(
            src.filter(col("o_orderkey") >= i * 1024L &&
              col("o_orderkey") < (i + 1) * 1024L).coalesce(1), root)
        }
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
        val probe = s.sql(
          s"SELECT count(*) AS n FROM $tbl WHERE o_orderkey % 4 = 2")
        val isV2 = probe.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2Relation
              if r.table.isInstanceOf[graft.sources.Graft2Table] => r
        }.nonEmpty
        probe.collect()
        // partition-tag parity is separate (q-entries + specs); here
        // the 4 files are range-committed so a POINT key prunes 1/4
        // via stats through the v2 planner
        s.sql(s"SELECT o_custkey FROM $tbl WHERE o_orderkey = 32")
          .collect()
        val (kept, total) =
          graft.sources.Graft2DataSource.lastPlanned(root)
        val prunedOk = if (kept == 1 && total == 4) 1L else 0L
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(${if (isV2) 1L else 0L} AS BIGINT) AS is_v2,
             |  CAST($prunedOk AS BIGINT) AS pruned_ok
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(1 AS BIGINT) AS is_v2,
             |  CAST(1 AS BIGINT) AS pruned_ok
             |FROM orders WHERE o_orderkey < 4096
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA WRITER-FEATURE GATE (round 10): the protocol's writer
    // rule — a writer must honor every ACTIVE writer feature's
    // obligations or refuse the commit. Round 9's writer could
    // silently break a foreign table's CHECK contract; now every
    // write/DML entry point gates. The entry proves all four legs
    // under the oracle: (1) a table CREATED with
    // `delta.constraints.*` bumps the protocol to writer 3 and
    // accepts clean appends; (2) a violating append refuses — with
    // the constraint NAMED — and commits nothing (version count
    // pinned); (3) `delta.appendOnly=true` lets appends through but
    // refuses DELETE; (4) a foreign log listing a writer feature we
    // do not enforce (rowTracking) reads fine but refuses every
    // write. `gates_ok` folds all refusal pins; the data aggregate
    // reads the constrained table, whose content the refusals must
    // not have changed. DeltaLogSpec pins the per-path matrix
    // (UPDATE/MERGE contracts, ADD CONSTRAINT existing-data
    // verification, invariants' NULL-violates rule).
    QueryDef(
      "q256_delta_writer_gates",
      (s, d) => {
        import graft.sources.DeltaLog
        val base = Files.createTempDirectory("dwg_entry_").toString
        val root = base + "/constrained"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")).filter(col("o_orderkey") <= 2048)
        DeltaLog.commit(src.filter(col("o_orderkey") <= 1024).coalesce(1),
          root, properties = Map(
            "delta.constraints.key_positive" -> "o_orderkey >= 0"))
        DeltaLog.commit(src.filter(col("o_orderkey") > 1024).coalesce(1),
          root) // clean append on the constrained table
        val vClean = DeltaLog.latestVersion(root)
        val violationNamed =
          try {
            DeltaLog.commit(src.limit(3)
              .withColumn("o_orderkey", -col("o_orderkey") - 1)
              .coalesce(1), root)
            false
          } catch {
            case e: IllegalArgumentException =>
              e.getMessage.contains("key_positive")
          }
        val nothingCommitted = DeltaLog.latestVersion(root) == vClean
        val protoOk = DeltaLog.snapshot(s, root).minWriterVersion >= 3
        val ao = base + "/append_only"
        DeltaLog.commit(src.filter(col("o_orderkey") <= 512).coalesce(1),
          ao, properties = Map("delta.appendOnly" -> "true"))
        val aoRefused =
          try { DeltaLog.deleteWhere(s, ao, col("o_orderkey") === 1); false }
          catch { case e: UnsupportedOperationException =>
            e.getMessage.contains("append-only") }
        // foreign table listing an unenforced writer feature: the
        // READ replays (allowColumnDefaults is writer-only), the
        // WRITE refuses (icebergCompatV2 retired from this probe in
        // round 13 — its obligation is ENFORCED now, q283;
        // rowTracking retired in round 11, q266; collations retired
        // in round 14, q290)
        val ft = base + "/foreign"
        val log = java.nio.file.Paths.get(ft, "_delta_log")
        Files.createDirectories(log)
        java.nio.file.Files.write(log.resolve(f"${0L}%020d.json"),
          ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["allowColumnDefaults","appendOnly"]}}""" + "\n" +
            """{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}""" + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val foreignReadOk = DeltaLog.snapshot(s, ft).adds.isEmpty
        val foreignWriteRefused =
          try {
            DeltaLog.commit(s.range(1).select(col("id").as("k"))
              .coalesce(1), ft)
            false
          } catch { case e: UnsupportedOperationException =>
            e.getMessage.contains("allowColumnDefaults") }
        val gatesOk = if (violationNamed && nothingCommitted && protoOk &&
          aoRefused && foreignReadOk && foreignWriteRefused) 1L else 0L
        s.read.format("delta-log").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("gates_ok", lit(gatesOk))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS gates_ok
             |FROM orders WHERE o_orderkey <= 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA V2 CHECKPOINTS (round 10): recent Databricks runtimes
    // write v2 (UUID-named, checkpointMetadata + sidecar actions)
    // checkpoints by default on feature-bearing tables — round 9
    // refused the v2Checkpoint reader feature, making such tables
    // unreadable outright. Now: [[DeltaLog.replayV2Checkpoint]]
    // replays the self-contained top-level file plus its
    // `_sidecars/` parquet indirection, and [[DeltaLog.checkpoint]]
    // honors the WRITER obligation by switching to v2 format when
    // `delta.checkpointPolicy = v2`. The entry commits orders in two
    // versions under the v2 policy, checkpoints, then DELETES every
    // JSON commit — the aggregate can only be right if the replay
    // came from the v2 checkpoint alone. `v2_ok` pins the UUID name
    // (and the absence of a classic `.checkpoint.parquet`), a DV-
    // composed leg (the protocol (3,7)+features must SURVIVE the
    // checkpoint — the classic writer used to stamp (1,2), silently
    // downgrading feature tables), and a post-checkpoint DELETE
    // replaying on top. DeltaLogSpec pins the hand-written foreign
    // sidecar fixture, stats pruning from sidecar-carried adds, and
    // the corrupt-checkpoint refusal.
    QueryDef(
      "q257_delta_v2_checkpoint",
      (s, d) => {
        import graft.sources.DeltaLog
        import scala.jdk.CollectionConverters._
        val root = Files.createTempDirectory("v2cp_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")).filter(col("o_orderkey") <= 2048)
        DeltaLog.commit(src.filter(col("o_orderkey") <= 1024).coalesce(1),
          root, properties = Map(
            "delta.checkpointPolicy" -> "v2",
            "delta.enableDeletionVectors" -> "true"))
        DeltaLog.commit(src.filter(col("o_orderkey") > 1024).coalesce(1),
          root)
        DeltaLog.checkpoint(s, root)
        val log = java.nio.file.Paths.get(root, "_delta_log")
        val names = {
          val st = java.nio.file.Files.list(log)
          try st.iterator().asScala.map(_.getFileName.toString).toSeq
          finally st.close()
        }
        val uuidNamed = names.exists(_.matches(
          """\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet"""))
        val noClassic = !names.exists(_.matches(
          """\d{20}\.checkpoint\.parquet"""))
        names.filter(n => n.endsWith(".json") && n.length == 25)
          .foreach(n => java.nio.file.Files.delete(log.resolve(n)))
        // replay now comes from the v2 checkpoint ALONE; the protocol
        // (3,7 with deletionVectors) must have survived it, so this
        // post-checkpoint DV DELETE both replays and commits
        val protoOk = {
          val snap = DeltaLog.snapshot(s, root)
          snap.minWriterVersion == 7 &&
            snap.writerFeatures.contains("deletionVectors")
        }
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 3)
        val v2Ok = if (uuidNamed && noClassic && protoOk) 1L else 0L
        s.read.format("delta-log").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("v2_ok", lit(v2Ok))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS v2_ok
             |FROM orders
             |WHERE o_orderkey <= 2048 AND o_orderkey % 10 <> 3
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG PARTITION-SPEC EVOLUTION (round 10): routine on
    // long-lived Iceberg tables — re-layout WITHOUT rewriting
    // history. The entry appends orders unpartitioned (spec 0),
    // evolves to `bucket(4, o_custkey)` (one metadata-only commit:
    // partition-specs append + default-spec-id bump, field ids
    // continuing from last-partition-id), appends again (new files
    // lay out and record tuples under spec 1 while old files keep
    // theirs), then runs a positional DELETE spanning files of BOTH
    // specs — delete files group per (spec, tuple), delete manifests
    // per spec, nothing rewritten (the MOR contract; r9 refused this
    // outright). `evo_ok` pins the spec ids on both file generations
    // and the no-rewrite invariant; the aggregate reads through the
    // per-spec MOR scope. Oracle restates append∪append minus the
    // delete over raw orders.
    QueryDef(
      "q258_iceberg_spec_evolution",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("ievo_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta").save(root)              // spec 0
        val newSpec = IcebergMeta.evolveSpec(root,
          Seq("o_custkey" -> "bucket[4]"))
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 1024 &&
            col("o_orderkey") <= 2048), root)                   // spec 1
        val before = IcebergMeta.snapshot(root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 10 === 7)
        val after = IcebergMeta.snapshot(root)
        val evoOk = if (newSpec == 1 &&
          before.files.exists(f => f.specId == 0 &&
            f.partitionTuple.isEmpty) &&
          before.files.exists(f => f.specId == 1 &&
            f.partitionTuple.nonEmpty) &&
          after.files.map(_.path).toSet ==
            before.files.map(_.path).toSet &&
          after.deletes.nonEmpty) 1L else 0L
        s.read.format("iceberg-meta").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("evo_ok", lit(evoOk))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS evo_ok
             |FROM orders
             |WHERE o_orderkey <= 2048 AND o_orderkey % 10 <> 7
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG REFS (round 10): the metadata.json `refs` map — named
    // TAGS (pinned snapshots) and BRANCHES (`main` advances with
    // every commit, Iceberg semantics). The entry tags the first
    // snapshot `v1.0`, appends more data (main moves, the tag does
    // not), reads BOTH refs by name (`refAsOf`), and proves the
    // retention contract: expire-with-retainLast=1 would drop the
    // first snapshot, but the tag PINS it — the tagged read still
    // answers afterwards. The result diffs the two refs' aggregates
    // under the oracle (head minus tag = exactly the second append),
    // with `refs_ok` folding the pin/advance/expire invariants.
    QueryDef(
      "q259_iceberg_refs",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("iref_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta").save(root)
        val snap1 = IcebergMeta.snapshot(root).snapshotId
        IcebergMeta.setRef(root, "v1.0", "tag")
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 1024 &&
            col("o_orderkey") <= 2048), root)
        val rs = IcebergMeta.refs(root)
        val mainAdvanced = rs.get("main").exists(r =>
          r._1 == IcebergMeta.snapshot(root).snapshotId &&
            r._2 == "branch")
        val tagPinned = rs.get("v1.0").contains((snap1, "tag"))
        // retainLast=1 + future cutoff would expire the tagged
        // snapshot — the ref pins it, so nothing expires
        val expired = IcebergMeta.expireSnapshots(root,
          System.currentTimeMillis() + 60000L, retainLast = 1)
          .expiredSnapshots
        val tagged = s.read.format("iceberg-meta")
          .option("refAsOf", "v1.0").load(root)
        val head = s.read.format("iceberg-meta")
          .option("refAsOf", "main").load(root)
        val refsOk = if (mainAdvanced && tagPinned && expired == 0) 1L
          else 0L
        head.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_head"),
            sum(col("o_orderkey")).cast("long").as("sum_head"))
          .join(tagged.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_tag"),
              sum(col("o_orderkey")).cast("long").as("sum_tag")),
            Seq("o_orderstatus"))
          .withColumn("refs_ok", lit(refsOk))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus,
             |  count(*) AS n_head,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_head,
             |  count(CASE WHEN o_orderkey <= 1024 THEN 1 END) AS n_tag,
             |  CAST(sum(CASE WHEN o_orderkey <= 1024 THEN o_orderkey END)
             |    AS BIGINT) AS sum_tag,
             |  CAST(1 AS BIGINT) AS refs_ok
             |FROM orders WHERE o_orderkey <= 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG BRANCH WAP (round 10): write-audit-publish on a FOREIGN
    // Iceberg table — the pattern graft's own format proved in
    // q223/q224, now on the interop leg. Stage an append on the
    // `audit` branch (`append(..., toBranch)`: the snapshot parents
    // off the branch head, only the branch ref advances — serving
    // reads of the table head see NOTHING), audit it by reading the
    // branch by name, then PUBLISH with `fast_forward(main, audit)` —
    // one metadata-only commit moves the table head; the
    // ancestry-checked refusal (a diverged target loses nothing) is
    // spec-locked. `wap_ok` pins head-invisibility during staging and
    // the head≡branch identity after publish; the aggregate reads the
    // published head. At 100 TB this is the zero-copy blue/green
    // deploy for data: audit a day's ingest against the full table
    // without a second copy and without exposing it.
    QueryDef(
      "q260_iceberg_branch_wap",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("iwap_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.filter(col("o_orderkey") <= 1024)
          .write.format("iceberg-meta").save(root)
        val head0 = IcebergMeta.snapshot(root).snapshotId
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 1024 &&
            col("o_orderkey") <= 2048), root, toBranch = Some("audit"))
        // staged rows are INVISIBLE at the head, visible on the branch
        val headDuring = s.read.format("iceberg-meta").load(root).count()
        val branchDuring = s.read.format("iceberg-meta")
          .option("refAsOf", "audit").load(root).count()
        val headPinned =
          IcebergMeta.snapshot(root).snapshotId == head0
        IcebergMeta.fastForward(root, "main", "audit")
        val headAfter = IcebergMeta.snapshot(root).snapshotId
        val published =
          IcebergMeta.refs(root)("audit")._1 == headAfter
        val wapOk = if (headPinned && published &&
          branchDuring > headDuring) 1L else 0L
        s.read.format("iceberg-meta").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("wap_ok", lit(wapOk))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS wap_ok
             |FROM orders WHERE o_orderkey <= 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DSV2 DEFAULT WRITE PATH (round 10): q255's write-side sibling.
    // `INSERT INTO` a graft catalog table now executes as Spark's
    // native v2 write plan — `GraftDsv2Write` rewrites the command to
    // `AppendData` over `Graft2Table`'s `SupportsWrite`; executor
    // tasks stream rows into staged parquet through the public
    // `DataWriter` contract and the driver publishes ONE manifest
    // (same CHECK enforcement / stats harvest / atomic putIfAbsent as
    // the v1 writer — two APIs, one commit protocol). The entry
    // creates the table with a range commit, INSERTs the second half
    // through SQL, pins `w2_ok`: the analyzed insert IS AppendData,
    // the inserted file's HARVESTED stats prune a key-range probe
    // down to the v2-written files only, and a CHECK-violating insert
    // through the same route refuses with the constraint named while
    // committing nothing. The aggregate reads the whole table back
    // through the v2 scan. Graft2DefaultSpec pins the overwrite leg,
    // the writePath=v1 fallback, and direct format("graft2") saves.
    QueryDef(
      "q261_dsv2_write",
      (s, d) => {
        val root = Files.createTempDirectory("dsw_entry_").toString
        val tbl = "dsv2_write_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")).filter(col("o_orderkey") <= 2048)
        VersionedTable.commit(
          src.filter(col("o_orderkey") <= 1024).coalesce(1), root)
        VersionedTable.addCheck(s, root, "key_in_range",
          "o_orderkey >= 0 AND o_orderkey <= 2048")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
        val ins = s.sql(
          s"""INSERT INTO $tbl
             |SELECT o_orderkey, o_custkey, o_orderstatus
             |FROM parquet.`$d/orders.parquet`
             |WHERE o_orderkey > 1024 AND o_orderkey <= 2048""".stripMargin)
        val isV2Write = ins.queryExecution.analyzed.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical
              .AppendData => ()
        }.nonEmpty
        val vAfter = VersionedTable.latestVersion(root)
        // the violating insert refuses THROUGH the v2 route, naming
        // the constraint, committing nothing
        val refused =
          try {
            s.sql(s"INSERT INTO $tbl VALUES (9999999, 1, 'X')")
            false
          } catch { case e: Exception =>
            e.getMessage.contains("key_in_range") &&
              VersionedTable.latestVersion(root) == vAfter
          }
        // harvested stats prune: a probe above the seed range keeps
        // only the v2-written file(s)
        s.sql(s"SELECT sum(o_custkey) FROM $tbl WHERE o_orderkey >= 1500")
          .collect()
        val (kept, total) =
          graft.sources.Graft2DataSource.lastPlanned(root)
        val prunedOk = kept < total && kept >= 1
        val w2Ok = if (isV2Write && refused && prunedOk) 1L else 0L
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($w2Ok AS BIGINT) AS w2_ok
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS w2_ok
             |FROM orders WHERE o_orderkey <= 2048
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA GENERATED + IDENTITY COLUMNS ON WRITE (round 11):
    // generated partition-style columns and identity keys are
    // everywhere in real Delta tables, and round 10 made every such
    // table READ-ONLY for us (the gate refused the metadata-bearing
    // writer features). Now both are ENFORCED obligations
    // ([[graft.sources.DeltaLog]]): a generated column missing from
    // the frame computes from `delta.generationExpression`, a
    // supplied value VERIFIES against it (mismatch refuses, nothing
    // commits), UPDATE recomputes generated columns from the
    // post-update row; identity columns allocate past
    // `delta.identity.highWaterMark` and restate the moved mark in
    // the SAME commit (monotonic across appends — the spec contract),
    // with explicit values refused on GENERATED ALWAYS and identity
    // UPDATE/MERGE assignment refused outright. The entry appends
    // orders twice into a HAND-WRITTEN fixture carrying both
    // metadata kinds, updates a slice (generated recompute), and
    // pins the refusal matrix in `gi_ok`; identity values are
    // oracle-stated as a ROW_NUMBER ramp (the two appends are
    // key-ordered, so the global order-by reproduces the allocation
    // sequence). DeltaLogSpec pins the per-path matrix.
    QueryDef(
      "q262_delta_generated_identity",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dgi_entry_").toString + "/t"
        val log = java.nio.file.Paths.get(root, "_delta_log")
        Files.createDirectories(log)
        val schemaJson = """{\"type\":\"struct\",\"fields\":[{\"name\":\"o_orderkey\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"o_custkey\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g_key\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.generationExpression\":\"o_orderkey + o_custkey\"}},{\"name\":\"row_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.identity.start\":100,\"delta.identity.step\":10,\"delta.identity.allowExplicitInsert\":false}}]}"""
        java.nio.file.Files.write(log.resolve(f"${0L}%020d.json"),
          ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""" + "\n" +
            s"""{"metaData":{"id":"dgi-fix","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""" + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_orderkey") <= 2000)
        // two key-ordered appends: g_key computes, row_id allocates
        // monotonically across the commits (mark restated in each)
        DeltaLog.commit(src.filter(col("o_orderkey") <= 1000)
          .orderBy("o_orderkey").coalesce(1), root)
        val hwm1 = DeltaLog.snapshot(s, root).schema("row_id").metadata
          .getLong("delta.identity.highWaterMark")
        DeltaLog.commit(src.filter(col("o_orderkey") > 1000)
          .orderBy("o_orderkey").coalesce(1), root)
        val hwm2 = DeltaLog.snapshot(s, root).schema("row_id").metadata
          .getLong("delta.identity.highWaterMark")
        val n = src.count()
        val hwmOk = hwm2 == 90L + 10L * n && hwm2 > hwm1
        val vClean = DeltaLog.latestVersion(root)
        // a MISMATCHED supplied generated value refuses, names the
        // column, commits nothing
        val genRefused =
          try {
            DeltaLog.commit(s.range(1).select(
              lit(5000L).as("o_orderkey"), lit(1L).as("o_custkey"),
              lit(999L).as("g_key")).coalesce(1), root)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("g_key") &&
              DeltaLog.latestVersion(root) == vClean }
        // explicit identity values refuse (GENERATED ALWAYS)
        val idRefused =
          try {
            DeltaLog.commit(s.range(1).select(
              lit(5000L).as("o_orderkey"), lit(1L).as("o_custkey"),
              lit(777L).as("row_id")).coalesce(1), root)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("GENERATED ALWAYS") }
        // UPDATE of a source column recomputes the generated one; an
        // UPDATE naming the identity column refuses
        val parse = s.sessionState.sqlParser.parseExpression _
        DeltaLog.updateWhere(s, root,
          Seq("o_custkey" -> parse("o_custkey + 1000")),
          Some(parse("o_orderkey <= 100")))
        val updIdRefused =
          try {
            DeltaLog.updateWhere(s, root,
              Seq("row_id" -> parse("row_id + 1")), None)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("IDENTITY") }
        val giOk = if (hwmOk && genRefused && idRefused && updIdRefused)
          1L else 0L
        s.read.format("delta-log").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("g_key")).cast("long").as("sum_g"),
            sum(col("row_id")).cast("long").as("sum_id"))
          .withColumn("gi_ok", lit(giOk))
      },
      Some("""WITH f AS (SELECT o_orderkey, o_custkey FROM orders
             |  WHERE o_orderkey <= 2000),
             |ids AS (SELECT o_orderkey,
             |  CASE WHEN o_orderkey <= 100 THEN o_custkey + 1000
             |       ELSE o_custkey END AS c2,
             |  90 + 10 * ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
             |  FROM f)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey + c2) AS BIGINT) AS sum_g,
             |  CAST(sum(rid) AS BIGINT) AS sum_id,
             |  CAST(1 AS BIGINT) AS gi_ok
             |FROM ids""".stripMargin)),

    // DELTA WRITER SCHEMA EVOLUTION (round 11): routine ingestion
    // pipelines add columns and widen key types; round 10's writer
    // refused both, making such appends fail. Now `mergeSchema`
    // appends merge ADD-ONLY columns (old files NULL-fill at read
    // time) and SAFE WIDENINGS (int→long here) into the schema,
    // restated in the SAME commit — a widening also upgrades the
    // protocol with the `typeWidening` reader-writer feature and
    // records `delta.typeChanges` field metadata, the spec's licence
    // for reading narrow old files under the wide declared schema.
    // The entry seeds the table with an INT key column plus custkey,
    // then mergeSchema-appends the second half with a LONG key and a
    // NEW status column; `evo_ok` pins the un-opted refusal, the
    // protocol/typeChanges record, and MERGE WITH SCHEMA EVOLUTION
    // adding an assignment-target column (DeltaLogSpec pins the full
    // matrix incl. retype refusals and mapped-table stamping).
    QueryDef(
      "q263_delta_schema_evolution",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dse_entry_").toString + "/t"
        val src = orders(s, d).filter(col("o_orderkey") <= 2000)
        DeltaLog.commit(src.filter(col("o_orderkey") <= 1000)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_custkey")).coalesce(1), root)
        // un-opted: both the widened key and the new column refuse
        val vSeed = DeltaLog.latestVersion(root)
        val refused =
          try {
            DeltaLog.commit(src.filter(col("o_orderkey") > 1000)
              .select(col("o_orderkey"), col("o_custkey"),
                col("o_orderstatus")).coalesce(1), root)
            false
          } catch { case _: IllegalArgumentException =>
            DeltaLog.latestVersion(root) == vSeed }
        DeltaLog.commit(src.filter(col("o_orderkey") > 1000)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus")).coalesce(1), root,
          mergeSchema = true)
        val snap = DeltaLog.snapshot(s, root)
        val widenOk = snap.schema("o_orderkey").dataType ==
          org.apache.spark.sql.types.LongType &&
          snap.readerFeatures.contains("typeWidening") &&
          snap.writerFeatures.contains("typeWidening") &&
          snap.schema("o_orderkey").metadata
            .getMetadataArray("delta.typeChanges").length == 1
        // MERGE WITH SCHEMA EVOLUTION adds an assignment-target column
        val mSrc = s.range(1).select(lit(1L).as("sk"),
          lit("m").as("mtag"))
        DeltaLog.mergeConditional(s, root, mSrc, "o_orderkey", "sk",
          matched = Seq(graft.sources.VersionedTable.MergeUpdate(None,
            Map("mtag" ->
              graft.sources.VersionedTable.MergeRef.source("mtag")))),
          withSchemaEvolution = true)
        val mergeEvoOk = DeltaLog.snapshot(s, root)
          .schema.fieldNames.contains("mtag")
        val evoOk = if (refused && widenOk && mergeEvoOk) 1L else 0L
        s.read.format("delta-log").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"),
            sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
              .as("n_null_status"),
            countDistinct(col("o_orderstatus")).as("n_statuses"),
            sum(when(col("mtag").isNotNull, 1L).otherwise(0L))
              .as("n_tagged"))
          .withColumn("evo_ok", lit(evoOk))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(CASE WHEN o_orderkey <= 1000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_null_status,
             |  CAST(count(DISTINCT CASE WHEN o_orderkey > 1000
             |    THEN o_orderstatus END) AS BIGINT) AS n_statuses,
             |  CAST(sum(CASE WHEN o_orderkey = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_tagged,
             |  CAST(1 AS BIGINT) AS evo_ok
             |FROM orders WHERE o_orderkey <= 2000""".stripMargin)),

    // ICEBERG FORMAT-VERSION 3 (round 11): read and row-level-delete
    // a v3 table — the newest real-world Iceberg shape (deletion
    // vectors, row lineage). The table is created as v3 (metadata
    // carries next-row-id; each snapshot records first-row-id), and
    // `DELETE FROM` lowers to the version-appropriate delete format:
    // a Puffin file of `deletion-vector-v1` blobs (4-byte-BE-length +
    // D1D33DE1 magic + portable-roaring64 + CRC framing, sources/
    // Puffin.scala), one blob per touched data file, addressed from
    // the delete manifest's referenced_data_file/content_offset/
    // content_size_in_bytes triple — no Puffin footer parse on read.
    // A second DELETE must MERGE into the files' existing DVs (the
    // spec's at-most-one-DV-per-file writer obligation), with prior
    // manifests rewritten so older snapshots stay exact. Read side:
    // the IcebergMorScan rewrite keeps untouched files on the stock
    // pruned scan and anti-joins only DV-targeted files on
    // (file, _metadata.row_index) — at 100 TB a point delete pays the
    // resolve for ONE file. The probe asserts: v3 document, no
    // parquet delete files, ≥1 DV, exactly one DV per touched file,
    // data files untouched. Oracle applies both predicates to raw
    // orders. IcebergV3Spec pins the codecs, the foreign hand-written
    // v3 tree, changes() DV-diff derivation, and the v3 refusal
    // gates (appends, initial-default, encryption, parquet deletes).
    QueryDef(
      "q264_iceberg_v3_dv",
      (s, d) => {
        val root = Files.createTempDirectory("ice_v3_e_").toString + "/t"
        val tbl = "ice_v3_orders_entry"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        src.write.format("iceberg-meta")
          .option("formatVersion", "3")
          .option("partitionBy", "o_orderstatus").save(root)
        val preFiles = graft.sources.IcebergMeta.snapshot(root)
          .files.map(_.path).toSet
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl USING `iceberg-meta` OPTIONS (path '$root')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 100 < 7")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 100 = 55")
        val snap = graft.sources.IcebergMeta.snapshot(root)
        val v3Ok =
          if (snap.files.map(_.path).toSet == preFiles &&
            snap.deletes.isEmpty && snap.eqDeletes.isEmpty &&
            snap.dvs.nonEmpty &&
            snap.dvs.groupBy(_.referencedDataFile).forall(_._2.size == 1) &&
            snap.dvs.forall(_.puffinPath.endsWith(".puffin"))) 1L
          else 0L
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST($v3Ok AS BIGINT) AS v3_ok
             |FROM $tbl GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        s.sql(s"DROP TABLE $tbl")
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS v3_ok
             |FROM orders
             |WHERE o_orderkey % 100 >= 7 AND o_orderkey % 100 <> 55
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG v3 ROW LINEAGE on the ADDITIVE write paths (round 11):
    // v3 is not read-only here — append, equality delete, and
    // MOR upsert all work, each discharging the v3 writer obligation
    // the spec actually imposes on them: the snapshot records
    // first-row-id = the table's next-row-id, the new data manifest's
    // manifest-list row carries the same base for inheritance-based
    // id assignment (entry first_row_id stays null), and next-row-id
    // moves by the added row count IN THE SAME COMMIT. Deletes add no
    // rows, so their mark is unchanged. Only REWRITES (compaction,
    // COW) refuse — they would have to preserve existing rows' ids.
    // The probe asserts the arithmetic end to end: after create(n1) +
    // append(n2) + upsert(n3), next-row-id == n1+n2+n3 and every
    // snapshot's first-row-id is the running total at its commit.
    // Oracle: orders with the upsert images substituted and the
    // eq-deleted keys gone. IcebergV3Spec pins the per-commit marks
    // and the rewrite refusal.
    QueryDef(
      "q265_iceberg_v3_lineage",
      (s, d) => {
        val root = Files.createTempDirectory("ice_v3l_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        // The three lineage-arithmetic counts in ONE scan (was three
        // sequential count jobs over the same projection).
        val nn = src.agg(
          sum(when(col("o_orderkey") <= 4096L, 1L).otherwise(0L)),
          sum(when(col("o_orderkey") > 4096L, 1L).otherwise(0L)),
          sum(when(col("o_orderkey") % 100 === 55, 1L).otherwise(0L)))
          .head()
        val (n1, n2, n3) = (nn.getLong(0), nn.getLong(1), nn.getLong(2))
        src.filter(col("o_orderkey") <= 4096L)
          .write.format("iceberg-meta")
          .option("formatVersion", "3").save(root)
        graft.sources.IcebergMeta.append(
          src.filter(col("o_orderkey") > 4096L), root)
        graft.sources.IcebergMeta.deleteEquality(s, root,
          src.filter(col("o_orderkey") % 100 === 13)
            .select(col("o_orderkey")))
        val images = src.filter(col("o_orderkey") % 100 === 55)
          .withColumn("o_custkey", col("o_custkey") + 1000000L)
        graft.sources.IcebergMeta.upsertKeyed(s, root, images,
          "o_orderkey")
        // lineage probe: the mark moved by exactly the added rows,
        // and each snapshot's first-row-id is the pre-commit total
        val meta = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, s"metadata/v${
            graft.sources.IcebergMeta.latestMetadataVersion(root)
          }.metadata.json")), java.nio.charset.StandardCharsets.UTF_8)
        def longsOf(field: String): Seq[Long] =
          s""""$field"\\s*:\\s*(\\d+)""".r
            .findAllMatchIn(meta).map(_.group(1).toLong).toSeq
        val lineageOk =
          if (longsOf("next-row-id") == Seq(n1 + n2 + n3) &&
            longsOf("first-row-id").sorted ==
              Seq(0L, n1, n1 + n2, n1 + n2)) 1L
          else 0L
        s.read.format("iceberg-meta").load(root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_kept"),
            sum("o_custkey").cast("long").as("sum_cust"),
            sum("o_orderkey").cast("long").as("sum_key"))
          .withColumn("lineage_ok", lit(lineageOk))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(CASE WHEN o_orderkey % 100 = 55
             |    THEN o_custkey + 1000000 ELSE o_custkey END)
             |    AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS lineage_ok
             |FROM orders WHERE o_orderkey % 100 <> 13
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DELTA ROW TRACKING (round 11): the rowTracking writer feature
    // joins the ENFORCED set — the Delta mirror of the Iceberg v3
    // row-lineage work. Every path that lands new adds (append,
    // COW delete/update/merge, OPTIMIZE, RESTORE re-adds of
    // pre-feature files) assigns a fresh contiguous id block
    // [baseRowId, baseRowId + numRecords) past the table's
    // high-water mark and restates the delta.rowTracking domain in
    // the SAME commit; recommits of the same file (DV merges,
    // RESTORE) keep their blocks; checkpoints carry the two add
    // fields. The probe asserts the arithmetic: after create(n1) +
    // append(n2), the mark is n1+n2-1 and the blocks tile [0, n1+n2)
    // disjointly; a COW delete moves the mark (rewritten survivors
    // get fresh blocks — unpreserved row tracking, the spec's
    // default); after checkpoint + JSON truncation the blocks and
    // the domain replay intact. Oracle: the surviving rows from raw
    // orders. DeltaLogSpec pins OPTIMIZE/RESTORE monotonicity and
    // the no-backfill SET TBLPROPERTIES refusal.
    QueryDef(
      "q266_delta_row_tracking",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("drt_entry_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
        // Both mark-arithmetic counts in ONE scan (was two count jobs).
        val nn = src.agg(
          sum(when(col("o_orderkey") <= 4096L, 1L).otherwise(0L)),
          sum(when(col("o_orderkey") > 4096L, 1L).otherwise(0L))).head()
        val (n1, n2) = (nn.getLong(0), nn.getLong(1))
        DeltaLog.commit(src.filter(col("o_orderkey") <= 4096L), root,
          properties = Map("delta.enableRowTracking" -> "true"))
        DeltaLog.commit(src.filter(col("o_orderkey") > 4096L), root)
        def markOf(): Long = {
          val conf = DeltaLog.snapshot(s, root)
            .domains("delta.rowTracking")._1
          """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r
            .findFirstMatchIn(conf).get.group(1).toLong
        }
        def blocks(): Seq[(Long, Long)] = DeltaLog.snapshot(s, root)
          .adds.map(a => (a.baseRowId.get, a.baseRowId.get +
            """"numRecords"\s*:\s*(\d+)""".r
              .findFirstMatchIn(a.statsJson.get).get.group(1).toLong - 1))
          .sortBy(_._1)
        val b0 = blocks()
        val tiled = b0.head._1 == 0L && b0.zip(b0.tail).forall {
          case ((_, e), (st, _)) => st == e + 1 }
        val markAfterAppend = markOf()
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 100 < 5)
        val markMoved = markOf() > markAfterAppend
        val allBlocked = DeltaLog.snapshot(s, root)
          .adds.forall(_.baseRowId.isDefined)
        val cpv = DeltaLog.checkpoint(s, root)
        val log = java.nio.file.Paths.get(root, "_delta_log")
        (0L until cpv).foreach(v => java.nio.file.Files.deleteIfExists(
          log.resolve(f"$v%020d.json")))
        val snapCp = DeltaLog.snapshot(s, root)
        val survived = snapCp.adds.forall(_.baseRowId.isDefined) &&
          snapCp.domains.contains("delta.rowTracking") &&
          snapCp.writerFeatures.contains("rowTracking")
        val rtOk = if (markAfterAppend == n1 + n2 - 1 && tiled &&
          markMoved && allBlocked && survived) 1L else 0L
        s.read.format("delta-log").load(root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("o_custkey")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("rt_ok", lit(rtOk))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_kept,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(1 AS BIGINT) AS rt_ok
             |FROM orders WHERE o_orderkey % 100 >= 5
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ROW-ID READ SURFACE, both formats (round 11): the consumer half
    // of row lineage. `delta_row_ids(root)` exposes `_row_id` =
    // baseRowId + physical position and `_last_updated_version` on a
    // row-tracked Delta table; `iceberg_row_ids(root)` exposes
    // `_row_id` = first_row_id (the spec's manifest-inheritance walk,
    // resolved at replay) + position and
    // `_last_updated_sequence_number` on a v3 Iceberg table. The
    // load-bearing property both TVFs must prove: ids are STABLE
    // under DV deletes (deleted rows keep occupying their physical
    // slots), so a surviving row's id equals its position at write —
    // which the oracle can state exactly as
    // ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1, because both
    // tables are built from key-sorted single-file commits (batch 1 =
    // keys ≤ 4096, batch 2 = the rest — the two blocks concatenate in
    // key order). The Delta leg ALSO optimizes after the delete: the
    // compaction materializes the hidden row-tracking columns, and
    // the oracle staying unchanged proves ids survive maintenance.
    // Both formats must agree with the oracle AND each other. Plumbing: one broadcast metadata join (file → id base)
    // over the stock pruned scan + `_metadata.row_index` — no
    // shuffle, no data rewrite, O(files) driver state at 100 TB.
    QueryDef(
      "q267_row_id_read",
      (s, d) => {
        import graft.sources.{DeltaLog, DeltaLogRead, IcebergMeta, IcebergMetaRead}
        val base = Files.createTempDirectory("rid_entry_").toString
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        def sorted(df: org.apache.spark.sql.DataFrame) =
          df.coalesce(1).sortWithinPartitions("o_orderkey")
        val lo = sorted(src.filter(col("o_orderkey") <= 4096L))
        val hi = sorted(src.filter(col("o_orderkey") > 4096L))
        // Delta: row-tracked + DV-enabled, so the DELETE keeps files
        val droot = base + "/delta"
        DeltaLog.commit(lo, droot, properties = Map(
          "delta.enableRowTracking" -> "true",
          "delta.enableDeletionVectors" -> "true"))
        DeltaLog.commit(hi, droot)
        DeltaLog.deleteWhere(s, droot, col("o_orderkey") % 100 < 10)
        // OPTIMIZE between the delete and the read: ids must SURVIVE
        // the compaction (materialized hidden columns, round 11) —
        // the oracle is unchanged, which is exactly the point
        DeltaLog.compact(s, droot)
        // Iceberg v3: DV delete via the same public delete API
        val iroot = base + "/iceberg"
        IcebergMeta.writeFixture(lo, iroot, formatVersion = 3)
        IcebergMeta.append(hi, iroot)
        IcebergMeta.delete(s, iroot, col("o_orderkey") % 100 < 10)
        val dd = DeltaLogRead.readWithRowIds(s, droot)
          .select(lit("delta").as("fmt"), col("o_orderkey"),
            col("_row_id"))
        val id = IcebergMetaRead.readWithRowIds(s, iroot)
          .select(lit("iceberg").as("fmt"), col("o_orderkey"),
            col("_row_id"))
        dd.unionByName(id)
          .groupBy("fmt")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("_row_id")).cast("long").as("sum_rid"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .orderBy("fmt")
      },
      Some("""WITH ids AS (
             |  SELECT o_orderkey,
             |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
             |  FROM orders)
             |SELECT fmt, count(*) AS n_rows,
             |  CAST(sum(rid) AS BIGINT) AS sum_rid,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM ids CROSS JOIN (VALUES ('delta'), ('iceberg')) t(fmt)
             |WHERE o_orderkey % 100 >= 10
             |GROUP BY fmt ORDER BY fmt""".stripMargin)),

    // ICEBERG v3 COMPACTION WITH PRESERVED LINEAGE (round 11): the
    // last v3 refusal lifted for the maintenance path. compact() on a
    // v3 table MATERIALIZES each surviving row's _row_id and
    // _last_updated_sequence_number as ordinary columns in the
    // rewritten files — the spec's preservation mechanism — and the
    // reader coalesces them over the (absent) inheritance metadata,
    // so ids survive the rewrite exactly; plain reads never see the
    // extra columns (schema projection). Flow: create(sorted) +
    // append(sorted) + DV DELETE + COMPACT (one file, zero DVs, same
    // ids) + another append (fresh ids continue past next-row-id,
    // proving materialized and inherited ids coexist under one
    // read), and a COW UPDATE between them (values change, ids stay,
    // hit rows restamp their seq — the same materialization threaded
    // through replaceFiles). Oracle states the id arithmetic with
    // ROW_NUMBER. MERGE threads lineage the same way (the TAGGED
    // cascade: updates keep ids and restamp the seq, inserts mint
    // fresh ids from next-row-id). IcebergV3Spec pins set-equality
    // of (k, _row_id, seq) across the compaction and the update/
    // merge rules.
    QueryDef(
      "q268_iceberg_v3_compact",
      (s, d) => {
        import graft.sources.{IcebergMeta, IcebergMetaRead}
        val root = Files.createTempDirectory("icv3c_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        def sorted(df: org.apache.spark.sql.DataFrame) =
          df.coalesce(1).sortWithinPartitions("o_orderkey")
        IcebergMeta.writeFixture(
          sorted(src.filter(col("o_orderkey") <= 4096L)), root,
          formatVersion = 3)
        IcebergMeta.append(
          sorted(src.filter(col("o_orderkey") > 4096L)), root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 100 < 10)
        IcebergMeta.compact(s, root)
        val afterCompact = IcebergMeta.snapshot(root)
        val compacted = afterCompact.files.size == 1 &&
          afterCompact.dvs.isEmpty
        // COW UPDATE composes on the materialized lineage: values
        // change, every row KEEPS its _row_id (the spec's stable-id
        // rule; hit rows restamp their last-updated seq)
        val parse = s.sessionState.sqlParser.parseExpression _
        IcebergMeta.updateWhere(s, root,
          Seq("o_custkey" -> parse("o_custkey + 1000000")),
          Some(parse("o_orderkey % 100 = 55")))
        IcebergMeta.append(
          sorted(src.withColumn("o_orderkey",
            col("o_orderkey") + 10000000L)), root)
        val compactOk = if (compacted) 1L else 0L
        IcebergMetaRead.readWithRowIds(s, root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("_row_id")).cast("long").as("sum_rid"),
            sum(col("o_orderkey")).cast("long").as("sum_key"),
            sum(col("o_custkey")).cast("long").as("sum_cust"))
          .withColumn("compact_ok", lit(compactOk))
      },
      Some("""WITH ids AS (
             |  SELECT o_orderkey, o_custkey,
             |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
             |  FROM orders),
             |n AS (SELECT count(*) AS c FROM orders)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(rid) AS BIGINT) AS sum_rid,
             |  CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(sum(cust) AS BIGINT) AS sum_cust,
             |  CAST(1 AS BIGINT) AS compact_ok
             |FROM (
             |  SELECT o_orderkey AS key,
             |    CASE WHEN o_orderkey % 100 = 55
             |      THEN o_custkey + 1000000 ELSE o_custkey END AS cust,
             |    rid FROM ids
             |  WHERE o_orderkey % 100 >= 10
             |  UNION ALL
             |  SELECT o_orderkey + 10000000 AS key, o_custkey AS cust,
             |    rid + (SELECT c FROM n) AS rid FROM ids)""".stripMargin)),

    // ICEBERG v3 DEFAULT VALUES (round 12): ALTER TABLE ADD COLUMN
    // ... DEFAULT — the most common v3 schema evolution. The field's
    // `initial-default` is decoded from the schema JSON's single-value
    // serialization, DATED against the snapshot history (firstSeq =
    // the first snapshot whose schema carries the field), and files
    // with an older data sequence number read the default through a
    // per-file-group coalesce branch; files written under the evolved
    // schema read their STORED values — stored NULLs included (the
    // entry writes some on purpose). A DV DELETE lands between the
    // two reads to prove the fill composes with merge-on-read. At
    // 100 TB the dating is pure metadata (one pass over the document's
    // schemas/snapshots arrays) and the fill adds ONE extra scan
    // branch, never a footer read per file. Oracle restates the
    // default/stored/null arithmetic with CASE over the raw table.
    QueryDef(
      "q269_iceberg_v3_default",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("icv3d_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 4096L).coalesce(1), root,
          formatVersion = 3)
        IcebergMeta.addColumnWithDefault(root, "region_code",
          org.apache.spark.sql.types.LongType, 7L)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 4096L)
            .withColumn("region_code",
              when(col("o_orderkey") % 10 === 0,
                lit(null).cast("long"))
                .otherwise(col("o_orderkey") % 5)).coalesce(1), root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 100 === 0)
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"),
            sum(col("region_code")).cast("long").as("sum_region"),
            sum(when(col("region_code") === 7L, 1L).otherwise(0L))
              .cast("long").as("n_default"),
            sum(when(col("region_code").isNull, 1L).otherwise(0L))
              .cast("long").as("n_null"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey <= 4096 THEN 7
             |         WHEN o_orderkey % 10 = 0 THEN NULL
             |         ELSE o_orderkey % 5 END AS region_code
             |  FROM orders WHERE o_orderkey % 100 <> 0)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(region_code) AS BIGINT) AS sum_region,
             |  CAST(sum(CASE WHEN region_code = 7 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_default,
             |  CAST(sum(CASE WHEN region_code IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_null
             |FROM t""".stripMargin)),

    // ICEBERG v3 NANOSECOND TIMESTAMPS (round 12): a foreign v3 table
    // declaring `timestamp_ns` reads as the raw epoch-nano LONG —
    // Spark has no nanosecond timestamp type, truncation to micros
    // would silently lose the precision the writer chose ns FOR, and
    // the long keeps manifest-bound pruning exact (the spec bounds
    // ns fields as 8-byte epoch-nano longs; SPARK-40819 maps parquet
    // TIMESTAMP(NANOS) the same way). The entry builds a
    // range-clustered v3 table, rewrites the declared type to
    // timestamp_ns (the foreign-writer shape), then answers a
    // selective ns-range aggregate — the filter prunes to 1-2 of 8
    // files from the manifests alone (IcebergV3Spec pins the kept/
    // total counts); the oracle restates the arithmetic over the raw
    // table, so a mis-decoded bound that loses rows hash-fails.
    QueryDef(
      "q270_iceberg_v3_timestamp_ns",
      (s, d) => {
        import graft.sources.IcebergMeta
        import java.nio.charset.StandardCharsets.UTF_8
        val root = Files.createTempDirectory("icv3ns_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .withColumn("event_ns",
            col("o_orderkey") * 1000000000L + 500L)
        IcebergMeta.writeFixture(
          src.repartitionByRange(8, col("o_orderkey")), root,
          formatVersion = 3)
        val p = java.nio.file.Paths.get(root,
          s"metadata/v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")
        Files.write(p,
          new String(Files.readAllBytes(p), UTF_8)
            .replace(
              """"name":"event_ns","required":false,"type":"long"""",
              """"name":"event_ns","required":false,"type":"timestamp_ns"""")
            .replace(
              """"name":"event_ns","required":true,"type":"long"""",
              """"name":"event_ns","required":true,"type":"timestamp_ns"""")
            .getBytes(UTF_8))
        s.read.format("iceberg-meta").load(root)
          .filter(col("event_ns") >= 1000L * 1000000000L &&
            col("event_ns") < 3000L * 1000000000L)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_ns")).cast("long").as("sum_ns"),
            min(col("event_ns")).cast("long").as("min_ns"),
            max(col("event_ns")).cast("long").as("max_ns"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey * 1000000000 + 500) AS BIGINT) AS sum_ns,
             |  CAST(min(o_orderkey * 1000000000 + 500) AS BIGINT) AS min_ns,
             |  CAST(max(o_orderkey * 1000000000 + 500) AS BIGINT) AS max_ns
             |FROM orders
             |WHERE o_orderkey * 1000000000 + 500 >= 1000000000000
             |  AND o_orderkey * 1000000000 + 500 < 3000000000000"""
        .stripMargin)),

    // ICEBERG v3 PLAIN OVERWRITE (round 12): a replace-ALL rewrite has
    // no surviving rows, hence no row-lineage preservation obligation
    // — the replacement mints fresh inheritance-assigned ids exactly
    // like an append (the mark moves by the new row count; targeted
    // rewrites without threading still refuse). Flow: create v3
    // (ids [0,n)) + DV DELETE (ids stable) + OVERWRITE with the even
    // keys (ids [n,n+m), DVs retire with their targets) + append (ids
    // continue at n+m). Because fresh ids are CONTIGUOUS by commit,
    // the id arithmetic is layout-independent: the oracle states it
    // as closed-form range sums over the raw table's counts.
    QueryDef(
      "q271_iceberg_v3_overwrite",
      (s, d) => {
        import graft.sources.{IcebergMeta, IcebergMetaRead}
        val root = Files.createTempDirectory("icv3o_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
        IcebergMeta.writeFixture(src.coalesce(1), root, formatVersion = 3)
        IcebergMeta.delete(s, root, col("o_orderkey") % 7 === 0)
        IcebergMeta.overwrite(s, root,
          src.filter(col("o_orderkey") % 2 === 0).coalesce(1))
        IcebergMeta.append(
          src.filter(col("o_orderkey") % 1000 === 1).coalesce(1), root)
        IcebergMetaRead.readWithRowIds(s, root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"),
            sum(col("_row_id")).cast("long").as("sum_rid"),
            min(col("_row_id")).cast("long").as("min_rid"))
      },
      Some("""WITH n AS (SELECT count(*) AS c FROM orders),
             |m AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 2 = 0),
             |a AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 1000 = 1)
             |SELECT
             |  CAST((SELECT c FROM m) + (SELECT c FROM a) AS BIGINT) AS n_rows,
             |  CAST((SELECT COALESCE(sum(o_orderkey), 0) FROM orders
             |        WHERE o_orderkey % 2 = 0) +
             |       (SELECT COALESCE(sum(o_orderkey), 0) FROM orders
             |        WHERE o_orderkey % 1000 = 1) AS BIGINT) AS sum_key,
             |  CAST((2 * (SELECT c FROM n) + (SELECT c FROM m)
             |        + (SELECT c FROM a) - 1)
             |       * ((SELECT c FROM m) + (SELECT c FROM a)) // 2
             |    AS BIGINT) AS sum_rid,
             |  CAST((SELECT c FROM n) AS BIGINT) AS min_rid"""
        .stripMargin)),

    // ICEBERG METADATA TABLES (round 12): the `table$snapshots` /
    // `table$files` surface every Iceberg engine exposes, as the
    // `iceberg_snapshots('root')` / `iceberg_files('root' [, snap])`
    // TVFs — pure manifest/metadata folds, zero data reads (the
    // frames are metadata-sized by construction; at 100 TB this is
    // the difference between DESCRIBE HISTORY and a table scan).
    // Lifecycle: create v3 + append + DV DELETE + COMPACT, then one
    // SQL query joins the snapshot history (sequence, operation,
    // parenthood, first-row-id marks) with the current file
    // inventory (count + live rows). Everything nondeterministic
    // (snapshot ids, paths, timestamps) stays OUT of the projection;
    // the oracle states the expected history as literal rows and the
    // file stats from the raw table.
    QueryDef(
      "q272_iceberg_metadata_tables",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("icmt_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 4096L).coalesce(1), root,
          formatVersion = 3)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 4096L).coalesce(1), root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 10 === 3)
        IcebergMeta.compact(s, root)
        s.sql(
          s"""SELECT CAST(sequence_number AS BIGINT) AS seq, operation,
             |  parent_id IS NOT NULL AS has_parent,
             |  first_row_id IS NOT NULL AS has_lineage_mark,
             |  (SELECT CAST(count(*) AS BIGINT)
             |   FROM iceberg_files('$root') WHERE content = 0) AS n_files,
             |  (SELECT CAST(sum(record_count) AS BIGINT)
             |   FROM iceberg_files('$root') WHERE content = 0) AS n_rows
             |FROM iceberg_snapshots('$root') ORDER BY seq""".stripMargin)
      },
      Some("""WITH v AS (SELECT count(*) AS c FROM orders
             |          WHERE o_orderkey % 10 <> 3)
             |SELECT CAST(seq AS BIGINT) AS seq, op AS operation,
             |  has_parent, TRUE AS has_lineage_mark,
             |  CAST(1 AS BIGINT) AS n_files,
             |  CAST((SELECT c FROM v) AS BIGINT) AS n_rows
             |FROM (VALUES (1, 'append', FALSE), (2, 'append', TRUE),
             |  (3, 'delete', TRUE), (4, 'replace', TRUE))
             |  t(seq, op, has_parent)
             |ORDER BY seq""".stripMargin)),

    // DELTA IN-COMMIT TIMESTAMPS (round 12): recent delta-spark
    // enables delta.enableInCommitTimestamps on new tables by
    // default, which (a) makes the table write-refuse for any writer
    // not honoring the obligation and (b) moves the TIMESTAMP AS OF
    // authority from commit-file mtimes to the RECORDED monotonic
    // inCommitTimestamp in each commit's leading commitInfo. This
    // entry creates an ICT table (feature listed at (…,7)), commits
    // three versions, then time-travels BY the recorded ICTs (read
    // back through history — wall-clock values, so the travel target
    // is runtime-resolved while the row content stays deterministic):
    // the v1 leg must see the pre-delete state, the v2 leg the
    // post-delete state. Resolution is O(log versions) small log
    // reads (binary search over monotonic timestamps) — never a
    // history scan.
    QueryDef(
      "q273_delta_ict_time_travel",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dict_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        DeltaLog.commit(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root,
          properties = Map("delta.enableInCommitTimestamps" -> "true"))
        DeltaLog.commit(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root)
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 7)
        val ictByVersion = DeltaLog.history(root)
          .map(h => h._1 -> h._3.get).toMap
        def leg(tag: String, version: Long) =
          s.read.format("delta-log")
            .option("timestampAsOf", ictByVersion(version).toString)
            .load(root)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("o_orderkey")).cast("long").as("sum_key"))
            .withColumn("leg", lit(tag))
        leg("v1", 1L).unionByName(leg("v2", 2L)).orderBy(col("leg"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key, 'v1' AS leg
             |FROM orders WHERE o_orderkey <= 4096
             |UNION ALL
             |SELECT CAST(count(*) AS BIGINT),
             |  CAST(sum(o_orderkey) AS BIGINT), 'v2'
             |FROM orders WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7
             |ORDER BY leg""".stripMargin)),

    // ICEBERG TIMESTAMP AS OF (round 12): timestamp travel resolves
    // through the metadata document's snapshot-log — the spec's
    // record of every main-pointer move, which this writer now
    // maintains on every commit (rollbacks included; q272's
    // snapshots surface exposes the committed_at instants). Same
    // runtime-resolved-timestamp shape as the Delta ICT entry: the
    // travel targets come from the table's own history, the row
    // content is deterministic. Resolution is one metadata-document
    // read — no manifest or data I/O until the chosen snapshot scans.
    QueryDef(
      "q274_iceberg_timestamp_travel",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("icts_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root)
        // tie-proof the travel targets: snapshotIdAtTimestamp breaks
        // millisecond ties toward the LATER snapshot-log entry, so the
        // append and delete commits must not share a millisecond (the
        // s2 leg travels to ts(1) EXACTLY)
        Thread.sleep(3)
        IcebergMeta.delete(s, root, col("o_orderkey") % 10 === 3)
        val ts = IcebergMeta.snapshotsFrame(s, root)
          .orderBy("sequence_number").collect()
          .map(_.getAs[java.sql.Timestamp]("committed_at").getTime)
        def leg(tag: String, t: Long) =
          s.read.format("iceberg-meta")
            .option("timestampAsOf", t.toString).load(root)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("o_orderkey")).cast("long").as("sum_key"))
            .withColumn("leg", lit(tag))
        leg("s2", ts(1)).unionByName(leg("s3", ts(2) + 1))
          .orderBy(col("leg"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key, 's2' AS leg
             |FROM orders WHERE o_orderkey <= 4096
             |UNION ALL
             |SELECT CAST(count(*) AS BIGINT),
             |  CAST(sum(o_orderkey) AS BIGINT), 's3'
             |FROM orders WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3
             |ORDER BY leg""".stripMargin)),

    // CROSS-FORMAT CONVERSION (round 12): the xtable shape — a Delta
    // table becomes an Iceberg table (and back) in ONE metadata
    // commit each, ZERO data copied: the target tree references the
    // source's live parquet in place, with per-file bounds harvested
    // (delta→iceberg: footer reads, conversion-time-only planning
    // I/O) or translated (iceberg→delta: manifest bounds → stats
    // JSON for the exactly-translatable types). The entry runs the
    // full round trip through the SQL statements — Delta COW delete,
    // convert to Iceberg, APPEND to the converted table (it is a
    // live table, not a snapshot export), convert to Delta — and
    // aggregates through the final hop; the oracle recomputes the
    // surviving + appended rows from the raw table. At 100 TB both
    // hops stay metadata-commits; no shuffle, no rewrite.
    QueryDef(
      "q275_cross_format_convert",
      (s, d) => {
        import graft.sources.IcebergMeta
        val base = Files.createTempDirectory("xfmt_").toString
        val droot = base + "/d"
        val iroot = base + "/i"
        val droot2 = base + "/d2"
        val src = orders(s, d).select(col("o_orderkey"))
        graft.sources.DeltaLog.commit(src.coalesce(1), droot)
        graft.sources.DeltaLog.deleteWhere(s, droot,
          col("o_orderkey") % 10 === 3)
        s.sql(s"GRAFT CONVERT DELTA '$droot' TO ICEBERG '$iroot'")
        IcebergMeta.append(
          src.filter(col("o_orderkey") % 100 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .coalesce(1), iroot)
        s.sql(s"GRAFT CONVERT ICEBERG '$iroot' TO DELTA '$droot2'")
        s.read.format("delta-log").load(droot2)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k FROM orders
             |  WHERE o_orderkey % 10 <> 3
             |  UNION ALL
             |  SELECT o_orderkey + 10000000 AS k FROM orders
             |  WHERE o_orderkey % 100 = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(k) AS BIGINT) AS sum_key FROM t""".stripMargin)),

    // DELTA OPTIMIZE ZORDER (round 12): q125's layout-maintenance
    // pair on the DELTA interop — lineitem committed to a _delta_log
    // table, rewritten clustered on the Morton interleave of
    // (l_partkey, l_suppkey) via the SQL statement, then a
    // conjunctive 2-D range read answered through the stock
    // stats-pruned scan. Post-zorder, each file's per-column min/max
    // is a tight bounding box in BOTH dimensions (DeltaCompactSpec
    // pins that either dimension alone prunes files); the rewrite is
    // a dataChange=false commit, so streams see nothing and priors
    // stay time-travelable. Oracle = the layout-free conjunctive
    // WHERE: clustering must never change the answer.
    QueryDef(
      "q276_delta_zorder",
      (s, d) => {
        val root = Files.createTempDirectory("delta_zorder_").toString
        graft.sources.DeltaLog.commit(
          lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity")), root)
        s.sql(s"GRAFT OPTIMIZE DELTA '$root' " +
          "ZORDER BY l_partkey, l_suppkey FILES 8")
        s.read.format("delta-log").load(root)
          .filter(col("l_partkey").between(1L, 200L) &&
            col("l_suppkey").between(1L, 40L))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_partkey")).as("max_part"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  min(l_partkey) AS min_part, max(l_partkey) AS max_part
             |FROM lineitem
             |WHERE l_partkey BETWEEN 1 AND 200 AND l_suppkey BETWEEN 1 AND 40
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // DELTA VARIANT COLUMNS (round 12): semi-structured data as a
    // first-class Delta type — the variantType reader-writer feature
    // (stamped at creation when the schema carries one) with Spark
    // 4's native VariantType as the mandated binary encoding. The
    // entry writes a variant document per order, deletes through the
    // feature-bearing table, and aggregates via variant_get path
    // extraction; to_json round-trips one sampled document exactly.
    // Oracle restates the arithmetic relationally — the variant
    // encode/decode must be invisible in the answer.
    QueryDef(
      "q277_delta_variant",
      (s, d) => {
        val root = Files.createTempDirectory("delta_var_").toString
        graft.sources.DeltaLog.commit(
          orders(s, d).select(col("o_orderkey"))
            .withColumn("doc", expr(
              """parse_json(concat('{"k":', o_orderkey,
                |',"m":', o_orderkey % 7, '}'))""".stripMargin
                .replace("\n", "")))
            .coalesce(1), root)
        graft.sources.DeltaLog.deleteWhere(s, root,
          col("o_orderkey") % 10 === 9)
        s.read.format("delta-log").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("variant_get(doc, '$.k', 'long')"))
              .cast("long").as("sum_k"),
            sum(expr("variant_get(doc, '$.m', 'long')"))
              .cast("long").as("sum_m"),
            max(when(col("o_orderkey") === 1L,
              expr("to_json(doc)"))).as("doc1"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
             |  CAST(sum(o_orderkey % 7) AS BIGINT) AS sum_m,
             |  max(CASE WHEN o_orderkey = 1
             |    THEN '{"k":1,"m":1}' END) AS doc1
             |FROM orders WHERE o_orderkey % 10 <> 9""".stripMargin)),

    // ICEBERG Z-ORDER COMPACTION (round 12): rewrite_data_files with
    // the sort strategy's z-order — same Morton contract as q276's
    // Delta leg and q125's graft leg, through the Iceberg `replace`
    // snapshot (v3 tables would preserve lineage via materialized
    // columns; IcebergCompactSpec pins that EITHER dimension alone
    // prunes files after the rewrite). The conjunctive 2-D range
    // read answers through the manifest-bounds pruned scan.
    QueryDef(
      "q278_iceberg_zorder",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("ice_zorder_").toString + "/t"
        IcebergMeta.writeFixture(
          lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity")), root)
        s.sql(s"GRAFT OPTIMIZE ICEBERG '$root' " +
          "ZORDER BY l_partkey, l_suppkey FILES 8")
        s.read.format("iceberg-meta").load(root)
          .filter(col("l_partkey").between(1L, 200L) &&
            col("l_suppkey").between(1L, 40L))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_partkey BETWEEN 1 AND 200 AND l_suppkey BETWEEN 1 AND 40
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // DELTA METADATA CLEANUP (round 13): the `_delta_log` listing is
    // the one unbounded metadata-growth term on the write path — a
    // year of minutely commits is ~500k log files whose LISTING alone
    // dominates snapshot construction at scale. After a checkpoint,
    // commit JSONs and superseded checkpoints past
    // delta.logRetentionDuration retire (delta-spark's
    // MetadataCleanup shape; ICT-governed expiry here), bounding the
    // directory to O(retention). The entry pins the log-file counts
    // before/after the sweep as literals AND reads the table through
    // the truncated log — the retained checkpoint + JSON suffix must
    // reconstruct the exact surviving rows (DeltaLogSpec pins the
    // refusal side: below-horizon travel and streams report the
    // truncation loudly).
    QueryDef(
      "q279_delta_metadata_cleanup",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dmc_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        DeltaLog.commit(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root,
          properties = Map(
            "delta.enableInCommitTimestamps" -> "true",
            "delta.logRetentionDuration" -> "interval 1 millisecond"))
        DeltaLog.commit(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root)
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 7)
        DeltaLog.checkpoint(s, root)                    // covers v0-v2
        DeltaLog.commit(
          src.filter(col("o_orderkey") % 100 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .coalesce(1), root)                         // v3, retained
        val before = DeltaLog.jsonVersions(root).size
        val deleted = DeltaLog.cleanupMetadata(s, root,
          nowMs = System.currentTimeMillis + 60000)
        val after = DeltaLog.jsonVersions(root).size
        s.read.format("delta-log").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("n_json_before", lit(before))
          .withColumn("n_json_after", lit(after))
          .withColumn("n_deleted", lit(deleted.toInt))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k FROM orders
             |  WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7
             |  UNION ALL
             |  SELECT o_orderkey + 10000000 AS k FROM orders
             |  WHERE o_orderkey <= 4096 AND o_orderkey % 100 = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(k) AS BIGINT) AS sum_key,
             |  4 AS n_json_before, 2 AS n_json_after,
             |  2 AS n_deleted FROM t""".stripMargin)),

    // ICEBERG REWRITE MANIFESTS (round 13): the O(commits) PLANNING
    // term — every commit leaves one more manifest in the list, and a
    // snapshot replay opens them ALL, so a 10k-commit table pays 10k
    // avro reads per query plan. rewrite_manifests collapses the tree
    // metadata-only: live entries restate as EXISTING under their
    // ORIGINAL snapshot ids and sequence numbers (an inherited seq
    // would detach the older positional delete and resurrect its
    // rows — the oracle would catch exactly that), delete manifests
    // carry verbatim, zero data I/O. The entry pins the data-manifest
    // count before/after through the iceberg_manifests TVF and
    // aggregates through the rewritten tree; IcebergMetaSpec /
    // IcebergV3Spec pin travel, lineage and clustering.
    QueryDef(
      "q280_iceberg_rewrite_manifests",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("irm_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 1365L).coalesce(1), root)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 1365L &&
            col("o_orderkey") <= 2730L).coalesce(1), root)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 2730L).coalesce(1), root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 10 === 3)
        def dataManifests(): Long = s.sql(
          s"SELECT count(*) FROM iceberg_manifests('$root') " +
            "WHERE content = 0").collect().head.getLong(0)
        val before = dataManifests()
        s.sql(s"GRAFT REWRITE MANIFESTS ICEBERG '$root'")
        val after = dataManifests()
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("n_manifests_before", lit(before.toInt))
          .withColumn("n_manifests_after", lit(after.toInt))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  3 AS n_manifests_before, 1 AS n_manifests_after
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3"""
        .stripMargin)),

    // ICEBERG v3 NESTED initial-default (round 13): ALTER TABLE ADD
    // COLUMN meta.src DEFAULT 'web' is ONE metadata-only commit — no
    // data file rewrites — and the reader resolves it per FILE by
    // sequence-number dating: pre-evolution files fill the struct
    // member via withField above the scan (null parent structs stay
    // null), post-evolution files read stored values, stored NULLs
    // included. At 100 TB this is the schema-evolution path that
    // makes adding a field to a petabyte table instant. The oracle
    // reconstructs the same per-row provenance relationally.
    QueryDef(
      "q281_iceberg_nested_default",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("ind_").toString + "/t"
        val src = orders(s, d).filter(col("o_orderkey") <= 4096L)
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 2048L)
            .select(col("o_orderkey"),
              struct(col("o_orderstatus").as("status")).as("meta"))
            .coalesce(1), root, formatVersion = 3)
        IcebergMeta.addColumnWithDefault(root, "meta.src",
          org.apache.spark.sql.types.StringType, "web")
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 2048L)
            .select(col("o_orderkey"),
              struct(col("o_orderstatus").as("status"),
                when(col("o_orderkey") % 2 === 0, "api")
                  .otherwise(lit(null).cast("string")).as("src"))
                .as("meta"))
            .coalesce(1), root)
        s.read.format("iceberg-meta").load(root)
          .groupBy(coalesce(col("meta.src"), lit("none")).as("src"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .orderBy(col("src"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k, 'web' AS src FROM orders
             |  WHERE o_orderkey <= 2048
             |  UNION ALL
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 2 = 0 THEN 'api' ELSE 'none' END
             |  FROM orders WHERE o_orderkey > 2048 AND o_orderkey <= 4096)
             |SELECT src, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(k) AS BIGINT) AS sum_key
             |FROM t GROUP BY src ORDER BY src""".stripMargin)),

    // ICEBERG PUFFIN NDV STATISTICS (round 13): ANALYZE sketches
    // per-column distinct counts into apache-datasketches-theta-v1
    // Puffin blobs published through the metadata document's
    // `statistics` field (Iceberg's compute_table_stats shape), and
    // the CBO rule feeds them back as rowCount + distinctCount — an
    // equality filter then estimates 1/NDV selectivity and the RIGHT
    // join side broadcasts (IcebergStatsSpec pins the plan flip; a
    // hand-written foreign stats file pins the sketch decoder). The
    // entry runs EXACT mode so DuckDB's count(DISTINCT) reproduces
    // the numbers bit-for-bit; approx (HLL++, one pass, no shuffle)
    // is the 100 TB default.
    QueryDef(
      "q282_iceberg_ndv_statistics",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("indv_").toString + "/t"
        IcebergMeta.writeFixture(
          orders(s, d).filter(col("o_orderkey") <= 4096L)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"))
            .coalesce(1), root)
        s.sql(s"GRAFT ANALYZE ICEBERG '$root' EXACT")
        // read the published stats back through the metadata path —
        // the oracle must match what a FOREIGN reader would decode
        val ndv = IcebergMeta.columnNdv(root)
        import s.implicits._
        ndv.toSeq.sortBy(_._1).toDF("col_name", "ndv")
          .orderBy(col("col_name"))
      },
      Some("""WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 4096)
             |SELECT 'o_custkey' AS col_name,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv FROM t
             |UNION ALL
             |SELECT 'o_orderkey',
             |  CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM t
             |UNION ALL
             |SELECT 'o_orderstatus',
             |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM t
             |ORDER BY col_name""".stripMargin)),

    // DELTA UNIFORM / icebergCompatV2 (round 13): a Delta table whose
    // every commit ALSO advances a live Iceberg metadata tree over
    // the same parquet — `metadata/` next to `_delta_log/`, zero data
    // copied (the incremental form of q275's one-shot CONVERT). The
    // entry writes and DELETEs through the DELTA log and reads the
    // final state through the ICEBERG side of the same root; the
    // oracle recomputes the surviving rows relationally, so a sync
    // that lags a commit or resurrects a retired file hash-fails.
    // At 100 TB each sync is metadata + footer reads for the
    // commit's own new files — never a data rewrite.
    QueryDef(
      "q283_delta_uniform",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dunf_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        DeltaLog.commit(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root,
          properties = Map("delta.enableIcebergCompatV2" -> "true"))
        DeltaLog.commit(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root)
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 7)
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7"""
        .stripMargin)),

    // ICEBERG METADATA-LOG LIFECYCLE (round 13): the q279 story on
    // the Iceberg side — every commit supersedes a full metadata
    // document, and without maintenance both the document's own
    // `metadata-log` AND the metadata directory grow O(commits).
    // `write.metadata.previous-versions-max` trims the log (the
    // spec's field, Iceberg's default 100) and
    // `write.metadata.delete-after-commit.enabled` sweeps the
    // superseded files once the commit is durable. Snapshots live in
    // the CURRENT document, so reads, travel and deletes are
    // untouched — the entry pins the on-disk metadata file count and
    // aggregates through the swept table under the oracle.
    QueryDef(
      "q284_iceberg_metadata_log",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("imlog_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 1365L).coalesce(1), root)
        IcebergMeta.setProperties(root, Map(
          "write.metadata.previous-versions-max" -> "2",
          "write.metadata.delete-after-commit.enabled" -> "true"))
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 1365L &&
            col("o_orderkey") <= 2730L).coalesce(1), root)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 2730L).coalesce(1), root)
        IcebergMeta.delete(s, root, col("o_orderkey") % 10 === 3)
        val onDisk = {
          val st = java.nio.file.Files.list(
            java.nio.file.Paths.get(root, "metadata"))
          try st.iterator().asScala.count(p =>
            p.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
          finally st.close()
        }
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("n_meta_files", lit(onDisk))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  3 AS n_meta_files
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3"""
        .stripMargin)),

    // DELTA LOG COMPACTION + SIDECAR CHECKPOINT (round 13): the two
    // replay-scale mechanisms between and at checkpoints. A
    // `{s}.{e}.compacted.json` (delta-spark's minor compaction)
    // reconciles a span's actions into ONE file and COUNTS as
    // contiguity — the entry retires the span's per-commit JSONs and
    // the snapshot must still reconstruct exactly (the COW delete
    // inside the span proves add/remove reconciliation). The v2
    // checkpoint then fans its adds out to SIDECAR parquet
    // (`_delta_log/_sidecars/`, one partitioned write job — at 100 TB
    // a million-add checkpoint is no longer one task writing one
    // giant file), and the entry retires EVERY commit JSON: the
    // checkpoint + sidecars alone must reproduce the state.
    QueryDef(
      "q285_delta_log_compaction",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dlc_").toString + "/t"
        val src = orders(s, d).select(col("o_orderkey"))
          .filter(col("o_orderkey") <= 4096L)
        DeltaLog.commit(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root,
          properties = Map("delta.checkpointPolicy" -> "v2"))   // v0
        DeltaLog.commit(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root) // v1
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 7) // v2
        DeltaLog.commit(
          src.filter(col("o_orderkey") % 100 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .coalesce(1), root)                                  // v3
        DeltaLog.compactLog(root, 1L, 3L)
        (1L to 3L).foreach(v => java.nio.file.Files.delete(
          java.nio.file.Paths.get(root, "_delta_log",
            f"$v%020d.json")))
        val throughCompaction = s.read.format("delta-log").load(root)
          .count() // replayed via v0.json + the compacted span
        DeltaLog.checkpoint(s, root, sidecarFiles = 2)
        java.nio.file.Files.delete(java.nio.file.Paths.get(root,
          "_delta_log", f"${0L}%020d.json"))
        val nSidecars = {
          val st = java.nio.file.Files.list(java.nio.file.Paths.get(
            root, "_delta_log", "_sidecars"))
          try st.iterator().asScala.count(
            _.getFileName.toString.endsWith(".parquet"))
          finally st.close()
        }
        s.read.format("delta-log").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
          .withColumn("n_through_compaction", lit(throughCompaction))
          .withColumn("n_sidecars", lit(nSidecars))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k FROM orders
             |  WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7
             |  UNION ALL
             |  SELECT o_orderkey + 10000000 AS k FROM orders
             |  WHERE o_orderkey <= 4096 AND o_orderkey % 100 = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(k) AS BIGINT) AS sum_key,
             |  CAST(count(*) AS BIGINT) AS n_through_compaction,
             |  2 AS n_sidecars FROM t""".stripMargin)),

    // DSv2 NAMED CATALOG (round 14): the consumption surface real
    // Spark users address lakehouse tables through —
    // `spark.sql.catalog.<name> = graft.ext.GraftCatalog` turns
    // `<name>.<ns>.<table>` identifiers into graft table roots under a
    // warehouse directory (no extra metastore state: a namespace is a
    // directory, a table is a `_graft_log` root — path readers and
    // identifier readers share every table). The entry drives the
    // whole lifecycle through IDENTIFIERS ONLY: CREATE NAMESPACE,
    // CREATE TABLE, INSERT INTO ... SELECT (the DSv2 staged-commit
    // write), DELETE FROM (the same COW command as path DML),
    // VERSION AS OF on the identifier (pre-delete snapshot), and the
    // serving aggregate — all under the oracle. GraftCatalogSpec
    // covers RENAME/ALTER/SHOW/DROP, external LOCATION symlinks,
    // CTAS via saveAsTable, and the namespace tree.
    QueryDef(
      "q286_graft_catalog",
      (s, d) => {
        val wh = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_cat_entry_wh")
        java.nio.file.Files.createDirectories(wh)
        // the catalog instance is cached per session by name — the
        // warehouse must be a STABLE path, with idempotent per-run
        // table setup inside it
        s.conf.set("spark.sql.catalog.graftmart",
          classOf[graft.ext.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graftmart.warehouse", wh.toString)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graftmart.mart")
        s.sql("DROP TABLE IF EXISTS graftmart.mart.ord")
        s.sql("""CREATE TABLE graftmart.mart.ord
               |  (o_orderkey BIGINT, o_custkey BIGINT,
               |   o_orderstatus STRING)""".stripMargin)
        orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") <= 4096L)
          .createOrReplaceTempView("q286_src")
        s.sql("""INSERT INTO graftmart.mart.ord
               |SELECT o_orderkey, o_custkey, o_orderstatus
               |FROM q286_src""".stripMargin)
        s.sql("DELETE FROM graftmart.mart.ord WHERE o_orderkey % 10 = 3")
        // v0 = CREATE (empty), v1 = the insert — identifier travel
        val before = s.sql(
          "SELECT count(*) AS n FROM graftmart.mart.ord VERSION AS OF 1")
          .head().getLong(0)
        s.sql(
          s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST($before AS BIGINT) AS n_before_delete
             |FROM graftmart.mart.ord
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST((SELECT count(*) FROM orders WHERE o_orderkey <= 4096)
             |    AS BIGINT) AS n_before_delete
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ICEBERG remove_orphan_files (round 14): the reachability sweep
    // for files a LOST commit race staged but no snapshot ever named
    // — invisible to expire_snapshots (which reaps only what expired
    // snapshots REFERENCE) and accumulating forever without it. The
    // entry builds a two-snapshot table, plants a raced data file and
    // a raced manifest with 10-day-old mtimes plus one FRESH staged
    // file, dry-runs (reports 2, deletes nothing), sweeps through the
    // SQL statement (orphans reclaimed, the young file held by the
    // 3-day age guard, referenced files untouched), and pins the
    // counts plus the table's rows under the oracle. IcebergMetaSpec
    // covers travel/statistics survival and the UniForm-mirror
    // refusal.
    QueryDef(
      "q287_iceberg_remove_orphans",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("iro_").toString + "/t"
        val src = orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_orderkey") <= 4096L)
        IcebergMeta.writeFixture(
          src.filter(col("o_orderkey") <= 2048L).coalesce(1), root)
        IcebergMeta.append(
          src.filter(col("o_orderkey") > 2048L).coalesce(1), root)
        val oldTime = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 10L * 24 * 3600 * 1000)
        Seq(java.nio.file.Paths.get(root, "data", "orphan-a.parquet"),
          java.nio.file.Paths.get(root, "metadata", "snap-9-m0.avro"))
          .foreach { p =>
            java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
            java.nio.file.Files.setLastModifiedTime(p, oldTime)
          }
        java.nio.file.Files.write(java.nio.file.Paths.get(
          root, "data", "orphan-young.parquet"), Array[Byte](7))
        val dry = IcebergMeta.removeOrphanFiles(root, dryRun = true)
        val sweep = s.sql(
          s"GRAFT REMOVE ORPHAN FILES ICEBERG '$root'").head()
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"))
          .withColumn("n_dry", lit(dry.orphans.size.toLong))
          .withColumn("n_swept", lit(sweep.getLong(1)))
          .withColumn("n_young_kept", lit(sweep.getLong(2)))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(2 AS BIGINT) AS n_dry,
             |  CAST(2 AS BIGINT) AS n_swept,
             |  CAST(1 AS BIGINT) AS n_young_kept
             |FROM orders WHERE o_orderkey <= 4096""".stripMargin)),

    // UNIFORM OVER COLUMN MAPPING (round 14): the id-mode contract
    // real icebergCompatV2 mandates, closing r13's stated refusal —
    // a column-mapped Delta table (parquet under PHYSICAL names like
    // col-3f9a, with real parquet field ids) now keeps a live Iceberg
    // mirror whose field ids EQUAL the Delta column-mapping ids, with
    // the spec's `schema.name-mapping.default` property tying ids to
    // the physical parquet columns. The entry creates a mapped
    // UniForm table from `orders`, COW-deletes through the Delta
    // side, RENAMES a column on the Delta side (legal only under
    // mapping; the mirror column renames BY ID in the same sync), and
    // reads the final aggregate through the ICEBERG side under the
    // new name — all under the oracle. DeltaLogSpec covers the
    // name-mapping scan rewrite, the nested-mapped refusal, and
    // format-identical reads across the lifecycle.
    QueryDef(
      "q288_delta_uniform_mapped",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dum_").toString + "/t"
        val src = orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_orderkey") <= 4096L)
        DeltaLog.commit(src.coalesce(1), root, properties = Map(
          "delta.columnMapping.mode" -> "id",
          "delta.enableIcebergCompatV2" -> "true"))
        DeltaLog.deleteWhere(s, root, col("o_orderkey") % 10 === 3)
        DeltaLog.renameColumn(s, root, "o_custkey", "cust")
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cust")).cast("long").as("sum_cust"),
            sum(col("o_orderkey")).cast("long").as("sum_key"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3"""
        .stripMargin)),

    // SHREDDED VARIANT (round 14): what newer Iceberg/Delta writers
    // increasingly produce — variant values stored as typed_value
    // subcolumns per the parquet shredding spec instead of one binary
    // pair. The entry writes an Iceberg v3 variant table SHREDDED
    // (Spark's own shredding writer — the spec's reference
    // implementation; a field OUTSIDE the shredding schema rides the
    // residual `value` column, so reassembly must merge both), then
    // reads counts and variant_get projections through the shredded
    // column under the oracle. IcebergV3Spec pins bit-identical reads
    // against the unshredded twin; DeltaLogSpec covers the Delta
    // variantShredding feature acceptance.
    QueryDef(
      "q289_iceberg_shredded_variant",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("isv_").toString + "/t"
        val src = orders(s, d)
          .filter(col("o_orderkey") <= 4096L)
          .selectExpr("o_orderkey AS k",
            """parse_json(concat('{"ok":', o_orderkey,
              |',"c":', o_custkey,
              |CASE WHEN o_orderkey % 5 = 0
              |  THEN ',"extra":[1,2]' ELSE '' END,
              |'}')) AS v""".stripMargin)
          .coalesce(1)
        val confs = Seq(
          "spark.sql.variant.writeShredding.enabled" -> "true",
          "spark.sql.variant.forceShreddingSchemaForTest" ->
            "ok bigint, c bigint")
        confs.foreach { case (c, v) => s.conf.set(c, v) }
        try IcebergMeta.writeFixture(src, root, formatVersion = 3)
        finally confs.foreach { case (c, _) => s.conf.unset(c) }
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("variant_get(v, '$.ok', 'long')")).cast("long")
              .as("sum_ok"),
            sum(expr("variant_get(v, '$.c', 'long')")).cast("long")
              .as("sum_c"),
            sum(expr("variant_get(v, '$.extra[1]', 'long')"))
              .cast("long").as("sum_resid"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_c,
             |  CAST(2 * count(CASE WHEN o_orderkey % 5 = 0
             |    THEN 1 END) AS BIGINT) AS sum_resid
             |FROM orders WHERE o_orderkey <= 4096""".stripMargin)),

    // DELTA COLLATIONS (round 14): collated string columns — the
    // writer feature delta-spark 4.x lists when a schema carries
    // `string COLLATE ...` types. The engine reads them
    // collation-aware through Spark's native collated StringType
    // (filters/DML compare under the collation), never prunes files
    // on a collated column (binary-ordered stats don't order like
    // the collation), omits their min/max at write, and LISTS the
    // feature when creating such a table. The entry creates a
    // UTF8_LCASE-collated copy of o_orderstatus with mixed casing
    // and filters case-insensitively under the oracle (DuckDB:
    // lower() compare). DeltaLogSpec pins the foreign fixture, the
    // no-prune proof, and the append licensing.
    QueryDef(
      "q290_delta_collations",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dcl_").toString + "/t"
        val src = orders(s, d)
          .filter(col("o_orderkey") <= 4096L)
          .selectExpr("o_orderkey", "o_custkey",
            // mixed casing, collated UTF8_LCASE: even keys lowercase,
            // odd keys uppercase
            """collate(CASE WHEN o_orderkey % 2 = 0
              |  THEN lower(o_orderstatus) ELSE upper(o_orderstatus)
              |END, 'UTF8_LCASE') AS status""".stripMargin)
          .coalesce(1)
        DeltaLog.commit(src, root)
        s.read.format("delta-log").load(root)
          .where(col("status") === "o") // matches 'o' AND 'O'
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_custkey")).cast("long").as("sum_cust"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM orders
             |WHERE o_orderkey <= 4096 AND lower(o_orderstatus) = 'o'"""
        .stripMargin)),

    // ICEBERG V3 GEOMETRY (round 14): the last v3 type family this
    // engine refused. Geo columns surface through Spark 4.1's NATIVE
    // GEOMETRY/GEOGRAPHY types (flag-gated; the scan stores/reads the
    // spec's WKB parquet encoding and lifts above the scan), with
    // `graft_st_point` supplying the WKB constructor Spark's ST
    // family lacks. The entry builds per-row points from orders
    // coordinates, writes a v3 geometry table, DV-deletes a residue
    // class (restaging geometry through the WKB seam), and pins the
    // BYTE-EXACT round-trip plus srid under the oracle — n_roundtrip
    // counts rows whose st_asbinary(g) equals the pre-write WKB, so
    // the oracle's count(*) only matches if the lift is lossless.
    // IcebergV3Spec covers compaction/lineage survival and the gates
    // (v2, flag-off, nested geo, unknown CRS, eq-delete, partition).
    QueryDef(
      "q291_iceberg_geometry",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("igeo_").toString + "/t"
        val src = orders(s, d)
          .filter(col("o_orderkey") <= 4096L)
          .selectExpr("o_orderkey AS k",
            """graft_st_point(
              |  CAST(o_orderkey % 360 - 180 AS DOUBLE),
              |  CAST(o_custkey % 180 - 90 AS DOUBLE)) AS wkb"""
              .stripMargin)
          .coalesce(1)
        IcebergMeta.writeFixture(src.selectExpr("k", "wkb",
          "st_setsrid(st_geomfromwkb(wkb), 4326) AS g"), root,
          formatVersion = 3)
        IcebergMeta.delete(s, root, col("k") % 10 === 3)
        s.read.format("iceberg-meta").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(expr("st_asbinary(g) = wkb AND st_srid(g) = 4326"),
              1L).otherwise(0L)).cast("long").as("n_roundtrip"),
            sum(col("k")).cast("long").as("sum_key"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_roundtrip,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders
             |WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3"""
        .stripMargin)),

    // INTEROP NAMED CATALOG (round 14): one graft catalog fronts ALL
    // THREE formats — a `_delta_log` root resolves as a Delta table
    // and an Iceberg `metadata/` root as an Iceberg table under the
    // same `lake.db.t` identifier space (reads swap to the formats'
    // full replay, INSERT rides the V1 write fallback, DML lowers to
    // the COW/DV command family, travel uses each format's own
    // vocabulary). The entry CREATEs a Delta and an Iceberg v3 table
    // through identifiers only, INSERTs from orders, DELETEs a
    // different residue class in each (Delta COW rewrite; Iceberg
    // deletion vectors), travels both to their pre-delete snapshots,
    // and pins all counts/sums under the oracle. GraftCatalogSpec
    // covers partition specs, refs, LOCATION adoption, CTAS,
    // mixed-format SHOW TABLES and the refusal surfaces.
    QueryDef(
      "q292_catalog_interop",
      (s, d) => {
        val wh = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_cat_interop_wh")
        java.nio.file.Files.createDirectories(wh)
        s.conf.set("spark.sql.catalog.graftfed",
          classOf[graft.ext.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graftfed.warehouse", wh.toString)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graftfed.lake")
        s.sql("DROP TABLE IF EXISTS graftfed.lake.dord")
        s.sql("DROP TABLE IF EXISTS graftfed.lake.iord")
        s.sql("""CREATE TABLE graftfed.lake.dord
               |  (o_orderkey BIGINT, o_custkey BIGINT) USING delta"""
          .stripMargin)
        s.sql("""CREATE TABLE graftfed.lake.iord
               |  (o_orderkey BIGINT, o_custkey BIGINT) USING iceberg
               |  TBLPROPERTIES ('format-version' = '3')""".stripMargin)
        orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_orderkey") <= 4096L).coalesce(1)
          .createOrReplaceTempView("q292_src")
        s.sql("INSERT INTO graftfed.lake.dord SELECT * FROM q292_src")
        s.sql("INSERT INTO graftfed.lake.iord SELECT * FROM q292_src")
        // Delta: COW file rewrite; Iceberg v3: a deletion vector
        s.sql("DELETE FROM graftfed.lake.dord WHERE o_orderkey % 10 = 3")
        s.sql("DELETE FROM graftfed.lake.iord WHERE o_orderkey % 10 = 7")
        // pre-delete travel, each format's own vocabulary: Delta
        // version number; Iceberg snapshot id
        val dBefore = s.sql(
          "SELECT count(*) FROM graftfed.lake.dord VERSION AS OF 1")
          .head().getLong(0)
        val iSnap = graft.sources.IcebergMeta.snapshotLog(
          wh.resolve("lake").resolve("iord").toString)(1).snapshotId
        val iBefore = s.sql(
          s"SELECT count(*) FROM graftfed.lake.iord VERSION AS OF $iSnap")
          .head().getLong(0)
        s.sql(
          s"""SELECT
             |  (SELECT CAST(count(*) AS BIGINT)
             |     FROM graftfed.lake.dord) AS d_rows,
             |  (SELECT CAST(sum(o_custkey) AS BIGINT)
             |     FROM graftfed.lake.dord) AS d_sum,
             |  (SELECT CAST(count(*) AS BIGINT)
             |     FROM graftfed.lake.iord) AS i_rows,
             |  (SELECT CAST(sum(o_custkey) AS BIGINT)
             |     FROM graftfed.lake.iord) AS i_sum,
             |  CAST($dBefore AS BIGINT) AS d_before,
             |  CAST($iBefore AS BIGINT) AS i_before""".stripMargin)
      },
      Some("""SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3)
             |    AS d_rows,
             |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 3)
             |    AS d_sum,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7)
             |    AS i_rows,
             |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096 AND o_orderkey % 10 <> 7)
             |    AS i_sum,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096) AS d_before,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey <= 4096) AS i_before""".stripMargin)),

    // DELTA LIQUID CLUSTERING (round 14): delta-spark's CLUSTER BY —
    // the domain-declared layout policy that replaced static
    // partitioning/zorder for new tables. The entry CREATEs a
    // clustered table (delta.clustering domain + clusteredTable
    // feature listed), appends a second interleaved batch (domain
    // preserved — the feature's core obligation), then runs a plain
    // OPTIMIZE with NO layout arguments: the clustering columns come
    // from the DOMAIN, the rewrite range-clusters on them, and the
    // entry pins per-file min/max DISJOINTNESS from the committed
    // stats (ranges_disjoint must be true for the oracle row to
    // match) plus the row-level aggregate. DeltaLogSpec covers the
    // refusal matrix and the catalog CLUSTER BY SQL surface.
    QueryDef(
      "q293_delta_liquid_clustering",
      (s, d) => {
        import graft.sources.DeltaLog
        val root = Files.createTempDirectory("dlc_").toString + "/t"
        val src = lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        DeltaLog.commit(src.filter(col("l_orderkey") % 2 === 0)
          .repartition(4), root, clusterBy = Seq("l_partkey"))
        DeltaLog.commit(src.filter(col("l_orderkey") % 2 === 1)
          .repartition(4), root)
        s.sql(s"GRAFT OPTIMIZE DELTA '$root' FILES 8")
        val snap = DeltaLog.snapshot(s, root)
        // disjointness straight from the committed per-file stats
        val ranges = snap.adds.flatMap(_.statsJson).map { j =>
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(j)
          (n.get("minValues").get("l_partkey").asLong(),
            n.get("maxValues").get("l_partkey").asLong())
        }.sortBy(_._1)
        val disjoint = snap.adds.size == 8 && ranges.size == 8 &&
          ranges.sliding(2).forall {
            case Seq((_, hi), (lo2, _)) => hi < lo2
            case _ => true
          }
        s.read.format("delta-log").load(root)
          .filter(col("l_partkey") <= 100L)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(col("l_orderkey")).cast("long").as("sum_key"))
          .withColumn("ranges_disjoint", lit(disjoint))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
             |  TRUE AS ranges_disjoint
             |FROM lineitem WHERE l_partkey <= 100""".stripMargin)),

    // ICEBERG SORT ORDER (round 14, the Iceberg analog of q293's
    // liquid clustering): new metadata documents now carry the
    // v2-REQUIRED `sort-orders`/`default-sort-order-id` (previously
    // omitted), `setSortOrder` declares a real order through one
    // metadata-only conditional-put commit (REST: add-sort-order +
    // set-default-sort-order with the matching assertion), and a
    // PLAIN compaction honors the declared order —
    // rewrite_data_files(strategy='sort')'s default. The entry pins
    // per-file bound DISJOINTNESS from the committed MANIFEST bounds
    // (not the parquet footers — proving the manifests carry the
    // clustered layout pruning reads) plus the row aggregate.
    // IcebergMetaSpec covers descending order, in-file sortedness,
    // the refusal matrix and the foreign non-identity transform gate.
    QueryDef(
      "q294_iceberg_sort_order",
      (s, d) => {
        import graft.sources.IcebergMeta
        val root = Files.createTempDirectory("iso_").toString + "/t"
        val src = lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        IcebergMeta.writeFixture(src.filter(col("l_orderkey") % 2 === 0)
          .repartition(4), root)
        IcebergMeta.append(src.filter(col("l_orderkey") % 2 === 1)
          .repartition(4), root)
        IcebergMeta.setSortOrder(root, Seq("l_partkey" -> "asc"))
        IcebergMeta.compact(s, root, numFiles = 8)
        // disjointness from the MANIFEST bounds the pruner reads
        val files = IcebergMeta.snapshot(root).files
        val ranges = files.flatMap(f => f.stats.get("l_partkey")
            .flatMap(cs => for { mn <- cs.min; mx <- cs.max }
              yield (mn.toLong, mx.toLong)))
          .sortBy(_._1)
        val disjoint = ranges.size == 8 && ranges.sliding(2).forall {
          case Seq((_, hi), (lo2, _)) => hi < lo2
          case _ => true
        }
        s.read.format("iceberg-meta").load(root)
          .filter(col("l_partkey") <= 100L)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(col("l_orderkey")).cast("long").as("sum_key"))
          .withColumn("ranges_disjoint", lit(disjoint))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
             |  TRUE AS ranges_disjoint
             |FROM lineitem WHERE l_partkey <= 100""".stripMargin))
  )
}
