package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, lit,
  max => fmax, min => fmin}

import VersionedTable.{ColStats, MergeClause, MergeDelete, MergeInsert,
  MergeUpdate}

/** The format-neutral half of `MERGE INTO`, shared by graft's
  * [[VersionedTable.mergeConditional]], [[DeltaLog.mergeConditional]]
  * and [[IcebergMeta.mergeConditional]]: the clause-kind rules, the one
  * source pre-flight that decides which target files a merge reads and
  * rewrites, and the clause-cascade join. Each format keeps only its
  * read, its own obligations and its commit. */
private[sources] object MergeKernel {

  /** Clause kinds by position: only a not-matched clause may INSERT. */
  def checkClauses(matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      bySource: Seq[MergeClause]): Unit = {
    matched.foreach(c => require(!c.isInstanceOf[MergeInsert],
      "WHEN MATCHED cannot INSERT"))
    notMatched.foreach(c => require(c.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED can only INSERT"))
    bySource.foreach(c => require(!c.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED BY SOURCE cannot INSERT"))
  }

  /** ONE source pass for row count, key uniqueness and the key
    * envelope (countDistinct/count/min/max all ignore NULLs), then
    * file targeting from per-file `ColStats` alone:
    *
    *  - `None` — nothing to merge: an empty source with no by-source
    *    clause, or a source whose keys are all NULL. The caller
    *    returns its current version and commits nothing.
    *  - `Some(files)` — the target files the merge must read and
    *    rewrite: every file when a by-source clause ranges over the
    *    whole target (`everyFile`), else the files whose key stats
    *    overlap the source's [min, max] key envelope. A file disjoint
    *    from the envelope can neither hold a matched key nor shadow an
    *    insert, so it carries over by reference.
    *
    * Two source rows on one key have no deterministic outcome, so a
    * duplicated non-NULL source key refuses (`what` names the caller).
    * A NULL source key matches nothing and lands as an unmatched row. */
  def targetFiles[F](source: DataFrame, sKey: String, what: String,
      everyFile: Boolean, files: Seq[F])(keyStats: F => Option[ColStats])
      : Option[Seq[F]] = {
    val pre = source.agg(count(lit(1)), countDistinct(col(sKey)),
      count(col(sKey)), fmin(col(sKey)), fmax(col(sKey))).head()
    if (pre.getLong(0) == 0 && !everyFile) return None
    require(pre.getLong(1) == pre.getLong(2),
      s"$what: source keys must be unique (two source rows matching one " +
        "target row have no deterministic outcome)")
    if (everyFile) Some(files)
    else if (pre.isNullAt(3)) None
    else Some(files.filter(f => VersionedTable.mayMatch(keyStats(f),
      Some(pre.get(3)), Some(pre.get(4)))))
  }

  /** The clause-cascade full-outer join at the heart of every format's
    * `mergeConditional`: target rows (already restricted to the files
    * in play) join source rows on the key, each row runs its position's
    * clause list (first condition that holds wins), and the survivors
    * project back to the table's columns. */
  def mergeCascadeRows(tgtRows: org.apache.spark.sql.DataFrame,
      source: org.apache.spark.sql.DataFrame,
      tableSc: org.apache.spark.sql.types.StructType,
      tKey: String, sKey: String,
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      bySource: Seq[MergeClause]): org.apache.spark.sql.DataFrame = {
    mergeCascadeTagged(tgtRows, source, tableSc, tKey, sKey,
      matched, notMatched, bySource)
      .filter(col("__keep"))
      .select(tableSc.fieldNames.toSeq.map(col): _*)
  }

  /** [[mergeCascadeRows]] with PROVENANCE: the frame BEFORE the keep
    * filter, carrying the post-merge table columns plus `__keep`
    * (does the row survive), `__ct` (which clause kind decided:
    * 'update' / 'delete' / 'insert', NULL for carry-over and ignored
    * source rows) and `__pre_<col>` pre-merge values (NULL on
    * source-only rows). This is what a CHANGE DATA FEED needs from a
    * merge: cdc `delete` rows are the `__ct='delete'` pre-images,
    * `update_preimage`/`update_postimage` pairs come from
    * `__ct='update'`, `insert`s from `__ct='insert'` — carry-over
    * rows (NULL `__ct`) produce NO change rows, exactly Delta's merge
    * CDF semantics. One full-outer join; the tags are the same
    * codegen'd when-cascade as the values. */
  def mergeCascadeTagged(tgtRows: org.apache.spark.sql.DataFrame,
      source: org.apache.spark.sql.DataFrame,
      tableSc: org.apache.spark.sql.types.StructType,
      tKey: String, sKey: String,
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      bySource: Seq[MergeClause],
      // extra TARGET-side columns carried verbatim through the
      // cascade (null on insert rows) — the DV merge path threads the
      // target rows' (file, position) addressing through here
      passThrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.when
    val tableCols = tableSc.fieldNames.toSeq
    val tgt = tgtRows
      .select(tableCols.map(c => col(c).as(s"__t_$c")) ++
        passThrough.map(col): _*)
      .withColumn("__t_present", lit(true))
    val src = source
      .select(source.columns.toSeq.map(c => col(c).as(s"__s_$c")): _*)
      .withColumn("__s_present", lit(true))
    val joined = tgt.join(src,
      col(s"__t_$tKey") === col(s"__s_$sKey"), "full_outer")
    // presence markers, not key nullability: NULL-keyed rows on either
    // side must land in their side's UNMATCHED branch, and a null key
    // cannot witness its own row's presence
    val isMatched = col("__t_present").isNotNull && col("__s_present").isNotNull
    val targetOnly = col("__t_present").isNotNull && col("__s_present").isNull
    // Right-fold the clause list into (keep?, value(col), kind)
    // cascades: the FIRST clause whose condition holds decides, later
    // clauses and the default sit in the otherwise-chain.
    type Cascade = (org.apache.spark.sql.Column,
      String => org.apache.spark.sql.Column,
      org.apache.spark.sql.Column)
    def fold(clauses: Seq[MergeClause], default: Cascade): Cascade =
      clauses.foldRight(default) { case (cl, (k0, v0, t0)) =>
        cl match {
          case MergeUpdate(c, set) =>
            val cond = c.getOrElse(lit(true))
            (when(cond, lit(true)).otherwise(k0),
              n => when(cond, set.getOrElse(n, col(s"__t_$n")))
                .otherwise(v0(n)),
              when(cond, lit("update")).otherwise(t0))
          case MergeDelete(c) =>
            val cond = c.getOrElse(lit(true))
            (when(cond, lit(false)).otherwise(k0), v0,
              when(cond, lit("delete")).otherwise(t0))
          case MergeInsert(c, values) =>
            val cond = c.getOrElse(lit(true))
            (when(cond, lit(true)).otherwise(k0),
              n => when(cond,
                  values.getOrElse(n, lit(null)))
                .otherwise(v0(n)),
              when(cond, lit("insert")).otherwise(t0))
        }
      }
    val keepT: String => org.apache.spark.sql.Column = n => col(s"__t_$n")
    val noCt = lit(null).cast("string")
    val (mKeep, mVal, mCt) = fold(matched, (lit(true), keepT, noCt))
    val (tKeep, tVal, tCt) = fold(bySource, (lit(true), keepT, noCt))
    val (sKeep, sVal, sCt) =
      fold(notMatched, (lit(false), _ => lit(null), noCt))
    joined
      .withColumn("__keep",
        when(isMatched, mKeep).when(targetOnly, tKeep).otherwise(sKeep))
      .withColumn("__ct",
        when(isMatched, mCt).when(targetOnly, tCt).otherwise(sCt))
      .select(tableCols.map { c =>
        val f = tableSc.fields.find(_.name == c).get
        when(isMatched, mVal(c)).when(targetOnly, tVal(c))
          .otherwise(sVal(c)).cast(f.dataType).as(c)
      } ++ tableCols.map { c =>
        val f = tableSc.fields.find(_.name == c).get
        col(s"__t_$c").cast(f.dataType).as(s"__pre_$c")
      } ++ Seq(col("__keep"), col("__ct")) ++ passThrough.map(col): _*)
  }
}
