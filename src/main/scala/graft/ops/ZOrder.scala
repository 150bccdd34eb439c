package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File layout for compaction: [[layout]] is the one rule every
  * OPTIMIZE (graft, Delta, Iceberg) applies to lay a rewrite's rows
  * into files.
  *
  * Z-order (Morton) clustering is the layout behind 2-D data skipping
  * (SURVEY.md §2b sinks row): sorting by interleaved bits keeps
  * records that are close in EVERY dimension close in the file order,
  * so per-file (and per-row-group) min/max stats become tight bounding
  * boxes and a scan with predicates on either dimension prunes most
  * files. A sort order (Delta liquid clustering, the Iceberg table
  * sort order) gives that for its leading column.
  *
  * The interleave is plain integer arithmetic (statically unrolled
  * shift/mask sum — codegen-friendly, whole-stage-compatible, and
  * reproducible in any engine), not a UDF.
  */
object ZOrder {

  /** How a compaction clusters rows across its output files. */
  sealed trait Clustering
  /** No clustering: pack the rows into at most `numFiles` files. */
  case object Unclustered extends Clustering
  /** Morton interleave of two nonnegative integer columns, `bits`
    * bits each (values must fit: quantize first). */
  final case class ZOrderBy(x: String, y: String, bits: Int)
    extends Clustering
  /** Lexicographic sort order, one `(column, ascending)` per key. */
  final case class SortBy(keys: Seq[(String, Boolean)]) extends Clustering

  /** Morton code of two nonnegative ints using `bitsPer` bits each:
    * bit b of `x` lands at position 2b, bit b of `y` at 2b+1. Inputs
    * beyond the bit budget must be clamped by the caller (quantize
    * first); 2*bitsPer <= 62 keeps the code in a nonnegative long. */
  def interleave2(x: Column, y: Column, bitsPer: Int): Column = {
    require(bitsPer >= 1 && bitsPer <= 31,
      s"bitsPer must be in [1, 31], got $bitsPer")
    (0 until bitsPer).map { b =>
      (shiftright(x, b).bitwiseAND(lit(1L)) * (1L << (2 * b))) +
        (shiftright(y, b).bitwiseAND(lit(1L)) * (1L << (2 * b + 1)))
    }.reduce(_ + _)
  }

  /** Lay the rows of `df` (a compaction's visible rows) out for a
    * rewrite into `numFiles` files:
    *  - a clustering range-partitions on its key into `numFiles`
    *    splits (files cover disjoint key ranges) and sorts within each
    *    split (row groups are clustered too);
    *  - an unclustered rewrite of an unpartitioned table coalesces
    *    into at most `numFiles` files, with no shuffle;
    *  - a `partitioned` table comes back as is: its writer groups
    *    rows per partition, and clustering it is refused (the
    *    partitioning is the coarse cluster).
    * Named columns must be columns of `df`; a `__zorder` column in
    * `df` refuses, because the helper column would replace it and
    * then drop the caller's data from the output. */
  def layout(df: DataFrame, numFiles: Int, clustering: Clustering,
      partitioned: Boolean = false): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(clustering == Unclustered || !partitioned,
      s"$clustering on a partitioned table is not supported — the " +
        "partitioning is the coarse cluster")
    def column(c: String): Column = {
      require(df.columns.contains(c),
        s"clustering column '$c' is not a column of the table")
      col("`" + c.replace("`", "``") + "`")
    }
    def ranged(frame: DataFrame, keys: Seq[Column]): DataFrame =
      frame.repartitionByRange(numFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
    clustering match {
      case Unclustered => if (partitioned) df else df.coalesce(numFiles)
      case SortBy(keys) =>
        ranged(df, keys.map { case (c, asc) =>
          if (asc) column(c).asc else column(c).desc })
      case ZOrderBy(x, y, bits) =>
        require(!df.columns.contains("__zorder"),
          "table already has a __zorder column — rename it first")
        ranged(df.withColumn("__zorder",
            interleave2(column(x), column(y), bits)), Seq(col("__zorder")))
          .drop("__zorder")
    }
  }
}
