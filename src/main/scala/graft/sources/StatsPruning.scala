package graft.sources

import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-expression file-skipping evaluator over per-column
  * [[VersionedTable.ColStats]] — the one file-skipping walk of every
  * Catalyst-driven FileIndex ([[GraftFileIndex]], [[DeltaLogFileIndex]],
  * [[IcebergMetaFileIndex]]), of graft's one file-skipping rule
  * ([[VersionedTable.filesMayMatch]]) and of the stats-targeted DML
  * paths.
  * Strictly CONSERVATIVE: any shape it does not recognize keeps the
  * file, and Spark re-applies every predicate row-wise downstream, so
  * pruning can change cost, never answers. Strict comparisons prune
  * their boundary file too ([[VersionedTable.mayMatchStrict]]). */
private[sources] object StatsPruning {

  /** Catalyst literal value → the external value the stats comparators
    * expect (strings arrive as UTF8String, decimals as Decimal). */
  private def ext(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case d: Decimal => d.toBigDecimal
    case o => o
  }

  /** Can any row of a file with column stats `stats` satisfy `e`?
    * `eqProbe(col, literal)` is a further per-file equality check asked
    * only after min/max admit a non-null literal — graft's bloom
    * sidecar and hidden-partition tag, which prove absence that
    * min/max cannot. */
  def mayMatchExpr(stats: Map[String, VersionedTable.ColStats],
      e: Expression,
      eqProbe: (String, Literal) => Boolean = (_, _) => true): Boolean = {
    def range(a: AttributeReference, lower: Option[Any],
        lowerStrict: Boolean, upper: Option[Any], upperStrict: Boolean) =
      VersionedTable.mayMatchStrict(stats.get(a.name), lower, lowerStrict,
        upper, upperStrict)
    def eq(a: AttributeReference, l: Literal) = {
      val x = ext(l.value)
      range(a, Some(x), false, Some(x), false) &&
        (l.value == null || eqProbe(a.name, l))
    }
    def lo(a: AttributeReference, l: Literal, strict: Boolean) =
      range(a, Some(ext(l.value)), strict, None, false)
    def hi(a: AttributeReference, l: Literal, strict: Boolean) =
      range(a, None, false, Some(ext(l.value)), strict)
    e match {
      case And(x, y) =>
        mayMatchExpr(stats, x, eqProbe) && mayMatchExpr(stats, y, eqProbe)
      case Or(x, y) =>
        mayMatchExpr(stats, x, eqProbe) || mayMatchExpr(stats, y, eqProbe)
      case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal)
          if l.value != null => eq(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => lo(a, l, true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        lo(a, l, false)
      case LessThan(a: AttributeReference, l: Literal) => hi(a, l, true)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        hi(a, l, false)
      case GreaterThan(l: Literal, a: AttributeReference) => hi(a, l, true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        hi(a, l, false)
      case LessThan(l: Literal, a: AttributeReference) => lo(a, l, true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        lo(a, l, false)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => eq(a, l.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, vs) =>
        vs.exists(v => eq(a, Literal(v, a.dataType)))
      case IsNull(a: AttributeReference) =>
        VersionedTable.mayMatchNullness(stats.get(a.name), wantNull = true)
      case IsNotNull(a: AttributeReference) =>
        VersionedTable.mayMatchNullness(stats.get(a.name), wantNull = false)
      case _ => true
    }
  }
}
