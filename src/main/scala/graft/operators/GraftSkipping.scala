package graft.operators

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

import graft.functions.StrKey

/** The conservative stats/bloom evaluator: can this predicate match any
  * row of a file with the given per-column [min,max] (long-normalized)
  * and bloom? It is the one per-file skipping decision: the planner's
  * [[graft.sources.GraftFileIndex]] and [[TxTable.readWhere]] /
  * [[TxTable.keptFiles]] reach it through [[TxTable.Snapshot.kept]],
  * both with the predicate as Spark's optimizer leaves it.
  *
  * Long-normalized stats are EXACT for integral and date columns
  * (bit-preserving casts — point probes may also consult the bloom) and
  * WIDENED BY ±1 for fractional/timestamp columns, whose write-time cast
  * truncates (`|cast(x) - x| < 1`). A STRING column's range lives in the
  * prefix64 domain and its bloom keys on hash64 of the full value (see
  * [[StrKey]]). Predicates on columns without logged stats, non-literal
  * comparisons, and unrecognized shapes keep the file. */
object GraftSkipping {

  /** True iff `e` PROVABLY matches no row of the file. `stats` returns
    * the logged long-normalized range per column (None = unknown);
    * `admits` is the bloom probe (true = might contain). */
  def provesEmpty(e: Expression,
                  stats: String => Option[(Long, Long)],
                  admits: (String, Long) => Boolean): Boolean = e match {
    case And(l, r) => provesEmpty(l, stats, admits) || provesEmpty(r, stats, admits)
    case Or(l, r)  => provesEmpty(l, stats, admits) && provesEmpty(r, stats, admits)
    case Literal(false, BooleanType) => true // a predicate folded to false

    case EqualTo(AttrCol(c, dt), Literal(v, _)) => emptyEq(c, dt, v, stats, admits)
    case EqualTo(Literal(v, _), AttrCol(c, dt)) => emptyEq(c, dt, v, stats, admits)
    case EqualNullSafe(AttrCol(c, dt), Literal(v, _)) if v != null =>
      emptyEq(c, dt, v, stats, admits)
    case EqualNullSafe(Literal(v, _), AttrCol(c, dt)) if v != null =>
      emptyEq(c, dt, v, stats, admits)

    case GreaterThan(AttrCol(c, dt), Literal(v, _)) => emptyCmp(c, dt, v, stats, Gt)
    case GreaterThan(Literal(v, _), AttrCol(c, dt)) => emptyCmp(c, dt, v, stats, Lt)
    case GreaterThanOrEqual(AttrCol(c, dt), Literal(v, _)) => emptyCmp(c, dt, v, stats, Ge)
    case GreaterThanOrEqual(Literal(v, _), AttrCol(c, dt)) => emptyCmp(c, dt, v, stats, Le)
    case LessThan(AttrCol(c, dt), Literal(v, _)) => emptyCmp(c, dt, v, stats, Lt)
    case LessThan(Literal(v, _), AttrCol(c, dt)) => emptyCmp(c, dt, v, stats, Gt)
    case LessThanOrEqual(AttrCol(c, dt), Literal(v, _)) => emptyCmp(c, dt, v, stats, Le)
    case LessThanOrEqual(Literal(v, _), AttrCol(c, dt)) => emptyCmp(c, dt, v, stats, Ge)

    case In(AttrCol(c, dt), vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall(l => emptyEq(c, dt, l.asInstanceOf[Literal].value, stats, admits))
    case InSet(AttrCol(c, dt), vs) =>
      vs.forall(v => emptyEq(c, dt, v, stats, admits))

    // a recorded EMPTY range means every row is NULL in that column
    case IsNotNull(AttrCol(c, _)) =>
      stats(c).exists { case (mn, mx) => mn == Long.MaxValue && mx == Long.MinValue }

    // prefix predicate on a STRING stats axis: every string starting
    // with p encodes into [prefix64(p), upper64(p)] (see StrKey), so a
    // file whose logged range misses that window provably has no match
    case StartsWith(AttrCol(c, StringType), Literal(p, StringType)) if p != null =>
      stats(c).exists { case (mn, mx) =>
        StrKey.upper64(p.toString) < mn || StrKey.prefix64(p.toString) > mx
      }

    case _ => false // unknown shape: keep the file
  }

  /** Bare column reference, looking through value-preserving integral
    * widening casts (Catalyst promotes `int_col = 5L` to
    * `cast(int_col as bigint) = 5L`; the cast is bit-exact, so skipping
    * still applies). The returned type is the CAST's target — that is
    * the type the comparison's literal carries, and for a widening cast
    * both sides sit on the same long-normalized axis as the stats. */
  private object AttrCol {
    def unapply(e: Expression): Option[(String, DataType)] = e match {
      case a: AttributeReference => Some((a.name, a.dataType))
      case Cast(a: AttributeReference, dt, _, _)
          if integral(a.dataType) && (integral(dt) || dt.isInstanceOf[DecimalType]) =>
        Some((a.name, dt))
      case _ => None
    }
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private sealed trait Cmp
  private case object Gt extends Cmp; private case object Ge extends Cmp
  private case object Lt extends Cmp; private case object Le extends Cmp

  /** An integral or date literal's value on the long axis: it compares
    * bit-for-bit against the logged range. */
  private def exact(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (ByteType, b: Byte)   => Some(b.toLong)
    case (ShortType, s: Short) => Some(s.toLong)
    case (IntegerType, i: Int) => Some(i.toLong)
    case (LongType, l: Long)   => Some(l)
    case (DateType, d: Int)    => Some(d.toLong) // days
    case _ => None
  }

  /** A literal whose write-time cast truncates toward zero / floors: it
    * is compared against the logged range widened by ±1. None = don't
    * prune on this literal. */
  private def inexact(dt: DataType, v: Any): Option[BigDecimal] =
    (dt, v) match {
      case (TimestampType, m: Long) => // micros -> seconds, floored cast
        Some(BigDecimal(m) / BigDecimal(1000000L))
      case (TimestampNTZType, m: Long) =>
        Some(BigDecimal(m) / BigDecimal(1000000L))
      case (FloatType, f: Float) if !f.isNaN && !f.isInfinite =>
        Some(BigDecimal(f.toDouble))
      case (DoubleType, d: Double) if !d.isNaN && !d.isInfinite =>
        Some(BigDecimal(d))
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        Some(d.toBigDecimal)
      case _ => None
    }

  private def emptyEq(c: String, dt: DataType, v: Any,
                      stats: String => Option[(Long, Long)],
                      admits: (String, Long) => Boolean): Boolean =
    if (v == null) false
    // STRING axis: the logged range lives in the prefix64 domain (8-byte
    // granularity — equal-prefix siblings collapse, so the range test
    // alone stays conservative) and the bloom keys on hash64 of the FULL
    // value, making equality probes exact-on-membership
    else if (dt == StringType) {
      val s = v.toString
      stats(c).exists { case (mn, mx) =>
        val e = StrKey.prefix64(s)
        e < mn || e > mx || !admits(c, StrKey.hash64(s))
      }
    }
    else (stats(c), exact(dt, v)) match {
      case (Some((mn, mx)), Some(k)) => k < mn || k > mx || !admits(c, k)
      case (Some((mn, mx)), None) => inexact(dt, v).exists(bd =>
        bd < BigDecimal(mn) - 1 || bd > BigDecimal(mx) + 1)
      case _ => false
    }

  private def emptyCmp(c: String, dt: DataType, v: Any,
                       stats: String => Option[(Long, Long)],
                       op: Cmp): Boolean =
    if (v == null) false
    // STRING axis: prefix64 is monotone but collapses equal-prefix
    // siblings, so strict and non-strict comparisons share the
    // DEMOTED test — x > v implies enc(x) >= enc(v), so only
    // mx < enc(v) proves "no x > v" (mx == enc(v) might hide a longer
    // sibling); symmetrically for the low side
    else if (dt == StringType) {
      val s = v.toString
      stats(c).exists { case (mn, mx) =>
        val e = StrKey.prefix64(s)
        op match {
          case Gt | Ge => mx < e // all enc(x) < enc(v): no x can be >= v
          case Lt | Le => mn > e // all enc(x) > enc(v): no x can be <= v
        }
      }
    }
    else (stats(c), exact(dt, v)) match {
      case (Some((mn, mx)), Some(k)) => misses(mn, mx, k, op)
      case (Some((mn, mx)), None) => inexact(dt, v).exists(bd =>
        misses(BigDecimal(mn) - 1, BigDecimal(mx) + 1, bd, op))
      case _ => false
    }

  /** No x in [lo, hi] satisfies `x op v`. */
  private def misses[T](lo: T, hi: T, v: T, op: Cmp)(implicit o: Ordering[T]): Boolean =
    op match {
      case Gt => o.lteq(hi, v) // need some x > v
      case Ge => o.lt(hi, v)
      case Lt => o.gteq(lo, v)
      case Le => o.gt(lo, v)
    }
}
