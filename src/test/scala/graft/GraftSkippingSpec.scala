package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraftSkipping

/** Unit drill of the conservative stats/bloom evaluator — the component
  * where a wrong answer SILENTLY LOSES ROWS, so every edge gets a
  * direct case: exact integral/date axes, widened fractional/timestamp
  * axes, swapped literal sides, And/Or composition, In/InSet, bloom
  * interplay, and the keep-by-default shapes. */
class GraftSkippingSpec extends AnyFunSuite {

  private val statsK = Map("k" -> (10L, 20L))
  private def stats(c: String): Option[(Long, Long)] = statsK.get(c)
  private def admitAll(c: String, v: Long): Boolean = true
  private def attr(name: String, dt: DataType = LongType) =
    AttributeReference(name, dt)()

  private def empty(e: Expression,
                    st: String => Option[(Long, Long)] = stats,
                    bloom: (String, Long) => Boolean = admitAll): Boolean =
    GraftSkipping.provesEmpty(e, st, bloom)

  test("exact integral axis: equality and the four comparisons") {
    val k = attr("k")
    assert(empty(EqualTo(k, Literal(9L))) && empty(EqualTo(k, Literal(21L))))
    assert(!empty(EqualTo(k, Literal(10L))) && !empty(EqualTo(k, Literal(20L))))
    assert(empty(GreaterThan(k, Literal(20L))))      // need x > 20, max = 20
    assert(!empty(GreaterThan(k, Literal(19L))))
    assert(empty(GreaterThanOrEqual(k, Literal(21L))))
    assert(!empty(GreaterThanOrEqual(k, Literal(20L))))
    assert(empty(LessThan(k, Literal(10L))))
    assert(!empty(LessThan(k, Literal(11L))))
    assert(empty(LessThanOrEqual(k, Literal(9L))))
    assert(!empty(LessThanOrEqual(k, Literal(10L))))
  }

  test("swapped literal sides mirror correctly") {
    val k = attr("k")
    // 21 < k  ≡  k > 21: max=20 proves empty
    assert(empty(LessThan(Literal(21L), k)))
    // 9 > k  ≡  k < 9: min=10 proves empty
    assert(empty(GreaterThan(Literal(9L), k)))
    assert(!empty(LessThan(Literal(15L), k)))
  }

  test("fractional literals on a fractional axis widen by one") {
    val x = attr("x", DoubleType)
    val st = (c: String) => if (c == "x") Some((5L, 5L)) else None
    // stats [5,5] came from values in (4,6): 5.5 could match (5.6 did)
    assert(!empty(GreaterThan(x, Literal(5.5)), st))
    assert(!empty(LessThan(x, Literal(4.5)), st))
    assert(!empty(EqualTo(x, Literal(5.9)), st))
    // beyond the ±1 band the proof holds
    assert(empty(GreaterThan(x, Literal(6.0)), st))
    assert(empty(LessThan(x, Literal(4.0)), st))
    assert(empty(EqualTo(x, Literal(7.1)), st))
    // NaN/Infinity never prune
    assert(!empty(EqualTo(x, Literal(Double.NaN)), st))
    assert(!empty(LessThan(x, Literal(Double.PositiveInfinity)), st))
  }

  test("timestamp axis: micros literal on truncated-seconds stats") {
    val ts = attr("ts", TimestampType)
    val st = (c: String) => if (c == "ts") Some((1000L, 2000L)) else None
    // 2000.9 s could still be in a file whose floored max is 2000
    assert(!empty(GreaterThan(ts, Literal(2000900000L, TimestampType)), st))
    // 2001.5 s > max+1 proves empty
    assert(empty(GreaterThan(ts, Literal(2001500000L, TimestampType)), st))
  }

  test("date axis is exact (days)") {
    val d = attr("d", DateType)
    val st = (c: String) => if (c == "d") Some((100L, 200L)) else None
    assert(empty(EqualTo(d, Literal(99, DateType)), st))
    assert(!empty(EqualTo(d, Literal(100, DateType)), st))
    assert(empty(GreaterThan(d, Literal(200, DateType)), st))
  }

  test("And prunes if either side proves; Or needs both") {
    val k = attr("k")
    val dead = EqualTo(k, Literal(99L))
    val alive = EqualTo(k, Literal(15L))
    assert(empty(And(dead, alive)) && empty(And(alive, dead)))
    assert(!empty(Or(dead, alive)))
    assert(empty(Or(dead, EqualTo(k, Literal(0L)))))
  }

  test("In/InSet prune only when every value does; blooms can finish the job") {
    val k = attr("k")
    assert(empty(In(k, Seq(Literal(1L), Literal(2L), Literal(99L)))))
    assert(!empty(In(k, Seq(Literal(1L), Literal(15L)))))
    assert(empty(InSet(k, Set(1L, 2L))))
    // in-range value, but the bloom says absent
    val noThirteen = (c: String, v: Long) => v != 13L
    assert(empty(EqualTo(k, Literal(13L)), stats, noThirteen))
    assert(!empty(EqualTo(k, Literal(14L)), stats, noThirteen))
    assert(empty(In(k, Seq(Literal(13L), Literal(99L))), stats, noThirteen))
  }

  test("keep-by-default: unknown columns, shapes, casts, nulls, IsNull") {
    val k = attr("k")
    val other = attr("nostats")
    assert(!empty(EqualTo(other, Literal(1L))))
    assert(!empty(Not(EqualTo(k, Literal(99L)))))      // Not: conservative
    assert(!empty(IsNull(k)))                          // stats say nothing
    assert(!empty(EqualTo(k, Literal(null, LongType))))
    // a string column never prunes (no long axis)
    val s = attr("s", StringType)
    assert(!empty(EqualTo(s, Literal(UTF8String.fromString("x"), StringType))))
    // non-literal comparisons keep
    assert(!empty(EqualTo(k, attr("k2"))))
  }

  test("widening cast on the column looks through; lossy shapes do not") {
    val ki = attr("ki", IntegerType)
    val st = (c: String) => if (c == "ki") Some((10L, 20L)) else None
    // cast(int as bigint) = 99L — value-preserving, prune applies
    assert(empty(EqualTo(Cast(ki, LongType), Literal(99L)), st))
    assert(!empty(EqualTo(Cast(ki, LongType), Literal(15L)), st))
    // cast(int as double) is NOT matched (different axis): keep
    assert(!empty(EqualTo(Cast(ki, DoubleType), Literal(99.0)), st))
  }

  test("recorded empty range: everything value-matching prunes; IsNotNull too") {
    val k = attr("k")
    val st = (c: String) =>
      if (c == "k") Some((Long.MaxValue, Long.MinValue)) else None
    assert(empty(EqualTo(k, Literal(0L)), st))
    assert(empty(GreaterThan(k, Literal(-999L)), st))
    assert(empty(LessThan(k, Literal(999L)), st))
    assert(empty(IsNotNull(k), st))
    // but an ABSENT stats entry must not be confused with the empty range
    assert(!empty(IsNotNull(attr("nostats"))))
  }

  // ---- STRING axes: stats live in the prefix64 domain (StrKey) ----

  private def strLit(s: String) = Literal(UTF8String.fromString(s), StringType)
  private def enc(s: String): Long = graft.functions.StrKey.prefix64(s)

  test("string equality: prefix range + full-value hash bloom") {
    val s = attr("s", StringType)
    // file holds values encoding into [enc(banana), enc(cherry)]
    val st = (c: String) =>
      if (c == "s") Some((enc("banana"), enc("cherry"))) else None
    assert(empty(EqualTo(s, strLit("apple")), st))
    assert(empty(EqualTo(s, strLit("date")), st))
    assert(!empty(EqualTo(s, strLit("banana")), st))
    assert(!empty(EqualTo(s, strLit("cactus")), st))
    // the bloom can refute a key the prefix range admits
    val hCactus = graft.functions.StrKey.hash64("cactus")
    assert(empty(EqualTo(s, strLit("cactus")), st, (_, k) => k != hCactus))
    // swapped literal side mirrors
    assert(empty(EqualTo(strLit("apple"), s), st))
    // In prunes only when EVERY member is provably absent
    assert(empty(In(s, Seq(strLit("apple"), strLit("abacus"))), st))
    assert(!empty(In(s, Seq(strLit("apple"), strLit("banana"))), st))
  }

  test("string comparisons demote strict tests (equal-prefix siblings may hide)") {
    val s = attr("s", StringType)
    val st = (c: String) =>
      if (c == "s") Some((enc("banana"), enc("cherry"))) else None
    // max enc == enc(cherry): a LONGER sibling ("cherryx") could still
    // satisfy s > "cherry" — strict > must NOT prune at the boundary
    assert(!empty(GreaterThan(s, strLit("cherry")), st))
    assert(empty(GreaterThan(s, strLit("cherrz")), st))
    // min enc == enc(banana): binary-equal-prefix values below the
    // literal can't be ruled out at the boundary — strict < must keep
    assert(!empty(LessThan(s, strLit("banana")), st))
    assert(empty(LessThan(s, strLit("banan")), st))
    assert(empty(GreaterThanOrEqual(s, strLit("d")), st))
    assert(!empty(GreaterThanOrEqual(s, strLit("cherry")), st))
    assert(empty(LessThanOrEqual(s, strLit("b")), st))
  }

  test("string prefix predicate prunes by the [prefix64, upper64] window") {
    val s = attr("s", StringType)
    val st = (c: String) =>
      if (c == "s") Some((enc("banana"), enc("cherry"))) else None
    assert(empty(StartsWith(s, strLit("ap")), st)) // upper64(ap) < min
    assert(empty(StartsWith(s, strLit("da")), st)) // prefix64(da) > max
    assert(!empty(StartsWith(s, strLit("ba")), st))
    assert(!empty(StartsWith(s, strLit("cherry")), st))
    // 8-byte collapse: stats from equal-prefix siblings keep everything
    val stEq = (c: String) =>
      if (c == "s") Some((enc("aaaaaaaa"), enc("aaaaaaaa"))) else None
    assert(!empty(StartsWith(s, strLit("aaaaaaaa-tail")), stEq))
    assert(!empty(EqualTo(s, strLit("aaaaaaaa-zzz")), stEq))
    assert(!empty(GreaterThan(s, strLit("aaaaaaaa")), stEq))
  }

  test("string all-NULL sentinel prunes IS NOT NULL and every probe") {
    val s = attr("s", StringType)
    val st = (c: String) =>
      if (c == "s") Some((Long.MaxValue, Long.MinValue)) else None
    assert(empty(IsNotNull(s), st))
    assert(empty(EqualTo(s, strLit("x")), st))
    assert(empty(StartsWith(s, strLit("x")), st))
  }
}
