package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.filters.MetaFilter
import graft.filters.MetaFilter._

/** Property-fuzz of the MetaFilter compiler (round-5 advice item 8):
  * random filter ASTs × random metadata rows, checked against an
  * INDEPENDENT twin evaluator written as a structural mirror of the
  * reference's ItemSelector.select / metadata_filter
  * (item_selector.py:54-129) — top-level keys AND-composed, a
  * missing/None field never matches any leaf, $and/$or recurse. The
  * twin applies graft's two documented deliberate divergences
  * (MetaFilter scaladoc): $in/$nin use real membership (the
  * reference's bool-only isinstance guard is a shipped bug), and
  * range comparisons work on any mutually comparable type (the
  * reference's int-only guard), with booleans kept equality-only.
  *
  * Three implementations must agree on every case: the compiled
  * Catalyst Column (what queries run), MetaFilter.matches (what the
  * serving tier runs), and the twin (what the reference means).
  */
class MetaFilterFuzzSpec extends SparkSpecBase {

  // ---- the reference-faithful twin -----------------------------------
  private def num(a: Any): Option[Double] = a match {
    case b: Boolean          => None // equality-only, like the reference
    case n: java.lang.Number => Some(n.doubleValue())
    case _                   => None
  }
  private def eqv(a: Any, b: Any): Boolean = (num(a), num(b)) match {
    case (Some(x), Some(y)) => x == y
    case _                  => a == b
  }
  private def cmp(a: Any, b: Any): Option[Int] = (num(a), num(b)) match {
    case (Some(x), Some(y)) => Some(java.lang.Double.compare(x, y))
    case _ => (a, b) match {
      case (x: String, y: String) => Some(x.compareTo(y))
      case _                      => None
    }
  }
  private def twin(f: MetaFilter, md: Map[String, Any]): Boolean = {
    def field(k: String): Any = md.getOrElse(k, null)
    f match {
      case And(fs)    => fs.forall(twin(_, md))
      case Or(fs)     => fs.exists(twin(_, md))
      case Eq(k, v)   => val a = field(k); a != null && eqv(a, v)
      case Ne(k, v)   => val a = field(k); a != null && !eqv(a, v)
      case Gt(k, v)   => cmp(field(k), v).exists(_ > 0)
      case Gte(k, v)  => cmp(field(k), v).exists(_ >= 0)
      case Lt(k, v)   => cmp(field(k), v).exists(_ < 0)
      case Lte(k, v)  => cmp(field(k), v).exists(_ <= 0)
      case In(k, vs)  => val a = field(k); a != null && vs.exists(eqv(a, _))
      case Nin(k, vs) => val a = field(k); a != null && !vs.exists(eqv(a, _))
    }
  }

  // ---- generators ----------------------------------------------------
  private sealed trait FKind
  private case object IntF extends FKind
  private case object DblF extends FKind
  private case object StrF extends FKind
  private case object BoolF extends FKind
  private val fields: Seq[(String, FKind)] =
    Seq("ia" -> IntF, "ib" -> IntF, "da" -> DblF, "sa" -> StrF,
      "sb" -> StrF, "ba" -> BoolF)

  private def genValue(r: Random, k: FKind): Any = k match {
    case IntF  => r.nextInt(10).toLong
    case DblF  => r.nextInt(20) / 4.0
    case StrF  => ("" + ('a' + r.nextInt(4)).toChar) * (1 + r.nextInt(2))
    case BoolF => r.nextBoolean()
  }

  private def genLeaf(r: Random): MetaFilter = {
    val (name, kind) = fields(r.nextInt(fields.length))
    val v = genValue(r, kind)
    def list = Seq.fill(r.nextInt(4))(genValue(r, kind))
    val ops: Seq[() => MetaFilter] = kind match {
      case BoolF => Seq(
        () => Eq(name, v), () => Ne(name, v),
        () => In(name, list), () => Nin(name, list))
      case _ => Seq(
        () => Eq(name, v), () => Ne(name, v),
        () => Gt(name, v), () => Gte(name, v),
        () => Lt(name, v), () => Lte(name, v),
        () => In(name, list), () => Nin(name, list))
    }
    ops(r.nextInt(ops.length))()
  }

  private def genFilter(r: Random, depth: Int): MetaFilter =
    if (depth > 0 && r.nextInt(100) < 40) {
      val kids = Seq.fill(2 + r.nextInt(2))(genFilter(r, depth - 1))
      if (r.nextBoolean()) And(kids) else Or(kids)
    } else genLeaf(r)

  private def genRow(r: Random, id: Long): Row = {
    def maybe[A](v: A): Any = if (r.nextInt(100) < 20) null else v
    Row(id,
      maybe(Int.box(r.nextInt(10))),
      maybe(Int.box(r.nextInt(10))),
      maybe(Double.box(r.nextInt(20) / 4.0)),
      maybe(("" + ('a' + r.nextInt(4)).toChar) * (1 + r.nextInt(2))),
      maybe(("" + ('a' + r.nextInt(4)).toChar) * (1 + r.nextInt(2))),
      maybe(Boolean.box(r.nextBoolean())))
  }

  test("1000+ random (filter, row) cases: Column, matches, and the reference twin agree") {
    val r = new Random(20260813L)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ia", IntegerType), StructField("ib", IntegerType),
      StructField("da", DoubleType), StructField("sa", StringType),
      StructField("sb", StringType), StructField("ba", BooleanType)))
    val rows = (0L until 40L).map(genRow(r, _))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema).cache()
    df.count()

    val maps: Seq[(Long, Map[String, Any])] = rows.map { row =>
      row.getLong(0) -> schema.fieldNames.zipWithIndex.map {
        case (n, i) => n -> row.get(i)
      }.toMap
    }

    var cases = 0
    (1 to 50).foreach { fi =>
      val f = genFilter(r, depth = 3)
      val sparkIds = df.filter(f.toColumn(df))
        .select("id").collect().map(_.getLong(0)).toSet
      maps.foreach { case (id, md) =>
        val expected = twin(f, md)
        assert(sparkIds.contains(id) == expected,
          s"filter #$fi $f disagrees with the reference twin on row $id: $md")
        val get: String => Any = k => md.getOrElse(k, null)
        assert(MetaFilter.matches(f, get) == expected,
          s"filter #$fi $f: MetaFilter.matches disagrees with the twin on row $id: $md")
        cases += 1
      }
    }
    assert(cases == 2000)
    df.unpersist(blocking = false)
  }
}
