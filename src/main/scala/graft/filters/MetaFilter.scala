package graft.filters

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mongo-style metadata filters compiled to Catalyst predicates.
  *
  * Re-expresses the reference's ItemSelector.select /
  * metadata_filter (reference: item_selector.py:54-129): the operator
  * subset `$eq $ne $gt $gte $lt $lte $in $nin $and $or` plus bare
  * field equality. Instead of evaluating a dict per item in a Python
  * loop, the filter compiles once to a `Column` predicate, so
  * Catalyst pushes it into the parquet scan (PushedFilters) and the
  * filter runs inside WholeStageCodegen — at 100 TB this is the
  * difference between scanning everything and pruning row groups.
  *
  * Null semantics match the reference: a missing/null field never
  * matches any comparison (SQL three-valued logic drops null rows at
  * the Filter, same outcome as the reference's `return False`). A
  * field the frame has no column for compiles to `false` at its leaf,
  * so a filter on it matches nothing instead of failing analysis.
  *
  * Deliberate divergence: the reference's `$in`/`$nin` guard on
  * `isinstance(value, bool)` (reference: item_selector.py:119-124),
  * which makes them match only boolean fields — plainly a bug (the
  * comparison ops' int guard was copy-edited wrong). Implemented here
  * with the intended membership semantics for any comparable value.
  */
sealed trait MetaFilter {

  /** This filter as a predicate over `df`'s columns. A leaf whose field
    * does not resolve against `df` (the session's resolver, so its case
    * sensitivity) is `false`, as a missing field is in [[MetaFilter.matches]].
    */
  def toColumn(df: DataFrame): Column = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    MetaFilter.compile(this, k => plan.resolveQuoted(k, resolver).isDefined)
  }
}

object MetaFilter {
  /** A comparison on one field. */
  sealed trait Leaf extends MetaFilter { def field: String }
  case class Eq(field: String, value: Any) extends Leaf
  case class Ne(field: String, value: Any) extends Leaf
  case class Gt(field: String, value: Any) extends Leaf
  case class Gte(field: String, value: Any) extends Leaf
  case class Lt(field: String, value: Any) extends Leaf
  case class Lte(field: String, value: Any) extends Leaf
  case class In(field: String, values: Seq[Any]) extends Leaf
  case class Nin(field: String, values: Seq[Any]) extends Leaf
  case class And(filters: Seq[MetaFilter]) extends MetaFilter
  case class Or(filters: Seq[MetaFilter]) extends MetaFilter

  /** `f` as a `Column`; a leaf on a field for which `present` is false
    * compiles to `lit(false)`.
    */
  def compile(f: MetaFilter, present: String => Boolean): Column = f match {
    case l: Leaf if !present(l.field) => lit(false)
    case Eq(k, v)   => col(k) === lit(v)
    case Ne(k, v)   => col(k) =!= lit(v)
    case Gt(k, v)   => col(k) > lit(v)
    case Gte(k, v)  => col(k) >= lit(v)
    case Lt(k, v)   => col(k) < lit(v)
    case Lte(k, v)  => col(k) <= lit(v)
    case In(k, vs)  => col(k).isin(vs: _*)
    // the explicit isNotNull matters for the EMPTY value list: the
    // optimizer folds isin() to literal false, and !false would match
    // null fields — violating the null-never-matches contract every
    // other leaf keeps via three-valued logic (MetaFilterFuzzSpec
    // caught exactly this against the reference twin)
    case Nin(k, vs) => col(k).isNotNull && !col(k).isin(vs: _*)
    case And(fs)    => fs.map(compile(_, present)).reduce(_ && _)
    case Or(fs)     => fs.map(compile(_, present)).reduce(_ || _)
  }

  /** Row-level evaluator over field getters, kept as the reference's
    * own per-item loop: perfbench's `FilterLayer` times it and
    * MetaFilterFuzzSpec checks it against the compiled `Column` and the
    * reference's twin. No query path uses it — every index, snapshot
    * and listing evaluates `toColumn`. Identical match semantics to
    * the compiled `Column` on homogeneous-typed fields — numerics
    * compare by value across widths (Catalyst coerces int/long/double
    * the same way), strings lexically, booleans by equality, and a
    * missing/null field never matches ANY leaf (the reference's
    * `return False`; SQL three-valued logic reaches the same outcome
    * at the Filter). `get` returns the field's value or null.
    */
  def matches(f: MetaFilter, get: String => Any): Boolean = {
    def num(a: Any): Option[Double] = a match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _                   => None
    }
    def eqv(a: Any, b: Any): Boolean = (num(a), num(b)) match {
      case (Some(x), Some(y)) => x == y
      case _                  => a == b
    }
    def cmp(a: Any, b: Any): Option[Int] = (num(a), num(b)) match {
      case (Some(x), Some(y)) => Some(java.lang.Double.compare(x, y))
      case _ => (a, b) match {
        case (x: String, y: String) => Some(x.compareTo(y))
        case _                      => None
      }
    }
    def go(f: MetaFilter): Boolean = f match {
      case And(fs)    => fs.forall(go)
      case Or(fs)     => fs.exists(go)
      case Eq(k, v)   => val a = get(k); a != null && eqv(a, v)
      case Ne(k, v)   => val a = get(k); a != null && !eqv(a, v)
      case Gt(k, v)   => cmp(get(k), v).exists(_ > 0)
      case Gte(k, v)  => cmp(get(k), v).exists(_ >= 0)
      case Lt(k, v)   => cmp(get(k), v).exists(_ < 0)
      case Lte(k, v)  => cmp(get(k), v).exists(_ <= 0)
      case In(k, vs)  => val a = get(k); a != null && vs.exists(eqv(a, _))
      case Nin(k, vs) => val a = get(k); a != null && !vs.exists(eqv(a, _))
    }
    go(f)
  }

  /** Parse the reference's JSON filter syntax, e.g.
    * `{"$or":[{"label":{"$in":[1,3]}},{"label":{"$gte":7}}]}`.
    * Uses json4s (bundled with Spark).
    */
  def parse(json: String): MetaFilter = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def value(v: JValue): Any = v match {
      case JInt(i)     => i.toLong
      case JLong(l)    => l
      case JDouble(d)  => d
      case JDecimal(d) => d.toDouble
      case JString(s)  => s
      case JBool(b)    => b
      case other       => throw new IllegalArgumentException(s"bad literal: $other")
    }
    def values(v: JValue): Seq[Any] = v match {
      case JArray(xs) => xs.map(value)
      case other      => throw new IllegalArgumentException(s"expected array: $other")
    }
    def obj(o: JValue): MetaFilter = o match {
      case JObject(fields) =>
        val fs = fields.map {
          case ("$and", JArray(xs)) => And(xs.map(obj))
          case ("$or", JArray(xs))  => Or(xs.map(obj))
          case (field, JObject(ops)) =>
            And(ops.map {
              case ("$eq", v)  => Eq(field, value(v))
              case ("$ne", v)  => Ne(field, value(v))
              case ("$gt", v)  => Gt(field, value(v))
              case ("$gte", v) => Gte(field, value(v))
              case ("$lt", v)  => Lt(field, value(v))
              case ("$lte", v) => Lte(field, value(v))
              case ("$in", v)  => In(field, values(v))
              case ("$nin", v) => Nin(field, values(v))
              case (op, _)     => throw new IllegalArgumentException(s"bad op: $op")
            })
          case (field, v) => Eq(field, value(v))
        }
        if (fs.size == 1) fs.head else And(fs)
      case other => throw new IllegalArgumentException(s"expected object: $other")
    }
    obj(JsonMethods.parse(json))
  }
}
