package graft.serve

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.filters.MetaFilter
import graft.functions.expr.TopKBuffer
import graft.index.VectorIndex

/** Driver-side snapshot serving: the serving-TIER counterpart of the
  * Spark serving session.
  *
  * The reference's whole execution model is this class (an in-memory
  * item list queried in-process — local_index.py:18-223); at 100 TB
  * it is NOT how the corpus is queried, but it IS how a production
  * deployment serves single-query low latency: Spark builds/maintains
  * the index (VectorIndex, IvfIndex), and a serving process loads a
  * bounded SHARD of it into local memory where a top-k is a few
  * hundred microseconds of arithmetic instead of a scheduled job.
  * `maxLocalItems` enforces the boundedness loudly — an oversized
  * index belongs on the Spark path (VectorServing / ann_brute_batch /
  * s_ann_serve), never silently collected.
  *
  * Semantics are pinned to the cold oracle-checked queries
  * (ServingSpec): scores accumulate left-to-right in double exactly
  * like the codegen'd dot-product kernel, ties break by ascending id,
  * and metadata filters evaluate with MetaFilter.matches (same
  * outcomes as the compiled Column predicates), their field names
  * resolved as the index's session resolves columns
  * (`spark.sql.caseSensitive` at load time).
  */
final class LocalVectorServing private (
    schema: StructType,
    rows: Array[Row],           // sorted by id ascending
    vecs: Array[Array[Double]],
    norms: Array[Double],
    idIdx: Int,
    resolver: (String, String) => Boolean) {

  private val fieldOf: Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  // a filter field's column position, -1 when no column resolves
  private def fieldAt(f: String): Int =
    fieldOf.getOrElse(f, schema.fieldNames.indexWhere(resolver(_, f)))

  private def getter(r: Row): String => Any = { f =>
    val i = fieldAt(f)
    if (i < 0 || r.isNullAt(i)) null else r.get(i)
  }

  /** Number of items in the snapshot. */
  def size: Int = rows.length

  /** Top-k cosine over the snapshot: (row, score) by score desc,
    * id asc — exactly VectorIndex.queryItems' ordering.
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Seq[(Row, Double)] = {
    val q = query.toArray
    var qn = 0.0
    var qi = 0
    while (qi < q.length) { qn += q(qi) * q(qi); qi += 1 }
    qn = math.sqrt(qn)
    if (k <= 0) return Nil
    // the k best (score, pos); pos ascending = id ascending (rows are
    // id-sorted), so the buffer's id tie-break is the id order
    val heap = new TopKBuffer(k)
    var p = 0
    while (p < rows.length) {
      if (filter.forall(MetaFilter.matches(_, getter(rows(p))))) {
        val v = vecs(p)
        var dot = 0.0
        val n = math.min(v.length, q.length)
        var i = 0
        while (i < n) { dot += v(i) * q(i); i += 1 }
        val denom = norms(p) * qn
        heap.insert(if (denom == 0.0) 0.0 else dot / denom, p)
      }
      p += 1
    }
    heap.sorted.map { case (s, pos) => (rows(pos.toInt), s) }
  }

  /** All rows matching the filter, id ascending. */
  def listItemsByMetadata(filter: MetaFilter): Seq[Row] =
    rows.iterator.filter(r => MetaFilter.matches(filter, getter(r))).toSeq

  /** Point lookup by id value: two integral numbers compare exactly,
    * any other pair of numbers as doubles.
    */
  def getItem(id: Any): Option[Row] = {
    def integral(a: Any): Option[Long] = a match {
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
        Some(n.asInstanceOf[Number].longValue())
      case _ => None
    }
    def num(a: Any): Option[Double] = a match {
      case n: java.lang.Number => Some(n.doubleValue()); case _ => None
    }
    rows.find { r =>
      val a = if (r.isNullAt(idIdx)) null else r.get(idIdx)
      (integral(a), integral(id)) match {
        case (Some(x), Some(y)) => x == y
        case _ => (num(a), num(id)) match {
          case (Some(x), Some(y)) => x == y
          case _                  => a == id
        }
      }
    }
  }
}

object LocalVectorServing {

  /** Default shard bound: 1M items × 64 dims × 8 B ≈ 0.5 GB of
    * vectors — a comfortable single-process serving shard. Raise it
    * deliberately, never implicitly.
    */
  val DefaultMaxLocalItems: Int = 1 << 20

  /** Snapshot a (bounded) VectorIndex into driver memory. Two driver
    * jobs at load time (count guard + collect), zero jobs per query.
    */
  def load(index: VectorIndex,
      maxLocalItems: Int = DefaultMaxLocalItems): LocalVectorServing = {
    val n = index.items.count()
    require(n <= maxLocalItems,
      s"LocalVectorServing: index has $n items > maxLocalItems=$maxLocalItems " +
        "— an index this size belongs on the Spark serving path (VectorServing, " +
        "DocumentIndex.queryDocuments, ann_brute_batch, s_ann_serve), " +
        "or snapshot a bounded part of it")
    val rows = index.items.orderBy(col(index.idCol)).collect()
    val schema = index.items.schema
    val vecIdx = schema.fieldIndex(index.vecCol)
    val idIdx = schema.fieldIndex(index.idCol)
    val vecs = rows.map { r =>
      if (r.isNullAt(vecIdx)) Array.empty[Double]
      else r.getSeq[Number](vecIdx).map(_.doubleValue()).toArray
    }
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    new LocalVectorServing(schema, rows, vecs, norms, idIdx,
      index.items.sparkSession.sessionState.conf.resolver)
  }
}
