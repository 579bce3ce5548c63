package graft.functions.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType

/** Its input vector, which must be non-null and hold exactly `length`
  * elements; any other row is an `IllegalArgumentException` naming
  * `who`. Guards a kernel whose result would otherwise be silently
  * wrong on such a row (a partial distance, or a null that sorts first).
  */
case class VectorLengthCheck(child: Expression, length: Int, who: String)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "vector_length_check"
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null)
      throw new IllegalArgumentException(s"$who: a null vector; every vector needs $length elements")
    val n = v.asInstanceOf[ArrayData].numElements()
    if (n != length)
      throw new IllegalArgumentException(s"$who: a vector of $n elements; every vector needs $length")
    v
  }

  override protected def withNewChildInternal(newChild: Expression): VectorLengthCheck =
    copy(child = newChild)
}
