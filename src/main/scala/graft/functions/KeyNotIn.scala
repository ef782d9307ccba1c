package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructType}

/** Runtime half of [[KeyNotIn]]: a batch's merge keys as Catalyst
  * values, hashed once on the driver. Null keys are left out — a null
  * key never equals a target key, under SQL or under the anti-join this
  * replaces. Equality is the values' own `equals` (`UTF8String` bytes,
  * boxed primitives), so a key type must be atomic and not binary.
  */
final class KeySet(keys: ArrayData, val keyType: DataType) extends Serializable {
  require(keyType match {
    case BinaryType | _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }, s"key_not_in keys must be of an atomic, non-binary type, not $keyType")

  private val set: java.util.HashSet[Any] = {
    val s = new java.util.HashSet[Any](math.max(16, keys.numElements() * 2))
    keys.foreach(keyType, (_, v) => if (v != null) s.add(v))
    s
  }

  def contains(v: Any): Boolean = set.contains(v)
  def size: Int = set.size
}

/** `key_not_in(key, keys)`: true where `key` is null or is not one of
  * `keys` — the rows of a merge target that survive a batch which
  * replaces or deletes every key it carries
  * ([[graft.sink.Merge.applyBatch]]). The key array arrives as one
  * foldable typed literal and is folded into ONE [[KeySet]] reference
  * object at resolution, so the plan, its string and the generated code
  * are O(1) in the key count: the generated code is a
  * `HashSet.contains`, and the plan prints `pk NOT IN <n keys>`. Spark's
  * own `NOT IN` / `isInCollection` form prints and plans every key and
  * drops null keys, which an anti-join keeps.
  *
  * Not null-intolerant: the optimizer must not infer `isnotnull(key)`
  * from this filter, since a null key survives it.
  */
case class KeyNotIn(child: Expression, keys: KeySet)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = false
  override def prettyName: String = "key_not_in"
  override def toString: String = s"$child NOT IN <${keys.size} keys>"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == keys.keyType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"key_not_in: key of type ${child.dataType} against keys of type ${keys.keyType}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v == null || !keys.contains(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("keySet", keys, classOf[KeySet].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} || !$setRef.contains(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): KeyNotIn =
    copy(child = newChild)
}
