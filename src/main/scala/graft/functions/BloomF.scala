package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native membership probe against a pre-built Bloom filter — the
  * runtime-filter building block for the two-phase pattern 100 TB
  * decontamination needs: an eval-set key index too large to broadcast as
  * keys still fits as FILTER BITS (~10 bits/key at 1% fpp vs 64-bit keys
  * plus hash-set overhead), so a scan-side bloom probe drops the ~99% of
  * corpus rows that cannot match before any shuffle, and an exact join on
  * the survivors removes the false positives. Result ≡ the exact
  * semi-join; only the data movement changes.
  *
  * The filter is Spark's own `util.sketch.BloomFilter` (public API), built
  * distributed via `DataFrameStatFunctions.bloomFilter`, serialized into
  * the expression, and deserialized once per executor (`@transient lazy`).
  * Codegen binds the deserialized filter as a reference object — one
  * virtual call per row inside whole-stage codegen, the same shape Spark's
  * internal runtime bloom filters generate.
  */
case class BloomMightContainF(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects bigint, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    bf.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloomFilter", bf, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$bfRef.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomMightContainF {
  def apply(c: Column, bf: BloomFilter): Column = {
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    ColumnBridge.toColumn(BloomMightContainF(ColumnBridge.toExpr(c), bytes))
  }
}
