package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over a shingle array: component j is the
  * minimum, over shingles, of md5-hex characters [4j, 4j+4) — one md5 per
  * shingle serves all components (md5 bits are independent, so disjoint
  * slices act as independent hash functions).
  *
  * Value-identical to exploding shingles and taking
  * `min(substring(md5(sh), 1+4j, 4))` per doc — lexicographic order on
  * fixed-width lowercase hex equals numeric order on the 16-bit nibble
  * value, so the mins are tracked as numbers and formatted once at the end —
  * but computed per row: the rows × shingles explode and its groupBy
  * shuffle disappear; only per-doc band keys ever reach an exchange. The
  * per-shingle min update is [[MinHashFamily.Md5Hex]]'s, the same one
  * `minhash_bands` runs over byte ranges of the text.
  */
case class MinHashSig(child: Expression, hashes: Int) extends UnaryExpression {
  require(hashes >= 1 && hashes * 4 <= 32, "md5 slicing supports at most 8 components")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $t")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashMath.signature(input.asInstanceOf[ArrayData], hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = s"graft.expressions.MinHashMath$$.MODULE$$.signature"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $f($c, $hashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashMath {
  /** Null for an empty shingle array (no shingles → no signature). */
  def signature(shingles: ArrayData, hashes: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val mins = Array.fill(hashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val bytes = shingles.getUTF8String(i).getBytes
        MinHashFamily.Md5Hex.update(bytes, 0, bytes.length, mins)
      }
      i += 1
    }
    if (mins(0) == Long.MaxValue) return null // all-null shingles
    val out = new Array[Any](hashes)
    var j = 0
    while (j < hashes) {
      out(j) = UTF8String.fromString(f"${mins(j)}%04x")
      j += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashSig {
  def of(shingles: Column, hashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(MinHashSig(
      org.apache.spark.sql.graft.Bridge.expression(shingles), hashes))
}
