package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the asymmetric 1-bit ADC fold
  * (BinaryQuantizer.asymmetricDistance): one tree node with a primitive
  * loop over packed sign words, replacing the dim-term CASE chain — the
  * same Catalyst-tree-walk collapse as [[SqReconDistance]], same measured
  * motivation. Per dimension the two possible squared
  * residuals (query − level)² are driver-side constants; the row
  * contributes `bit ? b2(i) : a2(i)`, bits read LSB-first from
  * `packed(i/64) >> (i%64)`, terms summed in index order — bit-identical
  * to the chain on every VALID packed row (QuantizerSpec law).
  *
  * Input contract: `packed` rows come from BinaryQuantizer.encode, which
  * always emits ceil(dim/64) non-null words. A null array is null here
  * (nullSafeEval) — the chain's CASE quirk would have summed the a2
  * constants for impossible null inputs; this node chooses the sane
  * semantic for a row shape the encoder cannot produce. A short array
  * nulls the result for the same reason.
  */
case class BitLevelDistance(
    child: Expression, a2: Array[Double], b2: Array[Double])
    extends UnaryExpression with ImplicitCastInputTypes {

  require(a2.length == b2.length && a2.nonEmpty,
    s"level arrays disagree: ${a2.length}/${b2.length}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "bit_level_distance"
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(LongType))

  override protected def withNewChildInternal(newChild: Expression): BitLevelDistance =
    copy(child = newChild)

  private def words: Int = (a2.length + 63) / 64

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() < words) return null
    var acc = 0.0
    var i = 0
    while (i < a2.length) {
      if (x.isNullAt(i / 64)) return null
      val bit = (x.getLong(i / 64) >>> (i % 64)) & 1L
      acc += (if (bit == 1L) b2(i) else a2(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val dim = a2.length
      val aRef = ctx.addReferenceObj("asymA2", a2, "double[]")
      val bRef = ctx.addReferenceObj("asymB2", b2, "double[]")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("bad")
      s"""boolean $bad = $a.numElements() < $words;
         |double $acc = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i / 64)) { $bad = true; break; }
         |    long bit = ($a.getLong($i / 64) >>> ($i % 64)) & 1L;
         |    $acc += (bit == 1L) ? $bRef[$i] : $aRef[$i];
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |""".stripMargin
    })
}
