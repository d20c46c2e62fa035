package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/**
 * Zipf-rank pick for the deterministic generator as a native codegen
 * Expression: `pick(h, cdf)` — uniform-in-[0,1) from the hash's top 53
 * bits, then a BINARY SEARCH over the precomputed CDF. The pure-
 * Column formulation (`size(filter(cdfArr, c => c < u))`) evaluates the
 * predicate for EVERY CDF entry per row and, because Catalyst does not CSE
 * across lambda boundaries, recomputes `u` inside each of those
 * evaluations — O(nRepos) work per row (≈500 lambda evals at the bench
 * spec) against this expression's O(log nRepos); measured 6× slower
 * end-to-end on an 8M-row generate at the bench shape. The CDF rides the
 * plan via `addReferenceObj` (no executor static state), same as
 * ContentGen's word list.
 */
case class ZipfPick(child: Expression, cdf: Seq[Double])
    extends UnaryExpression {

  @transient private lazy val cdfArr: Array[Double] = cdf.toArray

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires bigint, got ${other.catalogString}")
    }

  override def nullSafeEval(h: Any): Any =
    ZipfPick.pick(h.asInstanceOf[Long], cdfArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cdfRef = ctx.addReferenceObj("graftZipfCdf", cdfArr, "double[]")
    defineCodeGen(ctx, ev, h =>
      s"graft.functions.ZipfPick.pick($h, $cdfRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): ZipfPick =
    copy(child = newChild)

  override def prettyName: String = "graft_zipf_pick"
}

object ZipfPick {

  /** Uniform double in [0, 1) from a hash's top 53 bits. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** The Zipf rank of hash `h`: the row-at-a-time oracle
    * (ChangeLogGen.eventAt) and this expression both call it, so their
    * rank selection is bit-identical by construction (GeneratorParitySpec
    * stays as the backstop). */
  def pick(h: Long, cdf: Array[Double]): Int = {
    val u = unit(h)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(cdf.length - 1, -i - 1)
  }

  def zipfPick(h: Column, cdf: Seq[Double]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      ZipfPick(org.apache.spark.sql.GraftSqlBridge.expression(h), cdf))
}
