package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native cosine similarity over two float-vector columns.
  *
  * The composable form (`zip_with` + `aggregate`, graft.similarity
  * .Similarity.cosine) materializes an intermediate array per row and
  * walks three higher-order expressions; this Expression runs one
  * tight fused loop ([[CosineSimilarity.compute]]: dot + both norms in
  * a single pass, no allocation), which matters when ANN re-ranking
  * scores millions of candidate pairs per executor. Semantics are
  * identical bit-for-bit: same left-to-right double accumulation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> columns, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.CosineSimilarity.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The one eval kernel, shared by the interpreted and the generated
    * path: dot + both norms in one left-to-right double pass over the
    * common prefix. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Column-DSL handle: resolves through the session's function
    * registry (GraftExtensions installs `cosine_sim` in every
    * graft.Sessions session). */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
}

/** Session extensions: expose engine expressions to the SQL surface
  * (SELECT cosine_sim(a, b) ...). Installed via
  * spark.sql.extensions=graft.plans.GraftExtensions (graft.Sessions
  * does this for every entry point). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("top_bigram_frac"),
      new ExpressionInfo(classOf[TopBigramFraction].getName, "top_bigram_frac"),
      (children: Seq[Expression]) => TopBigramFraction(children.head)))
    ext.injectFunction((
      FunctionIdentifier("word_stats"),
      new ExpressionInfo(classOf[WordStats].getName, "word_stats"),
      (children: Seq[Expression]) => WordStats(children.head)))
    ext.injectFunction((
      FunctionIdentifier("jpeg_dims"),
      new ExpressionInfo(classOf[JpegDims].getName, "jpeg_dims"),
      (children: Seq[Expression]) => JpegDims(children.head)))
    ext.injectFunction((
      FunctionIdentifier("mp3_meta"),
      new ExpressionInfo(classOf[Mp3Meta].getName, "mp3_meta"),
      (children: Seq[Expression]) => Mp3Meta(children.head)))
    ext.injectFunction((
      FunctionIdentifier("webp_dims"),
      new ExpressionInfo(classOf[WebpDims].getName, "webp_dims"),
      (children: Seq[Expression]) => WebpDims(children.head)))
    ext.injectFunction((
      FunctionIdentifier("mp4_dims"),
      new ExpressionInfo(classOf[Mp4Dims].getName, "mp4_dims"),
      (children: Seq[Expression]) => Mp4Dims(children.head)))
    ext.injectFunction((
      FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (children: Seq[Expression]) => DeflateRatio(children.head)))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => PqEncode.fromChildren(children)))
    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (children: Seq[Expression]) => PqAdc.fromChildren(children)))
    ext.injectFunction((
      FunctionIdentifier("pq_adc_table"),
      new ExpressionInfo(classOf[PqAdcTable].getName, "pq_adc_table"),
      (children: Seq[Expression]) => PqAdcTable.fromChildren(children)))
    ext.injectFunction((
      FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => BpeEncode.fromChildren(children)))
  }
}
