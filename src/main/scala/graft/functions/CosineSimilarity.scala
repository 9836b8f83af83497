package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * embedding columns, with whole-stage codegen (`doGenCode` emits a
  * primitive loop over the columnar ArrayData — no boxing, no UDF SerDe).
  * This is the preferred rendering for hot vector math per the engine's
  * extension ladder: built-in functions → native Expression → UDF.
  *
  * Accumulation order matches [[graft.similarity.VectorFunctions.cosine]]
  * and the DuckDB oracle's sequential list_reduce exactly (left-to-right
  * double adds), so results are bit-identical across all three renderings.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.getFloat($i);
         |  double y = (double) $b.getFloat($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot /
         |  (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration plumbing for the engine's native functions. */
object GraftFunctions {

  private def native(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): (FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == arity, s"$name expects exactly $arity " +
        (if (arity == 1) "argument" else "arguments"))
      build(children)
    })

  /** Every native function: name, expression class, arity, builder. */
  private[functions] val natives = Seq(
    native("shingles_k", classOf[Shingles], 2)(c => Shingles(c(0), c(1))),
    native("cosine_sim", classOf[CosineSimilarity], 2)(
      c => CosineSimilarity(c(0), c(1))),
    native("repetition_stats", classOf[RepetitionStats], 1)(
      c => RepetitionStats(c(0))),
    native("minhash_band_keys", classOf[MinHashBandKeys], 1)(
      c => MinHashBandKeys(c(0))),
    native("oneperm_band_keys", classOf[OnePermBandKeys], 1)(
      c => OnePermBandKeys(c(0))),
    native("char_ngrams", classOf[CharNgrams], 2)(
      c => CharNgrams(c(0), c(1))),
    native("word_ngrams", classOf[WordNgrams], 2)(
      c => WordNgrams(c(0), c(1))),
    native("det_ln", classOf[DetLn], 1)(c => DetLn(c(0))))

  /** Register on an existing session (idempotent). */
  def register(spark: SparkSession): Unit = natives.foreach {
    case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
  }

  /** `name(args…)` after registering the natives on `spark`. */
  private def call(spark: SparkSession, name: String, args: Column*)
      : Column = {
    register(spark)
    org.apache.spark.sql.functions.call_udf(name, args: _*)
  }

  /** Column-level accessor for [[WordNgrams]]. */
  def wordNgrams(spark: SparkSession, text: Column, n: Int): Column =
    call(spark, "word_ngrams", text, org.apache.spark.sql.functions.lit(n))

  /** Column-level accessor for [[CharNgrams]]. */
  def charNgrams(spark: SparkSession, text: Column, n: Int): Column =
    call(spark, "char_ngrams", text, org.apache.spark.sql.functions.lit(n))

  /** Column-level accessor (registers on the session first). */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "cosine_sim", a, b)

  /** Column-level accessor for [[RepetitionStats]]. */
  def repetitionStats(spark: SparkSession, toks: Column): Column =
    call(spark, "repetition_stats", toks)

  /** Column-level accessor for [[OnePermBandKeys]]. */
  def onePermBandKeys(spark: SparkSession, shingles: Column): Column =
    call(spark, "oneperm_band_keys", shingles)

  /** Column-level accessor for [[MinHashBandKeys]]. */
  def minHashBandKeys(spark: SparkSession, shingles: Column): Column =
    call(spark, "minhash_band_keys", shingles)

  /** Column-level accessor for [[Shingles]]. */
  def shinglesK(spark: SparkSession, text: Column, k: Int): Column =
    call(spark, "shingles_k", text, org.apache.spark.sql.functions.lit(k))

  /** Column-level accessor for [[DetLn]]. */
  def detLn(spark: SparkSession, m: Column): Column =
    call(spark, "det_ln", m)
}

/** `spark.sql.extensions`-style injection of every native function
  * (`.config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")`).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach(ext.injectFunction)
}
