package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Cross-engine-DETERMINISTIC natural log of positive integer-valued
  * columns.
  *
  * libm `ln()` is only faithfully rounded — JVM `Math.log` and a SQL
  * engine's `ln` may disagree in the last ulp, and a fixed-point
  * `floor(x * 2^20)` snap can amplify that ulp into a flipped integer
  * (the latent cross-engine flake flagged on the BM25 scorer). This
  * helper removes libm from BOTH plans: range-reduce `m = 2^k * r`
  * with an exact integer `k = floor(log2 m)` and an exact power-of-two
  * double, then `ln(r)` for `r in [1,2)` via the odd artanh series on
  * `t = (r-1)/(r+1) in [0, 1/3]` — Horner to `t^15`, absolute error
  * under 1e-9. Every operation involved is a correctly-rounded
  * IEEE-754 `+ - * /` or a decimal-literal parse, both of which every
  * engine rounds identically, so the two renderings below produce
  * bit-identical doubles by construction:
  *  - [[DetLnKernel]], the one JVM implementation, behind the native
  *    Catalyst expression [[DetLn]] (`det_ln`, one static call per
  *    row) and the driver-side [[lnIntRef]];
  *  - the DuckDB SQL rendering ([[lnCtes]], [[lnRatioCtes]]), the
  *    independent reference the oracles replay.
  * There is no Column-expression rendering: a Column tree of this
  * arithmetic is ~450 nodes that Catalyst inlines at every reference.
  * The approximation — not libm ln — IS the engine's log definition
  * for ranking scores; it is strictly increasing in `m`, so orderings
  * keep BM25/TF-IDF qualitative behaviour.
  *
  * Rational arguments: `ln(a/b) = lnInt(a) - lnInt(b)`; the BM25 idf
  * argument `(N - df + 0.5) / (df + 0.5)` is `(2N-2df+1) / (2df+1)`,
  * a ratio of integers.
  */
object DetLog {

  /** Nearest double to ln 2 (hardcoded shortest repr — parsing it is
    * deterministic where `Math.log(2)` is not guaranteed to be).
    */
  val Ln2Str = "0.6931471805599453"
  val Ln2: Double = Ln2Str.toDouble

  /** 1/3, 1/5, ... 1/15 — exact IEEE divisions; emitted to SQL via
    * shortest-round-trip `toString`, which parses back to the same
    * double in any correctly-rounded reader.
    */
  private[functions] val C3 = 1.0 / 3.0
  private[functions] val C5 = 1.0 / 5.0
  private[functions] val C7 = 1.0 / 7.0
  private[functions] val C9 = 1.0 / 9.0
  private[functions] val C11 = 1.0 / 11.0
  private[functions] val C13 = 1.0 / 13.0
  private[functions] val C15 = 1.0 / 15.0

  /** Ladder exponents, high to low; covers every positive Long. */
  private val Ks: Seq[Int] = 62 to 1 by -1

  // ---- Catalyst rendering: the native det_ln expression ------------------

  /** Deterministic ln of a positive integer-valued (integral) column:
    * `det_ln`, registered on the active session first.
    */
  def lnInt(m: Column): Column = GraftFunctions.detLn(SparkSession.active, m)

  /** Deterministic ln(a/b) for positive integer-valued columns. */
  def lnRatio(a: Column, b: Column): Column = lnInt(a) - lnInt(b)

  // ---- SQL rendering (DuckDB-portable; same arithmetic DAG) -------------

  def kSql(m: String): String =
    "CASE " + Ks.map(j => s"WHEN $m >= ${1L << j} THEN $j")
      .mkString(" ") + " ELSE 0 END"

  /** Power-of-two literals emitted as the double's own shortest
    * round-trip repr: exponent-form literals are DOUBLE in DuckDB
    * (skipping DECIMAL entirely), and shortest-repr parse is exact.
    */
  def p2Sql(m: String): String =
    "CASE " + Ks.map(j =>
      s"WHEN $m >= ${1L << j} THEN ${(1L << j).toDouble.toString}")
      .mkString(" ") + " ELSE 1.0 END"

  /** Non-exact coefficients as CAST('…' AS DOUBLE): a bare 16-digit
    * literal like 0.3333333333333333 types as DECIMAL(17,16) in DuckDB,
    * and the bit-identity claim would then rest on the oracle engine's
    * DECIMAL→DOUBLE cast rounding — an implementation detail. A quoted
    * string→double parse is the correctly-rounded shortest-repr route,
    * the same guarantee the Scala side gets from `"0.69…".toDouble`.
    */
  private def dlit(d: Double): String = s"CAST('${d.toString}' AS DOUBLE)"

  def hornerSql(t2: String): String =
    s"1.0 + $t2 * (${dlit(C3)} + $t2 * (${dlit(C5)} + $t2 * (${dlit(C7)} " +
      s"+ $t2 * (${dlit(C9)} + $t2 * (${dlit(C11)} + $t2 * (${dlit(C13)} " +
      s"+ $t2 * ${dlit(C15)}))))))"

  private def finishSql(k: String, t: String, t2: String): String =
    s"CAST($k AS DOUBLE) * CAST('$Ln2Str' AS DOUBLE) + " +
      s"2.0 * ($t * (${hornerSql(t2)}))"

  /** CTE chain computing `outCol = lnInt(aExpr) - lnInt(bExpr)` over
    * `srcFrom` (a FROM fragment), carrying `carry` columns through.
    * The final CTE is named `prefix`. Staged so the big ladders and
    * the t/t2 subtrees are evaluated once per row, mirroring the
    * kernel's arithmetic exactly.
    */
  def lnRatioCtes(prefix: String, srcFrom: String, aExpr: String,
      bExpr: String, outCol: String, carry: Seq[String]): String = {
    val cs = if (carry.isEmpty) "" else carry.mkString(", ") + ", "
    s"""${prefix}_m AS (SELECT $cs$aExpr AS __ma, $bExpr AS __mb
       |  FROM $srcFrom),
       |${prefix}_r AS (SELECT $cs${kSql("__ma")} AS __ka,
       |    CAST(__ma AS DOUBLE) / (${p2Sql("__ma")}) AS __ra,
       |    ${kSql("__mb")} AS __kb,
       |    CAST(__mb AS DOUBLE) / (${p2Sql("__mb")}) AS __rb
       |  FROM ${prefix}_m),
       |${prefix}_t AS (SELECT $cs${"__ka, __kb"},
       |    (__ra - 1.0) / (__ra + 1.0) AS __ta,
       |    (__rb - 1.0) / (__rb + 1.0) AS __tb
       |  FROM ${prefix}_r),
       |${prefix}_t2 AS (SELECT $cs${"__ka, __kb"}, __ta, __tb,
       |    __ta * __ta AS __ta2, __tb * __tb AS __tb2
       |  FROM ${prefix}_t),
       |$prefix AS (SELECT $cs(${finishSql("__ka", "__ta", "__ta2")})
       |    - (${finishSql("__kb", "__tb", "__tb2")}) AS $outCol
       |  FROM ${prefix}_t2)""".stripMargin
  }

  /** CTE chain computing `outCol = lnInt(mExpr)` over `srcFrom`,
    * carrying `carry` columns; final CTE named `prefix`.
    */
  def lnCtes(prefix: String, srcFrom: String, mExpr: String,
      outCol: String, carry: Seq[String]): String = {
    val cs = if (carry.isEmpty) "" else carry.mkString(", ") + ", "
    s"""${prefix}_m AS (SELECT $cs$mExpr AS __m FROM $srcFrom),
       |${prefix}_r AS (SELECT $cs${kSql("__m")} AS __k,
       |    CAST(__m AS DOUBLE) / (${p2Sql("__m")}) AS __r
       |  FROM ${prefix}_m),
       |${prefix}_t AS (SELECT $cs${"__k"}, (__r - 1.0) / (__r + 1.0) AS __t
       |  FROM ${prefix}_r),
       |${prefix}_t2 AS (SELECT $cs${"__k"}, __t, __t * __t AS __t2
       |  FROM ${prefix}_t),
       |$prefix AS (SELECT $cs${finishSql("__k", "__t", "__t2")} AS $outCol
       |  FROM ${prefix}_t2)""".stripMargin
  }

  // ---- Plain-Scala reference (driver use and specs) ---------------------

  def lnIntRef(m: Long): Double = {
    require(m >= 1, s"lnIntRef needs a positive integer, got $m")
    DetLnKernel.lnInt(m)
  }

  def lnRatioRef(a: Long, b: Long): Double = lnIntRef(a) - lnIntRef(b)
}

/** The JVM arithmetic of [[DetLog]], shared by [[DetLn]]'s interpreted
  * and generated paths and by [[DetLog.lnIntRef]]. Defined for every
  * long: `k` is the bit length of `m` minus one (0 for `m = 0`, 63 for
  * a negative `m`), `r = m / 2^k`, then the artanh series.
  */
object DetLnKernel {
  import DetLog.{C3, C5, C7, C9, C11, C13, C15, Ln2}

  def lnInt(m: Long): Double = {
    val k = if (m == 0L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(m)
    val r = m.toDouble / (1L << k).toDouble
    val t = (r - 1.0) / (r + 1.0)
    val t2 = t * t
    val h = 1.0 + t2 * (C3 + t2 * (C5 + t2 * (C7 + t2 * (C9 +
      t2 * (C11 + t2 * (C13 + t2 * C15))))))
    k.toDouble * Ln2 + 2.0 * (t * h)
  }
}

/** Native Catalyst expression `det_ln(m)` → double: [[DetLnKernel]] on
  * an integral input (`byte`/`short`/`int` sign-extend to `long`; any
  * other type is rejected, never rounded). Codegen is one static call,
  * so a log is one plan node instead of an inlined arithmetic tree.
  */
case class DetLn(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an integral input, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "det_ln"

  override def nullSafeEval(m: Any): Any =
    DetLnKernel.lnInt(m.asInstanceOf[Number].longValue)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.functions.DetLnKernel.lnInt((long) $m)")

  override protected def withNewChildInternal(newChild: Expression): DetLn =
    copy(child = newChild)
}
