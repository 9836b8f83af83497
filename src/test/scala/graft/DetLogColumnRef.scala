package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The retired Column-expression rendering of [[graft.functions.DetLog]],
  * kept as the parity reference for the native `det_ln` kernel: the
  * exponent is the bit length of `m` minus one (`bin` renders without
  * leading zeros), the power of two an exact integer shift, then the
  * same artanh series in the same order.
  */
object DetLogColumnRef {

  private val Ln2 = graft.functions.DetLog.Ln2
  private val (c3, c5, c7, c9, c11, c13, c15) = (1.0 / 3.0, 1.0 / 5.0,
    1.0 / 7.0, 1.0 / 9.0, 1.0 / 11.0, 1.0 / 13.0, 1.0 / 15.0)

  private def kBits(m: Column): Column =
    (length(bin(m)) - 1).cast("int")

  private def p2Bits(m: Column): Column =
    call_function("shiftleft", lit(1L), kBits(m)).cast("double")

  private def horner(t2: Column): Column =
    lit(1.0) + t2 * (lit(c3) + t2 * (lit(c5) + t2 * (lit(c7) +
      t2 * (lit(c9) + t2 * (lit(c11) + t2 * (lit(c13) + t2 * lit(c15)))))))

  def lnInt(m: Column): Column = {
    val r = m.cast("double") / p2Bits(m)
    val t = (r - lit(1.0)) / (r + lit(1.0))
    val t2 = t * t
    kBits(m).cast("double") * lit(Ln2) + lit(2.0) * (t * horner(t2))
  }

  def lnRatio(a: Column, b: Column): Column = lnInt(a) - lnInt(b)
}
