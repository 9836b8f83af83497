package graft

import graft.functions.DetLog
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native `det_ln` expression behind [[DetLog.lnInt]]: bit parity
  * with the retired Column rendering ([[DetLogColumnRef]]) on every
  * input that rendering accepts, a plan that stays a handful of nodes,
  * and resolution in a session started after another one stopped.
  */
class DetLogSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** 0, ±1, 2^k - 1, 2^k, 2^k + 1 for every k, the long extremes and 200
    * random longs of either sign.
    */
  private val longs: Seq[Long] = {
    val r = new scala.util.Random(11)
    (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, Long.MinValue + 1) ++
      (1 to 62).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1)) ++
      Seq.fill(200)(r.nextLong())).distinct
  }

  /** (m, det_ln(m), reference(m)) over a frame of `m` of type `t`, with
    * the projection evaluated in whole-stage codegen (a parallelized
    * frame is not folded into a local relation) and interpreted.
    */
  private def both(ms: Seq[Any], t: DataType): Seq[(Row, String)] = {
    val schema = StructType(Seq(StructField("m", t)))
    val rows = ms.map(Row(_))
    def eval(df: DataFrame, how: String) = df
      .select(col("m"), DetLog.lnInt(col("m")).as("got"),
        DetLogColumnRef.lnInt(col("m")).as("ref"))
      .collect().toSeq.map(_ -> how)
    eval(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      schema), "codegen") ++
      eval(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema), "interpreted")
  }

  test("det_ln is bit-identical to the Column rendering on longs") {
    val got = both(longs, LongType)
    assert(got.size === 2 * longs.size)
    got.foreach { case (r, how) =>
      assert(bits(r.getDouble(1)) === bits(r.getDouble(2)),
        s"$how m=${r.getLong(0)}")
    }
  }

  test("det_ln matches lnIntRef and ~ln on positive longs") {
    both(longs.filter(_ >= 1), LongType).foreach { case (r, how) =>
      val m = r.getLong(0)
      assert(bits(r.getDouble(1)) === bits(DetLog.lnIntRef(m)), s"$how m=$m")
      assert(math.abs(r.getDouble(1) - math.log(m.toDouble)) < 2e-9,
        s"$how m=$m")
    }
  }

  test("det_ln sign-extends int input and keeps null as null") {
    val ints = Seq[Any](0, 1, -1, 7, 1 << 20, Int.MaxValue, Int.MinValue,
      null)
    both(ints, IntegerType).foreach { case (r, how) =>
      if (r.isNullAt(0)) {
        assert(r.isNullAt(1) && r.isNullAt(2), how)
      } else {
        assert(bits(r.getDouble(1)) === bits(r.getDouble(2)),
          s"$how m=${r.getInt(0)}")
        assert(bits(r.getDouble(1)) ===
          bits(graft.functions.DetLnKernel.lnInt(r.getInt(0).toLong)))
      }
    }
    val nullLong = both(Seq(null, 5L), LongType)
    assert(nullLong.count { case (r, _) => r.isNullAt(1) } === 2)
  }

  test("det_ln rejects a non-integral input instead of rounding it") {
    val df = spark.range(1).select(lit(2.5).as("x"))
    val e = intercept[AnalysisException](
      df.select(DetLog.lnInt(col("x"))).collect())
    assert(e.getMessage.contains("det_ln"))
  }

  test("an optimized floor(lnRatio(a, b) * 2^20) is at most 10 nodes") {
    // a checkpointed frame keeps the projection (a local relation would
    // fold it away)
    val ab = spark.range(1, 50).select(col("id").as("a"),
      (col("id") * 3 + 1).as("b")).localCheckpoint()
    val q = ab.select(floor(DetLog.lnRatio(col("a"), col("b")) *
      graft.text.Vocabulary.LnScale).cast("long").as("fp"))
    val nodes = q.queryExecution.optimizedPlan.collect {
      case p: Project => p.projectList.map(_.collect { case e => e }.size).sum
    }.sum
    assert(nodes > 0 && nodes <= 10, s"$nodes expression nodes")
    assert(q.collect().map(_.getLong(0)).toSeq === (1L until 50L).map(a =>
      math.floor(DetLog.lnRatioRef(a, a * 3 + 1) *
        graft.text.Vocabulary.LnScale).toLong))
  }

  // stops the shared session: keep this case last in the suite
  test("DetLog.lnInt resolves in a new session after a stop") {
    spark.stop()
    val fresh = SparkSpec.session
    assert(!fresh.sparkContext.isStopped)
    val got = fresh.range(1, 20).select(DetLog.lnInt(col("id")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got.map(bits) === (1L until 20L).map(m => bits(DetLog.lnIntRef(m))))
  }
}
