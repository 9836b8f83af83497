package graft

import graft.streaming.StreamFlow
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The split-and-drain harness every streamed fold runs on
  * (streaming/StreamFlow.scala): a bounded frame becomes `n` key-range
  * micro-batches, each handed to the fold in key order with the
  * frame's own schema.
  */
class StreamFlowSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("n", IntegerType),
    StructField("v", ArrayType(FloatType))))

  /** Keys 10..39 with gaps, an int payload, an array<float> payload and
    * two null-key rows.
    */
  private lazy val input: DataFrame = {
    val rows = (10L until 40L).filter(_ % 7 != 3).map { k =>
      Row(k, (k * 3).toInt, Seq(k.toFloat, -k.toFloat / 2))
    } ++ Seq(Row(null, 1, Seq(0.5f)), Row(null, 2, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private case class Batch(id: Long, schema: StructType, rows: Seq[Row])

  private def drained(df: DataFrame, n: Int): Seq[Batch] = {
    val dir = java.nio.file.Files.createTempDirectory("stream-flow")
      .toString + "/splits"
    val got = scala.collection.mutable.ArrayBuffer.empty[Batch]
    val src = StreamFlow.splitSource(df, "k", n, dir).stream
    StreamFlow.drain(src) { (b, id) =>
      got += Batch(id, b.schema, b.collect().toSeq)
    }
    got.toSeq
  }

  private def canon(rows: Seq[Row]): Seq[(Long, Int, List[Float])] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toList))
      .sortBy(_._1)

  private lazy val threeBatches = drained(input, 3)

  test("the drain hands the fold exactly n batches, in key order") {
    assert(threeBatches.map(_.id) == Seq(0L, 1L, 2L))
    val keys = threeBatches.map(_.rows.map(_.getLong(0)))
    assert(keys.forall(_.nonEmpty))
    keys.sliding(2).foreach { case Seq(a, b) => assert(a.max < b.min) }
    assert(drained(input, 1).map(_.id) == Seq(0L))
  }

  test("the batches' union is the input minus its null-key rows") {
    assert(canon(threeBatches.flatMap(_.rows)) ==
      canon(input.where(col("k").isNotNull).collect().toSeq))
  }

  test("every batch carries the input's schema, int and array<float> " +
      "columns included") {
    threeBatches.foreach(b => assert(b.schema == input.schema))
  }

  test("an input without a non-null key drains exactly one empty batch") {
    Seq(input.where(lit(false)), input.where(col("k").isNull)).foreach {
      df =>
        val got = drained(df, 3)
        assert(got.map(_.id) == Seq(0L))
        assert(got.head.rows.isEmpty)
        assert(got.head.schema == input.schema)
        intercept[IllegalArgumentException](
          StreamFlow.requireKeySlices(df, "k", 3))
    }
  }

  test("slice 0 equals the first batch; the slice index column names " +
      "each row's batch") {
    val ks = StreamFlow.requireKeySlices(input, "k", 3)
    assert(canon(input.where(ks.slice(0)).collect().toSeq) ==
      canon(threeBatches.head.rows))
    threeBatches.foreach { b =>
      assert(canon(input.where(ks.index === b.id).collect().toSeq) ==
        canon(b.rows))
    }
  }
}
