package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental PQ index maintenance — the streamed rendering of the
  * batch ADC+rerank ANN (`q_ann_pq`), following the frozen-quantizer
  * precedent [[StreamingIvf.applyFrozenBatch]] verbatim: the
  * [[ProductQuantizer]] codebooks train ONCE on the bootstrap batch,
  * then every arriving vector assigns its per-subspace codes against
  * the frozen books (the bit-exact integer argmin) and appends
  * (vec_id, embedding, code_0..code_{M-1}) to the postings.
  *
  * Replay algebra — the SIMPLEST of the engine's streaming-state
  * contracts: the quantizer never changes, so the postings append is
  * the ONLY state write, idempotent under the vec_id anti-join. No
  * watermark, no ordering window; a replayed batch (whole or partial)
  * drops out entirely, and ANY batching folds to the identical index
  * (spec-pinned 1/3/7 + replay no-op in StreamingPqSpec).
  *
  * 100 TB stance: per-batch work is |batch| scan + M k-way integer
  * argmins against broadcast k×subdim codebooks; nothing corpus-sized
  * moves per batch, and the query-time ADC scan still reads only the
  * M integer code columns (the float column re-attaches for the fixed
  * RerankFactor×k shortlist only).
  */
object StreamingPq {

  /** Initialise the empty postings frame and its vec-id Bloom guard. */
  def initState(s: SparkSession, postingsDir: String,
      m: Int = ProductQuantizer.NumSubspaces): Unit = {
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(
        Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType))) ++
          (0 until m).map(i => StructField(s"code_$i", LongType))))
      .write.mode("overwrite").parquet(postingsDir)
    graft.streaming.BloomGuard.init(s, postingsDir + "_bloom")
  }

  /** Fold one micro-batch of (vec_id, embedding) vectors: frozen-book
    * code assignment + idempotent postings append. The vec-id bloom
    * (written before the append it covers) keeps fresh batches from
    * reading the postings at all — the exact anti-join runs only on
    * bloom hits ([[graft.streaming.BloomGuard]]).
    */
  def applyFrozenBatch(s: SparkSession, b: DataFrame,
      cents: Seq[DataFrame], postingsDir: String,
      m: Int = ProductQuantizer.NumSubspaces): Unit = {
    import graft.streaming.{BloomGuard, StateScanMeter}
    val batch = b.select("vec_id", "embedding")
    val (fresh, _) = BloomGuard.freshRows(s, postingsDir + "_bloom",
      batch, "vec_id", () => {
        StateScanMeter.add(s, postingsDir)
        s.read.parquet(postingsDir).select("vec_id")
      })
    val codes = ProductQuantizer.assignCodes(
      fresh, "vec_id", "embedding", cents, m)
    fresh.join(codes, "vec_id")
      .write.mode("append").parquet(postingsDir)
  }
}
