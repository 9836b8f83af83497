package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental IVF × PQ index maintenance — the streamed rendering of
  * the batch composed index (`q_ann_ivf_pq`), combining the engine's
  * two frozen-model streaming precedents verbatim: the coarse
  * quantizer ([[StreamingIvf.applyFrozenBatch]]) and the PQ codebooks
  * ([[StreamingPq]]) BOTH train once on the bootstrap batch; every
  * arriving vector then assigns (a) its coarse list by the bit-exact
  * integer argmin against the frozen centroids and (b) its M
  * per-subspace codes against the frozen books, and appends
  * (vec_id, embedding, cid, code_0..code_{M-1}) to the postings.
  *
  * Replay algebra: both models are frozen, so the postings append is
  * the ONLY state write, idempotent under the vec_id anti-join — no
  * watermark, no ordering window; any batching folds to the identical
  * index and any replayed batch drops out (spec-pinned in
  * StreamingIvfPqSpec, the StreamingPqSpec contract).
  *
  * 100 TB stance: per-batch work is |batch| × (one k-way coarse argmin
  * + M k-way sub-argmins) against broadcast model tables — nothing
  * corpus-sized moves per batch. Query-time, the probed lists are
  * scanned as integer codes only and floats re-attach for the fixed
  * shortlist (the full `q_ann_ivf_pq` search tail over the postings).
  */
object StreamingIvfPq {

  /** Initialise the empty postings frame and its vec-id Bloom guard. */
  def initState(s: SparkSession, postingsDir: String,
      m: Int = ProductQuantizer.NumSubspaces): Unit = {
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(
        Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("cid", LongType)) ++
          (0 until m).map(i => StructField(s"code_$i", LongType))))
      .write.mode("overwrite").parquet(postingsDir)
    graft.streaming.BloomGuard.init(s, postingsDir + "_bloom")
  }

  /** Fold one micro-batch of (vec_id, embedding) vectors: frozen
    * coarse-list + code assignment, idempotent postings append. The
    * vec-id bloom (written before the append it covers) keeps fresh
    * batches from reading the postings; bloom hits run the exact
    * anti-join ([[graft.streaming.BloomGuard]]).
    */
  def applyFrozenBatch(s: SparkSession, b: DataFrame, centFp: DataFrame,
      books: Seq[DataFrame], postingsDir: String,
      m: Int = ProductQuantizer.NumSubspaces): Unit = {
    import graft.streaming.{BloomGuard, StateScanMeter}
    val batch = b.select("vec_id", "embedding")
    val (fresh, _) = BloomGuard.freshRows(s, postingsDir + "_bloom",
      batch, "vec_id", () => {
        StateScanMeter.add(s, postingsDir)
        s.read.parquet(postingsDir).select("vec_id")
      })
    val cids = KMeans.assign(
      KMeans.pointsFp(fresh, "vec_id", "embedding"), centFp)
    val codes = ProductQuantizer.assignCodes(
      fresh, "vec_id", "embedding", books, m)
    fresh.join(cids, "vec_id").join(codes, "vec_id")
      .select(col("vec_id") +: col("embedding") +: col("cid") +:
        (0 until m).map(i => col(s"code_$i")): _*)
      .write.mode("append").parquet(postingsDir)
  }
}
