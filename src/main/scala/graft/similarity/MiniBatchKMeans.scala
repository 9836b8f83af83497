package graft.similarity

import graft.streaming.StreamFlow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming (mini-batch) k-means: embedding vectors arrive in
  * micro-batches; each point is assigned ONCE, at arrival, against the
  * centroids current at that moment, and centroids are the running
  * integer mean over everything assigned so far. Same bit-exact
  * fixed-point arithmetic as the batch [[KMeans]] (snap once, integer
  * argmin with ties to the smaller cid, floor division), so the whole
  * run — seeds from the first batch, per-batch assignment, state
  * accumulation — replays exactly in any engine (the `q_stream_kmeans`
  * oracle unrolls it per batch in DuckDB).
  *
  * Scale shape per batch: centroids broadcast (k rows) into the batch
  * scan, the argmin partial-aggregates map-side, and the state merge is
  * a (k × dim)-row union + sum — the corpus is touched once, state
  * never exceeds k × dim rows. This is the embeddings-infrastructure
  * rendering of the nearline pattern ([[graft.dedup.Nearline]]): the
  * index/state lives across batches, each batch joins it and appends.
  */
object MiniBatchKMeans {

  /** Stream `emb` in `nBatches` micro-batches (split by `idCol` range)
    * and return one row per (cluster, dim): (cid, dim 1-based,
    * n_points, centroid_fp) — n_points counts the points accumulated
    * into the cluster across all batches.
    */
  def fitStream(
      s: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      k: Int, nBatches: Int, baseDir: String): DataFrame = {
    require(k >= 1 && nBatches >= 1, "k and nBatches must be >= 1")
    val pts = KMeans.pointsFp(emb, idCol, vecCol)
    val splitDir = baseDir + "/splits"
    val stateDir = baseDir + "/state"
    val src = StreamFlow.splitSource(pts, "vec_id", nBatches, splitDir)
    StreamFlow.drain(src) { (b, id) => applyBatch(s, b, id, k, stateDir) }
    s.read.parquet(stateDir)
      .select(col("cid"), col("dim"), col("n").as("n_points"),
        expr("s div n").as("centroid_fp"))
  }

  /** Apply one micro-batch to the running state — IDEMPOTENT under
    * at-least-once delivery. Sums are not naturally idempotent, so the
    * guard is the standard batch-id watermark: `last_batch` rides as a
    * column INSIDE the state frame, and the state is the ONLY
    * persisted artifact (centroids derive from it on read), so the
    * single staging-swap write leaves no window where state and
    * watermark — or state and centroids — disagree. A replayed
    * id ≤ watermark is a no-op (pinned by AnalyticsSpec).
    */
  private[graft] def applyBatch(
      s: SparkSession, b: DataFrame, batchId: Long, k: Int,
      stateDir: String): Unit = {
    val applied = graft.io.ParquetUtil.lastBatch(s, stateDir)
    if (applied.exists(batchId <= _)) return
    val hasState = applied.isDefined
    val batch = b.localCheckpoint()
    // centroids current at this batch's arrival: the running integer
    // mean from state — or, for the very first batch, the k smallest
    // arrived ids (the batch KMeans seed rule restricted to batch 0)
    val cent =
      if (!hasState)
        batch.orderBy("vec_id").limit(k)
          .select(col("vec_id").as("cid"), col("p").as("c"))
      else graft.io.ParquetUtil.readRecovered(s, stateDir)
        .select(col("cid"), col("dim"), expr("s div n").as("cv"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("c"))
    val partial = KMeans.assign(batch, cent).join(batch, "vec_id")
      .select(col("cid"), posexplode(col("p")).as(Seq("d0", "v")))
      .groupBy(col("cid"), (col("d0") + 1).cast("long").as("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val state =
      if (!hasState) partial
      else graft.io.ParquetUtil.readRecovered(s, stateDir).drop("last_batch")
        .unionByName(partial)
        .groupBy("cid", "dim")
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
    graft.io.ParquetUtil.safeOverwrite(s,
      state.withColumn("last_batch", lit(batchId)), stateDir)
    ()
  }
}
