package graft.dedup

import graft.streaming.StreamFlow
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nearline near-duplicate detection: a banded Hamming index maintained
  * ACROSS micro-batches, so each near-dup pair emits exactly once — in
  * the batch where its LATER member arrives. The batch-mode reference
  * semantics are [[Dedup.hammingPairs]]; this is its streaming rendering,
  * and the pair set it emits is identical for ANY batch partitioning of
  * the stream (property-pinned by NearlineSpec).
  *
  * Scale shape per batch: the new rows band-explode and equi-join the
  * CURRENT index on (band, key) — work is |batch| × bucket-hit sized,
  * never |batch| × |corpus| — then append their own band rows to the
  * index. At 100 TB the parquet index/sink swap for a keyed store; the
  * join shape is unchanged.
  */
object Nearline {

  /** Seed the index with `seedPred` rows (their internal pairs emit once
    * at bootstrap, phase `seed`), stream the remaining rows in
    * `nBatches` micro-batches, and return every pair with Hamming
    * distance ≤ `maxHamming` — phase `stream` for pairs completed by a
    * streamed row. `hashed` must carry (`doc` long id, `h` 60-bit hash).
    */
  def hammingPairsNearline(
      s: SparkSession, hashed: DataFrame, seedPred: Column,
      nBatches: Int, baseDir: String, maxHamming: Int = 3): DataFrame = {
    val indexDir = baseDir + "/band_index"
    val pairsDir = baseDir + "/pairs"
    val splitDir = baseDir + "/splits"
    // bootstrap: seed band index + the seed's own pairs
    val seed = hashed.where(seedPred)
    seed.select(col("doc"), col("h"),
      posexplode(Dedup.simHashBands(col("h"))).as(Seq("band", "key")))
      .write.mode("overwrite").parquet(indexDir)
    Dedup.hammingPairs(seed, "doc", "h", maxHamming)
      .withColumn("phase", lit("seed"))
      .write.mode("overwrite").parquet(pairsDir)
    val src = StreamFlow.splitSource(
      hashed.where(!seedPred), "doc", nBatches, splitDir)
    StreamFlow.drain(src) { (b, _) =>
      applyBatch(s, b, indexDir, pairsDir, maxHamming)
    }
    s.read.parquet(pairsDir)
  }

  // ------------------------------------------------------------------
  // nearline MinHash-LSH pairs (exact Jaccard verify)
  // ------------------------------------------------------------------

  /** Initialise the MinHash nearline state: an empty (band, key, doc)
    * band index and an empty (doc, s) shingle store (the verify side —
    * banding alone cannot confirm a Jaccard threshold).
    */
  def initMinHashState(s: SparkSession, indexDir: String,
      storeDir: String, pairsDir: String): Unit = {
    val empty = (schema: StructType) => s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty(StructType(Seq(StructField("band", IntegerType),
      StructField("key", StringType), StructField("doc", LongType))))
      .write.mode("overwrite").parquet(indexDir)
    empty(StructType(Seq(StructField("doc", LongType),
      StructField("s", ArrayType(StringType)))))
      .write.mode("overwrite").parquet(storeDir)
    empty(StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType),
      StructField("jaccard", DoubleType))))
      .write.mode("overwrite").parquet(pairsDir)
  }

  /** Fold one micro-batch of (doc, s) shingle-set rows into the MinHash
    * nearline state: the batch's band keys
    * ([[graft.functions.MinHashBandKeys]], the same native kernel as
    * the batch query) join the accumulated index for candidates, the
    * shingle store supplies the historical side of the EXACT Jaccard
    * verify, and surviving pairs append exactly once. Banding is
    * deterministic, so the union of emissions over ANY batching equals
    * the batch [[Dedup.minHashPairs]] output — the batch oracle applies
    * verbatim to the streamed result.
    *
    * Same idempotence contract as [[applyBatch]]: already-indexed docs
    * drop out first; pair emission anti-joins the pairs on disk.
    */
  def applyMinHashBatch(s: SparkSession, b: DataFrame,
      threshold: Double, indexDir: String, storeDir: String,
      pairsDir: String): Unit = {
    val idx = s.read.parquet(indexDir).cache()
    val nb = b
      .join(idx.select("doc").distinct(), Seq("doc"), "left_anti")
      .select(col("doc"), col("s"),
        posexplode(graft.functions.GraftFunctions
          .minHashBandKeys(s, col("s"))).as(Seq("band", "key")))
      .cache()
    def verify(cand: DataFrame, aS: DataFrame, bS: DataFrame) = cand
      .join(aS.select(col("doc").as("doc_a"), col("s").as("sa")),
        Seq("doc_a"))
      .join(bS.select(col("doc").as("doc_b"), col("s").as("sb")),
        Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    val store = s.read.parquet(storeDir)
    val newDocs = nb.select("doc", "s").distinct()
    // new-vs-history: candidates from band hits, shingles from the store
    val cross = nb.select(col("band"), col("key"), col("doc").as("doc_n"))
      .join(idx.select(col("band"), col("key"), col("doc").as("doc_o")),
        Seq("band", "key"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
    val crossPairs = verify(cross,
      newDocs.unionByName(store).dropDuplicates("doc"),
      newDocs.unionByName(store).dropDuplicates("doc"))
    // new-vs-new inside the batch
    val selfCand = nb.select(col("band"), col("key"),
        col("doc").as("doc_a"))
      .join(nb.select(col("band"), col("key"), col("doc").as("doc_b")),
        Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val selfPairs = verify(selfCand, newDocs, newDocs)
    // write order is the crash contract: store (own anti-join guard),
    // then pairs (anti-join guard), then the index LAST — the index is
    // what the replay guard keys on, so a crash before the index append
    // replays the whole batch into the guards above and changes nothing
    newDocs
      .join(store.select("doc"), Seq("doc"), "left_anti")
      .write.mode("append").parquet(storeDir)
    crossPairs.unionByName(selfPairs)
      .dropDuplicates("doc_a", "doc_b")
      .join(s.read.parquet(pairsDir).select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_anti")
      .write.mode("append").parquet(pairsDir)
    nb.select("band", "key", "doc").write.mode("append").parquet(indexDir)
    nb.unpersist()
    idx.unpersist()
    ()
  }

  /** Apply one micro-batch to the (index, pairs) state — IDEMPOTENT
    * under at-least-once delivery: rows already in the index drop out
    * before any pairing, and emitted pairs anti-join the pairs already
    * on disk, so a replayed batch — or a replay after a crash between
    * the pairs append and the index append — changes nothing
    * (NearlineSpec pins both). The two guards are id-only joins against
    * index/result-sized frames.
    */
  private[graft] def applyBatch(
      s: SparkSession, b: DataFrame, indexDir: String, pairsDir: String,
      maxHamming: Int): Unit = {
    val idx = s.read.parquet(indexDir)
    val nb = b.select(col("doc"), col("h"),
        posexplode(Dedup.simHashBands(col("h")))
          .as(Seq("band", "key")))
      // replay guard: already-indexed docs contribute nothing new
      .join(idx.select("doc").distinct(), Seq("doc"), "left_anti")
      .cache()
    // new-vs-(seed ∪ earlier batches): pair order normalised by id
    // so the emitted set matches the batch ground truth
    val cross = nb.select(col("band"), col("key"),
        col("doc").as("doc_n"), col("h").as("hn"))
      .join(idx.select(col("band"), col("key"),
        col("doc").as("doc_o"), col("h").as("ho")),
        Seq("band", "key"))
      .withColumn("hamming",
        bit_count(col("hn").bitwiseXOR(col("ho"))))
      .where(col("hamming") <= maxHamming)
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"),
        col("hamming"))
    // new-vs-new inside this batch
    val selfPairs = nb.select(col("band"), col("key"),
        col("doc").as("doc_a"), col("h").as("ha"))
      .join(nb.select(col("band"), col("key"),
        col("doc").as("doc_b"), col("h").as("hb")),
        Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    cross.unionByName(selfPairs)
      .dropDuplicates("doc_a", "doc_b")
      // crash-window guard: never re-emit a pair already on disk
      .join(s.read.parquet(pairsDir).select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_anti")
      .withColumn("phase", lit("stream"))
      .write.mode("append").parquet(pairsDir)
    // only now does the batch join the index (so its self-pairs
    // never double-emit through the cross join)
    nb.select("band", "key", "doc", "h")
      .write.mode("append").parquet(indexDir)
    nb.unpersist()
    ()
  }

  // ------------------------------------------------------------------
  // nearline exact dedup (canonical-fingerprint index)
  // ------------------------------------------------------------------

  /** Fold one micro-batch of document rows into the exact-dedup
    * fingerprint state — the doc-granularity sibling of
    * [[graft.text.LineDedup.applyLineBatch]], under the delta-append
    * contract of [[graft.text.NgramDiversity.applyBatch]]. The per-fp
    * state is (min keep_id, additive n_copies) — BOTH order-independent
    * merges, so the folded result equals the batch [[Dedup.exactDedup]]
    * under ANY batching (stronger than the line index's ordered-arrival
    * contract), and replay safety needs only the batch-id watermark +
    * the exact-retry append ([[graft.io.ParquetUtil.recoverAppend]]
    * ordered before the watermark read, the NgramDiversity window
    * analysis).
    *
    * Per-batch cost: one batch-sized fingerprint agg + one delta
    * append; the accumulated distinct-fingerprint table moves only at
    * the every-`compactEvery` compaction (amortized state/compactEvery)
    * and at read time ([[exactFromState]]).
    */
  def applyExactBatch(s: SparkSession, b: DataFrame, textCol: String,
      idCol: String, batchId: Long, stateDir: String,
      compactEvery: Int = graft.text.NgramDiversity.CompactEvery): Unit = {
    graft.io.ParquetUtil.recoverAppend(s, stateDir)
    val applied = graft.io.ParquetUtil.lastBatch(s, stateDir)
    if (applied.exists(batchId <= _)) return
    graft.io.ParquetUtil.safeAppend(s,
      Dedup.exactDedup(b, textCol, idCol)
        .withColumn("last_batch", lit(batchId)), stateDir)
    if (batchId % compactEvery == compactEvery - 1) {
      // the amortized O(state/compactEvery) read, metered honestly
      graft.streaming.StateScanMeter.add(s, stateDir)
      graft.io.ParquetUtil.safeOverwrite(s,
        exactFromState(s, stateDir).withColumn("last_batch", lit(batchId)),
        stateDir)
    }
  }

  /** The min/sum merge of the exact-dedup delta pile: equals
    * [[Dedup.exactDedup]] over all folded documents exactly, at any
    * pile depth.
    */
  def exactFromState(s: SparkSession, stateDir: String): DataFrame =
    graft.io.ParquetUtil.readRecovered(s, stateDir).drop("last_batch")
      .groupBy("fp")
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("n_copies")).as("n_copies"))
}
