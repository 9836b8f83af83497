package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over the document corpus — the lexical search
  * scorer (k1/b Robertson weighting) a curation pipeline uses to mine
  * topic-relevant training data. Extension category.
  *
  * Determinism: every input to the per-(doc, term) contribution is an
  * exact integer (tf, df, dl, N, total tokens), the double expression is
  * written with IDENTICAL association on both engines, and the result is
  * snapped to 2^-20 fixed point BEFORE the per-doc sum — so document
  * scores are integer sums, bit-identical under any partitioning, and an
  * oracle replays the ranking exactly. The idf log runs through
  * [[graft.functions.DetLog]] (ladder + artanh series over the integer
  * ratio (2N-2df+1)/(2df+1)), so no libm ln() remains in either
  * engine's plan — the former ln()-ULP caveat is gone.
  *
  * Scale shape: the corpus contributes one combine-reduced doc-length
  * aggregation and one (doc, query-term) tf aggregation pre-filtered to
  * the query's terms (the `isin` prunes at the scan); df and the corpus
  * totals are output-sized frames that broadcast back via 1-row / tiny
  * cross joins. Top-k plans TakeOrderedAndProject — per-partition heaps,
  * no global sort.
  */
object Bm25 {

  val Scale = 1048576L // 2^20
  val K1 = 1.2
  /** Written as its own literal, NOT `K1 + 1`: the runtime sum
    * 1.2 + 1.0 rounds differently from the parsed literal 2.2, and the
    * oracle parses literals.
    */
  val K1Plus1 = 2.2
  val B = 0.75
  val OneMinusB = 0.25

  /** Top-k documents for a bag-of-terms query. Output:
    * (idCol, score_fp, score) ordered by (score_fp desc, id).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "need query terms and k >= 1")
    val toks = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val tf = toks.where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    topKFrom(dl, tf, idCol, k)
  }

  /** The scoring tail over the model tables — the seam the nearline
    * fold shares with the batch path (the [[BigramLm.scoreWithCounts]]
    * convention), so the streamed query's oracle IS the batch oracle.
    * `dl`: (idCol, dl) per-document lengths; `tf`: (idCol, term, tf)
    * query-term frequencies. df and the corpus totals derive here —
    * output-sized frames that broadcast back.
    */
  def topKFrom(dl: DataFrame, tf: DataFrame, idCol: String, k: Int)
      : DataFrame = {
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd: Column = col("n_docs").cast("double")
    // association mirrors the oracle SQL token for token; the idf
    // argument (N - df + 0.5)/(df + 0.5) = (2N-2df+1)/(2df+1) exactly,
    // a ratio of integers — deterministic log, no libm
    val idf = graft.functions.DetLog.lnRatio(
      col("n_docs") * 2 - col("df") * 2 + 1, col("df") * 2 + 1)
    val den = col("tf").cast("double") + lit(K1) *
      (lit(OneMinusB) + lit(B) * col("dl").cast("double") * nd /
        col("tot").cast("double"))
    val contrib = floor(
      idf * (col("tf").cast("double") * lit(K1Plus1)) / den *
        lit(Scale.toDouble)).cast("long")
    tf.join(broadcast(dfq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(totals))
      .select(col(idCol), contrib.as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("score_fp"))
      .withColumn("score", col("score_fp").cast("double") / Scale.toDouble)
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // nearline: the BM25 statistics maintained across micro-batches —
  // the LEXICAL leg of the amortized hybrid (the vector leg's
  // StreamingIvf/Pq/IvfPq siblings)
  // ------------------------------------------------------------------

  /** The fold's Bloom-guard state dir, derived from the dl dir. */
  def bloomDir(dlDir: String): String = dlDir + "_bloom"

  /** Initialise the empty streaming state: the per-document length
    * table, the (doc, query-term) frequency table, and the doc-id
    * Bloom guard.
    */
  def initState(s: org.apache.spark.sql.SparkSession, idCol: String,
      dlDir: String, tfDir: String): Unit = {
    import org.apache.spark.sql.types._
    val empty = (schema: StructType) => s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty(StructType(Seq(StructField(idCol, LongType),
      StructField("dl", LongType))))
      .write.mode("overwrite").parquet(dlDir)
    empty(StructType(Seq(StructField(idCol, LongType),
      StructField("term", StringType), StructField("tf", LongType))))
      .write.mode("overwrite").parquet(tfDir)
    graft.streaming.BloomGuard.init(s, bloomDir(dlDir))
  }

  /** Fold one micro-batch of documents: per-doc token length and
    * query-term frequencies append under the doc-id anti-join (every
    * document contributes its rows exactly once — nothing merges
    * across batches, the StreamingIvf append-only contract, so the
    * folded tables equal the batch `dl`/`tf` under ANY batching).
    *
    * Sub-O(state) probe ([[graft.streaming.BloomGuard]]): the doc-id
    * bitset answers "definitely new" row-locally, so a fresh batch —
    * the steady state of an append-only ingest — runs NO anti-join and
    * reads NEITHER state table; only bloom-hit batches (replays,
    * crash-window re-deliveries, false positives) pay the exact dl/tf
    * probes that restore exactness. Per-batch cost is therefore
    * O(batch + bloom), not O(state).
    *
    * Crash contract: the bloom writes FIRST (adding this batch's doc
    * ids — a crash after it leaves a harmless superset bloom whose
    * hits route the replay through the exact probes), then the tf rows
    * under their doc-id anti-join, then the dl rows (the exact replay
    * guard) LAST. Both data appends run the exact-retry
    * [[graft.io.ParquetUtil.safeAppend]] protocol, so a crash MID
    * append rolls back completely — a plain append could commit a
    * SUBSET of one doc's (doc, term) rows, and the doc-id-keyed
    * anti-join would then drop that doc's remaining terms forever.
    *
    * Per-batch cost: one batch-sized tokenize/agg, one O(bloom)
    * read/OR/swap + two appends; the tf probe is query-term-pruned at
    * the scan.
    */
  def applyBatch(s: org.apache.spark.sql.SparkSession, b: DataFrame,
      idCol: String, textCol: String, queryTerms: Seq[String],
      dlDir: String, tfDir: String): Unit = {
    import graft.streaming.{BloomGuard, StateScanMeter}
    // roll back any crashed append FIRST — the exact probes below read
    // these dirs, and a committed-but-unacknowledged delta would make
    // the anti-joins drop rows the recovery is about to delete (the
    // NgramDiversity recovery-before-watermark window, same analysis)
    graft.io.ParquetUtil.recoverAppend(s, tfDir)
    graft.io.ParquetUtil.recoverAppend(s, dlDir)
    val (fresh, exact) = BloomGuard.freshRows(s, bloomDir(dlDir), b,
      idCol, () => {
        StateScanMeter.add(s, dlDir)
        s.read.parquet(dlDir).select(idCol)
      })
    // empty batch or pure replay (every doc already folded): write
    // NOTHING — no bloom swap, no empty appends; the state dirs are
    // untouched
    if (fresh.isEmpty) return
    val toks = fresh.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tfBatch = toks.where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val tfNew =
      if (!exact) tfBatch
      else {
        // materialise before the append below writes into the same dir
        // it reads (the StreamingDecontam read-your-write convention)
        StateScanMeter.add(s, tfDir)
        tfBatch.join(s.read.parquet(tfDir).select(idCol).distinct(),
          Seq(idCol), "left_anti").localCheckpoint()
      }
    graft.io.ParquetUtil.safeAppend(s, tfNew, tfDir)
    if (crashBetweenAppends) {
      crashBetweenAppends = false
      throw new RuntimeException("injected crash between tf and dl append")
    }
    graft.io.ParquetUtil.safeAppend(s,
      toks.groupBy(idCol).agg(count(lit(1)).as("dl")), dlDir)
    ()
  }

  /** Failpoint for the crash-contract spec: the next [[applyBatch]]
    * throws ONCE between the tf and dl appends (the widest kill
    * window). Never set in production — the
    * [[graft.io.ParquetUtil.crashPoint]] convention.
    */
  @volatile private[graft] var crashBetweenAppends: Boolean = false

  /** The ranked top-k off the folded state — equals the batch [[topK]]
    * exactly (both state tables equal their batch counterparts).
    */
  def topKFromState(s: org.apache.spark.sql.SparkSession, idCol: String,
      dlDir: String, tfDir: String, k: Int): DataFrame =
    topKFrom(s.read.parquet(dlDir), s.read.parquet(tfDir), idCol, k)
}
