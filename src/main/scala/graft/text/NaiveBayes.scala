package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary multinomial Naive Bayes document classifier — the LEARNED
  * quality-filter stage of an LLM data pipeline (the GPT-3/WebText
  * recipe: train a cheap linear classifier on a trusted positive
  * class, score the crawl by log-odds and keep the high scorers).
  * Completes the quality battery: heuristic ratios (`q_text_quality`)
  * → unigram LM (`q_lm_score`) → bigram LM (`q_lm_perplexity`) →
  * trained classifier (this). Extension category.
  *
  * Model: +1-smoothed multinomial NB. For a document with tokens
  * w_1..w_n, `logodds = Σ_i [ln((c_pos(w_i)+1)/(N_pos+V)) −
  * ln((c_neg(w_i)+1)/(N_neg+V))] + ln(d_pos/d_neg)` — every argument
  * a positive integer, so each log-RATIO runs through
  * [[graft.functions.DetLog.lnRatio]] and snaps ONCE to 2^-20 fixed
  * point per vocabulary row (the BM25-idf convention); per-document
  * scores are integer sums of table lookups. An out-of-vocabulary
  * token contributes floor(ln((0+1)/(0+1))·2^20) = 0, which is
  * EXACTLY the +1-smoothing value — the OOV coalesce and the
  * smoothing formula agree by construction.
  *
  * Scale shape: one train-split counting aggregation to a vocab-sized
  * (term, c_pos, c_neg) table; the corpus token stream left-joins it
  * on term (shuffle hash join) and reduces straight back to one row
  * per document; the class totals/prior frame is 1 row and
  * broadcasts. Same linear shape as TF-IDF/BM25/the LMs.
  */
object NaiveBayes {

  val LnScale: Long = Vocabulary.LnScale

  private def tokenized(df: DataFrame, idCol: String, textCol: String,
      extra: Seq[Column]): DataFrame = df
    .select((col(idCol) +: TextFunctions.tokens(col(textCol)).as("w") +:
      extra): _*)
    .where(size(col("w")) > 0)

  /** The count model of `train`: per-term class counts (term, cpos,
    * cneg) and the 1-row class document counts (dpos, dneg).
    */
  private def trainCounts(train: DataFrame, idCol: String,
      textCol: String, isPos: Column): (DataFrame, DataFrame) = {
    val twTrain = tokenized(train, idCol, textCol, Seq(isPos.as("pos")))
    val counts = twTrain.select(explode(col("w")).as("term"), col("pos"))
      .groupBy("term").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cneg"))
    val docCounts = twTrain.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("dpos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("dneg"))
    (counts, docCounts)
  }

  /** Score every non-empty document of `docs` with an NB model
    * trained on `train` (normally a split of the corpus), where
    * `isPos` labels the training rows. Output:
    * (idCol, n_tokens, nb_logodds, pred_pos).
    */
  def scoreBinary(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, isPos: Column): DataFrame = {
    val (counts, docCounts) = trainCounts(train, idCol, textCol, isPos)
    scoreWithModel(docs, idCol, textCol, counts, docCounts)
  }

  /** Score against an externally-maintained count model — the entry
    * the streamed fold shares with the batch path, so the streamed
    * query's oracle IS the batch oracle (additive integer counts fold
    * to the identical model under any batching).
    * `counts`: (term, cpos, cneg); `docCounts`: 1 row (dpos, dneg).
    */
  private[graft] def scoreWithModel(docs: DataFrame, idCol: String,
      textCol: String, counts: DataFrame, docCounts: DataFrame)
      : DataFrame =
    scoreWithModelFp(docs, idCol, textCol, counts, docCounts)
      .select(col(idCol), col("n_tokens"),
        round(col("logodds_fp").cast("double") / lit(LnScale.toDouble), 6)
          .as("nb_logodds"),
        (col("logodds_fp") > 0L).as("pred_pos"))

  /** As [[scoreBinary]] but keeping the EXACT fixed-point log-odds
    * (`logodds_fp`) — threshold sweeps and compositions compare
    * integers, never independently-rounded doubles (the
    * [[BigramLm.scoreFp]] convention). Output: (idCol, n_tokens,
    * logodds_fp).
    */
  def scoreBinaryFp(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, isPos: Column): DataFrame = {
    val (counts, docCounts) = trainCounts(train, idCol, textCol, isPos)
    scoreWithModelFp(docs, idCol, textCol, counts, docCounts)
  }

  private[graft] def scoreWithModelFp(docs: DataFrame, idCol: String,
      textCol: String, counts: DataFrame, docCounts: DataFrame)
      : DataFrame = {
    // the count model is PINNED (eager, vocab-sized): it feeds both
    // the per-term table and the 1-row normaliser, and the pin makes
    // the broadcast gate's count free (the BigramLm.score convention)
    val countsP = counts.localCheckpoint()
    // byte-aware gate; the broadcast table is (term, fp)
    val small = BigramLm.vocabBroadcastOk(countsP.count(),
      BigramLm.vocabRowBytes(strCols = 1, numCols = 1))
    def gated(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // ONE fixed-point snap per log-RATIO (the BM25-idf convention —
    // the oracle replays it through DetLog.lnRatioCtes verbatim)
    val lnFpRatio: (Column, Column) => Column = (a, b) =>
      floor(graft.functions.DetLog.lnRatio(a, b) * LnScale).cast("long")
    val fpt = countsP.select(col("term"),
      lnFpRatio(col("cpos") + 1, col("cneg") + 1).as("fp"))
    // 1-row model frame: per-token class normaliser and the doc prior
    // degenerate-model guard, evaluated IN-PLAN on the 1-row frame (no
    // extra pass over train): a single-class split or empty vocabulary
    // would feed lnRatio a zero argument, which det_ln silently
    // evaluates to a meaningless prior instead of throwing like the
    // scalar lnIntRef — fail loudly instead. coalesce(assert_true, 0)
    // adds exactly 0 when the model is sane, so scores are unchanged.
    val guard = coalesce(assert_true(
      col("dpos") >= 1 && col("dneg") >= 1 && col("v") >= 1,
      lit("NaiveBayes: degenerate model — training needs >=1 positive " +
        "doc, >=1 negative doc and a nonempty vocabulary")), lit(0L))
    val norm = countsP.agg(
      sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
      .crossJoin(docCounts)
      .select(
        (lnFpRatio(col("npos") + col("v"), col("nneg") + col("v")) + guard)
          .as("fpn"),
        lnFpRatio(col("dpos"), col("dneg")).as("fprior"))
    // `fpt` is unique on term, so the left join keeps one row per token
    // and the row count is the document's token count
    tokenized(docs, idCol, textCol, Nil)
      .select(col(idCol), explode(col("w")).as("term"))
      .join(gated(fpt), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("fp"), lit(0L))).as("sum_fp"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(norm))
      .select(col(idCol), col("n_tokens"),
        (col("sum_fp") - col("n_tokens") * col("fpn") + col("fprior"))
          .as("logodds_fp"))
  }

  // ------------------------------------------------------------------
  // nearline model maintenance
  // ------------------------------------------------------------------

  /** Fold one micro-batch of labelled training documents into the
    * persisted count model. The state is ONE atomically-swapped frame
    * (kind, term, cpos, cneg, last_batch): `kind` 't' rows are the
    * per-term class counts, the single 'd' row carries the class
    * document counts — all additive integers, so any batching folds
    * to the identical model and the batch oracle replays the streamed
    * query exactly. At-least-once delivery is absorbed by the
    * batch-id watermark INSIDE the swapped frame (the
    * `CountMinSketch.applyBatch` crash contract).
    */
  def applyBatch(s: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, textCol: String, isPos: Column, batchId: Long,
      stateDir: String): Unit = {
    val applied = graft.io.ParquetUtil.lastBatch(s, stateDir)
    if (applied.exists(batchId <= _)) return
    val hasState = applied.isDefined
    val tw = tokenized(batch, idCol, textCol, Seq(isPos.as("pos")))
    val termPart = tw.select(explode(col("w")).as("term"), col("pos"))
      .groupBy("term").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cneg"))
      .select(lit("t").as("kind"), col("term"), col("cpos"), col("cneg"))
    // coalesce: an all-empty batch aggregates to one NULL row
    val docPart = tw.agg(
      coalesce(sum(when(col("pos"), 1L).otherwise(0L)), lit(0L))
        .as("cpos"),
      coalesce(sum(when(col("pos"), 0L).otherwise(1L)), lit(0L))
        .as("cneg"))
      .select(lit("d").as("kind"), lit("").as("term"), col("cpos"),
        col("cneg"))
    val partial = termPart.unionByName(docPart)
    val merged =
      if (!hasState) partial
      else graft.io.ParquetUtil.readRecovered(s, stateDir)
        .drop("last_batch")
        .unionByName(partial)
        .groupBy("kind", "term")
        .agg(sum(col("cpos")).as("cpos"), sum(col("cneg")).as("cneg"))
    graft.io.ParquetUtil.safeOverwrite(s,
      merged.withColumn("last_batch", lit(batchId)), stateDir)
  }

  /** Score a corpus against the streamed count model. */
  def scoreFromState(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String, textCol: String, stateDir: String)
      : DataFrame = {
    val st = s.read.parquet(stateDir).drop("last_batch")
    scoreWithModel(docs, idCol, textCol,
      st.where(col("kind") === "t").select("term", "cpos", "cneg"),
      st.where(col("kind") === "d")
        .select(col("cpos").as("dpos"), col("cneg").as("dneg")))
  }
}
