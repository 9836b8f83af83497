package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** WordPiece tokenizer — the BERT-lineage member of the subword
  * family (Schuster & Nakajima 2012; Devlin et al. 2019 §2), closing
  * the standard triad next to [[Bpe]] (GPT lineage, count-argmax
  * merges) and [[UnigramLm]] (T5/ALBERT lineage, Viterbi LM): merges
  * are chosen by the LIKELIHOOD ratio score
  * `count(ab) / (count(a)·count(b))` instead of the raw pair count,
  * and encoding is GREEDY LONGEST-MATCH-FIRST against the final piece
  * vocabulary (continuation pieces rendered with the `##` prefix)
  * instead of replaying merges in rank order.
  *
  * Determinism: the score is DEFINED as the floor-scaled integer
  * `⌊count(ab)·2^40 / (count(a)·count(b))⌋` — one exact integer both
  * engines compute identically (driver BigInt / Spark DECIMAL(38,0)
  * DIV / DuckDB HUGEINT //), so the per-round argmax (score desc,
  * then pair ascending under UTF-8 byte order) is a total rule the
  * DuckDB oracle replays verbatim. The quantum only matters for
  * scores closer than 2^-40 — part of the operator definition, like
  * every DetLog snap.
  *
  * Simplification vs BERT's original trainer (documented divergence):
  * merges concatenate plain pieces (no `##`-aware pair alphabet
  * during training — the [[Bpe]] stance); the `##` continuation
  * marker is applied at ENCODE time by position. The canonically
  * WordPiece-specific behaviours — likelihood-scored merge selection
  * and greedy longest-match encoding — are exact.
  *
  * Scale shape (the [[Bpe]] argument verbatim): one corpus-sized scan
  * builds the word-frequency table; training iterates driver-local
  * over that vocab-bounded table with incremental pair/unigram count
  * maintenance (distributed fallback for pathological vocabularies);
  * encoding runs once per DISTINCT word, row-local, and the corpus
  * only ever equi-joins the vocab-sized result.
  */
object WordPiece {

  /** Fixed-point scale of the likelihood score (2^40). */
  val ScoreScale: Long = 1L << 40

  /** A trained merge: 1-based rank, the pair, the merged piece, and
    * the integer likelihood score that won the round.
    */
  final case class Merge(
      rank: Long, left: String, right: String, merged: String,
      score: Long)

  private def scoreOf(cab: Long, ua: Long, ub: Long): Long =
    ((BigInt(cab) * ScoreScale) / (BigInt(ua) * BigInt(ub))).toLong

  /** Driver-local likelihood-merge trainer over an in-memory
    * (word, count) vocabulary — [[Bpe.trainMergesLocal]]'s structure
    * with unigram-count maintenance on top of the pair counts (the
    * score needs both) and the integer likelihood argmax.
    */
  def trainMergesLocal(words: Seq[(String, Long)], k: Int): Seq[Merge] = {
    require(k >= 1, s"k must be >= 1: $k")
    val n = words.size
    val toks: Array[Array[String]] =
      words.iterator.map(_._1.toCharArray.map(_.toString)).toArray
    val freq: Array[Long] = words.iterator.map(_._2).toArray
    val pairC = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    val uniC = scala.collection.mutable.HashMap.empty[String, Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    def addWord(i: Int): Unit = {
      val t = toks(i); var j = 0
      while (j < t.length) {
        uniC.update(t(j), uniC.getOrElse(t(j), 0L) + freq(i))
        if (j < t.length - 1) {
          val p = (t(j), t(j + 1))
          pairC.update(p, pairC.getOrElse(p, 0L) + freq(i))
          occ.getOrElseUpdate(p,
            scala.collection.mutable.BitSet.empty) += i
        }
        j += 1
      }
    }
    def removeWord(i: Int): Unit = {
      val t = toks(i); var j = 0
      while (j < t.length) {
        val u = uniC.getOrElse(t(j), 0L) - freq(i)
        if (u <= 0L) uniC.remove(t(j)) else uniC.update(t(j), u)
        if (j < t.length - 1) {
          val p = (t(j), t(j + 1))
          val c = pairC.getOrElse(p, 0L) - freq(i)
          if (c <= 0L) { pairC.remove(p); occ.remove(p) }
          else { pairC.update(p, c); occ.get(p).foreach(_ -= i) }
        }
        j += 1
      }
    }
    var i = 0
    while (i < n) { addWord(i); i += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    while (r <= k && pairC.nonEmpty) {
      var best: (String, String) = null
      var bs = Long.MinValue
      pairC.foreachEntry { (p, c) =>
        val s = scoreOf(c, uniC(p._1), uniC(p._2))
        if (s > bs || (s == bs &&
            (Bpe.utf8Lt(p._1, best._1) ||
              (p._1 == best._1 && Bpe.utf8Lt(p._2, best._2))))) {
          best = p; bs = s
        }
      }
      merges += Merge(r.toLong, best._1, best._2, best._1 + best._2, bs)
      val affected = occ(best).toArray
      var j = 0
      while (j < affected.length) {
        val w = affected(j)
        removeWord(w)
        toks(w) = Bpe.applyMergeLocal(toks(w), best._1, best._2)
        addWord(w)
        j += 1
      }
      r += 1
    }
    merges.toSeq
  }

  /** All-Spark trainer: k rounds of distributed pair + unigram
    * counting, the DECIMAL(38,0) DIV likelihood argmax, and the shared
    * run-parity merge application — the bit-parity pin for
    * [[trainMergesLocal]] and the fallback for vocabularies too large
    * to collect (the [[Bpe.trainMergesDistributed]] stance).
    */
  def trainMergesDistributed(
      spark: SparkSession, words: DataFrame, k: Int,
      wordCol: String = "w", countCol: String = "cnt"): Seq[Merge] = {
    require(k >= 1, s"k must be >= 1: $k")
    var vocab = words.select(
      col(wordCol).as("w"), col(countCol).cast("long").as("cnt"))
      .withColumn("toks", transform(
        sequence(lit(1), length(col("w"))), i =>
          col("w").substr(i, lit(1))))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val unis = vocab
        .select(col("cnt"), explode(col("toks")).as("tok"))
        .groupBy("tok").agg(sum(col("cnt")).as("u"))
      val pairs = vocab.where(size(col("toks")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1), i =>
            struct(element_at(col("toks"), i).as("a"),
              element_at(col("toks"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("cab"))
      val scored = pairs
        .join(unis.select(col("tok").as("a"), col("u").as("ua")), Seq("a"))
        .join(unis.select(col("tok").as("b"), col("u").as("ub")), Seq("b"))
        .withColumn("score", expr(
          s"CAST(cab AS DECIMAL(38,0)) * CAST($ScoreScale AS DECIMAL(38,0))" +
            " DIV (CAST(ua AS DECIMAL(38,0)) * CAST(ub AS DECIMAL(38,0)))"))
      val best = scored.orderBy(desc("score"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best(0)
        val (a, b) = (row.getAs[String]("a"), row.getAs[String]("b"))
        merges += Merge(r.toLong, a, b, a + b, row.getAs[Long]("score"))
        vocab = vocab
          .withColumn("toks", Bpe.applyMergeUdf(a, b)(col("toks")))
          .localCheckpoint(true)
        r += 1
      }
    }
    merges.toSeq
  }

  /** Train `k` likelihood merges from a (word, count) frame —
    * driver-local under the vocab-size guard, distributed above it
    * (the [[Bpe.trainMerges]] contract).
    */
  def trainMerges(
      spark: SparkSession, words: DataFrame, k: Int,
      wordCol: String = "w", countCol: String = "cnt",
      maxLocalVocab: Long = Bpe.DefaultMaxLocalVocab,
      maxLocalBytes: Long = Bpe.DefaultMaxLocalBytes): Seq[Merge] =
    Bpe.gatedTrain(words, wordCol, countCol, maxLocalVocab, maxLocalBytes)(
      trainMergesLocal(_, k))(
      trainMergesDistributed(spark, words, k, wordCol, countCol))

  /** The corpus's single-character alphabet — driver-collected
    * (bounded by the charset, the k-means-centroid boundedness
    * argument; a few hundred rows for any natural-language corpus).
    */
  def alphabet(words: DataFrame, wordCol: String = "w"): Seq[String] =
    words.select(explode(transform(
      sequence(lit(1), length(col(wordCol))), i =>
        col(wordCol).substr(i, lit(1)))).as("ch"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted

  private val emptyStrArray = array().cast(ArrayType(StringType))

  /** Greedy longest-match-first encode of a word column against a
    * piece vocabulary (alphabet ∪ merged pieces): at each position
    * take the LONGEST vocab piece matching the remaining prefix
    * (`[UNK]` + advance 1 if none — impossible when the alphabet came
    * from the same corpus), `##`-prefix pieces at non-initial
    * positions. Row-local fold (≤ len steps, each probing ≤ maxLen
    * candidate lengths against the literal vocab array — vocab-sized
    * work per word, never a join).
    */
  def encodeGreedy(words: DataFrame, vocab: Seq[String],
      wordCol: String = "w"): DataFrame = {
    val maxLen = math.max(1, vocab.map(_.length).max)
    val vlit = array(vocab.map(lit): _*)
    val w = col(wordCol)
    words.withColumn("pieces",
      aggregate(sequence(lit(1), length(w)),
        struct(lit(0L).as("pos"), emptyStrArray.as("ps")),
        (acc, _) => {
          val pos = acc.getField("pos")
          val lBest = array_max(filter(
            sequence(lit(1), least(lit(maxLen), length(w) - pos)),
            l => array_contains(vlit, w.substr((pos + 1).cast("int"), l))))
          val piece = w.substr((pos + 1).cast("int"),
            coalesce(lBest, lit(1)).cast("int"))
          val rendered = when(lBest.isNull, lit("[UNK]"))
            .when(pos > 0, concat(lit("##"), piece))
            .otherwise(piece)
          when(pos < length(w),
            struct((pos + coalesce(lBest, lit(1))).as("pos"),
              concat(acc.getField("ps"), array(rendered)).as("ps")))
            .otherwise(acc)
        },
        acc => acc.getField("ps")))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }
}
