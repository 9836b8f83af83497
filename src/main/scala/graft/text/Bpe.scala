package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Distributed BPE merge training — the real version of the "token
  * counting (whitespace + BPE-ish regex)" extension category: learn the
  * top-k byte-pair merges from the corpus itself (extension; the
  * reference has no tokenizer surface).
  *
  * Classic BPE (Sennrich et al. 2016, public algorithm): train on the
  * WORD-FREQUENCY table, not the corpus — the iteration state is
  * vocab-sized (distinct words), so each round is an explode +
  * combine-reduced aggregation over thousands of rows even when the
  * corpus is 100 TB; the corpus itself is scanned exactly once (the
  * word count). Each round:
  *
  *  1. adjacent-pair counts weighted by word frequency (one hash agg);
  *  2. argmax merge — count desc, then (left, right) ascending, a
  *     total order both engines share (binary string collation);
  *  3. greedy non-overlapping merge application to every word's token
  *     list, ROW-LOCAL via higher-order functions.
  *
  * The greedy application is exact, including the self-pair case
  * (merging (a,a) in "aaaa" takes positions 0 and 2): a match at i is
  * kept iff the chain of consecutive matches immediately before it has
  * even length — computed per position from the distance to the last
  * non-match. The SAME formula renders as Spark HOFs here and as
  * DuckDB list lambdas in the oracle, so trained merges are
  * value-exact across engines.
  *
  * Each round's vocab is localCheckpointed: the per-round plan embeds
  * the previous round's, and k rounds of HOF towers would otherwise
  * stall Catalyst analysis long before the (tiny) data does — the same
  * iterative-plan discipline as k-means and connected components.
  */
object Bpe {

  /** Corpus word-frequency table: (w, cnt) — the single corpus-sized
    * scan; everything after iterates on this vocab-sized frame.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  private val emptyStrArray = array().cast(ArrayType(StringType))

  /** One greedy merge application over a token-array column.
    * Package-private: [[WordPiece]] shares the run-parity formula.
    */
  private[text] def applyMerge(toks: Column, a: String, b: String): Column = {
    val n = size(toks)
    // match flags over positions 1..n-1 (1-based like element_at)
    val mt = when(n >= 2, transform(sequence(lit(1), n - 1), i =>
      element_at(toks, i) === a && element_at(toks, i + 1) === b))
      .otherwise(array().cast(ArrayType(org.apache.spark.sql.types
        .BooleanType)))
    // greedy keep: match at i survives iff the consecutive-match chain
    // before it has even length — (i - lastNonMatchBelow(i) - 1) even.
    // sequence(1, i) then j < i inside the filter avoids the
    // descending-sequence trap of sequence(1, 0)
    // the size(mt) >= 1 guard matters twice over: sequence(1, 0) is
    // DESCENDING [1, 0] in Spark, and ANSI element_at throws on the
    // empty list it would then index
    val kt = when(size(mt) >= 1, transform(sequence(lit(1), size(mt)), i =>
      element_at(mt, i) &&
        (i - coalesce(array_max(filter(sequence(lit(1), i), j =>
          j < i && !element_at(mt, j))), lit(0)) - 1) % 2 === 0))
      .otherwise(array().cast(ArrayType(org.apache.spark.sql.types
        .BooleanType)))
    flatten(transform(sequence(lit(1), n), i =>
      when(i <= size(kt) && element_at(kt, i),
        array(concat(element_at(toks, i), element_at(toks, i + 1))))
        .when(i >= 2 && element_at(kt, i - 1), emptyStrArray)
        .otherwise(array(element_at(toks, i)))))
  }

  /** [[applyMerge]] as a primitive-loop kernel UDF over
    * [[applyMergeLocal]] — bit-identical to the Column rendering (the
    * declarative form is the specification; parity is pinned by the
    * local/distributed trainer equality specs). The HOF rendering's
    * `mt`/`kt` intermediates get INLINED by Catalyst into every one of
    * their O(n) references (no subexpression elimination inside one
    * projection), making it O(n³) per word after inlining — invisible
    * on natural vocabulary (n ≲ 30) but a wall-clock killer on the
    * URL/binary-shaped long words the byte gate routes to the
    * distributed trainer. Same discipline as
    * [[graft.functions.BloomFilter.mightContainUdf]].
    */
  private[text] def applyMergeUdf(a: String, b: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (toks: Seq[String]) =>
      applyMergeLocal(toks.toArray, a, b).toSeq
    }

  /** A trained merge: 1-based rank, the pair, the merged token, and the
    * weighted pair count that won the round.
    */
  final case class Merge(
      rank: Long, left: String, right: String, merged: String, wt: Long)

  /** Train `k` merges from a (word, count) frame.
    *
    * The iteration state of BPE training is the DISTINCT-word frequency
    * table — vocab-sized, the same boundedness argument as collecting
    * k-means centroids — so the scale-correct shape is: Spark for the
    * one corpus-sized pass ([[wordCounts]]) and for [[encode]], and a
    * DRIVER-LOCAL greedy loop with incremental pair-count maintenance
    * for the k merge rounds (Sennrich et al. 2016's reference shape).
    * The previous all-Spark trainer ([[trainMergesDistributed]]) runs
    * one Spark job per merge — correct, but k ≈ 30,000 sequential jobs
    * for a realistic tokenizer is a wall-clock killer regardless of
    * cluster size. This collects the word-count table ONCE and trains
    * any realistic k in seconds; both trainers are value-exact with
    * each other and with the DuckDB oracle (bit-parity spec pins it).
    */
  /** Vocab sizes above this train distributed instead of collecting to
    * the driver. 10M distinct words ≈ hundreds of MB of driver heap —
    * comfortably safe — while anything larger (noisy/binary corpora
    * where "distinct words" stops being vocabulary-bounded) stays on
    * the cluster. Overridable per call for constrained drivers.
    */
  val DefaultMaxLocalVocab: Long = 10L * 1000 * 1000

  /** BYTE budget for the same collect — the gate a row count alone
    * cannot provide: 10M URL-shaped "words" are several GB of driver
    * heap at a legal row count (the Triangles `estimatedAdjBytes`
    * pattern). 512 MB default, overridable per call.
    */
  val DefaultMaxLocalBytes: Long = 512L * 1024 * 1024

  /** Deliberate per-row overestimate for the collected (String, Long)
    * rows: UTF8String header + boxed long + tuple + array slot — errs
    * toward the distributed fallback.
    */
  private[text] val RowOverheadBytes = 64L

  /** One cheap aggregate over the projected vocab frame: (rows,
    * estimated driver bytes) — measured UTF-8 payload + per-row
    * overhead.
    */
  private def vocabFootprint(proj: DataFrame): (Long, Long) = {
    val r = proj.agg(count(lit(1)),
      sum(octet_length(col(proj.columns.head)))).collect()(0)
    val rows = r.getLong(0)
    val bytes = (if (r.isNullAt(1)) 0L else r.getLong(1)) +
      rows * RowOverheadBytes
    (rows, bytes)
  }

  /** Which path the last [[trainMerges]] (or
    * [[WordPiece.trainMerges]]) call took — "local" or "distributed".
    * Test-only observability for the gate spec (the two paths are
    * bit-parity, so values alone can't witness the switch fired).
    */
  @volatile private[graft] var lastTrainPath: String = ""

  def trainMerges(
      spark: SparkSession, words: DataFrame, k: Int,
      wordCol: String = "w", countCol: String = "cnt",
      maxLocalVocab: Long = DefaultMaxLocalVocab,
      maxLocalBytes: Long = DefaultMaxLocalBytes): Seq[Merge] =
    gatedTrain(words, wordCol, countCol, maxLocalVocab, maxLocalBytes)(
      trainMergesLocal(_, k))(
      trainMergesDistributed(spark, words, k, wordCol, countCol))

  /** The vocab-footprint gate both trainers ([[trainMerges]],
    * [[WordPiece.trainMerges]]) share: a cheap guard before the
    * collect, so a pathological vocabulary (not actually vocab-bounded)
    * OR pathological word LENGTHS (few rows, gigabytes — URL/binary-
    * shaped tokens) cannot OOM the driver. Under both budgets `local`
    * runs on the collected (word, count) pairs; otherwise the
    * bit-parity `distributed` trainer runs. Records [[lastTrainPath]].
    */
  private[text] def gatedTrain[A](words: DataFrame, wordCol: String,
      countCol: String, maxLocalVocab: Long, maxLocalBytes: Long)(
      local: Seq[(String, Long)] => A)(distributed: => A): A = {
    val proj = words
      .select(col(wordCol).cast("string"), col(countCol).cast("long"))
    val (vocabSize, vocabBytes) = vocabFootprint(proj)
    if (vocabSize > maxLocalVocab || vocabBytes > maxLocalBytes) {
      lastTrainPath = "distributed"
      distributed
    } else {
      lastTrainPath = "local"
      local(proj.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    }
  }

  /** Unsigned UTF-8 byte-wise `<` — the shared total order of Spark's
    * UTF8String comparison and DuckDB's default (memcmp) collation, so
    * driver-local argmax tie-breaks agree with both engines exactly.
    */
  private[text] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** Greedy left-to-right non-overlapping merge of (a,b) in `toks` —
    * the driver-local rendering of [[applyMerge]]'s run-parity formula
    * (for non-self pairs consecutive matches are impossible; for
    * self-pairs left-to-right keeps exactly the even-chain positions).
    */
  private[text] def applyMergeLocal(
      toks: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
        out += a + b; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-local greedy BPE trainer over an in-memory (word, count)
    * vocabulary with INCREMENTAL pair-count maintenance: each round
    * re-counts only the words that actually contain the winning pair
    * (tracked per pair), so round cost is proportional to the touched
    * words, not the vocabulary. The per-round argmax is a scan of the
    * live pair-count map — O(distinct pairs), vocab-bounded. Realistic
    * merge budgets (k ≥ 30k) train in seconds where the one-Spark-job-
    * per-merge shape needed k sequential jobs.
    */
  def trainMergesLocal(words: Seq[(String, Long)], k: Int): Seq[Merge] = {
    require(k >= 1, s"k must be >= 1: $k")
    val n = words.size
    val toks: Array[Array[String]] =
      words.iterator.map(_._1.toCharArray.map(_.toString)).toArray
    val freq: Array[Long] = words.iterator.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    // word indices currently containing each pair — the incremental
    // trick: only these words are re-counted when the pair wins
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    def eachPair(i: Int)(f: (String, String) => Unit): Unit = {
      val t = toks(i); var j = 0
      while (j < t.length - 1) { f(t(j), t(j + 1)); j += 1 }
    }
    def addWord(i: Int): Unit = eachPair(i) { (a, b) =>
      val p = (a, b)
      counts.update(p, counts.getOrElse(p, 0L) + freq(i))
      occ.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += i
    }
    def removeWord(i: Int): Unit = eachPair(i) { (a, b) =>
      val p = (a, b)
      val c = counts.getOrElse(p, 0L) - freq(i)
      if (c <= 0L) { counts.remove(p); occ.remove(p) }
      else { counts.update(p, c); occ.get(p).foreach(_ -= i) }
    }
    var i = 0
    while (i < n) { addWord(i); i += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    while (r <= k && counts.nonEmpty) {
      // argmax by (wt desc, a asc, b asc) under UTF-8 byte order — the
      // exact total order of the distributed/DuckDB renderings
      var best: (String, String) = null
      var bw = Long.MinValue
      counts.foreachEntry { (p, w) =>
        if (w > bw || (w == bw &&
            (utf8Lt(p._1, best._1) ||
              (p._1 == best._1 && utf8Lt(p._2, best._2)))))  {
          best = p; bw = w
        }
      }
      merges += Merge(r.toLong, best._1, best._2, best._1 + best._2, bw)
      val affected = occ(best).toArray // snapshot: updates mutate occ
      var j = 0
      while (j < affected.length) {
        val w = affected(j)
        removeWord(w)
        toks(w) = applyMergeLocal(toks(w), best._1, best._2)
        addWord(w)
        j += 1
      }
      r += 1
    }
    merges.toSeq
  }

  /** The original all-Spark trainer: k rounds of distributed pair
    * counting + HOF merge application, one Spark job (and one 1-row
    * argmax collect) per merge. Kept as the scale-out fallback for a
    * vocabulary too large to collect (pathological: distinct words are
    * bounded in any natural-language corpus) and as the bit-parity
    * pin for [[trainMergesLocal]]. Prefer [[trainMerges]].
    */
  def trainMergesDistributed(
      spark: SparkSession, words: DataFrame, k: Int,
      wordCol: String = "w", countCol: String = "cnt"): Seq[Merge] = {
    require(k >= 1, s"k must be >= 1: $k")
    // initial tokenization: one single-character token per position
    // (substr is 1-based in both engines; words are non-empty by
    // construction of the tokenizer)
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
      val pairs = vocab.where(size(col("toks")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1), i =>
            struct(element_at(col("toks"), i).as("a"),
              element_at(col("toks"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("wt"))
      val best = pairs.orderBy(desc("wt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, wt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(r.toLong, a, b, a + b, wt)
        vocab = vocab
          .withColumn("toks", applyMergeUdf(a, b)(col("toks")))
          .localCheckpoint(true)
        r += 1
      }
    }
    merges.toSeq
  }

  /** [[trainMerges]] as a DataFrame (rank, left, right, merged, wt). */
  def trainMergesDf(
      spark: SparkSession, words: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    trainMerges(spark, words, k).toDF()
      .select("rank", "left", "right", "merged", "wt")
  }

  /** Apply trained merges (in rank order) to a word frame: the encode
    * half of the tokenizer — (word, …) → + `toks` (the word's BPE
    * tokenization) + `n_toks`. Runs on the DISTINCT-word frame; corpus
    * token counts then come from an equi-join of words to this
    * vocab-sized table, never from re-encoding every occurrence.
    * Checkpoint discipline as in training: each merge's HOF tower is
    * truncated before the next (Catalyst inlines the previous round's
    * expression into every reference otherwise).
    */
  def encode(
      words: DataFrame, merges: Seq[Merge],
      wordCol: String = "w"): DataFrame = {
    val init = words
      .withColumn("toks", transform(
        sequence(lit(1), length(col(wordCol))), i =>
          col(wordCol).substr(i, lit(1))))
      .localCheckpoint(true)
    merges.sortBy(_.rank).foldLeft(init) { (df, m) =>
      df.withColumn("toks", applyMerge(col("toks"), m.left, m.right))
        .localCheckpoint(true)
    }.withColumn("n_toks", size(col("toks")).cast("long"))
  }
}
