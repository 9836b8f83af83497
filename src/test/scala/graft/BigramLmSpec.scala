package graft

import graft.functions.DetLog
import graft.text.BigramLm
import org.apache.spark.sql.functions._

/** Pins the Stupid-Backoff bigram LM against an independent plain-Scala
  * replay of the fixed-point algebra on a corpus built so all three
  * scoring paths fire: seen bigram, unseen bigram of in-vocabulary
  * words, and out-of-vocabulary backoff.
  */
class BigramLmSpec extends SparkSpec {
  import spark.implicits._

  private val S = BigramLm.LnScale

  private def fp(n: Long): Long =
    math.floor(DetLog.lnIntRef(n) * S).toLong

  // train split (even ids): unigrams a:2 b:3 x:1 (N=6),
  // bigrams (a,b):2 (b,a):1 (b,x):1
  private val docs = Seq(
    0L -> "a b a b",
    2L -> "b x",
    1L -> "a b z x", // seen (a,b); (b,z) OOV-backoff; (z,x) backoff
    3L -> "b a b",   // unigram b; seen (b,a); seen (a,b)
    5L -> "")        // blank: absent from the output
    .toDF("doc_id", "text")

  private def run() = BigramLm.score(
    docs, docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
    .orderBy("doc_id")
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("all three scoring paths match the hand-replayed fixed point") {
    val got = run()
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val n = fp(6)
    val a = BigramLm.AlphaFp
    // doc 1: first 'a' = fp(2)-N; (a,b) seen = fp(2)-fp(2);
    // (b,z) z OOV = 0-N+alpha; (z,x) unseen, x in vocab c=1 = 0-N+alpha
    val d1 = (fp(2) - n) + (fp(2) - fp(2)) + (0 - n + a) + (fp(1) - n + a)
    // doc 3: first 'b' = fp(3)-N; (b,a) seen = fp(1)-fp(3);
    // (a,b) seen = fp(2)-fp(2)
    val d3 = (fp(3) - n) + (fp(1) - fp(3)) + (fp(2) - fp(2))
    // doc 0 (self-scored train doc): a b a b
    val d0 = (fp(2) - n) + (fp(2) - fp(2)) + (fp(1) - fp(3)) + (fp(2) - fp(2))
    // doc 2: b x
    val d2 = (fp(3) - n) + (fp(1) - fp(3))
    def avg(sum: Long, nTok: Long): Double =
      BigDecimal(sum.toDouble / (nTok.toDouble * S.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) == ((0L, 4L, avg(d0, 4))))
    assert(got(1) == ((1L, 4L, avg(d1, 4))))
    assert(got(2) == ((2L, 2L, avg(d2, 2))))
    assert(got(3) == ((3L, 3L, avg(d3, 3))))
  }

  test("backoff alpha constant is floor(ln(2/5) * 2^20)") {
    assert(BigramLm.AlphaFp ==
      math.floor(DetLog.lnRatioRef(2, 5) * S).toLong)
    assert(BigramLm.AlphaFp < 0L)
  }

  test("grouped scoring equals the per-group scoreFp union") {
    // two languages with deliberately overlapping vocabulary so a
    // cross-group count leak would change a score; every scoring path
    // (seen bigram, unseen in-vocab, OOV backoff) fires in each group
    val d = Seq(
      (0L, "en", "a b a b"), (2L, "en", "b x"),
      (1L, "en", "a b z x"), (3L, "en", "b a b"),
      (4L, "fr", "a b c"), (6L, "fr", "c c a"),
      (5L, "fr", "a c z b"), (7L, "fr", "b a"))
      .toDF("doc_id", "lang", "text")
    val train = d.where(col("doc_id") % 2 === 0)
    val got = BigramLm.scoreFpGrouped(d, train, "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Seq("en", "fr").map { l =>
      BigramLm.scoreFp(d.where(col("lang") === l),
        train.where(col("lang") === l), "doc_id", "text")
    }.reduce(_ unionByName _)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
  }

  test("keyed grouped scoring with OVERLAPPING memberships equals the " +
      "per-model scoreFp chains (the Moore-Lewis shape)") {
    // every doc scores under BOTH models; the models train on nested
    // splits (gen = the even split, in = its lang='en' slice) — the
    // model-keyed counts must not leak between the two models
    val d = Seq(
      (0L, "en", "a b a b"), (2L, "en", "b x"),
      (1L, "en", "a b z x"), (3L, "fr", "b a b"),
      (4L, "fr", "a b c"), (6L, "en", "c c a"),
      (5L, "fr", "a c z b"), (7L, "fr", "b a"))
      .toDF("doc_id", "lang", "text")
    val train = d.where(col("doc_id") % 2 === 0)
    val trainG = train
      .select(col("doc_id"), col("text"), lit("gen").as("mdl"))
      .unionByName(train.where(col("lang") === "en")
        .select(col("doc_id"), col("text"), lit("in").as("mdl")))
    val docsG = d.select(col("doc_id"), col("text"),
      explode(array(lit("gen"), lit("in"))).as("mdl"))
    val got = BigramLm
      .scoreFpGroupedKeyed(docsG, trainG, "doc_id", "text", "mdl")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val want = Seq(
      "gen" -> train,
      "in" -> train.where(col("lang") === "en")).flatMap {
      case (m, tr) =>
        BigramLm.scoreFp(d, tr, "doc_id", "text").collect()
          .map(r => (m, r.getLong(0)) -> (r.getLong(1), r.getLong(2)))
    }.toMap
    assert(got === want)
  }

  test("a document of train-seen bigrams outscores its scrambled twin") {
    val d = Seq(
      0L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      1L -> "the cat sat on the mat",
      3L -> "mat the on sat cat the")
      .toDF("doc_id", "text")
    val got = BigramLm.score(
      d, d.where(col("doc_id") % 2 === 0), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(3L))
  }

  test("q_domain_weights: a language without training docs " +
      "matches its oracle") {
    // every zh doc_id is odd, so the zh in-domain LM trains on nothing;
    // `want` is the query's DuckDB oracle output on this corpus, where
    // the zh excess clamps to 0
    val dir = java.nio.file.Files.createTempDirectory("graft-domw").toString
    Seq(
      (0L, "en", "spark join window spark"), (1L, "en", "join window scan"),
      (2L, "en", "spark scan column join"), (3L, "en", "window spark join"),
      (4L, "de", "tabelle spalte join"),
      (5L, "de", "spalte join spark tabelle"),
      (6L, "de", "join tabelle spalte"), (8L, "es", "tabla columna spark"),
      (9L, "es", "columna tabla join"), (10L, "fr", "table colonne spark join"),
      (11L, "fr", "colonne table"), (12L, "fr", "table spark colonne"),
      (13L, "zh", "spark join"), (15L, "zh", "join spark scan"),
      (17L, "zh", "scan window"))
      .toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_domain_weights")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    val want = Seq(
      ("de", 10L, 0.513971, 0.20508),
      ("en", 14L, 0.408299, 0.258321),
      ("es", 6L, 1.118054, 0.225126),
      ("fr", 9L, 0.714739, 0.22561),
      ("zh", 7L, 0.0, 0.085863))
    assert(got == want)
  }
}
