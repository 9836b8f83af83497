package graft.queries

import graft._
import graft.similarity.VectorFunctions._
import graft.streaming.StreamFlow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search (ANN) over the `embeddings` corpus: top-k cosine
  * neighbours for a small set of query vectors.
  *
  *  - `q_ann_brute`: the exact baseline. Query vectors are collected as
  *    PARAMETERS (a handful of rows — this is the query workload, not
  *    data) and exploded as literals against the scan, so the plan is
  *    scan → generate → window, with no crossJoin and one shuffle
  *    (partition by query id for the top-k window).
  *  - `q_ann_lsh`: the scale path. Random-hyperplane band keys bucket the
  *    corpus; candidates are vectors sharing ≥1 band with the query, and
  *    only candidates pay the exact cosine + top-k. At 100 TB the bucket
  *    join shards the work across executors; recall/precision tune via
  *    bits-per-band.
  *
  * Both have DuckDB oracles: brute force is mirrored directly; the LSH
  * variant's oracle mirrors the banding pipeline value-exactly.
  */
object SimilarityQueries {
  import Q._

  private val NumQueries = 5
  private val TopK = 10

  /** Shared brute-force top-k scaffold: collect the [[NumQueries]] query
    * vectors as literal PARAMETERS (this is the query workload, not
    * data), explode them against the corpus scan, score with the native
    * codegen'd cosine expression, and keep the per-query top-k — plan is
    * scan → generate → window, no crossJoin, one shuffle.
    */
  private def bruteTopK(
      s: SparkSession, v: DataFrame, vecCol: String,
      scoreName: String): DataFrame = {
    val qRows = v.filter(col("vec_id") < NumQueries)
      .orderBy("vec_id").collect()
    val qLit = array(qRows.map { r =>
      struct(lit(r.getLong(0)).as("qid"),
        array(r.getSeq[Float](1).map(f => lit(f)): _*).as("pqv"))
    }: _*)
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc(scoreName), asc("vec_id")))
    v.select(col("vec_id"), col(vecCol), explode(qLit).as("p"))
      .select(col("p.qid").as("qid"), col("vec_id"), col(vecCol),
        col("p.pqv").as("pqv"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn(scoreName,
        graft.functions.GraftFunctions.cosineSim(s, col("pqv"), col(vecCol)))
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor"), col(scoreName),
        col("rank"))
      .orderBy("qid", "rank")
  }

  private def annBrute(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_brute")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    bruteTopK(s, emb, "embedding", "cosine")
  }

  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_lsh")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    // the query side is banded separately (NumQueries rows — trivial to
    // re-hash), so the corpus side streams through the band join exactly
    // ONCE, uncached; nothing corpus-sized is ever pinned. Candidates are
    // id-only through the join + distinct shuffles; both vectors
    // re-attach by id afterwards (the query-side attach broadcasts).
    val qb = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"),
        posexplode(planeBandKeys(col("embedding"))).as(Seq("band", "key")))
    val cb = emb.select(col("vec_id"),
      posexplode(planeBandKeys(col("embedding"))).as(Seq("band", "key")))
    val cand = qb.join(cb, Seq("band", "key"))
      .where(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc("cosine"), asc("vec_id")))
    cand
      .join(broadcast(emb.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))),
        Seq("qid"))
      .join(emb, Seq("vec_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineSim(s, col("qv"), col("embedding")))
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor"), col("cosine"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  private val NProbe = 3

  /** Trained-IVF defaults, chosen from the measured recall frontier
    * (target/RECALL_r10.json, sf0.1 embeddings): k = floor(sqrt(n))
    * clusters (the classic IVF sizing — cluster count and cluster size
    * both grow as sqrt(n), so probe cost and scan cost balance), probed
    * at nprobe = ceil(0.22·k), which measures recall@10 ≥ 0.9 while
    * scanning ≤ 0.3 of the corpus — vs 0.35 recall for the label
    * partition at the same scan budget. Both are mirrored as SQL
    * expressions in the oracle so the replay adapts with the corpus.
    */
  val IvfIters = 3
  def ivfK(n: Long): Int =
    math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)
  def ivfNProbe(k: Int): Int =
    math.max(1, math.ceil(0.22 * k).toInt)

  /** Driver-side cosine mirroring the SQL fold exactly: three separate
    * accumulators, strict left-to-right adds.
    */
  private def cosineLocal(a: Seq[Float], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** IVF ANN with a TRAINED coarse quantizer — the shipped default. A
    * k-means model is fit on the corpus itself (k = [[ivfK]] ≈ sqrt(n)
    * clusters, [[IvfIters]] bit-exact Lloyd rounds —
    * [[graft.similarity.KMeans]], oracle-replayable via the unrolled
    * CTE chain), replacing the synthetic `label` partition whose
    * defaults measured only 0.35 recall@10. Each query probes its
    * [[ivfNProbe]] nearest trained centroids; only those clusters'
    * vectors pay the exact cosine + top-k. At 100 TB this is the
    * classic IVF shape: train on a sample, broadcast the k-row centroid
    * table, pre-partition the corpus by assigned cluster — per-query
    * work is bounded by the probed partitions, never the corpus.
    */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_ivf")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    val k = ivfK(emb.count())
    val (centFp, asg) = graft.similarity.KMeans.fitModel(
      emb, "vec_id", "embedding", k, IvfIters)
    // fixed-point centroids back to raw float space for the cosine
    // probe: x / Scale - Offset — the identical IEEE ops the oracle runs
    val centroids = trainedCentroids(centFp)
    val emb2 = emb.join(asg, "vec_id")
      .select(col("vec_id"), col("embedding"),
        col("cid").cast("int").as("label"))
    ivfSearch(s, emb2, centroids, ivfNProbe(k))
  }

  /** Trained fixed-point centroid frame (cid, c: array&lt;long&gt;) →
    * probe map in raw float space: x / Scale − Offset, the identical
    * IEEE ops the oracle runs. cids are the k smallest vec_ids; the
    * int narrowing is safe unless two seeds collide mod 2^32 (a >4B-doc
    * corpus would need a dense id re-map first) — fail loudly rather
    * than mis-probe.
    */
  private[graft] def trainedCentroids(
      centFp: org.apache.spark.sql.DataFrame): Map[Int, Array[Double]] = {
    val rows = centFp.collect()
    val m: Map[Int, Array[Double]] = rows.map { r =>
      r.getLong(0).toInt ->
        r.getSeq[Long](1).map(_.toDouble / graft.similarity.KMeans.Scale
          - graft.similarity.KMeans.Offset).toArray
    }.toMap
    require(m.size == rows.length,
      "trainedCentroids: ids collide after int narrowing — re-densify ids")
    m
  }

  /** (label, d, c) centroid frame → driver map (labels × dim — tiny). */
  private[graft] def centroidsOf(cent: DataFrame): Map[Int, Array[Double]] =
    cent.collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }

  /** The IVF probe + scan tail shared by the batch query and the
    * streamed-index rendering: probe assignment for the (tiny) query
    * set happens driver-side with the same arithmetic the oracle uses;
    * only the probed clusters' vectors pay the exact cosine + top-k.
    */
  private[graft] def ivfSearch(s: SparkSession, emb: DataFrame,
      centroids: Map[Int, Array[Double]],
      nprobe: Int = NProbe, numQueries: Int = NumQueries,
      topK: Int = TopK): DataFrame = {
    val qRows = emb.filter(col("vec_id") < numQueries)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
    val probeRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1)
      centroids.toSeq
        .map { case (l, cv) => (l, cosineLocal(qv, cv)) }
        .sortBy { case (l, cc) => (-cc, l) }
        .take(nprobe)
        .map { case (l, _) => org.apache.spark.sql.Row(qid, qv, l) }
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    val probes = s.createDataFrame(
      s.sparkContext.parallelize(probeRows.toSeq, 1), probeSchema)
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc("cosine"), asc("vec_id")))
    emb.join(broadcast(probes), Seq("label"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineSim(s, col("qv"), col("embedding")))
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor"), col("cosine"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** The streamed-PQ query tail shared with the batch contract: ADC +
    * fixed-RerankFactor rerank over a postings frame
    * (vec_id, embedding, code_0..code_{M-1}) against FROZEN books —
    * output is the q_ann_pq contract (qid, neighbor, cosine, rank).
    */
  private[graft] def pqSearchFromPostings(s: SparkSession,
      post: DataFrame, books: Seq[DataFrame]): DataFrame = {
    import graft.similarity.ProductQuantizer
    val m = ProductQuantizer.NumSubspaces
    ProductQuantizer.adcRerankTopKWith(s,
      post.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      books,
      post.select(
        col("vec_id") +: (0 until m).map(i => col(s"code_$i")): _*),
      NumQueries, TopK, ProductQuantizer.RerankFactor * TopK, m)
  }

  /** int8-quantized brute-force ANN: per-vector symmetric quantization
    * (scale = 127/max|v|, q = floor(v·scale + 0.5)) then cosine over the
    * quantized vectors — per-vector scales cancel out of cosine, so no
    * dequantization step exists at all. The scale story: a 100 TB float
    * corpus shrinks 4× in the scan and the shuffle, and because every
    * quantized component is a small exact integer, the cosine arithmetic
    * is EXACT (partial sums < 2^53) — bit-identical in any engine under
    * any accumulation order, unlike the float baseline.
    */
  private def annQuantized(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_quantized")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    val v = emb
      // clamped away from 0 so an all-zero embedding quantizes to the
      // zero vector instead of NaN (oracle applies the same clamp)
      .withColumn("maxabs", greatest(
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast("double")))),
        lit(1e-30)))
      // int8 range is tiny — float carries it exactly, feeding the
      // native codegen'd cosine expression unchanged
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("maxabs"))
          + lit(0.5)).cast("float")))
      .select("vec_id", "qv")
    bruteTopK(s, v, "qv", "cosq")
  }

  /** Trained-IVF probe over an int8-quantized candidate scan — the two
    * scale levers COMPOSED, the memory-bound production shape: the
    * coarse quantizer bounds WHICH vectors are scanned (nprobe clusters
    * ≈ 0.22 of the corpus) and the int8 payload shrinks the scanned
    * bytes 4× on top. Probe decisions use the raw queries against the
    * float centroids (k rows — precision is free there); candidate
    * scoring runs entirely in quantized space, where per-vector scales
    * cancel out of cosine and the integer arithmetic is bit-exact in
    * any engine. At 100 TB this is the standard IVF deployment: the
    * float corpus never ships to the scan at all.
    */
  private def annIvfQuantized(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_ivf_quantized")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    val k = ivfK(emb.count())
    val (centFp, asg) = graft.similarity.KMeans.fitModel(
      emb, "vec_id", "embedding", k, IvfIters)
    val centroids = trainedCentroids(centFp)
    val np = ivfNProbe(k)
    // int8 scan payload (same quantization as q_ann_quantized)
    val v = emb
      // clamped away from 0 so an all-zero embedding quantizes to the
      // zero vector instead of NaN (oracle applies the same clamp)
      .withColumn("maxabs", greatest(
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast("double")))),
        lit(1e-30)))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("maxabs"))
          + lit(0.5)).cast("float")))
      .select("vec_id", "qv")
    // raw queries probe the float centroids; their QUANTIZED vectors
    // ride along for the candidate scoring
    val qRaw = emb.filter(col("vec_id") < NumQueries)
      .join(v, "vec_id").select("vec_id", "embedding", "qv")
      .orderBy("vec_id").collect()
    val probeRows = qRaw.flatMap { r =>
      val qid = r.getLong(0)
      val raw = r.getSeq[Float](1)
      val pqv = r.getSeq[Float](2)
      centroids.toSeq
        .map { case (l, cv) => (l, cosineLocal(raw, cv)) }
        .sortBy { case (l, cc) => (-cc, l) }
        .take(np)
        .map { case (l, _) => org.apache.spark.sql.Row(qid, pqv, l) }
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pqv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    val probes = s.createDataFrame(
      s.sparkContext.parallelize(probeRows.toSeq, 1), probeSchema)
    val scan = v.join(asg, "vec_id")
      .select(col("vec_id"), col("qv"), col("cid").cast("int").as("label"))
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc("cosq"), asc("vec_id")))
    scan.join(broadcast(probes), Seq("label"))
      .where(col("qid") =!= col("vec_id"))
      .withColumn("cosq",
        graft.functions.GraftFunctions.cosineSim(s, col("pqv"), col("qv")))
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor"), col("cosq"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** IVF × PQ — the memory-AND-scan-bound production index (the IVFADC
    * deployment shape, Jégou et al. 2011 §IV): the trained coarse
    * quantizer ([[ivfK]] ≈ √n lists, [[IvfIters]] Lloyd rounds) bounds
    * WHICH vectors are scanned (nprobe ≈ 0.22·k lists per query), the
    * PQ codes bound the BYTES per scanned vector (M integer codes, no
    * floats), and the exact rerank re-attaches floats for only the
    * fixed RerankFactor·k shortlist. At 100 TB the per-query cost is
    * (0.22·corpus codes scanned) × (M LUT lookups) + an output-sized
    * float fetch — both compression levers composed, which neither
    * q_ann_ivf_quantized (int8 payload, 4× not 32×) nor q_ann_pq
    * (whole-corpus code scan) achieves alone. We code raw vectors, not
    * residuals: the exact rerank re-scores the shortlist at full
    * precision, so residual coding would only perturb shortlist
    * membership (and the fixed-point k-means chain replays bit-exactly
    * either way).
    */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_ann_ivf_pq")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    val k = ivfK(emb.count())
    val (centFp, coarseAsg) = graft.similarity.KMeans.fitModel(
      emb, "vec_id", "embedding", k, IvfIters)
    val centroids = trainedCentroids(centFp)
    val np = ivfNProbe(k)
    val (books, codes) = graft.similarity.ProductQuantizer.train(
      emb, "vec_id", "embedding")
    val probes = ivfProbeFrame(s, emb, centroids, np)
    val asgL = coarseAsg.select(col("vec_id"),
      col("cid").cast("int").as("label"))
    graft.similarity.ProductQuantizer.adcIvfRerankTopKWith(
      s, emb, "vec_id", "embedding", books, codes, probes, asgL,
      NumQueries, TopK,
      graft.similarity.ProductQuantizer.RerankFactor * TopK)
  }

  /** Driver-side probe table (qid, label) for `emb`'s first
    * `numQueries` query ids against reconstructed float centroids —
    * the same raw-query-vs-float-centroid arithmetic as q_ann_ivf
    * (cosine desc, ties to the smaller label).
    */
  private[graft] def ivfProbeFrame(s: SparkSession, emb: DataFrame,
      centroids: Map[Int, Array[Double]], np: Int,
      numQueries: Int = NumQueries): DataFrame = {
    val qRows = emb.filter(col("vec_id") < numQueries)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
    val probeRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1)
      centroids.toSeq
        .map { case (l, cv) => (l, cosineLocal(qv, cv)) }
        .sortBy { case (l, cc) => (-cc, l) }
        .take(np)
        .map { case (l, _) => org.apache.spark.sql.Row(qid, l) }
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    s.createDataFrame(
      s.sparkContext.parallelize(probeRows.toSeq, 1), probeSchema)
  }

  /** The streamed-IVF×PQ query tail shared with the batch contract:
    * probed-list ADC + fixed-factor rerank over a postings frame
    * (vec_id, embedding, cid, code_0..code_{M-1}) against the FROZEN
    * coarse centroids + books; `kBoot` is the bootstrap-derived
    * cluster count the nprobe rule keys off.
    */
  private[graft] def ivfPqSearchFromPostings(s: SparkSession,
      post: DataFrame, centFp: DataFrame, books: Seq[DataFrame],
      kBoot: Int): DataFrame = {
    import graft.similarity.ProductQuantizer
    val m = ProductQuantizer.NumSubspaces
    val emb = post.select(col("vec_id"), col("embedding"))
    val probes = ivfProbeFrame(s, emb, trainedCentroids(centFp),
      ivfNProbe(kBoot))
    val asgL = post.select(col("vec_id"),
      col("cid").cast("int").as("label"))
    ProductQuantizer.adcIvfRerankTopKWith(s, emb, "vec_id", "embedding",
      books,
      post.select(
        col("vec_id") +: (0 until m).map(i => col(s"code_$i")): _*),
      probes, asgL, NumQueries, TopK,
      ProductQuantizer.RerankFactor * TopK, m)
  }

  val KMeansK = 8
  val KMeansIters = 3

  /** Distributed Lloyd k-means, bit-exact integer arithmetic (see
    * [[graft.similarity.KMeans]]); one row per (cluster, dim) with the
    * final cluster size and fixed-point centroid.
    */
  def kmeans(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = Q.conf(dir)
    val dfl = DataFlow(s, "q_kmeans")
    val emb = src(dfl, "embeddings").select("vec_id", "embedding")
    graft.similarity.KMeans.fit(emb, "vec_id", "embedding",
      k = KMeansK, iterations = KMeansIters)
      .orderBy("cid", "dim")
  }

  /** q_decontam_semantic's eval-benchmark slice (vec_id < EvalVecs) and
    * contamination threshold. The eval side models a held-out benchmark
    * suite: FIXED-size (kilobytes against a 100 TB train corpus), so it
    * is collected as query PARAMETERS and folded row-locally against the
    * train scan — one linear pass, ZERO shuffle (the naive crossJoin
    * ships |train|×|eval| rows through an exchange). For eval sets too
    * large to broadcast, the banded-candidate path (q_ann_lsh's
    * plane-band equi-join) applies instead.
    */
  private[graft] val EvalVecs = 50L

  /** Contamination threshold — a pipeline parameter. Real deployments
    * screening verbatim/paraphrase leakage sit near 0.9; this synthetic
    * corpus's cross-split max cosines span ~0.16–0.49 (no planted
    * leakage), so the query ships the τ that exercises both flag values
    * here. The operator is the screen, not the constant.
    */
  private[graft] val ContamTau = 0.35

  /** Semantic benchmark decontamination (the embedding-space analogue of
    * q_decontaminate's 5-gram overlap): flag training vectors whose max
    * cosine against ANY eval vector reaches [[ContamTau]] — the
    * SemDeDup-style cross-split screen run before training. Max over a
    * double set is order-insensitive, so the row-local fold and the
    * oracle's max() aggregate agree bit-exactly.
    */
  private def decontamSemantic(s: SparkSession, dir: String): DataFrame = {
    implicit val c: GraftConf = conf(dir)
    val dfl = DataFlow(s, "q_decontam_semantic")
    val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
    val evalRows = emb.filter(col("vec_id") < EvalVecs)
      .orderBy("vec_id").collect()
    require(evalRows.nonEmpty, "empty eval split: no vec_id < EvalVecs")
    val maxCos = graft.similarity.StreamingDecontam.maxEvalCos(
      s, evalRows.map(_.getSeq[Float](1)).toSeq, col("embedding"))
    emb.where(col("vec_id") >= EvalVecs)
      .select(col("vec_id"), maxCos.as("max_eval_cos"))
      .withColumn("contaminated", col("max_eval_cos") >= ContamTau)
      .orderBy("vec_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_decontam_semantic" -> (decontamSemantic _),
    "q_ann_brute" -> (annBrute _),
    "q_ann_lsh" -> (annLsh _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_quantized" -> (annQuantized _),
    "q_ann_ivf_quantized" -> (annIvfQuantized _),
    "q_ann_ivf_pq" -> (annIvfPq _),
    "q_kmeans" -> (kmeans _),

    // product-quantization ANN: per-subspace bit-exact k-means
    // codebooks, the corpus scan reads integer codes only (ADC lookup
    // tables), and the float vectors re-attach for just the FIXED
    // RerankFactor×k shortlist the codes nominate (exact rerank) — the
    // Jégou ADC+rerank deployment with a genuinely output-sized float
    // fetch; recall swept over the factor in RECALL_SF1_r12.json
    "q_ann_pq" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_ann_pq")
      val emb = src(dfl, "embeddings").select(col("vec_id"), col("embedding"))
      val shortlist = graft.similarity.ProductQuantizer.RerankFactor * TopK
      graft.similarity.ProductQuantizer.adcRerankTopK(
        s, emb, "vec_id", "embedding", NumQueries, TopK, shortlist)
    },

    // JL random projection + brute ANN in the 16-dim projected space:
    // 64 float dims -> 16 doubles (the deterministic LSH hyperplanes,
    // values kept instead of sign bits), 4x less candidate compute
    // and shuffle width; recall measured in RECALL_r12.json
    "q_ann_projected" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_ann_projected")
      val emb = src(dfl, "embeddings").select(col("vec_id"),
        graft.similarity.VectorFunctions.project(col("embedding")).as("pv"))
      val qRows = emb.filter(col("vec_id") < NumQueries)
        .orderBy("vec_id").collect()
      val qLit = array(qRows.map { r =>
        struct(lit(r.getLong(0)).as("qid"),
          array(r.getSeq[Double](1).map(d => lit(d)): _*).as("pqv"))
      }: _*)
      val rank = row_number().over(
        Window.partitionBy("qid").orderBy(desc("cosine_proj"), asc("vec_id")))
      emb.select(col("vec_id"), col("pv"), explode(qLit).as("p"))
        .select(col("p.qid").as("qid"), col("vec_id"), col("pv"),
          col("p.pqv").as("pqv"))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("cosine_proj",
          graft.similarity.VectorFunctions.cosine(col("pqv"), col("pv")))
        .withColumn("rank", rank.cast("bigint"))
        .where(col("rank") <= TopK)
        .select(col("qid"), col("vec_id").as("neighbor"),
          col("cosine_proj"), col("rank"))
        .orderBy("qid", "rank")
    },

    // hybrid lexical+vector retrieval: BM25 and brute-cosine rankings
    // fused by Reciprocal Rank Fusion over the corpus slice carrying
    // both text and an embedding (doc_id = vec_id)
    "q_hybrid_rrf" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_hybrid_rrf")
      val docs = src(dfl, "documents").select(col("doc_id"), col("text"))
      val emb = src(dfl, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.similarity.HybridRrf.fuse(s, docs, emb, "doc_id", "text",
        "embedding", NumQueries, TopK)
    },

    // the production hybrid deployment: same lexical leg + RRF fusion,
    // vector leg swapped from the brute corpus scan to the trained-IVF
    // probe (q_ann_ivf's k = ⌊√n⌋ quantizer, nprobe = ⌈0.22k⌉) — the
    // per-query vector cost drops from the whole corpus to the probed
    // clusters, the fusion layer is unchanged
    "q_hybrid_rrf_ivf" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_hybrid_rrf_ivf")
      val docs = src(dfl, "documents").select(col("doc_id"), col("text"))
      val embT = src(dfl, "embeddings")
      val emb = embT.select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = graft.similarity.HybridRrf.corpusOf(
        docs, emb, "doc_id", "text", "embedding")
      val lex = graft.similarity.HybridRrf.lexicalLeg(
        corpus, "doc_id", "text", NumQueries)
      // coarse quantizer trained on the FULL embeddings frame (the
      // q_ann_ivf chain — oracle-replayable); candidates restricted to
      // corpus members so both legs rank the same item universe
      val embV = embT.select(col("vec_id"), col("embedding"))
      val k = ivfK(embV.count())
      val (centFp, asg) = graft.similarity.KMeans.fitModel(
        embV, "vec_id", "embedding", k, IvfIters)
      val corpusEmb = corpus
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .join(asg, "vec_id")
        .select(col("vec_id"), col("embedding"),
          col("cid").cast("int").as("label"))
      val vec = ivfSearch(s, corpusEmb, trainedCentroids(centFp),
        ivfNProbe(k), NumQueries, graft.similarity.HybridRrf.KEach)
        .select(col("qid"), col("neighbor").as("doc_id"),
          col("rank").as("r2"))
      graft.similarity.HybridRrf.fuseRanked(lex, vec, "doc_id", TopK)
    },

    // the AMORTIZED production hybrid: identical legs and fusion, but
    // the coarse quantizer is FROZEN — trained once on the bootstrap
    // slice (batch 0 of the stream's id-range slicing rule, the
    // q_stream_ann_ivf_trained model) and never retrained, so the
    // per-invocation cost carries no n·√n training term: training work
    // is bounded by the fixed bootstrap, the corpus only pays the
    // linear frozen assignment + the probed scan. This is how a
    // production deployment amortizes training across query batches —
    // the centroid table is a persisted artifact (here rebuilt
    // deterministically from the bootstrap so the oracle replays it);
    // k and nprobe derive from the BOOTSTRAP count, exactly as the
    // streamed index computes them
    "q_hybrid_rrf_ivf_frozen" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_hybrid_rrf_ivf_frozen")
      val docs = src(dfl, "documents").select(col("doc_id"), col("text"))
      val embT = src(dfl, "embeddings")
      val emb = embT.select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = graft.similarity.HybridRrf.corpusOf(
        docs, emb, "doc_id", "text", "embedding")
      val lex = graft.similarity.HybridRrf.lexicalLeg(
        corpus, "doc_id", "text", NumQueries)
      val embV = embT.select(col("vec_id"), col("embedding"))
      // frozen quantizer from batch 0 of the stream's key-range slicing
      val b0 = embV.where(
        StreamFlow.requireKeySlices(embV, "vec_id", 3).slice(0))
      val k = ivfK(b0.count())
      val (centFp, _) = graft.similarity.KMeans.fitModel(
        b0, "vec_id", "embedding", k, IvfIters)
      // the whole corpus assigns to the frozen centroids by the
      // bit-exact integer argmin (linear, the only corpus-sized pass)
      val asg = graft.similarity.KMeans.assign(
        graft.similarity.KMeans.pointsFp(embV, "vec_id", "embedding"),
        centFp)
      val corpusEmb = corpus
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .join(asg, "vec_id")
        .select(col("vec_id"), col("embedding"),
          col("cid").cast("int").as("label"))
      val vec = ivfSearch(s, corpusEmb, trainedCentroids(centFp),
        ivfNProbe(k), NumQueries, graft.similarity.HybridRrf.KEach)
        .select(col("qid"), col("neighbor").as("doc_id"),
          col("rank").as("r2"))
      graft.similarity.HybridRrf.fuseRanked(lex, vec, "doc_id", TopK)
    },

    // frozen-quantizer DRIFT MONITOR — the operational companion to the
    // frozen deployments (and the answer to the measured frozen-recall
    // cost, RECALL_SCALE_*_r14): per-slice mean EXACT quantization
    // error + assignment imbalance against the bootstrap-trained frozen
    // centroids, normalized by the bootstrap slice's own mean
    // (drift_ratio) — the dimensionless signal that tells a deployment
    // WHEN to retrain. Slices = the stream's 3 id-range batches, so the
    // streamed fold's rows are these rows verbatim
    "q_quantizer_drift" -> { (s, dir) =>
      implicit val c: GraftConf = conf(dir)
      val dfl = DataFlow(s, "q_quantizer_drift")
      val emb = src(dfl, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val slices = StreamFlow.requireKeySlices(emb, "vec_id", 3)
      val b0 = emb.where(slices.slice(0))
      val k = ivfK(b0.count())
      val (centFp, _) = graft.similarity.KMeans.fitModel(
        b0, "vec_id", "embedding", k, IvfIters)
      graft.similarity.QuantizerDrift.withRatios(
        graft.similarity.QuantizerDrift.sliceStats(emb, centFp,
          slices.index))
        .orderBy("slice")
    })

  import OracleSql._

  /** Unrolled Lloyd-iteration replay of [[graft.similarity.KMeans]] (the
    * shared [[OracleSql.kmeansCtes]] chain): the final a{T+1} sizes the
    * clusters, c{T} carries the centroids.
    */
  private def kmeansOracle: String = {
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val t = KMeansIters
    s"""WITH ${OracleSql.kmeansCtes(KMeansK, t)},
       |sizes AS (SELECT cid, count(*) AS n_points FROM a${t + 1}
       |  GROUP BY 1)
       |SELECT ct.cid, r.range AS dim, sizes.n_points,
       |  ct.c[r.range] AS centroid_fp
       |FROM c$t ct
       |CROSS JOIN range(1, $d1) r
       |JOIN sizes ON ct.cid = sizes.cid
       |ORDER BY ct.cid, r.range""".stripMargin
  }

  /** Replay of the TRAINED-quantizer IVF: the unrolled k-means CTE
    * chain trains the identical model (k and nprobe as SQL expressions
    * of count(*), so the oracle adapts with the corpus exactly as
    * [[ivfK]]/[[ivfNProbe]] do), then probes and scans with the same
    * double arithmetic.
    */
  private[queries] def ivfTrainedOracle: String = {
    val t = IvfIters
    val kExpr =
      "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
    val npExpr =
      """(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t)},
      |cent AS (SELECT cid, list_transform(c,
      |  x -> x / ${graft.similarity.KMeans.Scale}.0
      |    - ${graft.similarity.KMeans.Offset}) AS cv FROM c$t),
      |e AS (SELECT emb.vec_id, emb.embedding, asg.cid
      |  FROM embeddings emb JOIN a${t + 1} asg
      |    ON emb.vec_id = asg.vec_id),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id < $NumQueries),
      |pr AS (SELECT qid, qv, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, qv, cid FROM (
      |    SELECT qid, qv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |cand AS (SELECT p.qid, p.qv, e.vec_id, e.embedding
      |  FROM p JOIN e ON e.cid = p.cid WHERE e.vec_id <> p.qid),
      |sc AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM cand),
      |r AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Replay of the trained-IVF probe over the int8-quantized scan:
    * the [[ivfTrainedOracle]] training + probe (raw queries vs float
    * centroids) with the candidate scoring swapped to the
    * [[annQuantized]] quantized cosine — scales cancel, integer
    * arithmetic, bit-exact.
    */
  private def ivfQuantizedOracle: String = {
    val t = IvfIters
    val kExpr =
      "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
    val npExpr =
      """(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t)},
      |qe AS (SELECT vec_id,
      |    127.0 / greatest(list_aggregate(
      |      list_transform(embedding, x -> abs(x::DOUBLE)), 'max'),
      |      1e-30) AS s,
      |    embedding FROM embeddings),
      |v AS (SELECT vec_id,
      |    list_transform(embedding, x -> floor(x::DOUBLE * s + 0.5))
      |      AS qv FROM qe),
      |cent AS (SELECT cid, list_transform(c,
      |  x -> x / ${graft.similarity.KMeans.Scale}.0
      |    - ${graft.similarity.KMeans.Offset}) AS cv FROM c$t),
      |e AS (SELECT v.vec_id, v.qv, asg.cid
      |  FROM v JOIN a${t + 1} asg ON v.vec_id = asg.vec_id),
      |q AS (SELECT emb.vec_id AS qid, emb.embedding AS qraw, v.qv AS pqv
      |  FROM embeddings emb JOIN v ON emb.vec_id = v.vec_id
      |  WHERE emb.vec_id < $NumQueries),
      |pr AS (SELECT qid, pqv, cid, ${cosineExpr("qraw", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, pqv, cid FROM (
      |    SELECT qid, pqv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |cand AS (SELECT p.qid, p.pqv, e.vec_id, e.qv
      |  FROM p JOIN e ON e.cid = p.cid WHERE e.vec_id <> p.qid),
      |sc AS (SELECT qid, vec_id, ${cosineExpr("pqv", "qv")} AS cosq
      |  FROM cand),
      |r AS (SELECT qid, vec_id, cosq, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosq DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id AS neighbor, cosq, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Replay of the FROZEN-quantizer streamed IVF
    * (`q_stream_ann_ivf_trained`): the k-means chain trains on BATCH 0
    * only (the stream's id-range slicing rule, nBatches = 3), then ALL
    * vectors assign against the frozen final centroids (the same
    * integer argmin, ties to the smaller cid), and the probe + scan
    * mirror the trained batch search. k and nprobe derive from the
    * batch-0 count exactly as the engine computes them.
    */
  /** Replay of the drift monitor: the bootstrap-trained k-means chain
    * (the frozenStreamIvfOracle rooting), the frozen whole-corpus
    * argmin WITH its exact integer distance, the id-range slicing in
    * SQL, and the two slice aggregations — every emitted double divides
    * exact integers (or one such quotient by another).
    */
  private[graft] def quantizerDriftOracle: String = {
    val t = IvfIters
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val scale = graft.similarity.KMeans.Scale
    val offset = graft.similarity.KMeans.Offset
    val b0Where =
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin
    val kExpr =
      s"""(SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
        |  FROM embeddings WHERE $b0Where)""".stripMargin
    val dist =
      s"""CAST(list_sum(list_transform(range(1, $d1),
        |      d -> (ptsall.p[d] - c$t.c[d]) * (ptsall.p[d] - c$t.c[d])))
        |  AS BIGINT)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t, b0Where)},
      |ptsall AS (SELECT vec_id, list_transform(embedding,
      |    v -> CAST(floor((CAST(v AS DOUBLE) + $offset) * $scale)
      |      AS BIGINT)) AS p
      |  FROM embeddings),
      |asgd AS (SELECT vec_id, cid, dist FROM (
      |  SELECT ptsall.vec_id, c$t.cid, $dist AS dist,
      |    row_number() OVER (PARTITION BY ptsall.vec_id
      |      ORDER BY $dist, c$t.cid) AS rn
      |  FROM ptsall, c$t) WHERE rn = 1),
      |bounds AS (SELECT min(vec_id) AS lo,
      |  ((max(vec_id) - min(vec_id)) // 3 + 1) AS step FROM embeddings),
      |sl AS (SELECT a.vec_id, (a.vec_id - b.lo) // b.step AS slice,
      |    a.dist, a.cid
      |  FROM asgd a, bounds b),
      |st AS (SELECT slice, count(*) AS n_vecs,
      |    CAST(sum(dist) AS BIGINT) AS sum_dist_fp
      |  FROM sl GROUP BY 1),
      |mx AS (SELECT slice, max(nc) AS max_nc FROM (
      |  SELECT slice, cid, count(*) AS nc FROM sl GROUP BY 1, 2)
      |  GROUP BY 1),
      |b0m AS (SELECT CAST(sum_dist_fp AS DOUBLE) / n_vecs AS base_mean
      |  FROM st WHERE slice = 0)
      |SELECT st.slice, st.n_vecs, st.sum_dist_fp,
      |  round(CAST(st.sum_dist_fp AS DOUBLE) / st.n_vecs, 6)
      |    AS mean_dist_fp,
      |  round(CAST(mx.max_nc AS DOUBLE) / st.n_vecs, 6)
      |    AS max_cluster_frac,
      |  round(CAST(st.sum_dist_fp AS DOUBLE) / st.n_vecs / b0m.base_mean,
      |    6) AS drift_ratio
      |FROM st JOIN mx USING (slice), b0m
      |ORDER BY st.slice""".stripMargin
  }

  private[graft] def frozenStreamIvfOracle: String = {
    val t = IvfIters
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val scale = graft.similarity.KMeans.Scale
    val offset = graft.similarity.KMeans.Offset
    // slice 0 of StreamFlow.KeySlices: step = (hi-lo)/3 + 1 (floor,
    // non-negative operands so Spark's truncation == DuckDB's //)
    val b0Where =
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin
    val kExpr =
      s"""(SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
        |  FROM embeddings WHERE $b0Where)""".stripMargin
    val npExpr =
      s"""(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings WHERE $b0Where)""".stripMargin
    val dist =
      s"""CAST(list_sum(list_transform(range(1, $d1),
        |      d -> (ptsall.p[d] - c$t.c[d]) * (ptsall.p[d] - c$t.c[d])))
        |  AS BIGINT)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t, b0Where)},
      |ptsall AS (SELECT vec_id, list_transform(embedding,
      |    v -> CAST(floor((CAST(v AS DOUBLE) + $offset) * $scale)
      |      AS BIGINT)) AS p
      |  FROM embeddings),
      |asgall AS (SELECT vec_id, cid FROM (
      |  SELECT ptsall.vec_id, c$t.cid,
      |    row_number() OVER (PARTITION BY ptsall.vec_id
      |      ORDER BY $dist, c$t.cid) AS rn
      |  FROM ptsall, c$t) WHERE rn = 1),
      |cent AS (SELECT cid, list_transform(c,
      |  x -> x / $scale.0 - $offset) AS cv FROM c$t),
      |e AS (SELECT emb.vec_id, emb.embedding, asgall.cid
      |  FROM embeddings emb JOIN asgall ON emb.vec_id = asgall.vec_id),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id < $NumQueries),
      |pr AS (SELECT qid, qv, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, qv, cid FROM (
      |    SELECT qid, qv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |cand AS (SELECT p.qid, p.qv, e.vec_id, e.embedding
      |  FROM p JOIN e ON e.cid = p.cid WHERE e.vec_id <> p.qid),
      |sc AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM cand),
      |r AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Replay of the SPLIT-maintenance deployment
    * (q_stream_ann_ivf_split): the [[frozenStreamIvfOracle]] bootstrap
    * chain, then ONE [[graft.similarity.StreamingIvf.splitCells]] step
    * in SQL — the largest frozen cell (ties to the lower cid) splits
    * by a 2-means on its OWN members (seeds = the cell's two lowest
    * vec_ids, the Lloyd init rule; [[IvfIters]] unrolled rounds), the
    * child with the smaller seed keeps the parent cid and the other
    * takes max(cid)+1, and ONE global integer argmin reassigns the
    * corpus against the grown table — bit-exact through training,
    * split, reassignment, and the probe at the grown-k-fitted nprobe.
    */
  private[graft] def splitStreamIvfOracle: String = {
    val t = IvfIters
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val scale = graft.similarity.KMeans.Scale
    val offset = graft.similarity.KMeans.Offset
    val b0Where =
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin
    val kExpr =
      s"""(SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
        |  FROM embeddings WHERE $b0Where)""".stripMargin
    // nprobe fitted to the GROWN k = bootstrap k + 1
    val npExpr =
      s"""(SELECT greatest(1, CAST(ceil(0.22 * (floor(sqrt(count(*)))
        |  + 1)) AS BIGINT)) FROM embeddings WHERE $b0Where)""".stripMargin
    def distG(p: String, c: String) =
      s"""CAST(list_sum(list_transform(range(1, $d1),
        |      d -> ($p[d] - $c[d]) * ($p[d] - $c[d]))) AS BIGINT)"""
        .stripMargin
    def basg(i: Int) =
      s"""b$i AS (SELECT vec_id, cid FROM (
        |  SELECT cp.vec_id, s${i - 1}.cid,
        |    row_number() OVER (PARTITION BY cp.vec_id
        |      ORDER BY ${distG("cp.p", s"s${i - 1}.c")}, s${i - 1}.cid)
        |      AS rn
        |  FROM cp, s${i - 1}) WHERE rn = 1)""".stripMargin
    def scent(i: Int) =
      s"""s$i AS (SELECT cid, list(cv ORDER BY dim) AS c FROM (
        |  SELECT cid, r.range AS dim,
        |    CAST(sum(p[r.range]) AS BIGINT) // count(*) AS cv
        |  FROM b$i JOIN cp USING (vec_id), range(1, $d1) r
        |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    val splitRounds = (1 to t).flatMap(i => Seq(basg(i), scent(i)))
      .mkString(",\n")
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t, b0Where)},
      |ptsall AS (SELECT vec_id, list_transform(embedding,
      |    v -> CAST(floor((CAST(v AS DOUBLE) + $offset) * $scale)
      |      AS BIGINT)) AS p
      |  FROM embeddings),
      |asgall AS (SELECT vec_id, cid FROM (
      |  SELECT ptsall.vec_id, c$t.cid,
      |    row_number() OVER (PARTITION BY ptsall.vec_id
      |      ORDER BY ${distG("ptsall.p", s"c$t.c")}, c$t.cid) AS rn
      |  FROM ptsall, c$t) WHERE rn = 1),
      |sizes AS (SELECT cid, count(*) AS n FROM asgall GROUP BY 1),
      |big AS (SELECT cid FROM sizes ORDER BY n DESC, cid LIMIT 1),
      |cp AS (SELECT ptsall.vec_id, ptsall.p
      |  FROM ptsall JOIN asgall USING (vec_id)
      |  WHERE asgall.cid = (SELECT cid FROM big)),
      |s0 AS (SELECT vec_id AS cid, p AS c FROM cp
      |  ORDER BY vec_id LIMIT 2),
      |$splitRounds,
      |ch AS (SELECT cid AS scid, c FROM s$t),
      |centg AS (
      |  SELECT cid, c FROM c$t WHERE cid <> (SELECT cid FROM big)
      |  UNION ALL
      |  SELECT CASE WHEN scid = (SELECT min(scid) FROM ch)
      |      THEN (SELECT cid FROM big)
      |      ELSE (SELECT max(cid) + 1 FROM c$t) END AS cid, c FROM ch),
      |asg2 AS (SELECT vec_id, cid FROM (
      |  SELECT ptsall.vec_id, centg.cid,
      |    row_number() OVER (PARTITION BY ptsall.vec_id
      |      ORDER BY ${distG("ptsall.p", "centg.c")}, centg.cid) AS rn
      |  FROM ptsall, centg) WHERE rn = 1),
      |centv AS (SELECT cid, list_transform(c,
      |  x -> x / $scale.0 - $offset) AS cv FROM centg),
      |e AS (SELECT emb.vec_id, emb.embedding, asg2.cid
      |  FROM embeddings emb JOIN asg2 ON emb.vec_id = asg2.vec_id),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id < $NumQueries),
      |pr AS (SELECT qid, qv, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN centv),
      |p AS (SELECT qid, qv, cid FROM (
      |    SELECT qid, qv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |cand AS (SELECT p.qid, p.qv, e.vec_id, e.embedding
      |  FROM p JOIN e ON e.cid = p.cid WHERE e.vec_id <> p.qid),
      |sc AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM cand),
      |r AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Label-partition IVF replay — retained as the STREAMING index's
    * oracle: [[graft.similarity.StreamingIvf]] folds per-LABEL decimal
    * sums across micro-batches, so the streamed search equals this
    * computation exactly (the batch default moved to the trained
    * quantizer above).
    */
  private[queries] val labelIvfOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      |cd AS (
      |  SELECT label, d,
      |    CAST(SUM(CAST(embedding[d] AS DECIMAL(38,15))) AS DOUBLE)
      |      / count(*) AS c
      |  FROM e, range(1, ${graft.similarity.VectorFunctions.Dim + 1}) t(d)
      |  GROUP BY label, d),
      |cent AS (SELECT label, list(c ORDER BY d) AS cv FROM cd
      |  GROUP BY label),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM e
      |  WHERE vec_id < $NumQueries),
      |a AS (SELECT qid, qv, label, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, qv, label FROM (
      |    SELECT qid, qv, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, label)
      |        AS rn
      |    FROM a) WHERE rn <= $NProbe),
      |cand AS (SELECT p.qid, p.qv, e.vec_id, e.embedding
      |  FROM p JOIN e ON e.label = p.label WHERE e.vec_id <> p.qid),
      |sc AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM cand),
      |r AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  /** One subspace's unrolled PQ training chain: the [[OracleSql.kmeansCtes]]
    * replay re-rooted at a [[graft.similarity.ProductQuantizer.SubDim]]-wide
    * slice of the embedding, CTE names suffixed `_m<m>`.
    */
  private def pqChain(m: Int, trainWhere: String = ""): String = {
    import graft.similarity.KMeans.{Offset, Scale}
    import graft.similarity.ProductQuantizer.{CodebookK, Iters, SubDim}
    val d1 = SubDim + 1
    val p = s"m$m"
    // training points: the full slice frame, or (frozen-quantizer
    // streamed rendering) only the bootstrap-batch rows — the FINAL
    // assignment below always runs over the full frame
    val trainSrc = if (trainWhere.isEmpty) s"pts_$p" else s"ptst_$p"
    val ptstCte =
      if (trainWhere.isEmpty) ""
      else s"""ptst_$p AS MATERIALIZED (SELECT * FROM pts_$p
              |  WHERE $trainWhere),
              |""".stripMargin
    def dist(pp: String, cc: String) =
      s"""CAST(list_sum(list_transform(range(1, $d1),
         |      d -> ($pp[d] - $cc[d]) * ($pp[d] - $cc[d]))) AS BIGINT)"""
        .stripMargin
    // every chain CTE is MATERIALIZED: DuckDB 1.0 inlines
    // single-reference CTEs, and the final 2M-way join of inlined
    // window subtrees sends the optimizer into a multi-minute plan —
    // materialization pins each 500-to-n-row stage to one evaluation
    def asg(i: Int, src: String) =
      s"""a${i}_$p AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT $src.vec_id, c${i - 1}_$p.cid,
         |    row_number() OVER (PARTITION BY $src.vec_id
         |      ORDER BY ${dist(s"$src.p", s"c${i - 1}_$p.c")},
         |        c${i - 1}_$p.cid) AS rn
         |  FROM $src, c${i - 1}_$p) WHERE rn = 1)""".stripMargin
    def cent(i: Int) =
      s"""c${i}_$p AS MATERIALIZED (SELECT cid, list(cv ORDER BY dim) AS c
         |  FROM (
         |  SELECT cid, r.range AS dim,
         |    CAST(sum(p[r.range]) AS BIGINT) // count(*) AS cv
         |  FROM a${i}_$p JOIN $trainSrc USING (vec_id), range(1, $d1) r
         |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    val rounds = (1 to Iters).flatMap(i => Seq(asg(i, trainSrc), cent(i)))
      .mkString(",\n")
    s"""pts_$p AS MATERIALIZED (SELECT vec_id, list_transform(
       |    list_slice(embedding, ${m * SubDim + 1}, ${(m + 1) * SubDim}),
       |    v -> CAST(floor((CAST(v AS DOUBLE) + $Offset) * $Scale)
       |      AS BIGINT)) AS p
       |  FROM embeddings),
       |${ptstCte}c0_$p AS MATERIALIZED (SELECT vec_id AS cid, p AS c
       |  FROM $trainSrc
       |  ORDER BY vec_id LIMIT $CodebookK),
       |$rounds,
       |${asg(Iters + 1, s"pts_$p")},
       |crec_$p AS MATERIALIZED (SELECT cid, list_transform(c,
       |  x -> CAST(CAST(x AS DOUBLE) / $Scale.0 - $Offset AS FLOAT))
       |  AS cv FROM c${Iters}_$p),
       |qs_$p AS MATERIALIZED (SELECT qid,
       |  list_slice(qv, ${m * SubDim + 1}, ${(m + 1) * SubDim}) AS qs
       |  FROM q),
       |lut_$p AS MATERIALIZED (SELECT qs_$p.qid, crec_$p.cid,
       |  ${OracleSql.dotExpr("qs", "cv", SubDim)} AS dot,
       |  ${OracleSql.dotExpr("cv", "cv", SubDim)} AS nsq
       |  FROM qs_$p CROSS JOIN crec_$p)""".stripMargin
  }

  /** ADC replay: one training chain per subspace, codes joined on
    * vec_id, the blocked sums assembled in the engine's strict-left
    * association.
    */
  private def annPqOracle: String = pqOracle("")

  /** Replay of the FROZEN-book streamed PQ (`q_stream_ann_pq`): each
    * subspace chain trains on batch 0 of the stream's id-range slicing
    * only, the final code assignment runs over the whole corpus — the
    * [[frozenStreamIvfOracle]] rule applied to the PQ chains.
    */
  private[graft] def frozenStreamPqOracle: String =
    pqOracle(
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin)

  private def pqOracle(trainWhere: String): String = {
    import graft.similarity.ProductQuantizer.{Iters, NumSubspaces, RerankFactor}
    val f = Iters + 1
    val ms = 0 until NumSubspaces
    val codesCols = ms.map(i => s"a${f}_m$i.cid AS k$i").mkString(", ")
    val codesJoins = ms.tail
      .map(i => s"JOIN a${f}_m$i USING (vec_id)").mkString(" ")
    val lutJoins = ms.map { i =>
      if (i == 0) s"JOIN lut_m0 l0 ON l0.cid = codes.k0"
      else s"JOIN lut_m$i l$i ON l$i.qid = l0.qid AND l$i.cid = codes.k$i"
    }.mkString("\n  ")
    def blocked(f0: String): String =
      ms.map(i => s"l$i.$f0").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id < $NumQueries),
      |qn AS (SELECT qid, sqrt(${cosDot("qv", "qv")}) AS qnorm FROM q),
      |${ms.map(i => pqChain(i, trainWhere)).mkString(",\n")},
      |codes AS MATERIALIZED (SELECT a${f}_m0.vec_id, $codesCols
      |  FROM a${f}_m0 $codesJoins),
      |sc AS (SELECT l0.qid, codes.vec_id,
      |    ${blocked("dot")} AS num,
      |    ${blocked("nsq")} AS nsq
      |  FROM codes
      |  $lutJoins
      |  WHERE codes.vec_id <> l0.qid),
      |fin AS (SELECT sc.qid, vec_id,
      |    num / (qn.qnorm * sqrt(nsq)) AS cosine_pq
      |  FROM sc JOIN qn ON sc.qid = qn.qid),
      |r AS MATERIALIZED (SELECT qid, vec_id, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine_pq DESC, vec_id) AS adcrank
      |  FROM fin),
      |sl AS (SELECT qid, vec_id FROM r
      |  WHERE adcrank <= ${RerankFactor * TopK}),
      |rr AS (SELECT sl.qid, sl.vec_id,
      |    ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM sl JOIN embeddings e ON sl.vec_id = e.vec_id
      |    JOIN q ON sl.qid = q.qid),
      |rk AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rr)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM rk WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Replay of the IVF × PQ composition: the [[ivfTrainedOracle]]
    * coarse chain (unsuffixed CTE names) trains the probe map, the
    * [[pqChain]] per-subspace chains (suffixed `_m<i>`) train the
    * codebooks, the candidate set is the probed lists' codes, and the
    * ADC + fixed-shortlist rerank replay the [[pqOracle]] tail. The
    * two chains share only the `q` query CTE; all other names are
    * disjoint by the suffix convention.
    */
  private def annIvfPqOracle: String = ivfPqOracle("")

  /** Replay of the FROZEN streamed IVF×PQ (`q_stream_ann_ivf_pq`):
    * both the coarse chain and every PQ subspace chain train on batch 0
    * of the stream's id-range slicing; the whole corpus then assigns to
    * the frozen centroids ([[frozenStreamIvfOracle]]'s `asgall` rule)
    * and to the frozen books (pqChain's full-frame final assignment);
    * k and nprobe derive from the batch-0 count.
    */
  private[graft] def frozenStreamIvfPqOracle: String =
    ivfPqOracle(
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin)

  private def ivfPqOracle(trainWhere: String): String = {
    import graft.similarity.ProductQuantizer.{Iters, NumSubspaces, RerankFactor}
    import graft.similarity.KMeans.{Offset, Scale}
    val t = IvfIters
    val f = Iters + 1
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val ms = 0 until NumSubspaces
    val whereSql = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val kExpr =
      s"(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings$whereSql)"
    val npExpr =
      s"""(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings$whereSql)""".stripMargin
    // frozen rendering: the coarse chain's own assignment covers only
    // the training rows, so the WHOLE corpus re-assigns against the
    // final frozen centroids (the frozenStreamIvfOracle rule)
    val dist =
      s"""CAST(list_sum(list_transform(range(1, $d1),
        |      d -> (ptsall.p[d] - c$t.c[d]) * (ptsall.p[d] - c$t.c[d])))
        |  AS BIGINT)""".stripMargin
    val frozenCtes =
      if (trainWhere.isEmpty) ""
      else
        s"""ptsall AS (SELECT vec_id, list_transform(embedding,
          |    v -> CAST(floor((CAST(v AS DOUBLE) + $Offset) * $Scale)
          |      AS BIGINT)) AS p
          |  FROM embeddings),
          |asgall AS (SELECT vec_id, cid FROM (
          |  SELECT ptsall.vec_id, c$t.cid,
          |    row_number() OVER (PARTITION BY ptsall.vec_id
          |      ORDER BY $dist, c$t.cid) AS rn
          |  FROM ptsall, c$t) WHERE rn = 1),
          |""".stripMargin
    val asgSrc = if (trainWhere.isEmpty) s"a${t + 1}" else "asgall"
    val codesCols = ms.map(i => s"a${f}_m$i.cid AS k$i").mkString(", ")
    val codesJoins = ms.tail
      .map(i => s"JOIN a${f}_m$i USING (vec_id)").mkString(" ")
    val lutJoins = ms.map(i =>
      s"JOIN lut_m$i l$i ON l$i.qid = cand.qid AND l$i.cid = cand.k$i")
      .mkString("\n  ")
    def blocked(f0: String): String =
      ms.map(i => s"l$i.$f0").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |  WHERE vec_id < $NumQueries),
      |qn AS (SELECT qid, sqrt(${cosDot("qv", "qv")}) AS qnorm FROM q),
      |${OracleSql.kmeansCtes(kExpr, t, trainWhere)},
      |${frozenCtes}cent AS (SELECT cid, list_transform(c,
      |  x -> x / $Scale.0
      |    - $Offset) AS cv FROM c$t),
      |prb AS (SELECT qid, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM prb) WHERE rn <= $npExpr),
      |${ms.map(i => pqChain(i, trainWhere)).mkString(",\n")},
      |codes AS MATERIALIZED (SELECT a${f}_m0.vec_id, $codesCols
      |  FROM a${f}_m0 $codesJoins),
      |cand AS MATERIALIZED (SELECT p.qid, codes.vec_id,
      |    ${ms.map(i => s"codes.k$i").mkString(", ")}
      |  FROM p JOIN $asgSrc asg ON asg.cid = p.cid
      |  JOIN codes ON codes.vec_id = asg.vec_id
      |  WHERE codes.vec_id <> p.qid),
      |sc AS (SELECT cand.qid, cand.vec_id,
      |    ${blocked("dot")} AS num,
      |    ${blocked("nsq")} AS nsq
      |  FROM cand
      |  $lutJoins),
      |fin AS (SELECT sc.qid, vec_id,
      |    num / (qn.qnorm * sqrt(nsq)) AS cosine_pq
      |  FROM sc JOIN qn ON sc.qid = qn.qid),
      |r AS MATERIALIZED (SELECT qid, vec_id, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine_pq DESC, vec_id) AS adcrank
      |  FROM fin),
      |sl AS (SELECT qid, vec_id FROM r
      |  WHERE adcrank <= ${RerankFactor * TopK}),
      |rr AS (SELECT sl.qid, sl.vec_id,
      |    ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM sl JOIN embeddings e ON sl.vec_id = e.vec_id
      |    JOIN q ON sl.qid = q.qid),
      |rk AS (SELECT qid, vec_id, cosine, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rr)
      |SELECT qid, vec_id AS neighbor, cosine, rank
      |FROM rk WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** Full-width dot for the query norm (the oracle's list_reduce). */
  private def cosDot(a: String, b: String): String =
    OracleSql.dotExpr(a, b)

  /** JL projection replay: the same 3-decimal plane literals the
    * engine's planeLit parses, folded by the oracle's list_reduce.
    */
  private def annProjectedOracle: String = {
    import graft.similarity.VectorFunctions.NumPlanes
    val proj = (0 until NumPlanes).map { p =>
      val plane = graft.similarity.VectorFunctions.planeSqlLiterals(p)
        .mkString("([", ", ", "]::DOUBLE[])")
      s"(${OracleSql.dotExpr("embedding", plane)})"
    }.mkString("[", ",\n", "]")
    def cos16(a: String, b: String): String =
      s"(${OracleSql.dotExpr(a, b, NumPlanes)}) / " +
        s"(sqrt(${OracleSql.dotExpr(a, a, NumPlanes)}) * " +
        s"sqrt(${OracleSql.dotExpr(b, b, NumPlanes)}))"
    s"""WITH pr AS MATERIALIZED (SELECT vec_id, $proj AS pv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, pv AS qv FROM pr
      |  WHERE vec_id < $NumQueries),
      |sc AS (SELECT qid, vec_id, ${cos16("qv", "pv")} AS cosine_proj
      |  FROM q JOIN pr ON vec_id <> qid),
      |r AS (SELECT qid, vec_id, cosine_proj, row_number() OVER
      |  (PARTITION BY qid ORDER BY cosine_proj DESC, vec_id) AS rank
      |  FROM sc)
      |SELECT qid, vec_id AS neighbor, cosine_proj, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** The hybrid retriever's shared CTE prefix (corpus join + tokenised
    * text + the BM25 lexical leg ending in `lex(qid, doc_id, r1)`) and
    * its shared fusion tail — both hybrid oracles are these around a
    * different vector leg named `vec(qid, doc_id, r2)`.
    */
  private def hybridLexCtes: String = {
    import graft.text.Bm25.{B, K1, K1Plus1, OneMinusB, Scale}
    import graft.similarity.HybridRrf.{KEach, QueryTerms}
    s"""corpus AS (SELECT d.doc_id, d.text, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |tw AS (SELECT doc_id, embedding,
      |  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |       ELSE string_split_regex(trim(text), '\\s+') END AS w
      |  FROM corpus),
      |qt AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(list_slice(w, 1, $QueryTerms))) AS term
      |  FROM tw WHERE doc_id < $NumQueries),
      |t AS (SELECT doc_id, unnest(w) AS term FROM tw),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |nn AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
      |  FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
      |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |${graft.functions.DetLog.lnRatioCtes("idfq", "dfq, nn",
          "2 * n_docs - 2 * df + 1", "2 * df + 1", "idf",
          Seq("term", "df"))},
      |sc AS (SELECT doc_id, term, CAST(floor(
      |    idf
      |      * (CAST(tf AS DOUBLE) * $K1Plus1)
      |      / (CAST(tf AS DOUBLE) + $K1 * ($OneMinusB
      |        + $B * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
      |          / CAST(tot AS DOUBLE)))
      |      * ${Scale.toDouble}) AS BIGINT) AS c
      |  FROM tf JOIN idfq USING (term) JOIN dl USING (doc_id), nn),
      |lexall AS (SELECT qt.qid, s.doc_id,
      |    CAST(sum(s.c) AS BIGINT) AS score_fp
      |  FROM sc s JOIN qt ON s.term = qt.term
      |  WHERE s.doc_id <> qt.qid GROUP BY 1, 2),
      |lex AS (SELECT qid, doc_id, r1 FROM (
      |    SELECT qid, doc_id, row_number() OVER
      |      (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS r1
      |    FROM lexall) WHERE r1 <= $KEach)""".stripMargin
  }

  private def hybridFusionTail: String = {
    import graft.similarity.HybridRrf.RrfK
    s"""fused AS (SELECT coalesce(l.qid, v.qid) AS qid,
      |    coalesce(l.doc_id, v.doc_id) AS doc_id,
      |    coalesce(1.0 / ($RrfK + CAST(l.r1 AS DOUBLE)), 0.0)
      |      + coalesce(1.0 / ($RrfK + CAST(v.r2 AS DOUBLE)), 0.0) AS rrf
      |  FROM lex l FULL OUTER JOIN vec v
      |    ON l.qid = v.qid AND l.doc_id = v.doc_id),
      |r AS (SELECT qid, doc_id, rrf, row_number() OVER
      |  (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank FROM fused)
      |SELECT qid, doc_id, round(rrf, 6) AS rrf_score, rank
      |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** The production hybrid: the [[hybridLexCtes]] lexical leg, the
    * [[ivfTrainedOracle]] training + probe as the vector leg
    * (candidates restricted to corpus members), the same fusion tail.
    */
  private def hybridRrfIvfOracle: String = {
    import graft.similarity.HybridRrf.KEach
    val t = IvfIters
    val kExpr =
      "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
    val npExpr =
      """(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t)},
      |$hybridLexCtes,
      |cent AS (SELECT cid, list_transform(c,
      |  x -> x / ${graft.similarity.KMeans.Scale}.0
      |    - ${graft.similarity.KMeans.Offset}) AS cv FROM c$t),
      |ce AS (SELECT tw.doc_id, tw.embedding, asg.cid
      |  FROM tw JOIN a${t + 1} asg ON tw.doc_id = asg.vec_id),
      |q AS (SELECT doc_id AS qid, embedding AS qv FROM tw
      |  WHERE doc_id < $NumQueries),
      |pr AS (SELECT qid, qv, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, qv, cid FROM (
      |    SELECT qid, qv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |vsc AS (SELECT p.qid, ce.doc_id,
      |    ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM p JOIN ce ON ce.cid = p.cid WHERE ce.doc_id <> p.qid),
      |vec AS (SELECT qid, doc_id, r2 FROM (
      |    SELECT qid, doc_id, row_number() OVER
      |      (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS r2
      |    FROM vsc) WHERE r2 <= $KEach),
      |$hybridFusionTail""".stripMargin
  }

  /** The amortized hybrid: [[hybridRrfIvfOracle]]'s legs and fusion,
    * but the k-means chain trains on BATCH 0 only (the
    * [[frozenStreamIvfOracle]] rooting) and the whole corpus assigns
    * against the frozen final centroids before the probe; k and nprobe
    * derive from the bootstrap count.
    */
  private def hybridRrfIvfFrozenOracle: String = {
    import graft.similarity.HybridRrf.KEach
    val t = IvfIters
    val d1 = graft.similarity.VectorFunctions.Dim + 1
    val scale = graft.similarity.KMeans.Scale
    val offset = graft.similarity.KMeans.Offset
    val b0Where =
      """vec_id < (SELECT min(vec_id)
        |  + ((max(vec_id) - min(vec_id)) // 3 + 1) FROM embeddings)"""
        .stripMargin
    val kExpr =
      s"""(SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
        |  FROM embeddings WHERE $b0Where)""".stripMargin
    val npExpr =
      s"""(SELECT greatest(1, CAST(ceil(0.22 * floor(sqrt(count(*))))
        |  AS BIGINT)) FROM embeddings WHERE $b0Where)""".stripMargin
    val dist =
      s"""CAST(list_sum(list_transform(range(1, $d1),
        |      d -> (ptsall.p[d] - c$t.c[d]) * (ptsall.p[d] - c$t.c[d])))
        |  AS BIGINT)""".stripMargin
    s"""WITH ${OracleSql.kmeansCtes(kExpr, t, b0Where)},
      |$hybridLexCtes,
      |ptsall AS (SELECT vec_id, list_transform(embedding,
      |    v -> CAST(floor((CAST(v AS DOUBLE) + $offset) * $scale)
      |      AS BIGINT)) AS p
      |  FROM embeddings),
      |asgall AS (SELECT vec_id, cid FROM (
      |  SELECT ptsall.vec_id, c$t.cid,
      |    row_number() OVER (PARTITION BY ptsall.vec_id
      |      ORDER BY $dist, c$t.cid) AS rn
      |  FROM ptsall, c$t) WHERE rn = 1),
      |cent AS (SELECT cid, list_transform(c,
      |  x -> x / $scale.0 - $offset) AS cv FROM c$t),
      |ce AS (SELECT tw.doc_id, tw.embedding, asgall.cid
      |  FROM tw JOIN asgall ON tw.doc_id = asgall.vec_id),
      |q AS (SELECT doc_id AS qid, embedding AS qv FROM tw
      |  WHERE doc_id < $NumQueries),
      |pr AS (SELECT qid, qv, cid, ${cosineExpr("qv", "cv")} AS cc
      |  FROM q CROSS JOIN cent),
      |p AS (SELECT qid, qv, cid FROM (
      |    SELECT qid, qv, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid)
      |        AS rn
      |    FROM pr) WHERE rn <= $npExpr),
      |vsc AS (SELECT p.qid, ce.doc_id,
      |    ${cosineExpr("qv", "embedding")} AS cosine
      |  FROM p JOIN ce ON ce.cid = p.cid WHERE ce.doc_id <> p.qid),
      |vec AS (SELECT qid, doc_id, r2 FROM (
      |    SELECT qid, doc_id, row_number() OVER
      |      (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS r2
      |    FROM vsc) WHERE r2 <= $KEach),
      |$hybridFusionTail""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_kmeans" -> kmeansOracle,
    "q_hybrid_rrf_ivf_frozen" -> hybridRrfIvfFrozenOracle,
    "q_ann_pq" -> annPqOracle,
    "q_ann_ivf_pq" -> annIvfPqOracle,
    "q_ann_projected" -> annProjectedOracle,
    "q_hybrid_rrf_ivf" -> hybridRrfIvfOracle,
    // BM25 replay (the q_bm25 CTE chain re-rooted at the corpus join +
    // per-query fan-out), brute-cosine replay, then the RRF sum — two
    // exact integer divisions, lexical term first in both engines
    "q_hybrid_rrf" -> {
      import graft.similarity.HybridRrf.KEach
      s"""WITH $hybridLexCtes,
        |q AS (SELECT doc_id AS qid, embedding AS qv FROM tw
        |  WHERE doc_id < $NumQueries),
        |vs AS (SELECT q.qid, c.doc_id,
        |    ${cosineExpr("qv", "embedding")} AS cosine
        |  FROM q CROSS JOIN tw c WHERE c.doc_id <> q.qid),
        |vec AS (SELECT qid, doc_id, r2 FROM (
        |    SELECT qid, doc_id, row_number() OVER
        |      (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS r2
        |    FROM vs) WHERE r2 <= $KEach),
        |$hybridFusionTail""".stripMargin
    },
    "q_decontam_semantic" ->
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS evv
        |  FROM embeddings WHERE vec_id < $EvalVecs),
        |tr AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id >= $EvalVecs),
        |p AS (SELECT vec_id,
        |    max(${cosineExpr("evv", "embedding")}) AS max_eval_cos
        |  FROM tr CROSS JOIN ev GROUP BY vec_id)
        |SELECT vec_id, max_eval_cos,
        |  max_eval_cos >= $ContamTau AS contaminated
        |FROM p ORDER BY vec_id""".stripMargin,
    "q_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < $NumQueries),
        |p AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
        |  FROM q JOIN embeddings ON vec_id <> qid),
        |r AS (SELECT qid, vec_id, cosine, row_number() OVER
        |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM p)
        |SELECT qid, vec_id AS neighbor, cosine, rank
        |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin,
    "q_ann_quantized" ->
      s"""WITH qe AS (SELECT vec_id,
        |    127.0 / greatest(list_aggregate(
        |      list_transform(embedding, x -> abs(x::DOUBLE)), 'max'),
        |      1e-30) AS s,
        |    embedding FROM embeddings),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> floor(x::DOUBLE * s + 0.5))
        |      AS qv FROM qe),
        |q AS (SELECT vec_id AS qid, qv AS pqv FROM v
        |  WHERE vec_id < $NumQueries),
        |p AS (SELECT qid, vec_id, ${cosineExpr("pqv", "qv")} AS cosq
        |  FROM q JOIN v ON vec_id <> qid),
        |r AS (SELECT qid, vec_id, cosq, row_number() OVER
        |  (PARTITION BY qid ORDER BY cosq DESC, vec_id) AS rank FROM p)
        |SELECT qid, vec_id AS neighbor, cosq, rank
        |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin,
    "q_ann_ivf" -> ivfTrainedOracle,
    "q_quantizer_drift" -> quantizerDriftOracle,
    "q_ann_ivf_quantized" -> ivfQuantizedOracle,
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |bits AS (SELECT vec_id, embedding,
        |  ${planeBitsExpr("embedding")} AS sig FROM e),
        |b0 AS (SELECT vec_id, embedding, sig,
        |  unnest(range(0, $NumPlaneBands)) AS band FROM bits),
        |bands AS (SELECT vec_id, embedding, band,
        |  substr(sig, band * $PlaneBandBits + 1, $PlaneBandBits) AS key
        |  FROM b0),
        |cand AS (SELECT DISTINCT q.vec_id AS qid, q.embedding AS qv,
        |    e.vec_id, e.embedding
        |  FROM bands q JOIN bands e
        |    ON q.band = e.band AND q.key = e.key AND q.vec_id <> e.vec_id
        |  WHERE q.vec_id < $NumQueries),
        |p AS (SELECT qid, vec_id, ${cosineExpr("qv", "embedding")} AS cosine
        |  FROM cand),
        |r AS (SELECT qid, vec_id, cosine, row_number() OVER
        |  (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM p)
        |SELECT qid, vec_id AS neighbor, cosine, rank
        |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin)
}
