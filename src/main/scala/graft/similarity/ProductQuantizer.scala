package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search"): the embedding space splits into
  * [[NumSubspaces]] contiguous subspaces, each trained with its own
  * bit-exact [[KMeans]] codebook, and every vector compresses to one
  * code per subspace. Queries score candidates by ASYMMETRIC DISTANCE
  * COMPUTATION: per-query lookup tables carry the query-subvector ·
  * sub-centroid inner products (and sub-centroid norms), so a
  * candidate's approximate cosine is [[NumSubspaces]] table lookups —
  * the candidate scan never touches a float vector.
  *
  * THIS is the ANN memory-scale path: at 100 TB a 64-dim float corpus
  * is 256 B/vector; int8 ([[graft.queries.SimilarityQueries]]'
  * q_ann_quantized) reads 64 B; PQ reads [[NumSubspaces]]
  * codes ≈ 4-32 B, and the scan side of the plan is a narrow
  * integer-column parquet read projected through literal per-query
  * lookup arrays (queries × [[NumSubspaces]] × [[CodebookK]] doubles,
  * riding in the plan) — nothing vector-sized shuffles or broadcasts
  * besides the query parameters themselves.
  *
  * Determinism: codebooks and code assignments come from the shared
  * all-integer [[KMeans]] chain on SLICED fixed-point points (slicing
  * commutes with the fixed-point snap). The LUT doubles are computed
  * ON THE DRIVER with the same strict left-fold the DuckDB oracle's
  * `list_reduce` performs, reconstruction float-rounds identically in
  * both engines (exact power-of-two division, exact offset, IEEE
  * nearest cast), and the per-candidate assembly is four adds in
  * pinned association + one division — so scores replay bit-exactly.
  *
  * The score is DEFINED by the ADC decomposition
  * `cos_pq(q, x) = (Σ_m q_m·c_m[code_m]) / (‖q‖ · sqrt(Σ_m ‖c_m[code_m]‖²))`
  * — the subspace-blocked association, not the flat 64-term fold (the
  * two differ in ulps; both engines compute the blocked form).
  */
object ProductQuantizer {

  /** Subspaces (M), shipped default: 8 blocks of 8 dims over the
    * 64-dim corpus (chosen from the measured sf0.1 recall sweep in
    * AnnRecallSpec — see RECALL_r12.json).
    */
  val NumSubspaces = 8

  /** Codes per subspace codebook (K), shipped default. */
  val CodebookK = 64

  /** Shipped rerank shortlist depth as a multiple of top-k: the ADC
    * scan nominates `RerankFactor × k` candidates per query and ONLY
    * those re-attach float vectors. FIXED, not corpus-proportional —
    * the float fetch stays output-sized at any corpus scale (a
    * fraction-of-n shortlist would make the rerank IVF-scan-sized at
    * 100×). Chosen from the sf1 sweep over c ∈ {10, 50, 100, 200} in
    * AnnRecallSpec (RECALL_SF1_r12.json: 0.960/0.982/0.990/0.998) —
    * c = 200 is the smallest factor matching the old 10%-of-corpus
    * shortlist's 0.998 recall@10 at sf1, and at sf1 the two operating
    * points coincide (2,000 rows/query), so this pins the proven
    * recall while capping the float fetch at 200·k rows FOREVER.
    */
  val RerankFactor = 200

  /** Lloyd iterations per subspace chain. */
  val Iters = 2

  def subDim(m: Int): Int = VectorFunctions.Dim / m
  def SubDim: Int = subDim(NumSubspaces)

  /** (vec_id, grp, p) multi-subspace points: every vector row explodes
    * into its m contiguous fixed-point slices, grp = subspace index.
    * Slicing commutes with the fixed-point snap, so group i's rows ARE
    * the per-subspace chain's input frame.
    */
  private def multiPts(pts: DataFrame, m: Int): DataFrame = {
    val sd = subDim(m)
    pts.select(col("vec_id"),
      posexplode(array((0 until m).map(i =>
        slice(col("p"), i * sd + 1, sd)): _*)).as(Seq("grp", "p")))
  }

  /** Per-subspace seed frame (grp, cid, c): the k smallest vec_ids'
    * slices — identical to seeding each subspace chain alone (all
    * subspaces share the vector id set by construction), computed as
    * one scale-safe TakeOrdered over the un-exploded points.
    */
  private def multiSeeds(pts: DataFrame, m: Int, k: Int): DataFrame = {
    val sd = subDim(m)
    pts.orderBy("vec_id").limit(k)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(i =>
          slice(col("p"), i * sd + 1, sd)): _*)).as(Seq("grp", "c")))
      .select(col("grp"), col("vec_id").as("cid"), col("c"))
  }

  /** Pivot a multi-group assignment (grp, vec_id, cid) into the wide
    * codes frame (vec_id, code_0..code_{m-1}) — one aggregation instead
    * of an m-way join chain; grp is unique per vec_id, so the sorted
    * struct array's i-th cid IS subspace i's code.
    */
  private def pivotCodes(asg: DataFrame, m: Int): DataFrame =
    asg.groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("grp"), col("cid")))),
        x => x.getField("cid")).as("cs"))
      .select(col("vec_id") +:
        (0 until m).map(i => col("cs")(i).as(s"code_$i")): _*)
      .localCheckpoint()

  /** Split a grouped centroid frame into the per-subspace Seq the ADC
    * tail consumes ((cid, c) per subspace, backed by the one
    * localCheckpointed grouped frame).
    */
  private def splitBooks(cent: DataFrame, m: Int): Seq[DataFrame] =
    (0 until m).map(i =>
      cent.where(col("grp") === i).select("cid", "c"))

  /** Train the M codebooks and assign codes: returns the centroid
    * frames (cid, c fixed-point) per subspace plus the codes frame
    * (vec_id, code_0..code_{M-1}).
    *
    * All M subspace chains run JOINTLY as one grouped Lloyd loop
    * ([[KMeans.lloydMultiFrom]]): per-(grp, cid, dim) sums are disjoint
    * across subspaces, so every codebook and code is bit-identical to
    * the per-subspace chains (ProductQuantizerSpec pins it), while
    * training pays one Spark job per round instead of one per subspace
    * per round — M×(iters+1) jobs collapse to (iters+1).
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = NumSubspaces, k: Int = CodebookK)
      : (Seq[DataFrame], DataFrame) = {
    val pts = KMeans.pointsFp(emb, idCol, vecCol)
    val multi = multiPts(pts, m).persist()
    try {
      multi.count()
      val cent = KMeans.lloydMultiFrom(multi, multiSeeds(pts, m, k), Iters)
      val codes = pivotCodes(KMeans.assignMulti(multi, cent), m)
      (splitBooks(cent, m), codes)
    } finally multi.unpersist()
  }

  /** Codebooks ONLY, trained on `train` — the frozen-quantizer shape
    * (the streamed index trains on the bootstrap batch and assigns
    * every later arrival against these fixed books via
    * [[assignCodes]]). Joint grouped Lloyd, see [[train]].
    */
  def trainBooks(train: DataFrame, idCol: String, vecCol: String,
      m: Int = NumSubspaces, k: Int = CodebookK): Seq[DataFrame] = {
    val pts = KMeans.pointsFp(train, idCol, vecCol)
    val multi = multiPts(pts, m).persist()
    try {
      multi.count()
      splitBooks(
        KMeans.lloydMultiFrom(multi, multiSeeds(pts, m, k), Iters), m)
    } finally multi.unpersist()
  }

  /** Assign every vector of `emb` to its nearest sub-centroid per
    * subspace against FROZEN codebooks (the bit-exact integer argmin,
    * ties to the smaller cid — identical to the training-time
    * assignment): (vec_id, code_0..code_{m-1}). One grouped assignment
    * job for all m subspaces ([[KMeans.assignMulti]]).
    */
  def assignCodes(emb: DataFrame, idCol: String, vecCol: String,
      cents: Seq[DataFrame], m: Int = NumSubspaces): DataFrame = {
    val centAll = cents.zipWithIndex.map { case (c, i) =>
      c.select(lit(i).as("grp"), col("cid"), col("c"))
    }.reduce(_.unionByName(_))
    pivotCodes(
      KMeans.assignMulti(
        multiPts(KMeans.pointsFp(emb, idCol, vecCol), m), centAll), m)
  }

  /** Strict left-fold double dot — the driver mirror of the oracle's
    * `list_reduce` and of [[VectorFunctions.dot]].
    */
  private def dotRef(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Fixed-point centroid → float reconstruction (exact power-of-two
    * division, exact offset subtraction, IEEE nearest float cast —
    * identical in both engines).
    */
  private def reconstruct(cfp: Seq[Long]): Array[Float] =
    cfp.map(x => (x.toDouble / KMeans.Scale - KMeans.Offset).toFloat).toArray

  /** Top-`topK` ADC-scored neighbours for the first `numQueries` ids:
    * (qid, neighbor, cosine_pq, rank).
    */
  def adcTopK(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, numQueries: Int, topK: Int,
      m: Int = NumSubspaces, k: Int = CodebookK): DataFrame = {
    val (cents, codes) = train(emb, idCol, vecCol, m, k)
    adcTopKWith(s, emb, idCol, vecCol, cents, codes, numQueries, topK, m)
  }

  /** Driver-computed per-query ADC model: raw query rows, per-subspace
    * LUT rows (qid, cid, q_m·c_m, ‖c_m‖²) from the reference fold, and
    * per-query norms. Query vectors and codebooks are both tiny, so the
    * double arithmetic happens ONCE on the driver; the scoring tail
    * consumes these rows either as literal lookup arrays (the fused
    * row-local path) or as broadcast-joined frames (the fallback).
    */
  private final case class AdcModel(
      qRows: Array[(Long, Array[Float])],
      lutRows: IndexedSeq[Seq[(Long, Long, Double, Double)]],
      qnormRows: Seq[(Long, Double)])

  private def queryLuts(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, cents: Seq[DataFrame], numQueries: Int, m: Int)
      : AdcModel = {
    val sd = subDim(m)
    val qRows = emb.where(col(idCol) < numQueries)
      .select(col(idCol), col(vecCol)).orderBy(idCol).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val books: Seq[Array[(Long, Array[Float])]] = cents.map(_.collect()
      .map(r => (r.getLong(0), reconstruct(r.getSeq[Long](1)))).sortBy(_._1))
    val lutRows = (0 until m).map { i =>
      for {
        (qid, qv) <- qRows.toSeq
        qs = qv.slice(i * sd, (i + 1) * sd).toSeq
        (cid, cv) <- books(i)
      } yield (qid, cid, dotRef(qs, cv.toSeq), dotRef(cv.toSeq, cv.toSeq))
    }
    val qnormRows = qRows.toSeq
      .map { case (qid, qv) => (qid, math.sqrt(dotRef(qv.toSeq, qv.toSeq))) }
    AdcModel(qRows, lutRows, qnormRows)
  }

  /** Fused-path gate: flat (qid × subspace × cid) literal arrays stay
    * sane only while ids are small non-negative ints — true for every
    * engine corpus (qid &lt; numQueries, cid = a seed vec_id &lt; k in
    * the dense-id corpora). Oversized/sparse id spaces fall back to the
    * join rendering, bit-identical either way. The gate compares by
    * division, so huge ids cannot wrap the entry count into range.
    */
  private val MaxFusedEntries = 1 << 21

  /** Spec seam: forces the broadcast-join rendering so the parity spec
    * can compare it against the fused projection. Never off in
    * production.
    */
  private[graft] var fuseLuts: Boolean = true

  /** The ADC scoring tail over a candidate frame
    * (qid, vec_id, code_0..code_{m-1}).
    *
    * Fused path (the default): the per-subspace LUTs and query norms
    * become THREE literal double arrays indexed by
    * ((qid·m + subspace)·kw + code), so the whole assembly — m dot
    * lookups + m norm lookups + the blocked sums — is ONE row-local
    * projection with zero joins, where the join rendering paid m+1
    * broadcast hash-join probes and row-widening copies per candidate.
    * Lookup values are the SAME driver-computed doubles and the sums
    * keep strict left association (the oracle's form), so scores are
    * bit-identical (ProductQuantizerSpec pins fused == join rendering).
    * Candidate qids/codes always hit populated slots by construction:
    * qids come from the model's own query set and codes from
    * assignment against these books. A foreign qid/code slot would
    * score 0.0 in the fused rendering only; the join rendering drops
    * the row.
    *
    * Fallback (ids outside the flat-array gate): each subspace resolves
    * through one broadcast hash join against its k-row LUT — the
    * pre-fusion rendering, kept as the parity reference.
    */
  private def adcScore(cand: DataFrame, model: AdcModel, m: Int,
      topK: Int): DataFrame = {
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc("cosine_pq"), asc("vec_id")))
    val qids = model.qRows.map(_._1)
    val cids = model.lutRows.flatMap(_.map(_._2))
    val nq = if (qids.isEmpty) 0L else qids.max + 1
    val kw = if (cids.isEmpty) 0L else cids.max + 1
    // nq, kw > 0 also rules out empty id sets and a wrapped max + 1
    val fuse = fuseLuts && qids.forall(_ >= 0) && cids.forall(_ >= 0) &&
      model.lutRows.forall(_.nonEmpty) &&
      nq > 0 && kw > 0 && kw <= MaxFusedEntries / m &&
      nq <= MaxFusedEntries / (m * kw)
    val scored =
      if (fuse) {
        val dotFlat = new Array[Double]((nq * m * kw).toInt)
        val nsqFlat = new Array[Double]((nq * m * kw).toInt)
        for (i <- 0 until m; (qid, cid, d, n) <- model.lutRows(i)) {
          val ix = ((qid * m + i) * kw + cid).toInt
          dotFlat(ix) = d; nsqFlat(ix) = n
        }
        val qnFlat = new Array[Double](nq.toInt)
        model.qnormRows.foreach { case (q, v) => qnFlat(q.toInt) = v }
        val dotLit = typedlit(dotFlat.toSeq)
        val nsqLit = typedlit(nsqFlat.toSeq)
        val qnLit = typedlit(qnFlat.toSeq)
        def ix(i: Int) =
          ((col("qid") * m + i) * kw + col(s"code_$i") + 1).cast("int")
        // strict left association — the oracle assembles identically
        val num = (0 until m).map(i => element_at(dotLit, ix(i)))
          .reduceLeft(_ + _)
        val nsq = (0 until m).map(i => element_at(nsqLit, ix(i)))
          .reduceLeft(_ + _)
        val qn = element_at(qnLit, (col("qid") + 1).cast("int"))
        cand.withColumn("cosine_pq", num / (qn * sqrt(nsq)))
      } else {
        val s = cand.sparkSession
        import s.implicits._
        val luts = (0 until m).map(i =>
          model.lutRows(i).toDF("qid", s"code_$i", s"dot_$i", s"nsq_$i"))
        val qnorm = model.qnormRows.toDF("qid", "qnorm")
        // strict left association — the oracle assembles identically
        val num = (0 until m).map(i => col(s"dot_$i")).reduceLeft(_ + _)
        val nsq = (0 until m).map(i => col(s"nsq_$i")).reduceLeft(_ + _)
        (0 until m).foldLeft(cand) {
          case (df, i) => df.join(broadcast(luts(i)), Seq("qid", s"code_$i"))
        }
          .join(broadcast(qnorm), "qid")
          .withColumn("cosine_pq", num / (col("qnorm") * sqrt(nsq)))
      }
    scored
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor"), col("cosine_pq"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** [[adcTopK]] against an EXTERNALLY-maintained model — frozen
    * codebooks `cents` and a codes frame (vec_id, code_0..code_{m-1}),
    * the entry the streamed index shares with the batch path. `emb`
    * supplies only the query vectors (ids &lt; numQueries).
    */
  def adcTopKWith(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, cents: Seq[DataFrame], codes: DataFrame,
      numQueries: Int, topK: Int, m: Int = NumSubspaces): DataFrame = {
    val model = queryLuts(s, emb, idCol, vecCol, cents, numQueries, m)
    // candidate side: the integer codes frame fans out per query id
    // via a literal explode (generate, not a join)
    val qids = array(model.qRows.map(q => lit(q._1)): _*)
    val cand = codes.select(
      col("vec_id") +: explode(qids).as("qid") +:
        (0 until m).map(i => col(s"code_$i")): _*)
      .where(col("qid") =!= col("vec_id"))
    adcScore(cand, model, m, topK)
  }

  /** IVF-probed ADC: the candidate scan is restricted to each query's
    * probed coarse lists BEFORE any scoring work — `probes` is the tiny
    * (qid, label) probe table (nprobe rows per query, broadcast) and
    * `asg` the corpus's coarse assignment (vec_id, label). The scan
    * side reads only integer codes for ~nprobe/k of the corpus: the
    * two compression levers composed (which vectors × bytes-per-vector).
    * Candidate (qid, vec_id) pairs are unique by construction — each
    * vector lives in exactly one coarse list.
    */
  def adcIvfTopKWith(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, cents: Seq[DataFrame], codes: DataFrame,
      probes: DataFrame, asg: DataFrame,
      numQueries: Int, topK: Int, m: Int = NumSubspaces): DataFrame = {
    val model = queryLuts(s, emb, idCol, vecCol, cents, numQueries, m)
    val cand = codes.join(asg, "vec_id")
      .join(broadcast(probes), "label")
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid") +: col("vec_id") +:
        (0 until m).map(i => col(s"code_$i")): _*)
    adcScore(cand, model, m, topK)
  }

  /** The production deployment (Jégou et al.'s ADC + rerank): the
    * code-only ADC scan nominates a `shortlist`-deep candidate list
    * per query, then ONLY those candidates re-attach their float
    * vectors (an id equi-join, shortlist×queries rows) and rerank by
    * exact cosine. Output: (qid, neighbor, cosine, rank ≤ topK) — the
    * q_ann_brute output contract over the PQ-nominated candidates.
    * At 100 TB the corpus-wide scan still reads only integer codes;
    * the float fetch is output-sized.
    */
  def adcRerankTopK(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, numQueries: Int, topK: Int, shortlist: Int,
      m: Int = NumSubspaces, k: Int = CodebookK): DataFrame = {
    val (cents, codes) = train(emb, idCol, vecCol, m, k)
    adcRerankTopKWith(s, emb, idCol, vecCol, cents, codes, numQueries,
      topK, shortlist, m)
  }

  /** [[adcRerankTopK]] against an externally-maintained frozen model
    * (see [[adcTopKWith]]); `emb` supplies the query vectors AND the
    * shortlist's float re-attach.
    */
  def adcRerankTopKWith(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, cents: Seq[DataFrame], codes: DataFrame,
      numQueries: Int, topK: Int, shortlist: Int,
      m: Int = NumSubspaces): DataFrame =
    rerankExact(s, emb, idCol, vecCol,
      adcTopKWith(s, emb, idCol, vecCol, cents, codes, numQueries,
        math.max(topK, shortlist), m)
        .select(col("qid"), col("neighbor").as(idCol)),
      numQueries, topK)

  /** The IVF-probed production deployment: [[adcIvfTopKWith]]'s
    * probed-list ADC scan nominates the shortlist, then the exact
    * rerank re-attaches floats for just those rows — coarse probing ×
    * PQ codes × output-sized float fetch, the three scale levers
    * composed (Jégou et al. 2011's IVFADC shape; our variant codes raw
    * vectors rather than residuals because the exact rerank re-scores
    * the shortlist with full-precision floats anyway, so residual
    * precision would only move which candidates make the shortlist).
    */
  def adcIvfRerankTopKWith(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, cents: Seq[DataFrame], codes: DataFrame,
      probes: DataFrame, asg: DataFrame,
      numQueries: Int, topK: Int, shortlist: Int,
      m: Int = NumSubspaces): DataFrame =
    rerankExact(s, emb, idCol, vecCol,
      adcIvfTopKWith(s, emb, idCol, vecCol, cents, codes, probes, asg,
        numQueries, math.max(topK, shortlist), m)
        .select(col("qid"), col("neighbor").as(idCol)),
      numQueries, topK)

  /** Exact-cosine rerank of a (qid, `idCol`) shortlist: floats
    * re-attach by id equi-join (shortlist-sized, never corpus-sized),
    * queries broadcast, rank by (cosine desc, id asc).
    */
  private def rerankExact(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, sl: DataFrame, numQueries: Int, topK: Int)
      : DataFrame = {
    val qv = emb.where(col(idCol) < numQueries)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val rank = row_number().over(
      Window.partitionBy("qid").orderBy(desc("cosine"), asc(idCol)))
    sl.join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(qv), "qid")
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineSim(s, col("qv"), col(vecCol)))
      .withColumn("rank", rank.cast("bigint"))
      .where(col("rank") <= topK)
      .select(col("qid"), col(idCol).as("neighbor"), col("cosine"),
        col("rank"))
      .orderBy("qid", "rank")
  }
}
