package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{AnnRecall, KMeans, ProductQuantizer, VectorFunctions}
import graft.streaming.StreamFlow
import graft.util.Fmt

/** Scale-recall measurement main — the three shipped compression axes
  * (PQ 8×64 ADC ± fixed-factor rerank, JL 16-dim projection ± rerank,
  * trained IVF at the default probe) graded as recall@10 against
  * brute-force ground truth at a SCALED corpus (sf1/sf10), where the
  * sf0.1-recall small-sample argument needs its closing row.
  *
  * Ground-truth duplication treatment (stated in the artifact): the
  * scaled corpora come from `tools/gen_scale.py`, which replicates the
  * sf0.1 embeddings as KEY-SHIFTED EXACT COPIES — at sfN every query
  * has (10N − 1) exact self-duplicates at cosine 1.0, which dominate
  * the plain top-10 truth as N grows (at sf10 the whole plain top-10
  * is self-copies, so plain recall measures only "does the index
  * retrieve exact duplicates" — a test IVF/PQ pass trivially, since an
  * identical vector lands in the identical cluster/code). Both
  * readings are reported:
  *
  *  - `recall_plain`: truth and ranking as-is (comparable to the
  *    sf0.1/sf1 rows of RECALL_r11/RECALL_SF1_r11);
  *  - `recall_dupx`: each query's exact self-duplicates (embedding
  *    array-equal to the query's) are excluded from BOTH the truth
  *    top-10 and the method ranking before scoring — the reading that
  *    measures finding genuinely different neighbours. Duplicates of
  *    OTHER corpus vectors remain on both sides (they are legitimate
  *    distinct-id neighbours any real index must retrieve).
  *
  * Driver-side collections here are measurement-harness shapes (the
  * rankings and candidate maps at ≤ sf10 sizes); the production
  * operators stay the distributed plans graded by CORRECTNESS/BENCH.
  */
object RecallScale {

  private val NumQueries = 50
  private val KAt = 10

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/target/sf10")
    val out = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT",
      "/root/repo/target/RECALL_SCALE.json")
    val spark = graft.SparkEntry.session()
    try run(spark, sfDir, out) finally spark.stop()
  }

  private def run(s: SparkSession, sfDir: String, out: String): Unit = {
    val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()

    // exact self-duplicate ids per query (embedding array-equal),
    // via a broadcast compare of the 50 query vectors against the scan
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val dupIds: Map[Long, Set[Long]] = emb.crossJoin(broadcast(q))
      .where(col("embedding") === col("qv") &&
        col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(1)).toSet }
      .withDefaultValue(Set.empty)
    val maxDup = (0L until NumQueries).map(dupIds(_).size).max
    val depth = KAt + maxDup

    // ONE deep brute ground truth serves both readings: plain top-10 is
    // its prefix; dupx top-10 is its prefix after dropping self-dups
    val truthDeep = AnnRecall.groundTruth(emb, NumQueries, depth)
    val truthPlain = truthDeep.map { case (k, v) => k -> v.take(KAt) }
    val truthDupx = truthDeep.map { case (k, v) =>
      k -> v.filterNot(dupIds(k)).take(KAt)
    }

    def score(truth: Map[Long, Seq[Long]],
        got: Map[Long, Seq[Long]]): Double = {
      val per = truth.toSeq.map { case (k, top) =>
        val g = got.getOrElse(k, Seq.empty).toSet
        if (top.isEmpty) 1.0 else top.count(g.contains).toDouble / top.size
      }
      per.sum / per.size
    }
    /** Both readings of one ranked list: plain = its top-10; dupx =
      * its top-10 after dropping the query's self-duplicates.
      */
    def both(ranked: Map[Long, Seq[Long]]): (Double, Double) = (
      score(truthPlain, ranked.map { case (k, v) => k -> v.take(KAt) }),
      score(truthDupx, ranked.map { case (k, v) =>
        k -> v.filterNot(dupIds(k)).take(KAt)
      }))

    def collectRanked(df: DataFrame): Map[Long, Seq[Long]] =
      df.select("qid", "neighbor", "rank").collect()
        .groupBy(_.getLong(0))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
        }

    // PQ: train once, grade ADC-only and the shipped fixed-factor
    // rerank deployment off the same codebooks
    val (books, codes) = ProductQuantizer.train(
      emb, "vec_id", "embedding")
    val shortlist = ProductQuantizer.RerankFactor * KAt
    val (pqAdcPlain, pqAdcDupx) = both(collectRanked(
      ProductQuantizer.adcTopKWith(s, emb, "vec_id", "embedding",
        books, codes, NumQueries, depth)))
    val (pqRrPlain, pqRrDupx) = both(collectRanked(
      ProductQuantizer.adcRerankTopKWith(s, emb, "vec_id", "embedding",
        books, codes, NumQueries, depth,
        math.max(shortlist, depth))))

    // JL 16-dim projection: projected-space cosine ranking at depth
    // (driver-side harness ranking, like AnnRecall.projRecall)
    val pv = emb.select(col("vec_id"),
      VectorFunctions.project(col("embedding")).as("pv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cosL(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val projRanked: Map[Long, Seq[Long]] = pv.filter(_._1 < NumQueries)
      .map { case (qid, qv) =>
        qid -> pv.view.filter(_._1 != qid)
          .map { case (id, v) => (id, cosL(qv, v)) }
          .toSeq.sortBy { case (id, c) => (-c, id) }
          .take(depth).map(_._1).toSeq
      }.toMap
    val (projPlain, projDupx) = both(projRanked)

    // trained IVF at the shipped default probe: candidate-SET recall
    // (the exact cosine scores candidates, so recall = truth coverage)
    val k = graft.queries.SimilarityQueries.ivfK(n)
    val np = graft.queries.SimilarityQueries.ivfNProbe(k)
    val (centFp, asg) = KMeans.fitModel(emb, "vec_id", "embedding", k,
      graft.queries.SimilarityQueries.IvfIters)
    val ivfState = AnnRecall.collectIvfState(emb, centFp, asg, NumQueries)
    val cand = AnnRecall.kmeansCandidates(ivfState, np)
    def setScore(truth: Map[Long, Seq[Long]]): Double = {
      val per = truth.toSeq.map { case (kk, top) =>
        val c = cand.get(kk).map(_._1).getOrElse(Set.empty[Long])
        if (top.isEmpty) 1.0 else top.count(c.contains).toDouble / top.size
      }
      per.sum / per.size
    }
    val scanned = cand.values.map(_._2).sum / cand.size

    // IVF × PQ (q_ann_ivf_pq): the probed coarse lists scanned as PQ
    // codes + the fixed-factor exact rerank — reuses the coarse model
    // (centFp/asg) and the PQ books/codes trained above, so the row
    // isolates the composition's recall cost (probing can only REMOVE
    // candidates from the whole-corpus pq_rerank row's scan)
    import s.implicits._
    val probes = AnnRecall.probePairs(ivfState, np)
      .map { case (qid, l) => (qid, l.toInt) }.toDF("qid", "label")
    val asgL = asg.select(col("vec_id"), col("cid").cast("int").as("label"))
    val (ivfPqPlain, ivfPqDupx) = both(collectRanked(
      ProductQuantizer.adcIvfRerankTopKWith(s, emb, "vec_id", "embedding",
        books, codes, probes, asgL, NumQueries, depth,
        math.max(shortlist, depth))))

    // DEDUP-BEFORE-INDEX: compose the engine's exact dedup (the
    // hash-groupBy keep-min-id shape of q_dedup_exact, applied to the
    // embedding column — gen_scale's self-copies are EXACT, so the
    // exact rung of the dedup ladder is the right pre-step; the
    // LSH/semantic rungs exist for near-dups) as the index-build
    // pre-step, then retrain PQ and re-grade the shipped rerank
    // deployment on the deduped corpus. This closes the dupx story:
    // if the sf10 rerank dupx drop (0.72) is duplicate crowding of the
    // fixed shortlist — the gen_scale artifact — recall must recover
    // to ~sf1 levels here. On a deduped corpus plain == dupx by
    // construction (no self-duplicates remain).
    val embDd = emb.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val nDd = embDd.count()
    val truthDd = AnnRecall.groundTruth(embDd, NumQueries, KAt)
    val (booksDd, codesDd) = ProductQuantizer.train(
      embDd, "vec_id", "embedding")
    val rrDd = collectRanked(ProductQuantizer.adcRerankTopKWith(
      s, embDd, "vec_id", "embedding", booksDd, codesDd,
      NumQueries, KAt, shortlist))
    val pqRrDd = score(truthDd,
      rrDd.map { case (kk, v) => kk -> v.take(KAt) })

    // FROZEN deployments under the same dedup-before-index treatment —
    // the amortized production paths: q_hybrid_rrf_ivf_frozen's vector
    // leg (bootstrap-trained coarse quantizer, frozen assignment,
    // candidate-set recall at the bootstrap-derived nprobe) and the
    // streamed IVF×PQ index (q_stream_ann_ivf_pq: bootstrap-trained
    // codebooks + frozen coarse probes + fixed-factor exact rerank).
    // Bootstrap = slice 0 of the streams' key-range slicing
    // (StreamFlow.KeySlices), exactly as the shipped queries derive it.
    val slicesF = StreamFlow.requireKeySlices(embDd, "vec_id", 3)
    val b0 = embDd.where(slicesF.slice(0)).localCheckpoint()
    val kF = graft.queries.SimilarityQueries.ivfK(b0.count())
    val npF = graft.queries.SimilarityQueries.ivfNProbe(kF)
    val (centF, _) = KMeans.fitModel(b0, "vec_id", "embedding", kF,
      graft.queries.SimilarityQueries.IvfIters)
    val asgF = KMeans.assign(
      KMeans.pointsFp(embDd, "vec_id", "embedding"), centF)
    val stateF = AnnRecall.collectIvfState(embDd, centF, asgF, NumQueries)
    val candF = AnnRecall.kmeansCandidates(stateF, npF)
    val ivfFrozenDd = {
      val per = truthDd.toSeq.map { case (kk, top) =>
        val cs = candF.get(kk).map(_._1).getOrElse(Set.empty[Long])
        if (top.isEmpty) 1.0
        else top.count(cs.contains).toDouble / top.size
      }
      per.sum / per.size
    }
    val scannedF = candF.values.map(_._2).sum / candF.size
    // DRIFT-RESPONSE maintenance rows — the frozen deficit (bootstrap
    // recall vs the trained line at the same scan fraction) answered
    // by the two shipped verbs, measured off the SAME frozen postings:
    //  - splitCells: grow k_boot -> ivfK(n) by 2-means splits of the
    //    oversized cells only (no full retrain);
    //  - requantize on the RECENT third (the production "retrain on a
    //    fresh slice" move; requantize on the FULL postings is
    //    bit-identical to the ivf_trained row by RequantizeSpec's pin,
    //    so it is not re-measured).
    import graft.similarity.StreamingIvf
    val kT = graft.queries.SimilarityQueries.ivfK(nDd)
    val npT = graft.queries.SimilarityQueries.ivfNProbe(kT)
    val maintBase = java.nio.file.Files
      .createTempDirectory("recall_maint").toString
    val frozenPostings = embDd.join(asgF, "vec_id")
      .select(col("vec_id"), col("embedding"),
        col("cid").cast("int").as("label"))
    def candScore(centX: DataFrame, asgX: DataFrame, np: Int)
        : (Double, Double) = {
      val st = AnnRecall.collectIvfState(embDd, centX, asgX, NumQueries)
      val cs = AnnRecall.kmeansCandidates(st, np)
      val per = truthDd.toSeq.map { case (kk, top) =>
        val c = cs.get(kk).map(_._1).getOrElse(Set.empty[Long])
        if (top.isEmpty) 1.0 else top.count(c.contains).toDouble / top.size
      }
      (per.sum / per.size, cs.values.map(_._2).sum / cs.size)
    }
    /** Budget-fitted nprobe: the largest probe count whose average
      * scanned fraction stays within the 0.3 budget — the adaptive
      * rule an imbalanced (frozen/split) index needs, since a fixed
      * nprobe's scan cost depends on which cells the queries hit.
      */
    def budgetNprobe(centX: DataFrame, asgX: DataFrame,
        budget: Double): (Int, Double, Double) = {
      val st = AnnRecall.collectIvfState(embDd, centX, asgX, NumQueries)
      var np = 1
      var best = (1, 0.0, 0.0)
      var go = true
      while (go && np <= st.cent.size) {
        val cs = AnnRecall.kmeansCandidates(st, np)
        val scanned = cs.values.map(_._2).sum / cs.size
        if (scanned <= budget) {
          val per = truthDd.toSeq.map { case (kk, top) =>
            val c = cs.get(kk).map(_._1).getOrElse(Set.empty[Long])
            if (top.isEmpty) 1.0
            else top.count(c.contains).toDouble / top.size
          }
          best = (np, per.sum / per.size, scanned)
          np += 1
        } else go = false
      }
      best
    }
    // (a) locality-preserving cell splits (only split cells' postings
    // move) at the batch nprobe
    val splitDir = maintBase + "/postings_split"
    frozenPostings.write.mode("overwrite").parquet(splitDir)
    val centSplit = StreamingIvf.splitCells(s, splitDir, centF, kT,
      graft.queries.SimilarityQueries.IvfIters)
    val asgSplit = s.read.parquet(splitDir)
      .select(col("vec_id"), col("label").cast("long").as("cid"))
    val (ivfSplitDd, scannedSplit) = candScore(centSplit, asgSplit, npT)
    // (a') splits past the batch k (finer cells let the 0.3 budget
    // probe MORE regions) + ONE global argmin reassign (no retrain),
    // probed to the 0.3 scan budget — the "frozen recall >= 0.9 at
    // <= 0.3 scanned without full retrain" arm
    // mult=8 is the measured sweet spot: fine-grained cells let the
    // 0.3 budget probe many small regions (recall 0.696 -> 0.924 at
    // sf-scale with zero k-means training); probe-side cost is
    // k = 8*sqrt(n) centroid distances per query, still << n
    val splitMult = sys.env.getOrElse("SPARK_GRAFT_SPLIT_MULT", "8").toInt
    val kSplitR = splitMult * kT
    val splitRDir = maintBase + "/postings_splitr"
    frozenPostings.write.mode("overwrite").parquet(splitRDir)
    val refineIters =
      sys.env.getOrElse("SPARK_GRAFT_SPLIT_REFINE", "0").toInt
    val centSplitR = StreamingIvf.splitCells(s, splitRDir, centF, kSplitR,
      graft.queries.SimilarityQueries.IvfIters, reassign = true,
      refineIters = refineIters)
    val asgSplitR = s.read.parquet(splitRDir)
      .select(col("vec_id"), col("label").cast("long").as("cid"))
    val (npSplitR, ivfSplitRDd, scannedSplitR) =
      budgetNprobe(centSplitR, asgSplitR, 0.3)
    // (b) requantize on the recent third (id-range recency, the
    // stream's arrival order) — the cautionary arm: old queries
    // sit outside a newest-window training slice
    val rqDir = maintBase + "/postings_rq"
    frozenPostings.write.mode("overwrite").parquet(rqDir)
    val centRq = StreamingIvf.requantize(s, rqDir, kT,
      graft.queries.SimilarityQueries.IvfIters,
      trainPred = slicesF.slice(2))
    val asgRq = s.read.parquet(rqDir)
      .select(col("vec_id"), col("label").cast("long").as("cid"))
    val (ivfRqDd, scannedRq) = candScore(centRq, asgRq, npT)
    // (b') requantize on a UNIFORM third (deterministic id-mod sample —
    // representative of every arrival epoch): the recommended
    // drift-triggered retrain slice
    val rqUDir = maintBase + "/postings_rqu"
    frozenPostings.write.mode("overwrite").parquet(rqUDir)
    val centRqU = StreamingIvf.requantize(s, rqUDir, kT,
      graft.queries.SimilarityQueries.IvfIters,
      trainPred = col("vec_id") % 3 === 0)
    val asgRqU = s.read.parquet(rqUDir)
      .select(col("vec_id"), col("label").cast("long").as("cid"))
    val (ivfRqUDd, scannedRqU) = candScore(centRqU, asgRqU, npT)

    val booksF = ProductQuantizer.trainBooks(b0, "vec_id", "embedding")
    val codesF = ProductQuantizer.assignCodes(
      embDd, "vec_id", "embedding", booksF)
    val probesF = AnnRecall.probePairs(stateF, npF)
      .map { case (qid, l) => (qid, l.toInt) }.toDF("qid", "label")
    val asgFL = asgF.select(col("vec_id"),
      col("cid").cast("int").as("label"))
    val sIvfPqDd = score(truthDd, collectRanked(
      ProductQuantizer.adcIvfRerankTopKWith(s, embDd, "vec_id",
        "embedding", booksF, codesF, probesF, asgFL, NumQueries, KAt,
        shortlist))
      .map { case (kk, v) => kk -> v.take(KAt) })

    def n4(v: Double): String = Fmt.fixed(v, 4)
    val json =
      s"""{"sf":"$sfDir","n_vectors":$n,"k":$KAt,"queries":$NumQueries,""" +
        s""""max_self_dups_per_query":$maxDup,""" +
        "\"ground_truth_note\":\"scaled corpora are key-shifted EXACT " +
        "copies of the sf0.1 embeddings (tools/gen_scale.py), so each " +
        "query has max_self_dups_per_query exact duplicates at cosine " +
        "1.0 that dominate the plain top-10 truth; recall_plain scores " +
        "truth/rankings as-is (exact-duplicate retrieval, which " +
        "cluster/code indexes pass structurally), recall_dupx excludes " +
        "each query's self-duplicates from BOTH truth and ranking " +
        "before scoring (finding genuinely different neighbours). " +
        "Duplicates of other corpus vectors remain on both sides.\"," +
        s""""pq_adc":{"m":${ProductQuantizer.NumSubspaces},""" +
        s""""k_codes":${ProductQuantizer.CodebookK},""" +
        s""""recall_plain":${n4(pqAdcPlain)},""" +
        s""""recall_dupx":${n4(pqAdcDupx)}},""" +
        s""""pq_rerank":{"shortlist":${math.max(shortlist, depth)},""" +
        s""""recall_plain":${n4(pqRrPlain)},""" +
        s""""recall_dupx":${n4(pqRrDupx)}},""" +
        s""""pq_rerank_dedup":{"n_vectors_dedup":$nDd,""" +
        s""""shortlist":$shortlist,""" +
        "\"note\":\"exact dedup (hash-groupBy on embedding, keep min " +
        "vec_id) composed before PQ training + indexing; truth " +
        "recomputed on the deduped corpus, no self-duplicates remain " +
        "so plain == dupx\"," +
        s""""recall":${n4(pqRrDd)}},""" +
        s""""ivf_frozen_dedup":{"k_boot":$kF,"nprobe":$npF,""" +
        s""""n_bootstrap":${b0.count()},""" +
        s""""avg_scanned_fraction":${n4(scannedF)},""" +
        "\"note\":\"q_hybrid_rrf_ivf_frozen's vector leg on the deduped " +
        "corpus: coarse quantizer trained on bootstrap batch 0 only and " +
        "frozen, candidate-set recall at the bootstrap-derived nprobe\"," +
        s""""recall":${n4(ivfFrozenDd)}},""" +
        s""""ivf_frozen_split":{"k_boot":$kF,"k_split":$kT,""" +
        s""""nprobe":$npT,""" +
        s""""avg_scanned_fraction":${n4(scannedSplit)},""" +
        "\"note\":\"the SAME frozen postings grown by " +
        "StreamingIvf.splitCells (2-means on oversized cells only, no " +
        "full retrain) to the batch k, probed at the batch nprobe\"," +
        s""""recall":${n4(ivfSplitDd)}},""" +
        s""""ivf_frozen_split_reassign":{"k_boot":$kF,"k_split":$kSplitR,""" +
        s""""nprobe":$npSplitR,""" +
        s""""avg_scanned_fraction":${n4(scannedSplitR)},""" +
        "\"note\":\"StreamingIvf.splitCells(reassign=true) grown to " +
        "8*sqrt(n) fine cells (per-cell 2-means only — zero global " +
        "k-means training) + ONE argmin reassign pass + budget-fitted " +
        "nprobe (largest probe count scanning <= 0.3). Probe-side cost " +
        "is k centroid distances per query, still << n. The " +
        "no-full-retrain recovery arm\"," +
        s""""recall":${n4(ivfSplitRDd)}},""" +
        s""""ivf_frozen_requantize_recent":{"k":$kT,"nprobe":$npT,""" +
        s""""avg_scanned_fraction":${n4(scannedRq)},""" +
        "\"note\":\"StreamingIvf.requantize trained on the RECENT third " +
        "of arrivals — the cautionary arm: queries living in older " +
        "epochs sit outside a newest-window slice, so recall DROPS; " +
        "retrain slices must be representative (see " +
        "ivf_frozen_requantize_uniform). Requantize on the full " +
        "postings is bit-identical to ivf_trained by RequantizeSpec\"," +
        s""""recall":${n4(ivfRqDd)}},""" +
        s""""ivf_frozen_requantize_uniform":{"k":$kT,"nprobe":$npT,""" +
        s""""avg_scanned_fraction":${n4(scannedRqU)},""" +
        "\"note\":\"StreamingIvf.requantize trained on a deterministic " +
        "UNIFORM third (vec_id %% 3 = 0) — representative of every " +
        "arrival epoch: the recommended drift-triggered slice\"," +
        s""""recall":${n4(ivfRqUDd)}},""" +
        s""""stream_ivf_pq_dedup":{"k_boot":$kF,"nprobe":$npF,""" +
        s""""shortlist":$shortlist,""" +
        "\"note\":\"the streamed IVF×PQ deployment (q_stream_ann_ivf_pq) " +
        "on the deduped corpus: bootstrap-trained codebooks + frozen " +
        "coarse probes + fixed-factor exact rerank\"," +
        s""""recall":${n4(sIvfPqDd)}},""" +
        s""""jl_projected":{"dims":${VectorFunctions.NumPlanes},""" +
        s""""recall_plain":${n4(projPlain)},""" +
        s""""recall_dupx":${n4(projDupx)}},""" +
        s""""ivf_pq_rerank":{"k":$k,"nprobe":$np,""" +
        s""""shortlist":${math.max(shortlist, depth)},""" +
        s""""recall_plain":${n4(ivfPqPlain)},""" +
        s""""recall_dupx":${n4(ivfPqDupx)}},""" +
        s""""ivf_trained":{"k":$k,"nprobe":$np,""" +
        s""""avg_scanned_fraction":${n4(scanned)},""" +
        s""""recall_plain":${n4(setScore(truthPlain))},""" +
        s""""recall_dupx":${n4(setScore(truthDupx))}}}"""
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json + "\n")
    println(json)
  }
}
