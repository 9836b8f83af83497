package graft

import graft.plans.PlanGate

/** Noise-immune perf gate: structural assertions over the EXECUTED
  * physical plan of EVERY SparkEntry query (round-7 verdict item 2 —
  * wall-clock benches alias host weather; plan shape does not).
  *
  * Global invariants (see [[PlanGate.audit]]): no cartesian product, no
  * broadcast nested-loop join, no globally-unpartitioned window, no
  * single-partition sort — except where the semantics REQUIRE the shape
  * and the bounded side is audited (whitelist below, one justification
  * per entry). Plus positive assertions: the SK-map joins of the load
  * queries must broadcast.
  *
  * Runs at sf0.001 (shape, not speed, is under test — the broadcast
  * gates are size-driven and dimension tables stay under the threshold
  * at every SF this engine targets).
  */
class PlanGateSpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse(
    "SPARK_GRAFT_PLANGATE_SF_DIR", "/root/testdata/sf0.001")

  /** query -> rules it is allowed to trip — discovered by
    * `graft.plans.PlanAudit`, each entry audited bounded:
    *
    *  - `q_join_cartesian`: the reference's `cartesianJoin=True` surface
    *    — the semantics ARE a cartesian (the operator is documented
    *    dimension-sized-only; renders as BNLJ under a broadcast side).
    *  - corpus-stat cross joins (`q_bm25`, `q_tfidf`, `q_lm_score`,
    *    `q_collocations`, `q_source_quality`, `q_mix_sources`,
    *    `q_hll_distinct`, `q_hll_grouped`, `q_weighted_sample`,
    *    `q_gapfill`, `q_kmeans`): every BNLJ broadcasts a 1-row
    *    aggregate (corpus totals, sketch estimate + exact control,
    *    timeline bounds, sample-weight total) or a k-row centroid /
    *    probe frame — bounded by construction, never corpus-sized.
    *  - `q_collocations` `global-window`: the rank window runs AFTER
    *    `.limit(k)` — a k-row (k=20) frame; the top-k itself plans
    *    TakeOrdered, not a global sort.
    */
  private val whitelist: Map[String, Set[String]] = Map(
    "q_join_cartesian" -> Set("nested-loop", "cartesian"),
    "q_bm25" -> Set("nested-loop"),
    // streamed BM25: the identical scoring tail (topKFrom) over the
    // folded state tables — the same 1-row corpus-totals BNLJ
    "q_stream_bm25" -> Set("nested-loop"),
    // hybrid RRF: the BM25 leg's 1-row corpus-totals frame crossJoins
    // into the per-(doc, term) contribution stream (same bounded shape
    // as q_bm25); the vector leg is literal-parameter explode, no BNLJ
    "q_hybrid_rrf" -> Set("nested-loop"),
    // IVF-probed hybrid: the SAME lexical-leg 1-row corpus-totals
    // frame (the vector leg's probe is cluster-id equi-joins)
    "q_hybrid_rrf_ivf" -> Set("nested-loop"),
    // frozen-quantizer hybrid: identical lexical leg, so the identical
    // 1-row corpus-totals BNLJ; the frozen assignment is a broadcast
    // argmin kernel (no join) and the probe is cluster-id equi-joins
    "q_hybrid_rrf_ivf_frozen" -> Set("nested-loop"),
    // trained langid: the 1-row model frames (per-class OOV values and
    // per-class priors, pivoted wide) crossJoin into the per-doc score
    // stream — class-count-sized columns on 1-row frames
    "q_langid_trained" -> Set("nested-loop"),
    // perplexity buckets: the bigram LM's 1-row ln(N) corpus-total
    // frame crossJoins into both score streams (the q_lm_perplexity
    // shape); the tercile thresholds themselves join by an equi-join
    // on the group columns (broadcast of the pinned languages-sized
    // frame), not a BNLJ
    "q_perplexity_buckets" -> Set("nested-loop"),
    "q_tfidf" -> Set("nested-loop"),
    "q_lm_score" -> Set("nested-loop"),
    // bigram LM: the ln(N) corpus-total frame is a 1-row aggregate
    // crossJoined into both the first-token and bigram score streams
    "q_lm_perplexity" -> Set("nested-loop"),
    // NB classifier: the 1-row model frame (class normaliser + prior)
    // crossJoins into the per-doc score stream
    "q_quality_classifier" -> Set("nested-loop"),
    "q_stream_quality_classifier" -> Set("nested-loop"),
    "q_collocations" -> Set("nested-loop", "global-window"),
    "q_source_quality" -> Set("nested-loop"),
    "q_mix_sources" -> Set("nested-loop"),
    "q_hll_distinct" -> Set("nested-loop"),
    "q_hll_grouped" -> Set("nested-loop"),
    "q_weighted_sample" -> Set("nested-loop"),
    "q_gapfill" -> Set("nested-loop"),
    "q_kmeans" -> Set("nested-loop"),
    // DSIR: the ln(tot+B) normaliser is a 1-row aggregate crossJoined
    // back (same bounded shape as the corpus-stat entries above)
    "q_dsir_select" -> Set("nested-loop"),
    "q_stream_dsir" -> Set("nested-loop"),
    // token-budget selection: the running-weight window runs over the
    // (score, weight) HISTOGRAM — bounded at ≤ 1e6+1 rows by the
    // 6-decimal score grid regardless of corpus size (the operator's
    // whole point, BudgetSelect.scala) — and the 1-row budget/threshold
    // frames crossJoin into the histogram and the probe scan
    "q_token_budget" -> Set("nested-loop", "global-window"),
    // streamed twin: the state-read histogram replaces the in-plan one,
    // same bounded window + 1-row threshold/budget BNLJ shapes
    "q_stream_token_budget" -> Set("nested-loop", "global-window"),
    // quality ensemble: inherits the NB 1-row model BNLJ and the bigram
    // LM 1-row ln(N) BNLJ (its two scoring chains), plus the 1-row
    // corpus-count frame; the three CDF running counts window over
    // BOUNDED key histograms (1e-6 quality grid / 1e-3 per-token snap —
    // CdfRank.scala), never the corpus
    "q_quality_ensemble" -> Set("nested-loop", "global-window"),
    // pack stats: two 1-row aggregates (sequence-keyed and doc-keyed)
    // crossJoined into the single report row (the pack itself keeps
    // the two-phase layout — no global window, as q_seq_pack's gate)
    "q_pack_stats" -> Set("nested-loop"),
    // drift monitor: the slice-0 baseline mean is a 1-row aggregate
    // crossJoined into the slice-count-sized stats frame (both bounded)
    "q_quantizer_drift" -> Set("nested-loop"),
    "q_stream_quantizer_drift" -> Set("nested-loop"),
    // annotated flagship: inherits q_quality_ensemble's audited shapes
    // verbatim — the NB/LM 1-row model and ln(N) BNLJ frames plus the
    // three CDF windows over BOUNDED key histograms; the dedup and
    // epoch legs add no cartesian/window (CC is equi-join rounds, the
    // epoch table a literal CASE)
    "q_pipeline_llm_annotated" -> Set("nested-loop", "global-window"),
    // shard assignment: the 1-row token-total frame crossJoins into the
    // doc-sized placement scan; offsets come from the two-phase range
    // layout (per-partition window, no global sort)
    "q_shard_assign" -> Set("nested-loop"),
    // unigram tokenizer: the 1-row piece-total normaliser frames (seed
    // and usage rounds) crossJoin into the VOCAB-sized piece tables —
    // never corpus-sized; the DP itself is row-local HOFs
    "q_unigram_segments" -> Set("nested-loop"),
    "q_tokenizer_unigram" -> Set("nested-loop"),
    // curriculum: Quantiles' cumulative window runs over the same
    // bounded score HISTOGRAM (ungrouped quartiles), and the 1-row
    // quartile frame crossJoins into the banding scan; positions come
    // from the two-phase range layout, not a global window
    "q_curriculum" -> Set("nested-loop", "global-window"),
    // Moore–Lewis: TWO LM scoring chains (in-domain + general), each
    // carrying the LM's two 1-row ln(N) BNLJ frames — same audited
    // shape as q_lm_perplexity, twice
    "q_moore_lewis" -> Set("nested-loop"),
    // streamed LM: the batch LM scoring path over the folded counts —
    // same two 1-row ln(N) frames
    "q_stream_lm_perplexity" -> Set("nested-loop"))

  test("every query's executed plan passes the global shape gate") {
    val findings = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val nodes = PlanGate.executedNodes(fn(spark, sfDir))
        PlanGate.audit(nodes).foreach { f =>
          if (!whitelist.getOrElse(name, Set.empty).contains(f.rule))
            findings += s"$name: $f"
        }
      } catch {
        case e: Throwable => findings += s"$name: ERROR ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    assert(findings.isEmpty,
      "plan-shape violations:\n" + findings.mkString("\n"))
  }

  test("the fact loads' NK→SK resolution joins broadcast the SK maps") {
    // the load queries RETURN a re-read of the written table, so the
    // join lives in the write job's plan — assert on the resolve frame
    // itself (same path bulk and delta fact loads share)
    import spark.implicits._
    implicit val c: GraftConf = tmpConf()
    val dfl = new DataFlow(spark, "gate", c)
    dfl.createDataset("d", Map(
      "cust_id" -> Seq("10", "20"), "name" -> Seq("A", "B")))
    dfl.write("d", "dm_cust", graft.catalog.Layer.LOD)
    graft.warehouse.StageLoad.bulkLoadDimension(spark, c,
      graft.warehouse.DimensionSpec("dm_cust", Seq("cust_id"), Seq("name")))
    val fact = Seq(("10", 5.0), ("99", 7.0)).toDF("cust_id", "amount")
    val resolved = graft.warehouse.StageLoad.resolveFks(spark, c, fact,
      Seq(graft.warehouse.FkMapping("cust_id", "dm_cust", "cust_id")))
    val nodes = PlanGate.executedNodes(resolved)
    assert(PlanGate.hasBroadcastHashJoin(nodes),
      "NK→SK resolution lost its broadcast join")
  }
}
