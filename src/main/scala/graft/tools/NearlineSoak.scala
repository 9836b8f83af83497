package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nearline soak harness: drives the cross-micro-batch folds (SimHash
  * band index, MinHash band index + shingle store, span-dedup gram
  * index, frozen-quantizer IVF postings, BM25 statistics, cross-modal
  * index) over MANY batches and records per-batch wall
  * time plus accumulated state size — the question a long-lived
  * nearline deployment actually asks: does per-batch latency stay
  * O(batch × bucket-hit) flat, or does it creep with index size?
  *
  * Per-batch STATE-SCAN BYTES ride along (graft.streaming
  * .StateScanMeter): the bloom-guarded folds must record near-zero
  * scan for fresh-key batches while the state itself grows — the
  * direct evidence the per-batch probe is sub-O(state). Run with
  * SPARK_GRAFT_BLOOM=off for the counterfactual arm (guards disabled,
  * every batch pays the exact full-state probe).
  *
  * Batches replay through the same applyBatch entry points the
  * streaming queries use, sliced by the same id-range rule as
  * `StreamFlow.writeTimeSplits`, but invoked directly so the
  * measurement isolates fold cost from structured-streaming harness
  * overhead.
  *
  * Usage: runMain graft.tools.NearlineSoak <docs.parquet> <nBatches>
  *          <outJson> [families]
  * families: comma list of simhash,minhash,span,ivf,nb,line,ndiv,
  * dedupx,bm25,xmodal (default all).
  * The ivf family (frozen-quantizer streamed IVF) reads the sibling
  * `embeddings.parquet` of the docs path.
  */
object NearlineSoak {

  private case class BatchPoint(batch: Int, secs: Double, stateRows: Long,
    scanBytes: Long, guardBytes: Long, stateBytes: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: NearlineSoak <docs.parquet> <nBatches> <outJson> [families]")
    val docsPath = args(0)
    val nBatches = args(1).toInt
    val outJson = args(2)
    val families = if (args.length > 3) args(3).split(',').toSet
      else Set("simhash", "minhash", "span", "ivf", "nb", "line", "ndiv",
        "dedupx", "bm25", "xmodal", "cc")
    if (sys.env.get("SPARK_GRAFT_BLOOM").contains("off"))
      graft.streaming.BloomGuard.enabled = false
    // the streaming queries run their folds at ~8 shuffle partitions
    // (state-store setup dominates bounded runs); the soak mirrors that
    // so per-batch numbers transfer
    val spark = graft.SparkEntry.session(
      extra = Map("spark.sql.shuffle.partitions" -> "8"))

    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("text"))

    def slices(df: DataFrame, idCol: String): Seq[DataFrame] = {
      val b = df.agg(min(col(idCol)), max(col(idCol))).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val step = math.max(1L, (hi - lo) / nBatches + 1)
      (0 until nBatches).map { i =>
        df.where(col(idCol) >= lo + i * step &&
          (if (i == nBatches - 1) lit(true)
           else col(idCol) < lo + (i + 1) * step))
      }
    }

    def soak(name: String, batches: Seq[DataFrame],
        apply: (DataFrame, Int) => Unit,
        stateRows: () => Long,
        stateDirs: Seq[String] = Seq.empty): Seq[BatchPoint] = {
      val pts = batches.zipWithIndex.map { case (b, i) =>
        val mat = b.localCheckpoint() // slice cost out of the timing
        graft.streaming.StateScanMeter.reset()
        val t0 = System.nanoTime()
        apply(mat, i)
        val secs = (System.nanoTime() - t0) / 1e9
        val scan = graft.streaming.StateScanMeter.value
        val guard = graft.streaming.StateScanMeter.guardValue
        val sb = stateDirs.map(d =>
          math.max(0L, graft.io.ParquetUtil.dirSizeBytes(spark, d))).sum
        val p = BatchPoint(i, secs, stateRows(), scan, guard, sb)
        println(f"[soak] $name batch $i%3d: ${p.secs}%6.2fs  " +
          f"state=${p.stateRows}%,d rows  scan=${p.scanBytes}%,d B  " +
          f"guard=${p.guardBytes}%,d B  stateB=${p.stateBytes}%,d B")
        p
      }
      pts
    }

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString

    val results = scala.collection.mutable.LinkedHashMap[String, Seq[BatchPoint]]()

    if (families("simhash")) {
      val base = tmp("soak_simhash")
      val (indexDir, pairsDir) = (base + "/idx", base + "/pairs")
      val hashed = docs.select(col("doc_id").as("doc"),
        graft.text.TextFunctions.simHashUdf(
          graft.text.TextFunctions.tokens(col("text"))).as("h"))
        .localCheckpoint()
      // empty seed: every batch goes through the streamed path (column
      // order matches what applyBatch appends)
      hashed.where(lit(false))
        .select(lit(0).as("band"), lit(0L).as("key"), col("doc"), col("h"))
        .write.mode("overwrite").parquet(indexDir)
      hashed.where(lit(false))
        .select(col("doc").as("doc_a"), col("doc").as("doc_b"),
          lit(0).as("hamming"), lit("seed").as("phase"))
        .write.mode("overwrite").parquet(pairsDir)
      results("simhash") = soak("simhash", slices(hashed, "doc"),
        (b, _) => graft.dedup.Nearline.applyBatch(
          spark, b, indexDir, pairsDir, maxHamming = 3),
        () => spark.read.parquet(indexDir).count(),
        Seq(indexDir, pairsDir))
    }

    if (families("minhash")) {
      val base = tmp("soak_minhash")
      val (indexDir, storeDir, pairsDir) =
        (base + "/idx", base + "/store", base + "/pairs")
      graft.dedup.Nearline.initMinHashState(
        spark, indexDir, storeDir, pairsDir)
      val shingled = docs.select(col("doc_id").as("doc"),
        graft.functions.GraftFunctions.shinglesK(spark, col("text"), 3)
          .as("s")).localCheckpoint()
      results("minhash") = soak("minhash", slices(shingled, "doc"),
        (b, _) => graft.dedup.Nearline.applyMinHashBatch(spark, b,
          graft.queries.DedupQueries.JaccardThreshold,
          indexDir, storeDir, pairsDir),
        () => spark.read.parquet(indexDir).count(),
        Seq(indexDir, storeDir, pairsDir))
    }

    if (families("cc")) {
      // nearline duplicate-cluster maintenance (IncrementalCC): the
      // candidate join reads the gram index (metered, the Nearline
      // keyed-store shape); the CC side must stay touched-labels-sized
      // — per-batch flatness is the claim under test
      val base = tmp("soak_cc")
      val (idxDir, pairsDir, labelsDir, remapDir) =
        (base + "/gidx", base + "/pairs", base + "/labels",
          base + "/remap")
      graft.dedup.IncrementalCC.initState(spark, idxDir, pairsDir,
        labelsDir, remapDir)
      val shingled = docs.select(col("doc_id").as("doc"),
        graft.functions.GraftFunctions.shinglesK(spark, col("text"), 3)
          .as("s")).localCheckpoint()
      results("cc") = soak("cc", slices(shingled, "doc"),
        (b, _) => graft.dedup.IncrementalCC.applyBatch(spark, b,
          graft.queries.DedupQueries.JaccardThreshold,
          idxDir, pairsDir, labelsDir, remapDir),
        () => spark.read.parquet(pairsDir).count(),
        Seq(idxDir, pairsDir, labelsDir, remapDir))
    }

    if (families("line")) {
      // nearline CCNet line dedup: per-batch cost is one key agg + an
      // anti-probe against the growing first-occurrence index
      val base = tmp("soak_line")
      val (indexDir, marksDir) = (base + "/idx", base + "/marks")
      graft.text.LineDedup.initLineState(spark, indexDir, marksDir)
      val lines = graft.text.LineDedup.syntheticPages(docs)
        .withColumn("lid", col("page_id") * 100 + col("line_no"))
        .localCheckpoint()
      results("line") = soak("line", slices(lines, "lid"),
        (b, _) => graft.text.LineDedup.applyLineBatch(
          spark, b.drop("lid"), indexDir, marksDir),
        () => spark.read.parquet(indexDir).count(),
        Seq(indexDir, marksDir))
    }

    if (families("bm25")) {
      // nearline BM25 statistics: per-batch cost must be one batch
      // tokenize/agg + the O(bloom) guard — the growing dl/tf tables
      // are read only by replays (bloom hits)
      val base = tmp("soak_bm25")
      val (dlDir, tfDir) = (base + "/dl", base + "/tf")
      graft.text.Bm25.initState(spark, "doc_id", dlDir, tfDir)
      results("bm25") = soak("bm25", slices(docs, "doc_id"),
        (b, _) => graft.text.Bm25.applyBatch(spark, b, "doc_id", "text",
          graft.queries.TextQueries.Bm25Terms, dlDir, tfDir),
        () => spark.read.parquet(dlDir).count(),
        Seq(dlDir, tfDir))
    }

    if (families("xmodal")) {
      // nearline cross-modal index: media decode + projection per
      // batch, append-only under the bloom-guarded doc-id anti-join
      import graft.multimodal.{Crossmodal, MediaCodecs, Multimodal}
      val base = tmp("soak_xmodal")
      val stateDir = base + "/mv"
      Crossmodal.initState(spark, stateDir)
      val wav = udf((id: Long) => MediaCodecs.Synthetic.wavFor(id))
      val packed = docs.select(col("doc_id"), struct(
        wav(col("doc_id")).as("data"),
        lit("audio/wav").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("duration_ms")).as("media"))
      val projected = Multimodal.featurize(packed, "media", "feat",
        MediaCodecs.WavEnergyKernel)
        .select(col("doc_id"), Crossmodal.projectMedia(col("feat")).as("mv"))
        .localCheckpoint()
      results("xmodal") = soak("xmodal", slices(projected, "doc_id"),
        (b, _) => Crossmodal.applyBatch(spark, b, stateDir),
        () => spark.read.parquet(stateDir).count(),
        Seq(stateDir))
    }

    if (families("span")) {
      val base = tmp("soak_span")
      val (indexDir, dupDir) = (base + "/idx", base + "/dup")
      graft.dedup.SpanDedup.initState(spark, indexDir, dupDir)
      results("span") = soak("span", slices(docs, "doc_id"),
        (b, _) => graft.dedup.SpanDedup.applyBatch(
          spark, b, "text", "doc_id", indexDir, dupDir),
        () => spark.read.parquet(indexDir).count(),
        Seq(indexDir, dupDir))
    }

    if (families("ivf")) {
      // frozen-quantizer streamed IVF: per-batch cost is the argmin
      // kernel + an anti-join against the GROWING postings index — the
      // same creep question as the dedup folds
      val embPath =
        new java.io.File(docsPath).getParent + "/embeddings.parquet"
      val emb = spark.read.parquet(embPath)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val base = tmp("soak_ivf")
      val postingsDir = base + "/postings"
      graft.similarity.StreamingIvf.initState(spark, postingsDir)
      val sl = slices(emb, "vec_id")
      val k = graft.queries.SimilarityQueries.ivfK(sl.head.count())
      val (centFp, _) = graft.similarity.KMeans.fitModel(sl.head,
        "vec_id", "embedding", k, graft.queries.SimilarityQueries.IvfIters)
      results("ivf_frozen") = soak("ivf_frozen", sl,
        (b, _) => graft.similarity.StreamingIvf.applyFrozenBatch(
          spark, b, centFp, postingsDir),
        () => spark.read.parquet(postingsDir).count(),
        Seq(postingsDir))
    }

    if (families("dedupx")) {
      // nearline exact dedup: per-batch cost is one batch fingerprint
      // agg + a delta append — the growing distinct-fingerprint table
      // moves only at the every-CompactEvery compaction
      val stateDir = tmp("soak_dedupx") + "/state"
      results("dedupx") = soak("dedupx", slices(docs.localCheckpoint(), "doc_id"),
        (b, i) => graft.dedup.Nearline.applyExactBatch(
          spark, b, "text", "doc_id", i.toLong, stateDir),
        () => spark.read.parquet(stateDir).count(),
        Seq(stateDir))
    }

    if (families("ndiv")) {
      // streamed n-gram diversity: per-batch cost must be the batch's
      // gram partial + a delta APPEND — the growing distinct-gram state
      // moves only at the every-CompactEvery compaction, so the creep
      // question is whether the non-compacting batches stay flat and
      // the compacting ones stay bounded
      val ndocs = spark.read.parquet(docsPath)
        .select(col("doc_id"), col("source"), col("text"))
      val stateDir = tmp("soak_ndiv") + "/state"
      results("ndiv") = soak("ndiv", slices(ndocs.localCheckpoint(), "doc_id"),
        (b, i) => graft.text.NgramDiversity.applyBatch(
          spark, b, i.toLong, stateDir),
        () => spark.read.parquet(stateDir).count(),
        Seq(stateDir))
    }

    if (families("nb")) {
      // streamed NB count fold: per-batch cost is the batch token agg
      // + a vocab-sized merge against the GROWING count table — the
      // creep question is whether the merge tracks vocab growth
      val labelled = spark.read.parquet(docsPath)
        .select(col("doc_id"), col("text"), col("lang"))
      val stateDir = tmp("soak_nb") + "/state"
      results("nb") = soak("nb",
        slices(labelled.localCheckpoint(), "doc_id"),
        (b, i) => graft.text.NaiveBayes.applyBatch(spark, b,
          "doc_id", "text", col("lang") === "en", i.toLong, stateDir),
        () => spark.read.parquet(stateDir).count(),
        Seq(stateDir))
    }

    // flatness: mean of the last fifth vs the mean of the second fifth
    // (the first fifth warms JIT/codegen). A latency creep that tracks
    // index size shows up as late/early >> 1.
    def fifth(pts: Seq[BatchPoint], k: Int): Double = {
      val n = pts.size
      val sl = pts.slice(n * k / 5, n * (k + 1) / 5)
      sl.map(_.secs).sum / math.max(1, sl.size)
    }
    val json = new StringBuilder
    json.append("{\"docs\":\"").append(docsPath)
      .append("\",\"n_batches\":").append(nBatches).append(",")
    json.append(s""""bloom_guard":"${
      if (graft.streaming.BloomGuard.enabled) "on" else "off"}",""")
    json.append(results.map { case (name, pts) =>
      val early = fifth(pts, 1)
      val late = fifth(pts, 4)
      // with nBatches < 5 the early-fifth slice is empty (mean 0.0):
      // emit null rather than Infinity/NaN, which is invalid JSON
      val ratio =
        if (early > 0.0) graft.util.Fmt.fixed(late / early, 3) else "null"
      val n = pts.size
      val lateScans = pts.slice(n * 4 / 5, n).map(_.scanBytes)
      val lateScanMean =
        if (lateScans.isEmpty) 0L else lateScans.sum / lateScans.size
      "\"" + name + "\":{" +
        s""""early_fifth_mean_secs":${graft.util.Fmt.fixed(early, 3)},""" +
        s""""late_fifth_mean_secs":${graft.util.Fmt.fixed(late, 3)},""" +
        s""""late_over_early":$ratio,""" +
        s""""final_state_rows":${pts.last.stateRows},""" +
        s""""final_state_bytes":${pts.last.stateBytes},""" +
        s""""late_fifth_mean_scan_bytes":$lateScanMean,""" +
        "\"batches\":[" + pts.map(p =>
          s"""{"b":${p.batch},"secs":${graft.util.Fmt.fixed(p.secs, 3)},""" +
            s""""state_rows":${p.stateRows},""" +
            s""""scan_bytes":${p.scanBytes},""" +
            s""""guard_bytes":${p.guardBytes},""" +
            s""""state_bytes":${p.stateBytes}}""").mkString(",") + "]}"
    }.mkString(","))
    json.append("}")
    val p = java.nio.file.Paths.get(outJson)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, json.toString.getBytes("UTF-8"))
    println(json.toString.take(400))
    spark.stop()
  }
}
