package perfbench

import graft.{DataFlow, GraftConf}
import graft.catalog.Layer
import graft.io.ParquetDatastore
import graft.pipeline.{Pipeline, PipelineOp, Stage}
import graft.text.TextFunctions._
import graft.warehouse._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed iteration: the workload's job and its incremental steps. */
final case class IterTimes(jobS: Double, stepsS: Seq[Double])

/** A workload drives the program's public entry points the way an
  * application does, on the generated inputs under `input`, writing
  * everything under `work`. Each iteration starts from scratch, so
  * iterations are independent samples; `outputs` names what the output
  * checks read.
  */
abstract class Workload(val spark: SparkSession, val input: String,
    val work: String) {
  def iteration(i: Int): IterTimes
  def outputs(i: Int): Map[String, String]

  protected def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  protected def files(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
}

object Workload {
  def apply(name: String, spark: SparkSession, input: String,
      work: String): Workload = name match {
    case "warehouse_load" => new WarehouseLoad(spark, input, work)
    case "corpus_funnel" => new CorpusFunnel(spark, input, work)
    case "nearline_dedup" => new NearlineDedup(spark, input, work)
    case "vector_search" => new VectorSearch(spark, input, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'")
  }
}

/** The betl Kimball lifecycle: the default pipeline (per-table extract
  * fan-out, transforms, dimension loads with SK assignment and default
  * rows, an initial SCD2 load, fact loads with NK→SK resolution,
  * summarise) into a fresh warehouse, then delta cycles against it
  * (delta extract, SCD2 dimension update, delta fact load).
  */
final class WarehouseLoad(spark: SparkSession, input: String, work: String)
    extends Workload(spark, input, work) {
  private val Src = "SRC"
  private val custSpec = DimensionSpec(
    "dm_customer", Seq("c_custkey"), Seq("c_name", "c_mktsegment"))
  private val histSpec = DimensionSpec("dm_customer_hist", Seq("c_custkey"),
    Seq("c_name", "c_acctbal", "c_mktsegment"))
  private val factSpec = FactSpec("ft_orders",
    Seq(FkMapping("o_custkey", "dm_customer", "c_custkey"),
      FkMapping("nk_audit", "dm_audit", "nk_audit")))
  private val cycles = new java.io.File(input).list()
    .count(_.startsWith("delta_"))

  private def conf(i: Int, srcDir: String) = GraftConf(
    warehousePath = s"$work/wh_$i",
    srcSystems = Map(Src -> ParquetDatastore(srcDir)))

  private def transform(name: String, table: String, target: String,
      keep: Seq[String], dropAudit: Boolean = true,
      collapseAudit: Boolean = false) =
    PipelineOp(name, Stage.Transform, (sp, cf) => {
      val dfl = new DataFlow(sp, name, cf)
      dfl.read(table, Layer.EXT)
      dfl.dropColumns(table, colsToKeep = keep, dropAuditCols = dropAudit)
      if (collapseAudit) dfl.collapseAuditNK(table)
      dfl.prepForLoad(table, target)
      Trace.count("dataflow.steps", dfl.stepTimings.size)
      Trace.count("dataflow.step_s", dfl.stepTimings.map(_.seconds).sum)
    })

  private def layerOf(stage: Stage): String = stage match {
    case Stage.Extract => "graft.io"
    case Stage.Transform => "graft.DataFlow"
    case _ => "graft.warehouse"
  }

  private def ops(c: GraftConf): Seq[PipelineOp] =
    StageExtract.defaultExtractOps(spark, c, Src) ++ Seq(
      transform("transform_dm_customer", "customer", "dm_customer",
        Seq("c_custkey", "c_name", "c_mktsegment")),
      transform("transform_dm_customer_hist", "customer", "dm_customer_hist",
        Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment")),
      PipelineOp("transform_dm_audit", Stage.Transform,
        (sp, cf) => DmAudit.load(sp, cf)),
      transform("transform_ft_orders", "orders", "ft_orders",
        Seq("o_orderkey", "o_custkey", "o_totalprice"), dropAudit = false,
        collapseAudit = true),
      PipelineOp("load_dm_customer", Stage.LoadDim, (sp, cf) =>
        StageLoad.bulkLoadDimension(sp, cf, custSpec)),
      PipelineOp("load_dm_customer_hist", Stage.LoadDim, (sp, cf) =>
        Scd2Load.load(sp, cf, histSpec, "2024-01-01 00:00:00",
          initial = true)),
      PipelineOp("load_ft_orders", Stage.LoadFact, (sp, cf) =>
        StageLoad.bulkLoadFact(sp, cf, factSpec)),
      // the truncate must precede the summary rewrite in the next stage
      PipelineOp("summarise_prep", Stage.LoadFact, (sp, cf) =>
        StageSummarise.defaultSummarisePrep(sp, cf)),
      PipelineOp("summarise_sales", Stage.Summarise, (sp, cf) => {
        val dfl = new DataFlow(sp, "summarise_sales", cf)
        dfl.read("ft_orders", Layer.BSE)
        dfl.read("dm_customer", Layer.BSE)
        dfl.join(("ft_orders", "dm_customer"), "sales",
          joinCols = Seq("sk_customer"), broadcastRight = true)
        val su = dfl.get("sales").groupBy(col("c_mktsegment").as("segment"))
          .agg(sum(col("o_totalprice").cast("decimal(28,2)")).cast("double")
            .as("total_sales"),
            count(lit(1)).as("n_orders"),
            min(col("sk_audit")).as("sk_audit_min"),
            max(col("sk_audit")).as("sk_audit_max"))
        dfl.createDataset("su_sales_by_segment", su)
        dfl.write("su_sales_by_segment", "su_sales_by_segment", Layer.SUM)
      }))

  /** Each op becomes a span under the pipeline span; ops run on the
    * pipeline's thread pool, so the parent is passed explicitly.
    */
  private def traced(op: PipelineOp, parent: Long): PipelineOp =
    op.copy(run = (sp, cf) => Trace.span(s"${op.stage.name}:${op.name}",
      layerOf(op.stage), write = true, parent = parent)(op.run(sp, cf)))

  private def deltaCycle(i: Int, n: Int): Unit = {
    val c = conf(i, s"$input/delta_$n").copy(bulkOrDelta = "DELTA")
    val date = Some(f"2024-${n + 1}%02d-01 00:00:00")
    Trace.span("warehouse.delta_extract", "graft.warehouse", write = true) {
      StageExtract.deltaExtract(spark, c, Src, "customer", Seq("c_custkey"),
        date)
      StageExtract.deltaExtract(spark, c, Src, "orders", Seq("o_orderkey"),
        date)
    }
    val dfl = new DataFlow(spark, s"delta_$n", c)
    dfl.read("customer", Layer.EXT)
    dfl.dropColumns("customer", colsToKeep = histSpec.nkCols ++
      histSpec.attrCols, dropAuditCols = true)
    dfl.prepForLoad("customer", histSpec.name)
    Trace.span("warehouse.scd2", "graft.warehouse", write = true) {
      Scd2Load.load(spark, c, histSpec, date.get)
    }
    dfl.read("orders_delta", Layer.EXT)
    dfl.filter("orders_delta",
      Map(DeltaLoad.OpCol -> graft.FilterSpec.Eq("INSERT")))
    dfl.dropColumns("orders_delta",
      colsToKeep = Seq("o_orderkey", "o_custkey", "o_totalprice"))
    dfl.collapseAuditNK("orders_delta")
    dfl.prepForLoad("orders_delta", factSpec.name)
    Trace.span("warehouse.load_fact", "graft.warehouse", write = true) {
      StageLoad.deltaLoadFact(spark, c, factSpec, date)
    }
    Trace.count("dataflow.steps", dfl.stepTimings.size)
    Trace.count("dataflow.step_s", dfl.stepTimings.map(_.seconds).sum)
  }

  def iteration(i: Int): IterTimes = {
    val c = conf(i, s"$input/bulk")
    val (_, job) = secs {
      Trace.span("pipeline.run", "graft.pipeline") {
        val parent = Trace.currentId
        new Pipeline(c, ops(c).map(traced(_, parent)), parallelism = 4)
          .run(spark)
      }
    }
    val steps = (1 to cycles).map { n =>
      secs(Trace.span("warehouse.delta_cycle", "graft.warehouse") {
        deltaCycle(i, n)
      })._2
    }
    IterTimes(job, steps)
  }

  def outputs(i: Int): Map[String, String] = {
    val c = conf(i, input)
    Map("warehouse" -> c.warehousePath,
      "su_sales_by_segment" -> c.tablePath(Layer.SUM, "su_sales_by_segment"),
      "dm_customer" -> c.tablePath(Layer.BSE, "dm_customer"),
      "dm_customer_hist" -> c.tablePath(Layer.BSE, "dm_customer_hist"),
      "ft_orders" -> c.tablePath(Layer.BSE, "ft_orders"))
  }
}

/** The corpus-preparation funnel of `q_pipeline_llm`, composed from the
  * public stage functions as an application would write it: eval split,
  * exact dedup, PPJoin near-dup removal, heuristic quality gate, naive
  * Bayes classifier, perplexity band, decontamination, DSIR selection,
  * seeded shuffle and sequence packing. Each stage's survivors are cut
  * with an eager `localCheckpoint`, as in the query; the constants are
  * the query's, so its DuckDB oracle checks the output.
  */
final class CorpusFunnel(spark: SparkSession, input: String, work: String)
    extends Workload(spark, input, work) {
  private val EvalPct = 10
  private val ShuffleSeed = 42
  private val SeqLen = 256L

  private def stage(name: String, layer: String)(ids: => DataFrame)
      : DataFrame = {
    val cut = Trace.span(name, layer)(ids.select("doc_id").localCheckpoint())
    if (Trace.enabled) Trace.count(s"survivors.$name", cut.count())
    cut
  }

  def iteration(i: Int): IterTimes = {
    import graft.dedup.Dedup
    import graft.operators.Sampling
    val stepTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timed(name: String, layer: String)(ids: => DataFrame): DataFrame = {
      val (d, t) = secs(stage(name, layer)(ids))
      stepTimes += t
      d
    }
    val (_, job) = secs {
      val dfl = new DataFlow(spark, "corpus_funnel", GraftConf(
        warehousePath = s"$work/wh_$i",
        srcSystems = Map("SRC" -> ParquetDatastore(input))))
      dfl.getDataFromSrc("documents", "SRC")
      dfl.dropColumns("documents", dropAuditCols = true)
      val docs = dfl.get("documents")
      if (Trace.enabled) Trace.count("survivors.input", docs.count())
      val bucket = Sampling.hashBucket(col("doc_id"), "eval:")
      val evalSet = docs.where(bucket < EvalPct)
      val train0 = docs.where(bucket >= EvalPct)
      def survivors(ids: DataFrame) = train0.join(ids, Seq("doc_id"),
        "left_semi")
      val ids1 = timed("dedup.exact", "graft.dedup")(train0
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id")))
      val train1 = survivors(ids1)
      val ids2 = timed("dedup.neardup", "graft.dedup") {
        val losers = Dedup.jaccardPairsPrefix(train1, "text", "doc_id", 0.9)
          .select(col("doc_b").as("doc_id")).distinct()
        train1.join(losers, Seq("doc_id"), "left_anti")
      }
      val train2 = survivors(ids2)
      val ids3 = timed("text.quality", "graft.text")(
        train2.where(qualityScore(col("text")) >= 0.5))
      val train3 = survivors(ids3)
      val trainSplit = train0.where(col("doc_id") % 2 === 0)
      val ids4 = timed("text.nb", "graft.text")(graft.text.NaiveBayes
        .scoreBinary(train3, trainSplit, "doc_id", "text",
          col("lang") === "en")
        .where(col("pred_pos")))
      val train4 = survivors(ids4)
      val ids5 = timed("text.ppl", "graft.text")(graft.text.PerplexityBuckets
        .bucket(train4, trainSplit, "doc_id", "text", Seq("lang"))
        .where(col("ppl_bucket") =!= "tail"))
      val train5 = survivors(ids5)
      val ids6 = timed("text.decontam", "graft.text") {
        val dirty = graft.text.Decontaminate
          .flag(train5, evalSet, "text", "doc_id", k = 5)
          .where(col("contaminated")).select("doc_id")
        train5.join(dirty, Seq("doc_id"), "left_anti")
      }
      val train6 = survivors(ids6)
      val ids7 = timed("text.dsir", "graft.text")(graft.text.Dsir
        .importanceWeights(train6, "doc_id", "text", col("lang") === "en")
        .where(col("selected")))
      val train7 = survivors(ids7)
      val (_, packS) = secs(Trace.span("text.pack", "graft.text",
          write = true) {
        val keyed = train7
          .select(col("doc_id"), tokenCount(col("text")).as("nt"))
          .where(col("nt") > 0)
          .withColumn("shuffle_key", tokenHash60(
            concat(lit(s"shuffle:$ShuffleSeed:"),
              col("doc_id").cast("string"))))
          .localCheckpoint()
        val positioned = SurrogateKeys
          .assign(keyed, Seq("shuffle_key", "doc_id"), "shuffle_pos")
          .localCheckpoint()
        val packed = graft.text.SeqPack.pack(
          positioned.select(col("shuffle_pos"), col("nt")),
          "shuffle_pos", "nt", seqLen = SeqLen)
        packed.join(positioned.select("shuffle_pos", "doc_id"),
            Seq("shuffle_pos"))
          .select(col("doc_id"), col("shuffle_pos"), col("seq_id"),
            col("tok_start"), col("n_toks"))
          .write.mode("overwrite").parquet(s"$work/funnel_$i")
      })
      stepTimes += packS
      Trace.count("dataflow.steps", dfl.stepTimings.size)
      Trace.count("dataflow.step_s", dfl.stepTimings.map(_.seconds).sum)
    }
    IterTimes(job, stepTimes.toSeq)
  }

  def outputs(i: Int): Map[String, String] =
    Map("funnel" -> s"$work/funnel_$i")
}

/** Nearline dedup: `IncrementalCC.initState`, one `applyBatch` per
  * arriving micro-batch, then `annotateFromState` — the fold behind
  * `q_stream_dedup_annotate`, whose annotation must equal the batch
  * `q_dedup_annotate` oracle over every document that arrived.
  */
final class NearlineDedup(spark: SparkSession, input: String, work: String)
    extends Workload(spark, input, work) {
  // q_dedup_annotate's Jaccard threshold, which its oracle embeds
  private val Threshold = 0.5
  private val batches = files(s"$input/batches")

  def iteration(i: Int): IterTimes = {
    import graft.dedup.IncrementalCC
    import graft.streaming.{BloomGuard, StateScanMeter}
    val base = s"$work/nl_$i"
    val (index, pairs, labels, remap) = (s"$base/gram_index",
      s"$base/pairs", s"$base/labels", s"$base/remap")
    val steps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (_, job) = secs {
      Trace.span("dedup.cc_init", "graft.dedup", write = true) {
        IncrementalCC.initState(spark, index, pairs, labels, remap)
      }
      batches.foreach { f =>
        val b = spark.read.parquet(f).select(col("doc_id").as("doc"),
          graft.functions.GraftFunctions.shinglesK(spark, col("text"), 3)
            .as("s"))
        if (Trace.enabled) {
          val exact = BloomGuard.needExact(spark,
            IncrementalCC.bloomDir(labels), b.select("doc"), "doc")
          Trace.count("streaming.probe_skipped", if (exact) 0.0 else 1.0)
        }
        StateScanMeter.reset()
        steps += secs(Trace.span("dedup.cc_apply", "graft.streaming",
          write = true) {
          IncrementalCC.applyBatch(spark, b, Threshold, index, pairs, labels,
            remap)
        })._2
        Trace.count("streaming.scan_bytes", StateScanMeter.value.toDouble)
        Trace.count("streaming.guard_bytes",
          StateScanMeter.guardValue.toDouble)
      }
      Trace.span("dedup.cc_annotate", "graft.dedup", write = true) {
        IncrementalCC.annotateFromState(spark, labels, remap)
          .write.mode("overwrite").parquet(s"$base/annotated")
      }
    }
    IterTimes(job, steps.toSeq)
  }

  def outputs(i: Int): Map[String, String] = {
    val base = s"$work/nl_$i"
    Map("annotated" -> s"$base/annotated", "state" -> base)
  }
}

/** IVF-PQ vector search: train the coarse quantizer
  * (`KMeans.fitModel`) and the product quantizer
  * (`ProductQuantizer.train`), save the index, then answer each query
  * set with `adcIvfRerankTopKWith` against the saved index.
  */
final class VectorSearch(spark: SparkSession, input: String, work: String)
    extends Workload(spark, input, work) {
  import graft.similarity.{KMeans, ProductQuantizer}
  import graft.queries.SimilarityQueries
  private val TopK = 10
  private val querySets = files(s"$input/queries")

  /** Probe table (qid, label): each query's `np` nearest coarse centroids
    * by cosine, ties to the smaller label.
    */
  private def probes(queries: Array[(Long, Array[Float])],
      cents: Map[Int, Array[Double]], np: Int): DataFrame = {
    def cos(a: Array[Float], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var k = 0
      while (k < math.min(a.length, b.length)) {
        dot += a(k) * b(k); na += a(k).toDouble * a(k); nb += b(k) * b(k)
        k += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = queries.toSeq.flatMap { case (q, v) =>
      cents.toSeq.map { case (l, c) => (l, cos(v, c)) }
        .sortBy { case (l, c) => (-c, l) }.take(np).map(x => (q, x._1))
    }
    spark.createDataFrame(rows).toDF("qid", "label")
  }

  def iteration(i: Int): IterTimes = {
    val dir = s"$work/ivfpq_$i"
    val emb = spark.read.parquet(s"$input/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (k, job) = secs {
      val k = SimilarityQueries.ivfK(emb.count())
      val (cent, asg) = Trace.span("similarity.kmeans", "graft.similarity") {
        KMeans.fitModel(emb, "vec_id", "embedding", k,
          SimilarityQueries.IvfIters)
      }
      val (books, codes) = Trace.span("similarity.pq_train",
          "graft.similarity") {
        ProductQuantizer.train(emb, "vec_id", "embedding")
      }
      Trace.span("similarity.index_write", "graft.similarity",
          write = true) {
        cent.write.parquet(s"$dir/centroids")
        asg.select(col("vec_id"), col("cid").cast("int").as("label"))
          .write.parquet(s"$dir/assign")
        books.zipWithIndex.foreach { case (b, m) =>
          b.write.parquet(s"$dir/book_$m")
        }
        codes.write.parquet(s"$dir/codes")
      }
      k
    }
    val cents = spark.read.parquet(s"$dir/centroids").collect().map { r =>
      r.getLong(0).toInt -> r.getSeq[Long](1)
        .map(_.toDouble / KMeans.Scale - KMeans.Offset).toArray
    }.toMap
    val asg = spark.read.parquet(s"$dir/assign")
    val codes = spark.read.parquet(s"$dir/codes")
    val books = (0 until ProductQuantizer.NumSubspaces).map(m =>
      spark.read.parquet(s"$dir/book_$m"))
    val np = SimilarityQueries.ivfNProbe(k)
    if (Trace.enabled) {
      val sizes = asg.groupBy("label").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Trace.count("similarity.list_sizes_total", sizes.values.sum.toDouble)
      Trace.count("similarity.mean_list_size",
        sizes.values.sum.toDouble / math.max(1, sizes.size))
    }
    val steps = querySets.zipWithIndex.map { case (f, j) =>
      secs(Trace.span("similarity.search", "graft.similarity",
          write = true) {
        val qs = spark.read.parquet(f).select(col("vec_id"), col("embedding"))
        val qRows = qs.collect().map(r =>
          r.getLong(0) -> r.getSeq[Float](1).toArray)
        val pr = probes(qRows, cents, np)
        if (Trace.enabled) Trace.count("similarity.probed_lists",
          pr.count().toDouble / qRows.length)
        ProductQuantizer.adcIvfRerankTopKWith(spark, emb.unionByName(qs),
            "vec_id", "embedding", books, codes, pr, asg, qRows.length, TopK,
            ProductQuantizer.RerankFactor * TopK)
          .write.parquet(s"$dir/result_$j")
      })._2
    }
    IterTimes(job, steps)
  }

  def outputs(i: Int): Map[String, String] =
    Map("index" -> s"$work/ivfpq_$i") ++ querySets.indices.map(j =>
      s"result_$j" -> s"$work/ivfpq_$i/result_$j")
}
