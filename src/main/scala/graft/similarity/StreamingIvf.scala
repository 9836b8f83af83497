package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental IVF index maintenance — the streaming rendering of the
  * batch IVF ANN (coarse quantizer = cluster label): vectors arrive in
  * micro-batches, per-(label, dim) decimal sums + counts fold additively
  * into a tiny sums frame (labels × dim rows), and the postings file
  * accumulates the vectors themselves. Decimal addition is exact and
  * associative, so the folded centroids are BIT-IDENTICAL to the batch
  * computation over the full corpus — the streamed index answers
  * queries exactly like the batch q_ann_ivf, whose oracle the streaming
  * query reuses verbatim.
  *
  * Replay algebra, per the engine's streaming-state contract: the sums
  * frame is additive (not idempotent) → batch-id watermark inside the
  * atomically-swapped frame ([[graft.functions.CountMinSketch]]); the
  * postings append is guarded by a vec_id anti-join (ids are
  * batch-atomic). Write ORDER is load-bearing: postings append FIRST
  * (idempotent under the anti-join), then the watermark-carrying sums
  * swap LAST — so a crash between the two writes replays into a
  * skipped append plus a normal sums fold, never a batch that is
  * counted in the centroids but absent from the scan set. The sums
  * partial is computed from the RAW batch gated only by the watermark
  * (not from the anti-joined frame), otherwise the same crash window
  * would drop the batch from the sums instead.
  *
  * 100 TB stance: the per-batch fold shuffles ≤ labels × dim partial
  * rows (map-side combined); postings appends are batch-sized; the
  * parquet postings swap for a real vector store at scale with the
  * same join shape.
  */
object StreamingIvf {

  private val SumT = DecimalType(38, 15)

  /** Cells trained per grouped [[splitCells]] prefetch pass — bounds
    * the per-pass union plan and driver collect (k×dim centroid rows
    * per cell), not a semantic knob: any value replays the identical
    * largest-first split sequence.
    */
  val MaxSplitBatch = 64

  /** The postings' Bloom-guard state dir. */
  def bloomDir(postingsDir: String): String = postingsDir + "_bloom"

  /** The postings' vec-id read, metered — the replay guard's exact
    * probe and resize source.
    */
  private def postingsKeys(s: SparkSession, postingsDir: String)
      : () => DataFrame = () => {
    graft.streaming.StateScanMeter.add(s, postingsDir)
    s.read.parquet(postingsDir).select("vec_id")
  }

  /** Initialise the empty postings frame (sums start on first batch)
    * and the vec-id Bloom guard.
    */
  def initState(s: SparkSession, postingsDir: String): Unit = {
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(postingsDir)
    graft.streaming.BloomGuard.init(s, bloomDir(postingsDir))
  }

  /** Fold one micro-batch of (vec_id, embedding, label) vectors. */
  def applyBatch(s: SparkSession, b: DataFrame, batchId: Long,
      sumsDir: String, postingsDir: String): Unit = {
    import graft.streaming.BloomGuard
    val applied = graft.io.ParquetUtil.lastBatch(s, sumsDir)
    if (applied.exists(batchId <= _)) return
    val batch = b.select("vec_id", "embedding", "label").cache()
    try {
      val batchCnt = batch.count()
      // 1. postings FIRST — idempotent under the vec_id anti-join, so a
      //    crash after this write replays into a skipped append. The
      //    vec-id bloom (written before the append it covers) proves
      //    fresh batches new row-locally, so the steady state never
      //    reads the postings; bloom hits take the exact probe.
      val (fresh, _) = BloomGuard.freshRows(s, bloomDir(postingsDir),
        batch, "vec_id", postingsKeys(s, postingsDir))
      val freshCnt = fresh.count()
      // Enforce the batch-atomicity invariant the sums fold rests on:
      // either every vec_id is new (normal batch) or none is (a whole-
      // batch replay of the crash window between the two writes). A
      // PARTIAL re-delivery would be excluded from postings by the
      // anti-join but double-counted into the centroid sums below —
      // fail loudly instead of diverging silently.
      if (freshCnt != 0L && freshCnt != batchCnt)
        throw new IllegalStateException(
          s"StreamingIvf batch $batchId re-delivers ${batchCnt - freshCnt} " +
            s"of $batchCnt vec_ids already in the postings: batches must " +
            "be atomic (all-new or an exact replay)")
      fresh.write.mode("append").parquet(postingsDir)
      // 2. sums partial from the RAW batch (watermark-gated above, NOT
      //    anti-joined — after the crash the batch is already in postings
      //    and an anti-joined partial would drop it from the sums)
      val partial = batch
        .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("label", "d")
        .agg(sum(col("v").cast(SumT)).as("sv"), count(lit(1)).as("cnt"))
      val hasSums = applied.isDefined
      val merged =
        if (!hasSums) partial
        else graft.io.ParquetUtil.readRecovered(s, sumsDir).drop("last_batch")
          .unionByName(partial)
          .groupBy("label", "d")
          .agg(sum(col("sv")).as("sv"), sum(col("cnt")).as("cnt"))
      // 3. the watermark-carrying swap LAST — the acknowledge
      graft.io.ParquetUtil.safeOverwrite(s,
        merged.withColumn("last_batch", lit(batchId)), sumsDir)
      ()
    } finally batch.unpersist()
  }

  /** (label, d, c) centroid frame from the folded sums — the same
    * cast-then-divide the batch computation performs, on bit-identical
    * decimal totals.
    */
  def centroidFrame(s: SparkSession, sumsDir: String): DataFrame =
    s.read.parquet(sumsDir)
      .select(col("label"), col("d"),
        (col("sv").cast("double") / col("cnt")).as("c"))

  // ------------------------------------------------------------------
  // drift-response maintenance verbs: the ACTION the frozen
  // deployments' monitor (QuantizerDrift) was missing — measured
  // deficit: bootstrap-frozen 0.696 candidate-set recall vs 0.96
  // whole-corpus-trained at the same scan fraction
  // (RECALL_SCALE_SF10_r14.json)
  // ------------------------------------------------------------------

  /** REQUANTIZE: retrain the coarse quantizer on the accumulated
    * postings (optionally a recent slice via `trainPred`), reassign
    * EVERY posting to the new centroids by the bit-exact integer
    * argmin, and staging-swap the postings (the Admin.compact pattern —
    * readers see the old index or the new one, never a mix). Returns
    * the new fixed-point centroid frame the deployment freezes next.
    *
    * With `trainPred` = all and k/iterations = the batch defaults, the
    * rebuilt index is BIT-IDENTICAL to a from-scratch batch-trained
    * index on the same corpus ([[KMeans.fitModel]]'s Lloyd init is the
    * k lowest vec_ids of the training SET, so same set → same model —
    * RequantizeSpec pins it, and q_stream_ann_ivf_requantized reuses
    * the batch q_ann_ivf oracle verbatim).
    *
    * Cost: one k-means fit on the training slice + one linear
    * reassignment pass + one postings rewrite — the n·√n training
    * amortization is spent ONLY when the drift monitor says the frozen
    * model no longer fits, not per batch.
    */
  def requantize(s: SparkSession, postingsDir: String, k: Int,
      iterations: Int,
      trainPred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val postings = graft.io.ParquetUtil.readRecovered(s, postingsDir)
      .select("vec_id", "embedding").localCheckpoint()
    val centFp = KMeans.fitCentroidsFp(
      KMeans.pointsFp(postings.where(trainPred), "vec_id", "embedding"),
      k, iterations).localCheckpoint()
    val asg = KMeans.assign(
      KMeans.pointsFp(postings, "vec_id", "embedding"), centFp)
    graft.io.ParquetUtil.safeOverwrite(s,
      postings.join(asg, "vec_id")
        .select(col("vec_id"), col("embedding"),
          col("cid").cast("int").as("label")),
      postingsDir)
    centFp
  }

  /** Close the monitor→action loop: requantize iff the LATEST drift
    * slice's `drift_ratio` exceeds `threshold` (the dimensionless
    * retrain gate of [[QuantizerDrift]]). Returns the new centroid
    * frame when it fired, None when the frozen model still fits.
    */
  def requantizeIfDrifted(s: SparkSession, driftStateDir: String,
      postingsDir: String, k: Int, iterations: Int,
      threshold: Double = 1.5,
      trainPred: org.apache.spark.sql.Column = lit(true))
      : Option[DataFrame] = {
    val latest = QuantizerDrift.driftFromState(s, driftStateDir)
      .orderBy(col("slice").desc).limit(1)
      .select("drift_ratio").collect()
    val drifted = latest.nonEmpty && !latest(0).isNullAt(0) &&
      latest(0).getDouble(0) > threshold
    if (drifted) Some(requantize(s, postingsDir, k, iterations, trainPred))
    else None
  }

  /** Close the monitor→action loop for IMBALANCE: grow the quantizer
    * by [[splitCells]] iff the LATEST drift slice's `max_cluster_frac`
    * exceeds `threshold` — the catch-all-cell signal that degrades
    * probe selectivity long before mean error alarms. Returns the
    * grown centroid frame when it fired, None when the frozen model's
    * cells are still balanced.
    */
  def splitIfImbalanced(s: SparkSession, driftStateDir: String,
      postingsDir: String, centFp: DataFrame, targetK: Int,
      iterations: Int, threshold: Double = 0.5,
      reassign: Boolean = true): Option[DataFrame] = {
    val latest = QuantizerDrift.driftFromState(s, driftStateDir)
      .orderBy(col("slice").desc).limit(1)
      .select("max_cluster_frac").collect()
    val imbalanced = latest.nonEmpty && !latest(0).isNullAt(0) &&
      latest(0).getDouble(0) > threshold
    if (imbalanced)
      Some(splitCells(s, postingsDir, centFp, targetK, iterations,
        reassign = reassign))
    else None
  }

  /** CELL SPLITS: the imbalance response WITHOUT a full retrain — the
    * drift monitor's `max_cluster_frac` rising means arriving data
    * funnels into few catch-all cells, degrading probe selectivity
    * long before mean error alarms. Splitting only the oversized cells
    * (a 2-means on each split cell's OWN members) grows the quantizer
    * from the undersized bootstrap k toward `targetK`, touching only
    * the split cells' postings: work = Σ(split-cell sizes) per pass,
    * never a whole-corpus retrain.
    *
    * Deterministic: cells split largest-first (ties to the lower cid),
    * child ids allocated sequentially above the current max, each
    * 2-means seeded by the cell's two lowest vec_ids (the [[KMeans]]
    * init rule). Returns the grown fixed-point centroid frame.
    *
    * `reassign=false` preserves locality: only split cells' postings
    * move, each vector to the nearest of its OWN parent's two children
    * — but vectors near a frozen PARENT boundary stay in the wrong
    * lineage (the bootstrap partition is frozen), which caps the
    * recall recovery (measured: 0.696 → 0.748 at sf-scale).
    * `reassign=true` follows the splits with ONE global argmin pass
    * over the grown centroid table — an assignment, not a retrain (no
    * Lloyd iterations, same cost class as a single batch fold) — which
    * releases the boundary vectors and recovers most of the trained
    * line (the RECALL_SCALE ivf_frozen_split_reassign row).
    */
  def splitCells(s: SparkSession, postingsDir: String, centFp: DataFrame,
      targetK: Int, iterations: Int,
      reassign: Boolean = false, refineIters: Int = 0): DataFrame = {
    require(refineIters == 0 || reassign,
      "refineIters needs reassign=true (refined centroids must be " +
        "followed by the global assignment they define)")
    import scala.collection.mutable
    import org.apache.spark.sql.expressions.Window
    val postings = graft.io.ParquetUtil.readRecovered(s, postingsDir)
      .select("vec_id", "embedding", "label").localCheckpoint()
    val pts = KMeans.pointsFp(postings, "vec_id", "embedding")
      .localCheckpoint()
    val cents = mutable.LinkedHashMap[Long, Seq[Long]](
      centFp.collect().map(r =>
        r.getLong(0) -> r.getSeq[Long](1)).toSeq: _*)
    val sizes = mutable.Map[Long, Long](
      postings.groupBy("label").count().collect().map(r =>
        r.getInt(0).toLong -> r.getLong(1)).toSeq: _*)
    // membership frames: unsplit cells resolve from the postings;
    // split children from their 2-means assignment (checkpointed)
    val members = mutable.Map[Long, DataFrame]()
    var nextId = (cents.keys ++ sizes.keys).max + 1
    val changed = mutable.ArrayBuffer[Long]()
    // BATCHED prefetch: 2-means results for cells that have not split
    // yet are order-independent (a cell's members never change unless
    // THAT cell splits), so the top `needed` frontier cells train in
    // ONE grouped Lloyd chain per driver pass instead of one full
    // chain per split. The largest-first decision sequence — including
    // child-id allocation and re-splits of children — is then replayed
    // on the driver consuming the precomputed results; a result stays
    // valid across passes until its cell is consumed, so no grouped
    // work is wasted. Each consumed result is bit-identical to the
    // one-cell chain ([[KMeans.lloydMultiFrom]]'s grouped parity plus
    // identical 2-lowest-vec_id seeding), and the sequential reference
    // is retained as [[splitCellsSeq]] (RequantizeSpec pins equality).
    val pending = mutable.Map[Long,
      (Seq[(Long, Seq[Long])], Map[Long, Long], Int, DataFrame)]()
    def prefetch(cells: Seq[Long]): Unit = if (cells.nonEmpty) {
      import s.implicits._
      val idx = cells.zipWithIndex
      val unsplit = cells.filterNot(members.contains)
      val tagged = ((if (unsplit.isEmpty) Seq.empty[DataFrame] else Seq(
        postings.where(col("label").isin(unsplit: _*))
          .select(col("vec_id"), col("label").cast("long").as("cell"))))
        ++ cells.filter(members.contains).map(c =>
          members(c).select(col("vec_id"), lit(c).as("cell"))))
        .reduce(_ unionByName _)
      val gpts = pts.join(tagged, "vec_id")
        .join(broadcast(idx.toDF("cell", "grp")), "cell")
        .select(col("grp"), col("vec_id"), col("p"))
        .persist()
      try {
        gpts.count()
        // per-group seeds: the 2 lowest vec_ids' points — the KMeans
        // init rule on each cell's own members
        val seeds = gpts
          .withColumn("rn", row_number().over(
            Window.partitionBy("grp").orderBy("vec_id")))
          .where(col("rn") <= 2)
          .select(col("grp"), col("vec_id").as("cid"), col("p").as("c"))
        val cent2 = KMeans.lloydMultiFrom(gpts, seeds, iterations)
        val asg2m = KMeans.assignMulti(gpts, cent2) // localCheckpointed
        val centRows = cent2.collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
        val cnts = asg2m.groupBy("grp", "cid").count().collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
        idx.foreach { case (c, g) =>
          val c2 = centRows.filter(_._1 == g)
            .map(t => (t._2, t._3)).sortBy(_._1).toSeq
          val counts = cnts.collect {
            case ((gg, cc), n) if gg == g => cc -> n }
          pending(c) = (c2, counts, g, asg2m)
        }
      } finally gpts.unpersist()
    }
    while (cents.size < targetK && sizes.exists(_._2 >= 2)) {
      val (cid, _) = sizes.filter(_._2 >= 2)
        .maxBy { case (c, n) => (n, -c) }
      if (!pending.contains(cid)) {
        val needed = targetK - cents.size
        prefetch(sizes.filter(_._2 >= 2).toSeq
          .sortBy { case (c, n) => (-n, c) }
          .take(math.min(needed, MaxSplitBatch)).map(_._1)
          .filterNot(pending.contains))
      }
      val (c2rows, childCounts, g, asg2m) = pending.remove(cid).get
      if (c2rows.length < 2) sizes(cid) = 0L // all-identical: unsplittable
      else {
        val childA = c2rows.map(_._1).min // keeps the parent id
        val idB = nextId; nextId += 1
        cents.remove(cid)
        c2rows.foreach { case (ccid, cvec) =>
          cents(if (ccid == childA) cid else idB) = cvec
        }
        members(cid) = asg2m
          .where(col("grp") === g && col("cid") === childA)
          .select("vec_id")
        members(idB) = asg2m
          .where(col("grp") === g && col("cid") =!= childA)
          .select("vec_id")
        sizes(cid) = childCounts.getOrElse(childA, 0L)
        sizes(idB) = childCounts.values.sum - sizes(cid)
        changed += cid; changed += idB
      }
    }
    def memberIds(cid: Long): DataFrame = members.getOrElse(cid,
      postings.where(col("label") === cid).select("vec_id"))
    import scala.jdk.CollectionConverters._
    val centGrown = s.createDataFrame(
      cents.toSeq.map { case (cid, c) =>
        org.apache.spark.sql.Row(cid, c) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
      .localCheckpoint()
    // optional warm-start refinement: `refineIters` Lloyd rounds FROM
    // the grown table (cost = refineIters assignment passes — between
    // the pure reassign and a cold retrain; never a re-init)
    val centNew =
      if (refineIters == 0) centGrown
      else KMeans.lloydFrom(pts, centGrown, refineIters).localCheckpoint()
    if (reassign) {
      // one global argmin pass over the grown table — releases vectors
      // trapped by the frozen parent boundaries; not a retrain
      val asg = KMeans.assign(pts, centNew)
      graft.io.ParquetUtil.safeOverwrite(s,
        postings.drop("label").join(asg, "vec_id")
          .select(col("vec_id"), col("embedding"),
            col("cid").cast("int").as("label")),
        postingsDir)
    } else if (changed.nonEmpty) {
      val remap = changed.distinct.map(cid =>
        memberIds(cid).select(col("vec_id"), lit(cid).as("new_label")))
        .reduce(_ unionByName _)
      graft.io.ParquetUtil.safeOverwrite(s,
        postings.join(remap, Seq("vec_id"), "left")
          .select(col("vec_id"), col("embedding"),
            coalesce(col("new_label"), col("label").cast("long"))
              .cast("int").as("label")),
        postingsDir)
    }
    centNew
  }

  /** The pre-batching one-full-chain-per-split [[splitCells]] — kept
    * verbatim as the bit-parity reference for the grouped prefetch
    * (RequantizeSpec pins splitCells == splitCellsSeq: same grown
    * centroid table, same postings state).
    */
  private[graft] def splitCellsSeq(s: SparkSession, postingsDir: String,
      centFp: DataFrame, targetK: Int, iterations: Int,
      reassign: Boolean = false, refineIters: Int = 0): DataFrame = {
    require(refineIters == 0 || reassign,
      "refineIters needs reassign=true")
    import scala.collection.mutable
    val postings = graft.io.ParquetUtil.readRecovered(s, postingsDir)
      .select("vec_id", "embedding", "label").localCheckpoint()
    val pts = KMeans.pointsFp(postings, "vec_id", "embedding")
      .localCheckpoint()
    val cents = mutable.LinkedHashMap[Long, Seq[Long]](
      centFp.collect().map(r =>
        r.getLong(0) -> r.getSeq[Long](1)).toSeq: _*)
    val sizes = mutable.Map[Long, Long](
      postings.groupBy("label").count().collect().map(r =>
        r.getInt(0).toLong -> r.getLong(1)).toSeq: _*)
    val members = mutable.Map[Long, DataFrame]()
    def memberIds(cid: Long): DataFrame = members.getOrElse(cid,
      postings.where(col("label") === cid).select("vec_id"))
    var nextId = (cents.keys ++ sizes.keys).max + 1
    val changed = mutable.ArrayBuffer[Long]()
    while (cents.size < targetK && sizes.exists(_._2 >= 2)) {
      val (cid, _) = sizes.filter(_._2 >= 2)
        .maxBy { case (c, n) => (n, -c) }
      val cellPts = pts.join(memberIds(cid), "vec_id")
      val (c2, asg2) = KMeans.fitModelFp(cellPts, 2, iterations)
      val c2rows = c2.collect()
      if (c2rows.length < 2) sizes(cid) = 0L
      else {
        val childA = c2rows.map(_.getLong(0)).min
        val idB = nextId; nextId += 1
        val asg2m = asg2.localCheckpoint()
        val childCounts = asg2m.groupBy("cid").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        cents.remove(cid)
        c2rows.foreach { r =>
          val isA = r.getLong(0) == childA
          cents(if (isA) cid else idB) = r.getSeq[Long](1)
        }
        members(cid) = asg2m.where(col("cid") === childA).select("vec_id")
        members(idB) = asg2m.where(col("cid") =!= childA).select("vec_id")
        sizes(cid) = childCounts.getOrElse(childA, 0L)
        sizes(idB) = childCounts.values.sum - sizes(cid)
        changed += cid; changed += idB
      }
    }
    import scala.jdk.CollectionConverters._
    val centGrown = s.createDataFrame(
      cents.toSeq.map { case (cid, c) =>
        org.apache.spark.sql.Row(cid, c) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
      .localCheckpoint()
    val centNew =
      if (refineIters == 0) centGrown
      else KMeans.lloydFrom(pts, centGrown, refineIters).localCheckpoint()
    if (reassign) {
      val asg = KMeans.assign(pts, centNew)
      graft.io.ParquetUtil.safeOverwrite(s,
        postings.drop("label").join(asg, "vec_id")
          .select(col("vec_id"), col("embedding"),
            col("cid").cast("int").as("label")),
        postingsDir)
    } else if (changed.nonEmpty) {
      val remap = changed.distinct.map(cid =>
        memberIds(cid).select(col("vec_id"), lit(cid).as("new_label")))
        .reduce(_ unionByName _)
      graft.io.ParquetUtil.safeOverwrite(s,
        postings.join(remap, Seq("vec_id"), "left")
          .select(col("vec_id"), col("embedding"),
            coalesce(col("new_label"), col("label").cast("long"))
              .cast("int").as("label")),
        postingsDir)
    }
    centNew
  }

  /** Fold one micro-batch into a FROZEN-quantizer IVF index — the
    * streamed rendering of the trained batch default: the coarse
    * quantizer is a k-means model trained ONCE (on the bootstrap
    * batch), and each arriving vector is assigned to its nearest
    * frozen centroid by the bit-exact integer argmin
    * ([[KMeans.assign]]) before joining the postings.
    *
    * Replay algebra is SIMPLER than the additive-sums variant: the
    * quantizer never changes, so the postings append is the ONLY
    * state write — idempotent under the vec_id anti-join. No
    * watermark, no ordering window: a replayed batch (whole or
    * partial) drops out entirely. At 100 TB the centroid table is
    * k×dim and rides in the task closure; per-batch work is
    * |batch| scan + the k-way argmin, nothing corpus-sized.
    *
    * `centFp` is the trained (cid, c: array&lt;long&gt; fixed-point)
    * centroid frame from [[KMeans.fitModel]].
    */
  def applyFrozenBatch(s: SparkSession, b: DataFrame,
      centFp: DataFrame, postingsDir: String): Unit = {
    import graft.streaming.BloomGuard
    val batch = b.select("vec_id", "embedding")
    val (fresh, _) = BloomGuard.freshRows(s, bloomDir(postingsDir),
      batch, "vec_id", postingsKeys(s, postingsDir))
    val asg = KMeans.assign(
      KMeans.pointsFp(fresh, "vec_id", "embedding"), centFp)
    fresh.join(asg, "vec_id")
      .select(col("vec_id"), col("embedding"),
        col("cid").cast("int").as("label"))
      .write.mode("append").parquet(postingsDir)
  }
}
