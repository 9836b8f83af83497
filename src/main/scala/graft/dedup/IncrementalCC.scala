package graft.dedup

import graft.streaming.{BloomGuard, StateScanMeter}
import graft.io.ParquetUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nearline duplicate-CLUSTER maintenance — the streamed rendering of
  * the `q_dedup_annotate` chain (n-gram Jaccard pairs →
  * [[Dedup.connectedComponents]] → per-doc cluster annotation), folded
  * across micro-batches so the annotate-don't-drop flagship can run
  * nearline. Batch reference semantics: [[Dedup.jaccardPairs]] for the
  * pair set and hash-min CC for the labels; the folded result equals
  * them VERBATIM for any batch partitioning (the batch oracle applies
  * unchanged).
  *
  * The CC fold never re-runs global label propagation. Its state is
  *  - `labels`: append-only (id, comp) rows, comp as resolved when the
  *    id ARRIVED (possibly stale later), hash-bucketed `kb=` for
  *    pruned endpoint lookups;
  *  - `remap`: a small, flat (old → fin) label-forwarding table —
  *    every label ever retired by a merge, mapped to its CURRENT
  *    component min. Kept COMPOSED (one hop resolves fully).
  * Per batch, existing components are CONTRACTED to their label nodes:
  * the delta pairs' endpoints resolve to current labels (bucket-pruned
  * lookups for old ids, self for new ids), and hash-min CC runs on the
  * label-space delta graph ONLY — touched-labels-sized, never
  * corpus-sized. The resulting non-identity mapping composes into
  * `remap`; arriving ids append with their resolved comp. Reads
  * resolve `coalesce(remap[comp], comp)` — one broadcast-sized hop.
  * Correctness invariant (induction over batches): every resolved
  * label IS the minimum doc id of its connected component over all
  * pairs seen so far — exactly the batch CC's fixpoint.
  *
  * Pair generation is the [[Dedup.jaccardPairs]] inverted shingle
  * index maintained across batches: arriving docs' (doc, n, g) gram
  * rows join the accumulated index for new-vs-history intersections
  * and self-join for in-batch pairs, so every qualifying pair emits
  * exactly once — in the batch where its LATER member arrives (the
  * [[Nearline]] contract). Shared-gram counts use each doc's full
  * distinct-shingle rows, so `inter/(na+nb-inter)` is bit-identical to
  * the batch query.
  *
  * Scale shape per batch: |batch| gram rows join the keyed index (the
  * Nearline stance: at 100 TB the parquet index swaps for a keyed
  * store, join shape unchanged); the contracted CC graph is bounded by
  * 2×|delta pairs|; label lookups open only the endpoint ids' `kb=`
  * buckets; `remap` is bounded by labels retired since the last
  * [[compactLabels]] (cumulative merges — compaction folds it into the
  * base and empties it). Nothing corpus-sized moves on a fresh batch.
  *
  * Crash contract — write order and why every window heals:
  *  1. doc-id bloom ([[BloomGuard]], with a resize source) — a crash
  *     after it leaves a harmless superset bloom;
  *  2. pairs append — replays drop re-emissions by the exact pairs
  *     anti-join (bloom-hit path only);
  *  3. gram-index append — replays drop already-indexed docs by the
  *     index-docs anti-join (bloom-hit path only);
  *  4. remap swap ([[ParquetUtil.safeOverwrite]]) — recomputing the
  *     delta from already-merged labels yields the identity mapping,
  *     so a replay rewrites nothing; appended-but-unremapped ids
  *     (crash after 4 landed, 5 didn't) still resolve because the
  *     remap KEEPS delta entries for arriving ids;
  *  5. labels append LAST — the fold's replay guard: once it lands,
  *     the whole batch anti-joins away (and writes NOTHING — not even
  *     the bloom).
  */
object IncrementalCC {

  /** Labels-base hash buckets: endpoint lookups open only their ids'
    * `kb=` dirs (parquet directory pruning), so resolving a bounded
    * pair delta reads a bounded slice of the corpus-sized base.
    */
  val LabelBuckets = 64

  private def kbCol(id: org.apache.spark.sql.Column) =
    pmod(id, lit(LabelBuckets.toLong)).cast("int")

  def bloomDir(labelsDir: String): String = labelsDir + "_bloom"

  private def labelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("comp", LongType)))

  /** Initialise the combined nearline-annotate state: the gram index,
    * the emitted-pairs store, the bucketed labels base, the empty
    * remap, and the doc-id bloom.
    */
  def initState(s: SparkSession, indexDir: String, pairsDir: String,
      labelsDir: String, remapDir: String): Unit = {
    val empty = (schema: StructType) => s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty(StructType(Seq(StructField("doc", LongType),
      StructField("n", IntegerType), StructField("g", StringType))))
      .write.mode("overwrite").parquet(indexDir)
    empty(StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType),
      StructField("jaccard", DoubleType))))
      .write.mode("overwrite").parquet(pairsDir)
    // labels start as a bare dir: appends create kb= partitions
    val p = new org.apache.hadoop.fs.Path(labelsDir)
    p.getFileSystem(s.sessionState.newHadoopConf()).mkdirs(p)
    empty(StructType(Seq(StructField("old", LongType),
      StructField("fin", LongType))))
      .write.mode("overwrite").parquet(remapDir)
    BloomGuard.init(s, bloomDir(labelsDir))
  }

  /** Read labels rows of the given `kb=` buckets only (None = all) —
    * the bucket-pruned endpoint lookup; metered as the opened buckets'
    * bytes.
    */
  private def readLabelBuckets(s: SparkSession, labelsDir: String,
      buckets: Option[Seq[Int]]): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = base.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(base)) {
      val stray = fs.listStatus(base).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }
      if (stray.nonEmpty) throw new IllegalStateException(
        s"IncrementalCC: labels dir $labelsDir contains data files " +
          s"outside kb= partitions (e.g. ${stray.head.getPath.getName})")
    }
    val wanted = buckets.getOrElse(0 until LabelBuckets)
    val paths = wanted.map(b => new org.apache.hadoop.fs.Path(
      base, s"kb=$b")).filter(fs.exists)
    if (paths.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        labelsSchema)
    else {
      paths.foreach(p => StateScanMeter.addBytes(
        fs.getContentSummary(p).getLength))
      s.read.schema(labelsSchema).parquet(paths.map(_.toString): _*)
    }
  }

  /** Fold one micro-batch of (doc, s: array&lt;string&gt; shingles)
    * rows: emit the batch's qualifying Jaccard pairs, merge the
    * touched components in label space, and append the arrivals'
    * labels. See the object doc for the algorithm and crash contract.
    */
  def applyBatch(s: SparkSession, b: DataFrame, threshold: Double,
      indexDir: String, pairsDir: String, labelsDir: String,
      remapDir: String): Unit = {
    Seq(indexDir, pairsDir, labelsDir).foreach(
      ParquetUtil.recoverAppend(s, _))
    ParquetUtil.recoverInterrupted(s, remapDir)
    // the bloom records the fresh docs here, before every append below
    val (fresh, exact) = BloomGuard.freshRows(s, bloomDir(labelsDir),
      b.select(col("doc"), col("s")), "doc",
      () => readLabelBuckets(s, labelsDir, None).select("id"))
    // empty batch or pure replay: write NOTHING
    if (fresh.isEmpty) return
    val newRows = fresh
      .select(col("doc"), size(col("s")).as("n"), explode(col("s")).as("g"))
      .localCheckpoint()
    // ---- pairs: new-vs-history through the gram index + in-batch ----
    val idx = s.read.parquet(indexDir)
    StateScanMeter.add(s, indexDir)
    val newOld = newRows
      .join(idx.select(col("g"), col("doc").as("doc_o"),
        col("n").as("n_o")), Seq("g"))
      .where(col("doc") =!= col("doc_o"))
      .groupBy(col("doc"), col("doc_o"))
      .agg(count(lit(1)).as("inter"), first(col("n")).as("na"),
        first(col("n_o")).as("nb"))
    val aRows = newRows.select(col("g"), col("doc").as("doc_a"),
      col("n").as("na"))
    val bRows = newRows.select(col("g"), col("doc").as("doc_b"),
      col("n").as("nb"))
    val newNew = aRows.join(bRows, Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
    val cand = newOld.select(
        least(col("doc"), col("doc_o")).as("doc_a"),
        greatest(col("doc"), col("doc_o")).as("doc_b"),
        col("inter"), col("na"), col("nb"))
      .unionByName(newNew)
      .withColumn("jaccard", col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    val delta =
      (if (!exact) cand
       else {
         // replay guard for the crash window after the pairs append:
         // drop pairs already on disk (output-sized read, hit path only)
         StateScanMeter.add(s, pairsDir)
         cand.join(s.read.parquet(pairsDir).select("doc_a", "doc_b"),
           Seq("doc_a", "doc_b"), "left_anti")
       }).localCheckpoint()
    // ---- contract to label space, CC the delta graph only ----
    val remap = s.read.parquet(remapDir)
    StateScanMeter.add(s, remapDir)
    val ends = delta.select(col("doc_a").as("id"))
      .union(delta.select(col("doc_b").as("id"))).distinct()
      .join(fresh.select(col("doc").as("id"), lit(true).as("__new")),
        Seq("id"), "left")
      .localCheckpoint()
    val oldEnds = ends.where(col("__new").isNull).select("id")
    val oldKbs = oldEnds.select(kbCol(col("id")).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val oldLabels = oldEnds
      .join(readLabelBuckets(s, labelsDir,
        Some(oldKbs)), Seq("id"))
      .join(remap.withColumnRenamed("old", "comp"), Seq("comp"), "left")
      .select(col("id"), coalesce(col("fin"), col("comp")).as("lbl"))
    val endLabels = ends.where(col("__new").isNotNull)
      .select(col("id"), col("id").as("lbl"))
      .unionByName(oldLabels)
      .localCheckpoint()
    val contracted = delta
      .join(endLabels.select(col("id").as("doc_a"), col("lbl").as("la")),
        Seq("doc_a"))
      .join(endLabels.select(col("id").as("doc_b"), col("lbl").as("lb")),
        Seq("doc_b"))
      .where(col("la") =!= col("lb"))
      .select("la", "lb")
    // the delta graph's labels are collected into `merges` regardless
    // (the resolve map is driver-side by design), so when the EDGE list
    // is also driver-bounded the hash-min loop's ~4 jobs per round are
    // pure overhead: one limit-probe job fetches up to the gate, and a
    // union-find-by-min computes the identical min-label fixpoint on
    // the driver. Oversized deltas (the gate trips) keep the
    // distributed loop — same results either way (IncrementalCCSpec).
    val probe = contracted.limit(DriverCcMaxEdges + 1).collect()
    val merges: Map[Long, Long] =
      if (probe.isEmpty) Map.empty
      else if (probe.length <= DriverCcMaxEdges)
        driverCc(probe.map(r => (r.getLong(0), r.getLong(1))))
      else {
        // oversized delta: materialise the contracted edge list ONCE so
        // the distributed loop's repeated scans read it instead of
        // re-deriving the two delta-label joins every hash-min round
        val mat = contracted.localCheckpoint()
        Dedup.connectedComponents(mat, "la", "lb")
          .where(col("id") =!= col("comp"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    // ---- writes, in the contract's order ----
    ParquetUtil.safeAppend(s, delta, pairsDir)
    val idxNew =
      if (!exact) newRows
      else {
        // replay guard for the crash window after the index append
        StateScanMeter.add(s, indexDir)
        newRows.join(idx.select("doc").distinct(), Seq("doc"), "left_anti")
          .localCheckpoint()
      }
    ParquetUtil.safeAppend(s, idxNew.select("doc", "n", "g"), indexDir)
    if (merges.nonEmpty) {
      val mergeDf = merges.toSeq.toDF(s)("old", "fin")
      // compose: forward every retired label through the new merges,
      // then add the newly retired ones (disjoint by construction —
      // current labels never sit in remap's old column)
      val composed = remap.as("r")
        .join(broadcast(mergeDf.as("m")), col("r.fin") === col("m.old"),
          "left")
        .select(col("r.old"),
          coalesce(col("m.fin"), col("r.fin")).as("fin"))
        .unionByName(mergeDf)
      ParquetUtil.safeOverwrite(s, composed, remapDir)
    }
    val bm = s.sparkContext.broadcast(merges)
    val resolve = udf((id: Long) => bm.value.getOrElse(id, id))
    ParquetUtil.safeAppend(s,
      fresh.select(col("doc").as("id"), resolve(col("doc")).as("comp"),
        kbCol(col("doc")).as("kb")).coalesce(1),
      labelsDir, partitionBy = Seq("kb"))
    ()
  }

  /** Driver-CC gate: label-space delta graphs at or under this many
    * edges (16 B/edge → ≤ ~3 MiB — the same driver budget class as the
    * merge map itself) run union-find locally; larger deltas take the
    * distributed hash-min loop.
    */
  val DriverCcMaxEdges = 200000

  /** Union-find-by-min over an edge list: returns id → component-min
    * for every node whose component min is not itself — exactly the
    * non-identity rows of [[Dedup.connectedComponents]]'s fixpoint
    * (union by smaller root keeps each root the component's minimum).
    */
  private[graft] def driverCc(edges: Array[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.iterator.flatMap(e => Iterator(e._1, e._2))
      .map(x => x -> find(x))
      .filter { case (x, r) => x != r }
      .toMap
  }

  private implicit class SeqToDf(private val rows: Seq[(Long, Long)]) {
    def toDF(s: SparkSession)(c1: String, c2: String): DataFrame = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
        StructType(Seq(StructField(c1, LongType),
          StructField(c2, LongType))))
    }
  }

  /** The per-doc cluster annotation off the folded state — equals the
    * batch `q_dedup_annotate` chain exactly: resolved labels, cluster
    * size, canonical (= minimum-id, which IS the resolved label by the
    * CC invariant) flag.
    */
  def annotateFromState(s: SparkSession, labelsDir: String,
      remapDir: String): DataFrame = {
    val remap = s.read.parquet(remapDir).withColumnRenamed("old", "comp")
    val ann = readLabelBuckets(s, labelsDir, None)
      .join(remap, Seq("comp"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("fin"), col("comp")).as("cluster"))
    val stats = ann.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"), min("doc_id").as("__min_id"))
    ann.join(stats, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("__min_id")).as("is_canonical"))
  }

  /** Compaction: fold the remap into the labels base (one scan,
    * amortized at the caller's cadence) and empty it — bounds the
    * remap at labels-retired-since-last-compaction. Correctness never
    * depends on compaction having run ([[annotateFromState]] resolves
    * through the live remap either way).
    */
  def compactLabels(s: SparkSession, labelsDir: String,
      remapDir: String): Unit = {
    val remap = s.read.parquet(remapDir).withColumnRenamed("old", "comp")
    val resolved = readLabelBuckets(s, labelsDir, None)
      .join(remap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("fin"), col("comp")).as("comp"),
        kbCol(col("id")).as("kb"))
      .localCheckpoint()
    ParquetUtil.safeOverwrite(s, resolved.coalesce(1), labelsDir,
      partitionBy = Seq("kb"), failpoints = false)
    ParquetUtil.safeOverwrite(s,
      s.read.parquet(remapDir).where(lit(false)), remapDir,
      failpoints = false)
  }
}
