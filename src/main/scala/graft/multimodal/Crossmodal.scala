package graft.multimodal

import graft.similarity.VectorFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-modal retrieval plumbing — the caption↔image pairing shape:
  * each modality's native feature vector is mapped into ONE shared
  * space by a modality-specific deterministic linear map (the CLIP
  * two-tower architecture with the engine's deterministic stand-in
  * encoders — [[Multimodal.DigestKernel]]'s stance: the Spark-side
  * contract is real, the learned encoder is replaced by a reproducible
  * map any oracle engine replays), then retrieval is cosine top-k
  * ACROSS modalities in the shared space.
  *
  * The two plane families are [[VectorFunctions.hyperplane]]'s
  * discipline verbatim: components on a thousandths grid from
  * [[graft.util.SplitMix]] mixing under per-modality salts, rendered
  * as 3-decimal literals on both engines — so projections, and
  * therefore the retrieval ranking, are bit-identical in the oracle.
  *
  * Scale shape: each tower is a row-local projection over its
  * modality's scan (no shuffle); retrieval is the queries-as-literals
  * explode of q_multimodal_ann (no crossJoin) — at production scale the
  * shared-space vectors feed the trained-IVF / PQ index family like any
  * other embedding column.
  */
object Crossmodal {

  /** Shared-space dimensionality. */
  val SharedDim = 8

  /** Native feature dims of the two stand-in towers. */
  val TextFeatDim = 4
  val MediaFeatDim = 4

  /** Per-modality plane-family salts (any distinct constants — the two
    * towers must NOT share planes or the map degenerates to comparing
    * raw features).
    */
  val TextSalt = 101L
  val MediaSalt = 202L

  /** Deterministic plane `p` of a modality's family: `dim` components
    * on a thousandths grid in [-1, 1].
    */
  def planeComponents(salt: Long, p: Int, dim: Int): IndexedSeq[Double] =
    (0 until dim).map { d =>
      (math.floorMod(graft.util.SplitMix.mix(
        salt * 1000003L + p.toLong * dim + d), 2001L) - 1000L) / 1000.0
    }

  /** The plane's components as 3-decimal SQL literals (exactly what
    * [[planeLit]] feeds Spark).
    */
  def planeSqlLiterals(salt: Long, p: Int, dim: Int): Seq[String] =
    planeComponents(salt, p, dim).map(v => graft.util.Fmt.fixed(v, 3))

  private def planeLit(salt: Long, p: Int, dim: Int): Column =
    array(planeComponents(salt, p, dim).map(v =>
      lit(graft.util.Fmt.fixed(v, 3).toDouble)): _*)

  private def project(f: Column, salt: Long, dim: Int): Column =
    array((0 until SharedDim).map(p =>
      VectorFunctions.dot(f, planeLit(salt, p, dim))): _*)

  /** Text tower: native features → shared space. */
  def projectText(f: Column): Column = project(f, TextSalt, TextFeatDim)

  /** Media tower: native features → shared space. */
  def projectMedia(f: Column): Column = project(f, MediaSalt, MediaFeatDim)

  /** The text tower's native features — four exact integer-valued doc
    * statistics (char count, token count, 'e' count, vowel count), each
    * replayable byte-for-byte in SQL (patterns in the java∩RE2
    * intersection, the PiiRedact discipline), standing in for a text
    * encoder's embedding.
    */
  def textFeatures(text: Column): Column = array(
    length(text).cast("double"),
    size(graft.text.TextFunctions.tokens(text)).cast("double"),
    (length(text) - length(regexp_replace(text, "e", ""))).cast("double"),
    length(regexp_replace(lower(text), "[^aeiou]", "")).cast("double"))

  // ------------------------------------------------------------------
  // nearline: the media-side shared-space index folded across batches
  // ------------------------------------------------------------------

  /** The fold's Bloom-guard state dir. */
  def bloomDir(stateDir: String): String = stateDir + "_bloom"

  /** Initialise the empty (doc_id, mv) shared-space index and its
    * doc-id Bloom guard.
    */
  def initState(s: org.apache.spark.sql.SparkSession,
      stateDir: String): Unit = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("mv", ArrayType(DoubleType)))))
      .write.mode("overwrite").parquet(stateDir)
    graft.streaming.BloomGuard.init(s, bloomDir(stateDir))
  }

  /** Fold one micro-batch of already-projected (doc_id, mv) media rows
    * into the shared-space index — append-only under the doc-id
    * anti-join (the deterministic projection of an item never changes,
    * so nothing merges across batches: the StreamingIvf/StreamingPq
    * contract — replays and re-deliveries append nothing, no
    * watermark needed), so the folded index equals the batch media
    * tower under ANY batching and the batch oracle applies verbatim.
    *
    * Sub-O(state) probe ([[graft.streaming.BloomGuard]], written
    * BEFORE the append it covers): fresh batches skip the anti-join
    * and never read the index; bloom-hit batches take the exact
    * anti-join ([[graft.streaming.BloomGuard.freshRows]]).
    */
  def applyBatch(s: org.apache.spark.sql.SparkSession,
      projected: org.apache.spark.sql.DataFrame, stateDir: String): Unit = {
    import graft.streaming.{BloomGuard, StateScanMeter}
    // materialise the batch ONCE at entry: the caller's frame carries
    // the decode+featurize+projection lineage, and the guard's probe,
    // the bloom update, and the append are three separate actions —
    // unmaterialised, each would re-run the media decode (measured
    // 17.3 -> 24.9s at sf10 before this checkpoint)
    val rows = projected.select("doc_id", "mv").localCheckpoint()
    val (fresh, _) = BloomGuard.freshRows(s, bloomDir(stateDir), rows,
      "doc_id", () => {
        StateScanMeter.add(s, stateDir)
        s.read.parquet(stateDir).select("doc_id")
      })
    fresh.write.mode("append").parquet(stateDir)
    ()
  }
}
