package graft

import graft.streaming.BloomGuard
import org.apache.spark.sql.functions._

/** The persisted Bloom guard (streaming/BloomGuard.scala): the fold
  * contract is "a miss skips the exact probe", so the invariants under
  * test are the two that keep misses truthful — the bitset is a
  * SUPERSET of every covered state's keys across all crash windows,
  * and a missing bloom fails SAFE (exact path), never open.
  */
class BloomGuardSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/bloom"

  /** (name, length, mtime) of every file in `dir` — equal listings mean
    * nothing was rewritten.
    */
  private def listing(dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).map(st =>
      (st.getPath.getName, st.getLen, st.getModificationTime)).toSeq
      .sortBy(_._1)
  }

  private def hits(nb: BloomGuard.NamedBloom, keys: Seq[Long]): Long =
    keys.toDF("k").where(BloomGuard.hit(nb, "k")).count()

  test("read: missing dir is None; addKeys without init is a no-op " +
      "(a late-created bloom would miss pre-existing state keys)") {
    val dir = java.nio.file.Files.createTempDirectory("bg").toString +
      "/bloom"
    assert(BloomGuard.read(spark, dir).isEmpty)
    BloomGuard.addKeys(spark, dir, Seq(1L, 2L).toDF("k"), "k")
    assert(BloomGuard.read(spark, dir).isEmpty,
      "addKeys must not manufacture a partial bloom")
    assert(BloomGuard.needExact(spark, dir, Seq(9L).toDF("k"), "k"),
      "missing bloom must route to the exact probe")
  }

  test("membership: added keys always hit; fresh keys miss; the " +
      "bitset OR-merges across adds") {
    val dir = java.nio.file.Files.createTempDirectory("bg2").toString +
      "/bloom"
    BloomGuard.init(spark, dir)
    BloomGuard.addKeys(spark, dir, (0L until 50L).toDF("k"), "k")
    BloomGuard.addKeys(spark, dir, (50L until 100L).toDF("k"), "k")
    val words = BloomGuard.read(spark, dir).get
    val hits = (0L until 100L).toDF("k")
      .where(BloomGuard.hit(words, "k")).count()
    assert(hits === 100L, "no false negatives, ever")
    assert(BloomGuard.needExact(spark, dir, Seq(7L).toDF("k"), "k"))
    assert(!BloomGuard.needExact(spark, dir,
      (1000L until 1020L).toDF("k"), "k"),
      "a fresh batch must skip the exact probe")
  }

  test("crash after the bloom write, before the covered append: the " +
      "superset bloom routes the replay through the exact probe and " +
      "the fold heals (Crossmodal index)") {
    import graft.multimodal.Crossmodal
    val dir = java.nio.file.Files.createTempDirectory("bg3").toString +
      "/mv"
    Crossmodal.initState(spark, dir)
    val rows = (0L until 10L)
      .map(i => (i, Seq(i.toDouble, 1.0))).toDF("doc_id", "mv")
    Crossmodal.applyBatch(spark, rows.where(col("doc_id") < 5), dir)
    // batch 2's bloom write lands, then the process dies before the
    // index append — the widest window the write order opens
    BloomGuard.crashAfterWrite = true
    assertThrows[RuntimeException] {
      Crossmodal.applyBatch(spark, rows.where(col("doc_id") >= 5), dir)
    }
    assert(spark.read.parquet(dir).count() === 5L,
      "crashed batch must not have appended")
    // replay: every key bloom-hits, the exact anti-join finds nothing,
    // the append completes exactly once
    Crossmodal.applyBatch(spark, rows.where(col("doc_id") >= 5), dir)
    Crossmodal.applyBatch(spark, rows, dir) // full replay: no-op
    assert(spark.read.parquet(dir).count() === 10L)
    assert(spark.read.parquet(dir).select("doc_id").distinct().count()
      === 10L)
  }

  test("overload WITHOUT a rebuild source: keys far past capacity " +
      "saturate the bitset — every probe routes exact (fail-safe, " +
      "never a false negative), nothing breaks") {
    val dir = java.nio.file.Files.createTempDirectory("bg5").toString +
      "/bloom"
    // 128 bits for 5000 keys: hopelessly overloaded by construction
    BloomGuard.init(spark, dir, numBits = 128)
    BloomGuard.addKeys(spark, dir, (0L until 5000L).toDF("k"), "k")
    val nb = BloomGuard.read(spark, dir).get
    assert(nb.totalBits === 128L, "no thunk → no resize")
    assert(nb.fill > 0.95, "saturated as expected")
    val hits = (0L until 5000L).toDF("k")
      .where(BloomGuard.hit(nb, "k")).count()
    assert(hits === 5000L, "no false negatives even saturated")
    assert(BloomGuard.needExact(spark, dir,
      (90000L until 90020L).toDF("k"), "k"),
      "a saturated bloom must degrade to the exact probe, not lie")
  }

  test("resize: past the fill threshold with a rebuild source, the " +
      "bitset grows to cardinality-derived size — added keys still " +
      "hit, fresh batches skip again") {
    val dir = java.nio.file.Files.createTempDirectory("bg6").toString +
      "/bloom"
    BloomGuard.init(spark, dir, numBits = 1024)
    // the fold's state: keys 0..99 already appended
    BloomGuard.addKeys(spark, dir, (0L until 100L).toDF("k"), "k")
    assert(BloomGuard.read(spark, dir).get.fill > BloomGuard.FillThreshold,
      "fixture must be past the trigger")
    // next batch arrives WITH the resize source (state keys thunk)
    BloomGuard.addKeys(spark, dir, (100L until 200L).toDF("k"), "k",
      stateKeys = Some(() => (0L until 100L).toDF("k")))
    val nb = BloomGuard.read(spark, dir).get
    assert(nb.totalBits === BloomGuard.DefaultNumBits.toLong,
      s"planFor(200) floors at DefaultNumBits, got ${nb.totalBits}")
    assert(nb.fill < BloomGuard.FillThreshold)
    val hits = (0L until 200L).toDF("k")
      .where(BloomGuard.hit(nb, "k")).count()
    assert(hits === 200L, "state ∪ batch keys all survive the rebuild")
    assert(!BloomGuard.needExact(spark, dir,
      (500000L until 500020L).toDF("k"), "k"),
      "fresh batches skip the exact probe again after the resize")
  }

  test("shard promotion: a rebuild whose plan exceeds maxShardBits " +
      "splits into name#i/S rows — membership is unchanged, fresh " +
      "keys still miss") {
    val saved = BloomGuard.maxShardBits
    try {
      // force sharding at test scale: 2^17-bit shards → planFor's
      // DefaultNumBits floor (2^21) promotes to 16 shards
      BloomGuard.maxShardBits = 1 << 17
      val dir = java.nio.file.Files.createTempDirectory("bg7")
        .toString + "/bloom"
      BloomGuard.init(spark, dir, numBits = 1024)
      BloomGuard.addKeys(spark, dir, (0L until 100L).toDF("k"), "k")
      BloomGuard.addKeys(spark, dir, (100L until 200L).toDF("k"), "k",
        stateKeys = Some(() => (0L until 100L).toDF("k")))
      val rows = BloomGuard.readAll(spark, dir).get
      assert(rows.keySet === (0 until 16).map(i => s"k#$i/16").toSet,
        s"expected 16 shard rows, got ${rows.keySet}")
      val nb = BloomGuard.read(spark, dir).get
      assert(nb.numShards === 16 && nb.bitsPerShard === (1 << 17))
      val hits = (0L until 200L).toDF("k")
        .where(BloomGuard.hit(nb, "k")).count()
      assert(hits === 200L, "no false negatives across the shard split")
      assert(!BloomGuard.needExact(spark, dir,
        (500000L until 500020L).toDF("k"), "k"))
      // sharded blooms keep OR-merging and probing on later batches
      BloomGuard.addKeys(spark, dir, (200L until 300L).toDF("k"), "k")
      val nb2 = BloomGuard.read(spark, dir).get
      assert((0L until 300L).toDF("k")
        .where(BloomGuard.hit(nb2, "k")).count() === 300L)
    } finally BloomGuard.maxShardBits = saved
  }

  test("a pure-replay add (all frames empty) swaps nothing — the " +
      "guard dir's files are untouched") {
    val dir = tmpDir("bg8")
    BloomGuard.init(spark, dir)
    BloomGuard.addKeys(spark, dir, (0L until 50L).toDF("k"), "k")
    val before = listing(dir)
    BloomGuard.addKeys(spark, dir, (0L until 50L).toDF("k")
      .where(col("k") < 0), "k")
    assert(listing(dir) === before, "zero-new-key batch must not rewrite")
  }

  test("one build path: OR-merge, resize + shard promotion, a " +
      "post-promotion OR, and a replay that rewrites nothing") {
    val savedShard = BloomGuard.maxShardBits
    try {
      BloomGuard.maxShardBits = 1 << 17
      val dir = tmpDir("bgd1")
      BloomGuard.init(spark, dir, numBits = 1024)
      BloomGuard.addKeys(spark, dir, (0L until 100L).toDF("k"), "k")
      // resize + shard promotion (maxShardBits forced small)
      BloomGuard.addKeys(spark, dir, (100L until 200L).toDF("k"), "k",
        stateKeys = Some(() => (0L until 100L).toDF("k")))
      assert(BloomGuard.read(spark, dir).get.numShards === 16)
      // post-promotion OR-merge
      BloomGuard.addKeys(spark, dir, (200L until 300L).toDF("k"), "k")
      // pure replay: must not change anything
      val before = listing(dir)
      BloomGuard.addKeys(spark, dir,
        (0L until 10L).toDF("k").where(col("k") < 0), "k")
      assert(listing(dir) === before, "a pure replay must not rewrite")
      assert(hits(BloomGuard.read(spark, dir).get, 0L until 300L) === 300L)
    } finally BloomGuard.maxShardBits = savedShard
  }

  test("same-name adds in one addKeysMulti OR and rebuild as one key " +
      "set: a rebuild crossed by the second add keeps the first's keys") {
    val dir = tmpDir("bgsn")
    BloomGuard.init(spark, dir, numBits = 128)
    // state keys 0..4 already appended; the batch adds 1000..1001
    // (the fill stays under the threshold) and then 2000..2099 under
    // the same name — the second crosses the fill threshold of the
    // 128-bit bitset and triggers the rebuild
    BloomGuard.addKeys(spark, dir, (0L until 5L).toDF("k"), "k")
    BloomGuard.addKeysMulti(spark, dir, Seq(
        ((1000L until 1002L).toDF("k"), "k", BloomGuard.DefaultName),
        ((2000L until 2100L).toDF("k"), "k", BloomGuard.DefaultName)),
      Map(BloomGuard.DefaultName -> (() => (0L until 5L).toDF("k"))))
    val nb = BloomGuard.read(spark, dir).get
    assert(nb.totalBits > 128L, "the second add must have rebuilt")
    val all = (0L until 5L) ++ (1000L until 1002L) ++ (2000L until 2100L)
    assert(hits(nb, all) === all.size.toLong,
      "every key of both adds must hit after the rebuild")
  }

  // ---- the folds' replay guard (BloomGuard.freshRows) on edge inputs --

  /** An initialised guard over a state whose keys are 0..9. */
  private def guardedState(tag: String)
      : (String, () => org.apache.spark.sql.DataFrame) = {
    val dir = tmpDir(tag)
    val state = (0L until 10L).toDF("id")
    BloomGuard.init(spark, dir)
    BloomGuard.addKeys(spark, dir, state, "id")
    (dir, () => {
      graft.streaming.StateScanMeter.addBytes(1L)
      state
    })
  }

  test("freshRows: an empty batch returns no rows and leaves the bloom " +
      "dir unchanged") {
    val (dir, stateKeys) = guardedState("bgf1")
    val before = listing(dir)
    val (fresh, _) = BloomGuard.freshRows(spark, dir,
      Seq.empty[Long].toDF("doc"), "doc", stateKeys)
    assert(fresh.isEmpty)
    assert(listing(dir) === before, "an empty batch must not rewrite")
  }

  test("freshRows: an all-replay batch runs the exact probe and returns " +
      "no rows") {
    val (dir, stateKeys) = guardedState("bgf2")
    val (fresh, exact) = BloomGuard.freshRows(spark, dir,
      (0L until 10L).toDF("doc"), "doc", stateKeys)
    assert(exact, "replayed keys hit the bloom")
    assert(fresh.count() === 0L)
  }

  test("freshRows: an all-fresh batch never reads the state") {
    val (dir, stateKeys) = guardedState("bgf3")
    graft.streaming.StateScanMeter.reset()
    val (fresh, exact) = BloomGuard.freshRows(spark, dir,
      (500000L until 500020L).toDF("doc"), "doc", stateKeys)
    assert(!exact)
    assert(fresh.count() === 20L)
    assert(graft.streaming.StateScanMeter.value === 0L,
      "neither the anti-join nor a resize may read the state")
  }

  test("freshRows: a one-row partial replay returns exactly the new key") {
    val (dir, stateKeys) = guardedState("bgf4")
    val (fresh, exact) = BloomGuard.freshRows(spark, dir,
      ((0L until 10L) :+ 77777L).toDF("doc"), "doc", stateKeys)
    assert(exact)
    assert(fresh.as[Long].collect().toSeq === Seq(77777L))
    assert(hits(BloomGuard.read(spark, dir).get, Seq(77777L)) === 1L,
      "the fresh key is recorded in the bloom")
  }

  test("a LOST bloom (deleted dir) degrades to the exact path without " +
      "breaking the fold") {
    import graft.multimodal.Crossmodal
    val base = java.nio.file.Files.createTempDirectory("bg4").toString
    val dir = base + "/mv"
    Crossmodal.initState(spark, dir)
    val rows = (0L until 10L)
      .map(i => (i, Seq(i.toDouble, 1.0))).toDF("doc_id", "mv")
    Crossmodal.applyBatch(spark, rows.where(col("doc_id") < 5), dir)
    // operational mishap: the bloom sibling disappears
    val p = new org.apache.hadoop.fs.Path(Crossmodal.bloomDir(dir))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    Crossmodal.applyBatch(spark, rows, dir) // overlap replay + fresh
    assert(spark.read.parquet(dir).count() === 10L)
    assert(spark.read.parquet(dir).select("doc_id").distinct().count()
      === 10L)
  }
}
