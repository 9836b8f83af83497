package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured-Streaming surface over the engine's tables — the natural
  * extension the reference lacks entirely (SURVEY §2.9: no streaming,
  * no watermarks, no state anywhere in betl). The same DataFrame operator
  * set applies to a `readStream` source; this object adds the streaming
  * lifecycle: source wiring, watermarked event-time windows, and
  * run-to-completion draining for bounded backfills.
  */
object StreamFlow {

  /** File-stream source over a parquet table path. The file source wants
    * a DIRECTORY; a path to a single file is handled by streaming its
    * parent with a glob filter on the file name. Schema must be
    * supplied — streaming sources do not infer.
    */
  def readParquetStream(
      spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val reader = spark.readStream.schema(schema)
    if (fs.exists(p) && fs.getFileStatus(p).isFile)
      reader.option("pathGlobFilter", p.getName).parquet(p.getParent.toString)
    else reader.parquet(path)
  }

  /** The key-range slicing rule of every streamed fold: `n` slices of
    * width `step = (hi - lo) / n + 1` from the key's minimum `lo`, the
    * last one open-ended. Slice `i` is a predicate on the key column;
    * [[index]] renders the same rule as a column. The DuckDB oracles
    * keep their own rendering of it, as the independent reference.
    */
  final case class KeySlices(key: String, n: Int, lo: Long, step: Long) {

    /** Rows of slice `i`; null keys belong to no slice. */
    def slice(i: Int): Column =
      col(key) >= lo + i * step &&
        (if (i == n - 1) lit(true) else col(key) < lo + (i + 1) * step)

    /** The slice index of each row, `(key - lo) div step` — in `0 until
      * n` for every key of the frame the bounds came from.
      */
    def index: Column = expr(s"($key - $lo) div $step")
  }

  /** [[KeySlices]] of `df` over its (long) `key` column, or None when
    * no row has a non-null key. Runs one aggregate job.
    */
  private def keySlices(df: DataFrame, key: String, n: Int)
      : Option[KeySlices] = {
    val b = df.agg(min(col(key)), max(col(key))).collect()(0)
    if (b.isNullAt(0)) None
    else {
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      Some(KeySlices(key, n, lo, math.max(1L, (hi - lo) / n + 1)))
    }
  }

  /** [[keySlices]] of a frame that must have a key to slice — the
    * frozen-model bootstraps train on its slice 0.
    */
  def requireKeySlices(df: DataFrame, key: String, n: Int): KeySlices =
    keySlices(df, key, n).getOrElse(throw new IllegalArgumentException(
      s"cannot slice on $key: no row has a non-null $key"))

  /** Write `df` as ONE parquet file named `split-<idx>` under `dir`
    * (zero-padded names keep lexicographic = chronological order for the
    * file source's tie-break on equal modification times).
    */
  private def writeSplitFile(
      df: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
      dir: String, idx: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir + s"__tmp$idx")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"writeSplitFile: no part file under $tmp"))
    val dst = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), f"split-$idx%03d.parquet")
    if (!fs.rename(part, dst))
      throw new java.io.IOException(
        s"writeSplitFile: rename $part -> $dst failed")
    fs.delete(tmp, true)
  }

  /** Append one more single-file split AFTER a [[splitSource]] call and
    * before its drain starts — the sentinel harness for bounded
    * outer-join drains: a far-future batch advances the watermark past
    * the real timeline, and the batch after it evicts (and thus emits)
    * the expired outer-join state.
    */
  def appendSplit(df: DataFrame, dir: String, idx: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    writeSplitFile(df, fs, dir, idx)
  }

  /** Materialise a bounded frame as `n` single-file parquet splits, one
    * per [[KeySlices]] slice of its (long) `key` column, so a file-stream
    * drain with `maxFilesPerTrigger=1` processes them as `n` successive
    * micro-batches — the harness that makes incremental state on bounded
    * data honest (each batch sees only its slice of the timeline).
    * Rows with a null key have no place on the timeline and are
    * dropped, as an event-time watermark would drop them anyway. An
    * input without a non-null key lands as a single empty split, so the
    * drain still runs one batch and initialises its state.
    */
  private def writeTimeSplits(
      df: DataFrame, key: String, n: Int, dir: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(dir)
    val fs = out.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    keySlices(df, key, n) match {
      case None => writeSplitFile(df.where(lit(false)), fs, dir, 0)
      case Some(ks) => (0 until n).foreach { i =>
        writeSplitFile(df.where(ks.slice(i)), fs, dir, i)
      }
    }
  }

  /** The one way a bounded frame becomes micro-batches: write its
    * key-range splits under `dir` ([[writeTimeSplits]]) and return the
    * file-stream source over them, one split per trigger, with `df`'s
    * schema. Nothing is read until a drain starts, so [[appendSplit]]
    * may still add splits in between.
    */
  def splitSource(df: DataFrame, key: String, n: Int, dir: String)
      : DataFrame = {
    writeTimeSplits(df, key, n, dir)
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** Run `fold` over every micro-batch of the bounded stream `source`
    * to completion (Trigger.AvailableNow), with the batch id; over a
    * [[splitSource]] the fold sees the splits in key order as batches
    * 0, 1, …. Append mode hands it the rows as they arrive; `update`
    * hands a streaming aggregate its changed rows.
    */
  def drain(source: DataFrame, outputMode: String = "append")(
      fold: (DataFrame, Long) => Unit): Unit =
    source.writeStream.outputMode(outputMode)
      .foreachBatch(fold)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Watermarked tumbling-window aggregation: event-time correctness with
    * bounded state — at scale the watermark is what lets Spark evict
    * window state instead of growing it forever.
    */
  def windowedAgg(
      events: DataFrame,
      tsCol: String,
      windowLength: String,
      watermarkDelay: String,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** State store provider for every stateful drain: RocksDB. The
    * default HDFS-backed provider keeps each partition's entire state
    * map ON HEAP — at real streaming throughput (stream-stream join
    * state, per-key session state over unbounded key spaces) the heap
    * is the scale limit and GC the failure mode. RocksDB keeps state
    * off-heap with incremental changelog checkpoints; per-batch
    * overhead on bounded drains is noise next to micro-batch setup.
    */
  val StateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Make [[StateStoreProvider]] the session's provider (idempotent;
    * applied by every drain and by state-store readers). Changelog
    * checkpointing writes per-batch deltas instead of full RocksDB
    * snapshot uploads — the production setting, and it claws back most
    * of the bounded-drain overhead vs the HDFS provider.
    */
  def configureStateStore(spark: SparkSession): Unit = {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", StateStoreProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
  }

  /** Drain a bounded stream to completion into an in-memory table and
    * return it: Trigger.AvailableNow processes everything currently in
    * the source then stops — the streaming-backfill pattern. Complete
    * output mode (the default) keeps windowed aggregations deterministic
    * (every window emitted, none dropped by the watermark cutoff);
    * stateful flatMapGroupsWithState pipelines use append.
    */
  def runToMemory(
      agg: DataFrame, spark: SparkSession, name: String,
      outputMode: String = "complete",
      checkpointLocation: Option[String] = None): DataFrame = {
    configureStateStore(spark)
    val writer = agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
    val q = checkpointLocation
      .map(writer.option("checkpointLocation", _)).getOrElse(writer)
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
