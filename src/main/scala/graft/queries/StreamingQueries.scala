package graft.queries

import graft._
import graft.streaming.StreamFlow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming query over the `events` table: a watermarked hourly tumbling
  * window per event_type, drained with Trigger.AvailableNow into a memory
  * sink (the bounded-backfill pattern). Deterministic: complete output
  * mode emits every window; the value sum takes the decimal detour so it
  * is order-insensitive; window starts render as UTC strings.
  */
/** Open-session state for incremental sessionization. `nextIdx` is the
  * 1-based index of the current open session; `open=false` after a
  * timeout flush — the counter must survive the flush, so state is kept
  * (a production pipeline with unbounded keys would instead remove state
  * and persist the counter in the session sink).
  */
case class SessionState(
    nextIdx: Int, startUs: Long, endUs: Long, n: Long, open: Boolean)

object StreamingQueries {
  import Q._

  // events schema shared with the batch readers: Q.EventsSchema

  /** Incremental per-user sessionization of a bounded (user_id, ts_us)
    * frame: split into `nSplits` time-ordered files
    * ([[StreamFlow.splitSource]]), drain one file per micro-batch,
    * close sessions by inactivity gap or event-time timeout, and complete
    * sessions still open at end-of-source from the state store. Returns
    * (user_id, session_idx, n_events, start_us, end_us) — identical for
    * every nSplits (asserted by spec).
    */
  def sessionize(
      s: SparkSession, batch: DataFrame, splitDir: String, nSplits: Int,
      name: String, gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000 * 1000
    val gapMs = gapMinutes * 60L * 1000
    val events = StreamFlow.splitSource(
        batch.select("user_id", "ts_us"), "ts_us", nSplits, splitDir).stream
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes")
      .as[(Long, Long, java.sql.Timestamp)]
    val sessions = events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Int, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state) if state.hasTimedOut =>
          // watermark passed the open session's gap: emit it; the index
          // counter must survive the flush or a later event for this
          // user would reuse the session index
          val st = state.get
          state.update(st.copy(nextIdx = st.nextIdx + 1, open = false))
          Iterator.single((uid, st.nextIdx, st.n, st.startUs, st.endUs))
        case (uid, evs, state) =>
          val ts = evs.map(_._2).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, Long, Long)]
          var st = state.getOption
            .getOrElse(SessionState(1, 0L, 0L, 0L, open = false))
          ts.foreach { t =>
            if (!st.open)
              st = SessionState(st.nextIdx, t, t, 1L, open = true)
            else if (t > st.endUs + gapUs) {
              out += ((uid, st.nextIdx, st.n, st.startUs, st.endUs))
              st = SessionState(st.nextIdx + 1, t, t, 1L, open = true)
            } else st = st.copy(
              startUs = math.min(st.startUs, t),
              endUs = math.max(st.endUs, t), n = st.n + 1)
          }
          state.update(st)
          if (st.open) state.setTimeoutTimestamp(math.max(
            st.endUs / 1000 + gapMs + 1,
            state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
    val ckpt = tmpDir("graft_sess_ckpt")
    val drained = StreamFlow.runToMemory(
      sessions.toDF("user_id", "session_idx", "n_events", "start_us", "end_us"),
      s, name, outputMode = "append",
      checkpointLocation = Some(ckpt))
    // bounded-drain completion: sessions still open when the source ran
    // dry live in the state store; Spark 4's state data source reads them
    val open = s.read.format("statestore").load(ckpt)
      .select(col("key.value").as("user_id"),
        col("value.groupState.nextIdx").cast("int").as("session_idx"),
        col("value.groupState.n").as("n_events"),
        col("value.groupState.startUs").as("start_us"),
        col("value.groupState.endUs").as("end_us"),
        col("value.groupState.open").as("open"))
      .where(col("open")).drop("open")
    drained.unionByName(open)
  }

  /** Outer stream-stream interval join (clicks ⋈ purchases of the same
    * user within the preceding hour). Unmatched rows only emit once the
    * watermark proves no match can still arrive; a bounded drain's
    * watermark stops at the last real event, stranding the tail's
    * unmatched state — so the drain appends two far-future sentinel
    * batches on BOTH sides (the join watermark is the min across
    * inputs): the first advances the watermark past the whole real
    * timeline, the second's execution evicts and emits the expired
    * outer state. Ground truth is the identical batch outer join.
    */
  private def outerIntervalJoin(
      s: SparkSession, dir: String, joinType: String,
      name: String): DataFrame = withStreamParts(s) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = s.read.schema(EventsSchema)
      .parquet(s"$dir/events.parquet")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        eventsTsUs(s, dir).as("ts_us"))
    val splitDir = tmpDir("graft_sjo_split") + "/splits"
    val split = StreamFlow.splitSource(batch, "ts_us", 3, splitDir)
    val ev = split.stream.withColumn("tsm", timestamp_micros(col("ts_us")))
    val hiUs = split.requireSlices.hi
    val dayUs = 86400L * 1000000L
    import s.implicits._
    def sentinel(tsUs: Long) = Seq(
      (-1L, -1L, "click", tsUs), (-1L, -2L, "purchase", tsUs))
      .toDF("user_id", "event_id", "event_type", "ts_us")
    StreamFlow.appendSplit(sentinel(hiUs + 10 * dayUs), splitDir, 3)
    StreamFlow.appendSplit(sentinel(hiUs + 20 * dayUs), splitDir, 4)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("tsm").as("ct"))
      .withWatermark("ct", "1 hour")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("tsm").as("pt"))
      .withWatermark("pt", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("pt") >= col("ct") - expr("INTERVAL 1 HOUR") &&
        col("pt") <= col("ct"),
      joinType)
    StreamFlow.runToMemory(joined, s, name, outputMode = "append")
      .withColumn("u", coalesce(col("user_id"), col("p_user_id")))
      .where(col("u") >= 0) // drop the sentinel rows
      .select(col("click_id"), col("purchase_id"), col("u").as("user_id"))
      // NULLS LAST to match DuckDB's ORDER BY default (full-outer rows
      // can carry a null click_id; Spark's default is nulls first)
      .orderBy(col("click_id").asc_nulls_last,
        col("purchase_id").asc_nulls_last)
  }

  /** Temp dirs created via [[tmpDir]] inside the enclosing
    * [[withStreamParts]] scope; deleted recursively when it exits.
    */
  private val tmpReg =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[java.nio.file.Path]]

  /** Fresh temp dir, registered for recursive deletion when the
    * enclosing [[withStreamParts]] scope completes — a long-lived
    * session must not leak drain staging / checkpoint trees. Outside a
    * scope (e.g. [[sessionize]] called directly by a spec) the dir is
    * simply not tracked.
    */
  private def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Option(tmpReg.get).foreach(_ += p)
    p.toString
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Stateful bounded drains pay per-partition state-store setup each
    * micro-batch; 8 partitions still spread a skewless key space (a real
    * deployment sizes this to throughput, not the batch default).
    * Restores shuffle partitions AND `nanosAsLong` on exit (the drain
    * consumes the nanos parquet inside the body, so nothing after needs
    * the legacy flag), deletes every [[tmpDir]] tree, and eagerly
    * materialises the result first — the returned frame must not lazily
    * re-read a deleted checkpoint/staging dir or depend on the restored
    * session conf.
    */
  private def withStreamParts(s: SparkSession)(body: => DataFrame)
      : DataFrame = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNanos = s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    tmpReg.set(dirs)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body.localCheckpoint(true)
    finally {
      tmpReg.remove()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNanos match {
        case Some(v) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None =>
          s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
      dirs.foreach(p => deleteRecursively(p.toFile))
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_events" -> { (s, dir) =>withStreamParts(s) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = StreamFlow.readParquetStream(
        s, s"$dir/events.parquet", EventsSchema)
        .withColumn("ts", timestamp_micros(eventsTsUs(s, dir)))
      val agg = StreamFlow.windowedAgg(events, "ts",
        windowLength = "1 hour", watermarkDelay = "10 minutes",
        groupCols = Seq("event_type"),
        aggs = Seq(
          count(lit(1)).as("n_events"),
          dsum(col("value"), 2).as("total_value")))
      StreamFlow.runToMemory(agg, s, "q_stream_events")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_start", "event_type")
    }
    },

    // stateful streaming: per-user sessionization via
    // flatMapGroupsWithState (30-minute inactivity gap), INCREMENTAL:
    // the bounded source is split into three time-ordered files and
    // drained one file per micro-batch, so sessions genuinely span
    // micro-batches. Event-time timeouts flush a session once the
    // watermark passes its gap; sessions still open when the source runs
    // dry are completed from the state store (Spark 4's `statestore`
    // data source) — the bounded-drain analogue of "read open sessions
    // on the next run". Per-batch events are sorted by event time inside
    // the state function (iterator order is not guaranteed).
    "q_stream_sessionize" -> { (s, dir) =>withStreamParts(s) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batch = s.read.schema(EventsSchema).parquet(s"$dir/events.parquet")
        .select(col("user_id"), eventsTsUs(s, dir).as("ts_us"))
      // fresh staging dir per run: no cross-session/checkout races on a
      // shared path, and the split writer's delete can't hit live readers
      val splitDir = tmpDir("graft_sess_split") + "/splits"
      sessionize(s, batch, splitDir, nSplits = 3,
        name = "q_stream_sessionize").select(
        col("user_id"), col("session_idx").cast("bigint").as("session_idx"),
        col("n_events"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"))
        .orderBy("user_id", "session_idx")
    }
    },

    // stateful streaming dedup: dropDuplicatesWithinWatermark on the
    // event id — unlike plain dropDuplicates(id) (whose id-keyed state is
    // NEVER evicted unless the event-time column is part of the key),
    // the within-watermark variant expires each id's state once the
    // watermark passes it, which is what actually bounds dedup state on
    // an unbounded stream. The source is doubled (union with itself, so
    // every duplicate arrives well inside the watermark delay) and the
    // dedup provably removes duplicates; ground truth is the plain batch
    // aggregate.
    "q_stream_dedup" -> { (s, dir) =>withStreamParts(s) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = StreamFlow.readParquetStream(
        s, s"$dir/events.parquet", EventsSchema)
        .withColumn("ts", timestamp_micros(eventsTsUs(s, dir)))
        // prune BEFORE the stateful op: dedup emits whole rows, so every
        // column that reaches it rides the state-store writes and the
        // dedup shuffle — the wide `props` JSON column stays at the scan
        .select("event_id", "ts", "event_type", "value")
      val doubled = events.unionByName(events)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      val agg = doubled.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value"), 2).as("total_value"))
      StreamFlow.runToMemory(agg, s, "q_stream_dedup")
        .select(col("event_type"), col("n_events"), col("total_value"))
        .orderBy("event_type")
    }
    },

    // stream-static enrichment join: the streaming fact side joins a
    // static dimension per micro-batch (broadcast by Catalyst when
    // small) — the canonical streaming-enrichment pattern. The join key
    // maps event users onto customer keys; ground truth is the same
    // join in batch.
    "q_stream_enrich" -> { (s, dir) =>withStreamParts(s) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val customers = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val nCust = customers.count()
      val events = StreamFlow.readParquetStream(
        s, s"$dir/events.parquet", EventsSchema)
        .withColumn("c_custkey", pmod(col("user_id"), lit(nCust)) + 1)
      val enriched = events.join(customers, Seq("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value"), 2).as("total_value"))
      StreamFlow.runToMemory(enriched, s, "q_stream_enrich")
        .select(col("c_mktsegment"), col("event_type"), col("n_events"),
          col("total_value"))
        .orderBy("c_mktsegment", "event_type")
    }
    },

    // stream-stream inner join: clicks join purchases of the same user
    // within the preceding hour. Both sides are watermarked and the join
    // condition carries the time bound — the two things that let Spark
    // EVICT join state on an unbounded stream instead of buffering each
    // side forever (the scale requirement for stream-stream joins).
    // Ground truth is the same interval join in batch.
    "q_stream_join" -> { (s, dir) =>
      // a stream-stream join runs FOUR state stores per shuffle
      // partition (left/right keyed + key-to-num); at the bench's 32
      // partitions that is 128 stores of setup cost for one bounded
      // drain — withStreamParts' 8 partitions still spread a skewless
      // key space; a real deployment sizes this to throughput.
      withStreamParts(s) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = StreamFlow.readParquetStream(
        s, s"$dir/events.parquet", EventsSchema)
        .withColumn("tsm", timestamp_micros(eventsTsUs(s, dir)))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("tsm").as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"), col("tsm").as("pt"))
        .withWatermark("pt", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("pt") >= col("ct") - expr("INTERVAL 1 HOUR") &&
          col("pt") <= col("ct"))
      StreamFlow.runToMemory(joined, s, "q_stream_join",
        outputMode = "append")
        .select("click_id", "purchase_id", "user_id")
        .orderBy("click_id", "purchase_id")
      }
    },

    // stream-stream LEFT OUTER join: like q_stream_join, but clicks
    // with no purchase in the window must ALSO emit (null-padded) —
    // which on a stream only happens when the watermark proves no match
    // can still arrive. A bounded drain's watermark stops at the last
    // real event, stranding the tail's unmatched rows in the state
    // store, so the drain appends two far-future sentinel batches (on
    // BOTH sides — the join watermark is the min across inputs): the
    // first advances the watermark past the whole real timeline, the
    // second's execution evicts and emits the expired outer state.
    // Ground truth is the identical batch left join.
    "q_stream_join_outer" -> { (s, dir) =>
      outerIntervalJoin(s, dir, "leftOuter", "q_stream_join_outer")
    },

    // stream-stream FULL OUTER variant: unmatched PURCHASES also emit
    // (null click side); same sentinel flush mechanism
    "q_stream_join_full" -> { (s, dir) =>
      outerIntervalJoin(s, dir, "fullOuter", "q_stream_join_full")
    },

    // streaming → warehouse upsert sink: UPDATE-mode aggregation whose
    // changed rows merge into a keyed parquet table per micro-batch via
    // foreachBatch (read-current ∖ batch-keys ∪ batch, staging-swap) —
    // the pattern that lands a continuously-updating aggregate in the
    // BSE layer. On a transactional table this merge is MERGE INTO; the
    // anti-join + swap is its exactly-equivalent parquet rendering.
    // Ground truth: the final table state equals the batch aggregate.
    "q_stream_upsert" -> { (s, dir) =>
      withStreamParts(s) {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val batch = s.read.schema(EventsSchema)
          .parquet(s"$dir/events.parquet")
          .select(col("event_type"), col("value"),
            eventsTsUs(s, dir).as("ts_us"))
        val base = tmpDir("graft_upsert")
        val splitDir = base + "/splits"
        val target = base + "/bse_event_totals"
        val agg = StreamFlow.splitSource(batch, "ts_us", 3, splitDir).stream
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,2)")).as("__tv"))
        StreamFlow.drain(agg, outputMode = "update") { (b, _) =>
          val fs = new org.apache.hadoop.fs.Path(target)
            .getFileSystem(s.sessionState.newHadoopConf())
          val merged =
            if (!fs.exists(new org.apache.hadoop.fs.Path(target))) b
            else s.read.parquet(target)
              .join(b.select("event_type"), Seq("event_type"),
                "left_anti")
              .unionByName(b)
          graft.io.ParquetUtil.safeOverwrite(s, merged, target)
        }
        s.read.parquet(target)
          .select(col("event_type"), col("n_events"),
            col("__tv").cast("double").as("total_value"))
          .orderBy("event_type")
      }
    },

    // END-TO-END streaming warehouse lifecycle: bulk extract → initial
    // micro-batched load → DELTA EXTRACT of a drifted source v2
    // (StageExtract.deltaExtract: INSERT/UPDATE/DELETE slices) → second
    // micro-batched load applying the ops through the keyed upsert sink
    // → small-file COMPACTION — the reference's batch-only E→L lifecycle
    // (betl/PipelineClass.py:61-420) told as a continuously-fed
    // warehouse. The oracle replays the final BSE state in closed form
    // (v2 = v1 minus deletes, with updates applied, plus inserts), so
    // every op application across both streamed loads must be exact.
    "q_stream_warehouse" -> { (s, dir) =>
      withStreamParts(s) {
        implicit val c: GraftConf = conf(dir, "q_stream_warehouse")
        import graft.catalog.Layer
        import graft.warehouse.{DeltaLoad, StageExtract}
        val cols = Seq("n_nationkey", "n_name", "n_regionkey")
        val target = c.tablePath(Layer.BSE, "bse_nation")
        // a keyed upsert drain: one split file per micro-batch; DELETE
        // ops drop the key, everything else upserts (same merge shape
        // as q_stream_upsert, keyed on the natural key). The merged
        // state is written at width 4 — micro-batch sinks accrete small
        // files by nature; the compaction below is the maintenance verb
        // that pays that debt back.
        def load(df: DataFrame, splitDir: String, applyOps: Boolean)
            : Unit = {
          val src = StreamFlow.splitSource(df, "n_nationkey", 3, splitDir)
            .stream
          StreamFlow.drain(src) { (b, _) =>
            val fs = new org.apache.hadoop.fs.Path(target)
              .getFileSystem(s.sessionState.newHadoopConf())
            val ups = (if (applyOps)
              b.where(col(DeltaLoad.OpCol) =!= "DELETE") else b)
              .select(cols.map(col): _*)
            val merged =
              if (!fs.exists(new org.apache.hadoop.fs.Path(target))) ups
              else s.read.parquet(target)
                .join(b.select("n_nationkey"), Seq("n_nationkey"),
                  "left_anti")
                .unionByName(ups)
            graft.io.ParquetUtil.safeOverwrite(
              s, merged.repartition(4), target)
          }
        }
        // LOAD 1: bulk extract v1 into EXT (audit-stamped), stream it
        // into BSE in 3 micro-batches
        StageExtract.bulkExtract(s, c, Src, "nation")
        val v1 = s.read.parquet(c.tablePath(Layer.EXT, "nation"))
        // the corpus carries int32 keys; the warehouse table is keyed
        // long (split bounds + oracle both cast to BIGINT)
        def keyed(df: DataFrame): DataFrame = df.select(
          col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        load(keyed(v1), s"${c.warehousePath}/splits1", applyOps = false)
        // source drifts to v2: updates (%5=1), deletes (%7=3),
        // inserts (+100 for %6=0) — q_delta_extract's drift shape
        val v2dir = s"${c.warehousePath}/v2src"
        val full = v1.drop(Audit.all: _*)
        full.where(col("n_nationkey") % 7 =!= 3)
          .withColumn("n_name",
            when(col("n_nationkey") % 5 === 1,
              concat(lit("v2 "), col("n_name"))).otherwise(col("n_name")))
          .unionByName(full.where(col("n_nationkey") % 6 === 0)
            .withColumn("n_nationkey", col("n_nationkey") + 100)
            .withColumn("n_name", concat(col("n_name"), lit("_NEW"))))
          .write.mode("overwrite").parquet(s"$v2dir/nation.parquet")
        // DELTA EXTRACT: classify v2 against EXT, emit op slices
        val c2 = c.copy(srcSystems =
          c.srcSystems + ("V2" -> graft.io.ParquetDatastore(v2dir)))
        StageExtract.deltaExtract(s, c2, "V2", "nation",
          Seq("n_nationkey"), Some("2024-07-01 00:00:00"))
        val delta = s.read.parquet(c.tablePath(Layer.EXT, "nation_delta"))
          .select(col("n_nationkey").cast("long").as("n_nationkey"),
            col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"),
            col(DeltaLoad.OpCol))
        // LOAD 2: stream the delta slices, applying ops per batch
        load(delta, s"${c.warehousePath}/splits2", applyOps = true)
        // COMPACT: the upsert sink's 4-file writes collapse to 1; data
        // must be untouched (the oracle checks the final state)
        val (before, after) =
          Admin.compact(s, c, Layer.BSE, "bse_nation")
        require(before == 4 && after == 1,
          s"compact: expected 4 -> 1 files, got $before -> $after")
        s.read.parquet(target).orderBy("n_nationkey")
      }
    },

    // NEARLINE near-dup: the banded SimHash index maintained ACROSS
    // micro-batches — the streaming rendering of the dedup family. The
    // even-id half of the corpus is the pre-existing index (its internal
    // pairs emit once at bootstrap); odd-id documents then stream in
    // over 3 micro-batches, each batch equi-joining the CURRENT band
    // index (seed + every earlier batch) plus itself, so each near-dup
    // pair emits exactly ONCE — in the batch where its later member
    // arrives — and only new band rows append to the index. Banding
    // keeps per-batch work at |batch| × bucket-hit sized (never
    // batch × corpus); at scale the parquet index/sink swaps for a
    // keyed store but the join shape is unchanged. Ground truth: the
    // emitted union equals the batch Hamming-pair set over the whole
    // corpus, phase-tagged by arrival half.
    "q_stream_neardup" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.dedup.Nearline
        import graft.text.TextFunctions
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val hashed = docs.select(col("doc_id").as("doc"),
          TextFunctions.simHashUdf(
            TextFunctions.tokens(col("text"))).as("h"))
        // even-id half seeds the index; the odd half streams in over 3
        // micro-batches (the pair set is batch-count invariant —
        // NearlineSpec pins that property over 1/2/5 batches)
        Nearline.hammingPairsNearline(s, hashed,
            col("doc") % 2 === 0, nBatches = 3,
            baseDir = tmpDir("graft_neardup"), maxHamming = 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"), col("phase"))
          .orderBy("doc_a", "doc_b")
      }
    },

    // STREAMING SCD2: dimension snapshots arrive as micro-batches and
    // each batch applies the Kimball close-and-open against the
    // accumulated history ([[graft.warehouse.Scd2Load]]) — nearline
    // dimension maintenance, the SCD2 rendering of the
    // `q_stream_warehouse` lifecycle story. Three arrivals exercise the
    // full version lifecycle: attribute drift (close + open), soft
    // delete (close only), and the RE-INSERT of a member deleted one
    // batch earlier (a fresh version row; the closed history row is
    // untouched — classify sees no current row for the NK, so the
    // member returns through the INSERT branch). Inter-batch state is
    // the BSE dimension itself, not a state store: each application is
    // O(current + batch) and restart-safe, which is the shape a
    // 100-TB nearline dimension job needs.
    "q_stream_scd2" -> { (s, dir) =>
      withStreamParts(s) {
        implicit val c: GraftConf = conf(dir, "q_stream_scd2")
        import graft.catalog.Layer
        import graft.warehouse.{DimensionSpec, Scd2Load}
        val spec = DimensionSpec(
          "dm_customer", Seq("c_custkey"), Seq("c_name", "c_acctbal"))
        val dates = Map(1L -> "2024-01-01 00:00:00",
          2L -> "2024-02-01 00:00:00", 3L -> "2024-03-01 00:00:00")
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select("c_custkey", "c_name", "c_acctbal")
        // snapshot 1: some members absent, some balances drifted;
        // snapshot 2: true values, %7 members gone (soft deletes);
        // snapshot 3: %11 members gone, %3 balances re-drifted — and
        // the %7 deletes of snapshot 2 REAPPEAR
        val snaps = Seq(
          1L -> base.filter(col("c_custkey") % 11 =!= 3)
            .withColumn("c_acctbal",
              when(col("c_custkey") % 5 === 0, col("c_acctbal") * 2)
                .otherwise(col("c_acctbal"))),
          2L -> base.filter(col("c_custkey") % 7 =!= 2),
          3L -> base.filter(col("c_custkey") % 11 =!= 7)
            .withColumn("c_acctbal",
              when(col("c_custkey") % 3 === 0, col("c_acctbal") * 3)
                .otherwise(col("c_acctbal"))))
        val src = StreamFlow.splitSource(
          snaps.map { case (i, df) => df.withColumn("snap_seq", lit(i)) }
            .reduce(_ unionByName _),
          "snap_seq", 3, s"${c.warehousePath}/snap_splits").stream
        val lodPath = c.tablePath(Layer.LOD, spec.name)
        StreamFlow.drain(src) { (b, _) =>
          // one split file per trigger = one snapshot per batch; the
          // distinct-seq loop is defensive against file coalescing
          val seqs = b.select("snap_seq").distinct()
            .collect().map(_.getLong(0)).sorted
          seqs.foreach { i =>
            b.where(col("snap_seq") === i).drop("snap_seq")
              .write.mode("overwrite").parquet(lodPath)
            Scd2Load.load(s, c, spec, dates(i), initial = i == 1L)
          }
        }
        s.read.parquet(c.tablePath(Layer.BSE, spec.name))
          .select(col("sk_customer"), col("c_custkey"), col("c_name"),
            col("c_acctbal"),
            date_format(col(Scd2Load.ValidFrom), "yyyy-MM-dd HH:mm:ss")
              .as("valid_from"),
            date_format(col(Scd2Load.ValidTo), "yyyy-MM-dd HH:mm:ss")
              .as("valid_to"),
            col(Scd2Load.IsCurrent).as("is_current"))
          .orderBy("c_custkey", "sk_customer")
      }
    },

    // STREAMING MINI-BATCH K-MEANS: the embeddings-infrastructure
    // rendering of the nearline pattern — state (per-cluster integer
    // sums + counts) lives across micro-batches, each arriving batch
    // is assigned once against the centroids current at its arrival,
    // and centroids advance as the running integer mean. Bit-exact
    // fixed-point arithmetic end-to-end, so the whole streamed run
    // replays in DuckDB (seeds from batch 0, per-batch argmin, state
    // folds) — the oracle is the unrolled three-batch closed form.
    "q_stream_kmeans" -> { (s, dir) =>
      withStreamParts(s) {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        graft.similarity.MiniBatchKMeans.fitStream(s, emb,
            "vec_id", "embedding", k = SimilarityQueries.KMeansK,
            nBatches = 3, baseDir = tmpDir("graft_skm"))
          .orderBy("cid", "dim")
      }
    },

    // STREAMING HLL: the distinct-count sketch maintained across
    // micro-batches — per batch, build registers over the batch alone
    // and fold them into the state with the per-bucket max. Register
    // merge is associative + commutative and loses nothing, so the
    // final registers are BIT-IDENTICAL to the batch run over the
    // whole corpus under any batching — which is why the oracle is the
    // batch q_hll_distinct oracle verbatim. The same law is what makes
    // the sketch mergeable across executors, days, or sites at scale.
    "q_stream_hll" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.functions.HllSketch
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = s.read.schema(EventsSchema)
          .parquet(s"$dir/events.parquet").select("event_id")
        val base = tmpDir("graft_shll")
        val regsDir = base + "/registers"
        val src = StreamFlow.splitSource(ev, "event_id", 4, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          val regs = HllSketch.registers(s, b, "event_id")
          val fs = new org.apache.hadoop.fs.Path(regsDir)
            .getFileSystem(s.sessionState.newHadoopConf())
          val merged =
            if (!fs.exists(new org.apache.hadoop.fs.Path(regsDir))) regs
            else HllSketch.mergeRegisters(
              s.read.parquet(regsDir), regs)
          graft.io.ParquetUtil.safeOverwrite(s, merged, regsDir)
        }
        HllSketch.estimate(s.read.parquet(regsDir))
          .crossJoin(ev.agg(
            count_distinct(col("event_id")).as("exact_distinct")))
      }
    },

    // STREAMING CMS: the frequency sketch maintained across
    // micro-batches by cell-wise counter ADDITION — mergeable like the
    // HLL registers, but addition is not idempotent, so this one
    // carries the batch-id watermark ([[CountMinSketch.applyBatch]]).
    // The folded grid equals the batch sketch exactly, so the oracle
    // is the batch q_cms_freq oracle verbatim.
    // STREAMING NB QUALITY CLASSIFIER: the labelled train split
    // arrives in micro-batches and folds additively into the
    // (term, cpos, cneg) + doc-count state; the whole corpus then
    // scores against the accumulated model. Additive integer counts
    // fold to the identical model under ANY batching, so the batch
    // q_quality_classifier oracle replays this query verbatim.
    "q_stream_quality_classifier" -> { (s, dir) =>
      withStreamParts(s) {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"))
        val train = docs.where(col("doc_id") % 2 === 0)
        val base = tmpDir("graft_snb")
        val stateDir = base + "/state"
        val src = StreamFlow.splitSource(train, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          graft.text.NaiveBayes.applyBatch(s, b, "doc_id", "text",
            col("lang") === "en", id, stateDir)
        }
        graft.text.NaiveBayes.scoreFromState(s, docs, "doc_id", "text",
          stateDir)
          .orderBy("doc_id")
      }
    },

    "q_stream_cms" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.functions.CountMinSketch
        import graft.text.TextFunctions
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val base = tmpDir("graft_scms")
        val stateDir = base + "/state"
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          CountMinSketch.applyBatch(s,
            b.select(
              explode(TextFunctions.tokens(col("text"))).as("term")),
            "term", id, stateDir)
        }
        val sk = s.read.parquet(stateDir).drop("last_batch")
        val toks = docs
          .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        val probes = {
          import s.implicits._
          TextQueries.CmsProbes.toDF("term")
        }
        val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_tf"))
        CountMinSketch.estimate(sk, probes, "term")
          .join(exact, Seq("term"), "left")
          .na.fill(0L, Seq("exact_tf"))
          .select("term", "cms_est", "exact_tf")
          .orderBy("term")
      }
    },

    // STREAMING SPAN DEDUP: the gram-fingerprint index maintained
    // across micro-batches ([[SpanDedup.applyBatch]]); a duplicated
    // occurrence emits in the batch where its fingerprint's second
    // occurrence arrives (earlier occurrences emit retroactively from
    // the index), so the final flagged set — and therefore the
    // per-document span statistics — equals the batch q_span_dedup
    // exactly, whose oracle this query reuses verbatim.
    // streamed n-gram diversity: the (source, n, gram, c) counts fold
    // ADDITIVELY across micro-batches with the batch-id watermark (the
    // DSIR/CMS algebra) — the folded table equals the batch counts
    // under any batching, so the rollup is the batch operator verbatim
    "q_stream_ngram_diversity" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.text.NgramDiversity
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("source"), col("text"))
        val base = tmpDir("graft_sndiv")
        val stateDir = base + "/gram_state"
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          NgramDiversity.applyBatch(s, b, id, stateDir)
        }
        NgramDiversity.diversityFromState(s, stateDir)
          .orderBy("source", "n")
      }
    },

    // nearline exact dedup: the canonical-fingerprint index folded
    // across micro-batches under the delta-append contract — per-fp
    // (min keep_id, additive n_copies) are order-independent merges,
    // so the folded table equals batch Dedup.exactDedup under ANY
    // batching and the oracle is q_dedup_exact verbatim
    "q_stream_dedup_exact" -> { (s, dir) =>
      withStreamParts(s) {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val base = tmpDir("graft_sdex")
        val stateDir = base + "/fp_state"
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          graft.dedup.Nearline.applyExactBatch(
            s, b, "text", "doc_id", id, stateDir)
        }
        graft.dedup.Nearline.exactFromState(s, stateDir)
          .orderBy("keep_id")
      }
    },

    // nearline CCNet line dedup: the coords-bearing first-occurrence
    // line-key index maintained across micro-batches (index appends
    // first under its key anti-join; keep derives from min coords over
    // index ∪ batch — the crash contract in LineDedup.applyLineBatch);
    // with the harness's id-ordered slicing this equals the batch
    // operator's global (page, line_no) rule, so the oracle is
    // q_line_dedup verbatim
    "q_stream_line_dedup" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.text.LineDedup
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val lines = LineDedup.syntheticPages(docs)
          .withColumn("lid", col("page_id") * 100 + col("line_no"))
          .localCheckpoint()
        val base = tmpDir("graft_sline")
        val indexDir = base + "/line_index"
        val marksDir = base + "/line_marks"
        LineDedup.initLineState(s, indexDir, marksDir)
        val src = StreamFlow.splitSource(lines, "lid", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          LineDedup.applyLineBatch(s, b.drop("lid"), indexDir, marksDir)
        }
        LineDedup.lineDedupFromState(s, lines.drop("lid"), marksDir)
          .orderBy("page_id")
      }
    },

    "q_stream_span_dedup" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.dedup.SpanDedup
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val base = tmpDir("graft_sspan")
        val indexDir = base + "/gram_index"
        val dupDir = base + "/dup_occ"
        SpanDedup.initState(s, indexDir, dupDir)
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          SpanDedup.applyBatch(s, b, "text", "doc_id", indexDir, dupDir)
        }
        SpanDedup.statsFromState(s, docs, "text", "doc_id", dupDir)
          .orderBy("doc_id")
      }
    },

    // STREAMING DSIR: the hashed-ngram bucket table maintained across
    // micro-batches by counter ADDITION with a batch-id watermark
    // ([[Dsir.applyBatch]], the CMS algebra); the folded table equals
    // the batch table exactly, so the final corpus scoring reuses the
    // batch q_dsir_select oracle verbatim.
    "q_stream_dsir" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.text.Dsir
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"))
        val base = tmpDir("graft_sdsir")
        val stateDir = base + "/state"
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          Dsir.applyBatch(s, b, "doc_id", "text",
            col("lang") === "en", id, stateDir)
        }
        Dsir.weightsFromState(s, docs, "doc_id", "text",
          col("lang") === "en", stateDir).orderBy("doc_id")
      }
    },

    // STREAMING TOKEN-BUDGET SELECTION: the bounded (score, token-weight)
    // histogram maintained across micro-batches by weight ADDITION with
    // a batch-id watermark ([[graft.operators.BudgetSelect.applyBatch]],
    // the Dsir/CMS algebra); the folded histogram equals the batch
    // histogram exactly, so the final threshold + probe reuses the batch
    // q_token_budget oracle verbatim. The nearline shape a rolling
    // crawl wants: per-batch cost is one batch-sized scan folding into
    // ≤ |score grid| state rows; the corpus-sized probe runs once, at
    // selection time.
    "q_stream_token_budget" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.operators.BudgetSelect
        import graft.text.TextFunctions.{qualityScore, tokenCount}
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        def scored(df: DataFrame): DataFrame = df.select(
          col("doc_id"),
          qualityScore(col("text")).as("quality_score"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        val base = tmpDir("graft_sbud")
        val stateDir = base + "/state"
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          BudgetSelect.applyBatch(s, scored(b), "quality_score",
            "n_tokens", id, stateDir)
        }
        BudgetSelect.selectFromState(s, scored(docs), "quality_score",
          TextQueries.BudgetFrac, stateDir)
          .orderBy("doc_id")
      }
    },

    // STREAMING BIGRAM LM: the training split arrives in micro-batches
    // and folds ADDITIVELY into one persisted (kind, w1, w2, c) count
    // frame — unigram and bigram counts are both plain sums, so any
    // batching folds to the identical model and the batch
    // q_lm_perplexity oracle replays the streamed query exactly (the
    // NB/CMS algebra, applied to the LM the quality battery already
    // ships). The nearline LM a rolling crawl maintains: per-batch cost
    // is one batch-sized counting scan; corpus scoring runs once, from
    // the fold, through the SAME gate-broadcast scoring path as batch
    // (BigramLm.scoreWithCounts).
    "q_stream_lm_perplexity" -> { (s, dir) =>
      withStreamParts(s) {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val train = docs.where(col("doc_id") % 2 === 0)
        val base = tmpDir("graft_slm")
        val stateDir = base + "/state"
        val src = StreamFlow.splitSource(train, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          graft.text.BigramLm.applyBatch(s, b, "doc_id", "text", id,
            stateDir)
        }
        graft.text.BigramLm.scoreFromState(s, docs, "doc_id", "text",
          stateDir)
          .orderBy("doc_id")
      }
    },

    // NEARLINE MINHASH NEAR-DUP: the MinHash-LSH band index + shingle
    // store maintained across micro-batches; candidates from band hits
    // on the accumulated index, EXACT Jaccard verify against the store
    // (banding is deterministic, so the union of emissions over any
    // batching equals the batch q_dedup_minhash — its oracle applies
    // verbatim).
    "q_stream_minhash_dedup" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.dedup.Nearline
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val shingled = docs.select(col("doc_id").as("doc"),
          graft.functions.GraftFunctions
            .shinglesK(s, col("text"), 3).as("s"))
        val base = tmpDir("graft_smh")
        val (indexDir, storeDir, pairsDir) =
          (base + "/band_index", base + "/shingle_store", base + "/pairs")
        Nearline.initMinHashState(s, indexDir, storeDir, pairsDir)
        val src = StreamFlow.splitSource(shingled, "doc", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          Nearline.applyMinHashBatch(s, b,
            threshold = DedupQueries.JaccardThreshold,
            indexDir, storeDir, pairsDir)
        }
        s.read.parquet(pairsDir)
          .select(col("doc_a").as("doc_a"), col("doc_b").as("doc_b"),
            col("jaccard"))
          .orderBy("doc_a", "doc_b")
      }
    },

    // NEARLINE DUPLICATE-CLUSTER MAINTENANCE: the q_dedup_annotate
    // chain folded across micro-batches — the inverted-shingle pair
    // index emits each qualifying Jaccard pair exactly once (in its
    // later member's batch), and cluster ids are maintained
    // INCREMENTALLY: existing components contract to their label
    // nodes, hash-min CC runs on the touched-labels delta graph only,
    // and a composed (old → fin) remap forwards retired labels — no
    // global relabel, no edge state beyond the emitted pairs. The
    // folded annotation equals the batch chain verbatim for any
    // batching/arrival order (IncrementalCCSpec), so q_dedup_annotate's
    // oracle applies unchanged — the piece that lets the
    // annotate-don't-drop flagship run nearline.
    "q_stream_dedup_annotate" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.dedup.IncrementalCC
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val shingled = docs.select(col("doc_id").as("doc"),
          graft.functions.GraftFunctions
            .shinglesK(s, col("text"), 3).as("s"))
        val base = tmpDir("graft_scc")
        val (indexDir, pairsDir, labelsDir, remapDir) =
          (base + "/gram_index", base + "/pairs", base + "/labels",
            base + "/remap")
        IncrementalCC.initState(s, indexDir, pairsDir, labelsDir,
          remapDir)
        val src = StreamFlow.splitSource(shingled, "doc", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          IncrementalCC.applyBatch(s, b,
            DedupQueries.JaccardThreshold,
            indexDir, pairsDir, labelsDir, remapDir)
        }
        IncrementalCC.annotateFromState(s, labelsDir, remapDir)
          .orderBy("doc_id")
      }
    },

    // STREAMING IVF ANN INDEX: per-(label, dim) decimal sums fold
    // additively across micro-batches (exact, associative — the folded
    // centroids are bit-identical to the batch label-partition
    // computation) while the postings file accumulates the vectors; the
    // final probe + scan is the shared ivfSearch tail, checked against
    // the label-IVF oracle (the BATCH q_ann_ivf default moved to a
    // trained k-means quantizer; the streamed index keeps the label
    // coarse partition, whose sums fold additively without retraining).
    "q_stream_ann_ivf" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.StreamingIvf
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"), col("label"))
        val base = tmpDir("graft_sivf")
        val sumsDir = base + "/sums"
        val postingsDir = base + "/postings"
        StreamingIvf.initState(s, postingsDir)
        val src = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, id) =>
          StreamingIvf.applyBatch(s, b, id, sumsDir, postingsDir)
        }
        SimilarityQueries.ivfSearch(s, s.read.parquet(postingsDir),
          SimilarityQueries.centroidsOf(
            StreamingIvf.centroidFrame(s, sumsDir)))
      }
    },

    // STREAMING IVF WITH A FROZEN TRAINED QUANTIZER: the streamed
    // rendering of the trained batch default — the k-means model is
    // trained ONCE on the bootstrap batch (batch 0 of the same
    // id-range slicing the stream uses), then every arriving batch
    // assigns its vectors to the frozen centroids by the bit-exact
    // integer argmin and appends postings. The postings append is the
    // ONLY state write — idempotent under the vec_id anti-join, so no
    // watermark is needed (nothing is additive). Probe + scan is the
    // trained ivfSearch tail; the oracle replays the batch-0 training,
    // the frozen assignment of the whole corpus, and the probe.
    // nearline cross-modal index: arriving media items decode,
    // featurize and project into the shared space per batch, appending
    // under the doc-id anti-join (the projection is deterministic —
    // nothing merges across batches, the StreamingIvf append-only
    // contract), so the drained index equals the batch media tower
    // under ANY batching and text→media retrieval over it is the batch
    // q_crossmodal_ann verbatim
    "q_stream_crossmodal_ann" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.multimodal.{Crossmodal, MediaCodecs, Multimodal}
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val base = tmpDir("graft_sxmod")
        val stateDir = base + "/mv_state"
        Crossmodal.initState(s, stateDir)
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          val wav = udf((id: Long) => MediaCodecs.Synthetic.wavFor(id))
          val packed = b.select(col("doc_id"), struct(
            wav(col("doc_id")).as("data"),
            lit("audio/wav").as("mime"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("duration_ms")).as("media"))
          val proj = Multimodal.featurize(packed, "media", "feat",
            MediaCodecs.WavEnergyKernel)
            .select(col("doc_id"),
              Crossmodal.projectMedia(col("feat")).as("mv"))
          Crossmodal.applyBatch(s, proj, stateDir)
        }
        // text-side queries as literals + the batch ranking tail
        val qRows = docs.where(col("doc_id") < MultimodalQueries.NumQueries)
          .select(col("doc_id"), Crossmodal.projectText(
            Crossmodal.textFeatures(col("text"))).as("qv"))
          .orderBy("doc_id").collect()
        val qLit = array(qRows.map { r =>
          struct(lit(r.getLong(0)).as("qid"),
            array(r.getSeq[Double](1).map(lit(_)): _*).as("qv"))
        }: _*)
        val rank = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("cosine"), asc("doc_id"))
        s.read.parquet(stateDir)
          .select(col("doc_id"), col("mv"), explode(qLit).as("p"))
          .select(col("p.qid").as("qid"), col("doc_id"), col("mv"),
            col("p.qv").as("qv"))
          .withColumn("cosine", graft.similarity.VectorFunctions
            .cosine(col("qv"), col("mv")))
          .withColumn("rank", row_number().over(rank).cast("bigint"))
          .where(col("rank") <= MultimodalQueries.TopK)
          .select(col("qid"), col("doc_id").as("neighbor"),
            col("cosine"), col("rank"))
          .orderBy("qid", "rank")
      }
    },

    // nearline BM25: the LEXICAL leg of the amortized hybrid — the
    // per-doc length and query-term frequency tables maintained across
    // micro-batches (append-only under the doc-id anti-join; every doc
    // contributes once, so the folded tables equal the batch ones under
    // ANY batching); the scoring tail is the batch topKFrom seam, so
    // the oracle is q_bm25 verbatim
    "q_stream_bm25" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.text.Bm25
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val base = tmpDir("graft_sbm25")
        val (dlDir, tfDir) = (base + "/dl", base + "/tf")
        Bm25.initState(s, "doc_id", dlDir, tfDir)
        val src = StreamFlow.splitSource(docs, "doc_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          Bm25.applyBatch(s, b, "doc_id", "text",
            TextQueries.Bm25Terms, dlDir, tfDir)
        }
        Bm25.topKFromState(s, "doc_id", dlDir, tfDir, k = 15)
      }
    },

    // nearline frozen-quantizer drift monitor: one exact stats row
    // appended per micro-batch against the bootstrap-trained frozen
    // centroids (state = batch-count-sized, the smallest fold state in
    // the repo); batches never split a slice, so the report equals the
    // batch q_quantizer_drift verbatim and its oracle applies
    "q_stream_quantizer_drift" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{KMeans, QuantizerDrift}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_sqdrift")
        val stateDir = base + "/drift_state"
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        // frozen quantizer from batch 0: slice 0 of the splits' key ranges
        val b0 = emb.where(split.requireSlices.slice(0))
        val k = SimilarityQueries.ivfK(b0.count())
        val (centFp, _) = KMeans.fitModel(
          b0, "vec_id", "embedding", k, SimilarityQueries.IvfIters)
        StreamFlow.drain(src) { (b, id) =>
          QuantizerDrift.applyBatch(s, b, centFp, id, stateDir)
        }
        QuantizerDrift.driftFromState(s, stateDir).orderBy("slice")
      }
    },

    "q_stream_ann_ivf_trained" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{KMeans, StreamingIvf}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_sivft")
        val postingsDir = base + "/postings"
        StreamingIvf.initState(s, postingsDir)
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        // frozen quantizer from batch 0: slice 0 of the splits' key ranges
        val b0 = emb.where(split.requireSlices.slice(0))
        val k = SimilarityQueries.ivfK(b0.count())
        val (centFp, _) = KMeans.fitModel(
          b0, "vec_id", "embedding", k, SimilarityQueries.IvfIters)
        StreamFlow.drain(src) { (b, _) =>
          StreamingIvf.applyFrozenBatch(s, b, centFp, postingsDir)
        }
        SimilarityQueries.ivfSearch(s, s.read.parquet(postingsDir),
          SimilarityQueries.trainedCentroids(centFp),
          SimilarityQueries.ivfNProbe(k))
      }
    },

    // REQUANTIZE — the drift loop CLOSED: fold the corpus through the
    // frozen bootstrap quantizer (the amortized deployment), monitor
    // drift per batch, then fire the maintenance verb
    // (StreamingIvf.requantizeIfDrifted — retrain on the accumulated
    // postings, reassign, staging-swap; harness threshold 0 so the
    // full monitor→retrain→rebuild path runs deterministically,
    // production gates at drift_ratio > 1.5). Requantize at the batch
    // k over the full postings is BIT-IDENTICAL to from-scratch batch
    // training (same point set → same Lloyd init → same model), so the
    // oracle is the batch q_ann_ivf ivfTrainedOracle VERBATIM — the
    // strongest possible pin that the rebuilt index lost nothing to
    // its frozen history.
    "q_stream_ann_ivf_requantized" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{KMeans, QuantizerDrift, StreamingIvf}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_sivfr")
        val postingsDir = base + "/postings"
        val driftDir = base + "/drift"
        StreamingIvf.initState(s, postingsDir)
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        val b0 = emb.where(split.requireSlices.slice(0))
        val kBoot = SimilarityQueries.ivfK(b0.count())
        val (centBoot, _) = KMeans.fitModel(
          b0, "vec_id", "embedding", kBoot, SimilarityQueries.IvfIters)
        StreamFlow.drain(src) { (b, id) =>
          StreamingIvf.applyFrozenBatch(s, b, centBoot, postingsDir)
          QuantizerDrift.applyBatch(s, b, centBoot, id, driftDir)
        }
        val kFull = SimilarityQueries.ivfK(
          s.read.parquet(postingsDir).count())
        val centNew = StreamingIvf.requantizeIfDrifted(s, driftDir,
          postingsDir, kFull, SimilarityQueries.IvfIters,
          threshold = 0.0)
          .getOrElse(sys.error("drift monitor produced no slices"))
        SimilarityQueries.ivfSearch(s, s.read.parquet(postingsDir),
          SimilarityQueries.trainedCentroids(centNew),
          SimilarityQueries.ivfNProbe(kFull))
      }
    },

    // CELL-SPLIT MAINTENANCE — the imbalance half of the drift loop,
    // wired into a query surface: fold the corpus through the frozen
    // bootstrap quantizer, monitor per-batch, then fire
    // StreamingIvf.splitIfImbalanced (largest cell splits by a 2-means
    // on its own members, ONE global argmin reassign — no Lloyd
    // retrain; harness threshold 0 so the monitor→split→reassign path
    // runs deterministically, production gates at max_cluster_frac >
    // 0.5) and probe at the grown-k-fitted nprobe. This is the
    // frozen-deployment recovery the RECALL_SCALE ladder measures —
    // now exercised end-to-end by an oracle-checked query (the oracle
    // replays the split verbatim: SimilarityQueries.splitStreamIvfOracle).
    "q_stream_ann_ivf_split" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{KMeans, QuantizerDrift, StreamingIvf}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_sivfs")
        val postingsDir = base + "/postings"
        val driftDir = base + "/drift"
        StreamingIvf.initState(s, postingsDir)
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        val b0 = emb.where(split.requireSlices.slice(0))
        val kBoot = SimilarityQueries.ivfK(b0.count())
        val (centBoot, _) = KMeans.fitModel(
          b0, "vec_id", "embedding", kBoot, SimilarityQueries.IvfIters)
        StreamFlow.drain(src) { (b, id) =>
          StreamingIvf.applyFrozenBatch(s, b, centBoot, postingsDir)
          QuantizerDrift.applyBatch(s, b, centBoot, id, driftDir)
        }
        val centNew = StreamingIvf.splitIfImbalanced(s, driftDir,
          postingsDir, centBoot, targetK = kBoot + 1,
          iterations = SimilarityQueries.IvfIters, threshold = 0.0,
          reassign = true)
          .getOrElse(sys.error("drift monitor produced no slices"))
        SimilarityQueries.ivfSearch(s, s.read.parquet(postingsDir),
          SimilarityQueries.trainedCentroids(centNew),
          SimilarityQueries.ivfNProbe(kBoot + 1))
      }
    },

    // STREAMED PQ CODES: the frozen-quantizer precedent applied to the
    // product quantizer — codebooks train ONCE on the bootstrap batch,
    // every arriving vector appends (vec_id, embedding, code_0..7)
    // under the vec_id anti-join guard (append-only, idempotent: no
    // watermark needed), and the query tail is the batch ADC +
    // fixed-factor rerank over the drained postings. Oracle = the
    // batch q_ann_pq chain re-rooted at the bootstrap training set.
    "q_stream_ann_pq" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{ProductQuantizer, StreamingPq}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_spq")
        val postingsDir = base + "/postings"
        StreamingPq.initState(s, postingsDir)
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        // frozen books from batch 0: slice 0 of the splits' key ranges
        val b0 = emb.where(split.requireSlices.slice(0))
        val books = ProductQuantizer.trainBooks(b0, "vec_id", "embedding")
        StreamFlow.drain(src) { (b, _) =>
          StreamingPq.applyFrozenBatch(s, b, books, postingsDir)
        }
        SimilarityQueries.pqSearchFromPostings(
          s, s.read.parquet(postingsDir), books)
      }
    },

    // STREAMED IVF × PQ: the two frozen-model precedents composed —
    // the coarse quantizer AND the PQ codebooks both train once on
    // the bootstrap batch, every arriving vector appends
    // (vec_id, embedding, cid, code_0..7) after the frozen coarse
    // argmin + the frozen per-subspace argmins, under the vec_id
    // anti-join guard (append-only, idempotent, no watermark). The
    // query tail is the batch q_ann_ivf_pq search over the drained
    // postings: probed lists scanned as integer codes, exact rerank
    // on the fixed shortlist. Oracle = the composed chain with both
    // trainings re-rooted at the bootstrap id-range.
    "q_stream_ann_ivf_pq" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.{KMeans, ProductQuantizer, StreamingIvfPq}
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val base = tmpDir("graft_sivfpq")
        val postingsDir = base + "/postings"
        StreamingIvfPq.initState(s, postingsDir)
        val split = StreamFlow.splitSource(emb, "vec_id", 3, base + "/splits")
        val src = split.stream
        // frozen models from batch 0: slice 0 of the splits' key ranges
        val b0 = emb.where(split.requireSlices.slice(0))
        val k = SimilarityQueries.ivfK(b0.count())
        val (centFp, _) = KMeans.fitModel(
          b0, "vec_id", "embedding", k, SimilarityQueries.IvfIters)
        val books = ProductQuantizer.trainBooks(b0, "vec_id", "embedding")
        StreamFlow.drain(src) { (b, _) =>
          StreamingIvfPq.applyFrozenBatch(s, b, centFp, books, postingsDir)
        }
        SimilarityQueries.ivfPqSearchFromPostings(
          s, s.read.parquet(postingsDir), centFp, books, k)
      }
    },

    // NEARLINE SEMANTIC DECONTAMINATION: the frozen eval benchmark
    // suite scored against every ARRIVING train vector (row-local
    // max-cosine fold, zero shuffle per batch) — append-only postings
    // under the vec_id anti-join, the StreamingPq replay contract (no
    // watermark; the eval set never changes, so the append is the only
    // state write). Drained state ≡ the batch q_decontam_semantic
    // output, so the batch oracle replays verbatim.
    "q_stream_decontam_semantic" -> { (s, dir) =>
      withStreamParts(s) {
        import graft.similarity.StreamingDecontam
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val eval = emb.where(col("vec_id") < SimilarityQueries.EvalVecs)
          .orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq
        val train = emb.where(col("vec_id") >= SimilarityQueries.EvalVecs)
        val base = tmpDir("graft_sdec")
        val stateDir = base + "/state"
        StreamingDecontam.initState(s, stateDir)
        val src = StreamFlow.splitSource(train, "vec_id", 3, base + "/splits")
          .stream
        StreamFlow.drain(src) { (b, _) =>
          StreamingDecontam.applyBatch(s, b, eval,
            SimilarityQueries.ContamTau, stateDir)
        }
        s.read.parquet(stateDir).orderBy("vec_id")
      }
    },

    // batch JSON extraction over the events props column
    "q_events_json" -> { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = s.read.schema(EventsSchema)
        .parquet(s"$dir/events.parquet")
      events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("k_total"),
          max(col("k")).as("k_max"))
        .orderBy("event_type")
    })

  val oracles: Map[String, String] = Map(
    // register merge is lossless, so the streamed sketch equals the
    // batch sketch exactly — the batch oracle IS the streaming oracle
    "q_stream_hll" -> AnalyticsQueries.oracles("q_hll_distinct"),

    // cell-wise addition over any batching equals the batch grid —
    // batch oracle verbatim, like q_stream_hll
    "q_stream_cms" -> TextQueries.oracles("q_cms_freq"),
    // additive count model ⇒ the batch classifier oracle is exact
    "q_stream_quality_classifier" ->
      TextQueries.oracles("q_quality_classifier"),
    // additive unigram+bigram count model ⇒ the batch LM oracle is exact
    "q_stream_lm_perplexity" -> TextQueries.oracles("q_lm_perplexity"),
    // streamed gram index / bucket table are lossless renderings of the
    // batch computations — the batch oracles ARE the streaming oracles
    "q_stream_span_dedup" -> DedupQueries.oracles("q_span_dedup"),
    "q_stream_line_dedup" -> TextQueries.oracles("q_line_dedup"),
    "q_stream_ngram_diversity" -> TextQueries.oracles("q_ngram_diversity"),
    "q_stream_dedup_exact" -> DedupQueries.oracles("q_dedup_exact"),
    "q_stream_dsir" -> TextQueries.oracles("q_dsir_select"),
    "q_stream_token_budget" -> TextQueries.oracles("q_token_budget"),
    "q_stream_ann_ivf" -> SimilarityQueries.labelIvfOracle,
    "q_stream_ann_ivf_trained" -> SimilarityQueries.frozenStreamIvfOracle,
    // requantize over the full postings ≡ batch training on the same
    // corpus, so the trained-IVF oracle applies verbatim
    "q_stream_ann_ivf_requantized" -> SimilarityQueries.ivfTrainedOracle,
    "q_stream_ann_ivf_split" -> SimilarityQueries.splitStreamIvfOracle,
    "q_stream_quantizer_drift" ->
      SimilarityQueries.oracles("q_quantizer_drift"),
    "q_stream_bm25" -> TextQueries.oracles("q_bm25"),
    "q_stream_crossmodal_ann" ->
      MultimodalQueries.oracles("q_crossmodal_ann"),
    "q_stream_ann_pq" -> SimilarityQueries.frozenStreamPqOracle,
    "q_stream_ann_ivf_pq" -> SimilarityQueries.frozenStreamIvfPqOracle,
    "q_stream_minhash_dedup" -> DedupQueries.oracles("q_dedup_minhash"),
    "q_stream_dedup_annotate" -> DedupQueries.oracles("q_dedup_annotate"),
    "q_stream_decontam_semantic" ->
      SimilarityQueries.oracles("q_decontam_semantic"),

    // the streamed mini-batch run replayed batch-by-batch: same seeds,
    // same per-batch argmin, same integer state folds
    "q_stream_kmeans" ->
      s"""WITH ${OracleSql.miniBatchKmeansCtes(
            SimilarityQueries.KMeansK, 3)}
         |SELECT cid, dim, n AS n_points, s // n AS centroid_fp
         |FROM s3 ORDER BY cid, dim""".stripMargin,

    // three sequential SCD2 applications in closed form: v1 = initial
    // load; application 2 closes updates/deletes and opens new
    // versions above the high-water mark; application 3 does the same
    // against the post-2 current set — including re-inserting members
    // deleted at 2 (no current row -> INSERT branch, fresh SK)
    "q_stream_scd2" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |s1 AS (SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM base WHERE c_custkey % 11 <> 3),
        |s2 AS (SELECT * FROM base WHERE c_custkey % 7 <> 2),
        |s3 AS (SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 3
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM base WHERE c_custkey % 11 <> 7),
        |v1 AS (SELECT
        |    CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk,
        |    c_custkey, c_name, c_acctbal FROM s1),
        |m2 AS (SELECT v.sk, v.c_custkey, v.c_name AS p_name,
        |    v.c_acctbal AS p_bal, s.c_name, s.c_acctbal
        |  FROM v1 v JOIN s2 s USING (c_custkey)),
        |unch2 AS (SELECT sk, c_custkey, c_name, c_acctbal FROM m2
        |  WHERE p_name = c_name AND p_bal = c_acctbal),
        |upd2 AS (SELECT c_custkey, c_name, c_acctbal FROM m2
        |  WHERE p_name <> c_name OR p_bal <> c_acctbal),
        |closedupd2 AS (SELECT sk, c_custkey, p_name AS c_name,
        |    p_bal AS c_acctbal FROM m2
        |  WHERE p_name <> c_name OR p_bal <> c_acctbal),
        |closeddel2 AS (SELECT sk, c_custkey, c_name, c_acctbal FROM v1
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM s2)),
        |ins2 AS (SELECT c_custkey, c_name, c_acctbal FROM s2
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM s1)),
        |new2 AS (SELECT (SELECT max(sk) FROM v1)
        |    + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk,
        |    c_custkey, c_name, c_acctbal
        |  FROM (SELECT * FROM upd2 UNION ALL SELECT * FROM ins2)),
        |cur2 AS (SELECT sk, c_custkey, c_name, c_acctbal, 1 AS vf
        |    FROM unch2
        |  UNION ALL SELECT sk, c_custkey, c_name, c_acctbal, 2 FROM new2),
        |hwm2 AS (SELECT max(sk) AS m FROM
        |  (SELECT sk FROM v1 UNION ALL SELECT sk FROM new2)),
        |m3 AS (SELECT v.sk, v.vf, v.c_custkey, v.c_name AS p_name,
        |    v.c_acctbal AS p_bal, s.c_name, s.c_acctbal
        |  FROM cur2 v JOIN s3 s USING (c_custkey)),
        |unch3 AS (SELECT sk, vf, c_custkey, c_name, c_acctbal FROM m3
        |  WHERE p_name = c_name AND p_bal = c_acctbal),
        |upd3 AS (SELECT c_custkey, c_name, c_acctbal FROM m3
        |  WHERE p_name <> c_name OR p_bal <> c_acctbal),
        |closedupd3 AS (SELECT sk, vf, c_custkey, p_name AS c_name,
        |    p_bal AS c_acctbal FROM m3
        |  WHERE p_name <> c_name OR p_bal <> c_acctbal),
        |closeddel3 AS (SELECT sk, vf, c_custkey, c_name, c_acctbal
        |  FROM cur2
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM s3)),
        |ins3 AS (SELECT c_custkey, c_name, c_acctbal FROM s3
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM cur2)),
        |new3 AS (SELECT (SELECT m FROM hwm2)
        |    + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk,
        |    c_custkey, c_name, c_acctbal
        |  FROM (SELECT * FROM upd3 UNION ALL SELECT * FROM ins3)),
        |d AS (SELECT '2024-01-01 00:00:00' AS d1,
        |  '2024-02-01 00:00:00' AS d2, '2024-03-01 00:00:00' AS d3)
        |SELECT sk AS sk_customer, c_custkey, c_name, c_acctbal,
        |    (SELECT d1 FROM d) AS valid_from,
        |    (SELECT d2 FROM d) AS valid_to, FALSE AS is_current
        |  FROM closedupd2
        |UNION ALL SELECT sk, c_custkey, c_name, c_acctbal,
        |  (SELECT d1 FROM d), (SELECT d2 FROM d), FALSE FROM closeddel2
        |UNION ALL SELECT sk, c_custkey, c_name, c_acctbal,
        |  CASE WHEN vf = 1 THEN (SELECT d1 FROM d)
        |       ELSE (SELECT d2 FROM d) END,
        |  (SELECT d3 FROM d), FALSE FROM closedupd3
        |UNION ALL SELECT sk, c_custkey, c_name, c_acctbal,
        |  CASE WHEN vf = 1 THEN (SELECT d1 FROM d)
        |       ELSE (SELECT d2 FROM d) END,
        |  (SELECT d3 FROM d), FALSE FROM closeddel3
        |UNION ALL SELECT sk, c_custkey, c_name, c_acctbal,
        |  CASE WHEN vf = 1 THEN (SELECT d1 FROM d)
        |       ELSE (SELECT d2 FROM d) END,
        |  CAST(NULL AS VARCHAR), TRUE FROM unch3
        |UNION ALL SELECT sk, c_custkey, c_name, c_acctbal,
        |  (SELECT d3 FROM d), CAST(NULL AS VARCHAR), TRUE FROM new3
        |ORDER BY c_custkey, sk_customer""".stripMargin,

    // the nearline index must emit exactly the batch Hamming-pair set
    // over the whole corpus; phase derives from which half each pair's
    // members arrived in (odd ids streamed)
    "q_stream_neardup" -> {
      import OracleSql.{simHashExpr, toksCte, tokenHash}
      s"""WITH $toksCte,
         |hh AS (SELECT doc_id,
         |  list_transform(w, t -> ${tokenHash("t")}) AS hs FROM toks),
         |sv AS (SELECT doc_id, $simHashExpr AS h FROM hh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.h::UBIGINT, b.h::UBIGINT)) AS INTEGER)
         |    AS hamming,
         |  CASE WHEN a.doc_id % 2 = 1 OR b.doc_id % 2 = 1 THEN 'stream'
         |       ELSE 'seed' END AS phase
         |FROM sv a JOIN sv b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.h::UBIGINT, b.h::UBIGINT)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // final BSE state after both streamed loads + compaction = v2 in
    // closed form: v1 minus deletes, updates applied, inserts added
    "q_stream_warehouse" ->
      """WITH v2 AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 5 = 1 THEN 'v2 ' || n_name
        |         ELSE n_name END AS n_name, n_regionkey
        |  FROM nation WHERE n_nationkey % 7 <> 3
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_name || '_NEW', n_regionkey
        |  FROM nation WHERE n_nationkey % 6 = 0)
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey FROM v2
        |ORDER BY n_nationkey""".stripMargin,

    "q_stream_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "q_stream_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM o)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM events
        |JOIN customer
        |  ON c_custkey = user_id % (SELECT count(*) FROM customer) + 1
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "q_stream_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us FROM ev
        |  WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.us >= c.us - 3600000000 AND p.us <= c.us
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q_stream_upsert" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_join_outer" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us FROM ev
        |  WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.us >= c.us - 3600000000 AND p.us <= c.us
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q_stream_join_full" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us FROM ev
        |  WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id,
        |  COALESCE(c.user_id, p.user_id) AS user_id
        |FROM c FULL JOIN p ON c.user_id = p.user_id
        |  AND p.us >= c.us - 3600000000 AND p.us <= c.us
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_total,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
