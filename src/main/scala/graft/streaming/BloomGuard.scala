package graft.streaming

import graft.functions.BloomFilter
import graft.io.ParquetUtil
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted, OR-mergeable Bloom membership state for the nearline
  * folds — the sub-O(state) probe guard: every fold that anti-joins its
  * batch against an accumulated state table (doc-id replay guards, the
  * line-key first-occurrence index, the BM25 per-doc tables) pays a
  * full state SCAN per micro-batch even though the batch side is tiny
  * and, for fresh data, NONE of its keys are in the state. A Bloom
  * bitset maintained as fold state answers "definitely absent" row-
  * locally: a batch whose keys all miss skips the exact anti-join —
  * and therefore the state read — entirely; only bloom-HIT keys (rare:
  * replays, crash-window re-deliveries, false positives) pay the exact
  * probe, which restores exactness.
  *
  * Safety argument (why a Bloom cannot break a fold): the guard's only
  * action is SKIPPING an anti-join when the filter proves no batch key
  * is in the state. False positives merely run the exact probe
  * unnecessarily; false NEGATIVES are impossible as long as the bitset
  * over-approximates the STATE's key set — which the folds guarantee by
  * writing the updated bloom BEFORE appending the keys it covers (a
  * crash between the two writes leaves a superset bloom: harmless, the
  * next probe just pays one exact anti-join).
  *
  * Capacity scales WITH the state (the 100-TB requirement): a bitset
  * sized for 420k keys saturates to all-ones at 10^10-key
  * cardinalities, silently degrading every batch to the pre-guard
  * O(state) probe. So the guard self-maintains:
  *
  *  - '''Cardinality-derived sizing.''' [[planFor]] sizes a bitset at
  *    [[TargetBitsPerKey]] (~24 bits/key at k=5 → steady fill ~0.19,
  *    FP ~2·10^-4), pow2-rounded.
  *  - '''Resize instead of saturate.''' [[addKeysMulti]] checks the
  *    post-OR fill ratio (driver-side popcount, O(m/64)); past
  *    [[FillThreshold]] it REBUILDS the bitset at [[planFor]]'s size
  *    from the fold's key set — each fold passes a LAZY `stateKeys`
  *    thunk (its state table's key column, invoked only when the
  *    trigger fires), unioned with the in-flight batch keys (the bloom
  *    writes before the appends it covers). The threshold sits at ≥2×
  *    the sizing cardinality, so rebuilds are geometric — amortized
  *    O(1) per batch, the compaction argument. A fold that passes no
  *    thunk degrades exactly as before: fail-safe to the exact probe,
  *    never wrong. Dropping old-bloom-only keys (crash-window ids
  *    whose appends rolled back) is sound — the invariant is
  *    bloom ⊇ STATE keys, and those ids are in neither state nor
  *    batch, so a future miss correctly admits them.
  *  - '''Shard past the hash family's ceiling.''' Kirsch–Mitzenmacher
  *    over one 60-bit hash caps a single bitset at 2^30 positions; the
  *    guard promotes a name to `name#i/S` shard rows once [[planFor]]
  *    exceeds [[maxShardBits]] (2^27 bits = 16 MiB per shard). Keys
  *    route to shards by a separately-salted hash (top bits of
  *    md5("bloomshard:"+key) — independent of the position hashes, so
  *    per-shard FP math is unchanged), and each shard is a standard
  *    bitset. Capacity is then S × 5.6M keys — 10^10 keys is S=2048,
  *    32 GiB total, still ~0.4% of a 1-KiB-per-row state table.
  *  - '''Driver bytes.''' The build ([[addKeysMulti]]) and the probe
  *    ([[needExact]]) each hold a name's whole bitset — every shard —
  *    on the driver once per batch: the build reads, ORs and swaps the
  *    rows there, and the probe ships the assembled bitset to every
  *    task in its kernel's closure. Shards remain the unit of layout
  *    (one parquet row each, under the hash family's ceiling), not a
  *    bound on driver bytes: a guard that must stay off the driver
  *    needs a distributed probe and a distributed build, on one path.
  *
  * Layout: one parquet row `(name, words: array<long>)` PER NAMED
  * bitset (shards are just more names) — a fold guarding several
  * stores (LineDedup: line keys for the index, coords for the marks)
  * keeps them in ONE dir so each batch pays one read and one combined
  * swap. A batch that contributes ZERO new keys (a pure replay) swaps
  * nothing — the guard dir is untouched. The swap runs through
  * [[ParquetUtil.safeOverwrite]], so every crash window recovers.
  *
  * Hashing is [[BloomFilter]]'s Kirsch–Mitzenmacher family over the
  * engine's portable md5 — the build (Column rendering) and the probe
  * (kernel UDF) are bit-identical (unit-asserted in BloomFilterSpec),
  * so build-side and probe-side never disagree on membership.
  */
object BloomGuard {

  /** Floor capacity: 2^21 bits = 256 KiB = ~87k keys at
    * [[TargetBitsPerKey]] — resize grows past it on demand.
    */
  val DefaultNumBits: Int = 1 << 21
  val DefaultNumHashes: Int = 5

  /** The single-bitset folds' row name (must not contain '#' — the
    * shard-row separator).
    */
  val DefaultName: String = "k"

  /** Sizing target: ~24 bits/key at k=5 → steady-state fill
    * 1 − e^(−5/24) ≈ 0.19, FP ≈ 0.19^5 ≈ 2.3·10^-4 — and the resize
    * TRIGGER (fill > [[FillThreshold]] ≈ 0.086 keys/bit) then sits at
    * ≥2× the cardinality the bitset was sized for, so consecutive
    * rebuilds are geometric (amortized O(1) per batch).
    */
  val TargetBitsPerKey: Long = 24L

  /** Post-OR fill ratio past which [[addKeysMulti]] rebuilds (FP at
    * the trigger ≈ 0.35^5 ≈ 0.5% — degraded but nowhere near
    * saturated).
    */
  val FillThreshold: Double = 0.35

  /** Bits per single bitset row before a name SHARDS (2^27 = 16 MiB,
    * ~5.6M keys) — far under the hash family's 2^30 ceiling, and a
    * bounded unit for the per-batch driver round-trip. Var (not val)
    * only so specs can force shard promotion at test scale.
    */
  private[graft] var maxShardBits: Int = 1 << 27

  /** Kill switch for the counterfactual soak arm: with the guard off,
    * folds take their pre-guard path (exact anti-join against the full
    * state every batch) so the soak can measure what the guard saves.
    * Never off in production.
    */
  @volatile var enabled: Boolean = true

  private def schema = StructType(Seq(
    StructField("name", StringType),
    StructField("words", ArrayType(LongType, containsNull = false))))

  // ------------------------------------------------------------------
  // sizing
  // ------------------------------------------------------------------

  /** (numShards, bitsPerShard) for an expected key cardinality:
    * pow2-rounded [[TargetBitsPerKey]]·n total bits (floor
    * [[DefaultNumBits]]), split into [[maxShardBits]]-bit shards once
    * a single bitset would exceed that.
    */
  def planFor(nKeys: Long): (Int, Int) = {
    val want = math.max(DefaultNumBits.toLong,
      math.max(1L, nKeys) * TargetBitsPerKey)
    var total = DefaultNumBits.toLong
    while (total < want) total *= 2
    if (total <= maxShardBits) (1, total.toInt)
    else {
      val s = total / maxShardBits
      require(s <= (1 << 24), s"BloomGuard: $nKeys keys needs $s shards")
      (s.toInt, maxShardBits)
    }
  }

  // ------------------------------------------------------------------
  // shard assembly
  // ------------------------------------------------------------------

  /** One named bloom, possibly sharded: `shards.length` is a power of
    * two; keys route by the top log2(S) bits of the salted shard hash.
    */
  final case class NamedBloom(shards: IndexedSeq[Array[Long]]) {
    require(shards.nonEmpty &&
      Integer.bitCount(shards.length) == 1 &&
      shards.forall(_.length == shards.head.length),
      "shards must be a pow2 count of equal-length bitsets")
    def numShards: Int = shards.length
    def shardBits: Int = Integer.numberOfTrailingZeros(numShards)
    def bitsPerShard: Int = shards.head.length * 64
    def totalBits: Long = numShards.toLong * bitsPerShard
    def fill: Double = {
      var ones = 0L
      shards.foreach(w => { var i = 0
        while (i < w.length) { ones += java.lang.Long.bitCount(w(i)); i += 1 } })
      ones.toDouble / totalBits
    }
  }

  private def shardRowName(base: String, i: Int, s: Int): String =
    if (s == 1) base else s"$base#$i/$s"

  /** Assemble a base name's bloom from raw dir rows — a plain row, or
    * its complete `name#i/S` shard set. An INCOMPLETE shard set (a
    * layout no committed swap produces) returns None: fail safe to the
    * exact probe, never guess membership.
    */
  def assemble(rows: Map[String, Array[Long]], name: String)
      : Option[NamedBloom] =
    rows.get(name).map(w => NamedBloom(IndexedSeq(w))).orElse {
      val pre = name + "#"
      val parts = rows.toSeq.collect {
        case (n, w) if n.startsWith(pre) &&
            n.substring(pre.length).matches("\\d+/\\d+") =>
          val Array(i, s) = n.substring(pre.length).split("/")
          (i.toInt, s.toInt, w)
      }
      parts.headOption.map(_._2).filter { s =>
        parts.length == s && parts.forall(_._2 == s) &&
          parts.map(_._1).sorted == (0 until s)
      }.map { _ =>
        NamedBloom(parts.sortBy(_._1).map(_._3).toIndexedSeq)
      }
    }

  /** Replace a base name's row(s) — plain or sharded — with `nb`'s. */
  private def replaceRows(rows: Map[String, Array[Long]], name: String,
      nb: NamedBloom): Map[String, Array[Long]] = {
    val pre = name + "#"
    val kept = rows.filterNot { case (n, _) =>
      n == name || n.startsWith(pre) }
    kept ++ nb.shards.zipWithIndex.map { case (w, i) =>
      shardRowName(name, i, nb.numShards) -> w }
  }

  // ------------------------------------------------------------------
  // persistence
  // ------------------------------------------------------------------

  /** Initialise empty bitset(s) (all-zero) of `numBits` each (sharded
    * when that exceeds [[maxShardBits]]); they grow geometrically via
    * [[addKeysMulti]]'s trigger.
    */
  def init(s: SparkSession, dir: String,
      names: Seq[String] = Seq(DefaultName),
      numBits: Int = DefaultNumBits): Unit = {
    require(numBits % 64 == 0 && numBits > 0, "numBits must be multiple of 64")
    require(names.forall(!_.contains("#")),
      "bitset names must not contain '#' (the shard-row separator)")
    val (nShards, perShard) =
      if (numBits <= maxShardBits) (1, numBits)
      else planFor(numBits / TargetBitsPerKey)
    write(s, dir, names.flatMap { n =>
      (0 until nShards).map(i =>
        shardRowName(n, i, nShards) -> new Array[Long](perShard / 64))
    }.toMap)
  }

  /** Read every named bitset row of the dir (shard rows included,
    * under their raw `name#i/S` names — [[assemble]] groups them).
    * None when the dir is missing/empty — the FAIL-SAFE direction: a
    * state dir whose bloom was never initialised (pre-guard
    * deployments) must take the exact probe path forever, because a
    * fresh bloom would miss the old state's keys and a miss is a
    * correctness claim. O(m) driver cost; metered as guard bytes.
    */
  def readAll(s: SparkSession, dir: String)
      : Option[Map[String, Array[Long]]] = {
    ParquetUtil.recoverInterrupted(s, dir)
    if (ParquetUtil.dirSizeBytes(s, dir) <= 0L) return None
    StateScanMeter.addGuard(s, dir)
    val rows = s.read.schema(schema).parquet(dir).collect()
    if (rows.isEmpty) None
    else Some(rows.map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap)
  }

  /** Read one named bloom (None = dir or name missing: fail safe). */
  def read(s: SparkSession, dir: String,
      name: String = DefaultName): Option[NamedBloom] =
    readAll(s, dir).flatMap(assemble(_, name))

  private def write(s: SparkSession, dir: String,
      blooms: Map[String, Array[Long]]): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = blooms.toSeq.sortBy(_._1).map { case (n, w) =>
      org.apache.spark.sql.Row(n, w.toSeq) }
    // failpoints=false: the folds' crash specs aim ParquetUtil.crashPoint
    // at their OWN state writes; the bloom swap has its own failpoint
    ParquetUtil.safeOverwrite(s,
      s.createDataFrame(rows.asJava, schema).coalesce(1), dir,
      failpoints = false)
    if (crashAfterWrite) {
      crashAfterWrite = false
      throw new RuntimeException("injected crash after bloom write")
    }
  }

  /** Failpoint for the guard's own crash spec: the next [[addKeys]] /
    * [[addKeysMulti]] / [[init]] throws ONCE after its swap completes —
    * the window that leaves a SUPERSET bloom with no covered data
    * appended. Never set in production.
    */
  @volatile private[graft] var crashAfterWrite: Boolean = false

  // ------------------------------------------------------------------
  // build / OR / resize
  // ------------------------------------------------------------------

  /** Build one name's delta bitsets (one per shard) from a key frame
    * in ONE aggregation — [[BloomFilter.buildShards]], keys routed by
    * the top bits of a separately-salted hash so shard choice and bit
    * positions are independent.
    */
  private def buildSharded(df: DataFrame, keyCol: String,
      shardBits: Int, bitsPerShard: Int): IndexedSeq[Array[Long]] =
    BloomFilter.buildShards(df, keyCol, bitsPerShard, DefaultNumHashes,
      1 << shardBits, k =>
        if (shardBits == 0) lit(0)
        else shiftrightunsigned(
          TextFunctions.tokenHash60(concat(lit("bloomshard:"), k)),
          60 - shardBits))

  /** OR each add's keys into its NAMED persisted bloom — one read, one
    * combined swap for the whole dir; run BEFORE the state appends it
    * covers. Key hashing casts through string (the
    * [[BloomFilter.hashCol]] contract), so long ids and string keys
    * share one code path. Adds under the SAME name OR (and rebuild) as
    * one key set: rebuilding from one add's keys alone would drop the
    * others' from the bloom before the fold appends them.
    *
    * Adds whose frame is EMPTY contribute nothing and a batch whose
    * adds are ALL empty (a pure replay) swaps NOTHING — the guard dir
    * is untouched, so replay batches write zero state.
    *
    * `rebuild` carries each name's lazy full-key-set thunk (the fold's
    * state-table key column — invoked ONLY when that name's post-OR
    * fill crosses [[FillThreshold]]); on trigger the bloom rebuilds at
    * [[planFor]]'s size from thunk-keys ∪ batch-keys, growing —
    * and shard-promoting — instead of saturating. Without a thunk an
    * overloaded bloom degrades fail-safe (every probe routes exact),
    * never wrong.
    *
    * No-op when the bloom was never initialised (see [[readAll]]'s
    * fail-safe: creating a bloom that misses pre-existing state keys
    * would manufacture false negatives); adds naming an uninitialised
    * bitset within an initialised dir are rejected loudly (same
    * hazard).
    */
  def addKeysMulti(s: SparkSession, dir: String,
      adds: Seq[(DataFrame, String, String)],
      rebuild: Map[String, () => DataFrame] = Map.empty): Unit =
    readAll(s, dir).foreach { rows0 =>
      var rows = rows0
      var changed = false
      adds.map(_._3).distinct.foreach { name =>
        val nb = assemble(rows, name).getOrElse(
          throw new IllegalArgumentException(
            s"BloomGuard: bitset '$name' was not initialised in $dir"))
        val keys = adds.collect { case (df, keyCol, `name`) =>
          df.select(col(keyCol).cast("string").as("__k"))
        }.reduce(_ unionByName _)
        val delta = buildSharded(keys, "__k", nb.shardBits, nb.bitsPerShard)
        // a zero delta = the adds carried no (non-null) keys — the
        // emptiness answer falls out of the build aggregation that runs
        // anyway, so a pure-replay batch costs no extra probe job and
        // swaps nothing
        if (delta.exists(_.exists(_ != 0L))) {
          changed = true
          var si = 0
          while (si < nb.numShards) {
            val w = nb.shards(si); val d = delta(si); var i = 0
            while (i < w.length) { w(i) |= d(i); i += 1 }
            si += 1
          }
          val grown =
            if (nb.fill <= FillThreshold || !rebuild.contains(name)) nb
            else {
              // full key set = state keys ∪ this batch's keys (the
              // bloom precedes the appends it covers); one amortized
              // scan — the trigger is geometric in cardinality
              val all = rebuild(name)().toDF("__k")
                .select(col("__k").cast("string").as("__k"))
                .union(keys)
                .where(col("__k").isNotNull)
                .distinct().localCheckpoint()
              val (nShards, perShard) = planFor(all.count())
              val rb = NamedBloom(buildSharded(all, "__k",
                Integer.numberOfTrailingZeros(nShards), perShard))
              all.unpersist()
              rb
            }
          rows = replaceRows(rows, name, grown)
        }
      }
      if (changed) write(s, dir, rows)
    }

  /** Single-bitset convenience over [[addKeysMulti]]: `stateKeys` is
    * the fold's lazy resize source (its state-table key column).
    */
  def addKeys(s: SparkSession, dir: String, df: DataFrame,
      keyCol: String, name: String = DefaultName,
      stateKeys: Option[() => DataFrame] = None): Unit =
    addKeysMulti(s, dir, Seq((df, keyCol, name)),
      stateKeys.map(name -> _).toMap)

  // ------------------------------------------------------------------
  // probes
  // ------------------------------------------------------------------

  /** Row-local membership probe column for `keyCol` against an
    * assembled bloom (never false-negative vs the keys [[addKeys]]
    * recorded): shard by the salted hash's top bits, then the standard
    * kernel within the shard.
    */
  def hit(nb: NamedBloom, keyCol: String): Column =
    if (nb.numShards == 1)
      BloomFilter.mightContainUdf(nb.shards(0), DefaultNumHashes)(
        col(keyCol).cast("string"))
    else {
      val shards = nb.shards.toArray
      val shardBits = nb.shardBits
      val numHashes = DefaultNumHashes
      val kernel = udf { (v: String) =>
        val words =
          shards((TextFunctions.md5Hash60("bloomshard:" + v)
            >>> (60 - shardBits)).toInt)
        val numBits = words.length * 64
        val h = TextFunctions.md5Hash60("bloom:" + v)
        val h1 = h % (1L << 30)
        val h2 = h >>> 30
        var i = 0
        var ok = true
        while (ok && i < numHashes) {
          val p = (h1 + i.toLong * h2) % numBits
          ok = (words((p / 64).toInt) & (1L << (p % 64).toInt)) != 0
          i += 1
        }
        ok
      }
      kernel(col(keyCol).cast("string"))
    }

  /** Back-compat single-bitset probe (specs, direct callers). */
  def hit(words: Array[Long], keyCol: String): Column =
    hit(NamedBloom(IndexedSeq(words)), keyCol)

  /** The guard decision a fold makes per batch: true when the EXACT
    * state probe must run — the guard is disabled, the bloom was never
    * initialised (fail-safe), or at least one batch key hits the
    * bitset (replays, crash-window re-deliveries, false positives).
    * False = every key is provably absent from the state: skip the
    * anti-join and the state read entirely.
    */
  def needExact(s: SparkSession, dir: String, df: DataFrame,
      keyCol: String, name: String = DefaultName): Boolean =
    !enabled || (read(s, dir, name) match {
      case None => true
      case Some(nb) =>
        df.where(hit(nb, keyCol)).limit(1).count() > 0
    })

  /** The folds' replay guard, one call per batch: the rows of `batch`
    * whose `keyCol` is not yet in the fold's state, and whether the
    * exact probe ran to find them. `stateKeys` is the fold's state-key
    * read — its own reader and [[StateScanMeter]] call, one key column
    * under any name. It serves both the exact anti-join (run only when
    * [[needExact]] finds a possible hit) and the resize source of the
    * [[addKeys]] that then records the fresh keys, BEFORE the fold
    * appends the rows they cover.
    *
    * The exact path cuts its result eagerly: the fold then appends into
    * the dir this probe read, and a lazy anti-join would re-read that
    * dir after the append and drop the fold's own new rows.
    */
  def freshRows(s: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, stateKeys: () => DataFrame): (DataFrame, Boolean) = {
    val exact = needExact(s, dir, batch, keyCol)
    val fresh =
      if (!exact) batch
      else batch.join(stateKeys().toDF(keyCol), Seq(keyCol), "left_anti")
        .localCheckpoint()
    addKeys(s, dir, fresh.select(keyCol), keyCol,
      stateKeys = Some(stateKeys))
    (fresh, exact)
  }
}
