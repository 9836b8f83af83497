package graft.functions

import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Bloom filter over the engine's portable md5 hash — the
  * semi-join pruning sketch: build a bitset from the (small) key side,
  * prune the (huge) probe side with a row-local predicate, then restore
  * exactness with a real semi-join on the survivors. This is the same
  * shape as Spark's own runtime bloom pruning (InjectRuntimeFilter),
  * rebuilt on the md5 hash family so an oracle can replay membership
  * decisions bit-for-bit.
  *
  * Scale stance: the build is one map-side-combined aggregation to
  * m/64 bitset words; the words ship to executors as a literal array
  * (same pattern as a broadcast var, bytes = m/8). The probe is pure
  * row-local bit math — no shuffle, evaluated at the scan, so at 100 TB
  * the filter drops non-matching rows BEFORE the join shuffle. False
  * positives only cost wasted probe rows; the trailing semi-join keeps
  * results exact.
  */
object BloomFilter {

  /** The shared 60-bit hash a row's whole position family derives from.
    * MATERIALISE this as its own column before deriving positions — the
    * md5 is the expensive instruction, and positions reference the hash
    * k (or 2k) times; as an inline tree it would be re-evaluated per
    * reference, as a column it is computed once per row.
    */
  def hashCol(c: Column): Column =
    TextFunctions.tokenHash60(concat(lit("bloom:"), c.cast("string")))

  /** Kirsch–Mitzenmacher double hashing over a PRE-MATERIALISED hash
    * column: position_i = (h1 + i·h2) mod m with h1 = low 30 bits,
    * h2 = high 30 bits. Same false-positive behaviour as k independent
    * hashes at one md5 per row.
    */
  def positions(h: Column, numBits: Int, numHashes: Int): Seq[Column] = {
    require(numBits <= (1 << 30), "numBits must fit in 30 bits")
    val h1 = h % (1L << 30)
    val h2 = shiftrightunsigned(h, 30)
    (0 until numHashes).map(i => (h1 + lit(i.toLong) * h2) % numBits)
  }

  /** Build the bitset: m/64 words, each the bit-OR of its members'
    * masks. Distributive aggregation — partial ORs combine map-side.
    */
  def build(
      df: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int): Array[Long] =
    buildShards(df, keyCol, numBits, numHashes).head

  /** The one rendering of the bit algebra: `numShards` bitsets of
    * `numBits` each, filled by ONE aggregation keyed by (shard, word).
    * `shard` maps the string-cast key column to its bitset's index in
    * [0, numShards); the single-bitset default is the literal 0, so
    * one bitset costs no second hash per key.
    */
  def buildShards(
      df: DataFrame, keyCol: String, numBits: Int, numHashes: Int,
      numShards: Int = 1,
      shard: Column => Column = _ => lit(0)): IndexedSeq[Array[Long]] = {
    require(numBits % 64 == 0 && numBits > 0, "numBits must be a multiple of 64")
    require(numHashes >= 1 && numHashes <= 16, "1 <= numHashes <= 16")
    val pow2 = array((0 until 64).map(j => lit(1L << j)): _*)
    // null keys carry no membership information (a semi-join would
    // ignore them) and a null hash would NPE the getLong below
    val words = df
      .where(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"))
      .select(shard(col("__k")).cast("int").as("shard"),
        hashCol(col("__k")).as("__bh"))
      .select(col("shard"), explode(
        array(positions(col("__bh"), numBits, numHashes): _*)).as("p"))
      .select(col("shard"), (col("p") / 64).cast("long").as("w"),
        element_at(pow2, (col("p") % 64).cast("int") + 1).as("mask"))
      .groupBy("shard", "w").agg(bit_or(col("mask")).as("bits"))
      .collect()
    val out = IndexedSeq.fill(numShards)(new Array[Long](numBits / 64))
    words.foreach(r => out(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    out
  }

  /** Row-local membership test against a built bitset, over a
    * PRE-MATERIALISED hash column ([[hashCol]]): true iff every hash
    * position's bit is set (may false-positive, never false-negative).
    */
  def mightContain(
      h: Column, words: Array[Long], numHashes: Int): Column = {
    val numBits = words.length * 64
    val wordArr = array(words.map(lit): _*)
    val pow2 = array((0 until 64).map(j => lit(1L << j)): _*)
    positions(h, numBits, numHashes).map { p =>
      element_at(wordArr, (p / 64).cast("int") + 1)
        .bitwiseAND(element_at(pow2, (p % 64).cast("int") + 1)) =!= 0
    }.reduce(_ && _)
  }

  /** [[mightContain]] as a primitive-loop kernel UDF, bit-identical to
    * the Column rendering (unit-asserted). The declarative form is the
    * specification, but it cannot be evaluated efficiently in a Filter:
    * predicate pushdown inlines the hash alias into every one of its 2k
    * references (re-running the md5 each time) and FilterExec does no
    * subexpression elimination — measured 10× slower than this kernel.
    * Same discipline as [[graft.text.TextFunctions.simHashUdf]].
    */
  def mightContainUdf(words: Array[Long], numHashes: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val numBits = words.length * 64
    udf { (v: String) =>
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
  }

  /** Exact semi-join with bloom pre-pruning: filter `fact` rows through
    * the bitset of `dim`'s keys (row-local, at the scan), then the real
    * left-semi join on survivors only.
    */
  def semiJoin(
      fact: DataFrame, factCol: String, dim: DataFrame, dimCol: String,
      numBits: Int = 1 << 14, numHashes: Int = 5): DataFrame = {
    val words = build(dim, dimCol, numBits, numHashes)
    val kernel = mightContainUdf(words, numHashes)
    fact.where(kernel(col(factCol).cast("string")))
      .join(dim.select(col(dimCol).as(factCol)).distinct(),
        Seq(factCol), "left_semi")
  }
}
