package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic, dense, 1-based surrogate key assignment.
  *
  * The reference delegates SK generation to Postgres `SERIAL` columns and
  * resets them with `TRUNCATE … RESTART IDENTITY` on every bulk load
  * (betl/datamodel/ColumnClass.py:28-31, betl/io/dbIO.py:47-53), which makes
  * SKs "order of arrival". Spark-native we make them *deterministic*:
  * SK = rank of the natural key in NK sort order.
  *
  * Scale note: the naive rendering — `row_number().over(Window.orderBy(nk))`
  * — collapses to a single partition and dies on a large dimension. The
  * partition count `p` is sized from the input instead
  * ([[partitionsFor]]): the optimizer's size estimate, inflated by
  * [[StageLoad.InMemoryInflation]], divided by Spark's advisory partition
  * size (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MiB by
  * default), capped at `spark.sql.shuffle.partitions`.
  *
  * When `p = 1` the input fits one advisory partition, and the ranks are
  * plain row indices: coalesce to one partition, sort within it, stamp
  * `monotonically_increasing_id() + 1`. That form is lazy — no persist,
  * no job, no broadcast — and its one-task sort is bounded by the size
  * rule alone: it plans no exchange to `SinglePartition`, so
  * `PlanGate.audit`'s single-partition-sort rule does not see it.
  * Estimates only err high (a join estimates the product of its
  * children; a frame without statistics takes the session's default
  * size, `Long.MaxValue`), so a large input never takes this form.
  *
  * When `p > 1` the layout stays fully distributed AND fully inside
  * Tungsten (no RDD detour, no external-Row boxing of the attribute
  * columns):
  *
  *   1. range-repartition by NK (one shuffle; sampled balanced boundaries),
  *   2. sort within partitions (no further shuffle),
  *   3. stamp `monotonically_increasing_id()` — which encodes
  *      (partition id << 33) + local row index in physical order — and
  *      persist, so the shuffle is paid once,
  *   4. a tiny per-partition count aggregation (p rows) turns local
  *      indices into global ranks via a broadcast offsets join.
  *
  * Equivalent result to the global window, O(n/p) memory per task.
  */
object SurrogateKeys {

  /** Prepends `skName` = 1-based rank of each row in `orderCols` order.
    * The caller guarantees the natural keys are unique (every warehouse
    * caller dedups on them first): ties would make the ranks depend on
    * the physical row order. `numPartitions`, when given, overrides the
    * size rule.
    */
  def assign(
      df: DataFrame,
      orderCols: Seq[String],
      skName: String,
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val p = numPartitions.getOrElse(partitionsFor(df))
    val sortCols = orderCols.map(col)
    if (p == 1)
      return df.coalesce(1)
        .sortWithinPartitions(sortCols: _*)
        .select((monotonically_increasing_id() + 1L).as(skName) +:
          df.columns.toSeq.map(col): _*)
    // the id must be stamped once and reused by both the counts job and
    // the final plan — persisting pins the shuffled+sorted rows so the
    // range exchange is not recomputed (the ContextCleaner unpersists
    // when the plan is garbage-collected)
    val withMid = rangeStamped(df, sortCols, p)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pidOf = shiftright(col("__mid"), 33)
    // per-partition row counts: map-side partial agg, p-row shuffle
    val parts = withMid
      .groupBy(pidOf.as("__pid"))
      .agg(count(lit(1)).as("__n"), min(col("__mid")).as("__base"))
      .collect()
      .sortBy(_.getLong(0))
    var cum = 0L
    val offRows: Seq[Row] = parts.toSeq.map { r =>
      val off = cum
      cum += r.getLong(1)
      Row(r.getLong(0), off, r.getLong(2))
    }
    val offSchema = StructType(Seq(
      StructField("__pid", LongType, nullable = false),
      StructField("__off", LongType, nullable = false),
      StructField("__base", LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    withMid
      .join(broadcast(offDf), pidOf === col("__pid"))
      .withColumn(skName, col("__off") + (col("__mid") - col("__base")) + 1L)
      .select((skName +: df.columns.toSeq).map(col): _*)
  }

  /** Partition count for [[assign]]: the estimated in-memory size over
    * one advisory partition, between 1 and `spark.sql.shuffle.partitions`.
    */
  private[graft] def partitionsFor(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes *
      StageLoad.InMemoryInflation
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      .max(1)
    ((bytes + advisory - 1) / advisory)
      .max(1).min(conf.numShufflePartitions).toInt
  }

  /** Steps 1-3 of the distributed layout, unpersisted: rows
    * range-partitioned into `p` partitions by `sortCols`, sorted within
    * each, stamped with `__mid`.
    */
  private[graft] def rangeStamped(
      df: DataFrame, sortCols: Seq[Column],
      p: Int): DataFrame =
    df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .select(monotonically_increasing_id().as("__mid"), col("*"))
}
