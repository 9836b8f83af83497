package graft.warehouse

import graft.GraftConf
import graft.catalog.Layer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** A default row appended to every dimension with a negative surrogate key
  * (reference: per-dimension default-row files synced from a sheet,
  * betl/defaultdataflows/stageLoad.py:76-93,233-268; conventionally
  * -1 = MISSING, -2 = UNRECOGNISED). Per-column `values` override
  * specific columns (cast from string to the column's type); otherwise
  * string attributes get the label and everything else stays null.
  */
case class DefaultRow(
    sk: Long, label: String, values: Map[String, String] = Map.empty)

object DefaultRow {
  val standard: Seq[DefaultRow] =
    Seq(DefaultRow(-1L, "MISSING"), DefaultRow(-2L, "UNRECOGNISED"))

  /** File-driven default rows (the reference's per-dimension txt files):
    * a JSON array of `{"sk": -1, "label": "MISSING",
    * "values": {"col": "literal"}}` objects.
    */
  def fromJsonFile(path: String): Seq[DefaultRow] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8"))
    import scala.jdk.CollectionConverters._
    root.elements().asScala.map { n =>
      DefaultRow(
        sk = n.get("sk").asLong(),
        label = n.get("label").asText(),
        values = Option(n.get("values")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty))
    }.toSeq
  }
}

/** Declarative description of a dimension bulk load. `skName` and the
  * SK/NK-map table name derive from the table name by convention:
  * `dm_customer` → `sk_customer` (reference stageLoad.py:270-316 emits the
  * same `sk_<dim>` map back to the LOD layer).
  */
case class DimensionSpec(
    name: String,
    nkCols: Seq[String],
    attrCols: Seq[String],
    defaultRows: Seq[DefaultRow] = DefaultRow.standard) {
  def baseName: String = name.stripPrefix("dm_")
  def skName: String = s"sk_$baseName"
  def mapTableName: String = s"sk_$baseName"
}

/** One FK resolution on a fact: `factNkCol` in the fact joins `mapNkCol`
  * in the dimension's SK/NK map, producing the dim's SK column.
  */
case class FkMapping(factNkCol: String, dimName: String, mapNkCol: String) {
  def baseName: String = dimName.stripPrefix("dm_")
  def skName: String = s"sk_$baseName"
}

case class FactSpec(name: String, fks: Seq[FkMapping])

/** Bulk dimension/fact loading — the engine's rendering of the reference's
  * load stage (betl/defaultdataflows/stageLoad.py:184-430).
  *
  * Differences by design:
  *  - SKs are deterministic NK-rank (see [[SurrogateKeys]]) instead of DB
  *    sequences; the truncate-to-reset-sequence dance disappears.
  *  - The SK/NK map is a pure projection of the loaded dimension.
  *  - Fact FK resolution is a chain of LEFT broadcast joins against the
  *    (small) SK/NK maps with -1 defaulting — the reference's per-FK pandas
  *    merge loop (stageLoad.py:361-409) at cluster scale.
  *  - Index DDL around the load (stageLoad.py:96-131) is a Parquet no-op —
  *    but when `GraftConf.trgSink` is a [[graft.io.JdbcDatastore]] the
  *    reference's DB sequence runs for real: [[dropTrgSinkIndexes]] before
  *    the loads, then per table create-if-absent DDL → index drop →
  *    truncate → append → index recreate ([[syncTrgSink]]).
  */
object StageLoad {

  /** Pre-bulk-load index teardown on a JDBC TRG sink: drop fact/summary
    * FK constraints and indexes first — they pin the dimension rows the
    * upcoming truncates must clear (reference dropFactFKConstraints,
    * stageLoad.py:96-131). No-op for non-JDBC sinks. Returns the
    * statements actually executed (observability + spec hook).
    */
  def dropTrgSinkIndexes(conf: GraftConf): Seq[String] =
    conf.trgSink match {
      case Some(jdbc: graft.io.JdbcDatastore) =>
        val tables = conf.catalog.tablesIn(Layer.BSE) ++
          conf.catalog.tablesIn(Layer.SUM)
        val factish = tables.filter(t =>
          t.tableType == graft.catalog.TableType.Fact ||
            t.tableType == graft.catalog.TableType.Summary)
        jdbc.executeDdl(
          graft.io.JdbcDdl.dropLoadIndexSqls(factish), ignoreMissing = true)
      case _ => Seq.empty
    }

  /** Mirror a loaded BSE table into the configured TRG sink (reference:
    * BSE/SUM always land in the TRG database, dfl_io.py:81-94). For a
    * JDBC sink this runs the reference's full DB load sequence
    * (stageLoad.py:185-216): ensure the table exists (catalog-generated
    * DDL, registering a role-aware TableDef on first sight), drop its
    * indexes for write speed, truncate (bulk) or not (delta append),
    * append the rows, recreate the indexes. Other sinks get a plain
    * write.
    */
  private def syncTrgSink(
      spark: SparkSession, conf: GraftConf, name: String, df: DataFrame,
      mode: String, skCol: Option[String] = None,
      fkDims: Map[String, String] = Map.empty): Unit =
    conf.trgSink.foreach {
      case jdbc: graft.io.JdbcDatastore =>
        val tdef = conf.catalog.lookup(Layer.BSE, name).getOrElse {
          conf.catalog.register(graft.catalog.TableDef(name, Layer.BSE,
            df.schema.fields.toSeq.map { f =>
              val role =
                if (skCol.contains(f.name)) graft.catalog.ColumnRole.SurrogateKey
                else if (fkDims.contains(f.name)) graft.catalog.ColumnRole.ForeignKey
                else graft.catalog.ColumnRole.Attribute
              graft.catalog.ColumnDef(f.name, f.dataType, role,
                fkDimension = fkDims.get(f.name))
            }))
        }
        import graft.io.JdbcDdl
        if (!jdbc.tableExists(name))
          jdbc.executeDdl(Seq(JdbcDdl.createTableSql(tdef)))
        jdbc.executeDdl(JdbcDdl.dropIndexSqls(tdef), ignoreMissing = true)
        if (mode == "overwrite")
          // The reference truncates with RESTART IDENTITY (dbIO.py:46-52)
          // because it lets the DB allocate SKs. This engine computes
          // every SK explicitly (SurrogateKeys) and inserts it, so the
          // sink's identity counter is never consulted and its state is
          // irrelevant — plain TRUNCATE is sufficient on every dialect.
          // (Derby happens to reset identity on TRUNCATE; Postgres does
          // NOT without RESTART IDENTITY — neither matters here.)
          jdbc.executeDdl(Seq(s"TRUNCATE TABLE $name"))
        jdbc.write(spark, df, name, "append")
        jdbc.executeDdl(JdbcDdl.createIndexSqls(tdef))
      case ds => ds.write(spark, df, name, mode)
    }

  /** truncate BSE dim → read LOD → assign SKs → append default rows →
    * write BSE + emit SK/NK map to LOD
    * (reference bulkLoadDimension, stageLoad.py:184-316).
    */
  def bulkLoadDimension(
      spark: SparkSession, conf: GraftConf, spec: DimensionSpec): DataFrame = {
    val lod = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.LOD, spec.name))
    val deduped = lod
      .select((spec.nkCols ++ spec.attrCols).map(col): _*)
      .dropDuplicates(spec.nkCols)
    val keyed = SurrogateKeys.assign(deduped, spec.nkCols, spec.skName)

    // default rows: negative SKs; explicit per-column values win, then
    // label in string attrs, null elsewhere
    spec.defaultRows.foreach { dr =>
      val unknown = dr.values.keySet -- keyed.columns.toSet
      require(unknown.isEmpty,
        s"default row sk=${dr.sk}: values reference unknown column(s) " +
          s"${unknown.mkString(", ")} (have: ${keyed.columns.mkString(", ")})")
    }
    val defaults = spec.defaultRows.map { dr =>
      keyed.schema.fields.foldLeft(
        spark.range(1).toDF("_one").select(lit(dr.sk).as(spec.skName))) {
        case (d, f) if f.name == spec.skName => d
        case (d, f) if dr.values.contains(f.name) =>
          d.withColumn(f.name, lit(dr.values(f.name)).cast(f.dataType))
        case (d, f) if f.dataType == StringType &&
            spec.attrCols.contains(f.name) =>
          d.withColumn(f.name, lit(dr.label))
        case (d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(keyed.columns.map(col): _*)
    }
    val dim = defaults.foldLeft(keyed)(_.unionByName(_))

    // staging-swap (not plain overwrite): a scheduler retry killed
    // mid-write must find the previous table intact, not a half-deleted
    // directory (rerun-safety contract, betl/PipelineClass.py:456-514)
    graft.io.ParquetUtil.safeOverwrite(spark, dim,
      conf.tablePath(Layer.BSE, spec.name))
    val reread = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.BSE, spec.name))
    // the SK/NK map is a projection of the WRITTEN dimension (not of
    // `dim`'s lineage, which would run the SK plan a second time); keep
    // only real members
    val skMap = reread
      .filter(col(spec.skName) > 0)
      .select((spec.skName +: spec.nkCols).map(col): _*)
    graft.io.ParquetUtil.safeOverwrite(spark, skMap,
      conf.tablePath(Layer.LOD, spec.mapTableName))
    syncTrgSink(spark, conf, spec.name, reread, "overwrite", Some(spec.skName))
    reread
  }

  /** In-memory bytes per compressed Parquet byte, for size decisions
    * made from file sizes or the plan statistics derived from them.
    */
  private[warehouse] val InMemoryInflation = 4

  /** Broadcast only when the SK/NK map's on-disk size is under the
    * session's autoBroadcastJoinThreshold. A 500M-member dimension's map
    * would OOM the driver if broadcast unconditionally; above the
    * threshold we leave the join strategy to Catalyst/AQE (which still
    * broadcasts runtime-small sides). Compressed Parquet bytes understate
    * the in-memory size, so they are inflated by [[InMemoryInflation]].
    */
  private[graft] def maybeBroadcast(
      spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val threshold =
      try spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        .replaceAll("(?i)b$", "").toLong
      catch { case _: NumberFormatException => 10L * 1024 * 1024 }
    val onDisk = graft.io.ParquetUtil.dirSizeBytes(spark, path)
    if (threshold > 0 && onDisk >= 0 && onDisk * InMemoryInflation <= threshold)
      broadcast(df)
    else df
  }

  /** NK→SK resolution: per-FK left join against the (small) SK/NK maps
    * with -1 defaulting — shared by bulk and delta fact loads
    * (graft-visible so PlanGateSpec can assert the join broadcasts).
    */
  private[graft] def resolveFks(
      spark: SparkSession, conf: GraftConf,
      fact: DataFrame, fks: Seq[FkMapping]): DataFrame =
    fks.foldLeft(fact) { (df, fk) =>
      val mapPath = conf.tablePath(Layer.LOD, s"sk_${fk.baseName}")
      val skMap = graft.io.ParquetUtil.readRecovered(spark, mapPath)
        .withColumnRenamed(fk.mapNkCol, fk.factNkCol)
      df.join(maybeBroadcast(spark, skMap, mapPath), Seq(fk.factNkCol), "left")
        .withColumn(fk.skName,
          coalesce(col(fk.skName).cast(LongType), lit(-1L)))
        .drop(fk.factNkCol)
    }

  /** read LOD fact → per-FK left join on NK (broadcast when the map is
    * small, see [[maybeBroadcast]]) → missing → -1 → write BSE
    * (reference bulkLoadFact, stageLoad.py:331-430).
    */
  def bulkLoadFact(
      spark: SparkSession, conf: GraftConf, spec: FactSpec): DataFrame = {
    val lod = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.LOD, spec.name))
    val resolved = resolveFks(spark, conf, lod, spec.fks)
    graft.io.ParquetUtil.safeOverwrite(spark, resolved,
      conf.tablePath(Layer.BSE, spec.name))
    val reread = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.BSE, spec.name))
    syncTrgSink(spark, conf, spec.name, reread, "overwrite",
      fkDims = spec.fks.map(fk => fk.skName -> fk.dimName).toMap)
    reread
  }

  val AuditDeltaDate = "audit_latest_delta_load_date"
  val AuditLoadOp = "audit_latest_load_operation"

  /** Delta dimension load — the surface the reference declares but leaves
    * raising (`deltaLoadDimension`, stageLoad.py:433-438; delta audit
    * columns ConfClass.py:33-46). Classifies the fresh LOD extract against
    * the current BSE members ([[DeltaLoad.classify]]: one null-safe
    * full-outer NK join), then:
    *
    *  - UNCHANGED / UPDATE members KEEP their surrogate keys (the whole
    *    point of a delta load); UPDATEs take the new attribute values and
    *    are stamped with `deltaLoadDate` + `DELTA_UPDATE`;
    *  - INSERTs get fresh SKs above the current high-water mark
    *    (deterministic NK-rank among the inserts, [[SurrogateKeys]]);
    *  - DELETEs drop out of the dimension (their SKs are never reused);
    *  - default rows (negative SKs) pass through untouched.
    *
    * The rewritten dimension and refreshed SK/NK map land via
    * staging-swap ([[graft.io.ParquetUtil.safeOverwrite]]) because their
    * lineage reads the same paths. Scale: one NK-shuffle classify, one
    * tiny high-water-mark agg, SK assignment only over the (small) insert
    * slice — the full dimension is never re-keyed.
    */
  def deltaLoadDimension(
      spark: SparkSession, conf: GraftConf, spec: DimensionSpec,
      deltaLoadDate: Option[String] = None): DataFrame = {
    import DeltaLoad.OpCol
    val bsePath = conf.tablePath(Layer.BSE, spec.name)
    val dim = graft.io.ParquetUtil.readRecovered(spark, bsePath)
    val hasAudit = dim.columns.contains(AuditDeltaDate)
    val members = dim.filter(col(spec.skName) > 0)
    val defaults = {
      val d = dim.filter(col(spec.skName) <= 0)
      if (hasAudit) d
      else d.withColumn(AuditDeltaDate, lit(null).cast("timestamp"))
        .withColumn(AuditLoadOp, lit(null).cast("string"))
    }
    val delta = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.LOD, spec.name))
      .select((spec.nkCols ++ spec.attrCols).map(col): _*)
      .dropDuplicates(spec.nkCols)
    val classified = DeltaLoad.classify(
      delta, members.select((spec.nkCols ++ spec.attrCols).map(col): _*),
      spec.nkCols)
    val stamp = to_timestamp(lit(deltaLoadDate.orNull))
    // SK high-water mark: one tiny agg job (the Spark rendering of the
    // reference's DB sequence state)
    val maxSk = Option(members.agg(max(col(spec.skName))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val oldState = {
      val base = members.select(
        (spec.nkCols.map(col) :+ col(spec.skName)) ++ (
          if (hasAudit) Seq(col(AuditDeltaDate).as("_old_date"),
            col(AuditLoadOp).as("_old_op"))
          else Seq(lit(null).cast("timestamp").as("_old_date"),
            lit(null).cast("string").as("_old_op"))): _*)
      base
    }
    val existing = classified
      .where(col(OpCol).isin("UPDATE", "UNCHANGED"))
      .join(oldState, spec.nkCols)
      .withColumn(AuditDeltaDate,
        when(col(OpCol) === "UPDATE", stamp).otherwise(col("_old_date")))
      .withColumn(AuditLoadOp,
        when(col(OpCol) === "UPDATE", lit("DELTA_UPDATE"))
          .otherwise(col("_old_op")))
    val inserts = SurrogateKeys.assign(
      classified.where(col(OpCol) === "INSERT"), spec.nkCols, spec.skName)
      .withColumn(spec.skName, col(spec.skName) + maxSk)
      .withColumn(AuditDeltaDate, stamp)
      .withColumn(AuditLoadOp, lit("DELTA_INSERT"))
    val outCols = ((spec.skName +: spec.nkCols) ++ spec.attrCols ++
      Seq(AuditDeltaDate, AuditLoadOp)).map(col)
    val newDim = existing.select(outCols: _*)
      .unionByName(inserts.select(outCols: _*))
      .unionByName(defaults.select(outCols: _*))
    graft.io.ParquetUtil.safeOverwrite(spark, newDim, bsePath)
    val reread = graft.io.ParquetUtil.readRecovered(spark, bsePath)
    val skMap = reread.filter(col(spec.skName) > 0)
      .select((spec.skName +: spec.nkCols).map(col): _*)
    graft.io.ParquetUtil.safeOverwrite(
      spark, skMap, conf.tablePath(Layer.LOD, spec.mapTableName))
    syncTrgSink(spark, conf, spec.name, reread, "overwrite", Some(spec.skName))
    reread
  }

  /** Delta fact load — the reference's declared-but-raising
    * `deltaLoadFact` (stageLoad.py:433-438). Fact deltas are insert-only:
    * resolve the delta rows' FKs against the current SK/NK maps (same
    * size-gated broadcast chain as [[bulkLoadFact]]) and APPEND to BSE.
    * If the fact carries the delta audit columns they are restamped on
    * the appended batch; no new columns are introduced (appending a
    * divergent schema would corrupt the table for plain parquet readers).
    */
  def deltaLoadFact(
      spark: SparkSession, conf: GraftConf, spec: FactSpec,
      deltaLoadDate: Option[String] = None): DataFrame = {
    val delta = graft.io.ParquetUtil.readRecovered(spark, conf.tablePath(Layer.LOD, spec.name))
    val resolved0 = resolveFks(spark, conf, delta, spec.fks)
    val resolved =
      if (resolved0.columns.contains(AuditDeltaDate))
        resolved0
          .withColumn(AuditDeltaDate, to_timestamp(lit(deltaLoadDate.orNull)))
          .withColumn(AuditLoadOp, lit("DELTA_INSERT"))
      else resolved0
    val bsePath = conf.tablePath(Layer.BSE, spec.name)
    // pending-marker append: a retried op must not double-land the batch
    // even when the crashed attempt's append job had already committed
    graft.io.ParquetUtil.safeAppend(spark, resolved, bsePath)
    // delta appends push only the new batch to the sink (re-pushing the
    // whole table would duplicate previously-synced rows)
    syncTrgSink(spark, conf, spec.name, resolved, "append",
      fkDims = spec.fks.map(fk => fk.skName -> fk.dimName).toMap)
    graft.io.ParquetUtil.readRecovered(spark, bsePath)
  }
}
