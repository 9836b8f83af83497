package graft.warehouse

import graft.GraftConf
import graft.catalog.Layer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Audit-dimension generator (reference transformDMAudit,
  * betl/defaultdataflows/dmAudit.py:41-69): cartesian of load operations ×
  * data-quality scores, NK = `<op>_<score>` matching the audit-NK collapse
  * on facts (betl/dataflow/dfl_audit.py:19-37).
  */
object DmAudit {

  val loadOperations: Seq[String] = Seq("BULK", "DELTA", "NO LOAD", "REFRESH")

  /** The constant grid as local rows: no join, no job to plan it. */
  def build(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (for (op <- loadOperations; sc <- 1 to 10) yield (s"${op}_$sc", op, sc))
      .toDF("nk_audit", "load_operation", "dq_score")
  }

  /** Write dm_audit to BSE with a deterministic surrogate key, and emit
    * the `sk_audit` SK/NK map to LOD so fact loads can resolve their
    * audit FK exactly like any other dimension FK
    * (reference stageLoad.py:331-360).
    */
  def load(spark: SparkSession, conf: GraftConf): DataFrame = {
    val dim = SurrogateKeys.assign(build(spark), Seq("nk_audit"), "sk_audit")
    dim.write.mode("overwrite").parquet(conf.tablePath(Layer.BSE, "dm_audit"))
    dim.select("sk_audit", "nk_audit").write.mode("overwrite")
      .parquet(conf.tablePath(Layer.LOD, "sk_audit"))
    dim
  }
}
