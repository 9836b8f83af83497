package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM for all forked
  * tests; getOrCreate reuses the session across specs).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh GraftConf over a throwaway warehouse dir. */
  def tmpConf(): GraftConf = GraftConf(
    warehousePath = java.nio.file.Files
      .createTempDirectory("graft-test-wh").toString)

  def flow(desc: String)(implicit conf: GraftConf): DataFlow =
    new DataFlow(spark, desc, conf)
}

object SparkSpec {
  private var live: SparkSession = _

  /** The suite session; a new one once a spec has stopped it. */
  def session: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped)
      live = SparkEntry.session(cpus = 4,
        extra = Map("spark.app.name" -> "graft-tests"))
    live
  }
}
