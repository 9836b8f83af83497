package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each selected SparkEntry.queries result →
  * parquet, plus oracle_sql.json for the driver's DuckDB compare and
  * status.json with each selected query's ok/failed status (and error).
  * Exits 1 after writing everything if any query failed.
  * Usage: runMain graft.Verify <sfDir> <outDir> [<query|prefix>,…]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    val runs = SparkEntry.runAll("verify",
        SparkEntry.select(SparkEntry.queries, args.lift(2))) { (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      finally spark.catalog.clearCache()
      System.err.println(
        f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    val mapper = new ObjectMapper()
    val status = mapper.createObjectNode()
    runs.foreach { r =>
      val n = status.putObject(r.name)
      n.put("status", if (r.error.isEmpty) "ok" else "failed")
      r.error.foreach(e => n.put("error", e.toString))
    }
    Files.writeString(Paths.get(s"$outDir/status.json"),
      mapper.writeValueAsString(status))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
    SparkEntry.exitOnFailures("verify", runs)
  }
}
