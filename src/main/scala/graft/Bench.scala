package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark harness. Each query is FULLY materialised through a
  * `noop`-format write: every column of every row is computed and sent to
  * the sink, so projection/UDF-shaped queries measure real operator work
  * (a bare `.count()` lets Catalyst prune computed columns to a metadata
  * read — see VERDICT.md round 1 "What's wrong").
  *
  * DISTORTION-PROOFING (rounds 7-9 measured >2x positional inflation in
  * single-session sequences — q_triangles 82.3s in-sequence vs 37.3s
  * isolated at sf1): every query now runs in its OWN SparkContext with
  * its OWN `spark.local.dir`, created outside the timed window and torn
  * down (dir swept) before the next query starts. No query is ever timed
  * under a prior query's accumulated shuffle files, pinned broadcast
  * blocks, or ContextCleaner backlog. JIT + whole-stage-codegen caches
  * are JVM-global, so the one-time warm-up still pays those for the
  * whole run; per-context startup (~1s) is excluded from every timing.
  *
  * A query that throws gets no timing: it is named in both stdout lines'
  * `failed` list, left out of `total`, and the run exits 1 after writing
  * every output.
  */
object Bench {

  /** Run `body` inside a fresh single-query session, then stop the
    * context and sweep its local dir so nothing leaks into the next
    * query's timing.
    */
  private def withFreshSession[A](body: SparkSession => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_q_")
    // per-query shuffle/spill space — swept after the context stops.
    // (When the caller exports SPARK_LOCAL_DIRS — the per-JVM isolated
    // driver — the env wins and this config is inert, which is fine:
    // that driver already gives each JVM a fresh dir.)
    val spark = SparkEntry.session(extra = Map(
      "spark.local.dir" -> dir.toString,
      "spark.cleaner.periodicGC.interval" -> "30s"))
    try body(spark)
    finally {
      spark.stop()
      // SparkContext.stop removes its blockmgr subdirs; remove the root
      // (and anything a crashed task left) so dirs never accumulate
      // across the 140+ per-query contexts of one invocation.
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(dir) catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.hostCpus
    // optional comma-separated query/prefix list for profiling a subset
    val selected = SparkEntry.select(SparkEntry.queries,
      sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    // untimed warm-up in a THROWAWAY session: a full run of the first
    // selected query pays JVM-global JIT/codegen/page-cache costs once
    // outside every timed window, so the alphabetically-first query
    // stops absorbing them. A failure here repeats, and is reported, in
    // that query's timed run.
    selected.headOption.foreach { case (_, fn) =>
      withFreshSession { spark =>
        scala.util.Try(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
    }
    def timeOnce(spark: SparkSession,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val elapsed = (System.nanoTime() - t0) / 1e9
      // between in-session reruns: drop cached intermediates (LSH bands,
      // signatures) so rerun 2 doesn't read rerun 1's pinned storage
      spark.catalog.clearCache()
      System.gc()
      elapsed
    }
    // sub-2s queries are rerun to a median of 3 INSIDE their own session
    // (their round-over-round deltas otherwise alias machine contention;
    // r4's driver numbers ran ~1.4x hot under external load).
    // SPARK_GRAFT_BENCH_RUNS=N forces exactly N timed runs per query
    // regardless of duration (the isolated driver medians across JVMs).
    // A query that throws in any run is reported failed, with no timing.
    val forcedRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt)
    val outcomes = SparkEntry.runAll("bench", selected) { (_, fn) =>
      withFreshSession { spark =>
        val first = timeOnce(spark, fn)
        forcedRuns match {
          case Some(n) => first +: Seq.fill(n - 1)(timeOnce(spark, fn))
          case None =>
            if (first < 2.0)
              Seq(first, timeOnce(spark, fn), timeOnce(spark, fn))
            else Seq(first)
        }
      }
    }
    val results = outcomes.collect {
      case SparkEntry.QueryRun(name, Right(runs)) =>
        (name, runs.sorted.apply(runs.size / 2), runs)
    }
    val failed = outcomes.filter(_.error.isDefined).map(_.name)
    val failedJson =
      s""""n_failed":${failed.size},"failed":""" +
        failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // stdout line 1 — the legacy full contract line: per-query medians
    // at 3 decimals (full precision in the sidecars below), the failed
    // queries (left out of queries, n_queries and total), headline
    // metric/value/sf fields last
    val qsShort = results.map { case (k, v, _) =>
      s"\"" + k + "\":" + graft.util.Fmt.fixed(v, 3)
    }.mkString("{", ",", "}")
    val line =
      s"""{"queries":$qsShort,"n_queries":${results.size},$failedJson,""" +
        s""""sf":"$sfDir","metric":"total","unit":"sec","value":$total}"""
    println(line)
    // sidecar FILE with full precision and every run per query: a
    // consumer that keeps only the final ~2000 chars of stdout never
    // sees the 5KB+ full line above whole (BENCH_r01..r16.json all
    // carry parsed:null). The per-query map lives here, at
    // $SPARK_GRAFT_BENCH_OUT (default target/bench_last.json under the
    // working directory), and the last stdout line names it.
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, rs) =>
      s"\"" + k + "\":" + rs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":$qs,$failedJson,"sf":"$sfDir","cpus":$cpus,""" +
        s""""runs":$runsJson}""" + "\n"
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json"))
      .toAbsolutePath
    Option(detailPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
    // stdout line 2, LAST — a compact headline line guaranteed to fit
    // whole inside the driver's 2000-char tail so its JSON parse
    // finally succeeds: total, n_queries, failed, sf, cpus, sidecar path
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},$failedJson,""" +
        s""""sf":"$sfDir","cpus":$cpus,"queries_detail":"$detailPath"}""")
    SparkEntry.exitOnFailures("bench", outcomes)
  }
}
