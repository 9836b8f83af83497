package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, times set-up, runs
  * timed iterations of one workload for the requested seconds, and writes
  * raw samples (plus, when traced, the profile) as JSON for `run.py` to
  * check and summarise.
  */
object Main {
  /** Set-up is repeated this many times in a run; `run.py` reports the
    * median.
    */
  val SetupRepeats = 3

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Old-generation occupancy after full collections, once Spark's
    * cleaner has had time to drop blocks of state no longer referenced.
    */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") ||
        p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
      .sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val (workload, input, work) = (a("workload"), a("input"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val probeFile = a("probe")

    // set-up: session start plus a first read of the inputs, repeated
    val setups = (1 to SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      val s = session(cores, work)
      val t1 = System.nanoTime()
      s.read.parquet(probeFile).count()
      val t2 = System.nanoTime()
      if (r < SetupRepeats) s.stop()
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
    }
    val spark = SparkSession.active
    if (a.get("train").contains("1")) {
      // class-data training: one untimed iteration of every listed
      // workload, so the JVM's class archive holds what all of them load
      workload.split(',').foreach { w =>
        Workload(w, spark, s"$input/$w", s"$work/$w").iteration(0)
      }
      spark.stop()
      return
    }
    val wl = Workload(workload, spark, input, work)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempt[A](what: String)(body: => A): Option[A] =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += s"$what: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] $what failed: $e")
          None
      }

    // timed iterations: as many whole iterations as fit in the window,
    // judged by the previous one's length, and at least one. The first
    // starts right after set-up, so it runs with the JIT and Spark's
    // code caches cold, as a freshly launched application does
    Trace.set(spark, traced)
    val iters = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var last = 0.0
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      Trace.iter = i
      val s0 = System.nanoTime()
      val res = attempt(s"iteration $i") {
        Trace.span("iteration", "bench")(wl.iteration(i))
      }
      last = (System.nanoTime() - s0) / 1e9
      iters += Map("i" -> i, "traced" -> traced, "ok" -> res.isDefined,
        "iter_s" -> last, "job_s" -> res.map(_.jobS),
        "steps_s" -> res.map(_.stepsS).getOrElse(Nil),
        "heap_live_mb" -> oldGenAfterGcMb(), "outputs" -> wl.outputs(i))
      i += 1
    }
    Trace.set(spark, false)
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> workload,
      "setup_s" -> setups.map(_._2),
      "session_start_s" -> setups.map(_._1),
      "iterations" -> iters.toSeq,
      "failures" -> failures.toSeq,
      "host" -> Map("cores" -> cores, "jvm_heap_max_mb" ->
        rt.maxMemory / 1048576, "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "spark_conf" -> spark.conf.getAll.toMap,
      "oracles" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        Set("q_pipeline_default", "q_pipeline_llm", "q_dedup_annotate")(k)
      },
      "profile" -> (if (traced) Trace.profile else Map.empty))
    val out = java.nio.file.Paths.get(a("out"))
    java.nio.file.Files.write(out, Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
