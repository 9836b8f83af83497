package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all kept in the benchmark: spans around
  * the benchmark's own calls into each layer, named counts, a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for Catalyst's phase times. Everything stays in memory until
  * [[profile]] renders it once, when the run ends.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
      iter: Int, start: Long, end: Long, write: Boolean)

  /** Local property carrying the innermost open span id; Spark copies it
    * into every job the calling thread (or a pool thread it creates)
    * starts, which is how jobs are attributed to spans.
    */
  val SpanProp = "perfbench.span"

  @volatile private var on = false
  @volatile var iter: Int = -1
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[(Int, String, Double)]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val exec = new ExecListener
  private val sql = new SqlListener
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()

  def enabled: Boolean = on

  /** Turns tracing on or off for the next iteration, registering or
    * removing both listeners so untraced iterations pay nothing.
    */
  def set(spark: SparkSession, traced: Boolean): Unit = if (traced != on) {
    sc = spark.sparkContext
    org.apache.spark.BenchBus.drain(sc)
    if (traced) {
      sc.addSparkListener(exec); spark.listenerManager.register(sql)
    } else {
      sc.removeSparkListener(exec); spark.listenerManager.unregister(sql)
    }
    on = traced
  }

  def drain(): Unit = if (sc != null) org.apache.spark.BenchBus.drain(sc)

  def currentId: Long = current.get

  /** Times `body` as one span. `parent` overrides the thread's open span
    * for calls made on another thread (pipeline ops run on a pool).
    */
  def span[A](name: String, layer: String, write: Boolean = false,
      parent: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val par = if (parent >= 0) parent else current.get.longValue
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(id)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, par, name, layer, iter, t0, System.nanoTime(),
          write))
        current.set(par)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Records a named count for the current iteration (traced only). */
  def count(name: String, v: Double): Unit =
    if (on) counts.add((iter, name, v))

  def profile: Map[String, Any] = {
    drain()
    Map(
      "clock" -> Map("nano0" -> nano0, "ms0" -> ms0),
      "spans" -> spans.asScala.toSeq.sortBy(_.start).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "iter" -> s.iter, "start_ns" -> (s.start - nano0),
        "end_ns" -> (s.end - nano0), "write" -> s.write)),
      "counts" -> counts.asScala.toSeq.map { case (i, n, v) =>
        Map("iter" -> i, "name" -> n, "value" -> v) },
      "jobs" -> exec.jobsJson,
      "sql" -> sql.rows.asScala.toSeq)
  }

  private final class StageAgg {
    val taskMs = ArrayBuffer.empty[Long]
    var metrics: Map[String, Any] = Map.empty
  }

  private final class ExecListener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    private val jobEnd = new ConcurrentHashMap[Int, Long]()
    private val stages = new ConcurrentHashMap[Int, StageAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, Map("job" -> e.jobId, "span" -> span,
        "start_ms" -> (e.time - ms0),
        "site" -> e.stageInfos.headOption.map(_.details).getOrElse("")))
      jobStages.put(e.jobId, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd.put(e.jobId, e.time - ms0)

    private def agg(stage: Int) =
      stages.computeIfAbsent(stage, _ => new StageAgg)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val a = agg(e.stageId)
        a.synchronized { a.taskMs += e.taskInfo.duration }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) agg(e.stageInfo.stageId).metrics = Map(
        "tasks" -> e.stageInfo.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten)
    }

    def jobsJson: Seq[Map[String, Any]] =
      jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        val st = jobStages.getOrDefault(id, Nil).flatMap { s =>
          Option(stages.get(s)).filter(_.metrics.nonEmpty).map { a =>
            a.metrics + ("stage" -> s) +
              ("task_ms" -> a.synchronized(a.taskMs.toList))
          }
        }
        j + ("end_ms" -> jobEnd.getOrDefault(id, -1L)) + ("stages" -> st)
      }
  }

  private final class SqlListener extends QueryExecutionListener {
    val rows = new ConcurrentLinkedQueue[Map[String, Any]]()

    private def phases(qe: QueryExecution): Map[String, Any] =
      qe.tracker.phases.map { case (k, p) =>
        k -> (p.endTimeMs - p.startTimeMs)
      } + ("end_ms" -> (System.currentTimeMillis() - ms0))

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      rows.add(phases(qe) + ("action" -> funcName) + ("ok" -> true))

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      rows.add(phases(qe) + ("action" -> funcName) + ("ok" -> false))
  }
}

/** A minimal JSON writer for the maps, sequences and scalars above. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) =>
      quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
