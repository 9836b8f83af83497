package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

import scala.util.control.NonFatal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 (plus the LLM-data-pipeline extensions)
  * is exposed as a named query over the driver's parquet corpus, paired
  * with a DuckDB oracle in [[oracleSql]] where the semantics are ANSI-SQL
  * expressible (rows-only check otherwise).
  *
  * The query mains (`Verify`, `Bench`, `Explain`, `PlanAudit`) share the
  * session factory, the selection rule and the run loop below.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.defs ++ LifecycleQueries.defs ++ TextQueries.defs ++
      DedupQueries.defs ++ SimilarityQueries.defs ++ MultimodalQueries.defs ++
      StreamingQueries.defs ++ AnalyticsQueries.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ LifecycleQueries.oracles ++ TextQueries.oracles ++
      DedupQueries.oracles ++ SimilarityQueries.oracles ++
      MultimodalQueries.oracles ++ StreamingQueries.oracles ++
      AnalyticsQueries.oracles

  /** Cores of a main's local session: `SPARK_GRAFT_CPUS` when set,
    * otherwise the host's available processors.
    */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session of every graft main and of the test suite:
    * `local[cpus]` with one shuffle partition per core, UTC session time
    * and no UI. `extra` holds only the settings in which a caller
    * differs, and wins over these defaults.
    */
  def session(cpus: Int = hostCpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The entries of `all` that a comma-separated pattern list selects,
    * sorted by name. A pattern that names an entry selects just that
    * entry (`q_dedup_ngram` leaves out `q_dedup_ngram_prefix`); any other
    * pattern selects every entry it prefixes; no pattern selects all.
    */
  def select[A](all: Map[String, A], patterns: Option[String])
      : Seq[(String, A)] = {
    val ps = patterns.toSeq.flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty)
    all.toSeq.sortBy(_._1).filter { case (name, _) =>
      ps.isEmpty ||
        ps.exists(p => if (all.contains(p)) name == p else name.startsWith(p))
    }
  }

  /** One selected query's outcome: what its run returned, or the error
    * that ended it.
    */
  final case class QueryRun[A](name: String, result: Either[Throwable, A]) {
    def error: Option[Throwable] = result.swap.toOption
  }

  /** Runs `body` on every selected query in order. A query that throws is
    * logged to stderr under `tag` and reported as failed with its error —
    * never as a result — and the queries after it still run.
    */
  def runAll[F, A](tag: String, selected: Seq[(String, F)])(
      body: (String, F) => A): Seq[QueryRun[A]] =
    selected.map { case (name, fn) =>
      try QueryRun(name, Right(body(name, fn)))
      catch { case NonFatal(e) =>
        System.err.println(s"[$tag] $name failed: $e")
        QueryRun(name, Left(e))
      }
    }

  /** Ends a main whose queries ran through [[runAll]]: prints the failed
    * queries under `tag` and exits 1 if there are any, else returns. Call
    * it last, after every output is written.
    */
  def exitOnFailures(tag: String, runs: Seq[QueryRun[_]]): Unit = {
    val failed = runs.flatMap(r => r.error.map(e => s"${r.name}: $e"))
    if (failed.nonEmpty) {
      System.err.println(
        s"[$tag] ${failed.size} of ${runs.size} queries failed:")
      failed.foreach(f => System.err.println(s"[$tag]   $f"))
      sys.exit(1)
    }
  }
}
