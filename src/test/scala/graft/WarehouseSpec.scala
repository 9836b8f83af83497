package graft

import graft.catalog._
import graft.pipeline.{Pipeline, PipelineOp, Stage}
import graft.warehouse._
import org.apache.spark.sql.functions._

/** Catalog, surrogate keys, dimension/fact bulk loads, and pipeline
  * ordering over tiny in-memory frames.
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("catalog registers, looks up, and derives defs from schemas") {
    val cat = new Catalog
    cat.register(TableDef("dm_x", Layer.BSE, Seq(
      ColumnDef("sk_x", role = ColumnRole.SurrogateKey),
      ColumnDef("nk_x", role = ColumnRole.NaturalKey),
      ColumnDef("attr"))))
    val t = cat(Layer.BSE, "dm_x")
    assert(t.surrogateKey.map(_.name).contains("sk_x"))
    assert(t.naturalKeys.map(_.name) == Seq("nk_x"))
    assert(t.tableType == TableType.Dimension)
    assert(cat.lookup(Layer.BSE, "missing").isEmpty)
    // role metadata survives a schema round trip
    val derived = cat.registerFromSchema(Layer.EXT, "rt", t.structType)
    assert(derived.surrogateKey.map(_.name).contains("sk_x"))
  }

  test("catalog survives concurrent registration (pipeline parallelism)") {
    val cat = new Catalog
    val threads = (0 until 8).map { i =>
      new Thread(() => (0 until 50).foreach { j =>
        cat.register(TableDef(s"t_${i}_$j", Layer.TRN,
          Seq(ColumnDef("c"))))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(cat.tablesIn(Layer.TRN).size == 400)
  }

  test("surrogate keys are dense, 1-based, and NK-ordered") {
    val df = Seq("c", "a", "b").toDF("nk")
    val assigned = SurrogateKeys.assign(df, Seq("nk"), "sk")
    // a small frame takes the one-partition form: no shuffle, no broadcast
    assert(assigned.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty)
    val keyed = assigned.orderBy("sk").collect()
    assert(keyed.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(keyed.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
  }

  test("property: sized and forced-partition SK maps agree and are dense") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def nkToSk(df: org.apache.spark.sql.DataFrame,
        numPartitions: Option[Int]): Map[Any, Long] =
      SurrogateKeys.assign(df, Seq("nk"), "sk", numPartitions)
        .collect().map(r => r.get(1) -> r.getLong(0)).toMap
    def agree(df: org.apache.spark.sql.DataFrame, n: Int): Boolean = {
      // small local frames take the one-partition form by default
      assert(SurrogateKeys.partitionsFor(df) == 1)
      val sized = nkToSk(df, None)
      sized == nkToSk(df, Some(4)) &&
        sized.values.toSeq.sorted == (1L to n.toLong)
    }
    val prop = Prop.forAll(
      Gen.containerOf[Set, String](Gen.alphaStr),
      Gen.containerOf[Set, Long](Gen.choose(-1000L, 1000L))) { (ss, ls) =>
      val strs = (None +: ss.toSeq.map(Some(_))).zipWithIndex
        .toDF("nk", "attr")
      val longs = (None +: ls.toSeq.map(Some(_))).zipWithIndex
        .toDF("nk", "attr")
      agree(strs, ss.size + 1) && agree(longs, ls.size + 1)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("SK sizing: a frame past one advisory partition keeps the range " +
      "layout") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // never executed: only its estimate (8 bytes × 2^40 rows) matters
    val big = spark.range(0, 1L << 40).toDF("nk")
    val p = SurrogateKeys.partitionsFor(big)
    assert(p == spark.sessionState.conf.numShufflePartitions)
    val ranges = SurrogateKeys.rangeStamped(big, Seq(col("nk")), p)
      .queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    assert(ranges.exists {
      case RangePartitioning(_, n) => n == p
      case _ => false
    }, ranges.toString)
  }

  test("bulkLoadDimension assigns SKs, appends default rows, emits map") {
    implicit val c: GraftConf = tmpConf()
    val dfl = flow("dim")
    dfl.createDataset("src", Map(
      "cust_id" -> Seq("20", "10", "10"),
      "name" -> Seq("Bob", "Alice", "Alice")))
    dfl.write("src", "dm_cust", Layer.LOD)
    val dim = StageLoad.bulkLoadDimension(spark, c,
      DimensionSpec("dm_cust", Seq("cust_id"), Seq("name")))
    val rows = dim.orderBy("sk_cust").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(-2L, -1L, 1L, 2L))
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("UNRECOGNISED", "MISSING", "Alice", "Bob"))
    val skMap = spark.read.parquet(c.tablePath(Layer.LOD, "sk_cust"))
    assert(skMap.count() == 2) // default rows excluded from the map
  }

  test("bulkLoadFact resolves FKs via the map and defaults misses to -1") {
    implicit val c: GraftConf = tmpConf()
    val dfl = flow("fact")
    dfl.createDataset("dim_src", Map(
      "cust_id" -> Seq("10", "20"), "name" -> Seq("A", "B")))
    dfl.write("dim_src", "dm_cust", Layer.LOD)
    StageLoad.bulkLoadDimension(spark, c,
      DimensionSpec("dm_cust", Seq("cust_id"), Seq("name")))
    dfl.createDataset("fact_src", Map(
      "cust_id" -> Seq("10", "99"), "amount" -> Seq("5", "7")))
    dfl.write("fact_src", "ft_sales", Layer.LOD)
    val fact = StageLoad.bulkLoadFact(spark, c,
      FactSpec("ft_sales", Seq(FkMapping("cust_id", "dm_cust", "cust_id"))))
    val got = fact.orderBy("amount").collect()
      .map(r => (r.getAs[String]("amount"), r.getAs[Long]("sk_cust")))
    assert(got.toSeq == Seq(("5", 1L), ("7", -1L)))
  }

  test("pipeline runs stages in order, dims before facts") {
    implicit val c: GraftConf = tmpConf()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ops = Seq(
      PipelineOp("f", Stage.LoadFact, (_, _) => { order.add("fact"); () }),
      PipelineOp("s", Stage.Summarise, (_, _) => { order.add("sum"); () }),
      PipelineOp("e", Stage.Extract, (_, _) => { order.add("ext"); () }),
      PipelineOp("d", Stage.LoadDim, (_, _) => { order.add("dim"); () }),
      PipelineOp("t", Stage.Transform, (_, _) => { order.add("trn"); () }))
    new Pipeline(c, ops).run(spark)
    assert(order.toArray.toSeq == Seq("ext", "trn", "dim", "fact", "sum"))
  }

  test("dag export emits stage-barrier edges with dims upstream of facts") {
    implicit val c: GraftConf = tmpConf()
    val ops = Seq(
      PipelineOp("ext_a", Stage.Extract, (_, _) => ()),
      PipelineOp("ext_b", Stage.Extract, (_, _) => ()),
      PipelineOp("load_dim_cust", Stage.LoadDim, (_, _) => ()),
      PipelineOp("load_ft_sales", Stage.LoadFact, (_, _) => ()))
    val json = new Pipeline(c, ops).dagJson
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    val nodes = root.get("nodes").elements().asScala
      .map(n => (n.get("name").asText(), n.get("stage").asText())).toSeq
    assert(nodes.contains(("load_dim_cust", "LOAD_DIM")))
    val edges = root.get("edges").elements().asScala
      .map(e => (e.get("upstream").asText(), e.get("downstream").asText()))
      .toSeq
    // the empty Transform stage collapses: extracts feed the dim load
    assert(edges.contains(("ext_a", "load_dim_cust")))
    assert(edges.contains(("ext_b", "load_dim_cust")))
    // dims strictly upstream of facts
    assert(edges.contains(("load_dim_cust", "load_ft_sales")))
    assert(!edges.contains(("load_ft_sales", "load_dim_cust")))
  }

  test("generated Airflow DAG file round-trips the op graph") {
    import graft.pipeline.AirflowDagGen
    implicit val c: GraftConf = tmpConf()
    val ops = Seq(
      PipelineOp("ext_a", Stage.Extract, (_, _) => ()),
      PipelineOp("ext_b", Stage.Extract, (_, _) => ()),
      PipelineOp("load_dim_cust", Stage.LoadDim, (_, _) => ()),
      PipelineOp("load_dim_part", Stage.LoadDim, (_, _) => ()),
      PipelineOp("load_ft_sales", Stage.LoadFact, (_, _) => ()),
      PipelineOp("summarise", Stage.Summarise, (_, _) => ()))
    val pipe = new Pipeline(c, ops)
    val py = AirflowDagGen.generate(pipe.dagJson, "graft_wh")
    // the emitted file is self-contained Airflow + datetime only
    assert(py.contains("from airflow import DAG"))
    assert(!py.contains("graft."), "generated DAG must not import graft")
    assert(py.contains("--run-op ext_a"))
    val (stages, edges) = AirflowDagGen.parse(py)
    // every op survives with its stage
    assert(stages == ops.map(o => o.name -> o.stage.name).toMap)
    // edge set identical to dagJson's stage barriers
    assert(edges.toSet == Set(
      ("ext_a", "load_dim_cust"), ("ext_a", "load_dim_part"),
      ("ext_b", "load_dim_cust"), ("ext_b", "load_dim_part"),
      ("load_dim_cust", "load_ft_sales"),
      ("load_dim_part", "load_ft_sales"),
      ("load_ft_sales", "summarise")))
    // dims strictly upstream of facts, never the reverse
    assert(!edges.contains(("load_ft_sales", "load_dim_cust")))
    // and the export writes the same text to disk
    val path = java.nio.file.Files
      .createTempDirectory("dag-gen").toString + "/graft_wh.py"
    AirflowDagGen.export(pipe, "graft_wh", path)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8") == py)
    // distinct op names that collide after python-identifier
    // normalisation are refused (silent rebinding would mis-wire edges)
    val colliding = new Pipeline(c, Seq(
      PipelineOp("load-dim", Stage.LoadDim, (_, _) => ()),
      PipelineOp("load_dim", Stage.LoadDim, (_, _) => ())))
    intercept[IllegalArgumentException] {
      AirflowDagGen.generate(colliding.dagJson, "bad")
    }
  }

  test("generated DAG drives per-task runOp like an external scheduler") {
    import graft.pipeline.AirflowDagGen
    implicit val c: GraftConf = tmpConf()
    // an external scheduler executes the emitted file's tasks — each a
    // `--run-op <name>` invocation — honoring set_upstream edges. The
    // sandbox has no Airflow, but the binding it exercises is exactly:
    // parse the FILE, topologically order by its edges, call runOp per
    // task (reference wrapperFunc semantics, PipelineClass.py:456-514 —
    // one op per task invocation, ordering owned by the scheduler).
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def op(name: String, st: Stage) =
      PipelineOp(name, st, (_, _) => { ran += name; () })
    val ops = Seq(op("ext_a", Stage.Extract), op("trn_b", Stage.Transform),
      op("dim_c", Stage.LoadDim), op("ft_d", Stage.LoadFact))
    val pipe = new Pipeline(c, ops)
    val (stages, edges) =
      AirflowDagGen.parse(AirflowDagGen.generate(pipe.dagJson, "sim"))
    // Kahn topological order over the parsed file's edge list
    val names = stages.keys.toSeq.sorted
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val remaining = scala.collection.mutable.Set(names: _*)
    while (remaining.nonEmpty) {
      val free = remaining.filter(n =>
        !edges.exists { case (u, d) => d == n && remaining.contains(u) })
      assert(free.nonEmpty, "cycle in generated DAG")
      free.toSeq.sorted.foreach { n => order += n; remaining -= n }
    }
    order.foreach(pipe.runOp(spark, _))
    // every op ran exactly once, and never before one of its upstreams
    assert(ran.sorted == names.sorted)
    edges.foreach { case (u, d) =>
      assert(ran.indexOf(u) < ran.indexOf(d), s"$u must precede $d")
    }
  }

  test("Pipeline.runOp executes exactly the named op") {
    implicit val c: GraftConf = tmpConf()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pipe = new Pipeline(c, Seq(
      PipelineOp("a", Stage.Extract, (_, _) => { ran.add("a"); () }),
      PipelineOp("b", Stage.LoadDim, (_, _) => { ran.add("b"); () })))
    pipe.runOp(spark, "b")
    assert(ran.toArray.toSeq == Seq("b"))
    intercept[IllegalArgumentException](pipe.runOp(spark, "nope"))
  }

  test("deltaLoad classifies insert/update/delete/unchanged and applies") {
    import graft.warehouse.DeltaLoad
    val previous = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("nk", "name", "amount")
    val current = Seq((1L, "a", 10.0), (2L, "b", 25.0), (4L, "d", 40.0))
      .toDF("nk", "name", "amount")
    val classified = DeltaLoad.classify(current, previous, Seq("nk"))
      .orderBy("nk").collect()
    assert(classified.map(r => (r.getLong(0), r.getString(3))).toSeq ==
      Seq((1L, "UNCHANGED"), (2L, "UPDATE"), (3L, "DELETE"), (4L, "INSERT")))
    // DELETE rows carry the previous values; others the current ones
    assert(classified.map(_.getDouble(2)).toSeq ==
      Seq(10.0, 25.0, 30.0, 40.0))
    val applied = DeltaLoad.applyDelta(
      DeltaLoad.classify(current, previous, Seq("nk")))
    assert(applied.orderBy("nk").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L))
  }

  test("dmDate covers the range with correct attributes") {
    val dim = DmDate.build(spark, "2020-02-27", "2020-03-02")
    assert(dim.count() == 5)
    val leap = dim.filter(col("date_key") === 20200229).head()
    assert(leap.getAs[Int]("cal_month") == 2)
    assert(leap.getAs[Int]("day_of_year") == 60)
  }

  test("dmAudit is the 4x10 operation/score cartesian") {
    val dim = DmAudit.build(spark)
    assert(dim.count() == 40)
    assert(dim.select("load_operation").distinct().count() == 4)
    assert(dim.filter(col("nk_audit") === "BULK_10").count() == 1)
  }

  test("scd2 load closes changed versions, opens new ones, soft-deletes") {
    implicit val c: GraftConf = tmpConf()
    val dfl = flow("scd2")
    dfl.createDataset("s1", Map(
      "cust_id" -> Seq("10", "20", "30"),
      "tier" -> Seq("gold", "silver", "bronze")))
    dfl.write("s1", "dm_cust", Layer.LOD)
    val spec = DimensionSpec("dm_cust", Seq("cust_id"), Seq("tier"))
    val v1 = Scd2Load.load(spark, c, spec, "2024-01-01 00:00:00",
      initial = true)
    assert(v1.count() == 3)
    assert(v1.where(col(Scd2Load.IsCurrent)).count() == 3)

    // 10 changes tier (close + open), 20 unchanged, 30 vanishes
    // (soft delete), 40 appears (insert)
    val dfl2 = flow("scd2b")
    dfl2.createDataset("s2", Map(
      "cust_id" -> Seq("10", "20", "40"),
      "tier" -> Seq("platinum", "silver", "gold")))
    dfl2.write("s2", "dm_cust", Layer.LOD)
    val v2 = Scd2Load.load(spark, c, spec, "2024-02-01 00:00:00")
    val rows = v2.orderBy("cust_id", "sk_cust").collect().map(r => (
      r.getAs[String]("cust_id"), r.getAs[Long]("sk_cust"),
      r.getAs[String]("tier"), r.getAs[Boolean](Scd2Load.IsCurrent),
      Option(r.getAs[java.sql.Timestamp](Scd2Load.ValidTo)).isDefined))
    assert(rows.toSeq == Seq(
      ("10", 1L, "gold", false, true),      // closed old version
      ("10", 4L, "platinum", true, false),  // new version, fresh SK
      ("20", 2L, "silver", true, false),    // untouched
      ("30", 3L, "bronze", false, true),    // soft-deleted (closed)
      ("40", 5L, "gold", true, false)))     // brand-new member
    // history stays stable on a THIRD, identical snapshot (idempotence)
    val v3 = Scd2Load.load(spark, c, spec, "2024-03-01 00:00:00")
    val rows3 = v3.orderBy("cust_id", "sk_cust").collect().map(r => (
      r.getAs[String]("cust_id"), r.getAs[Long]("sk_cust"),
      r.getAs[String]("tier"), r.getAs[Boolean](Scd2Load.IsCurrent),
      Option(r.getAs[java.sql.Timestamp](Scd2Load.ValidTo)).isDefined))
    assert(rows3.toSeq == rows.toSeq)
    // point-in-time lookup: January state has the original tiers
    val asOfJan = Scd2Load.asOf(v3, "2024-01-15 00:00:00")
      .orderBy("cust_id").collect().map(_.getAs[String]("tier"))
    assert(asOfJan.toSeq == Seq("gold", "silver", "bronze"))
  }

  test("scd2 re-insert after soft delete opens a fresh version, keeps history") {
    implicit val c: GraftConf = tmpConf()
    val spec = DimensionSpec("dm_cust", Seq("cust_id"), Seq("tier"))
    val dfl = flow("scd2r1")
    dfl.createDataset("s1", Map(
      "cust_id" -> Seq("10", "20", "30"),
      "tier" -> Seq("gold", "silver", "bronze")))
    dfl.write("s1", "dm_cust", Layer.LOD)
    Scd2Load.load(spark, c, spec, "2024-01-01 00:00:00", initial = true)
    // 30 vanishes (soft delete closes its version)
    val dfl2 = flow("scd2r2")
    dfl2.createDataset("s2", Map(
      "cust_id" -> Seq("10", "20"), "tier" -> Seq("gold", "silver")))
    dfl2.write("s2", "dm_cust", Layer.LOD)
    Scd2Load.load(spark, c, spec, "2024-02-01 00:00:00")
    // 30 RETURNS with a new attribute: classify sees no current row for
    // the NK, so it re-enters through the INSERT branch — fresh SK,
    // fresh open version; the closed [d1,d2) row must stay untouched
    val dfl3 = flow("scd2r3")
    dfl3.createDataset("s3", Map(
      "cust_id" -> Seq("10", "20", "30"),
      "tier" -> Seq("gold", "silver", "platinum")))
    dfl3.write("s3", "dm_cust", Layer.LOD)
    val v3 = Scd2Load.load(spark, c, spec, "2024-03-01 00:00:00")
    val thirty = v3.where(col("cust_id") === "30")
      .orderBy("sk_cust").collect().map(r => (
        r.getAs[Long]("sk_cust"), r.getAs[String]("tier"),
        r.getAs[Boolean](Scd2Load.IsCurrent),
        Option(r.getAs[java.sql.Timestamp](Scd2Load.ValidTo))
          .map(_.toString).getOrElse("open")))
    assert(thirty.toSeq == Seq(
      (3L, "bronze", false, "2024-02-01 00:00:00.0"),
      (4L, "platinum", true, "open")))
    // the member's timeline has a GAP: no version is valid mid-February
    assert(Scd2Load.asOf(v3, "2024-02-15 00:00:00")
      .where(col("cust_id") === "30").count() == 0)
    assert(v3.count() == 4)
  }
}
