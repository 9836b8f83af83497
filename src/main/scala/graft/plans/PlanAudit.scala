package graft.plans

import graft.SparkEntry

/** Dev tool: execute every selected SparkEntry query and print the
  * PlanGate findings per query — used to discover (and keep auditing)
  * the whitelist encoded in PlanGateSpec.
  * Usage: runMain graft.plans.PlanAudit [sfDir] [<query|prefix>,…]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.session()
    val runs = SparkEntry.runAll("plan-audit",
        SparkEntry.select(SparkEntry.queries, args.lift(1))) { (name, fn) =>
      try {
        val nodes = PlanGate.executedNodes(fn(spark, sfDir))
        val findings = PlanGate.audit(nodes)
        val bhj = if (PlanGate.hasBroadcastHashJoin(nodes)) " [BHJ]" else ""
        if (findings.isEmpty) println(s"$name: clean$bhj")
        else findings.foreach(f => println(s"$name: $f$bhj"))
      } finally spark.catalog.clearCache()
    }
    spark.stop()
    SparkEntry.exitOnFailures("plan-audit", runs)
  }
}
