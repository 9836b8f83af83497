package graft

/** Dev tool: print the formatted physical plan of selected queries.
  * Usage: runMain graft.Explain <sfDir> [<query|prefix>,…]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session()
    val runs = SparkEntry.runAll("explain",
        SparkEntry.select(SparkEntry.queries, args.lift(1))) { (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
    SparkEntry.exitOnFailures("explain", runs)
  }
}
