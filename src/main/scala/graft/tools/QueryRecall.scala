package graft.tools

/** Candidate-set recall of the SHIPPED ANN query surfaces against
  * their brute-force ground truth — run THROUGH `SparkEntry.queries`
  * (the production code path, not tooling replicas), so every recall
  * row is tied to an oracle-checked query. recall@k = mean over qids
  * of |approx top-k ∩ exact top-k| / |exact top-k|.
  *
  * Usage: runMain graft.tools.QueryRecall <sfDir> <outJson>
  */
object QueryRecall {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: QueryRecall <sfDir> <outJson>")
    val (sfDir, outJson) = (args(0), args(1))
    val spark = graft.SparkEntry.session()

    // (row label, approx query, exact ground-truth query)
    val rows = Seq(
      ("crossmodal_ivf_vs_brute",
        "q_crossmodal_ann_ivf", "q_crossmodal_ann"),
      ("stream_ivf_split_vs_brute",
        "q_stream_ann_ivf_split", "q_ann_brute"),
      ("stream_ivf_frozen_vs_brute",
        "q_stream_ann_ivf", "q_ann_brute"))

    def topSets(name: String): Map[Long, Set[Long]] =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .select("qid", "neighbor").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    val out = rows.map { case (label, approx, exact) =>
      val t0 = System.nanoTime()
      val a = topSets(approx)
      val e = topSets(exact)
      val qids = e.keySet
      val recall = qids.toSeq.map { q =>
        val ex = e(q)
        if (ex.isEmpty) 1.0
        else a.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / math.max(1, qids.size)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[recall] $label: $recall%.4f over ${qids.size} queries " +
        f"in $secs%.1fs")
      f"""{"row":"$label","approx":"$approx","exact":"$exact",""" +
        f""""recall":$recall%.4f,"n_queries":${qids.size}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      "[" + out.mkString(",\n ") + "]\n")
    spark.stop()
  }
}
