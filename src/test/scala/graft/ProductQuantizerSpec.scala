package graft

import graft.similarity.{KMeans, ProductQuantizer, VectorFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** Pins the PQ/ADC contract: codes compress to the codebook size, and
  * every emitted score equals an independent driver-side replay of the
  * blocked ADC formula over the trained codebooks. The cross-engine
  * value identity is pinned by the q_ann_pq DuckDB oracle.
  */
class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = VectorFunctions.Dim

  // 40 vectors in 4 well-separated patterns plus per-id jitter
  private def vec(i: Long): Seq[Float] = {
    val base = (i % 4).toInt
    (0 until Dim).map { d =>
      val centre = if (d % 4 == base) 1.0f else -0.25f
      centre + 0.001f * ((i * 31 + d * 7) % 11).toInt
    }
  }
  private lazy val emb = (0L until 40L).map(i => (i, vec(i)))
    .toDF("vec_id", "embedding")

  test("every vector compresses to one code per subspace") {
    val (cents, codes) = ProductQuantizer.train(emb, "vec_id", "embedding")
    assert(cents.size == ProductQuantizer.NumSubspaces)
    assert(codes.count() == 40)
    (0 until ProductQuantizer.NumSubspaces).foreach { m =>
      val distinct = codes.select(s"code_$m").distinct().count()
      assert(distinct <= ProductQuantizer.CodebookK)
      val valid = cents(m).select(col("cid")).as[Long].collect().toSet
      val used = codes.select(s"code_$m").as[Long].collect().toSet
      assert(used.subsetOf(valid), s"subspace $m codes outside codebook")
    }
  }

  test("ADC scores equal the driver-replayed blocked cosine") {
    val topK = 5
    val got = ProductQuantizer.adcTopK(
      spark, emb, "vec_id", "embedding", numQueries = 3, topK = topK)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 3 * topK)
    // independent replay from the trained model
    val (cents, codesDf) = ProductQuantizer.train(emb, "vec_id", "embedding")
    val books = cents.map(_.collect().map(r => r.getLong(0) ->
      r.getSeq[Long](1).map(x =>
        (x.toDouble / KMeans.Scale - KMeans.Offset).toFloat).toArray).toMap)
    val codes = codesDf.collect().map(r =>
      r.getLong(0) -> (1 to ProductQuantizer.NumSubspaces)
        .map(m => r.getLong(m)).toArray).toMap
    val vs = (0L until 40L).map(i => i -> vec(i)).toMap
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    got.foreach { case ((qid, nid), score) =>
      val qv = vs(qid)
      val sub = ProductQuantizer.SubDim
      val parts = (0 until ProductQuantizer.NumSubspaces).map { m =>
        val cv = books(m)(codes(nid)(m)).toSeq
        (dot(qv.slice(m * sub, (m + 1) * sub), cv), dot(cv, cv))
      }
      // strict left association, matching the engine's reduceLeft
      val num = parts.map(_._1).reduceLeft(_ + _)
      val nsq = parts.map(_._2).reduceLeft(_ + _)
      val expect = num / (math.sqrt(dot(qv, qv)) * math.sqrt(nsq))
      assert(score == expect, s"($qid, $nid)")
    }
  }

  test("rerank emits exact cosines over the ADC-nominated shortlist") {
    val topK = 5
    val shortlist = 15
    val got = ProductQuantizer.adcRerankTopK(
      spark, emb, "vec_id", "embedding", numQueries = 2, topK = topK,
      shortlist = shortlist).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.length == 2 * topK)
    val shortlists = ProductQuantizer.adcTopK(
      spark, emb, "vec_id", "embedding", 2, shortlist).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val vs = (0L until 40L).map(i => i -> vec(i)).toMap
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    got.foreach { case (qid, nid, cosine, _) =>
      assert(shortlists(qid).contains(nid),
        s"reranked neighbor $nid not in $qid's ADC shortlist")
      val exact = dot(vs(qid), vs(nid)) /
        (math.sqrt(dot(vs(qid), vs(qid))) * math.sqrt(dot(vs(nid), vs(nid))))
      assert(cosine == exact, s"($qid, $nid)")
    }
  }

  test("IVF-probed ADC equals the full ADC restricted to probed lists") {
    // coarse model: 4 lists over the 4 planted patterns
    val (centFp, asg) = KMeans.fitModel(emb, "vec_id", "embedding", 4, 2)
    assert(centFp.count() >= 2)
    val asgL = asg.select(col("vec_id"), col("cid").cast("int").as("label"))
    val labelOf = asgL.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val labels = labelOf.values.toSeq.distinct.sorted
    assert(labels.size >= 2, "test corpus must spread over >1 coarse list")
    // each query probes its own list plus one other — enough structure
    // that the probed result is a strict subset of the full scan
    val probePairs = Seq(0L, 1L).flatMap { q =>
      Seq(labelOf(q), labels.find(_ != labelOf(q)).get).distinct
        .map(l => (q, l))
    }
    val probes = probePairs.toDF("qid", "label")
    val (books, codes) = ProductQuantizer.train(emb, "vec_id", "embedding")
    // topK = corpus size so both sides emit every candidate they scan
    val got = ProductQuantizer.adcIvfTopKWith(spark, emb, "vec_id",
      "embedding", books, codes, probes, asgL, numQueries = 2, topK = 40)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = ProductQuantizer.adcTopKWith(spark, emb, "vec_id",
      "embedding", books, codes, numQueries = 2, topK = 40)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probedSet = probePairs.toSet
    val expect = full.filter { case ((q, n), _) =>
      probedSet.contains((q, labelOf(n)))
    }
    assert(got.keySet == expect.keySet,
      "probed candidate set must be exactly the probed lists' members")
    assert(got.size < full.size, "probing must actually restrict the scan")
    expect.foreach { case (k, v) => assert(got(k) == v, s"score drift at $k") }
  }

  test("fused LUT-array scoring equals the broadcast-join rendering") {
    // the row-local literal-array projection must reproduce the m+1
    // broadcast-hash-join rendering bit-exactly — same rows, same
    // doubles — on both the full-fanout and the IVF-probed tails
    val (books, codes) = ProductQuantizer.train(emb, "vec_id", "embedding")
    def runBoth(f: () => org.apache.spark.sql.DataFrame)
        : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val fused = f().collect().toSeq
      ProductQuantizer.fuseLuts = false
      val joined =
        try f().collect().toSeq
        finally ProductQuantizer.fuseLuts = true
      (fused, joined)
    }
    val (f1, j1) = runBoth(() => ProductQuantizer.adcTopKWith(spark, emb,
      "vec_id", "embedding", books, codes, numQueries = 3, topK = 7))
    assert(f1 == j1, "full-fanout ADC: fused != join rendering")
    assert(f1.nonEmpty)
    val asgL = codes.select(col("vec_id"),
      (col("code_0") % 2).cast("int").as("label"))
    val probes = Seq((0L, 0), (0L, 1), (1L, 0)).toDF("qid", "label")
    val (f2, j2) = runBoth(() => ProductQuantizer.adcIvfTopKWith(spark,
      emb, "vec_id", "embedding", books, codes, probes, asgL,
      numQueries = 2, topK = 7))
    assert(f2 == j2, "IVF-probed ADC: fused != join rendering")
    assert(f2.nonEmpty)
  }

  test("huge sparse codebook ids take the join rendering and match it") {
    // cids near Long.MaxValue / 4 wrap the 64-bit qid × m × cid entry
    // count back into the fused gate's range; the gate must still send
    // them to the join rendering, whose scores do not depend on id values
    val (books, codes) = ProductQuantizer.train(emb, "vec_id", "embedding")
    val shift = Long.MaxValue / 4
    val farBooks = books.map(_.withColumn("cid", col("cid") + shift))
    val farCodes = (0 until ProductQuantizer.NumSubspaces).foldLeft(codes) {
      (df, i) => df.withColumn(s"code_$i", col(s"code_$i") + shift)
    }
    def adc(bs: Seq[DataFrame], cs: DataFrame): DataFrame =
      ProductQuantizer.adcTopKWith(spark, emb, "vec_id", "embedding", bs, cs,
        numQueries = 3, topK = 7)
    val far = adc(farBooks, farCodes)
    assert(far.queryExecution.optimizedPlan.collect { case j: Join => j }
      .nonEmpty, "huge cids must take the join rendering")
    ProductQuantizer.fuseLuts = false
    val joined =
      try adc(books, codes).collect().toSeq
      finally ProductQuantizer.fuseLuts = true
    assert(joined.nonEmpty)
    assert(far.collect().toSeq == joined)
  }

  test("joint grouped training equals the per-subspace reference chains") {
    // the fused multi-group Lloyd (one job per round for all M
    // subspaces) must reproduce the independent per-subspace chains
    // bit-exactly: same codebooks, same codes
    val m = ProductQuantizer.NumSubspaces
    val k = ProductQuantizer.CodebookK
    val sd = ProductQuantizer.SubDim
    val (gotCents, gotCodes) =
      ProductQuantizer.train(emb, "vec_id", "embedding")
    val pts = KMeans.pointsFp(emb, "vec_id", "embedding")
    val ref = (0 until m).map { i =>
      KMeans.fitModelFp(
        pts.select(col("vec_id"), slice(col("p"), i * sd + 1, sd).as("p")),
        k, ProductQuantizer.Iters)
    }
    (0 until m).foreach { i =>
      val got = gotCents(i).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = ref(i)._1.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"subspace $i codebook drift")
      val gotAsg = gotCodes.select(col("vec_id"), col(s"code_$i"))
        .as[(Long, Long)].collect().toMap
      val wantAsg = ref(i)._2.select(col("vec_id"), col("cid"))
        .as[(Long, Long)].collect().toMap
      assert(gotAsg == wantAsg, s"subspace $i code drift")
    }
    // frozen-book assignment takes the same fused path
    val frozen = ProductQuantizer.assignCodes(
      emb, "vec_id", "embedding", ref.map(_._1))
    (0 until m).foreach { i =>
      val got = frozen.select(col("vec_id"), col(s"code_$i"))
        .as[(Long, Long)].collect().toMap
      val want = ref(i)._2.select(col("vec_id"), col("cid"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"frozen subspace $i code drift")
    }
  }

  test("an exact duplicate shares all codes and fuses to the same score") {
    val dup = emb.union(Seq((100L, vec(1L))).toDF("vec_id", "embedding"))
    val (_, codes) = ProductQuantizer.train(dup, "vec_id", "embedding")
    val rows = codes.where(col("vec_id").isin(1L, 100L))
      .orderBy("vec_id").collect()
    assert(rows.length == 2)
    (1 to ProductQuantizer.NumSubspaces).foreach { m =>
      assert(rows(0).getLong(m) == rows(1).getLong(m))
    }
  }
}
