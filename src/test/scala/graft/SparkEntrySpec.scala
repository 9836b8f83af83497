package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query mains' shared selection rule and failure-aware run loop. */
class SparkEntrySpec extends AnyFunSuite {

  private def names(patterns: Option[String]): Seq[String] =
    SparkEntry.select(SparkEntry.queries, patterns).map(_._1)

  test("a pattern that names a query selects just that query") {
    assert(SparkEntry.queries.contains("q_dedup_ngram_prefix"))
    assert(names(Some("q_dedup_ngram")) == Seq("q_dedup_ngram"))
    assert(names(Some("q_dedup_ngram,q1_agg")) ==
      Seq("q1_agg", "q_dedup_ngram"))
  }

  test("any other pattern selects its family by prefix") {
    val family = names(Some("q_dedup_ngra"))
    assert(family.contains("q_dedup_ngram"))
    assert(family.contains("q_dedup_ngram_prefix"))
    assert(family.forall(_.startsWith("q_dedup_ngra")))
    assert(names(Some("no_such_query")).isEmpty)
  }

  test("no pattern selects every query, sorted by name") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(names(None) == all)
    assert(names(Some("")) == all)
  }

  test("the run loop reports a throwing query as failed and runs the rest") {
    val boom = new IllegalStateException("boom")
    val fns: Seq[(String, () => Double)] = Seq(
      "a" -> (() => 1.5),
      "b" -> (() => throw boom),
      "c" -> (() => 2.5))
    var ran = Seq.empty[String]
    val runs = SparkEntry.runAll("spec", fns) { (name, fn) =>
      ran :+= name
      fn()
    }
    assert(ran == Seq("a", "b", "c"))
    assert(runs.map(_.name) == Seq("a", "b", "c"))
    assert(runs(0).result == Right(1.5))
    assert(runs(1).result == Left(boom))
    assert(runs(1).error.contains(boom))
    assert(runs(2).result == Right(2.5))
    assert(runs.flatMap(_.result.toOption) == Seq(1.5, 2.5))
  }
}
