package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mixture

/** q209's gate over its (lang, is-increment, count) rows. */
class IncrementWeightsSpec extends AnyFunSuite {

  test("a NULL lang fails fast, even with an empty increment") {
    val e = intercept[IllegalArgumentException] {
      MaterializeQueries.incrementWeights(Seq(Row("en", false, 5L), Row(null, false, 2L)))
    }
    assert(e.getMessage.contains("'lang' contains NULL"))
  }

  test("no increment rows: no weights, so the query returns no rows") {
    assert(MaterializeQueries.incrementWeights(Seq(Row("en", false, 5L), Row("de", false, 2L)))
      .isEmpty)
  }

  test("weights are the mixture weights of the per-lang sums over both sides") {
    val rows = Seq(Row("en", false, 50L), Row("en", true, 14L), Row("de", false, 9L),
      Row("fr", true, 3L))
    assert(MaterializeQueries.incrementWeights(rows) ==
      Some(Mixture.weightsFromCounts(Seq("en" -> 64L, "de" -> 9L, "fr" -> 3L))))
  }
}
