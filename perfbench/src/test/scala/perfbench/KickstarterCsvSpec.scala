package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator reproduces the golden log's distributions for any seed.
  * Run with `sbt test` from perfbench/.
  */
class KickstarterCsvSpec extends AnyFunSuite {
  import KickstarterCsvSpec.Shape

  /** Counts over the rows the transform keeps (non-null name), as the
    * warehouse sees them.
    */
  private def shape(seed: Long): Shape = {
    val states = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val pairs = scala.collection.mutable.Set.empty[(String, String)]
    val dates = scala.collection.mutable.Set.empty[String]
    val nullStates = scala.collection.mutable.Set.empty[String]
    var nulls, commas, quotes = 0
    val ids = Seq.newBuilder[Long]
    KickstarterCsv.rows(seed).zipWithIndex.foreach { case (r, i) =>
      states(r.state) += 1
      if (i < 5) ids += r.id
      r.name match {
        case None => nulls += 1; nullStates += r.state
        case Some(n) =>
          pairs += r.mainCategory -> r.category
          dates += r.launched.take(10)
          if (n.contains(',')) commas += 1
          if (n.contains('"')) quotes += 1
      }
    }
    Shape(states.toMap, nulls, nullStates.toSet, pairs.size, dates.size, commas, quotes, ids.result())
  }

  private val golden = KickstarterCsv.States.toMap

  for (seed <- Seq(1L, 20261017L)) {
    test(s"seed $seed reproduces the golden distributions exactly") {
      val s = shape(seed)
      assert(s.states == golden)
      assert(s.states.values.sum == 378661)
      assert(s.nullNames == 4)
      assert(!s.nullNameStates.contains("successful"))
      assert(s.pairs == 170)
      assert(s.dates == 3169)
      assert(s.commaNames > 0 && s.quotedNames > 0)
    }
  }

  test("seeds change the rows, and a seed repeats itself") {
    assert(shape(1L).firstIds == shape(1L).firstIds)
    assert(shape(1L).firstIds != shape(2L).firstIds)
  }

  test("fields with commas or quotes are quoted with quotes doubled") {
    assert(KickstarterCsv.field("plain") == "plain")
    assert(KickstarterCsv.field("a, b") == "\"a, b\"")
    assert(KickstarterCsv.field("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(KickstarterCsv.field("Film & Video") == "Film & Video")
  }

  test("a null name is an empty field, which the CSV reader reads as null") {
    val r = KickstarterCsv.rows(3L).find(_.name.isEmpty).get
    assert(KickstarterCsv.line(r).split(",", -1)(1) == "")
    assert(KickstarterCsv.line(r).split(",", -1).length == 15)
  }
}

object KickstarterCsvSpec {
  final case class Shape(
      states: Map[String, Int], nullNames: Int, nullNameStates: Set[String],
      pairs: Int, dates: Int, commaNames: Int, quotedNames: Int, firstIds: Seq[Long])
}
