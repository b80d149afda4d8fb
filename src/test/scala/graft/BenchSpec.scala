package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's query groups come from the declared query traits, its history
  * selections from one parse of BENCH_HISTORY.jsonl, and its last stdout
  * line must fit a ~2000-char tail capture.
  */
class BenchSpec extends AnyFunSuite {

  test("light/heavy/streaming split on numeric ids") {
    val names = Seq("q20_dedup_exact", "q21_dedup_minhash_lsh", "q22_dedup_simhash",
      "q23_dedup_ngram_jaccard", "q24_dedup_embedding", "q25_dedup_embedding_lsh",
      "q26_ann_topk", "q27_ann_topk_lsh", "q28_text_langid", "q200_corpus_scorecard",
      "q203_link_bipartite", "q213_txtable_ingest_stream", "q242_txgroup_sink_stream")
    assert(names.forall(SparkEntry.queries.contains))
    assert(names.map(Bench.group) == Seq.fill(8)("heavy") ++
      Seq("light", "light", "heavy", "streaming", "streaming"))
  }

  test("every declared trait names a query of its own family") {
    SparkEntry.families.foreach { f =>
      val stray = f.traits.keySet -- f.queries.keySet
      assert(stray.isEmpty, s"${f.getClass.getSimpleName} declares traits of: ${stray.mkString(", ")}")
    }
  }

  test("history: all-round minima and the latest round's pointer, same sf only") {
    val lines = Seq(
      """{"round":"r1","sf":"/data/sf0.1","queries":{"q01_revenue_by_nation":1.5,"q02_projection":4.0}}""",
      """{"round":"r2","sf":"/data/sf0.1","queries":{"q01_revenue_by_nation":2.0,"q02_projection":3.0}}""",
      """{"round":"r3","sf":"/data/sf0.01","queries":{"q01_revenue_by_nation":0.5}}""",
      "")
    val rows = Bench.historyRows(lines, "/data/sf0.1")
    assert(rows.map(_.round) == Seq("r1", "r2"))
    assert(Bench.historyBest(rows) == Map("q01_revenue_by_nation" -> 1.5, "q02_projection" -> 3.0))
    assert(Bench.historyRef(rows, Seq("q01_revenue_by_nation")) ==
      "\"history_rows\":1,\"history_best_total\":2.000,\"history_covered\":1")
  }

  test("the final stdout line stays under 2000 chars in its worst case") {
    val names = SparkEntry.queries.keys.toSeq
    val longest = names.sortBy(n => (-n.length, n)).take(10)
    // the ten longest names are the ten slowest minima, so all of them print
    val minima = names.map(n => n -> (if (longest.contains(n)) 1234.567 else 1.0))
    val byLength = names.sortBy(-_.length)
    val paced = names.filter(n => SparkEntry.traits(n)(graft.queries.QueryTrait.Paced))
    assert(paced.size == 8)
    val calibration = Bench.Calibration(
      values = Seq(1.234, 9.876, 2.345, 3.456, 4.567, 5.678, 6.789, 7.891, 8.912, 9.123),
      contended = true, settleTries = 4,
      contentionRerun = byLength.take(10), historyRerun = byLength.slice(10, 25),
      historyRef = "\"history_rows\":12,\"history_best_total\":1234.567,\"history_covered\":240",
      canary = Some(12.345 -> paced.map(n => n.takeWhile(_ != '_') -> 123.456)))
    val line = Bench.summaryLine(minima, 240, "/data/testdata/sf0.1", calibration)
    assert(line.length <= 2000, s"${line.length} chars")
    val json = new ObjectMapper().readTree(line)
    assert(json.path("bench_schema").asInt() == 2)
    assert(json.path("calibration").path("contended").asBoolean())
    assert(json.path("queries").size() == 10 && json.path("n_queries").asInt() == names.size)
    Seq("metric", "value", "unit", "queries_are", "n_errors", "sf").foreach(k => assert(json.has(k), k))
    Seq("values", "settle_tries", "rerun_advised", "contention_rerun", "history_rerun",
      "history_rows", "history_best_total", "history_covered", "canary_q44").foreach { k =>
      assert(json.path("calibration").has(k), k)
    }
    assert(json.path("calibration").path("canary_ratios").size() == 8)
    assert(json.path("calibration").path("history_rerun").size() == 15)
  }
}
