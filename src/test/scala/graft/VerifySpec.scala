package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Verify's failures are loud: each query's outcome lands in status.json,
  * and one failing query neither stops the others nor loses its error.
  */
class VerifySpec extends SparkTestBase {

  test("status.json records a failing query's error and a good query's rows") {
    val out = Files.createTempDirectory("verify-spec").toString
    Verify.dump(spark, "unused", out, Map(
      "good" -> ((s, _) => s.range(3).toDF("id")),
      "bad" -> ((_, _) => throw new IllegalStateException("boom"))))
    val status = new ObjectMapper().readTree(Files.readString(Paths.get(s"$out/status.json")))
    assert(status.path("good").path("status").asText() == "ok")
    assert(status.path("good").path("rows").asLong() == 3)
    assert(status.path("good").path("wall_s").isDouble)
    assert(status.path("bad").path("status").asText() == "failed")
    assert(status.path("bad").path("error").asText().contains("boom"))
    assert(!status.path("bad").has("rows"))
    assert(spark.read.parquet(s"$out/good").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/bad")))
  }
}
