package graft

import org.apache.spark.sql.functions._

/** Dev scratch: reference-comparison wall clock for the FULL parity
  * pipeline (CSV extract -> transform -> star build -> parquet sinks) at
  * the golden run's exact scale (378,661 rows), on a pre-generated CSV.
  * The reference log records ~10 s single-threaded for the same work.
  */
object BenchPipeline {
  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults.local()
    import spark.implicits._
    val workDir = "target/tmp/pipeline-bench"
    def wipe(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    wipe(workDir)
    val csvDir = s"$workDir/raw_csv"
    val states = typedlit(Seq("failed", "successful", "canceled", "undefined", "live", "suspended"))
    val launchedDate = date_add(to_date(lit("2009-01-01")), ($"id" % 3169).cast("int"))
    spark.range(378661L).select(
      $"id".as("ID"),
      concat(lit("Project "), $"id").as("name"),
      concat(lit("Sub"), $"id" % 10).as("category"),
      concat(lit("Main"), $"id" % 17).as("main_category"),
      lit("USD").as("currency"),
      date_format(date_add(launchedDate, 30), "yyyy-MM-dd").as("deadline"),
      lit(1000.0).as("goal"),
      concat(date_format(launchedDate, "yyyy-MM-dd"), lit(" 12:00:00")).as("launched"),
      lit(500.0).as("pledged"),
      element_at(states, ($"id" % 6 + 1).cast("int")).as("state"),
      ($"id" % 5000).as("backers"),
      lit("US").as("country"),
      lit(500.0).as("usd pledged"),
      lit(500.0).as("usd_pledged_real"),
      lit(1000.0).as("usd_goal_real"))
      .coalesce(4)
      .write.option("header", true).csv(csvDir)
    // warm the JVM/codegen paths once, then measure
    (1 to 3).foreach { i =>
      val (wall, counts) = SessionDefaults.timed(
        graft.star.StarBuilder.runPipeline(spark, csvDir, s"$workDir/wh$i"))
      println(f"[pipeline] run$i $wall%.2f s  counts=${counts.get}")
    }
    wipe(workDir)
    spark.stop()
  }
}
