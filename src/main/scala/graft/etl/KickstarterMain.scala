package graft.etl

import org.apache.spark.sql.SparkSession

/** Runnable end-to-end pipeline — parity with the reference's `__main__`
  * (/root/reference/src/etl_pipeline.py:285-315): extract CSV, inspect,
  * transform, build + write the star schema as a parquet warehouse.
  *
  * Usage: runMain graft.etl.KickstarterMain <campaigns.csv> <warehouseDir>
  */
object KickstarterMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: KickstarterMain <campaigns.csv> <warehouseDir>")
    val Array(csvPath, outDir) = args
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("kickstarter-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val raw = Extract.campaignsCsv(spark, csvPath)
      println(s"[extract] rows=${raw.count()} cols=${raw.columns.length}")
      // O9 inspect_data parity (etl_pipeline.py:74-75): dtypes + head
      println("[inspect] schema:\n" + raw.schema.treeString)
      raw.show(5, truncate = false)
      val campaigns = Transform.campaigns(raw).cache()
      println(s"[transform] rows=${campaigns.count()} cols=${campaigns.columns.length}")
      Transform.stateCounts(campaigns).collect()
        .foreach(r => println(s"[inspect] state ${r.getString(0)} -> ${r.getLong(1)}"))
      // the frame cached above feeds the load: the CSV is not parsed again
      val counts = graft.star.StarBuilder.load(spark, campaigns, outDir)
      counts.toSeq.sortBy(_._1)
        .foreach { case (t, n) => println(s"[load] $t rows=$n") }
      // S3 parity: register the warehouse in the session catalog so every
      // table is queryable by name from spark.sql (create_tables.sql:1-43)
      graft.star.StarBuilder.registerCatalog(spark, outDir)
      println("[load] catalog tables: " +
        spark.catalog.listTables().collect().map(_.name).sorted.mkString(", "))
    } finally spark.stop()
  }
}
