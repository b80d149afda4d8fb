package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.CacheScope

/** Produces `perfbench/expected.json`: the row count and [[Fingerprint]] of
  * every named-query op of the benchmark (a comma list) on its data. It
  * also dumps each result as parquet, with `oracle_sql.json`, in the layout
  * `tools/check_oracle.py` reads, so the recorded outputs can be checked
  * against DuckDB before they are committed:
  *
  * {{{
  * java ... perfbench.Record <dataDir> <dumpDir> <expected.json> <op,op,...>
  * python3 tools/check_oracle.py <dataDir> <dumpDir>
  * }}}
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, expected, opList) = args.take(4)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.registerAll(spark)
    val dataDir = Paths.get(data).toAbsolutePath.toString
    val ops = opList.split(",").toSeq.sorted
    val entries = ops.map { op =>
      val fn = SparkEntry.queries(op)
      val (rows, fp) = CacheScope.scoped { Fingerprint.of(fn(spark, dataDir)) }
      CacheScope.scoped {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$op")
      }
      println(s"[record] $op rows=$rows fingerprint=$fp")
      op -> Map("rows" -> rows, "fingerprint" -> fp)
    }
    Files.writeString(Paths.get(expected),
      Main.json.writerWithDefaultPrettyPrinter.writeValueAsString(ListMap(entries: _*)) + "\n")
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }.toSeq.sortBy(_._1)
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Main.json.writeValueAsString(ListMap(oracles: _*)))
    spark.stop()
  }
}
