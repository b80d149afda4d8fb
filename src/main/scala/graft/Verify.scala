package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracle.py), and status.json with each query's outcome.
  *
  * Usage: Verify <sfDir> <outDir> [queryName...] — trailing names restrict
  * the dump to those queries (dev iteration); default is all of them.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = SessionDefaults.local()
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
    // Jackson escapes every control char, so a tab or CR in an oracle
    // SQL string still yields valid JSON
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(new java.util.TreeMap(SparkEntry.oracleSql.asJava)))
    spark.stop()
  }

  /** Writes each query's result to `<outDir>/<name>` as one parquet file,
    * then `<outDir>/status.json`: per query its status (`ok`/`failed`),
    * wall_s, and rows or the error. A non-fatal failure is recorded there
    * and named on stderr, and the remaining queries still run; a fatal
    * error ends the run.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val status = new java.util.TreeMap[String, java.util.Map[String, Any]]()
    queries.foreach { case (name, fn) =>
      val (wall, outcome) = SessionDefaults.timed {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      val entry = outcome.fold(
        e => {
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Map("status" -> "failed", "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        },
        _ => Map("status" -> "ok", "rows" -> spark.read.parquet(s"$outDir/$name").count()))
      status.put(name, (entry + ("wall_s" -> wall)).asJava)
    }
    Files.writeString(Paths.get(s"$outDir/status.json"),
      new ObjectMapper().writeValueAsString(status))
  }
}
