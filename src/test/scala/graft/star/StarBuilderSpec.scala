package graft.star

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.etl.{Extract, Transform}

/** Golden end-to-end parity tests for the star-schema build (SURVEY §5.2
  * item 2): dim cardinalities, deterministic surrogate keys, date
  * attributes (incl. the weekday-numbering trap), FK integrity, and the
  * INSERT-OR-IGNORE upsert semantics. The pipeline tests also pin what
  * `runPipeline` costs and leaves behind: one CSV parse, no cached block.
  */
class StarBuilderSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  lazy val campaigns = Transform.campaigns(
    Extract.campaignsCsv(spark, fixturePath("kickstarter_fixture.csv"))).cache()
  lazy val star = StarBuilder.build(campaigns)

  test("dim cardinalities match the fixture's distinct sets") {
    assert(star("Dim_State").count() == 6)
    assert(star("Dim_Category").count() == 9)
    assert(star("Dim_Date").count() == 10)
    assert(star("Fact_Campaigns").count() == 11)
  }

  test("O1: state keys are row_number in state_name sorted order") {
    val keys = star("Dim_State").orderBy("state_key").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(keys.toSeq == Seq(
      1 -> "canceled", 2 -> "failed", 3 -> "live",
      4 -> "successful", 5 -> "suspended", 6 -> "undefined"))
  }

  test("O1: category keys sorted by (main, sub); same sub under two mains") {
    val rows = star("Dim_Category").orderBy("category_key").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows.head == ((1, "Art", "Live Art")))
    assert(rows(1) == ((2, "Art", "Rock")))
    assert(rows.count { case (_, _, sub) => sub == "Rock" } == 2)
  }

  test("F5-F9: date attributes — weekend flag uses Sat/Sun, key is yyyyMMdd") {
    val byDate = star("Dim_Date").collect()
      .map(r => r.getAs[String]("full_date") -> r).toMap
    val sat = byDate("2016-03-19")
    assert(sat.getAs[Int]("is_weekend") == 1 && sat.getAs[String]("day_of_week") == "Saturday")
    val sun = byDate("2016-03-20")
    assert(sun.getAs[Int]("is_weekend") == 1 && sun.getAs[String]("day_of_week") == "Sunday")
    val tue = byDate("2015-08-11")
    assert(tue.getAs[Int]("is_weekend") == 0 && tue.getAs[String]("day_of_week") == "Tuesday")
    assert(tue.getAs[Int]("date_key") == 20150811)
    val q4 = byDate("2014-12-31"); val q1 = byDate("2016-01-01")
    assert(q4.getAs[Int]("quarter") == 4 && q1.getAs[Int]("quarter") == 1)
  }

  test("J1-J3: every fact FK resolves (0 orphans by construction)") {
    val fact = star("Fact_Campaigns")
    assert(fact.filter(
      col("state_key").isNull || col("category_key").isNull ||
        col("launched_date_key").isNull).isEmpty)
    // spot-check one row end-to-end through names
    val f = fact.filter(col("campaign_id") === 1005).head()
    assert(f.getAs[Int]("launched_date_key") == 20160319)
    val sk = star("Dim_State").filter(col("state_name") === "successful")
      .head().getAs[Int]("state_key")
    assert(f.getAs[Int]("state_key") == sk)
  }

  test("S4: upsertAppend is idempotent (INSERT OR IGNORE parity)") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/dim_state"
    val ds = star("Dim_State")
    StarBuilder.upsertAppend(spark, ds, dir, Seq("state_name"))
    assert(spark.read.parquet(dir).count() == 6)
    // second load: all keys exist -> nothing appended
    StarBuilder.upsertAppend(spark, ds, dir, Seq("state_name"))
    assert(spark.read.parquet(dir).count() == 6)
    // new key -> exactly one appended
    val extra = ds.limit(1)
      .withColumn("state_name", lit("brand_new_state"))
    StarBuilder.upsertAppend(spark, extra, dir, Seq("state_name"))
    assert(spark.read.parquet(dir).count() == 7)
  }

  test("end-to-end runPipeline writes all four tables") {
    val out = Files.createTempDirectory("graft_star").toString
    val counts = StarBuilder.runPipeline(
      spark, fixturePath("kickstarter_fixture.csv"), out)
    assert(counts == Map(
      "Dim_Date" -> 10L, "Dim_State" -> 6L,
      "Dim_Category" -> 9L, "Fact_Campaigns" -> 11L))
  }

  test("S3: registerCatalog makes warehouse tables queryable by name") {
    val out = Files.createTempDirectory("graft_star_catalog").toString
    StarBuilder.runPipeline(spark, fixturePath("kickstarter_fixture.csv"), out)
    StarBuilder.registerCatalog(spark, out)
    // idempotent, like CREATE TABLE IF NOT EXISTS in the reference DDL
    StarBuilder.registerCatalog(spark, out)
    val byName = spark.sql(
      """SELECT s.state_name, COUNT(*) AS n
         FROM Fact_Campaigns f JOIN Dim_State s ON f.state_key = s.state_key
         GROUP BY s.state_name""").count()
    assert(byName == 6)
    val names = spark.catalog.listTables().collect().map(_.name.toLowerCase).toSet
    assert(Set("dim_date", "dim_state", "dim_category", "fact_campaigns").subsetOf(names))
  }

  /** The fixture at a fresh path: its plans match no frame another test
    * cached, so what a test observes of caching and scans is its own.
    */
  private def freshFixture(): String = {
    val csv = Files.createTempDirectory("graft_star_csv").resolve("campaigns.csv")
    Files.copy(Paths.get(fixturePath("kickstarter_fixture.csv")), csv)
    csv.toString
  }

  private def campaignsOf(csv: String) = Transform.campaigns(Extract.campaignsCsv(spark, csv))

  test("runPipeline writes exactly the rows of build, table by table") {
    val csv = freshFixture()
    val out = Files.createTempDirectory("graft_star_rows").toString
    StarBuilder.runPipeline(spark, csv, out)
    StarBuilder.build(campaignsOf(csv)).foreach { case (name, expected) =>
      val written = spark.read.parquet(s"$out/$name")
      assert(written.exceptAll(expected).isEmpty, s"$name: written rows build lacks")
      assert(expected.exceptAll(written).isEmpty, s"$name: build rows not written")
    }
  }

  /** Rows output by the CSV scans of `csv` in every plan `body` runs, the
    * plans its cached relations were built by included, each scan node
    * counted once.
    */
  private def csvRowsScannedDuring(csv: String)(body: => Unit): Long = {
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    def csvScans(plan: SparkPlan): Seq[FileSourceScanExec] = flatMap(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] &&
          s.relation.location.rootPaths.exists(_.toString.endsWith(csv)) => Seq(s)
      case m: InMemoryTableScanExec => csvScans(m.relation.cachedPlan)
      case _ => Nil
    }
    val barrier = spark.range(1)
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        csvScans(qe.executedPlan).foreach(scans.add)
        if (qe eq barrier.queryExecution) barrierSeen.countDown()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order on one bus: once the barrier
      // query's event is in, every event `body` caused is too
      barrier.collect()
      assert(barrierSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    scans.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
  }

  test("runPipeline parses the CSV once") {
    val csv = freshFixture()
    val out = Files.createTempDirectory("graft_star_parse").toString
    // one parse outputs the fixture's 12 data rows (the null-name drop
    // runs above the scan)
    assert(csvRowsScannedDuring(csv)(StarBuilder.runPipeline(spark, csv, out)) == 12L)
  }

  test("runPipeline leaves no cached relation, also when a write throws") {
    val csv = freshFixture()
    def cached = campaignsOf(csv).storageLevel != StorageLevel.NONE
    StarBuilder.runPipeline(spark, csv, Files.createTempDirectory("graft_star_ok").toString)
    assert(!cached)
    // a regular file where the warehouse directory should be
    val notADir = Files.createTempFile("graft_star", ".file").toString
    intercept[Exception](StarBuilder.runPipeline(spark, csv, notADir))
    assert(!cached)
  }
}
