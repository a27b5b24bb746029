package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, udf, when}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.TestSpark
import graft.audit.Audit

class RunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def layout() = {
    val root = java.nio.file.Files.createTempDirectory("pipeline").toString
    Runner.Layout(s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/audit")
  }

  private def staged(suffix: String) = Map(
    "products" -> Seq((1, s"Widget $suffix", 9.99, "tools"), (2, s"Gadget $suffix", 0.0, "toys"))
      .toDF("id", "title", "price", "category"),
    "carts" -> Seq((10, 100, 200.0, 150.0), (11, 101, 80.0, 80.0))
      .toDF("id", "userId", "total", "discountedTotal"),
    "users" -> Seq((100, "a@x.com", "Ada", "L"), (101, "b@y.org", "Bob", "M"))
      .toDF("id", "email", "firstname", "lastname"),
    "orders" -> Seq((1000, 100, 200.0, Some(180.0)))
      .toDF("id", "userId", "total_amount", "final_amount"))

  test("runFull: bronze -> silver -> quality -> gold -> audit, idempotent upserts") {
    val lay = layout()
    val r1 = Runner.runFull(spark, staged("v1"), lay, "test_api", "run1",
      ts("2024-01-01 12:00:00"))
    assert(r1.bronzeCounts == Map("products" -> 2, "carts" -> 2, "users" -> 2, "orders" -> 1))
    assert(r1.silverCounts("products") == 2)
    assert(r1.qualityResults.forall(_.passed))
    assert(r1.goldCounts("finance_mart") == 1) // one day
    assert(r1.goldCounts("sales_mart") == 1)
    assert(r1.goldCounts("operations_mart") == 1)

    // second run: same keys, later ingestion -> silver replaced not duplicated
    val r2 = Runner.runFull(spark, staged("v2"), lay, "test_api", "run2",
      ts("2024-01-02 12:00:00"))
    assert(r2.silverCounts("products") == 2) // upsert, no growth
    val titles = spark.read.parquet(s"${lay.silver}/products")
      .select("title").as[String].collect().toSet
    assert(titles == Set("Widget v2", "Gadget v2")) // latest won
    assert(r2.goldCounts("finance_mart") == 2) // both days present
    assert(r2.goldCounts("sales_mart") == 2)
    val ops = spark.read.parquet(s"${lay.gold}/operations_mart")
      .orderBy("event_date").collect()
    assert(ops.length == 2)
    assert(ops.forall(_.getAs[Double]("avg_discount_percentage") >= 0.0))

    // third run, same calendar day as run 2: the day-2 mart row is a
    // conflict update -> created_at survives, updated_at refreshes
    Runner.runFull(spark, staged("v3"), lay, "test_api", "run3",
      ts("2024-01-02 18:00:00"))
    val fin = spark.read.parquet(s"${lay.gold}/finance_mart")
      .orderBy("event_date").collect()
    assert(fin.length == 2)
    val day2 = fin(1)
    assert(day2.getAs[Timestamp]("created_at") == ts("2024-01-02 12:00:00"))
    assert(day2.getAs[Timestamp]("updated_at") == ts("2024-01-02 18:00:00"))
    val day1 = fin(0)
    assert(day1.getAs[Timestamp]("created_at") == ts("2024-01-01 12:00:00"))
    assert(day1.getAs[Timestamp]("updated_at") == ts("2024-01-01 12:00:00"))

    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 3 && audit.forall(_.status == "success"))
    // durations are timed, not the difference of the equal logical stamps
    assert(audit.forall(_.durationSeconds.exists(_ > 0)))
    assert(audit.forall(a => a.endTime.contains(a.startTime)))
  }

  test("backfillBronze re-ingests day batches idempotently via partition overwrite") {
    val lay = layout()
    val day1 = java.time.LocalDate.parse("2024-01-01")
    val day4 = java.time.LocalDate.parse("2024-01-04")
    def fetch(tag: String)(day: java.time.LocalDate): Map[String, DataFrame] = Map(
      "products" -> Seq(
        (day.getDayOfMonth, s"Item $tag ${day.getDayOfMonth}", 1.0, "c"),
        (100 + day.getDayOfMonth, s"Other $tag", 2.0, "c"))
        .toDF("id", "title", "price", "category"))

    val c1 = Runner.backfillBronze(spark, fetch("v1"), lay, "test_api", day1, day4,
      batchSizeDays = 2)
    assert(c1 == Map("products" -> 6)) // 3 days x 2 rows
    val live = spark.read.parquet(s"${lay.bronze}/products_raw")
    assert(live.count() == 6)
    assert(live.select("_ingestion_date").distinct().count() == 3)

    // re-run a sub-window with new data: only those days replaced
    val c2 = Runner.backfillBronze(spark, fetch("v2"), lay, "test_api", day1,
      day1.plusDays(1))
    assert(c2 == Map("products" -> 2))
    val titles = spark.read.parquet(s"${lay.bronze}/products_raw")
      .select("title").as[String].collect()
    assert(titles.count(_.startsWith("Item v2")) == 1)   // day 1 replaced
    assert(titles.count(_.startsWith("Item v1")) == 2)   // days 2,3 untouched
    assert(titles.length == 6)                           // no growth

    // same window + same data twice = same state
    Runner.backfillBronze(spark, fetch("v2"), lay, "test_api", day1, day1.plusDays(1))
    assert(spark.read.parquet(s"${lay.bronze}/products_raw").count() == 6)
  }

  test("stageArchive moves old partitions to the archive table, idempotently") {
    val lay = layout()
    val day1 = java.time.LocalDate.parse("2024-01-01")
    def fetch(day: java.time.LocalDate): Map[String, DataFrame] = Map(
      "orders" -> Seq((day.getDayOfMonth * 10, 100, 5.0, Some(5.0)))
        .toDF("id", "userId", "total_amount", "final_amount"))
    Runner.backfillBronze(spark, fetch, lay, "test_api", day1, day1.plusDays(3))

    val cutoff = java.time.LocalDate.parse("2024-01-03")
    val archived = Runner.stageArchive(spark, lay, "orders", cutoff,
      ts("2024-02-01 00:00:00"))
    assert(archived == 2) // days 1 and 2 moved
    val live = spark.read.parquet(s"${lay.bronze}/orders_raw")
    assert(live.count() == 1)
    assert(live.select("_ingestion_date").as[java.sql.Date].collect()
      .forall(_.toString == "2024-01-03"))
    val arch = spark.read.parquet(s"${lay.bronze}/orders_archive")
    assert(arch.count() == 2)
    assert(arch.columns.contains("_archived_at"))

    // re-run: nothing left to move, archive unchanged
    val again = Runner.stageArchive(spark, lay, "orders", cutoff,
      ts("2024-02-02 00:00:00"))
    assert(again == 0)
    assert(spark.read.parquet(s"${lay.bronze}/orders_archive").count() == 2)
    assert(spark.read.parquet(s"${lay.bronze}/orders_raw").count() == 1)
  }

  test("quality gate failure aborts before gold and audits the failure") {
    val lay = layout()
    // a null email survives the silver transform (duplicates would
    // collapse under the email-keyed dedup) and trips the PK null check
    val withNull = staged("v1") + ("users" -> Seq(
      (Some(100), None: Option[String], "Ada", "L"))
      .toDF("id", "email", "firstname", "lastname")) + ("products" -> Seq(
      (None: Option[Int], "Widget", 9.99, "tools"))
      .toDF("id", "title", "price", "category"))
    val ex = intercept[IllegalStateException] {
      Runner.runFull(spark, withNull, lay, "test_api", "runX",
        ts("2024-01-01 12:00:00"))
    }
    // failed checks are listed in table order, whichever table finished first
    assert(ex.getMessage ==
      "quality gate failed: products.null_product_id=1, users.null_email=1")
    assert(!new java.io.File(s"${lay.gold}/finance_mart").exists())
    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 1 && audit.head.status == "failed")
    assert(audit.head.durationSeconds.exists(_ > 0))
  }

  test("a failing table fails the stage only after its sibling tables finish") {
    val lay = layout()
    // cart 11's total raises when the bronze append evaluates it, while
    // the orders append is still running: the stage must wait for it
    val slow = udf { (x: Double) => Thread.sleep(2000); x }
    val failing = staged("v1") + ("carts" -> staged("v1")("carts").withColumn("total",
      when(col("id") === 11, raise_error(lit("injected cart failure")))
        .otherwise(col("total")))) + ("orders" -> staged("v1")("orders")
      .withColumn("total_amount", slow(col("total_amount"))))
    val ex = intercept[Exception] {
      Runner.runFull(spark, failing, lay, "test_api", "runF", ts("2024-01-01 12:00:00"))
    }
    assert(!ex.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(ex.isInstanceOf[org.apache.spark.SparkThrowable])
    assert(ex.getMessage.contains("injected cart failure"))

    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 1 && audit.head.status == "failed")
    assert(audit.head.errorMessage.exists(_.contains("injected cart failure")))
    Seq("products" -> 2, "users" -> 2, "orders" -> 1).foreach { case (table, n) =>
      assert(spark.read.parquet(s"${lay.bronze}/${table}_raw").count() == n, table)
    }
    assert(!new java.io.File(lay.silver).exists()) // no stage after the failed one ran

    val tableThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "pipeline-table")
    tableThreads.foreach(_.join(10000))
    assert(tableThreads.forall(!_.isAlive))
  }

  test("layers and reports do not depend on how the tables were scheduled") {
    // in-batch duplicate keys share the batch's ingestion timestamp, and
    // day 3 re-sends day 2's keys at day 2's timestamp: every winner is
    // decided by a tie-break, never by arrival order
    def day(k: Int) = Map(
      "products" -> Seq((1, s"Widget $k", 9.99, "tools"), (1, s"Widget $k b", 8.5, "tools"),
        (2, s"Gadget $k", 0.0, "toys")).toDF("id", "title", "price", "category"),
      "carts" -> Seq((10, 100, 200.0 + k, 150.0), (10, 100, 210.0, 150.0 + k),
        (11, 101, 80.0, 80.0), (12 + k, 100, 40.0, 20.0))
        .toDF("id", "userId", "total", "discountedTotal"),
      "users" -> Seq((100, "a@x.com", s"Ada$k", "L"), (102, " A@X.com", "Ada", s"L$k"),
        (101, "b@y.org", "Bob", "M")).toDF("id", "email", "firstname", "lastname"),
      "orders" -> Seq((1000, 100, 200.0, Some(180.0)), (1000, 100, 200.0 + k, None),
        (1001 + k, 101, 50.0, Some(45.0))).toDF("id", "userId", "total_amount", "final_amount"))
    val nows = Seq(ts("2024-01-01 12:00:00"), ts("2024-01-02 12:00:00"),
      ts("2024-01-02 12:00:00"))

    def run(lay: Runner.Layout) = nows.zipWithIndex.map { case (now, i) =>
      Runner.runFull(spark, day(i + 1), lay, "test_api", s"run${i + 1}", now)
    }
    def contents(root: String, tables: Seq[String]) = tables.map { t =>
      t -> spark.read.parquet(s"$root/$t").collect().map(_.toString).sorted.toSeq
    }.toMap
    val (a, b) = (layout(), layout())
    val (ra, rb) = (run(a), run(b))
    assert(ra == rb)
    val silver = Seq("products", "carts", "users", "orders")
    val gold = Seq("finance_mart", "operations_mart", "sales_mart")
    assert(contents(a.silver, silver) == contents(b.silver, silver))
    assert(contents(a.gold, gold) == contents(b.gold, gold))
    assert(ra.last.silverCounts == Map("products" -> 2, "carts" -> 5, "users" -> 2,
      "orders" -> 4))
  }
}
