package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.bronze.Bronze
import graft.silver.Silver
import graft.gold.Gold
import graft.operators.{Quality, Upsert}
import graft.audit.Audit
import graft.Concurrently

/** Full-pipeline orchestration (reference scripts/run_pipeline.py:332-405
  * `run_full_pipeline`: ingestion → silver → quality gate → gold →
  * audit; the Airflow DAG runs the same stages,
  * doeecommerce_batch_pipeline.py:258-359).
  *
  * One driver program, four stage functions over date-partitionable
  * parquet layers. The quality gate between silver and gold throws —
  * matching the DAG's hard failure (dag :163-179). "now" is injected
  * for determinism (SURVEY §7.4).
  *
  * Stages run one after another, but inside a stage each table's work
  * (bronze append, silver re-derive + upsert, quality suite, gold mart
  * upsert) runs on its own thread: a day's tables are small, so a stage
  * is bound by per-job planning and scheduling, which the tables now
  * overlap instead of paying in turn. A stage returns only after every
  * table has finished, also when one of them failed, and then rethrows
  * the first failure in table order.
  */
object Runner {

  final case class Layout(bronze: String, silver: String, gold: String, audit: String)

  final case class RunReport(runId: String, bronzeCounts: Map[String, Long],
                             silverCounts: Map[String, Long],
                             qualityResults: Seq[Quality.CheckResult],
                             goldCounts: Map[String, Long])

  /** Atomic-ish overwrite: write to a temp sibling, then rename-aside
    * swap ([[graft.maintenance.Retention.swapAside]]). Needed because
    * an upsert reads the live table it is about to replace; the
    * rename-aside discipline (never delete-then-rename) means a crash
    * mid-swap leaves either the live table or a recoverable `.old`
    * copy — there is no window in which the only copy is deleted.
    */
  private[graft] def overwriteSwapped(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), df.sparkSession.sparkContext.hadoopConfiguration)
    graft.maintenance.Retention.swapAside(fs,
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path))
  }

  /** Rows that `write` writes from `df`, counted by an `Observation`
    * DURING the write: one pass over the data, not a write plus a
    * re-read (a schema-inference job and a count job). `name` must be
    * unique among the writes that run concurrently.
    */
  private def countWritten(df: DataFrame, name: String)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation(name)
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Name of the threads a stage runs its tables on. */
  private val TableThread = "pipeline-table"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path))
  }

  /** Stage 1 — bronze: stamp lineage metadata, append to the raw layer
    * (reference run_pipeline.py:135-198 over the three ingestors).
    */
  def stageBronze(spark: SparkSession, staged: Map[String, DataFrame],
                  layout: Layout, source: String, now: Timestamp): Map[String, Long] =
    Concurrently.forEach(staged.toSeq, TableThread) { case (table, df) =>
      val stamped = Bronze.withIngestMeta(df, source, table, s"${table}_raw", lit(now))
        // date-partitioned raw layer: retention/backfill become partition
        // drops, and day-grain reads prune at the scan
        .withColumn("_ingestion_date", to_date(lit(now)))
      table -> countWritten(stamped, s"bronze_$table")(Bronze.writeLayer(_,
        s"${layout.bronze}/${table}_raw", "append", partitionCols = Seq("_ingestion_date")))
    }.toMap

  /** Stage 2 — silver: transform each bronze entity and upsert by its
    * PK (reference run_pipeline.py:200-267 + transform_silver.py).
    */
  def stageSilver(spark: SparkSession, layout: Layout): Map[String, Long] = {
    val transforms: Map[String, (DataFrame => DataFrame, String)] = Map(
      "products" -> (Silver.products _, "product_id"),
      "carts" -> (Silver.carts _, "cart_id"),
      "users" -> (Silver.users _, "email"),
      "orders" -> (Silver.orders _, "order_id"))
    val present = transforms.toSeq.filter { case (table, _) =>
      exists(spark, s"${layout.bronze}/${table}_raw")
    }
    Concurrently.forEach(present, TableThread) { case (table, (fn, pk)) =>
      val fresh = fn(Bronze.readLayer(spark, s"${layout.bronze}/${table}_raw"))
      val silverPath = s"${layout.silver}/$table"
      val merged =
        if (exists(spark, silverPath))
          Upsert.merge(spark.read.parquet(silverPath), fresh, Seq(pk))
        else fresh
      table -> countWritten(merged, s"silver_$table")(overwriteSwapped(_, silverPath))
    }.toMap
  }

  /** Stage 3 — quality gate over silver PKs (reference
    * quality_checks.py:52-78; gate semantics from the DAG).
    */
  def stageQuality(spark: SparkSession, layout: Layout): Seq[Quality.CheckResult] = {
    val pkMap = Map("products" -> Seq("product_id"), "carts" -> Seq("cart_id"),
      "users" -> Seq("email"), "orders" -> Seq("order_id"))
    val present = pkMap.toSeq.filter { case (table, _) =>
      exists(spark, s"${layout.silver}/$table")
    }
    val results = Concurrently.forEach(present, TableThread) { case (table, pks) =>
      Quality.suite(Map(table -> ((spark.read.parquet(s"${layout.silver}/$table"), pks))))
    }.flatten
    Quality.gate(results)
    results
  }

  /** Stage 4 — gold marts: the reference's three daily KPI marts
    * (publish_gold.py:25-84), each upserted by date with the reference's
    * bookkeeping stamps (db_setup.py:258-262): `created_at` survives
    * re-publish, `updated_at` refreshes on every conflict update.
    */
  def stageGold(spark: SparkSession, layout: Layout,
                now: Timestamp): Map[String, Long] = {
    val cartsPath = s"${layout.silver}/carts"
    if (!exists(spark, cartsPath)) Map.empty
    else {
      val carts = spark.read.parquet(cartsPath)
      val marts = Map(
        "finance_mart" ->
          Gold.dailyRevenue(carts, "last_updated", "user_id", "total_value"),
        "operations_mart" ->
          Gold.operationsMart(carts, "last_updated", "discount_percentage")) ++
        (if (exists(spark, s"${layout.silver}/products"))
          Map("sales_mart" -> Gold.salesMart(carts,
            spark.read.parquet(s"${layout.silver}/products"),
            "last_updated", "user_id"))
        else Map.empty)
      Concurrently.forEach(marts.toSeq, TableThread) { case (name, daily) =>
        val martPath = s"${layout.gold}/$name"
        val merged =
          if (exists(spark, martPath))
            Upsert.upsertStamped(spark.read.parquet(martPath), daily, lit(now),
              Seq("event_date"))
          else Upsert.stampNew(daily, lit(now))
        name -> countWritten(merged, s"gold_$name")(overwriteSwapped(_, martPath))
      }.toMap
    }
  }

  /** Ranged bronze backfill (reference scripts/backfill.py:198-246
    * `backfill_date_range`): chunk `[start, end)` into
    * `batchSizeDays`-day batches; for each batch, fetch every day's
    * staged frames, stamp them exactly like [[stageBronze]] with that
    * day's ingestion date, and dynamic-partition-overwrite the touched
    * day partitions. The reference's DELETE-range-then-reinsert becomes
    * one idempotent partition overwrite — re-running the same window
    * reproduces the same state, and untouched days are never read or
    * written. Returns re-ingested row counts per table.
    */
  def backfillBronze(spark: SparkSession,
                     fetch: java.time.LocalDate => Map[String, DataFrame],
                     layout: Layout, source: String,
                     start: java.time.LocalDate, end: java.time.LocalDate,
                     batchSizeDays: Int = 1): Map[String, Long] = {
    require(batchSizeDays >= 1, s"batchSizeDays must be >= 1, got $batchSizeDays")
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(_.isBefore(end)).toSeq
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    days.grouped(batchSizeDays).zipWithIndex.foreach { case (batch, bi) =>
      val perTable = batch
        .flatMap { day =>
          val dayTs = Timestamp.valueOf(day.atStartOfDay)
          fetch(day).map { case (table, df) =>
            table -> Bronze.withIngestMeta(df, source, table, s"${table}_raw", lit(dayTs))
              .withColumn("_ingestion_date", to_date(lit(day.toString)))
          }
        }
        .groupBy(_._1)
        .map { case (table, frames) => table -> frames.map(_._2).reduce(_ unionByName _) }
      perTable.foreach { case (table, df) =>
        counts(table) += countWritten(df, s"backfill_${table}_$bi")(
          graft.maintenance.Retention.overwritePartitions(_,
            s"${layout.bronze}/${table}_raw", "_ingestion_date"))
      }
    }
    counts.toMap
  }

  /** Archive stage (reference scripts/cleanup.py:88-135
    * `archive_old_data`: DELETE..RETURNING into `{table}_archive`): move
    * bronze partitions older than `cutoff` into the archive table. The
    * move is two partition-level steps — (1) overwrite the same day
    * partitions in the archive with the slice (stamped `_archived_at`),
    * (2) drop the live partition directories — so the kept data is never
    * rewritten and a crash between the steps re-runs cleanly: step 1 is
    * a dynamic partition overwrite (idempotent), step 2 only deletes
    * what step 1 already copied. Returns the archived row count.
    */
  def stageArchive(spark: SparkSession, layout: Layout, table: String,
                   cutoff: java.time.LocalDate, now: Timestamp): Long = {
    val livePath = s"${layout.bronze}/${table}_raw"
    val archivePath = s"${layout.bronze}/${table}_archive"
    if (!exists(spark, livePath)) 0L
    else {
      val slice = Bronze.readLayer(spark, livePath)
        .filter(col("_ingestion_date") < lit(cutoff.toString).cast("date"))
        .withColumn("_archived_at", lit(now))
      val archived = countWritten(slice,
        s"archive_${table}_${System.identityHashCode(slice)}")(
        graft.maintenance.Retention.overwritePartitions(_, archivePath, "_ingestion_date"))
      graft.maintenance.Retention.dropPartitionsBefore(
        spark, livePath, "_ingestion_date", cutoff)
      archived
    }
  }

  /** Full pipeline: ingestion → silver → quality → gold → audit. */
  def runFull(spark: SparkSession, staged: Map[String, DataFrame],
              layout: Layout, source: String, runId: String,
              now: Timestamp): RunReport = {
    val t0 = System.nanoTime()
    def elapsedSeconds = (System.nanoTime() - t0) / 1e9
    val log = Audit.start(runId, source, "pipeline", now)
    try {
      val bronze = stageBronze(spark, staged, layout, source, now)
      val silver = stageSilver(spark, layout)
      val quality = stageQuality(spark, layout)
      val gold = stageGold(spark, layout, now)
      val fetched = bronze.values.sum
      Audit.append(spark,
        Seq(Audit.complete(log, fetched, fetched, 0L, now, elapsedSeconds)), layout.audit)
      RunReport(runId, bronze, silver, quality, gold)
    } catch {
      case e: Throwable =>
        Audit.append(spark,
          Seq(Audit.fail(log, e.getMessage, now, elapsedSeconds)), layout.audit)
        throw e
    }
  }
}
