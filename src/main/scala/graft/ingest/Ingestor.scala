package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp

import graft.audit.Audit
import graft.operators.Quality

/** The reference's extension surface: BaseIngestionGenerator's
  * fetch → validate → sanitize → load template method
  * (base_generator.py:84-127 abstract fetch_data/load_data +
  * overridable validate_data/sanitize_data; run_ingestion at :169-249).
  *
  * Implementors supply `fetch` (and optionally validation checks and a
  * sanitize transform); `run` assembles the metrics row exactly like
  * the reference's IngestionMetrics (base_generator.py:21-42).
  */
trait Ingestor {

  def name: String

  /** Produce the raw frame (staged JSON read, API dump, generator). */
  def fetch(spark: SparkSession): DataFrame

  /** Quality checks on the fetched frame; failures abort the run
    * (reference validate_data returning False).
    */
  def validate(df: DataFrame): Seq[Quality.CheckResult] = Nil

  /** Row-level cleanup before load (reference sanitize_data). */
  def sanitize(df: DataFrame): DataFrame = df

  /** Template method: fetch → validate (gate) → sanitize → load.
    * `load` returns the loaded row count; `now` is injected for
    * deterministic audit stamps, and the audit row's duration is timed.
    */
  final def run(spark: SparkSession, load: DataFrame => Long,
                now: Timestamp): Audit.IngestionLog = {
    val t0 = System.nanoTime()
    def elapsedSeconds = (System.nanoTime() - t0) / 1e9
    val log = Audit.start(runId = s"$name@$now", name, name, now)
    try {
      val raw = fetch(spark)
      val fetched = raw.count()
      Quality.gate(validate(raw))
      val loaded = load(sanitize(raw))
      Audit.complete(log, fetched, loaded, fetched - loaded, now, elapsedSeconds)
    } catch {
      case e: Throwable => Audit.fail(log, e.getMessage, now, elapsedSeconds)
    }
  }
}
