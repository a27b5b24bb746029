package graft.audit

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/** Run-audit log (reference: database/layers/audit/audit_writer.py and
  * the audit.ingestion_log DDL, db_setup.py:314-331). A typed Dataset
  * appended per run — queryable like any other table.
  */
object Audit {

  final case class IngestionLog(
      runId: String,
      sourceName: String,
      tableName: String,
      recordsFetched: Long,
      recordsLoaded: Long,
      recordsFailed: Long,
      status: String,
      startTime: Timestamp,
      endTime: Option[Timestamp],
      durationSeconds: Option[Double],
      errorMessage: Option[String])

  def start(runId: String, source: String, table: String,
            now: Timestamp): IngestionLog =
    IngestionLog(runId, source, table, 0L, 0L, 0L, "running", now, None, None, None)

  /** Close a run as success (or partial, when rows failed). `now` is the
    * run's logical time and stamps `endTime`, like `startTime`, so the
    * row stays deterministic; `elapsedSeconds` is the run's real
    * duration, measured by the caller on a monotonic clock
    * (`System.nanoTime`), because the logical times of one run are equal.
    */
  def complete(log: IngestionLog, fetched: Long, loaded: Long, failed: Long,
               now: Timestamp, elapsedSeconds: Double): IngestionLog =
    log.copy(
      recordsFetched = fetched, recordsLoaded = loaded, recordsFailed = failed,
      status = if (failed == 0) "success" else "partial",
      endTime = Some(now), durationSeconds = Some(elapsedSeconds))

  /** [[complete]] for a caller that did not time the run: the duration
    * is recorded as unknown, not as zero.
    */
  def complete(log: IngestionLog, fetched: Long, loaded: Long, failed: Long,
               now: Timestamp): IngestionLog =
    complete(log, fetched, loaded, failed, now, 0.0).copy(durationSeconds = None)

  /** Close a run as failed; `now` and `elapsedSeconds` as in [[complete]]. */
  def fail(log: IngestionLog, error: String, now: Timestamp,
           elapsedSeconds: Double): IngestionLog =
    log.copy(status = "failed", endTime = Some(now),
      durationSeconds = Some(elapsedSeconds), errorMessage = Some(error))

  /** Append audit rows to the log table (parquet directory). */
  def append(spark: SparkSession, logs: Seq[IngestionLog], path: String): Unit = {
    import spark.implicits._
    logs.toDS().write.mode("append").parquet(path)
  }

  def read(spark: SparkSession, path: String): Dataset[IngestionLog] = {
    import spark.implicits._
    spark.read.parquet(path).as[IngestionLog]
  }
}
