package graft.pipeline

import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Stage composition + retry — the reference's orchestration layer
  * (O1–O3, `/root/reference/dags/airflow_dag.py:11-62`) collapsed into
  * one lineage.
  *
  * The reference needs Airflow because each stage is a separate
  * process exchanging serialized rows through a metadata DB (X1). In
  * Spark the extract→transform→load→report chain is a single lazy
  * plan; "task boundaries" are just function composition, and the only
  * real boundaries left are shuffles. What remains worth keeping from
  * Airflow is the retry policy (O3) and failure notification — a
  * 10-line driver loop.
  */
object Pipeline {

  /** A named transform stage: DataFrame => DataFrame. */
  final case class Stage(name: String, f: DataFrame => DataFrame)

  /** O1: linear composition (task_1 >> task_2 >> ...). */
  def run(input: DataFrame, stages: Seq[Stage]): DataFrame =
    stages.foldLeft(input)((df, s) => s.f(df))

  /** O3: retry wrapper — `retries` attempts with `delayMs` backoff,
    * notifying on each failure, like the reference's
    * retries=1/retry_delay=30s/email_on_retry defaults. Only non-fatal
    * failures retry: an interrupt or a fatal error propagates at once. */
  def withRetry[T](retries: Int = 1, delayMs: Long = 30000,
      onFailure: Throwable => Unit = _ => ())(body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= retries) {
      try return body
      catch {
        case NonFatal(t) =>
          last = t
          onFailure(t)
          attempt += 1
          if (attempt <= retries) Thread.sleep(delayMs)
      }
    }
    throw last
  }
}
