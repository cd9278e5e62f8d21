package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K5/A5 — transform-run statistics (`cmd/command_utils.go:90-103` prints
  * `{attempted, failed, successful}` after every export).
  *
  * Spark-first: `Dataset.observe` attaches the counters to the writing query
  * itself — collected by the executors as the sink runs, no second scan. The
  * metrics arrive on a QueryExecutionListener (batch) or in
  * `StreamingQueryProgress.observedMetrics` (streaming). */
object Stats {

  val MetricName = "graft_stats"

  /** Attach attempted/successful/failed counters; `successCol` marks rows the
    * reference would count as successfully transformed. */
  def observed(df: DataFrame, successCol: String): DataFrame =
    df.observe(MetricName,
      count(lit(1)).as("attempted"),
      count_if(col(successCol)).as("successful"),
      count_if(!col(successCol)).as("failed"))

  val DecodeMetricName = "graft_xdr_decode"

  /** Attach frame/decoded/poisoned counters to a permissive-decode result
    * DataFrame (one row per frame, `error` non-null ⇔ poisoned): the counts
    * ride the export query itself — no second scan of the input. Serves
    * `--xdr-input --permissive` only; `--batch-input --permissive` counts
    * objects in its error pass
    * ([[graft.sources.LcmBatchFiles.decodeErrorsForRange]]). */
  def observedDecode(df: DataFrame): DataFrame =
    df.observe(DecodeMetricName,
      count(lit(1)).as("frames"),
      count_if(col("error").isNull).as("decoded"),
      count_if(col("error").isNotNull).as("poisoned"))

  /** Register a listener that feeds each run's stats to `onStats`. Returns a
    * deregistration handle. */
  def listen(spark: org.apache.spark.sql.SparkSession,
      metricName: String = MetricName)(
      onStats: Map[String, Long] => Unit): () => Unit = {
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        qe.observedMetrics.get(metricName).foreach { row =>
          onStats(row.schema.fieldNames.zip(row.toSeq.map {
            case l: Long => l
            case other => other.toString.toLong
          }).toMap)
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    () => spark.listenerManager.unregister(listener)
  }

  /** The KMV estimator law over [[graft.plans.KmvMinHashesAggregate]]'s
    * minima array, exact-integer end to end: fewer than k minima means the
    * sketch saw EVERY distinct hash (the count is exact); otherwise the
    * k-th minimum h_k of hashes uniform on [0, 2⁶³) yields the standard
    * (k−1)·2⁶³ div h_k estimate — integral division (`div`), so DuckDB's
    * `//` over HUGEINT replays it bit-for-bit. Hash value 0 is legal in
    * [0, 2⁶³), so h_k is clamped to ≥ 1 (h_k = 0 means k distinct inputs
    * all hashed below 1 — the estimator saturates rather than dividing by
    * zero; the oracle replays the same greatest(h_k, 1) clamp). */
  def kmvEstimate(mins: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(size(mins) < k, size(mins).cast("long"))
      .otherwise(call_function("div",
        lit(k - 1).cast("decimal(38,0)") *
          lit(new java.math.BigDecimal("9223372036854775808")),
        greatest(element_at(mins, k), lit(1L)).cast("decimal(38,0)")))
  }
}
