"""Streaming drift monitoring: per-micro-batch PSI against a frozen
baseline.

The production deployment of ``operators.quality.psi_report``: the
baseline distribution (yesterday's values, the training-set mix) is
computed ONCE and its decile cut points broadcast; every arriving
micro-batch is binned against those cuts and its per-bin PSI terms are
appended to a monitor table with the batch id. Alerting is then a
threshold query over the monitor table — the PSI rule-of-thumb bands
(<0.1 stable / >0.25 drifted) apply per batch.

Design notes:
- the baseline is materialized to its ≤ n_bins cut points up front —
  the stream never re-scans baseline data;
- foreachBatch + append keeps the sink idempotent-friendly (compose
  with ``TxTable.stream_sink`` for exactly-once if the monitor table
  must be transactional);
- per-batch PSI is intentionally NOT a windowed aggregate: drift is a
  property of each delivery, and batch ids give lineage back to the
  offending data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_psi_monitor_stream(
    baseline: DataFrame,
    stream: DataFrame,
    value_col: str,
    out_path: str,
    checkpoint: str,
    n_bins: int = 10,
    eps: float = 1e-6,
):
    """Start a foreachBatch query appending one PSI report per
    micro-batch to ``out_path`` (parquet), columns = psi_report's plus
    ``batch_id``. Returns the StreamingQuery (caller owns lifecycle)."""
    from data_warehouse_punta_fina_spark.operators.quality import psi_report
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = psi_report(baseline, batch_df, value_col, n_bins=n_bins, eps=eps)
        report.withColumn("batch_id", F.lit(int(batch_id))).write.mode("append").parquet(
            out_path
        )

    return drain(stream, checkpoint, sink)
