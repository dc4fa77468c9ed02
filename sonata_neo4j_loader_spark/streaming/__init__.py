from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from . import incremental


def drain_to_parquet(df: DataFrame, output_dir: str, checkpoint_dir: str) -> StreamingQuery:
    """Drain the input a streaming frame has available into append-mode
    parquet (``trigger(availableNow=True)``) and wait for it; re-invoking
    resumes from ``checkpoint_dir``. THE file drain of the sessions,
    windows, dedup and joins streams (``incremental`` runs a
    ``foreachBatch`` merge sink instead)."""
    query = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


__all__ = ["drain_to_parquet", "incremental"]
