"""Structured Streaming operators (SURVEY.md §2.7) and the one
``Trigger.AvailableNow`` drain they all run through.

The reference's crawl loop is a long-running incremental process
[R: crawtext.py main loop]; here each invocation drains whatever input
files have appeared since the last run and stops. ``drain`` is the only
place a streaming query starts, waits and fails: the callers build the
source (``maxFilesPerTrigger`` is a SOURCE option — on the writer Spark
silently ignores it) and the sink, and nothing else.
"""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter

# Seconds one availableNow drain may run before it is stopped.
DRAIN_TIMEOUT_S = 600


def drain(writer: DataStreamWriter, checkpoint: str) -> None:
    """Start ``writer`` as an availableNow query checkpointed at
    ``checkpoint`` and block until it has processed every input file
    present at start. A query still running after ``DRAIN_TIMEOUT_S`` is
    stopped before ``TimeoutError`` is raised, so a caller that clears the
    checkpoint or sink next never races a live query; a failed query
    raises its ``StreamingQueryException``."""
    query = (writer.option("checkpointLocation", checkpoint)
             .trigger(availableNow=True).start())
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"availableNow drain into {checkpoint} did not "
                           f"finish within {DRAIN_TIMEOUT_S} s")
