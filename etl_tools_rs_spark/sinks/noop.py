"""Null sink: consume the frame, return the row count.

Reference parity: ``MockJsonDataOutput`` — serialize, log, count
(etl-core/src/datastore/mock.rs:16-76). ``write`` runs the full plan as one
``count()`` and returns that count for the step stats.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class NoopSink:
    def write(self, df: DataFrame) -> int:
        return df.count()
