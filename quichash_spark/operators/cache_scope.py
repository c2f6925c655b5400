"""Caller-owned registry for persisted intermediate DataFrames.

The LSH stage persists a small intermediate (the bucket summary) that
must outlive the function that created it — the caller materializes the
returned DataFrames, THEN the cache can go.  There is no module default
scope: a module-global list would let two pipelines sharing a session
unpersist each other's blocks mid-run, and nothing would ever drain it.
Each run owns a :class:`CacheScope`, passes it down and releases it, so
releases are scoped to the run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CacheScope:
    """Collects ``persist()``-ed DataFrames and releases them together.

    Usable as a context manager::

        with CacheScope() as scope:
            pairs, dropped = unified_candidates(sigs, cfg, scope=scope)
            pairs.write.parquet(...)   # materialize while cached
        # caches released here, only THIS run's blocks
    """

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._dfs.append(df)
        return df

    @property
    def dataframes(self) -> tuple[DataFrame, ...]:
        """Currently-registered (not yet released) DataFrames."""
        return tuple(self._dfs)

    def release(self) -> None:
        while self._dfs:
            self._dfs.pop().unpersist()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False
