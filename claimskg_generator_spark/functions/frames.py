"""Frame-construction helpers shared by sources, operators and plans.

- ``local_frame``: a driver-side row list as a JVM ``LocalRelation``.
  ``createDataFrame(list)`` builds a ``LogicalRDD`` over a PythonRDD, so
  every query that computes the frame launches a Python-worker job just to
  re-serialize the literal rows; an Arrow table goes to the JVM once and
  stays there as local rows the optimizer can fold and broadcast.
- ``CacheFills``: cache the frames several plan branches read and fill
  each with one action, in dependency order, on a background thread while
  the driver goes on building the rest of the plan.  A cache left cold is
  filled by the first query that reads it, and that query's concurrently
  scheduled branches race to compute it — each one re-running the whole
  upstream plan.
"""

from concurrent.futures import Future, ThreadPoolExecutor
from typing import Iterable, List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as a LocalRelation.
    Values reach the JVM as-is: no SQL-literal escaping is involved."""
    schema = StructType.fromDDL(ddl)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=arrow_schema.field(i).type)
        for i in range(len(schema.fields))
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema)


class CacheFills:
    """Shared frames of one plan, cached and — when ``enabled`` — filled.

    ``fills(df)`` returns ``df.cache()``; enabled, it also queues one
    count() of it.  The queue runs on a single background thread in the
    order frames were added, which is their dependency order (a frame can
    only be built from frames added before it), so each fill reads the
    loaded caches of the ones before it.  ``wait()`` — or leaving the
    ``with`` block — blocks until every queued fill is done and re-raises
    a failed one; call it before the query that reads the frames runs.
    Disabled, no action runs and no thread starts: plan construction stays
    job-free.  Fills run with the caller's job group, local properties and tags.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._pool: Optional[ThreadPoolExecutor] = None
        self._pending: List[Future] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        if self.enabled:
            if self._pool is None:
                self._pool = ThreadPoolExecutor(
                    1, thread_name_prefix="cache-fill")
            self._pending.append(
                self._pool.submit(
                    inheritable_thread_target(df.sparkSession)(df.count)))
        return df

    def wait(self) -> None:
        pending, self._pending = self._pending, []
        try:
            for fut in pending:
                fut.result()
        finally:
            if self._pool is not None:
                self._pool.shutdown()
                self._pool = None

    def __enter__(self) -> "CacheFills":
        return self

    def __exit__(self, *exc) -> None:
        self.wait()
