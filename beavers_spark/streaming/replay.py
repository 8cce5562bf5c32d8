"""Historical replay driver: run a Dag over time-sliced historical data
with a quantized virtual clock (reference semantics: beavers/replay.py —
ReplayContext/DataSource/DataSink protocols, skip-ahead clock; re-designed
here around Arrow tables + Spark DataFrames).

Replay/live parity is the reference's core promise (README.md:38-39): the
same dag code runs against Kafka (live) or files (replay) with identical
event-time behavior. The virtual clock advances in ``frequency`` quanta,
warping forward over data gaps, and each cycle delivers every record with
``timestamp <= cycle_time`` that hasn't been delivered yet
(reference: replay.py:227-268, pyarrow_replay.py:28-42).
"""

from __future__ import annotations

import dataclasses
import time
from collections.abc import Callable, Iterator
from typing import Any, Generic, Protocol, TypeVar

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from beavers_spark.dag import LOCAL_ROWS, UTC_MAX, Dag

T = TypeVar("T")


@dataclasses.dataclass(frozen=True)
class ReplayContext:
    """Virtual-time window and quantum (reference: replay.py ReplayContext)."""

    start: pd.Timestamp
    end: pd.Timestamp
    frequency: pd.Timedelta = pd.Timedelta(seconds=1)


class DataSource(Protocol[T]):
    """Pull-based historical source (reference protocol: replay.py:47-82)."""

    def read_to(self, timestamp: pd.Timestamp) -> T:
        """Records with ts <= timestamp not yet delivered (empty if none)."""

    def get_next(self) -> pd.Timestamp:
        """Timestamp of the next undelivered record, or UTC_MAX."""


class DataSink(Protocol[T]):
    """Buffered historical sink (reference protocol: replay.py:85-102)."""

    def append(self, timestamp: pd.Timestamp, data: T) -> None: ...

    def close(self) -> None: ...


class ListDataSource:
    """In-memory source of (timestamp, row) pairs -> list batches."""

    def __init__(self, rows: list[tuple[pd.Timestamp, Any]]) -> None:
        self._rows = sorted(rows, key=lambda r: r[0])
        self._pos = 0

    def read_to(self, timestamp: pd.Timestamp) -> list[Any]:
        out = []
        while self._pos < len(self._rows) and self._rows[self._pos][0] <= timestamp:
            out.append(self._rows[self._pos][1])
            self._pos += 1
        return out

    def get_next(self) -> pd.Timestamp:
        if self._pos >= len(self._rows):
            return UTC_MAX
        return self._rows[self._pos][0]


class ListDataSink:
    """In-memory sink capturing (timestamp, value) appends."""

    def __init__(self) -> None:
        self.appended: list[tuple[pd.Timestamp, Any]] = []
        self.closed = False

    def append(self, timestamp: pd.Timestamp, data: Any) -> None:
        self.appended.append((timestamp, data))

    def close(self) -> None:
        self.closed = True


class ArrowTableDataSource:
    """Time-sliced source over an in-memory Arrow table with searchsorted
    semantics (reference: ArrowTableDataSource, pyarrow_replay.py:11-42).

    Sorts once by ``ts_column`` and serves zero-copy slices per cycle.
    ``to_value`` adapts each slice to the dag's payload type (e.g.
    ``lambda t: spark.createDataFrame(t.to_pandas())`` for DataFrame dags;
    identity for Arrow dags).

    Scale note: this holds the whole table on the driver — fine for test
    fixtures and small files. For 100 TB replays use
    :class:`SparkSliceSource`, which holds at most a bounded buffer of
    rows and hands Spark a parquet path + timestamp predicate for any
    slice larger than that.
    """

    def __init__(
        self,
        table: pa.Table,
        ts_column: str,
        to_value: Callable[[pa.Table], Any] = lambda t: t,
    ) -> None:
        order = pc.sort_indices(table[ts_column])
        self._table = table.take(order)
        self._ts = self._table[ts_column].to_pandas()
        if getattr(self._ts.dtype, "tz", None) is None:
            self._ts = self._ts.dt.tz_localize("UTC")
        self._pos = 0
        self._to_value = to_value

    def read_to(self, timestamp: pd.Timestamp) -> Any:
        end = int(self._ts.searchsorted(timestamp, side="right"))
        batch = self._table.slice(self._pos, max(0, end - self._pos))
        self._pos = max(self._pos, end)
        return self._to_value(batch)

    def get_next(self) -> pd.Timestamp:
        if self._pos >= len(self._table):
            return UTC_MAX
        return pd.Timestamp(self._ts.iloc[self._pos])


class ParquetDataSource(ArrowTableDataSource):
    """Parquet file replay source (reference: ArrowTableDataSource +
    parquet read, pyarrow_replay.py:11-42)."""

    def __init__(
        self,
        path: str,
        ts_column: str,
        to_value: Callable[[pa.Table], Any] = lambda t: t,
    ) -> None:
        super().__init__(pq.read_table(path), ts_column, to_value)


class CsvDataSource(ArrowTableDataSource):
    """CSV file replay source (reference example: CsvDataSourceProvider,
    examples/replay_concepts.py:78-92 — read whole file, sort by
    timestamp, replay time-sliced)."""

    def __init__(
        self,
        path: str,
        ts_column: str,
        to_value: Callable[[pa.Table], Any] = lambda t: t,
    ) -> None:
        df = pd.read_csv(path, parse_dates=[ts_column])
        super().__init__(
            pa.Table.from_pandas(df, preserve_index=False), ts_column, to_value
        )


class CsvDataSink:
    """Buffered CSV sink: per-cycle chunks concatenated and written once
    on close (reference example: CsvDataSink,
    examples/replay_concepts.py:95-110)."""

    def __init__(self, path: str, to_table: Callable[[Any], pa.Table] = lambda v: v):
        self._path = path
        self._to_table = to_table
        self._chunks: list[pa.Table] = []

    def append(self, timestamp: pd.Timestamp, data: Any) -> None:
        self._chunks.append(self._to_table(data))

    def close(self) -> None:
        if self._chunks:
            pa.concat_tables(self._chunks).to_pandas().to_csv(
                self._path, index=False
            )


class ParquetDataSink:
    """Buffered parquet sink: per-cycle Arrow chunks concatenated and
    written on close (reference: ArrowTableDataSink,
    pyarrow_replay.py:45-56)."""

    def __init__(self, path: str, to_table: Callable[[Any], pa.Table] = lambda v: v):
        self._path = path
        self._to_table = to_table
        self._chunks: list[pa.Table] = []

    def append(self, timestamp: pd.Timestamp, data: Any) -> None:
        self._chunks.append(self._to_table(data))

    def close(self) -> None:
        if self._chunks:
            pq.write_table(pa.concat_tables(self._chunks), self._path)


class SparkSliceSource:
    """Scale-path replay source: each cycle's batch is the DataFrame of
    rows with ``prev < ts <= now`` over a parquet path, the 100 TB twin
    of :class:`ArrowTableDataSource` (which materializes the whole file
    driver-side).

    ``get_next`` reads a driver-held buffer of the next
    ``LOCAL_ROWS`` rows above the cursor, filled by one pushed-down
    ``orderBy(ts).limit(K)`` query read as Arrow, so a cycle runs no
    Spark job for its next-event time until the buffer is used up.
    A slice that lies wholly inside the buffer (the buffer holds every
    row above the cursor, or the slice ends before its last buffered
    time, so rows with equal times are never split) is served from it
    as a driver-local DataFrame, whose emptiness probes and small
    transforms Spark answers on the driver without a job. A larger
    slice is a **lazy** DataFrame whose predicate reaches the parquet
    scan (PushedFilters + row-group pruning on min/max stats), so driver
    memory stays bounded by the buffer however large a slice is.
    ``read_to`` returns ``None`` for empty slices without touching data,
    so the replay driver skips the cycle entirely (reference gate:
    replay.py:230 records-or-timer).
    """

    def __init__(self, spark: Any, path: str, ts_column: str) -> None:
        self._spark = spark
        self._df = spark.read.parquet(path)
        self._ts = ts_column
        self._ts_type = self._df.schema[ts_column].dataType
        self._cursor: pd.Timestamp | None = None  # exclusive lower bound
        # rows above the cursor in ts order, from ``_pos`` on, and their times
        self._rows = pa.table({})
        self._times = pd.DatetimeIndex([], tz="UTC")
        self._pos = 0
        self._complete = False  # the buffer holds every row above the cursor

    def _ts_literal(self, timestamp: pd.Timestamp):
        """``timestamp`` as a literal of the ts column's type, built from
        its UTC instant: PySpark reads a naive datetime in the Python
        process's local zone."""
        return F.lit(timestamp.tz_convert("UTC").to_pydatetime()).cast(self._ts_type)

    def _above_cursor(self):
        if self._cursor is None:
            return self._df
        return self._df.filter(F.col(self._ts) > self._ts_literal(self._cursor))

    def get_next(self) -> pd.Timestamp:
        if self._pos == len(self._times) and not self._complete:
            self._rows = (
                self._above_cursor()
                .filter(F.col(self._ts).isNotNull())
                .orderBy(self._ts)
                .limit(LOCAL_ROWS)
                .toArrow()
            )
            times = pd.DatetimeIndex(self._rows.column(self._ts).to_pandas())
            self._times = (
                times.tz_localize("UTC") if times.tz is None else times.tz_convert("UTC")
            )
            self._pos = 0
            self._complete = self._rows.num_rows < LOCAL_ROWS
        if self._pos == len(self._times):
            return UTC_MAX
        return self._times[self._pos]

    def read_to(self, timestamp: pd.Timestamp) -> Any:
        if self.get_next() > timestamp:
            return None  # no rows in slice: zero Spark jobs this cycle
        end = int(self._times.searchsorted(timestamp, side="right"))
        if self._complete or timestamp < self._times[-1]:
            rows = self._rows.slice(self._pos, end - self._pos)
            batch = self._spark.createDataFrame(rows, schema=self._df.schema)
        else:
            batch = self._above_cursor().filter(
                F.col(self._ts) <= self._ts_literal(timestamp)
            )
        self._cursor = timestamp
        self._pos = end
        return batch


class IteratorDataSourceAdapter(Generic[T]):
    """Stitch an ordered iterator of DataSources (e.g. one per day) into
    one continuous source, concatenating across boundaries
    (reference: replay.py:324-371)."""

    def __init__(
        self,
        sources: Iterator[DataSource],
        empty: T,
        concat: Callable[[T, T], T],
    ) -> None:
        self._sources = sources
        self._empty = empty
        self._concat = concat
        self._current: DataSource | None = next(self._sources, None)

    def read_to(self, timestamp: pd.Timestamp) -> T:
        out = self._empty
        while self._current is not None:
            batch = self._current.read_to(timestamp)
            if _batch_len(batch):
                out = self._concat(out, batch) if _batch_len(out) else batch
            if self._current.get_next() != UTC_MAX:
                break  # current source still has future records
            self._current = next(self._sources, None)
        return out

    def get_next(self) -> pd.Timestamp:
        while self._current is not None:
            nxt = self._current.get_next()
            if nxt != UTC_MAX:
                return nxt
            self._current = next(self._sources, None)
        return UTC_MAX


def _batch_len(value: Any, nonempty: bool = False) -> int:
    try:
        return len(value)
    except TypeError:
        # un-len()-able payloads: a Spark DataFrame answers emptiness
        # cheaply (and an EMPTY one must count as 0, or gap cycles with
        # a DataFrame-producing to_value would run phantom dag cycles);
        # for non-empty frames 1 means "has records, count unknown" —
        # the skip gate only needs the zero/non-zero distinction, so a
        # batch already known to be ``nonempty`` needs no probe job
        if value is None:
            return 0
        if nonempty:
            return 1
        is_empty = getattr(value, "isEmpty", None)
        if callable(is_empty):
            return 0 if is_empty() else 1
        return 1


@dataclasses.dataclass
class ReplayCycleMetrics:
    """Per-cycle accounting incl. warp ratio (reference: replay.py:165-174)."""

    cycle_time: pd.Timestamp
    records: int
    wall_seconds: float
    warp_ratio: float


class ReplayDriver:
    """Advance a dag over historical sources with a quantized virtual
    clock (reference loop semantics: replay.py:218-268).

    Per cycle: deliver every record with ts <= current_time, execute the
    dag iff anything arrived or a timer is due, flush updated sinks, then
    jump the clock to max(next_event_ts, current+frequency) rounded UP to
    the frequency grid — warping over gaps instead of idling.
    """

    def __init__(
        self,
        dag: Dag,
        context: ReplayContext,
        sources: dict[str, DataSource],
        sinks: dict[str, DataSink] | None = None,
    ) -> None:
        dag_sources = dag.get_sources()
        for name in sources:
            if name not in dag_sources:
                raise ValueError(f"no dag source named {name!r}")
        # symmetric check: a typo'd sink name would otherwise silently
        # discard all of that sink's output (get_sinks().get(name, []))
        dag_sinks = dag.get_sinks()
        for name in sinks or {}:
            if name not in dag_sinks:
                raise ValueError(f"no dag sink named {name!r}")
        self.dag = dag
        self.context = context
        self.sources = sources
        self.sinks = sinks or {}
        self.current_time = context.start
        self.metrics: list[ReplayCycleMetrics] = []

    def is_done(self) -> bool:
        return self.current_time > self.context.end

    def run(self) -> None:
        while not self.is_done():
            self.run_cycle()
        for sink in self.sinks.values():
            sink.close()

    def run_cycle(self) -> None:
        started = time.perf_counter()
        records = self._read_sources()
        if records or self.dag.get_next_timer() <= self.current_time:
            self.dag.execute(min(self.current_time, self.context.end))
            self._flush_sinks()
        wall = time.perf_counter() - started
        freq = self.context.frequency
        self.metrics.append(
            ReplayCycleMetrics(
                cycle_time=self.current_time,
                records=records,
                wall_seconds=wall,
                warp_ratio=(freq.total_seconds() / wall) if wall > 0 else float("inf"),
            )
        )
        next_ts = min(
            (src.get_next() for src in self.sources.values()), default=UTC_MAX
        )
        next_timer = self.dag.get_next_timer()
        target = max(min(next_ts, next_timer), self.current_time + freq)
        if target == UTC_MAX:
            self.current_time = self.context.end + freq  # exhausted: finish
        else:
            self.current_time = target.ceil(freq)

    def _read_sources(self) -> int:
        total = 0
        dag_sources = self.dag.get_sources()
        for name, source in self.sources.items():
            # the next undelivered record is due, so the slice holds it
            due = source.get_next() <= self.current_time
            batch = source.read_to(self.current_time)
            n = _batch_len(batch, due)
            if n:
                dag_sources[name].set_stream(batch, known_nonempty=True)
                total += n
        return total

    def _flush_sinks(self) -> None:
        cycle_id = self.dag.get_cycle_id()
        for name, sink in self.sinks.items():
            for node in self.dag.get_sinks().get(name, []):
                if node.get_cycle_id() == cycle_id:
                    sink.append(self.current_time, node.get_value())
