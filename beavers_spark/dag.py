"""The incremental dataflow kernel: a Spark-first re-design of the
reference's Dag/Node engine (reference semantics: beavers/dag.py —
two node kinds, dirty-marking, cycle-based execution; studied, not copied).

Semantics preserved (SURVEY.md §1.3, §3.1):
- **stream** nodes: per-cycle micro-batch values, reset to empty after each
  cycle; empty output => downstream NOT notified (dag.py:296-298, 350).
- **state** nodes: durable values recomputed only when an input fired;
  ``STATE_UNCHANGED`` / ``SilentUpdate`` suppress notification
  (dag.py:334-343).
- execution = one pass over nodes in insertion (topological) order per
  ``execute(now)`` cycle, timers flushed first (dag.py:663-677).
- ``cutoff`` (value-equality propagation suppression, dag.py:572-594),
  ``silence`` (update without notify, dag.py:596-606), ``prune``
  (drop nodes unreachable from sinks, dag.py:608-638), ``now`` silent
  clock (dag.py:541-550), one-pending-timer-per-node TimerManager
  (dag.py:95-154).

Spark-first differences (deliberate, SURVEY.md §3.1 "Spark mapping"):
- Payloads are typically **DataFrames**: a stream node's value is the
  micro-batch DataFrame of the current cycle; a state node's value is an
  accumulated DataFrame. Arbitrary Python ``Sized`` payloads also work
  (the reference's list/dict/set examples).
- State DataFrames are cached and periodically ``localCheckpoint``-ed to
  truncate lineage — without this, incremental recomputation builds an
  unboundedly deep plan (the classic iterative-Spark failure mode). A
  state value that is already a materialized checkpoint (a node function
  that ``localCheckpoint``-ed it) is kept as is: no second job.
- A DataFrame stream output is read once, ``limit(LOCAL_ROWS + 1)``
  as Arrow. When it fits under the cap, the node's value becomes a
  one-partition driver-local frame of those rows: its emptiness is the
  row count, and downstream nodes, sinks and views read it without
  recomputing its plan or shuffling it. An output over the cap, or of a
  schema Arrow cannot round-trip (checked before any job runs), keeps
  the ``foreachBatch`` idiom instead: it is persisted and probed with
  ``df.isEmpty()`` (a limit-1 job), and unpersisted when the node's
  value is reset or replaced, so at most one cycle's stream outputs stay
  cached. A node that went over the cap once stays on that path, so it
  never pays the bounded read twice. Driver memory stays bounded by the
  cap. Source batches skip the probe when the driver staging them
  already knows they are non-empty. A value whose plan reads only
  driver-local ``LocalRelation``s (a small replay slice, a 0-row empty
  value, an upstream node's local value) is neither read nor persisted:
  Spark probes it on the driver, and a cache would make that probe a
  job again.
- At 100 TB, node *values* live in executors (DataFrames); the kernel on
  the driver holds only plan references + dirty flags — driver memory is
  O(nodes), never O(data).
"""

from __future__ import annotations

import asyncio
import dataclasses
import inspect
import operator
import traceback
from collections.abc import Callable
from typing import Any

import pandas as pd
from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)

UTC_EPOCH = pd.Timestamp(0, tz="UTC")
UTC_MAX = pd.Timestamp.max.tz_localize("UTC")

#: sentinel a state function may return to signal "recomputed, no change"
STATE_UNCHANGED = object()

# how many cycles between lineage truncations of cached state DataFrames
_CHECKPOINT_EVERY = 16

#: rows a stream node's value or a replay source's prefetch buffer holds
#: on the driver; a larger stream output stays distributed
LOCAL_ROWS = 1024


@dataclasses.dataclass
class SilentUpdate:
    """Wrap a state node's return value: store it but don't notify
    observers (reference: SilentUpdate, dag.py:157-165)."""

    value: Any


class TimerManager:
    """One pending wake-up per owning node (reference: dag.py:95-154)."""

    def __init__(self) -> None:
        self._next = UTC_MAX

    def set_next_timer(self, when: pd.Timestamp) -> None:
        self._next = when

    def clear_next_timer(self) -> None:
        self._next = UTC_MAX

    def has_next_timer(self) -> bool:
        return self._next != UTC_MAX

    def get_next_timer(self) -> pd.Timestamp:
        return self._next

    def _pop_if_due(self, now: pd.Timestamp) -> bool:
        if self._next <= now:
            self._next = UTC_MAX
            return True
        return False


@dataclasses.dataclass
class DagMetrics:
    """Cycle accounting (reference: DagMetrics, dag.py:381-388)."""

    notifications: int = 0
    updated_nodes: int = 0
    cycles: int = 0
    nodes: int = 0


def _is_empty(value: Any) -> bool:
    if value is None:
        return True
    if isinstance(value, DataFrame):
        return value.isEmpty()
    try:
        return len(value) == 0
    except TypeError:
        return False


def _driver_local(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s analyzed plan is a
    ``LocalRelation``: Spark evaluates it on the driver, without a job."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return all(
            leaves.apply(i).getClass().getSimpleName() == "LocalRelation"
            for i in range(leaves.size())
        )
    except (AttributeError, Py4JError):  # no JVM handle (e.g. Spark Connect)
        return False


def _keeps_nullability(dt: DataType) -> bool:
    """False when ``createDataFrame`` cannot cast Arrow data of ``dt``
    back: it rebuilds a struct holding a nested or timestamp field with
    every field nullable, so a non-nullable field there fails the cast.
    Arrow skips that check on 0 rows, so a 0-row trial misses it."""
    if isinstance(dt, ArrayType):
        return _keeps_nullability(dt.elementType)
    if isinstance(dt, MapType):
        return _keeps_nullability(dt.keyType) and _keeps_nullability(dt.valueType)
    if not isinstance(dt, StructType):
        return True
    nested = (StructType, ArrayType, MapType, TimestampType, TimestampNTZType)
    rebuilt = any(isinstance(f.dataType, nested) for f in dt.fields)
    return all(
        (f.nullable or not rebuilt) and _keeps_nullability(f.dataType) for f in dt.fields
    )


def _arrow_round_trips(spark: SparkSession, schema: StructType) -> bool:
    """True when rows of ``schema`` survive ``toArrow`` and
    ``createDataFrame(table, schema)``, found without a Spark job: a
    year-month interval or a UDT fails on a 0-row table, a non-nullable
    child under a rebuilt nested column fails ``_keeps_nullability``."""
    if not all(_keeps_nullability(f.dataType) for f in schema.fields):
        return False
    try:
        spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    except Exception:  # noqa: BLE001 - any failure means "cannot"
        return False
    return True


def _empty_table(
    spark: SparkSession, schema: str | StructType
) -> Callable[[], DataFrame]:
    """Factory of one shared 0-row DataFrame of ``schema``, built once as
    a driver-local frame so that probing it runs no Spark job."""
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    empty = spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)
    return lambda: empty


def _checkpointed_leaf(df: DataFrame) -> bool:
    """True when ``df`` is a materialized checkpoint: a leaf plan over an
    already-checkpointed RDD, so it has no lineage to truncate and no
    upstream data left to materialize."""
    try:
        plan = df._jdf.queryExecution().logical()
        return (
            plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isCheckpointed()
        )
    except (AttributeError, Py4JError):  # no JVM handle (e.g. Spark Connect)
        return False


class Node:
    """One vertex: a function, its input nodes, observers, last value and
    the cycle in which it last updated."""

    __slots__ = (
        "_dag",
        "_fn",
        "_inputs",
        "_kwargs",
        "_observers",
        "_kind",  # stream | state | const | source | sink | now | timer
        "_empty_factory",
        "_value",
        "_cycle_id",
        "_notified",
        "_name",
        "_pending",  # staged source value
        "_pending_nonempty",  # caller-verified non-emptiness (skip probe)
        "_silent",
        "_cached_df",
        "_arrow_checked",  # (schema, round-trips) of the last output read
        "_over_cap",  # an output went over LOCAL_ROWS: never read again
        "_call_site",
    )

    def __init__(
        self,
        dag: "Dag",
        kind: str,
        fn: Callable | None,
        inputs: tuple["Node", ...],
        kwargs: dict[str, "Node"],
        empty_factory: Callable[[], Any] | None = None,
        name: str | None = None,
        silent: bool = False,
        call_site: str | None = None,
    ) -> None:
        self._dag = dag
        self._kind = kind
        self._fn = fn
        self._inputs = inputs
        self._kwargs = kwargs
        self._observers: list[Node] = []
        self._empty_factory = empty_factory
        self._value = empty_factory() if empty_factory is not None else None
        self._cycle_id = 0
        self._notified = False
        self._name = name
        self._pending = None
        self._pending_nonempty = False
        self._silent = silent
        self._cached_df: DataFrame | None = None
        self._arrow_checked: tuple[StructType, bool] | None = None
        self._over_cap = False
        self._call_site = call_site

    # -- public accessors (reference: dag.py:264-286) ----------------------

    def get_value(self) -> Any:
        return self._value

    def get_cycle_id(self) -> int:
        return self._cycle_id

    def set_stream(self, value: Any, known_nonempty: bool = False) -> None:
        """Stage an externally-provided batch on a source node.

        ``known_nonempty=True`` skips the cycle's emptiness probe — for
        DataFrame payloads that probe is a Spark job, and a driver that
        already knows the batch is non-empty (the live foreachBatch
        loop's row count, a replay source whose next record is due)
        should not pay it again.
        """
        if self._kind != "source":
            raise ValueError("set_stream is only valid on source nodes")
        self._pending = value
        self._pending_nonempty = known_nonempty
        self._stain()

    # -- internals ---------------------------------------------------------

    def _stain(self) -> None:
        if not self._notified:
            self._notified = True
        self._dag._metrics.notifications += 1

    def _observe(self, node: "Node") -> None:
        self._observers.append(node)

    def _gather(self) -> tuple[list[Any], dict[str, Any]]:
        return (
            [n.get_value() for n in self._inputs],
            {k: n.get_value() for k, n in self._kwargs.items()},
        )

    def _empty(self) -> Any:
        return self._empty_factory() if self._empty_factory is not None else None

    def _hold(self, df: DataFrame | None) -> None:
        """Make ``df`` the DataFrame this node keeps cached, unpersisting
        the one it replaces."""
        prev, self._cached_df = self._cached_df, df
        if prev is not None and prev is not df:
            try:
                prev.unpersist()
            except Exception:  # noqa: BLE001 - best-effort release
                pass

    def _retain_state_df(self, df: DataFrame) -> DataFrame:
        """Cache the new state value; truncate lineage periodically.

        Iterative reuse of a DataFrame across cycles grows the logical plan
        without bound; ``localCheckpoint(eager)`` cuts it. Production note:
        on a cluster use reliable ``checkpoint()`` to survive executor
        loss; localCheckpoint is the single-node analog. A value the node
        function already checkpointed needs neither.
        """
        if _checkpointed_leaf(df):
            self._hold(None)
            return df
        if self._dag._cycle_id % _CHECKPOINT_EVERY == 0:
            df = df.localCheckpoint(eager=True)
        else:
            df = df.persist()
            df.count()  # materialize so upstream batches can be released
        self._hold(df)
        return df

    def _run_cycle(self, cycle_id: int) -> None:
        """Recompute if notified; enforce stream/state update semantics."""
        if self._kind == "const":
            return
        if self._kind == "source":
            if self._notified and (
                self._pending_nonempty or not _is_empty(self._pending)
            ):
                self._value = self._pending
                self._pending = None
                self._pending_nonempty = False
                self._mark_updated(cycle_id, notify=True)
            else:
                self._pending = None
                self._pending_nonempty = False
                self._value = self._empty()
            self._notified = False
            return
        if not self._notified:
            # stream values are ephemeral: reset between cycles
            if self._kind == "stream" and self._cycle_id != cycle_id:
                self._value = self._empty()
                self._hold(None)
            return
        self._notified = False
        args, kwargs = self._gather()
        try:
            result = self._fn(*args, **kwargs)
            if inspect.isawaitable(result):
                # Async node UDFs (reference tests/test_dag.py:208-239 uses a
                # sync asyncio.run wrapper; here coroutine functions are
                # accepted directly): the coroutine runs on the dag-owned
                # event loop so `await asyncio.gather(...)` inside a node
                # overlaps per-element I/O within the cycle.
                result = self._dag._run_awaitable(result)
        except Exception as exc:
            # report the user's build-site, not just the kernel frame
            # (reference: call-site traceback capture, dag.py:318-326, 373)
            if self._call_site is not None:
                exc.add_note(f"in dag node created at {self._call_site}")
            raise
        self._dag._metrics.updated_nodes += 1
        if self._kind in ("stream", "sink"):
            if self._kind == "sink":
                self._value = result
                self._mark_updated(cycle_id, notify=False)
                return
            self._hold(None)  # the previous cycle's output
            if isinstance(result, DataFrame):
                result, empty = self._settle_frame(result)
            else:
                empty = _is_empty(result)
            if empty:
                self._value = self._empty()
                self._hold(None)
            else:
                self._value = result
                self._mark_updated(cycle_id, notify=True)
            return
        # state node
        if result is STATE_UNCHANGED:
            return
        silent = self._silent
        if isinstance(result, SilentUpdate):
            result, silent = result.value, True
        if isinstance(result, DataFrame):
            result = self._retain_state_df(result)
        self._value = result
        self._mark_updated(cycle_id, notify=not silent)

    def _round_trips(self, df: DataFrame) -> bool:
        """``_arrow_round_trips`` of ``df``'s schema, tried once per
        schema the node outputs."""
        schema = df.schema
        if self._arrow_checked is None or self._arrow_checked[0] != schema:
            self._arrow_checked = (schema, _arrow_round_trips(df.sparkSession, schema))
        return self._arrow_checked[1]

    def _settle_frame(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """The value a firing stream node keeps for a DataFrame output
        ``df``, and whether that output is empty.

        Under the cap, one bounded Arrow read gives both: the value is a
        one-partition driver-local frame of the rows (one partition, so
        a downstream key grouping or sort needs no exchange). Otherwise
        ``df`` is persisted before its ``isEmpty`` probe, so downstream
        nodes and sinks read the probed value instead of recomputing its
        plan. A driver-local ``df`` is probed as is: Spark answers on the
        driver, and a cache would make that probe a job again."""
        if _driver_local(df):
            return df, df.isEmpty()
        known_nonempty = False
        if not self._over_cap and self._round_trips(df):
            table = df.limit(LOCAL_ROWS + 1).toArrow()
            if table.num_rows == 0:
                return df, True
            if table.num_rows <= LOCAL_ROWS:
                local = df.sparkSession.createDataFrame(table, schema=df.schema)
                return local.coalesce(1), False
            self._over_cap = known_nonempty = True
        if df.storageLevel == StorageLevel.NONE:
            self._hold(df.persist())
        return df, not known_nonempty and df.isEmpty()

    def _mark_updated(self, cycle_id: int, notify: bool) -> None:
        self._cycle_id = cycle_id
        if notify:
            for obs in self._observers:
                obs._stain()


class _Prototype:
    """Deferred node whose inputs arrive via ``.map`` (reference:
    NodePrototype, dag.py:363-374)."""

    def __init__(self, dag: "Dag", kind: str, fn: Callable, empty_factory):
        self._dag = dag
        self._kind = kind
        self._fn = fn
        self._empty_factory = empty_factory

    def map(self, *nodes: Node, **kw_nodes: Node) -> Node:
        for n in (*nodes, *kw_nodes.values()):
            if not isinstance(n, Node):
                raise TypeError(f"inputs must be Nodes, got {type(n)!r}")
            if n._dag is not self._dag:
                raise ValueError("input node belongs to a different Dag")
        caller = traceback.extract_stack(limit=2)[0]
        return self._dag._add_node(
            kind=self._kind,
            fn=self._fn,
            inputs=nodes,
            kwargs=kw_nodes,
            empty_factory=self._empty_factory,
            call_site=f"{caller.filename}:{caller.lineno}",
        )


class Dag:
    """The pipeline object: assemble nodes, then advance with
    ``execute(now)`` — one call = one micro-batch cycle."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        self._spark = spark
        self._nodes: list[Node] = []
        self._sources: dict[str, Node] = {}
        self._sinks: dict[str, list[Node]] = {}
        self._timer_nodes: list[Node] = []
        self._cycle_id = 0
        self._now = UTC_EPOCH
        self._now_node = self._add_node(
            kind="now", fn=None, inputs=(), kwargs={}, empty_factory=None
        )
        self._now_node._value = UTC_EPOCH
        self._metrics = DagMetrics()
        self._loop: asyncio.AbstractEventLoop | None = None

    # -- builders ----------------------------------------------------------

    def source_stream(
        self,
        empty: Any | None = None,
        empty_factory: Callable[[], Any] = list,
        name: str | None = None,
    ) -> Node:
        """Named external input, deduplicated by name, cleared after each
        cycle (reference: dag.py:426-463)."""
        if empty is not None:
            factory = lambda: empty  # noqa: E731 - empty is immutable by contract
        else:
            factory = empty_factory
        if name is not None and name in self._sources:
            return self._sources[name]
        node = self._add_node(
            kind="source", fn=None, inputs=(), kwargs={},
            empty_factory=factory, name=name,
        )
        if name is not None:
            self._sources[name] = node
        return node

    def source_table(self, schema: str, name: str) -> Node:
        """Typed DataFrame source: empty value = 0-row DataFrame of
        ``schema`` (reference: pa.source_table, pyarrow_wrapper.py:100-104).
        """
        if self._spark is None:
            raise ValueError("source_table requires a Dag(spark=...) session")
        if name in self._sources:
            return self._sources[name]
        node = self._add_node(
            kind="source", fn=None, inputs=(), kwargs={},
            empty_factory=_empty_table(self._spark, schema), name=name,
        )
        self._sources[name] = node
        return node

    def stream(
        self, fn: Callable, empty: Any | None = None,
        empty_factory: Callable[[], Any] = list,
    ) -> _Prototype:
        """Ephemeral transform node (reference: dag.py:465-499)."""
        factory = (lambda: empty) if empty is not None else empty_factory
        return _Prototype(self, "stream", fn, factory)

    def table_stream(self, fn: Callable, schema: str) -> _Prototype:
        """DataFrame transform whose empty value is a 0-row DataFrame."""
        if self._spark is None:
            raise ValueError("table_stream requires a Dag(spark=...) session")
        return _Prototype(self, "stream", fn, _empty_table(self._spark, schema))

    def state(self, fn: Callable) -> _Prototype:
        """Durable fold node (reference: dag.py:501-518)."""
        return _Prototype(self, "state", fn, None)

    def const(self, value: Any) -> Node:
        """Immutable value node, never re-fires (reference: dag.py:407-424)."""
        node = self._add_node(
            kind="const", fn=None, inputs=(), kwargs={}, empty_factory=None
        )
        node._value = value
        return node

    def now(self) -> Node:
        """The shared, silently-updated clock node (reference:
        dag.py:541-550): reading time never triggers recomputation."""
        return self._now_node

    def timer_manager(self) -> Node:
        """A TimerManager input node; the dag wakes its observers when the
        pending deadline passes (reference: dag.py:552-570)."""
        node = self._add_node(
            kind="timer", fn=None, inputs=(), kwargs={}, empty_factory=None
        )
        node._value = TimerManager()
        self._timer_nodes.append(node)
        return node

    def cutoff(
        self, node: Node, comparator: Callable[[Any, Any], bool] = operator.eq
    ) -> Node:
        """Suppress propagation when the new value ≈ the old value
        (reference: dag.py:572-594). For DataFrame payloads pass
        ``comparator=dataframe_equal``."""
        holder: dict[str, Any] = {"prev": _SENTINEL}

        def cut(value: Any) -> Any:
            prev = holder["prev"]
            if prev is not _SENTINEL and comparator(prev, value):
                return STATE_UNCHANGED
            stored = value
            if isinstance(value, DataFrame):
                # retain the comparison baseline: a raw plan here would
                # re-execute its full upstream lineage inside EVERY
                # later dataframe_equal (two exceptAll jobs per cycle);
                # the lazy checkpoint materializes on first comparison
                # and is reused until replaced
                stored = value.localCheckpoint(eager=False)
            if isinstance(prev, DataFrame):
                try:
                    prev.unpersist()
                except Exception:  # noqa: BLE001 - best-effort release
                    pass
            holder["prev"] = stored
            return value

        return self._add_node(
            kind="state", fn=cut, inputs=(node,), kwargs={}, empty_factory=None
        )

    def silence(self, node: Node) -> Node:
        """Value updates but observers are never notified (reference:
        dag.py:596-606)."""
        return self._add_node(
            kind="state", fn=lambda v: v, inputs=(node,), kwargs={},
            empty_factory=None, silent=True,
        )

    def sink(self, name: str, node: Node) -> Node:
        """Named terminal capture of the input's latest updated value
        (reference: dag.py:520-539)."""
        sink = self._add_node(
            kind="sink", fn=lambda v: v, inputs=(node,), kwargs={},
            empty_factory=None, name=name,
        )
        self._sinks.setdefault(name, []).append(sink)
        return sink

    # -- execution (reference: dag.py:663-677) -----------------------------

    def execute(self, timestamp: pd.Timestamp | None = None) -> None:
        """One cycle: bump cycle_id, advance the silent clock, flush due
        timers, then recompute notified nodes in topological order."""
        self._cycle_id += 1
        now = timestamp if timestamp is not None else pd.Timestamp.now(tz="UTC")
        if isinstance(now, str):
            now = pd.Timestamp(now)
        if now.tzinfo is None:
            now = now.tz_localize("UTC")
        self._now = now
        self._now_node._value = now  # silent: no stain
        for tnode in self._timer_nodes:
            manager: TimerManager = tnode._value
            if manager._pop_if_due(now):
                for obs in tnode._observers:
                    obs._stain()
                tnode._cycle_id = self._cycle_id
        for node in self._nodes:
            node._run_cycle(self._cycle_id)
        self._metrics.cycles += 1
        self._metrics.nodes = len(self._nodes)

    def get_next_timer(self) -> pd.Timestamp:
        due = [t._value.get_next_timer() for t in self._timer_nodes]
        return min(due, default=UTC_MAX)

    # -- introspection (reference: dag.py:640-661, 679-682) ----------------

    def get_cycle_id(self) -> int:
        return self._cycle_id

    def get_sources(self) -> dict[str, Node]:
        return dict(self._sources)

    def get_sinks(self) -> dict[str, list[Node]]:
        return {k: list(v) for k, v in self._sinks.items()}

    def get_sink_value(self, name: str) -> Any:
        nodes = self._sinks[name]
        return nodes[0].get_value()

    def flush_metrics(self) -> DagMetrics:
        out = self._metrics
        out.nodes = len(self._nodes)
        self._metrics = DagMetrics()
        return out

    def prune(self) -> list[Node]:
        """Drop nodes from which no sink is reachable (reference:
        dag.py:608-638). Catalyst prunes unused *columns* for free; this
        prunes whole dataflow vertices so their functions never run."""
        keep: set[int] = set()
        stack: list[Node] = [n for nodes in self._sinks.values() for n in nodes]
        while stack:
            node = stack.pop()
            if id(node) in keep:
                continue
            keep.add(id(node))
            stack.extend(node._inputs)
            stack.extend(node._kwargs.values())
        keep.add(id(self._now_node))
        removed = [n for n in self._nodes if id(n) not in keep]
        self._nodes = [n for n in self._nodes if id(n) in keep]
        for node in self._nodes:
            node._observers = [o for o in node._observers if id(o) in keep]
        self._sources = {k: v for k, v in self._sources.items() if id(v) in keep}
        self._timer_nodes = [t for t in self._timer_nodes if id(t) in keep]
        return removed

    # -- plumbing ----------------------------------------------------------

    def _run_awaitable(self, awaitable: Any) -> Any:
        """Drive an async node UDF to completion on the dag-owned loop.

        One persistent loop per Dag (not ``asyncio.run`` per call) so
        loop-bound resources a node caches — aiohttp sessions, DB pools —
        survive across cycles. ``execute`` is synchronous by contract
        (one cycle = one blocking call), so the loop is never running
        re-entrantly here.
        """
        if self._loop is None or self._loop.is_closed():
            self._loop = asyncio.new_event_loop()
        return self._loop.run_until_complete(awaitable)

    def _add_node(
        self,
        kind: str,
        fn: Callable | None,
        inputs: tuple[Node, ...],
        kwargs: dict[str, Node],
        empty_factory,
        name: str | None = None,
        silent: bool = False,
        call_site: str | None = None,
    ) -> Node:
        for n in (*inputs, *kwargs.values()):
            if n not in self._nodes_set():
                raise ValueError("input node not part of this dag")
        node = Node(
            self, kind, fn, inputs, kwargs,
            empty_factory=empty_factory, name=name, silent=silent,
            call_site=call_site,
        )
        for n in {id(x): x for x in (*inputs, *kwargs.values())}.values():
            n._observe(node)
        self._nodes.append(node)
        return node

    def _nodes_set(self) -> set[Node]:
        return set(self._nodes)


_SENTINEL = object()


def dataframe_equal(a: DataFrame, b: DataFrame) -> bool:
    """Comparator for ``Dag.cutoff`` over DataFrame payloads: symmetric
    exceptAll emptiness (multiset equality). Two jobs — use only where the
    suppressed recomputation is worth more than the comparison."""
    if a is None or b is None:
        return a is b
    if a.columns != b.columns:
        return False
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
