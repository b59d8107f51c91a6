"""Shared cross-engine helpers used by multiple operator modules.

Centralized so the cross-engine float discipline (registry.py docstring) has
exactly one definition per rule — a precision change here propagates to every
Spark builder and stays in lockstep with the DuckDB oracle texts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import _parse_datatype_string

# Money values are cast to DECIMAL(18,2) before summing: decimal sums are
# exact in both Spark and DuckDB, so the value-hash gate sees identical
# doubles after the final cast. The oracle-side mirror is the literal
# `CAST(x AS DECIMAL(18,2))` in each oracle SQL.
MONEY_DECIMAL = "decimal(18,2)"


def dec(col: str) -> F.Column:
    """Money column → exact DECIMAL(18,2) for summation."""
    return F.col(col).cast(MONEY_DECIMAL)


def clip01(expr: str) -> str:
    """Shared SQL text: clamp to [0,1] (np.clip, app.py:73,80)."""
    return f"least(greatest({expr}, 0e0), 1e0)"


def scratch_dir(sf_dir: str, name: str) -> str:
    """Repo-local .tmp scratch path keyed by (name, sf): the ONE place the
    scratch root is defined (sinks, stream chunks, partitioned warehouse,
    media exports all build under it)."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}",
    )


def build_once(out: str, build, stamp: str = "") -> str:
    """Build a scratch directory exactly once, race-safely.

    A bare check-then-act on a ``_DONE`` marker can race (pytest-xdist and
    the driver sharing one repo): instead ``build(tmp)`` populates a
    private pid-suffixed sibling which is atomically rename(2)d into
    place. A loser whose rename fails because the winner's directory
    already exists discards its tmp and reads the winner's output.
    ``stamp`` is stored in the marker so outputs built under an older
    configuration are rebuilt, not silently reused.
    """
    import os
    import shutil

    marker = os.path.join(out, "_DONE")

    def done() -> bool:
        try:
            with open(marker) as f:
                return f.read() == stamp
        except OSError:
            return False

    if done():
        return out
    # pid alone is not unique enough: threads in one process (pytest main +
    # a streaming listener, or a threaded test) would share the tmp dir —
    # mkdtemp gives every CALL its own build directory.
    import tempfile

    parent = os.path.dirname(out) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(
        prefix=f"{os.path.basename(out)}.build.", dir=parent
    )
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(stamp)
    # A stale or stamp-mismatched `out` blocks the rename: move it ASIDE
    # atomically and retry once. rmtree-in-place would race a concurrent
    # winner whose rename lands between the done() check and the delete —
    # readers could watch a freshly built directory vanish file by file.
    # A rename swaps the whole directory in one step: readers see either
    # the old complete dir (their open fds stay valid) or the new one,
    # and if the moved-aside dir was a winner's, the rename below restores
    # identical content under `out` (same stamp → same build).
    for _ in range(2):
        try:
            os.rename(tmp, out)
            return out
        except OSError:
            if done():
                shutil.rmtree(tmp, ignore_errors=True)
                return out
            trash = tempfile.mkdtemp(
                prefix=f"{os.path.basename(out)}.trash.", dir=parent
            )
            try:
                os.rename(out, os.path.join(trash, "stale"))
            except OSError:
                pass
            shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


class _scoped_conf:
    """Set session confs for a block, restore after (unset keys are
    restored by unsetting — conf.get default sentinel)."""

    def __init__(self, spark, confs: dict):
        self._spark = spark
        self._confs = confs

    def __enter__(self):
        # Snapshot ALL old values before setting ANY (ADVICE r10): if a
        # later set() raises (invalid/static conf), the except rolls back
        # the keys already applied so the session is never left half-set.
        #
        # conf.get(k) would return the DEFAULT value for an unset key
        # and the restore would then SET it explicitly — a visible
        # hygiene change (and a wrong restore if the default ever
        # differs per-cluster). get(k, None) distinguishes unset.
        self._old = {k: self._spark.conf.get(k, None) for k in self._confs}
        applied = []
        try:
            for k, v in self._confs.items():
                self._spark.conf.set(k, v)
                applied.append(k)
        except Exception:
            for k in applied:
                old = self._old[k]
                if old is None:
                    self._spark.conf.unset(k)
                else:
                    self._spark.conf.set(k, old)
            raise
        return self

    def __exit__(self, *exc):
        for k, old in self._old.items():
            if old is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, old)
        return False


def _us(dialect: str) -> str:
    """Event time in epoch microseconds — the one dialect seam for it."""
    return "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"


def ordered_string_agg(dialect: str, expr: str, sep: str, order_by: str) -> str:
    """Deterministic ordered string aggregation — the one dialect seam for
    listagg: Spark spells it `listagg(x, sep) WITHIN GROUP (ORDER BY o)`,
    DuckDB `string_agg(x, sep ORDER BY o)`."""
    if dialect == "spark":
        return f"listagg({expr}, {sep}) WITHIN GROUP (ORDER BY {order_by})"
    return f"string_agg({expr}, {sep} ORDER BY {order_by})"


def _session_key(spark) -> str:
    """Stable cache key for a live SparkSession: the applicationId.

    `id(spark)` (the r1–r5 key) is unsafe across session restarts — CPython
    reuses addresses, so a new session could hit a stale localCheckpoint
    bound to a DEAD context. applicationId is unique per SparkContext and
    never reused within a process."""
    return spark.sparkContext.applicationId


# The one cross-pass cache: (applicationId, key) -> built value.
_SESSION_CACHE: dict[tuple, object] = {}


def session_cached(spark, key, build):
    """Memoize ``build()`` per live session under ``key``.

    ``key`` names the relation: a string literal (usually the temp view the
    caller registers), then ``sf_dir`` and any parameter the relation
    depends on. Literals are unique across call sites, so every module
    shares this one cache without collisions.

    On a miss, entries of every OTHER session are evicted first (ADVICE
    r6): one live session at a time is the usage pattern, and without
    eviction a long-lived process that restarts sessions would keep each
    dead session's materialized handles forever.
    """
    sess = _session_key(spark)
    if (sess, key) not in _SESSION_CACHE:
        for k in [k for k in _SESSION_CACHE if k[0] != sess]:
            del _SESSION_CACHE[k]
        _SESSION_CACHE[sess, key] = build()
    return _SESSION_CACHE[sess, key]


def checkpointed(spark, key, build):
    """Materialize-once-per-session: eager localCheckpoint of build()'s
    result, cached by ``session_cached`` (which owns the session key and
    the eviction; callers only name the relation).

    The ONE sanctioned pattern for relations consumed multiple times via a
    temp view: persist()+view silently misses Spark's cache for plans
    containing collect_list (flagged nondeterministic) or higher-order
    lambdas (canonicalization fails), re-deriving the relation per
    reference — an RDD-backed checkpoint cannot miss.
    """
    return session_cached(spark, key, lambda: build().localCheckpoint(eager=True))


def local_rows_df(spark, schema_ddl: str, rows):
    """Driver-computed small result rows as a PURE-JVM local relation.

    ``spark.createDataFrame(rows, ddl)`` wraps the rows in a Python RDD,
    so EVERY action on the result (each bench pass's noop write, each
    oracle collect) pays a Python-worker round trip — measured 0.35 s
    steady / >1 s when the worker pool is cold (the r13→r14
    dq_observe_metrics in-bench anomaly: the bench prefix leaves no idle
    worker, so every pass re-spawned one). Building the same rows as
    literal columns over ``spark.range(1)`` + UNION keeps the relation
    JVM-only (~0.08 s per action) — same values, same column names and
    types. Every field is nullable, as createDataFrame marks them: the
    union starts from the zero-row relation of all-NULL literals (a
    literal-only branch whose values are never NULL would make Spark 4.1
    mark its column non-nullable).

    Scalars only (int/float/str/bool/None/Decimal); use createDataFrame
    for anything nested or larger than a few hundred rows. Spark parses
    the DDL (so ``decimal(10,2)`` stays one field); a row whose arity
    differs from the schema's raises ``ValueError``.
    """
    fields = [(f.name, f.dataType) for f in _parse_datatype_string(schema_ddl).fields]
    out = (
        spark.range(1)
        .select(
            *[F.when(F.lit(True), F.lit(None).cast(t)).alias(n) for n, t in fields]
        )
        .limit(0)
    )
    for row in rows:
        if len(row) != len(fields):
            raise ValueError(
                f"row {row!r} has {len(row)} values; schema {schema_ddl!r} "
                f"has {len(fields)} fields"
            )
        cols = [
            F.when(F.lit(True), F.lit(v).cast(t)).alias(n)
            for (n, t), v in zip(fields, row)
        ]
        out = out.unionAll(spark.range(1).select(*cols))
    return out
