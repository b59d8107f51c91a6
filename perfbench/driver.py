"""The measured driver process of the benchmark (started by run.py).

Modes:
  --mode fixture  build the inputs (gendata sf0.1, gen_sf1.build) and run
                  one untimed priming pass over every workload key, so
                  every ``common.build_once`` output exists.
  --mode run      set up, then a cold pass and warm passes over one
                  workload's keys, then check every key's output.

A pass runs each key as ``REGISTRY[key].builder(spark, sf_dir)`` followed
by a ``noop`` write. With ``--trace 1`` every key is split into spans at
the builder call, Catalyst planning (the DataFrame's ``queryExecution``)
and the write; job counts come from ``statusTracker`` (one job group per
key, pass and layer), streaming counts from a ``StreamingQueryListener``
and executor and Python-worker counts from Spark's event log. Traced and
untraced warm passes alternate, so the run states its own overhead.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import platform
import random
import re
import statistics
import sys
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(WORK, "data")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
# Fewest warm passes a run makes, however short --seconds is.
WARM_PASSES = 3


def sf_dir(sf: str) -> str:
    """The benchmark's own copy of scale factor ``sf``.

    The engine keys its ``.tmp`` scratch outputs by the basename of the
    data directory alone, so the prefix keeps them apart from those built
    from other data of the same scale (``sf0.1``, ``.tmp/sf1``).
    """
    return os.path.join(DATA, f"pb-{sf}")


def primed_keys() -> list[str]:
    """What the priming pass covers; a changed list re-primes."""
    return sorted(
        f"{k}@{os.path.basename(sf_dir(w['sf']))}"
        for w in WORKLOADS.values()
        for k in w["keys"]
    )


def session(eventlog_dir: str | None = None):
    """Import the engine and start its session; returns timings too."""
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{eventlog_dir} pyspark-shell"
        )
    t0 = time.monotonic()
    sys.path.insert(0, ROOT)
    import week3_2_practice_big_data__spark as engine

    t1 = time.monotonic()
    spark = engine.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.monotonic()
    return engine, spark, {"import_s": t1 - t0, "start_s": t2 - t1, "ready": t2}


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> None:
        """Add ``self_s`` to every span: duration minus its children's."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child[s["id"]]


class StreamTap:
    """Collects StreamingQueryProgress fields; attributed later by time."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.datetime.strptime(
                    p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
                ).replace(tzinfo=datetime.timezone.utc)
                dur = p.durationMs or {}
                ops = p.stateOperators or []
                events.append(
                    {
                        "t": ts.timestamp(),
                        "rows": int(p.numInputRows or 0),
                        "trigger_s": dur.get("triggerExecution", 0) / 1e3,
                        "add_batch_s": dur.get("addBatch", 0) / 1e3,
                        "state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
                        "state_rows": sum(o.numRowsUpdated for o in ops),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until the listener bus has delivered the pending events."""
        end = time.monotonic() + limit_s
        n = -1
        while n != len(self.events) and time.monotonic() < end:
            n = len(self.events)
            time.sleep(quiet_s)


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def plan_counts(plan: str) -> dict:
    """Exchange and Python-node counts of a physical plan tree string."""
    nodes = [
        line.lstrip(" +-:*").split(" ", 1)[0].split("(", 1)[0]
        for line in plan.splitlines()
    ]
    # An adaptive plan prints its initial plan once more; count one copy.
    if "==" in nodes:
        nodes = nodes[: nodes.index("==")]
    return {
        "exchanges": sum(n.endswith("Exchange") for n in nodes),
        "python_nodes": sum(bool(PYTHON_NODE.search(n)) for n in nodes),
    }


def run_key(ctx, key: str, phase: str, traced: bool):
    """One key execution: builder call, (planning,) noop write."""
    builder = ctx["engine"].REGISTRY[key].builder
    sf = ctx["sf_dir"]
    if not traced:
        df = builder(ctx["spark"], sf)
        df.write.format("noop").mode("overwrite").save()
        return df, None
    sc, tr = ctx["spark"].sparkContext, ctx["tracer"]
    rec = {"key": key, "phase": phase}
    with tr.span("key", key=key, phase=phase):
        sc.setJobGroup(f"{phase}|{key}|build", key)
        with tr.span("registry.build", key=key, phase=phase):
            df = builder(ctx["spark"], sf)
        with tr.span("plan", key=key, phase=phase):
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            rec.update(plan_counts(qe.executedPlan().toString()))
        sc.setJobGroup(f"{phase}|{key}|exec", key)
        with tr.span("exec", key=key, phase=phase):
            df.write.format("noop").mode("overwrite").save()
    rec["build"] = job_counts(sc, f"{phase}|{key}|build")
    rec["exec"] = job_counts(sc, f"{phase}|{key}|exec")
    return df, rec


def run_pass(ctx, phase: str, order: list[str], traced: bool) -> dict:
    last_df, recs, key_s, errors = ctx["last_df"], [], {}, {}
    with ctx["tracer"].span("pass", phase=phase) if traced else nullcontext():
        t0 = time.perf_counter()
        for key in order:
            t = time.perf_counter()
            try:
                last_df[key], rec = run_key(ctx, key, phase, traced)
                if rec:
                    recs.append(rec)
            except Exception as exc:  # counted in failed_frac
                errors[key] = f"{type(exc).__name__}: {exc}"[:500]
                last_df.pop(key, None)
            key_s[key] = time.perf_counter() - t
        wall = time.perf_counter() - t0
    return {"phase": phase, "traced": traced, "wall_s": wall, "key_s": key_s,
            "keys": recs, "errors": errors}


def _cell(v) -> str:
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float) and v != v:
        return "nan"
    return repr(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result: sorted columns, sorted rows."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_cell(v) for v in row)
        for row in zip(*(pdf[c].tolist() for c in cols))
    )
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()


def load_hashes() -> dict:
    with open(os.path.join(HERE, "hashes.json")) as f:
        return json.load(f)


def check(ctx, key: str, hashes: dict) -> str:
    """'ok', or why the key's output does not match its reference."""
    df = ctx["last_df"].get(key)
    if df is None:
        return "not run: every execution raised"
    query = ctx["engine"].REGISTRY[key]
    try:
        if query.oracle:
            from tests.oracle import compare, duck_run

            compare(df, duck_run(query.oracle, ctx["sf_dir"]), key)
            return "ok"
        got = value_hash(df.toPandas())
        want = hashes.get(f"{key}@{ctx['sf']}")
        return "ok" if got == want else f"hash {got} != recorded {want}"
    except Exception as exc:
        return f"{type(exc).__name__}: {exc}"[:500]


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def aggregate_trace(ctx, passes, checks, tap, eventlog) -> dict:
    """Per-layer sums per traced pass, per-key breakdown, reconciliation."""
    from eventlog import EXECUTOR_METRICS, task_metrics

    tr = ctx["tracer"]
    tr.self_times()
    windows = [
        (s["start"] * 1e3, s["end"] * 1e3, (s["phase"], s["key"], s["name"]))
        for s in tr.spans
        if s["name"] in ("registry.build", "exec")
    ]
    tasks = task_metrics(eventlog, windows) if eventlog else {}
    per_key: dict = {}
    traced = [p for p in passes if p["traced"]]
    for p in traced:
        for rec in p["keys"]:
            k = per_key.setdefault(p["phase"], {}).setdefault(rec["key"], Counter())
            k["plan.exchanges"] += rec["exchanges"]
            k["plan.python_nodes"] += rec["python_nodes"]
            k["registry.build_jobs"] += rec["build"]["jobs"]
            for c in ("jobs", "stages", "tasks"):
                k[f"exec.{c}"] += rec["exec"][c]
    for s in tr.spans:
        if s["name"] in ("registry.build", "plan", "exec"):
            k = per_key.setdefault(s["phase"], {}).setdefault(s["key"], Counter())
            name = {"registry.build": "registry.build_s", "plan": "plan.optimize_s",
                    "exec": "exec.s"}[s["name"]]
            k[name] += s["self_s"]
    for (phase, key, _), sums in tasks.items():
        per_key.setdefault(phase, {}).setdefault(key, Counter()).update(sums)
    key_spans = {(s["phase"], s["key"]): s for s in tr.spans if s["name"] == "key"}
    for ev in tap.events if tap else ():
        for (phase, key), s in key_spans.items():
            if s["start"] <= ev["t"] <= s["end"]:
                k = per_key.setdefault(phase, {}).setdefault(key, Counter())
                k["stream.batches"] += 1
                k["stream.data_batches"] += ev["rows"] > 0
                for f in ("trigger_s", "add_batch_s", "state_commit_s", "state_rows"):
                    k[f"stream.{f}"] += ev[f]
                break

    def pass_sums(p) -> dict:
        tot = Counter()
        for c in per_key.get(p["phase"], {}).values():
            tot.update(c)
        layers = tot["registry.build_s"] + tot["plan.optimize_s"] + tot["exec.s"]
        tot["trace.reconcile_gap_pct"] = 100 * (p["wall_s"] - layers) / p["wall_s"]
        return tot

    cold = pass_sums(traced[0])
    warm = [pass_sums(p) for p in traced[1:]]
    names = set(EXECUTOR_METRICS) | {
        "plan.optimize_s", "plan.exchanges", "plan.python_nodes", "exec.s",
        "exec.jobs", "exec.stages", "exec.tasks", "registry.build_jobs",
        "stream.batches", "stream.trigger_s", "stream.add_batch_s",
        "stream.state_commit_s", "stream.state_rows", "trace.reconcile_gap_pct",
    }
    metrics = {n: statistics.median(w[n] for w in warm) for n in names}
    batches = sum(w["stream.batches"] for w in warm)
    metrics["stream.data_batch_ratio"] = (
        sum(w["stream.data_batches"] for w in warm) / batches if batches else 0.0
    )
    metrics["registry.build_cold_s"] = cold["registry.build_s"]
    metrics["registry.build_warm_s"] = statistics.median(
        w["registry.build_s"] for w in warm
    )
    untraced = [p["wall_s"] for p in passes[2:] if not p["traced"]]
    traced_warm = [p["wall_s"] for p in traced[1:]]
    base = statistics.mean(untraced)
    metrics["trace.overhead_pct"] = 100 * (statistics.mean(traced_warm) - base) / base
    metrics["oracle.checked"] = len(checks)
    metrics["oracle.mismatched"] = sum(v != "ok" for v in checks.values())
    breakdown = {
        phase: {k: dict(c) for k, c in keys.items()} for phase, keys in per_key.items()
    }
    return {"metrics": metrics, "per_key": breakdown, "cold": dict(cold)}


def mode_fixture(args) -> None:
    """Inputs plus one priming pass; writes fixture.json with the times."""
    t0 = time.monotonic()
    import gendata

    gendata.write(sf_dir("sf0.1"), 0.1)
    engine, spark, _ = session()
    import gen_sf1

    gen_sf1.BASE_SF = sf_dir("sf0.1")
    gen_sf1.OUT = sf_dir("sf1")
    gen_sf1.build(spark)
    t1 = time.monotonic()
    hashes = load_hashes()
    for w in WORKLOADS.values():
        for key in w["keys"]:
            df = engine.REGISTRY[key].builder(spark, sf_dir(w["sf"]))
            df.write.format("noop").mode("overwrite").save()
            if args.record_hashes and not engine.REGISTRY[key].oracle:
                hashes[f"{key}@{w['sf']}"] = value_hash(df.toPandas())
    t2 = time.monotonic()
    if args.record_hashes:
        with open(os.path.join(HERE, "hashes.json"), "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
            f.write("\n")
    with open(os.path.join(WORK, "fixture.json"), "w") as f:
        json.dump(
            {"fixture_s": t1 - t0, "priming_s": t2 - t1, "keys": primed_keys()}, f
        )


def mode_run(args) -> None:
    w = WORKLOADS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    eventlog_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    engine, spark, setup = session(eventlog_dir)
    print(f"READY {setup['ready']!r}", flush=True)
    ctx = {
        "engine": engine,
        "spark": spark,
        "sf": w["sf"],
        "sf_dir": sf_dir(w["sf"]),
        "tracer": Tracer(run_id, args.trace),
        "last_df": {},
    }
    hashes = load_hashes()
    for key in w["keys"]:
        query = engine.REGISTRY[key]  # KeyError: unknown key fails the run
        if not query.oracle and f"{key}@{w['sf']}" not in hashes:
            raise SystemExit(f"{key}: no oracle and no recorded hash")
    tap = StreamTap(spark) if args.trace else None
    rng = random.Random(args.seed)

    def order():
        keys = list(w["keys"])
        rng.shuffle(keys)
        return keys

    load_start = os.getloadavg()
    # The cold pass keeps the listed order: whichever key runs first pays
    # the session's JIT and Python-worker warm-up, so a permuted cold pass
    # would swing with the seed rather than with the engine.
    passes = [run_pass(ctx, "cold", list(w["keys"]), args.trace)]
    warm_s, n = 0.0, 0
    # Warm passes until they add up to --seconds, and at least three, so
    # the median outweighs the first warm pass's leftover warm-up. A traced
    # run follows its untraced first warm pass with whole traced-untraced-
    # untraced-traced blocks, so drift between passes cancels in the
    # stated tracing overhead.
    min_warm = 5 if args.trace else WARM_PASSES
    while n < min_warm or warm_s < args.seconds or (args.trace and n % 4 != 1):
        n += 1
        traced = bool(args.trace) and n > 1 and (n - 2) % 4 in (0, 3)
        passes.append(run_pass(ctx, f"warm{n}", order(), traced))
        warm_s += passes[-1]["wall_s"]
        if tap:
            tap.settle()
    checks, t_check = {}, time.perf_counter()
    for key in w["keys"]:
        with ctx["tracer"].span("oracle", key=key, phase="check"):
            checks[key] = check(ctx, key, hashes)
    check_s = time.perf_counter() - t_check
    load_end = os.getloadavg()
    errors = [e for p in passes for e in p["errors"].items()]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": w["sf"],
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "versions": versions(spark),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "setup": setup,
        "passes": [
            {k: p[k] for k in ("phase", "traced", "wall_s", "key_s")} for p in passes
        ],
        "errors": errors,
        "checks": checks,
        "check_s": check_s,
        "attempted": sum(len(w["keys"]) for _ in passes) + len(checks),
        "failed": len(errors) + sum(v != "ok" for v in checks.values()),
    }
    if args.trace:
        tap.settle()
        spark.stop()
        logs = os.listdir(eventlog_dir)
        trace = aggregate_trace(
            ctx, passes, checks, tap, os.path.join(eventlog_dir, logs[0]) if logs else None
        )
        result["trace"] = trace
        result["spans"] = ctx["tracer"].spans
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, default=str)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("fixture", "run"), required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--record-hashes", action="store_true")
    args = ap.parse_args()
    {"fixture": mode_fixture, "run": mode_run}[args.mode](args)
    sys.stdout.flush()
    os._exit(0)  # the JVM exits with its stdin; run.py reaps the tree


if __name__ == "__main__":
    main()
