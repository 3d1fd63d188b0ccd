"""The benchmark's workloads. Each is a closed loop with one client
thread: the next operation starts when the previous one has returned.

A workload object has three steps, called in order by ``run.py``:

- ``setup()``: load, seed and warm up; the warm-up doubles as the
  output check and returns the seconds it spent checking, which are
  not set-up;
- ``measure(seconds)``: the timed window, in whole units (a pass over
  the query lines, a cycle of requests) until ``seconds`` have passed;
- ``per_layer(groups)``: after the session has stopped, the per-layer
  metrics of a traced run, from the spans, counters and the parsed
  event log (``groups``: job group id -> ``eventlog.GroupStats``).

A traced run traces half its operations: ``corpus_ops`` runs every
line twice per pass, once traced and once not, and ``crud_mixed``
traces every other request. ``trace.overhead_ratio`` is the traced
half's wall over the untraced half's, minus one: the cost of the spans,
job groups, py4j counter and split planning. The event log is on for
the whole traced run, so its cost is in neither half; it shows as the
gap between the untraced half and a ``--trace 0`` run of the same seed.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import eventlog, stats
from perfbench.trace import Py4jCounter, Spans, job_group

CORPUS_OPS = [
    "repetition_profile",
    "dedup_exact_representatives",
    "dedup_minhash_lsh",
    "curate_documents",
    "text_profile",
    "text_lang_fingerprint",
    "similarity_topk_for_vec0",
    "similarity_ann_lsh",
    "mixture_sample_documents",
    "dsir_select_documents",
    "phrase_match_docs",
    "hybrid_rrf_topk",
    "cap_per_group_docs",
    "dedup_url_docs",
]
#: corpus_ops measures at least this many whole passes over its lines
MIN_PASSES = 2
#: crud_mixed runs the scheduled maintenance after every this many
#: writes to the table, warm-up writes included: the 3 warm-up writes
#: and 4 cycles of 6 make it run once in the timed window
MAINTAIN_EVERY = 25
#: crud_mixed measures at least this many whole cycles of 20 requests
MIN_CYCLES = 4
#: crud_mixed's warm-up reads: GET latency settles after about 60
WARM_READS = 60
UNTRACED = "untraced"
MAX_PROBLEMS = 5


@dataclass
class Context:
    spark: object
    seed: int
    trace: bool
    cpus: int
    work: str
    sf_dir: str | None = None


@dataclass
class Tally:
    """Operations attempted and failed, with the first few failures."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, label: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            if len(self.problems) < MAX_PROBLEMS:
                self.problems.append(f"{label}: {problem}")


class Units:
    """Latencies of the measured operations and the wall time of the
    whole units (passes, cycles) they ran in. ``op_p50_ms`` is the
    median latency of the workload's primary operation (a query; a GET
    by key); ``ops_per_s`` counts every operation over the units' wall,
    which includes whatever else ran in them (CRUD maintenance)."""

    def __init__(self):
        self.latencies: list[float] = []
        self.primary: list[float] = []
        self.wall = 0.0
        self.count = 0

    def start(self) -> None:
        self._busy = 0.0
        self._t0 = time.perf_counter()

    def add(self, secs: float, primary: bool = True) -> None:
        self.latencies.append(secs)
        self._busy += secs
        if primary:
            self.primary.append(secs)

    def end(self, busy_only: bool = False) -> None:
        """Close the unit; ``busy_only`` counts only its recorded
        latencies as wall (a traced run leaves traced ops out)."""
        self.wall += (self._busy if busy_only
                      else time.perf_counter() - self._t0)
        self.count += 1

    def p50_s(self) -> float | None:
        return statistics.median(self.primary) if self.primary else None

    def ops_per_s(self) -> float:
        return len(self.latencies) / self.wall if self.wall > 0 else 0.0

    def end_to_end(self) -> dict:
        p50 = self.p50_s()
        return {
            "latency": self.latencies,
            "op_p50_ms": None if p50 is None else p50 * 1e3,
            "ops_per_s": self.ops_per_s(),
        }


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _ratio_minus_one(num: float, den: float) -> float:
    return num / den - 1.0 if den > 0 else 0.0


def query_functions() -> dict:
    """Headline query name -> ``fn(spark, sf_dir) -> DataFrame``: the
    catalog plus the four bench-only lines outside it."""
    from gus_spark.queries import catalog
    from gus_spark.queries.dedup import dedup_exact_representatives
    from gus_spark.queries.text import (
        repetition_profile,
        text_lang_fingerprint,
        text_profile,
    )

    fns = {name: spec.fn for name, spec in catalog().items()}
    fns.update(
        text_lang_fingerprint=text_lang_fingerprint,
        text_profile=text_profile,
        repetition_profile=repetition_profile,
        dedup_exact_representatives=dedup_exact_representatives,
    )
    return fns


class QueryWorkload:
    """Headline query lines forced through the ``noop`` sink, in a
    seeded shuffled order per pass, at least ``MIN_PASSES`` whole
    passes."""

    def __init__(self, ctx: Context, names: list[str]):
        self.ctx = ctx
        self.names = names
        self.fns = query_functions()
        self.tally = Tally()
        self.rng = random.Random(ctx.seed)
        self.units = Units()
        self.by_query: dict[str, list[float]] = {n: [] for n in names}
        self.index = {n: i for i, n in enumerate(names)}
        self.untraced_at: dict[tuple[str, int], float | None] = {}
        self.records: list[dict] = []  # traced queries

    def setup(self) -> float:
        from gus_spark.session import load_tables

        from perfbench.checks import check_outputs

        spark, sf = self.ctx.spark, self.ctx.sf_dir
        load_tables(spark, sf)
        _noop(spark.range(1))
        outputs = [(name, self.fns[name](spark, sf).toPandas())
                   for name in self.names]
        t0 = time.perf_counter()
        for name, problem in check_outputs(sf, outputs, self.ctx.cpus):
            self.tally.record(name, problem)
        return time.perf_counter() - t0

    def _timed(self, name: str) -> float | None:
        t0 = time.perf_counter()
        try:
            _noop(self.fns[name](self.ctx.spark, self.ctx.sf_dir))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.tally.record(name, f"{type(exc).__name__}: {exc}")
            return None
        self.tally.record(name, None)
        return time.perf_counter() - t0

    def _traced(self, name: str, counter: Py4jCounter, k: int) -> None:
        """One traced run of a line in pass ``k``: build (``fn``), plan
        (``executedPlan()``) and exec (the ``noop`` write), each under
        its own job group, and the whole call's wall. The write plans
        its command again, so ``exec_s`` includes that planning too."""
        spark, group = self.ctx.spark, f"{name}#{k}"
        start = time.perf_counter()
        job_group(spark, f"{group}/build")
        calls = counter.calls
        t0 = time.perf_counter()
        try:
            df = self.fns[name](spark, self.ctx.sf_dir)
            t1 = time.perf_counter()
            build_calls = counter.calls - calls
            job_group(spark, f"{group}/plan")
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            job_group(spark, f"{group}/exec")
            t4 = time.perf_counter()
            _noop(df)
            t5 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.tally.record(name, f"{type(exc).__name__}: {exc}")
            return
        self.tally.record(name, None)
        self.records.append({
            "query": name, "pass": k, "group": group, "build_s": t1 - t0,
            "plan_s": t3 - t2, "exec_s": t5 - t4, "wall_s": t5 - start,
            "py4j_calls": build_calls,
        })

    def measure(self, seconds: float) -> None:
        trace = self.ctx.trace
        counter = Py4jCounter(self.ctx.spark) if trace else None
        start = time.perf_counter()
        passes = 0
        try:
            # a traced run pairs each line's traced run with an untraced
            # one, in both orders over its two passes
            while passes < MIN_PASSES or time.perf_counter() - start < seconds:
                self.units.start()
                order = list(self.names)
                self.rng.shuffle(order)
                for name in order:
                    if not trace:
                        self._sample(name, self._timed(name))
                        continue
                    first = (self.index[name] + passes) % 2 == 1
                    for traced in (first, not first):
                        if traced:
                            self._traced(name, counter, passes)
                        else:
                            job_group(self.ctx.spark, UNTRACED)
                            secs = self._timed(name)
                            self._sample(name, secs)
                            self.untraced_at[name, passes] = secs
                self.units.end(busy_only=trace)
                passes += 1
        finally:
            if counter is not None:
                counter.close()

    def _sample(self, name: str, secs: float | None) -> None:
        if secs is not None:
            self.units.add(secs)
            self.by_query[name].append(secs)

    def end_to_end(self) -> dict:
        return self.units.end_to_end()

    def workload_metrics(self) -> dict:
        """query_p50_s, query_p90_s (None below 100 samples),
        queries_per_s and each line's median."""
        xs = self.units.latencies
        n = {"n": len(xs), "passes": self.units.count}
        return {
            "query_p50_s": {"value": self.units.p50_s(), "unit": "s", **n},
            "query_p90_s": {"value": stats.percentile(xs, 0.9), "unit": "s",
                            **n},
            "queries_per_s": {"value": self.units.ops_per_s(), "unit": "1/s",
                              **n},
            "per_query_p50_s": {
                name: statistics.median(v) if v else None
                for name, v in self.by_query.items()},
        }

    def per_layer(self, groups: dict) -> tuple[dict, dict]:
        """(metrics, per-query detail) of the traced runs. Each traced
        run is paired with the untraced run of its line in the same
        pass. Per line, ``accounted`` is build + plan + exec over the
        traced call's wall and ``accounted_vs_untraced`` the same sum
        over the paired untraced wall."""
        none = eventlog.GroupStats()
        exec_totals, all_totals = eventlog.GroupStats(), eventlog.GroupStats()
        for rec in self.records:
            build, plan, ex = (groups.get(f"{rec['group']}/{phase}", none)
                               for phase in ("build", "plan", "exec"))
            exec_totals.add(ex)
            for part in (build, plan, ex):
                all_totals.add(part)
            rec.update(
                build_jobs=build.jobs, exec_jobs=ex.jobs,
                task_run_s=ex.task_run_s,
                outside_tasks_s=rec["exec_s"] - ex.task_run_s / self.ctx.cpus,
                layers_s=rec["build_s"] + rec["plan_s"] + rec["exec_s"],
                untraced_s=self.untraced_at.get((rec["query"], rec["pass"])),
            )
        detail: dict[str, dict] = {}
        for name in self.names:
            recs = [r for r in self.records
                    if r["query"] == name and r["untraced_s"]]
            if not recs:
                continue
            d = {key: statistics.median(r[key] for r in recs)
                 for key in ("untraced_s", "wall_s", "layers_s", "build_s",
                             "plan_s", "exec_s")}
            d["accounted"] = statistics.median(
                r["layers_s"] / r["wall_s"] for r in recs)
            d["accounted_vs_untraced"] = statistics.median(
                r["layers_s"] / r["untraced_s"] for r in recs)
            d["traced"] = recs
            detail[name] = d
        n = len(self.records)
        metrics = {
            f"{layer}.{key}": _mean(r[key] for r in self.records)
            for layer, key in (
                ("queries", "build_s"), ("queries", "py4j_calls"),
                ("queries", "build_jobs"), ("plan", "plan_s"),
                ("exec", "exec_s"), ("exec", "outside_tasks_s"))
        }
        metrics.update(_exec_metrics(exec_totals, n))
        metrics.update(_operator_metrics(all_totals, n))
        metrics["trace.accounted_min"] = min(
            (d["accounted"] for d in detail.values()), default=0.0)
        metrics["trace.overhead_ratio"] = _ratio_minus_one(
            sum(d["wall_s"] for d in detail.values()),
            sum(d["untraced_s"] for d in detail.values()),
        )
        return metrics, detail


def _exec_metrics(t: eventlog.GroupStats, n: int) -> dict:
    n = max(n, 1)
    return {
        "exec.jobs": t.jobs / n,
        "exec.stages": t.stages / n,
        "exec.tasks": t.tasks / n,
        "exec.task_run_s": t.task_run_s / n,
        "exec.scheduler_delay_s": t.scheduler_delay_s / n,
        "exec.gc_s": t.gc_s / n,
        "exec.shuffle_write_bytes": t.shuffle_write_bytes / n,
        "exec.shuffle_read_bytes": t.shuffle_read_bytes / n,
        "exec.spill_bytes": t.spill_bytes / n,
    }


def _operator_metrics(t: eventlog.GroupStats, n: int) -> dict:
    n = max(n, 1)
    return {
        "operators.python_run_s": t.python_run_s / n,
        "operators.python_init_s": t.python_init_s / n,
        "operators.python_boot_s": t.python_boot_s / n,
        "operators.arrow_bytes_sent": t.arrow_bytes_sent / n,
        "operators.arrow_bytes_received": t.arrow_bytes_received / n,
    }


STORAGE_METHODS = (
    "read_one", "create_one", "update_one", "delete_one", "read_df",
    "maintain", "compact", "append_df",
)


def _op_class(kind: str) -> str:
    return {"get": "read", "graphql": "scan"}.get(kind, "write")


def _data_files(table_dir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(root, f)
                out[path] = os.path.getsize(path)
    return out


class CrudWorkload:
    """gus's REST/GraphQL contract over a ``ParquetStore`` table."""

    def __init__(self, ctx: Context):
        from perfbench.crud import CrudGenerator

        self.ctx = ctx
        self.gen = CrudGenerator(ctx.seed)
        self.tally = Tally()
        #: latencies of the untraced requests, per op kind
        self.samples: dict[str, list[float]] = {}
        self.units = Units()
        self.records: list[dict] = []  # traced ops
        self.maintain: list[float] = []
        self.ops = self.writes = 0

    def setup(self) -> float:
        from gus_spark.api.graphql import GraphQLApi
        from gus_spark.api.rest import RestApi
        from gus_spark.model.registry import ModelRegistry
        from gus_spark.model.types import ModelDefinition
        from gus_spark.storage.parquet_store import ParquetStore

        from perfbench.crud import MOVIE, WRITES

        spark = self.ctx.spark
        registry = ModelRegistry()
        self.model = ModelDefinition.from_json(MOVIE)
        registry.register(self.model)
        self.store = ParquetStore(
            spark, os.path.join(self.ctx.work, "warehouse"))
        self.gql = GraphQLApi(registry, self.store)
        self.api = RestApi(registry, self.store, graphql_api=self.gql)
        order = self.model.field_order
        rows = [tuple(r[f] for f in order) for r in self.gen.seed_records()]
        seed_df = spark.createDataFrame(rows, self.model.to_struct_type())
        self.store.append_df(self.model, seed_df)
        self.store.compact(self.model, target_files=4)
        # warm-up, checked like the timed requests: one request of each
        # kind, then reads until the read path's latency has settled
        check_s = 0.0
        for kind in ("get", "graphql", "post", "put", "delete") + (
                "get",) * WARM_READS:
            _secs, problem, spent = self._call(self.gen.op(kind))
            check_s += spent
            self.tally.record(kind, problem)
            self.writes += kind in WRITES
        if self.ctx.trace:
            self.spans = Spans()
            self.spans.wrap(self.store, "storage", STORAGE_METHODS)
            self.spans.wrap(self.api, "api", ("handle",))
            self.spans.wrap(self.gql, "graphql", ("execute",))
        return check_s

    def _call(self, op) -> tuple[float, str | None, float]:
        """(latency, problem or None, seconds spent checking)."""
        from perfbench.crud import response_ok

        t0 = time.perf_counter()
        try:
            status, payload = self.api.handle(op.method, op.uri, op.body)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            return time.perf_counter() - t0, f"{type(exc).__name__}: {exc}", 0
        t1 = time.perf_counter()
        ok = response_ok(op, status, payload)
        spent = time.perf_counter() - t1
        if ok:
            return t1 - t0, None, spent
        return t1 - t0, f"{op.method} {op.uri} -> {status} {payload}"[:300], spent

    def measure(self, seconds: float) -> None:
        start = time.perf_counter()
        cycles = 0
        while cycles < MIN_CYCLES or time.perf_counter() - start < seconds:
            self.units.start()
            self._cycle(cycles)
            self.units.end(busy_only=self.ctx.trace)
            cycles += 1
        if self.ctx.trace:
            self.spans.enabled = False
            self.health = self.store.table_health(self.model)

    def _cycle(self, number: int) -> None:
        """Run one cycle of requests. Traced runs trace every other
        request, alternating by cycle."""
        from perfbench.crud import WRITES

        spark = self.ctx.spark
        table = os.path.join(self.ctx.work, "warehouse", self.model.model_name)
        for j, kind in enumerate(self.gen.cycle()):
            op = self.gen.op(kind)
            traced = self.ctx.trace and (j + number) % 2 == 1
            begin = time.perf_counter()
            if self.ctx.trace:
                self.spans.enabled = traced
                job_group(spark, f"op{self.ops}/{kind}" if traced
                          else UNTRACED)
                before = _data_files(table) if traced else None
            secs, problem, spent = self._call(op)
            self.tally.record(kind, problem)
            if traced:
                after = _data_files(table)
                # the traced call's wall, with its tracing, without the
                # output check
                wall = time.perf_counter() - begin - spent
                self._record(self.ops, op, wall, before, after)
            elif problem is None:
                self.samples.setdefault(kind, []).append(secs)
                self.units.add(secs, primary=kind == "get")
            self.ops += 1
            if kind in WRITES:
                self.writes += 1
                if self.writes % MAINTAIN_EVERY == 0:
                    if self.ctx.trace:
                        job_group(spark, f"maintain{self.writes}")
                    t0 = time.perf_counter()
                    self.store.maintain(self.model)
                    self.maintain.append(time.perf_counter() - t0)

    def _record(self, i, op, wall, before, after) -> None:
        roots = self.spans.take()
        handle = next((s for s in roots if s.layer == "api"), None)
        rec = {"op": i, "kind": op.kind, "group": f"op{i}/{op.kind}",
               "wall_s": wall}
        if handle is not None:
            storage = handle.child_seconds("storage")
            gql = [c for c in handle.children if c.layer == "graphql"]
            gql_s = sum(c.seconds for c in gql)
            gql_storage = sum(c.child_seconds("storage") for c in gql)
            rec.update(
                storage_s=storage,
                api_self_s=handle.seconds - gql_s - (storage - gql_storage),
                graphql_s=gql_s - gql_storage,
            )
        new = {p: n for p, n in after.items() if p not in before}
        rec["new_file_bytes"] = sum(new.values())
        rec["body_bytes"] = len(op.body or "")
        self.records.append(rec)

    def end_to_end(self) -> dict:
        return self.units.end_to_end()

    def workload_metrics(self) -> dict:
        """read/scan/write p50 and read/write p90 (None below 100
        samples) over all timed requests, and crud_ops_per_s."""
        out = {}
        for cls in ("read", "scan", "write"):
            xs = [x * 1e3 for kind, v in self.samples.items()
                  if _op_class(kind) == cls for x in v]
            out[f"{cls}_p50_ms"] = {
                "value": statistics.median(xs) if xs else None,
                "unit": "ms", "n": len(xs)}
            if cls != "scan":
                out[f"{cls}_p90_ms"] = {
                    "value": stats.percentile(xs, 0.9), "unit": "ms",
                    "n": len(xs)}
        out["crud_ops_per_s"] = {
            "value": self.units.ops_per_s(), "unit": "1/s",
            "n": len(self.units.latencies), "cycles": self.units.count}
        return out

    def per_layer(self, groups: dict) -> tuple[dict, dict]:
        from perfbench.crud import WRITES

        recs = self.records
        reads = [r for r in recs if r["kind"] == "get"]
        writes = [r for r in recs if r["kind"] in WRITES]
        rest = [r for r in recs if r["kind"] != "graphql"]
        scans = [r for r in recs if r["kind"] == "graphql"]
        body = sum(r["body_bytes"] for r in writes)
        totals = eventlog.GroupStats()
        for r in recs:
            totals.add(groups.get(r["group"], eventlog.GroupStats()))
        metrics = {
            "storage.read_one_s": _mean(r.get("storage_s", 0) for r in reads),
            "storage.write_s": _mean(r.get("storage_s", 0) for r in writes),
            "storage.maintain_s": _mean(self.maintain),
            "storage.jobs_per_read": _mean(
                groups.get(r["group"], eventlog.GroupStats()).jobs
                for r in reads),
            "storage.jobs_per_write": _mean(
                groups.get(r["group"], eventlog.GroupStats()).jobs
                for r in writes),
            "storage.n_files": self.health["n_files"],
            "storage.overlap_fraction": self.health["overlap_fraction"],
            "storage.bytes_written_per_user_byte": (
                sum(r["new_file_bytes"] for r in writes) / body
                if body else 0.0),
            "api.self_s": _mean(r.get("api_self_s", 0) for r in rest),
            "api.graphql_s": _mean(r.get("graphql_s", 0) for r in scans),
        }
        metrics.update(_exec_metrics(totals, len(recs)))
        metrics.update(_operator_metrics(totals, len(recs)))
        # per op kind, median traced wall / untraced latency, weighted
        # by how many ops of the kind ran untraced
        traced = sum_untraced = 0.0
        for kind, xs in self.samples.items():
            ts = [r["wall_s"] for r in recs if r["kind"] == kind]
            if xs and ts:
                traced += len(xs) * statistics.median(ts)
                sum_untraced += len(xs) * statistics.median(xs)
        metrics["trace.overhead_ratio"] = _ratio_minus_one(
            traced, sum_untraced)
        return metrics, {"ops": recs, "maintain_s": self.maintain,
                         "health": self.health}
