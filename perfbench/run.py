#!/usr/bin/env python3
"""Layered closed-loop benchmark of presto_weather_spark.

Run from the repository root:

    python3 perfbench/run.py --workload board_refresh --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18

One run starts the engine's own session (``session.build_session``) on
``local[<cpus this process may use>]``, then:

1. warm-up: every key once, its result collected and compared with the
   key's DuckDB oracle (or, for an oracle-less key, with a second run after
   the timed passes) -- the benchmark's correctness check, outside the
   timed region -- then WARM_PASSES untimed passes shaped like the timed
   ones, while the JIT compiles the hot paths;
2. timed passes for ``--seconds`` and at least MIN_PASSES passes:
   ``Query.fn(spark, sf)`` then a ``noop`` write for every key, in an order
   the seed draws afresh for each pass.

The end-to-end metrics summarise per-query wall time over the whole timed
region, per key first, so that a burst of load from elsewhere on the host
that slows a few queries moves none of them:

- ``pass_s``: the sum over keys of each key's median latency, one typical
  refresh pass;
- ``query_p50_s``: the median over keys of each key's median latency.  The
  pooled median of a few keys' samples falls in the gap between two keys'
  latencies and jumps from one to the other between runs; this one is the
  mean of the two middle keys' medians;
- ``query_tail_s``: the highest percentile that leaves at least ten of the
  MIN_PASSES * keys samples a run always takes beyond it; a run that fits
  more passes reports the same percentile over more samples.

The input is ``perfbench/data/sf0.01``, a copy of the repository's fixed
sf0.01 test tables (TESTDATA.md), so a run reads nothing outside the
checkout.  The seed picks only the key order.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
records spans around build_session, Query.fn, load_table (under every name
it is imported as), Catalyst planning and the sink write, turns on Spark's
event log through PYSPARK_SUBMIT_ARGS, registers a StreamingQueryListener,
and prints the per-layer metrics.  Everything is measured from outside the
engine.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``error_rate`` is
``failed / attempted``.  ``--workload all`` runs every workload untraced and
traced and prints a table, with the tracing overhead (traced minus untraced
``pass_s``).

bench.py stays the per-key min-of-3 harness; this is not a replacement.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

sys.path.insert(0, HERE)
from tracing import tail_percentile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# A run measures at least --seconds and at least this many passes, so that
# even the workload with the fewest, slowest keys has enough samples for a
# tail percentile above the median.
MIN_PASSES = 4
# Untimed passes after the correctness pass.  The first pass after it ran
# 10-20% slower than the ones after, while the JIT caught up.
WARM_PASSES = 1


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except FileNotFoundError:
                pass  # a file removed while walking is not resident
    return total


def _cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of this VM's CPU time the hypervisor gave to others between two
    ``/proc/stat`` samples: one cause of a run that is slow end to end."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _git_head() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return out.stdout.strip() or "unknown"


def main() -> int:
    args = _args()
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "presto_weather_spark", "registry.py")):
        print(f"perfbench: no presto_weather_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    # On SIGTERM unwind normally, so the run directory is still removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = Run(args, spec, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still owns it
    print(json.dumps(result))
    return 0


class Run:
    def __init__(self, args: argparse.Namespace, spec: dict, run_dir: str) -> None:
        self.args = args
        self.spec = spec
        self.keys = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.run_dir = run_dir
        self.scratch = os.path.join(run_dir, "scratch")
        self.eventlog_dir = os.path.join(run_dir, "eventlog")
        self.attempted = 0
        self.failed = 0
        self.sc = None

    def _environ(self) -> None:
        """Everything the engine writes goes under the run directory, and
        Spark's Python workers can import the engine."""
        for d in (self.scratch, self.eventlog_dir, os.path.join(self.run_dir, "tmp")):
            os.makedirs(d, exist_ok=True)
        env = os.environ
        env["SPARK_GRAFT_SCRATCH_DIR"] = self.scratch
        env["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        submit = "pyspark-shell"
        if self.args.trace:
            submit = (
                "--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{self.eventlog_dir} " + submit
            )
        env["PYSPARK_SUBMIT_ARGS"] = submit
        sys.path.insert(0, ROOT)
        # spark-warehouse/ and derby files are created in the working dir.
        os.chdir(self.run_dir)

    def execute(self) -> dict:
        self._environ()
        from tracing import Tracer

        from presto_weather_spark import session
        from presto_weather_spark.registry import all_queries

        self.queries = all_queries()
        traced = bool(self.args.trace)
        self.tracer = Tracer(self._enter, self._exit) if traced else Tracer()
        with self.tracer.span("session.build_session", trace_id="setup"):
            self.spark = session.build_session("perfbench")
        self.sc = self.spark.sparkContext
        t_session = time.time()
        if traced:
            from layers import StreamProgress, wrap_load_table

            self.wrapped_names = wrap_load_table(self.tracer)
            self.progress = StreamProgress()
            self.spark.streams.addListener(self.progress)
        jvm = self.sc._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.env = {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "scratch_base": session.scratch_base(),
            "spark.driver.memory": self.sc.getConf().get("spark.driver.memory"),
            "versions": _versions(self.spark),
            "git_head": _git_head(),
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
        }
        if traced:
            self.env["load_table_wrapped"] = self.wrapped_names

        from layers import Oracle

        oracle = Oracle(DATA, session.TABLE_NAMES)
        first_results = self._warm_up(oracle)
        t_warm = time.time()
        with self.tracer.span("warmup", trace_id="warmup"):
            for i in range(WARM_PASSES):
                self._pass(f"w{i}", {})
        self.setup_s = time.time() - T0 - oracle.seconds
        # Where set-up time goes; the oracle's share is not in setup_s.
        self.env["setup_parts_s"] = {
            "to_session": t_session - T0,
            "check_pass": t_warm - t_session,
            "oracle": oracle.seconds,
            "warm_passes": time.time() - t_warm,
        }

        gc0, cpu0 = _jvm_gc_s(jvm), _cpu_times()
        passes, latencies, heap = self._timed_passes()
        self.jvm_gc_s = _jvm_gc_s(jvm) - gc0
        self.env["cpu_steal_share"] = _cpu_steal_share(cpu0, _cpu_times())
        self._recheck(oracle, first_results)
        peak_rss_mb = (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb("self")) / 1024
        oracle.close()
        self._stop()

        print(json.dumps({"env": self.env}))
        summary = _summary(latencies, MIN_PASSES * len(self.keys))
        print(json.dumps({"key_median_s": {k: median(ts) for k, ts in sorted(latencies.items())},
                          "latency_s": dict(sorted(latencies.items()))}))
        print(
            f"{self.args.workload}: passes={len(passes)} queries={summary['samples']} "
            f"error_rate={self.failed / self.attempted:.4f} "
            f"query_tail_s=p{summary['tail_pct']} of {summary['samples']} samples "
            f"peak_rss_mb={peak_rss_mb:.0f} cpu_steal_share={self.env['cpu_steal_share']:.3f} "
            f"pass_walls={[round(p['wall'], 2) for p in passes]}",
        )
        if traced:
            metrics = self._per_layer(passes, summary, heap)
            metrics["process.peak_rss_mb"] = peak_rss_mb
            wanted = self.spec["per_layer"]
        else:
            metrics = {k: summary[k] for k in ("pass_s", "query_p50_s", "query_tail_s")}
            metrics["setup_s"] = self.setup_s
            wanted = self.spec["end_to_end"]
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
        }

    # -- job-group tagging (traced runs) -------------------------------------

    def _enter(self, span) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(span.id, span.name)

    def _exit(self, span, parent) -> None:
        if self.sc is None:
            return
        if parent is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(parent.id, parent.name)

    # -- phases ----------------------------------------------------------------

    def _order(self) -> list[str]:
        keys = list(self.keys)
        self.rng.shuffle(keys)
        return keys

    def _release(self) -> int:
        """Unpersist what a query left cached (as bench.py does between
        keys, so one pass does not slow the next); returns how many RDDs."""
        rdds = list(self.sc._jsc.getPersistentRDDs().values())
        for rdd in rdds:
            rdd.unpersist(False)
        return len(rdds)

    def _warm_up(self, oracle) -> dict:
        results = {}
        with self.tracer.span("warmup", trace_id="warmup"):
            for key in self._order():
                self.attempted += 1
                try:
                    pdf = self.queries[key].fn(self.spark, DATA).toPandas()
                except Exception as e:  # noqa: BLE001 -- counted, the loop goes on
                    self._fail(key, "warm-up", e)
                    continue
                finally:
                    self._release()
                results[key] = pdf
                if not oracle.check(self.queries[key].oracle, pdf):
                    self._fail(key, "oracle", "result differs from the DuckDB oracle")
        return results

    def _recheck(self, oracle, first_results: dict) -> None:
        """Oracle-less keys: a second run must give the same rows."""
        for key in self.keys:
            if self.queries[key].oracle is not None or key not in first_results:
                continue
            self.attempted += 1
            try:
                again = self.queries[key].fn(self.spark, DATA).toPandas()
            except Exception as e:  # noqa: BLE001
                self._fail(key, "rerun", e)
                continue
            finally:
                self._release()
            if not oracle.same(first_results[key], again):
                self._fail(key, "rerun", "second run differs from the first")

    def _pass(self, index, latencies: dict[str, list[float]]) -> dict:
        """Every key once, in a fresh seeded order: ``Query.fn`` then a
        ``noop`` write.  Appends each query's latency to ``latencies``."""
        traced = bool(self.args.trace)
        p = {"index": index, "start": time.time(), "persisted": 0}
        for key in self._order():
            q = self.queries[key]
            module = q.fn.__module__.rsplit(".", 1)[-1]
            self.attempted += 1
            try:
                with self.tracer.span("query", trace_id=f"p{index}:{key}", key=key) as qs:
                    with self.tracer.span("registry.fn", module=module):
                        df = q.fn(self.spark, DATA)
                    if traced:
                        with self.tracer.span("catalyst.plan", module=module):
                            df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("sink.write", module=module):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                self._fail(key, f"pass {index}", e)
            else:
                latencies.setdefault(key, []).append(qs.duration)
            finally:
                p["persisted"] += self._release()
        p["end"] = time.time()
        p["wall"] = p["end"] - p["start"]
        return p

    def _timed_passes(self) -> tuple[list[dict], dict[str, list[float]], list[float]]:
        jvm = self.sc._jvm
        passes, latencies, heap = [], {}, []
        start = time.time()
        while len(passes) < MIN_PASSES or time.time() - start < self.args.seconds:
            p = self._pass(len(passes), latencies)
            if self.args.trace:
                p["scratch_bytes"] = _tree_bytes(self.scratch)
                heap.append(jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                            .getHeapMemoryUsage().getUsed() / 2**20)
            passes.append(p)
        return passes, latencies, heap

    def _fail(self, key: str, phase: str, err) -> None:
        self.failed += 1
        print(f"perfbench: {key} failed in {phase}: {err}", file=sys.stderr)

    def _stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- per-layer metrics (traced runs) ---------------------------------------

    def _per_layer(self, passes, summary: dict, heap) -> dict:
        from eventlog import STAGE_FIELDS, attribute, read_events
        from tracing import self_times

        spans = self.tracer.spans
        by_id = {s.id: s for s in spans}
        lo, hi = passes[0]["start"], passes[-1]["end"]
        timed = [s for s in spans if lo <= s.start <= hi]
        n = len(passes)
        selfs = self_times(spans)
        work = attribute(list(read_events(self.eventlog_dir)), spans)

        def phase(s) -> str | None:
            """The query phase a span belongs to: its own or its ancestor's."""
            while s is not None:
                if s.name in ("registry.fn", "sink.write", "catalyst.plan"):
                    return s.name
                s = by_id.get(s.parent)
            return None

        m: dict[str, float] = {}

        def add(name: str, v: float) -> None:
            m[name] = m.get(name, 0.0) + v / n

        for name in self.spec_names():
            m.setdefault(name, 0.0)
        for s in timed:
            w = work.get(s.id, {})
            ph = phase(s)
            if s.name == "session.load_table":
                add("session.load_table.calls", 1)
                add("session.load_table_s", s.duration)
                add("session.load_table.jobs", w.get("jobs", 0))
            elif s.name == "registry.fn":
                add("registry.fn_s", s.duration)
                add("registry.fn.self_s", selfs[s.id])
                add(f"{s.attrs['module']}.fn_s", s.duration)
            elif s.name == "sink.write":
                add("sink.write_s", s.duration)
                add("sink.jobs", w.get("jobs", 0))
                add(f"{s.attrs['module']}.write_s", s.duration)
            elif s.name == "catalyst.plan":
                add("catalyst.plan_s", s.duration)
            if ph == "registry.fn":
                add("registry.fn.jobs", w.get("jobs", 0))
            side = {"registry.fn": "build", "sink.write": "write"}.get(ph)
            if side and w:
                for k in ("stages", "tasks", *STAGE_FIELDS):
                    add(f"spark.{side}.{k}", w[k])
        queries = summary["samples"] / n
        m["registry.fn.jobs_per_query"] = m["registry.fn.jobs"] / queries if queries else 0.0
        calls = m["session.load_table.calls"]
        m["session.load_table.jobs_per_call"] = m["session.load_table.jobs"] / calls if calls else 0.0
        m["registry.fn.persisted_rdds"] = sum(p["persisted"] for p in passes) / n
        m["session.build_session_s"] = next(s for s in spans if s.name == "session.build_session").duration
        m["session.scratch_bytes"] = median(p["scratch_bytes"] for p in passes)
        m["jvm.gc_s"] = self.jvm_gc_s / n
        m["jvm.heap_used_mb"] = median(heap)
        m["trace.pass_s"] = summary["pass_s"]
        m["query.samples"] = summary["samples"]
        m["query_tail.percentile"] = summary["tail_pct"]
        queries_spans = [s for s in timed if s.name == "query"]
        for k, v in self.progress.per_window(queries_spans).items():
            m[k] = v / n
        unknown = set(m) - set(self.spec_names())
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.dump(os.path.join(out_dir, f"spans-{self.args.workload}-seed{self.args.seed}.jsonl"))
        return m

    def spec_names(self) -> list[str]:
        return [x["name"] for x in self.spec["per_layer"]]


def _summary(samples: dict[str, list[float]], planned: int) -> dict:
    """Per-key medians first: the pass is their sum, the p50 their median.
    The tail's percentile is fixed by the ``planned`` sample count."""
    key_median = [median(ts) for ts in samples.values()]
    pooled = [t for ts in samples.values() for t in ts]
    # A run with failed queries has fewer samples than planned.
    tail = tail_percentile(pooled, planned=min(planned, len(pooled)))
    if tail is None:
        raise RuntimeError(f"{len(pooled)} query samples: too few for a tail percentile")
    return {"pass_s": sum(key_median), "query_p50_s": median(key_median), "query_tail_s": tail[1],
            "tail_pct": tail[0], "samples": len(pooled)}


def _jvm_gc_s(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def _versions(spark) -> dict:
    import duckdb
    import pyarrow

    return {"spark": spark.version, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def run_all(args: argparse.Namespace) -> int:
    """Every workload, untraced then traced, as a table."""
    rows = []
    for w in WORKLOADS:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            res = subprocess.run(cmd, capture_output=True, text=True, check=False)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                sys.stderr.write(res.stderr[-4000:])
                return res.returncode or 1
            for line in lines[:-1]:
                print(line)
            out[trace] = json.loads(lines[-1])
        e2e = {k: v["value"] for k, v in out[0]["metrics"].items()}
        layer = {k: v["value"] for k, v in out[1]["metrics"].items()}
        rows.append((w, e2e, layer, out[0]))
    units = {m["name"]: m["unit"] for m in json.load(open(SPEC_PATH))["end_to_end"]}
    print()
    for w, e2e, layer, res in rows:
        cells = [f"{k}={v:.4g} {units[k]}" for k, v in e2e.items()]
        cells.append(f"error_rate={res['failed'] / res['attempted']:.4f}")
        cells.append(f"peak_rss_mb={layer['process.peak_rss_mb']:.0f} MB (traced run)")
        cells.append(f"tracing_overhead_s={layer['trace.pass_s'] - e2e['pass_s']:+.3f}")
        print(f"{w:14s} " + "  ".join(cells))
        share = layer["session.load_table_s"] / layer["trace.pass_s"]
        print(f"{'':14s} traced: load_table_share={share:.3f}  registry.fn_s={layer['registry.fn_s']:.3f}  "
              f"sink.write_s={layer['sink.write_s']:.3f}  streaming.batches={layer['streaming.batches']:g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
