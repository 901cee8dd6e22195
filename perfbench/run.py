"""spandex_spark benchmark: seeded workloads at local[$(nproc)/2], one op at
a time, every output column consumed and checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One driver process runs a closed
loop: the next op starts when the previous one has returned a consumed,
checked result.  Set-up (session start, seeded input generation, layer index
builds, one or two warm-up ops) is timed as ``setup_s``; then ops run for
``--seconds``, and at least three of them.  The last stdout line is one
JSON object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate traced run (Spark event log, job
groups, Python UDF profiler), whose spans are also written to
``perfbench/out/``.

Numbers from the older ``bench.py`` rounds (r1-r6: ``count()`` sink, which
lets Catalyst prune the timed work, at local[32] on another host) are
history and cannot be compared with these.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"   # fits a 15 GB host with its Python workers
# the timed loop runs at least this many ops, so op_s_p50 is a true median
# that one slow op (a burst of load from elsewhere on a shared host) cannot
# move
MIN_OPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ process tree

def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    time a virtual machine's CPUs were runnable but the host ran others."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak RSS of this process and its descendants (the driver JVM and its
    Python workers), sampled from /proc while ``active`` is set."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak = interval, 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def close(self):
        self._stop.set()
        self._thread.join()


def stop_processes(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every process
    this run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext
    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ------------------------------------------------------------ one op

class Runner:
    """Runs ops of one workload and keeps their timings and failures."""

    def __init__(self, workload, tracer):
        self.w, self.tracer = workload, tracer
        self.reference: list | None = None   # first warm-up op's checksums
        self.n_op = 0

    def op(self, traced: bool):
        """One op: every call built, consumed and plan-checked, then the
        output checked.  Returns (seconds, errors, per-call records)."""
        from sink import consume, plan_errors
        tr = self.tracer if traced else None
        span = tr.span if tr else (lambda *a, **k: nullcontext({}))
        self.n_op += 1
        errs, results, records = [], [], []
        self.last_results, self.last_errs = results, errs
        t0 = time.perf_counter()
        with span("op", op=self.n_op):
            try:
                calls = self.w.calls()
                for call in calls:
                    group = f"{tr.run_id}:{self.n_op}:{call.layer}" if tr else None
                    inner: dict[str, float] = {}

                    def sub(name, _inner=inner):
                        return _Timed(_inner, name, span(name + ".construct"))

                    with span(call.layer + ".construct",
                              group=group and group + ":construct") as c:
                        t = time.perf_counter()
                        df = call.build(sub)
                        construct_s = time.perf_counter() - t
                    with span(call.layer + ".exec",
                              group=group and group + ":exec") as x:
                        res, plan = consume(df, call.sink)
                    errs += plan_errors(plan, call.sink.expect)
                    results.append(res)
                    if tr:
                        records.append({
                            "layer": call.layer, "op": self.n_op,
                            "groups": {group + ":construct", group + ":exec"},
                            "windows": [(c["start"], c["end"]),
                                        (x["start"], x["end"])],
                            "exec_window": (x["start"], x["end"]),
                            "construct_s": construct_s - sum(
                                v for k, v in inner.items() if k in call.node_layers),
                            "node_construct_s": inner,
                            "node_layers": call.node_layers})
                with span("check"):
                    errs += self.w.check(results, False)
                    errs += self._checksums(calls, results)
            except Exception:
                errs.append(traceback.format_exc())
        return time.perf_counter() - t0, errs, records

    def _checksums(self, calls, results) -> list[str]:
        """Equal inputs give equal outputs: each exact call's checksum must
        match the first warm-up op's."""
        sums = [r["checksum"] for r in results]
        if self.reference is None:
            self.reference = sums
            return []
        return [f"checksum of {c.layer} changed: {s} != {ref}"
                for c, s, ref in zip(calls, sums, self.reference)
                if c.exact and s != ref]


class _Timed:
    """Times a fused layer's construction into ``inner[name]``."""

    def __init__(self, inner: dict, name: str, ctx):
        self.inner, self.name, self.ctx = inner, name, ctx

    def __enter__(self):
        self.ctx.__enter__()
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.inner[self.name] = (self.inner.get(self.name, 0.0)
                                 + time.perf_counter() - self.t0)
        return self.ctx.__exit__(*exc)


def loop(runner: Runner, seconds: float, traced, sampler=None,
         min_ops: int = 1):
    """Closed loop for ``seconds`` and at least ``min_ops`` ops: returns
    (op seconds, failures, records).  ``traced`` is a bool or a function of
    the op's index."""
    times, failures, records = [], [], []
    end = time.perf_counter() + seconds
    if sampler:
        sampler.active.set()
    while True:
        t, errs, recs = runner.op(traced(len(times)) if callable(traced) else traced)
        times.append(t)
        records += recs
        if errs:
            failures.append(errs)
            print(f"op {runner.n_op} FAILED: {errs}", file=sys.stderr)
        if time.perf_counter() >= end and len(times) >= min_ops:
            break
    if sampler:
        sampler.active.clear()
    return times, failures, records


# ------------------------------------------------------------ main

def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    for d in ("tmp", "local", "eventlog", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything the run writes stays inside the checkout; the Python
    # workers import spandex_spark from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    os.environ["SPANDEX_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import workloads
        import spandex_spark  # noqa: F401  (fail fast outside a checkout)
        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        spark, result = run(args, work, out_dir)
        print(json.dumps(result))
        return 0
    finally:
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str):
    import workloads
    from spandex_spark.session import get_spark
    from tracing import Tracer

    # half the cores: a Python UDF task keeps up to three threads runnable
    # (the JVM's writer and reader threads and the Python worker), so
    # local[nproc] oversubscribes the cores and its op times measure the
    # scheduler; at these input sizes local[nproc/2] is as fast
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    w = workloads.WORKLOADS[args.workload](args.seed, cpus)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size, pre-touched heap: the JVM's RSS then depends neither
        # on when the collector grows the heap nor on how much a run
        # allocated, which made peak_rss_mb noisy
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog")})
    setup_spans: dict[str, float] = {}

    def timed(name, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        setup_spans[name] = time.perf_counter() - t
        return out

    t_setup = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        # input generation is numpy + pyarrow: overlap it with the JVM start
        gen = pool.submit(timed, "sources.grids.inputs_s", w.generate,
                          os.path.join(work, "inputs"))
        spark = timed("session.get_spark_s", get_spark, "perfbench",
                      f"local[{cpus}]", max(cpus * 4, 32), conf)
        gen.result()
    tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}-{os.getpid()}")
    t = time.perf_counter()
    w.prepare(spark, lambda name: _Timed(setup_spans, name + "_s", nullcontext()))
    prepare_s = time.perf_counter() - t
    runner = Runner(w, tracer)
    warm = [runner.op(traced=False)[:2] for _ in range(w.WARMUP_OPS)]
    warm_errs = [e for _, errs in warm for e in errs]
    setup_s = time.perf_counter() - t_setup
    print(f"set-up {setup_s:.1f} s: session {setup_spans['session.get_spark_s']:.1f} s, "
          f"inputs {setup_spans['sources.grids.inputs_s']:.1f} s, prepare "
          f"{prepare_s:.1f} s, warm-up ops "
          + ", ".join(f"{t:.1f} s" for t, _ in warm), file=sys.stderr)
    if warm_errs:
        print(f"warm-up ops FAILED: {warm_errs}", file=sys.stderr)

    sampler = RssSampler()
    steal0 = cpu_steal()
    try:
        if args.trace:
            phases = traced_phases(args, spark, w, runner, out_dir)
            times = phases["untraced"][0] + phases["traced"][0]
            failures = phases["untraced"][1] + phases["traced"][1]
        else:
            times, failures, _ = loop(runner, args.seconds, False, sampler,
                                      min_ops=MIN_OPS)
    finally:
        sampler.close()
    steal1 = cpu_steal()
    print("timed ops " + ", ".join(f"{t:.2f}" for t in times) + " s; CPU steal "
          f"{(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%}",
          file=sys.stderr)
    # the checks that need Spark jobs of their own: once, untimed
    try:
        full_errs = w.check(runner.last_results, True)
    except Exception:
        full_errs = [traceback.format_exc()]
    if full_errs:
        print(f"full check FAILED: {full_errs}", file=sys.stderr)
        if not failures or failures[-1] is not runner.last_errs:
            failures.append(full_errs)
    attempted, failed = len(times), len(failures)
    result = {"correct": not (warm_errs or failures), "attempted": attempted,
              "failed": failed}
    if args.trace:
        spark.stop()   # flushes the event log
        result["metrics"] = traced_metrics(args, tracer, setup_spans, phases,
                                           work, out_dir)
        return spark, result
    p50 = statistics.median(times)
    m = {"setup_s": (setup_s, "s"),
         "op_s_p50": (p50, "s"),
         "rows_per_s": (w.rows * attempted / sum(times), "rows/s"),
         "ok_ratio": ((attempted - failed) / attempted, "ratio"),
         "peak_rss_mb": (sampler.peak / 2**20, "MB")}
    print(f"{args.workload} seed={args.seed} local[{cpus}]: setup_s={setup_s:.3f} s  "
          f"op_s_p50={p50:.3f} s (n={attempted})  "
          f"rows_per_s={m['rows_per_s'][0]:.0f} rows/s  "
          f"fail_ratio={failed / attempted:.3f} ({failed}/{attempted})  "
          f"peak_rss_mb={m['peak_rss_mb'][0]:.0f} MB")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return spark, result


def traced_phases(args, spark, w, runner, out_dir: str) -> dict:
    """The traced run's measured part: the key-only span and the geom
    kernels, then ops alternating untraced and traced (job groups, spans and
    the Python UDF profiler on), so the tracing overhead is measured inside
    one session.  The event log is on for both."""
    from sink import SinkSpec, consume
    from tracing import kernel_metrics
    out = {"values": kernel_metrics(args.seed)}
    if hasattr(w, "key_only"):
        t = time.perf_counter()
        consume(w.key_only(), SinkSpec("pt_id", 1 << 30))
        out["values"]["functions.cells_sql.cell_of_expr_s"] = time.perf_counter() - t

    def traced(i: int) -> bool:
        # alternate, so both halves see the same JVM warm-up and host load
        if i % 2:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        return bool(i % 2)

    times, failures, records = loop(runner, args.seconds, traced, min_ops=2)
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    out["untraced"] = (times[0::2], failures, [])
    out["traced"] = (times[1::2], [], records)
    out["profile_dir"] = os.path.join(out_dir, f"profile-{args.workload}-{args.seed}")
    shutil.rmtree(out["profile_dir"], ignore_errors=True)
    spark.profile.dump(out["profile_dir"])
    return out


def traced_metrics(args, tracer, setup_spans, phases, work, out_dir) -> dict:
    """Per-layer metrics from the event log and the spans; writes the spans
    and per-call rows to ``out_dir/trace-<workload>-<seed>.json``."""
    import tracing
    log = tracing.EventLog(tracing.find_event_log(os.path.join(work, "eventlog")))
    records = phases["traced"][2]
    rows = tracing.layer_metrics(log, records)
    values = {**setup_spans, **phases["values"]}
    for layer in {r["layer"] for r in rows}:
        mine = [r for r in rows if r["layer"] == layer]
        for key in mine[0]:
            if key != "layer":
                values[f"{layer}.{key}"] = statistics.median(r[key] for r in mine)
    ops = [i for i, s in enumerate(tracer.spans) if s["name"] == "op"]
    traced_p50 = statistics.median(phases["traced"][0])
    untraced_p50 = statistics.median(phases["untraced"][0])
    values.update({
        "trace.op_s_p50": traced_p50,
        "trace.untraced_op_s_p50": untraced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.op_self_s": statistics.median(tracer.self_time(i) for i in ops),
    })
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in tracing.per_layer_metrics()}
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"run_id": tracer.run_id, "workload": args.workload,
                   "seed": args.seed, "spans": tracer.spans, "calls": rows,
                   "profile_dir": phases["profile_dir"], "metrics": metrics},
                  fh, indent=1, default=list)
    print(f"{args.workload} seed={args.seed} traced: op_s_p50 traced "
          f"{traced_p50:.3f} s vs untraced {untraced_p50:.3f} s "
          f"(overhead {traced_p50 - untraced_p50:+.3f} s); op self time "
          f"{values['trace.op_self_s']:.4f} s; spans in {path}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
