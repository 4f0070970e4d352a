"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics, and the full trace
(spans, per-module self times, engine metrics per job group) is written
to ``.perfbench_out/``.  Lines before it, prefixed ``#``, are the
human-readable report.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 4       # set-ups per run; setup_s is their median


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


# --- machine state -------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def machine_state() -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": load, "cpu": _cpu_times()}


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)  # field 8 of the cpu line is steal


def process_tree() -> dict[int, list[str]]:
    """This process and its descendants (the driver JVM, the Python
    workers): pid -> the fields of /proc/<pid>/stat after the name."""
    stat: dict[int, list[str]] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stat[int(d)] = fields
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in stat:
            out[p] = stat[p]
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of the process tree, reaped children included."""
    ticks = sum(int(x) for fields in process_tree().values() for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def heap_size() -> str:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, kb // (4 * 1024 * 1024))}g"  # a quarter of RAM


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM): read once, so untraced runs pay nothing for it."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024.0


class MemSampler(threading.Thread):
    """Peak proportional set size of this process and its descendants
    (the driver JVM and the Python workers), sampled every 0.2 s.
    Traced runs only: reading smaps_rollup walks the JVM's page tables."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._halt.wait(0.2):
            self.peak_kb = max(self.peak_kb, sum(self._pss_kb(p) for p in process_tree()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


# --- the run ---------------------------------------------------------------

def run(workload: str, seed: int, trace: bool, size: str) -> dict:
    from openelevationservice_spark.operators.sample import pixel_index
    from openelevationservice_spark.plans.session import build_session
    from openelevationservice_spark.sources import fixtures as fx

    from perfbench.spans import Tracer, engine_by_group, read_event_log, self_times
    from perfbench.workloads import WORKLOADS, CheckFailed

    cpus = os.cpu_count() or 1
    tmp_dir = os.path.join(OUT_DIR, "tmp", str(os.getpid()))
    log_dir = os.path.join(tmp_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + log_dir})
    wl = WORKLOADS[workload](size, seed, tmp_dir)
    tracer = Tracer(enabled=trace)
    spark, setups, rss_mb = None, [], None
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        with tracer.span("plans.session", op="setup"):
            spark = build_session(app=f"perfbench-{workload}", cpus=cpus, extra=extra)
        session_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        for rep in range(SETUP_REPS):
            wl.release()  # the previous repetition's world and pixel index
            t0 = time.perf_counter()
            with tracer.span("sources.world", op=f"setup#{rep}"):
                images = fx.make_images_df(spark, wl.world).persist()
                images.count()
                wl.hold(images)
            t1 = time.perf_counter()
            with tracer.span("operators.sample.pixel_index", op=f"setup#{rep}"):
                pix = pixel_index(images).persist()
                pix.count()
                wl.hold(pix)
            t2 = time.perf_counter()
            setups.append({"world_s": t1 - t0, "pixel_index_s": t2 - t1, "total_s": t2 - t0})
            say(f"setup {rep}: " + " ".join(f"{k}={v:.3f}" for k, v in setups[-1].items()))
        t0 = time.perf_counter()
        with tracer.span("bench.inputs", op="inputs"):
            wl.build_inputs(spark, images, pix)
        inputs_s = time.perf_counter() - t0
        say(f"session_s={session_s:.3f} inputs_s={inputs_s:.3f}")

        def execute(op, label):
            """Run one checked operation: its output rows, wall seconds,
            CPU seconds of the process tree and CPU steal share, or None
            if it raised or failed its check."""
            nonlocal attempted, failed
            attempted += 1
            c0, p0, t0 = _cpu_times(), tree_cpu_s(), time.perf_counter()
            try:
                with tracer.span(f"op.{op.kind}", op=label, group=op.kind):
                    rows = int(op.run(tracer))
            except CheckFailed as e:
                failed += 1
                say(f"CHECK FAILED {label}: {e}")
                return None
            except Exception:  # an operation that raises is a failed operation
                failed += 1
                say(f"ERROR {label}:\n" + traceback.format_exc())
                return None
            wall = time.perf_counter() - t0
            return {"rows": rows, "wall_s": wall, "cpu_s": tree_cpu_s() - p0,
                    "steal": steal_share(c0, _cpu_times())}

        # one timed cycle, whatever --seconds says: each kind's operation
        # once, one at a time, from the session's first query.  A run thus
        # measures each query's first execution in a fresh session (code
        # generation and JIT compilation included, as a batch job pays
        # them), and a faster program does not change what is measured.
        ops: dict[str, list[dict]] = {k: [] for k in wl.kinds}
        t_start = time.perf_counter()
        for j, op in enumerate(wl.cycle(0)):
            res = execute(op, f"{op.kind}#0.{j}")
            if res is not None:
                ops[op.kind].append(res)
        measured_s = time.perf_counter() - t_start
        if trace:  # outside the timed window
            for j, op in enumerate(wl.traced_extras()):
                execute(op, f"{op.kind}.{j}")
            wl.probe_kernels()
    finally:
        if spark is not None:
            rss_mb = peak_rss_mb()  # before the Python workers stop
            wl.release()
            spark.stop()

    result = {
        "workload": workload, "seed": seed, "size": size, "trace": trace,
        "session_s": session_s, "inputs_s": inputs_s, "setups": setups,
        "measured_s": measured_s, "ops": ops,
        "attempted": attempted, "failed": failed, "digests": wl.digests,
        "peak_rss_mb": rss_mb,
    }
    med = statistics.median
    per_kind = {k: {"n": len(v), "p50_ms": med(o["wall_s"] for o in v) * 1e3,
                    "cpu_s": med(o["cpu_s"] for o in v), "rows": v[-1]["rows"],
                    "unit": wl.units.get(k, "rows")}
                for k, v in ops.items() if v}
    for v in per_kind.values():
        v["per_s"] = v["rows"] / v["p50_ms"] * 1e3
    e2e = {}
    if len(per_kind) == len(wl.kinds):
        kinds = per_kind.values()
        e2e = {
            "setup_s": med(s["total_s"] for s in setups),
            # one cycle's output rows over the sum of the kinds' times
            "rows_per_s": sum(v["rows"] for v in kinds) / sum(v["p50_ms"] for v in kinds) * 1e3,
            "kind_geomean_ms": statistics.geometric_mean(v["p50_ms"] for v in kinds),
            "cpu_s_per_cycle": sum(v["cpu_s"] for v in kinds),
        }
    result["end_to_end"] = e2e
    result["per_kind"] = per_kind
    if trace:
        result["spans"] = tracer.spans
        result["layers"] = _layers(wl, tracer, session_s, inputs_s, setups, engine_by_group(
            read_event_log(log_dir), tracer.spans), self_times(tracer.spans))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return result


def _layers(wl, tracer, session_s, inputs_s, setups, engine, selfs) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map)."""
    med = statistics.median
    out = {
        "session.build_s": session_s,
        "sources.world_build_s": med(s["world_s"] for s in setups),
        "sample.pixel_index_s": med(s["pixel_index_s"] for s in setups),
        "bench.inputs_s": inputs_s,
    }
    for name, v in sorted(selfs.items()):
        out[f"self_s.{name}"] = v
    check_s: dict[int, float] = {}
    for s in tracer.spans:
        if s["name"] == "bench.check" and s["parent"] is not None:
            check_s[s["parent"]] = check_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    for kind in wl.kinds:
        calls = [s["end"] - s["start"] - check_s.get(s["id"], 0.0)
                 for s in tracer.spans if s["name"] == f"op.{kind}"]
        if calls:
            out[f"{kind}.call_s"] = med(calls)
    for group, rec in engine.items():
        n = sum(1 for s in tracer.spans if s["group"] == group) or 1
        for m, v in rec.items():
            out[f"{group}.{m}"] = v / n
        touched = wl.touched_bytes.get(group.removesuffix(".operator_only"))
        if rec["arrow_in_bytes"] and touched:
            out[f"{group}.touched_tile_bytes"] = touched / n
            out[f"{group}.arrow_bytes_per_tile_byte"] = rec["arrow_in_bytes"] / touched
    for key, xs in wl.layer.items():
        out[key] = med(xs)
    for kind in ("point", "line", "polygon", "colorpolygon"):
        if f"api.operator_ms.{kind}" in out:
            out[f"api.overhead_ms.{kind}"] = (out[f"api.request_ms.{kind}"]
                                              - out[f"api.operator_ms.{kind}"])
    # engine totals per operation of the workload's own kinds
    n_ops = max(sum(1 for s in tracer.spans if s["group"] in wl.kinds), 1)

    def per_op(m, scale=1.0):
        return sum(rec[m] for g, rec in engine.items() if g in wl.kinds) * scale / n_ops
    out.update({
        "engine.jobs_per_op": per_op("jobs"),
        "engine.tasks_per_op": per_op("tasks"),
        "engine.executor_run_ms_per_op": per_op("executor_run_s", 1e3),
        "engine.executor_cpu_ms_per_op": per_op("executor_cpu_s", 1e3),
        "engine.gc_ms_per_op": per_op("gc_s", 1e3),
        "engine.driver_ms_per_op": per_op("driver_s", 1e3),
        "engine.shuffle_bytes_per_op": per_op("shuffle_bytes"),
        "engine.python_run_ms_per_op": per_op("python_run_s", 1e3),
        "engine.arrow_in_bytes_per_op": per_op("arrow_in_bytes"),
        "engine.arrow_out_bytes_per_op": per_op("arrow_out_bytes"),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "openelevationservice_spark")):
        print("perfbench: the openelevationservice_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # everything the run writes stays inside the checkout
    os.makedirs(os.path.join(OUT_DIR, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(OUT_DIR, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT_DIR, "tmp")
    # no hsperfdata: the JVM would write it under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(OUT_DIR, 'tmp')} "
                                       "-XX:-UsePerfData")
    os.environ["OES_DRIVER_MEM"] = heap_size()
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import openelevationservice_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2

    java = [line for line in subprocess.run(["java", "-version"], capture_output=True,
                                            text=True).stderr.splitlines() if "version" in line]
    say(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} size={args.size}")
    say(f"nproc={os.cpu_count()} master=local[{os.cpu_count()}] "
        f"heap={os.environ['OES_DRIVER_MEM']} pyspark={pyspark.__version__} "
        f"java={java[0] if java else '?'}")
    before = machine_state()
    say(f"before: loadavg={' '.join(before['loadavg'])}")
    sampler = MemSampler() if args.trace else None
    if sampler:
        sampler.start()
    try:
        res = run(args.workload, args.seed, bool(args.trace), args.size)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        peak_mb = sampler.stop() if sampler else None
        _stop_gateway()
    after = machine_state()
    say(f"after: loadavg={' '.join(after['loadavg'])} steal={steal_share(before['cpu'], after['cpu']):.4f}")
    res["machine"] = {"before": before, "after": after, "nproc": os.cpu_count(),
                      "heap": os.environ["OES_DRIVER_MEM"]}

    e2e = res["end_to_end"]
    say(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB (peak RSS of the driver, its JVM "
        "and Python workers, summed per process)")
    if sampler:
        res["peak_pss_mb"] = peak_mb
        say(f"peak memory (sampled PSS of the same processes) = {peak_mb:.1f} MB")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for kind, v in res["per_kind"].items():
        say(f"{kind}_p50_ms = {v['p50_ms']:.1f} ms (n={v['n']}); "
            f"{kind}_{v['unit']}_per_s = {v['per_s']:.6g} {v['unit']}/s; "
            f"{kind}_cpu_s = {v['cpu_s']:.3f} s")
    timed = [o for v in res["ops"].values() for o in v]
    if timed:
        say("CPU steal over the timed operations = "
            f"{sum(o['steal'] * o['wall_s'] for o in timed) / sum(o['wall_s'] for o in timed):.4f}")
    say(f"failed_frac = {res['failed'] / max(res['attempted'], 1):.4f} "
        f"({res['failed']} of {res['attempted']} operations)")
    for name, v in e2e.items():
        say(f"{name} = {v:.6g} {units.get(name, '')}")

    tag = f"{args.workload}-s{args.seed}-{args.size}"
    if args.trace:
        layers = res["layers"]
        layers["memory.peak_pss_mb"] = peak_mb
        for name in sorted(layers):
            say(f"layer {name} = {layers[name]:.6g}")
        untraced = os.path.join(OUT_DIR, f"{tag}-trace0.json")
        if os.path.exists(untraced) and res["per_kind"]:
            with open(untraced) as f:
                base = json.load(f)
            if base.get("per_kind"):
                cycle = lambda r: sum(v["p50_ms"] for v in r["per_kind"].values())  # noqa: E731
                res["tracing_overhead_ms_per_cycle"] = cycle(res) - cycle(base)
                say(f"tracing overhead = {res['tracing_overhead_ms_per_cycle']:.1f} ms per cycle "
                    f"(sum of the kinds' times, traced minus untraced run, same seed)")
    values = res["layers"] if args.trace else e2e
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    res["metrics"] = metrics
    with open(os.path.join(OUT_DIR, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)

    if len(metrics) != len(wanted):
        missing = sorted({m["name"] for m in wanted} - set(metrics))
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    correct = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _stop_gateway() -> None:
    """Shut the JVM down and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
