"""Layered benchmark of the Spark engine: one closed-loop client
calls the program's public functions on Spark ``local[<cores>]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 6 --trace 0

A run sets up once (a session in a newly launched JVM plus seeded
input generation), makes one cold pass over the workload's
operations, then a fixed number of warm passes that fills about
``--seconds`` on the reference host, checks every output and prints
one context line and one result line.  ``--trace 1`` additionally
puts every layer call under its own Spark job group, enables the
JSON event log, and prints the per-layer metrics instead of the
end-to-end ones; spans and the per-layer split are written to
``.perfbench/trace/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
LAYER_METRICS = (
    "build_s", "action_s", "jobs", "driver_s", "catalyst_ms", "task_s",
    "shuffle_write_mb", "spill_mb", "written_mb",
)
STORE_LAYERS = ("operators.dedup", "operators.components")


class Ctx:
    """What a workload pass calls the program through: operations
    (``op``) made of layer calls (``call``) and terminal actions
    (``action``), each a span."""

    def __init__(self, tracer, traced: bool, sc):
        self.tracer, self.traced, self.sc = tracer, traced, sc
        self.ops: list[dict] = []
        self.leaves: list[dict] = []
        self.residue: list[tuple[float, int]] = []
        self.pass_no = 0

    @contextlib.contextmanager
    def op(self, name: str):
        rec = dict(op=len(self.ops), pass_no=self.pass_no, name=name)
        self.ops.append(rec)
        with self.tracer.span(name, op=rec["op"], pass_no=self.pass_no):
            c0 = probes.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                yield
            except BaseException:
                rec["error"] = True
                raise
            finally:
                rec["wall"] = time.perf_counter() - t0
                rec["cpu"] = probes.tree_cpu_s(os.getpid()) - c0
        if self.traced:
            self.residue.append(probes.storage_residue(self.sc))

    @contextlib.contextmanager
    def _leaf(self, layer: str, name: str, kind: str, writes: tuple[str, ...]):
        before = probes.tree_state(*writes) if self.traced and writes else None
        op = self.ops[-1]["op"] if self.ops else None
        with self.tracer.span(name, layer=layer, op=op, kind=kind,
                              pass_no=self.pass_no) as rec:
            yield rec
        if before is not None:
            rec["written"] = probes.written_bytes(before, probes.tree_state(*writes))
        self.leaves.append(rec)

    def call(self, layer, name, fn, *args, writes: tuple[str, ...] = (), **kw):
        """Time a call into ``layer``'s function ``fn``; ``writes``: the
        directories whose new or rewritten bytes a traced run charges
        to the call."""
        with self._leaf(layer, name, "build", writes):
            return fn(*args, **kw)

    def action(self, layer, df, writes: tuple[str, ...] = ()) -> int:
        """The benchmark's terminal action: the aggregate ``count()``
        runs, made explicit so that a traced run can read the planning
        tracker of the plan that ran.  ``writes`` as for ``call``, for
        sinks that write when the action runs."""
        with self._leaf(layer, "count", "action", writes) as rec:
            agg = df.groupBy().count()
            n = agg.collect()[0][0]
        if self.traced:
            rec["catalyst_ms"] = probes.catalyst_ms(agg)
        return n


def _op_best(warm_ops: list[dict], key: str) -> list[float]:
    """Each operation's lowest ``key`` ("wall" or "cpu") across the
    warm passes.  On a shared host, contention from other guests only
    ever adds to either, so the lowest repeat is the one closest to
    the program's own cost."""
    by_name: dict[str, list[float]] = {}
    for o in warm_ops:
        by_name.setdefault(o["name"], []).append(o[key])
    return [min(v) for v in by_name.values()]


def _layer_metrics(ctx, groups: dict, warm: list[int]) -> dict[str, float]:
    """Per layer, the median over warm passes of each metric summed
    over the layer's spans in the pass."""
    per: dict[tuple[int, str], dict[str, float]] = {}
    for s in ctx.leaves:
        if s["pass_no"] not in warm:
            continue
        m = per.setdefault((s["pass_no"], s["layer"]), dict.fromkeys(LAYER_METRICS, 0.0))
        wall = s["end"] - s["start"]
        g = groups.get(f"span-{s['id']}")
        m["build_s" if s["kind"] == "build" else "action_s"] += wall
        m["catalyst_ms"] += s.get("catalyst_ms", 0.0)
        m["written_mb"] += s.get("written", 0) / probes.MB
        m["driver_s"] += wall
        if g:
            m["driver_s"] -= probes.busy_seconds(g["intervals"], s["start"], s["end"])
            m["jobs"] += g["jobs"]
            for k in ("task_s", "shuffle_write_mb", "spill_mb"):
                m[k] += g[k]
    out: dict[str, float] = {}
    for layer in {lay for _, lay in per}:
        for k in LAYER_METRICS:
            vals = [per[(p, layer)][k] if (p, layer) in per else 0.0 for p in warm]
            out[f"{layer}.{k}"] = statistics.median(vals)
    return out


def warm_passes(wl, seconds: float) -> int:
    """How many warm passes follow the cold one: as many of the
    workload's nominal pass walls (``wl.pass_s``, measured on the
    reference host) as fit ``seconds``, at least one and at most
    ``wl.max_warm``.  The count depends on ``seconds`` only, never on
    how fast the program runs, so two commits measure the same work."""
    return max(1, min(round(seconds / wl.pass_s), wl.max_warm))


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, spec) -> dict:
    from wrds_data_pipeline_spark.session import get_spark

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, spec, wl, work, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, wl, work, get_spark) -> dict:
    tmp, logs = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(logs)
    # Everything Spark and Python spill to disk stays in the checkout.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    # -UsePerfData: no hsperfdata file in the system temp dir.  The
    # heap is the program's own default.
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        wl.generate(os.path.join(work, "inputs"), args.seed)
        setup_s = time.perf_counter() - t0
        sc = spark.sparkContext
        wl.bind(spark)
        tracer = probes.Tracer(sc, jobs=bool(args.trace))
        ctx = Ctx(tracer, bool(args.trace), sc)

        passes: list[float] = []
        failed = 0
        ticks = probes.cpu_ticks()
        with probes.RssSampler([os.getpid(), sc._gateway.proc.pid]) as rss:
            n_warm = warm_passes(wl, args.seconds)
            for pass_no in range(1 + n_warm):
                ctx.pass_no = pass_no
                try:
                    wl.run_pass(ctx, last=pass_no == n_warm)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                passes.append(sum(o["wall"] for o in ctx.ops if o["pass_no"] == ctx.pass_no))
        context = probes.host_context(ticks)
        if not passes:
            raise RuntimeError("the cold pass failed")
        t0 = time.perf_counter()
        try:
            failed += wl.check()
        except Exception:
            traceback.print_exc()
            failed += 1
        check_s = time.perf_counter() - t0
        app_id = sc.applicationId
    finally:
        if spark is not None:
            _shutdown(spark)

    # a failed warm pass leaves the cold pass to stand in for it
    warm_ids = list(range(1, len(passes))) or [0]
    warm_ops = [o for o in ctx.ops if o["pass_no"] in warm_ids and "error" not in o]
    warm_cpu_s = sum(_op_best(warm_ops, "cpu"))
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0],
        "cold_cpu_s": sum(o["cpu"] for o in ctx.ops if o["pass_no"] == 0),
        "warm_cpu_s": warm_cpu_s,
        "rows_per_cpu_s": wl.rows_per_cpu_s(warm_ops, warm_cpu_s),
    }
    attempted = len(ctx.ops)
    context.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        passes=len(passes), warm_ops=len(warm_ops),
        failed_op_ratio=failed / attempted,
        session_s=session_s, pass_walls_s=passes, check_s=check_s,
        warm_pass_s=sum(_op_best(warm_ops, "wall")), peak_rss_mb=rss.peak_mb,
    )
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    result_path = os.path.join(
        STATE, "results", f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(result_path, "w") as fh:
        json.dump({"metrics": e2e, "context": context,
                   "ops": [(o["pass_no"], o["name"], o.get("wall"), o.get("cpu"))
                           for o in ctx.ops]}, fh)

    metrics_out = e2e
    if args.trace:
        groups = probes.parse_event_log(logs, app_id)
        layer = _layer_metrics(ctx, groups, warm_ids)
        layer["session.build_s"] = session_s
        layer["process.peak_rss_mb"] = rss.peak_mb
        pinned = ctx.residue or [(0.0, 0)]
        layer["caching.pinned_mb"] = max(mb for mb, _ in pinned)
        layer["caching.pinned_rdds"] = max(n for _, n in pinned)
        if hasattr(wl, "store_amps"):
            written = sum(s.get("written", 0) for s in ctx.leaves
                          if s["pass_no"] in warm_ids and s["layer"] in STORE_LAYERS)
            layer["stores.write_amp"], layer["stores.space_amp"] = wl.store_amps(
                written, warm_ids)
        metrics_out = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
        untraced = result_path.replace("trace1", "trace0")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            context["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
        with open(os.path.join(STATE, "trace", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"context": context, "end_to_end": e2e, "per_layer": layer,
                       "ops": ctx.ops, "spans": tracer.spans}, fh, indent=1)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return {
        "context": context,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics_out.items()},
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path[:0] = [ROOT]

    out = run(args, spec)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
