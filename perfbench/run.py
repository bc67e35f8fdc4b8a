"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload filter_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints every end-to-end
metric; ``--trace 1`` runs the traced variant and prints every
per-layer metric (perfbench/DESIGN.md says what each one is). The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every call's output passed its checks.
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

ROOT = os.getcwd()
DRIVER_MEM = "2g"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> dict:
    """Point every scratch path of Spark and its workers into ``work``;
    returns the Spark conf the session is built with."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the engine's driver-heap setting: a 2g cap keeps the JVM's resident
    # set from drifting with GC timing (it moved by about 30% run to run
    # under the 8g default); the workloads' data is a few MB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    return {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-XX:-UsePerfData"}


class Tracer:
    """In-memory spans: name, start, end, parent span, call id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.call_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "call": self.call_id, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time child spans
        cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) \
                    + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def setup(conf: dict, tracer: Tracer | None = None):
    """Session start, model build and model broadcast: what the program
    needs before it can take its first call. Returns the session, the
    models and the per-step seconds."""
    from datacanary_spark.functions.models import build_default_models
    from datacanary_spark.plans.pipeline import broadcast_models
    from datacanary_spark.session import get_spark
    from perfbench.host import nproc

    build_default_models.cache_clear()  # time a real build every setup
    tracer = tracer or Tracer()
    with tracer.span("setup") as root:
        with tracer.span("session.start") as s1:
            spark = get_spark(master=f"local[{nproc()}]", extra_conf=conf)
        with tracer.span("models.build") as s2:
            models = build_default_models()
        with tracer.span("models.broadcast") as s3:
            broadcast_models(spark, models)
    steps = {s["name"]: s["end"] - s["start"] for s in (root, s1, s2, s3)}
    return spark, models, steps


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.host import wait_for_descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    wait_for_descendants()


def run_call(wl, spark, models, status, out_dir: str, call_id: int,
             tracer: Tracer | None) -> dict:
    """One checked call; counters are read only when ``tracer`` is set."""
    if tracer is not None:
        tracer.call_id = call_id
        before = status.last_job_id()
    spark.sparkContext.setJobGroup(f"perfbench-call-{call_id}",
                                   f"{wl.name} call {call_id}")
    rec = {"call": call_id, "traced": tracer is not None, "errors": []}
    t0 = time.perf_counter()
    try:
        if tracer is not None:
            with tracer.span(f"{wl.name}.call"):
                result = wl.call(spark, models, out_dir)
        else:
            result = wl.call(spark, models, out_dir)
    except Exception as e:  # a failed call is counted, not fatal
        result = None
        rec["errors"].append(f"{type(e).__name__}: {str(e)[:300]}")
    rec["wall_s"] = time.perf_counter() - t0
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    if result is not None:
        rec["errors"] += wl.check(result, out_dir)
        rec["out_bytes_per_doc"] = wl.output_bytes_per_doc(result, out_dir)
    if tracer is not None:
        rec["spark"] = status.call_counters(before, rec["wall_s"])
        tracer.call_id = None
    rec["leaked_rdds"], rec["leaked_plans"] = status.release_leaks()
    shutil.rmtree(out_dir, ignore_errors=True)
    return rec


def closed_loop(wl, spark, models, status, work: str, seconds: float,
                tracer: Tracer | None) -> list[dict]:
    """The cold call, then warm calls until ``seconds`` have passed, at
    least two. In a traced run, warm calls alternate traced and untraced
    so the tracing overhead is measured in the same window."""
    traced = tracer is not None
    calls = [run_call(wl, spark, models, status,
                      os.path.join(work, "out-0"), 0, tracer)]
    t0 = time.perf_counter()
    i = 1
    while time.perf_counter() - t0 < seconds or i <= 2:
        on = traced and i % 2 == 1
        calls.append(run_call(wl, spark, models, status,
                              os.path.join(work, f"out-{i}"), i,
                              tracer if on else None))
        i += 1
    return calls


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, calls: list[dict], setup_s: float, rss_mb: float) -> dict:
    warm = [c["wall_s"] for c in calls[1:]]
    failed = sum(bool(c["errors"]) for c in calls)
    return {
        "docs_per_s": metric(wl.n_docs * len(warm) / sum(warm), "docs/s"),
        "call_p50_s": metric(statistics.median(warm), "s"),
        "cold_s": metric(calls[0]["wall_s"], "s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
        "pass_ratio": metric(1.0 - failed / len(calls), "ratio"),
        "output_bytes_per_doc": metric(statistics.median(
            [c["out_bytes_per_doc"] for c in calls
             if "out_bytes_per_doc" in c] or [0.0]), "B/doc"),
    }


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "datacanary_spark")):
        print(f"perfbench: no datacanary_spark package under {ROOT}; "
              f"run from the root of a canary-spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.corpus import PinMismatch
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(known: {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, wl, work)
    except PinMismatch as e:
        print(f"perfbench: refusing to run: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def run(args, wl, work: str) -> int:
    from perfbench import host
    from perfbench.status import StatusReader
    from perfbench.workloads import load_inputs

    conf = prepare_env(work)
    md5 = host.md5_single_thread_mb_per_s(ROOT)
    facts_host = {"nproc": host.nproc(), "md5_1t_mb_per_s": md5}
    in_dir = os.path.join(work, "input")
    pdf, facts, pinned = load_inputs(wl, args.seed, in_dir)
    log(f"host nproc={facts_host['nproc']} md5_1t={md5:.0f} MB/s")
    log(f"corpus {wl.name} seed={args.seed} pinned={pinned} {facts}")

    tracer = Tracer() if args.trace else None
    spark, models, steps = setup(conf, tracer)
    try:
        wl.prepare(pdf, in_dir, args.seed, models)
        status = StatusReader(spark)
        calls = closed_loop(wl, spark, models, status, work, args.seconds,
                            tracer)
        if args.trace:
            from perfbench.layers import traced_metrics

            metrics = traced_metrics(wl, spark, models, status, pdf, in_dir,
                                     work, tracer, calls, steps, ROOT,
                                     args.seed, facts, facts_host)
        else:
            rss = host.tree_peak_rss_mb()
            log("peak rss MB by process: " + " ".join(
                f"{k}={v:.0f}" for k, v in rss.items()))
            metrics = end_to_end(wl, calls, steps["setup"], sum(rss.values()))
    finally:
        shutdown(spark)

    failed = sum(bool(c["errors"]) for c in calls)
    for c in calls:
        for e in c["errors"]:
            log(f"call {c['call']} FAILED: {e}")
    warm = [c["wall_s"] for c in calls[1:] if isinstance(c["call"], int)]
    log(f"calls: 1 cold + {len(warm)} warm, failed {failed}, "
        f"fail_ratio {failed / len(calls):.3f}; setup "
        f"{steps['setup']:.2f} s; warm calls "
        + " ".join(f"{w:.2f}" for w in warm) + " s")
    for name, m in metrics.items():
        log(f"{wl.name}.{name} = {m['value']:.6g} {m['unit']}"
            + (f" (n={len(warm)} warm calls)" if name in
               ("call_p50_s", "docs_per_s") else ""))
    print(json.dumps({"correct": failed == 0, "attempted": len(calls),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


def log(msg: str) -> None:
    print(msg, flush=True)


if __name__ == "__main__":
    sys.exit(main())
