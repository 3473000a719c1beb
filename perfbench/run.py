"""dbus_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload window_drain --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root (or anywhere: the root is found from this
file). The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones below; with
``--trace 1`` the run records spans (written to
``perfbench/.work/spans/``) and reports the per-layer metrics of
``layers.PER_LAYER`` instead. Lines before it give every metric with
its sample count, the effective Spark confs and the output checks.

End-to-end metrics (every workload):

- ``setup_s``: session start + plan build + warm-up over a throwaway
  input on a throwaway checkpoint. The session starts once; the build
  and warm-up run ``SETUP_REPEATS`` times and the median is reported;
- ``rows_per_s``: input rows over the summed wall time of the drains
  (query start to the last commit) or passes; for the paced fan-out,
  from the first scheduled drop to the last commit;
- ``batch_p50_ms``: median micro-batch, from its ``offsets/N`` write to
  its ``commits/N`` write; on the batch workload, median pass;
- ``delivery_p50_ms``: median time from when input was due to its
  durable commit:
  one sample per (file, output) from the file's scheduled drop (paced),
  per file from the drain's start (backlog drains), per pass (batch);
- ``peak_rss_mb``: peak resident memory of the Spark JVM plus its
  Python workers, from /proc.

Failed batches, undelivered files and output mismatches are counted
in ``failed`` against ``attempted``; ``error_rate`` is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "delivery_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def _bootstrap(work: str) -> None:
    """Make the library importable here and in Spark's Python workers,
    and keep every temporary file inside the work directory."""
    if not os.path.isdir(os.path.join(ROOT, "dbus_spark")):
        sys.exit(f"dbus_spark not found next to {HERE}: nothing to measure")
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _fmt(name: str, value: float, unit: str, n: int | str) -> str:
    return f"{name:<28} {value:>14.4f} {unit:<6} (n={n})"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--toy", action="store_true", help="tiny inputs (the self-test)"
    )
    args = ap.parse_args(argv)

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _bootstrap(work)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work, args.seed, args.toy)
    try:
        out = _run(wl, work, base, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def _run(wl, work: str, base: str, args) -> dict:
    import harness as H
    import layers

    traced = bool(args.trace)
    load = wl.prepare()
    t = time.time()
    spark = H.start_session(work, traced)
    session_s = time.time() - t
    sampler = H.RssSampler(H.jvm_pid(spark))
    sampler.start()
    try:
        # a SparkContext cannot be restarted cleanly inside one Python
        # process (its accumulator server does not come back), so the
        # session start is paid once and the plan build + warm-up repeats
        warmups = []
        for _ in range(SETUP_REPEATS):
            t = time.time()
            wl.setup(spark)
            warmups.append(time.time() - t)
        confs = H.effective_confs(spark)
        if traced:
            # untraced half first: the overhead is the traced half's
            # difference from it, on the same session
            untraced = wl.measure(spark, args.seconds / 2, H.Tracer(False))
            listener = H.progress_listener()
            spark.streams.addListener(listener)
            tracer = H.Tracer(True)
            res = wl.measure(spark, args.seconds / 2, tracer)
            time.sleep(0.5)  # let the listener bus deliver the last events
            spark.streams.removeListener(listener)
            phases = [untraced, res]
        else:
            res = wl.measure(spark, args.seconds, H.Tracer(False))
            phases = [res]
    finally:
        sampler.stop()
        H.shutdown(spark)

    print(f"workload {args.workload} seed {args.seed} load {json.dumps(load)}")
    print(f"session start {session_s:.3f} s, warm-ups {[round(w, 3) for w in warmups]} s")
    print("confs " + json.dumps(confs))
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    if traced:
        log = H.read_eventlog(os.path.join(work, "eventlog"), res.start, res.end)
        metrics = layers.per_layer_metrics(res, untraced, listener.events, log, tracer)
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-{args.seed}.json")
        tracer.dump(spans_path)
        print(f"spans {len(tracer.spans)} -> {os.path.relpath(spans_path, ROOT)}")
        units = layers.PER_LAYER
        for k, v in metrics.items():
            print(_fmt(k, v, units[k], res.units))
    else:
        metrics = {
            "setup_s": H.median([session_s + w for w in warmups]),
            "rows_per_s": res.rows / sum(res.busy_s),
            "batch_p50_ms": H.median(res.batch_ms),
            "delivery_p50_ms": H.median(res.delivery_ms),
            "peak_rss_mb": sampler.peak / 2**20,
        }
        counts = [len(warmups), len(res.busy_s), len(res.batch_ms),
                  len(res.delivery_ms), sampler.samples]
        units = dict(E2E_UNITS)
        for (k, v), n in zip(metrics.items(), counts):
            print(_fmt(k, v, units[k], n))
        n = len(res.delivery_ms)
        if n >= 100:  # ten samples beyond the 90th percentile
            print(_fmt("delivery_p90_ms", H.percentile(res.delivery_ms, 90), "ms", n))
        else:
            print(f"{'delivery_p90_ms':<28} {'n/a':>14} ms     (n={n} < 100)")
        print(_fmt("loadgen_late_max_ms", max(res.late_ms), "ms", len(res.late_ms)))
    print(_fmt("error_rate", failed / max(1, attempted), "ratio", attempted))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
