"""CDC product-path benchmark.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Drives ``ReplicationEngine`` end to end from the root of a checkout (see
``workload.py`` for the two workloads). The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A failed correctness check — a phase that did
not finish by the deadline included — still prints the object, with
``correct`` false (and no metrics if the run ended early), and exits 1.
The traced run also writes its
spans, listener progress and per-run details to
``.bench_out/trace-<workload>-s<seed>.json``; ``perfbench/overhead.py``
reports what tracing costs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the package under test, from this checkout

import model as M  # noqa: E402
import workload as W  # noqa: E402

# every phase must end this long after the process started, so that a run
# which stalls still reads, checks, tears down and exits within 180 s
DEADLINE_S = 140.0


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def as_metrics(values: dict, units: dict[str, str]) -> dict:
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, int]:
    from tracing import jvm_peak_rss_mb, layer_metrics

    r = W.Run(W.WORKLOADS[workload], seed, seconds, trace, ROOT, T_PROCESS + DEADLINE_S)
    metrics: dict = {}
    try:
        r.setup()
        r.run()
        r.setup_s = r.t_start - T_PROCESS
        r.t_check0 = r.clock()
        r.check()
        info = r.info()
        print(json.dumps({"info": info}), file=sys.stderr)
        if r.aborted:
            pass  # no metrics: the run did not get through its phases
        elif trace:
            e2e = r.end_to_end()
            layers = layer_metrics(
                r.tracer.spans, r.listener.progress, (r.t_cdc0, r.t_cdc1),
                (r.t_full0, r.t_full1), (r.t_reads0, r.t_check0), r.timed_rows(),
            )
            layers["feed.backlog_commits_max"] = r.book.backlog_max
            layers["sink.record_files_end"] = sum(
                1 for f in os.listdir(os.path.join(r.engine.store.path, "records"))
                if f.endswith(".parquet")
            )
            layers["jvm.gc_ms"] = r.gc1 - r.gc0
            layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(r.spark)
            by_kind = {
                k: 1000.0 * M.median([q["latency"] for q in r.reader.timed() if q["kind"] == k])
                for k in {q["kind"] for q in r.reader.timed()}
            }
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            r.tracer.write(
                os.path.join(out_dir, f"trace-{workload}-s{seed}.json"),
                {"progress": r.listener.progress, "end_to_end": e2e, "info": info,
                 "layers": layers, "query_ms_by_kind": by_kind,
                 "queries": r.reader.results, "freshness": r.book.freshness()},
            )
            metrics = as_metrics(layers, declared("per_layer"))
        else:
            metrics = as_metrics(r.end_to_end(), declared("end_to_end"))
    finally:
        t_teardown = r.clock()
        r.teardown()
        print(json.dumps({"phases_s": {
            "session": getattr(r, "t_session", T_PROCESS) - T_PROCESS,
            "setup": getattr(r, "t_start", T_PROCESS) - T_PROCESS,
            "full_load": getattr(r, "t_full1", 0) - getattr(r, "t_full0", 0),
            "cdc": getattr(r, "t_cdc1", 0) - getattr(r, "t_cdc0", 0),
            "reads_and_checks": t_teardown - getattr(r, "t_reads0", t_teardown),
            "teardown": r.clock() - t_teardown,
            "total": r.clock() - T_PROCESS,
        }}), file=sys.stderr)
    for p in r.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {
        "correct": not r.problems,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }
    return result, 0 if not r.problems else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
