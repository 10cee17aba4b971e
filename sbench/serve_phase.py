"""Serving phase of one benchmark run: `LocalSearcher` over the index the
Spark phase built, in a process that never starts a Spark session.

One client in a closed loop sends one query per `LocalSearcher.search`
call.  The stream and what runs before it come from workload.serve_plan, so
each stream's cache-hit profile is fixed by the seed.

Usage: python3 serve_phase.py CONFIG.json   (written by run.py)
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

import workload
from spans import Ops, Tracer
from stats import percentile

OPENS = 3            # timed reader opens, after the serving (warm-up) open
# The stream is timed in consecutive segments; p50 and q/s are those of the
# best segment.  On a shared host single-thread speed can swing by ~25% in
# phases of seconds (measured on the 4-vCPU host of baseline.json), and the
# best segment tracks the program rather than the neighbours.  p99 takes
# the best of as many consecutive stretches of >= P99_SAMPLES queries as the
# stream holds (at most SEGMENTS).
SEGMENTS = 5
P99_SAMPLES = 1_000
PROBE_QUERIES = 100  # traced first-touch / repeat probes


def rss_mb() -> float:
    """Resident set size after returning free heap pages to the OS, so the
    reading tracks live memory rather than allocator caching."""
    import ctypes

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL(None).malloc_trim(0)
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def gate_rows(results) -> list:
    return sorted((qid, docno, rank, round(score, 6))
                  for qid, _, docno, rank, score in results)


def timed_calls(ops: Ops, searcher, qs, name: str) -> list[float | None]:
    """Milliseconds of one search call per query; None where it raised."""
    out = []
    for q in qs:
        res, dt = ops.run(name, lambda: searcher.search([q]))
        out.append(None if res is None else dt * 1e3)
    return out


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer(cfg["run_id"], "serve.", cfg["trace"], cfg["root_span"])
    ops = Ops(tracer)
    res: dict = {"e2e": {}, "layers": {}, "detail": {}}
    try:
        with tracer.span("phase.serve"):
            run(cfg, tracer, ops, res)
    except Exception:
        ops.errors.append(f"phase.serve: {traceback.format_exc()}")
        res["aborted"] = True
    res.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors,
               spans=tracer.spans)
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
    return 1 if res.get("aborted") else 0


def run(cfg, tracer: Tracer, ops: Ops, res: dict) -> None:
    from searchenginepp_spark.operators.local_engine import LocalSearcher

    wl, seed, scale = cfg["workload"], cfg["seed"], cfg["scale"]
    idx = os.path.join(cfg["work"], "idx")
    e2e, layers, detail = res["e2e"], res["layers"], res["detail"]
    plan = workload.serve_plan(wl, seed, scale)
    stream = plan["stream"]
    name = "operators.local_engine.LocalSearcher.search"

    rss0 = rss_mb()
    reader, _ = ops.run("operators.local_engine.LocalSearcher",
                        lambda: LocalSearcher(idx), required=True)
    if plan["fill"]:
        ops.run(name, lambda: reader.search(plan["fill"]))
    timed_calls(ops, reader, plan["warm"], name)
    flags = workload.first_touch_flags(stream, plan["fill"] + plan["warm"])

    # Every stream starts from the same collector state, so its collection
    # pauses depend on the stream, not on what the fill left behind.
    gc.collect()
    seg_p50, seg_qps, lat = [], [], []
    n = len(stream) // SEGMENTS
    for k in range(SEGMENTS):
        t0 = time.perf_counter()
        part = timed_calls(ops, reader, stream[k * n:(k + 1) * n], name)
        wall = time.perf_counter() - t0
        ok = [x for x in part if x is not None]
        seg_p50.append(statistics.median(ok))
        seg_qps.append(len(part) / wall)
        lat += ok
    rss1 = rss_mb()
    size = len(lat) // max(1, min(SEGMENTS, len(lat) // P99_SAMPLES))
    e2e["serve_p99_ms"] = min(percentile(lat[i:i + size], 0.99)
                              for i in range(0, len(lat) - size + 1, size))
    e2e["serve_p50_ms"] = min(seg_p50)
    e2e["serve_queries_per_s"] = max(seg_qps)
    e2e["serve_rss_mb"] = rss1 - rss0
    detail["serve_ms"] = lat
    detail["segments"] = {"p50_ms": seg_p50, "queries_per_s": seg_qps}
    first_touch_share = sum(flags) / len(flags)

    opens = [ops.run("operators.local_engine.LocalSearcher",
                     lambda: LocalSearcher(idx), required=True)[1]
             for _ in range(OPENS)]
    detail["local_open_s"] = statistics.median(opens)

    batch = workload.batch_queries(wl, seed, scale)
    out, _ = ops.run(name, lambda: reader.search(batch))
    detail["gate"] = {"local": gate_rows(out) if out is not None else None}

    if cfg["trace"]:
        layers["local_engine.open_ms"] = detail["local_open_s"] * 1e3
        layers["local_engine.first_touch_share"] = first_touch_share
        # Probes on a fresh reader: the first pass classifies each query by
        # whether it names a token not served before; the replay is all
        # repeats.
        probe = list(dict.fromkeys(stream))[:PROBE_QUERIES]
        fresh, _ = ops.run("operators.local_engine.LocalSearcher",
                           lambda: LocalSearcher(idx), required=True)
        first = timed_calls(ops, fresh, probe, name)
        repeat = timed_calls(ops, fresh, probe, name)
        cold = [x for x, f in zip(first, workload.first_touch_flags(probe))
                if f and x is not None]
        layers["local_engine.first_touch_query_ms"] = statistics.median(cold)
        layers["local_engine.repeat_query_ms"] = statistics.median(
            [x for x in repeat if x is not None])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
