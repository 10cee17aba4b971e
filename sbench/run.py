"""End-to-end benchmark of the sparksepp index builder and its three query
paths, on two seeded code corpora (see workload.py and README.md).

    python3 sbench/run.py --workload head_skew --seed 1 --seconds 4 --trace 0

Run from the repository root.  One run is two processes started one after
the other: the Spark phase (build_index, Searcher.search, search_bmm) and
the serving phase (LocalSearcher.search, no Spark session).  After each,
any process left in its session (the Spark JVM, the Python worker daemon)
is killed and counts as a failed operation.  The last line of standard
output is one JSON object: correct, attempted, failed and the metrics --
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1.  A traced run also writes its spans to sbench/.out/spans/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import hostinfo
import workload
from spans import Tracer, write_spans
from stats import percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
# a run must end within 180 s, phases included
PHASE_TIMEOUT_S = {"spark": 120, "serve": 45}

E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_input_byte": "B/B",
    "serve_rss_mb": "MB",
}
# Measured and printed on every run, but left out of the result line: over
# two sets of ten seeds on a 4-vCPU host, each came within reach of the
# widest bound allowed (0.25), in quartile spread or in the shift of its
# median between sets (README.md, "End-to-end metrics").
UNSTEADY_UNITS = {
    "build_docs_per_s": "1/s",
    "spark_query_p50_ms": "ms",
    "spark_batch_queries_per_s": "1/s",
    "bmm_batch_queries_per_s": "1/s",
    "serve_p50_ms": "ms",
    "serve_p99_ms": "ms",
    "serve_queries_per_s": "1/s",
}

LAYER_UNITS = {
    **{f"index_build.{p}_s": "s"
       for p in ("docids", "docmap", "sample", "encode", "lexicon")},
    "index_build.spark_jobs": "count",
    "index_build.spark_stages": "count",
    "index_build.spark_tasks": "count",
    "index_build.shard_rows": "count",
    "index_build.docid_bytes_per_posting": "B",
    "index_build.tf_bits_per_posting": "bit",
    "index_build.shards_bytes": "B",
    "index_build.docmap_bytes": "B",
    "index_build.lexicon_bytes": "B",
    "normalizer.docs_per_s": "1/s",
    "codecs.decode_postings_per_s": "1/s",
    "query.open_ms": "ms",
    **{f"query.{p}_ms": "ms"
       for p in ("scan", "decode", "score", "topk", "resolve")},
    "query.spark_jobs_per_query": "count",
    "query.spark_stages_per_query": "count",
    "query.spark_tasks_per_query": "count",
    "query.spark_tasks_per_batch": "count",
    "bmm.spark_jobs_per_batch": "count",
    "bmm.spark_tasks_per_batch": "count",
    "local_engine.open_ms": "ms",
    "local_engine.first_touch_query_ms": "ms",
    "local_engine.repeat_query_ms": "ms",
    "local_engine.first_touch_share": "ratio",
}


def tail(values: list[float]) -> str:
    """The highest of p90/p99/p99.9 with at least ten samples beyond it."""
    n = len(values)
    ps = [p for p in (0.9, 0.99, 0.999) if n * (1 - p) >= 10]
    if not ps:
        return f"n={n}, max {max(values):.4g}"
    p = ps[-1]
    return f"p{p * 100:g} {percentile(values, p):.4g}, n={n}"


def gate(paths: dict, qids) -> tuple[int, int, list[int]]:
    """Correctness gate: for each query of the gate set, every path must
    return identical (qid, docno, rank, round(score, 6)) rows.  A path whose
    rows are None raised, which fails every query.  Returns (attempted,
    failed, failed qids)."""
    by_path = {}
    for name, rows in paths.items():
        if rows is None:
            by_path[name] = None
            continue
        grouped: dict[int, list] = {}
        for row in rows:
            grouped.setdefault(row[0], []).append(tuple(row))
        by_path[name] = grouped
    bad = []
    for q in qids:
        answers = [None if g is None else sorted(g.get(q, []))
                   for g in by_path.values()]
        if any(a is None or a != answers[0] for a in answers):
            bad.append(q)
    return len(qids), len(bad), bad


def session_leftovers(sid: int) -> list[int]:
    """Live processes still in session `sid`."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def reap(sid: int) -> list[int]:
    """Kill what a phase left behind and wait until it is gone."""
    left = session_leftovers(sid)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while session_leftovers(sid) and time.monotonic() < deadline:
        time.sleep(0.05)
    return left


def run_phase(kind: str, cfg: dict) -> dict:
    """Run one phase process; returns its result dict with the process's
    exit status and any leftover processes added."""
    work = cfg["work"]
    cfg = dict(cfg, out=os.path.join(work, f"{kind}.result.json"))
    cfg_path = os.path.join(work, f"{kind}.config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # TMPDIR and the launcher JVM's flag keep temp files inside `work`
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, TMPDIR=tmp,
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    log_path = os.path.join(work, f"{kind}.log")
    t0 = time.perf_counter()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, f"{kind}_phase.py"), cfg_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=PHASE_TIMEOUT_S[kind])
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    leftovers = reap(proc.pid)
    try:
        with open(cfg["out"]) as f:
            res = json.load(f)
    except (OSError, json.JSONDecodeError):
        res = {"e2e": {}, "layers": {}, "detail": {}, "attempted": 0,
               "failed": 0, "errors": [], "spans": [], "aborted": True}
    if rc != 0:
        with open(log_path) as f:
            res["errors"].append(f"{kind} phase exit {rc}:\n{f.read()[-4000:]}")
    res.update(rc=rc, leftovers=leftovers, wall_s=time.perf_counter() - t0)
    return res


def summarize(spark: dict, serve: dict | None, gate_qids, trace: bool) -> dict:
    """Fold the phase results into one verdict: operations attempted and
    failed (phase operations, one hygiene check per phase, one gate check
    per gate query), the end-to-end and per-layer values, and the metrics
    object of the result line."""
    phases = [p for p in (spark, serve) if p is not None]
    attempted = sum(p["attempted"] for p in phases) + len(phases)
    failed = sum(p["failed"] for p in phases)
    for p in phases:
        # the hygiene check: a clean exit and nothing left behind
        if p["leftovers"] or (p["rc"] != 0 and not p["failed"]):
            failed += 1
    e2e = {**spark["e2e"], **(serve["e2e"] if serve else {})}
    layers = {**spark["layers"], **(serve["layers"] if serve else {})}
    bad: list[int] = []
    if serve and not serve.get("aborted"):
        e2e["setup_s"] = (spark["detail"]["searcher_open_s"]
                          + serve["detail"]["local_open_s"])
        paths = {"exact": None, "bmm": None, "local": None,
                 **spark["detail"].get("gate", {}), **serve["detail"]["gate"]}
        n, n_bad, bad = gate(paths, gate_qids)
        attempted += n
        failed += n_bad
    values, units = (layers, LAYER_UNITS) if trace else (e2e, E2E_UNITS)
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in units.items() if k in values}
    complete = len(metrics) == len(units)
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layers, "gate_bad": bad, "complete": complete,
            "result": {"correct": failed == 0 and complete,
                       "attempted": attempted, "failed": failed,
                       "metrics": metrics}}


def report(args, run_id, host, spark, serve, summary, spans_path) -> None:
    """Detail lines for a reader; the result line comes after them."""
    e2e, layers = summary["e2e"], summary["layers"]
    host.update(java=spark.get("java"), spark_conf=spark.get("spark_conf"))
    print("host " + json.dumps(host, sort_keys=True))
    print(f"workload {args.workload} seed {args.seed} "
          f"docs {spark['detail'].get('n_docs')} run_id {run_id}")
    for k, u in {**E2E_UNITS, **UNSTEADY_UNITS}.items():
        if k in e2e:
            extra = ""
            if k == "spark_query_p50_ms":
                extra = f"  ({tail(spark['detail']['spark_query_ms'])})"
            elif k in ("serve_p50_ms", "serve_p99_ms"):
                extra = f"  ({tail(serve['detail']['serve_ms'])})"
            print(f"{'traced ' if args.trace else ''}{k} {e2e[k]:.6g} {u}{extra}")
    for k, u in LAYER_UNITS.items():
        if k in layers:
            print(f"{k} {layers[k]:.6g} {u}")
    if spans_path:
        print(f"spans {os.path.relpath(spans_path, ROOT)}")
    if summary["gate_bad"]:
        print(f"gate: {len(summary['gate_bad'])} queries disagree across "
              f"paths, qids {summary['gate_bad'][:20]}")
    phases = [("spark", spark), ("serve", serve)]
    for kind, p in phases:
        if p and p["leftovers"]:
            print(f"hygiene: {kind} phase left pids {p['leftovers']}; killed")
        for err in (p["errors"][:3] if p else []):
            print(err[-2000:], file=sys.stderr)
    steps = {k[5:]: v for k, v in spark["detail"].get("steps", {}).items()}
    steps.update({f"{kind}_phase": p["wall_s"] for kind, p in phases if p})
    print("wall_s " + " ".join(f"{k}={v:.1f}" for k, v in steps.items()))
    print(f"attempted {summary['attempted']} failed {summary['failed']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["head_skew", "long_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed Spark point-query loop")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus and stream size factor (self-test only)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "searchenginepp_spark",
                                       "__init__.py")):
        print(f"sbench: no searchenginepp_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2

    run_id = (f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
              f"-{int(time.time())}")
    work = os.path.join(OUT, "work", run_id)
    os.makedirs(work)
    host = hostinfo.fingerprint()
    tracer = Tracer(run_id, "run.", bool(args.trace))
    cfg = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": bool(args.trace),
           "scale": args.scale, "work": work, "run_id": run_id,
           "root_span": "run.0" if args.trace else None,
           "nproc": len(os.sched_getaffinity(0)),
           "heap_mb": min(4096, hostinfo.ram_mb() // 4)}
    try:
        with tracer.span("run"):
            spark = run_phase("spark", cfg)
            serve = (run_phase("serve", cfg) if not spark.get("aborted")
                     else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    qids = [q for q, _ in workload.batch_queries(args.workload, args.seed,
                                                 args.scale)]
    summary = summarize(spark, serve, qids, bool(args.trace))
    spans_path = None
    if args.trace:
        spans_path = os.path.join(OUT, "spans", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        write_spans(spans_path, tracer.spans + spark["spans"]
                    + (serve["spans"] if serve else []))
    report(args, run_id, host, spark, serve, summary, spans_path)
    print(json.dumps(summary["result"]))
    return 0 if summary["complete"] else 1


if __name__ == "__main__":
    sys.exit(main())
