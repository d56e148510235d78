"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sketch_lifecycle --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Builds graft and the benchmark from source (see build.py), runs the
workload in one JVM on local[N] with N = the usable cores, checks every
output, and prints the workload's metrics by name and unit. The last
line of standard output is one JSON object: correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones of a traced run, whose spans are
written to .bench_build/traces/; a traced run first runs the workload
untraced in another JVM, to measure the tracing overhead against it.
`--workload all` runs every workload untraced and then traced. See
README.md for what each metric means.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sketch_lifecycle", "curation", "stream_ingest")
ROOT = build.ROOT
# a run must end within 180 s of its start, build aside
RUN_BUDGET_S = 172

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, workload, seed, seconds, trace, work, timeout):
    """Run one workload in a fresh JVM; return its raw report."""
    out = os.path.join(work, "report.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(classpath, tmp, "-XX:SharedArchiveFile=" + build.ARCHIVE)
    cmd += ["perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores()),
            "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"{workload} did not finish in {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"{workload} exited with {rc}")
    with open(out) as fh:
        rep = json.load(fh)
    rep["values"]["stop_s"] = time.time() - os.path.getmtime(out)
    return rep


def ops_of(rep, *kinds):
    return [o for o in rep["ops"] if o["kind"] in kinds]


def timing(ops):
    """Median and tail of some ops' latencies, with the sample count. The
    tail is the highest percentile from p50 to p90 with at least ten
    samples beyond it, or the slowest op when there are too few samples."""
    xs = stats.latencies(ops) or [math.inf]  # no sample: the op never ran
    t = stats.tail(xs)
    return {"p50": stats.median(xs), "tail": t[1] if t else max(xs),
            "tail_at": f"p{round(t[0] * 100)}" if t else "max", "n": len(xs)}


def end_to_end(workload, rep):
    """The workload's metrics, name -> (value, unit), and notes on them.
    README.md defines each one."""
    v = rep["values"]
    attempted, failed = stats.failure_counts(rep["ops"], rep["checks"])
    m = {"setup_s": (stats.median(rep["setup_s"]), "s"),
         "failed_frac": (failed / attempted, "fraction")}
    if workload == "sketch_lifecycle":
        q = timing(ops_of(rep, "rollup_raw", "rollup_explicit"))
        ing = timing(ops_of(rep, "append"))
        m["build_rows_per_s"] = (v["build_rows"] / v["build_s"], "rows/s")
        m["summary_bytes"] = (v["summary_bytes"], "bytes")
        m["query_p50_ms"] = (q["p50"], "ms")
        m["query_tail_ms"] = (q["tail"], "ms")
        m["ingest_p50_ms"] = (ing["p50"], "ms")
        notes = {"rollups": q["n"], "query_tail": q["tail_at"], "appends": ing["n"]}
    elif workload == "curation":
        p = timing(ops_of(rep, "pass"))
        dedup = [timing(ops_of(rep, k))["p50"] for k in ("minhash_pairs", "components", "keep_best")]
        m["curation_s"] = (p["p50"] / 1000, "s")
        m["dedup_docs_per_s"] = (v["docs"] / (sum(dedup) / 1000), "docs/s")
        m["pass_tail_ms"] = (p["tail"], "ms")
        m["ivf_build_p50_ms"] = (timing(ops_of(rep, "ivf_build"))["p50"], "ms")
        m["index_bytes"] = (v["index_bytes"], "bytes")
        notes = {"passes": p["n"], "pass_tail": p["tail_at"], "input_rows": v["rows"],
                 "ivf_recall": round(v["ivf_recall"], 3)}
    else:
        b = timing(ops_of(rep, "batch"))
        m["batch_p50_ms"] = (b["p50"], "ms")
        m["batch_tail_ms"] = (b["tail"], "ms")
        m["stream_events_per_s"] = (v["events"] / v["stream_s"], "events/s")
        m["add_batch_p50_ms"] = (v["add_batch_ms"], "ms")
        m["state_bytes"] = (v["state_bytes"], "bytes")
        notes = {"batches": b["n"], "batch_tail": b["tail_at"], "windows": v["windows"]}
    return m, notes, attempted, failed


def per_layer(workload, rep, control, spans_path):
    """Per-layer metrics of a traced run: the JVM's layer readings, tracing
    overhead against the untraced `control` run, and the span self-time
    total against the workload's wall time."""
    layer = dict(rep["layer"])
    ratios = []
    for kind in sorted({o["kind"] for o in rep["ops"]}):
        traced = [o["ms"] for o in ops_of(rep, kind) if o["ok"]]
        plain = [o["ms"] for o in ops_of(control, kind) if o["ok"]]
        if traced and plain:
            ratios.append(stats.median(traced) / stats.median(plain))
    if ratios:
        layer["trace.overhead_frac"] = math.exp(sum(map(math.log, ratios)) / len(ratios)) - 1
    spans = rep["spans"]
    selfs = stats.self_times(spans)
    root = next(s for s in spans if s["parent"] == 0)
    layer["trace.self_time_frac"] = sum(selfs.values()) / (root["end_ns"] - root["start_ns"])
    layer["trace.spans"] = len(spans)
    with open(spans_path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(dict(s, self_ns=selfs[s["id"]])) + "\n")
    return layer


def measure(workload, seed, seconds, trace, classpath, timeout):
    """One run of the workload in its own JVM and scratch directory."""
    work = os.path.join(build.OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run_jvm(classpath, workload, seed, seconds, trace, work, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def one(workload, seed, trace, rep, control=None):
    """Print one run's metrics and return its result object; a traced run's
    overhead is measured against its untraced `control` run."""
    e2e, notes, attempted, failed = end_to_end(workload, rep)
    notes.update({k: round(v, 2) for k, v in rep["values"].items() if k.endswith("_s")})
    print(f"== {workload} seed={seed} trace={int(trace)} "
          f"({', '.join(f'{k}={v}' for k, v in notes.items())})")
    for k, (val, unit) in e2e.items():
        print(f"  {k:24s} {val:.6g} {unit}")
    kinds = sorted({o["kind"] for o in rep["ops"]})
    print("  op medians: " + ", ".join(
        f"{k}={stats.median([o['ms'] for o in ops_of(rep, k)]):.0f}ms" for k in kinds))
    for c in rep["checks"]:
        if not c["ok"]:
            print(f"  FAILED CHECK {c['name']}: {c['detail']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if trace:
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        spans_path = os.path.join(traces, f"{rep['run_id']}.spans.jsonl")
        layer = per_layer(workload, rep, control, spans_path)
        print(f"  spans: {os.path.relpath(spans_path, ROOT)}")
        if "joins_by_operator" in rep["values"]:
            print("  join strategies per operator, as planned and as executed:")
            for j in rep["values"]["joins_by_operator"]:
                print(f"    {j['op']:14s} planned {j['planned']} executed {j['executed']}")
        for k in sorted(layer):
            print(f"  {k:44s} {layer[k]:.6g}")
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        result["metrics"] = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        result["metrics"] = gated(workload, e2e)
    return result


def gated(workload, e2e):
    """The end-to-end metrics BENCHMARK.json declares, from this workload's values."""
    out = {}
    for m in SPEC["end_to_end"]:
        src = GATED[m["name"]][workload]
        val, unit = e2e[src]
        if unit == "s" and m["unit"] == "ms":
            val *= 1000
        out[m["name"]] = {"value": val if val is not None and math.isfinite(val) else 1e15,
                          "unit": m["unit"]}
    return out


# Each gated metric of BENCHMARK.json names, per workload, the workload
# metric it carries (README.md, "End-to-end metrics").
GATED = {
    "setup_s": {w: "setup_s" for w in WORKLOADS},
    "p50_ms": {"sketch_lifecycle": "query_p50_ms", "curation": "curation_s",
               "stream_ingest": "batch_p50_ms"},
    "write_p50_ms": {"sketch_lifecycle": "ingest_p50_ms", "curation": "ivf_build_p50_ms",
                     "stream_ingest": "add_batch_p50_ms"},
    "rows_per_s": {"sketch_lifecycle": "build_rows_per_s", "curation": "dedup_docs_per_s",
                   "stream_ingest": "stream_events_per_s"},
    "state_bytes": {"sketch_lifecycle": "summary_bytes", "curation": "index_bytes",
                    "stream_ingest": "state_bytes"},
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=float(SPEC["run_seconds"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM: SystemExit runs the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        classpath = build.build()
        deadline = time.monotonic() + RUN_BUDGET_S
        if a.workload == "all":
            def run(w, t):
                return measure(w, a.seed, a.seconds, t, classpath, RUN_BUDGET_S)
            plain = {w: run(w, 0) for w in WORKLOADS}
            results = {f"{w}.trace0": one(w, a.seed, 0, plain[w]) for w in WORKLOADS}
            results.update({f"{w}.trace1": one(w, a.seed, 1, run(w, 1), plain[w])
                            for w in WORKLOADS})
            result = {"correct": all(r["correct"] for r in results.values()),
                      "attempted": sum(r["attempted"] for r in results.values()),
                      "failed": sum(r["failed"] for r in results.values()),
                      "metrics": {f"{k}.{m}": v for k, r in results.items()
                                  for m, v in r["metrics"].items()}}
        else:
            def run(t):
                return measure(a.workload, a.seed, a.seconds, t, classpath,
                               deadline - time.monotonic())
            control = run(0) if a.trace else None
            result = one(a.workload, a.seed, a.trace, run(a.trace), control)
            if control is not None:  # the control's ops count too
                attempted, failed = stats.failure_counts(control["ops"], control["checks"])
                result["attempted"] += attempted
                result["failed"] += failed
                result["correct"] = result["failed"] == 0
    except (build.BuildError, RuntimeError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
