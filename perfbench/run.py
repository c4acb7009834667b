#!/usr/bin/env python3
"""graft benchmark: one command per workload, from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates its input
tables once, runs the workload in one JVM (local[nproc], one closed-loop
client) and prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Every raw
measurement, the spans of a traced run and the run record (nproc, heap,
Spark version, commit, seed, sample counts) are kept under
$CARGO_TARGET_DIR (default .bench_build)/runs/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# A run must end within 180 s; the first run in a checkout, which builds
# and generates the data, within 900 s.
DEADLINE = time.monotonic() + 850

# The data scale each workload reads; its timed and warm-up ops are listed
# in opsets.json.
WORKLOADS = {"sql_dialect": "0.01", "pipelines_sf01": "0.1", "corpus_ingest": "0.01"}
KERNELS = ["graft_gopher_counts", "graft_repetition_counts", "graft_oov_count",
           "graft_rolling_hash", "graft_hash60", "graft_js_num", "graft_sqdist", "graft_adc",
           "graft_might_contain"]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def remaining():
    return DEADLINE - time.monotonic()


def java(args, log_file, share=False):
    """Runs perfbench.Main in its own process group; kills the group on timeout.
    The heap is fixed and pre-touched, so peak RSS does not swing with how
    much of it the collector happened to use.

    With `share`, the JVM maps the archive of the classes that a workload
    run loads, or, on the first run after a build, writes it at exit.
    Mapping it takes about 4 s off JVM and Spark start, which the 70 runs of
    a benchmark check need to stay inside their time limit (BASELINE.md)."""
    jsa = build.build_dir() / "app.jsa"
    flags = ([f"-XX:SharedArchiveFile={jsa}" if jsa.is_file() else f"-XX:ArchiveClassesAtExit={jsa}"]
             if share else [])
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"] + flags + build.java_opts() +
           ["-cp", build.classpath(), "perfbench.Main"] + [str(a) for a in args])
    with open(log_file, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, remaining()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"perfbench: timed out; log in {log_file}")
    if rc != 0:
        tail = pathlib.Path(log_file).read_text(errors="replace").splitlines()[-15:]
        sys.exit("perfbench: JVM failed (%d):\n%s" % (rc, "\n".join(tail)))


def ensure_data():
    data = build.build_dir() / "data"
    stamp = data / "complete"
    if not stamp.is_file():
        shutil.rmtree(data, ignore_errors=True)
        work = build.build_dir() / "work" / "gen"
        log("generating input tables")
        java(["--gen", data, "--work", work], build.build_dir() / "gen.log")
        shutil.rmtree(work, ignore_errors=True)
        stamp.write_text("sf0.01 sf0.1\n")
    return data


def source_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def source_sha():
    """Digest of the program and benchmark sources and the op sets."""
    h = hashlib.sha256()
    for s in build.sources() + [HERE / "opsets.json", HERE / "run.py"]:
        h.update(s.read_bytes())
    return h.hexdigest()


# ---- metric helpers --------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p):
    """The p-quantile, interpolated linearly between order statistics."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[round(p * 100) - 1]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi], in ns."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_ms(o):
    return (o["end_ns"] - o["start_ns"]) / 1e6


# ---- correctness -----------------------------------------------------------

def check_ops(workload, raw, expected):
    """Names of ops that failed or returned a wrong answer."""
    bad = []
    exp = expected.get(workload, {})
    for o in raw["ops"]:
        if o["error"]:
            bad.append({"op": o["name"], "pass": o["pass"], "error": o["error"]})
        elif exp:
            e = exp.get(o["name"])
            if e is None or (e["rows"], e["digest"]) != (o["rows"], o["digest"]):
                bad.append({"op": o["name"], "pass": o["pass"],
                            "error": "wrong result: rows %d digest %s, expected %s" % (
                                o["rows"], o["digest"], e)})
    return bad


def check_known_wrong(raw, expected):
    """Statements known to differ from DuckDB, each checked once per run:
    (still wrong, now right, failed). A statement that now throws is a
    failed op; one that now matches DuckDB is a fix to report."""
    exp = expected.get("sql_dialect", {})
    wrong, right, failed = [], [], []
    for k in raw.get("known_wrong", []):
        e = exp[k["name"]]
        if k["error"]:
            failed.append({"op": k["name"], "pass": -1, "error": k["error"]})
        elif (e["rows"], e["digest"]) == (k["rows"], k["digest"]):
            right.append(k["name"])
        else:
            wrong.append(k["name"])
    return wrong, right, failed


def check_ingest(raw):
    """Invariants of corpus_ingest that hold for every seed."""
    g = raw["ingest"]
    problems = []
    if g["kept_not_streamed"] != 0:
        problems.append("%d kept docs were never streamed in" % g["kept_not_streamed"])
    if g["kept_distinct_texts"] != g["kept"]:
        problems.append("kept docs share a text digest")
    if g["commits"] != list(range(len(g["commits"]))) or g["sink_batches"] != g["commits"]:
        problems.append("commit log %s vs sink batches %s" % (g["commits"], g["sink_batches"]))
    if g["progress_batches"] != g["commits"]:
        problems.append("progress batches %s vs commits %s" % (g["progress_batches"], g["commits"]))
    if g["rows_read"] != g["streamed"]:
        problems.append("read %d rows of %d streamed docs" % (g["rows_read"], g["streamed"]))
    return problems


# ---- end-to-end ------------------------------------------------------------

def per_pass(raw):
    passes = {}
    for o in raw["ops"]:
        passes.setdefault(o["pass"], []).append(o)
    return passes


def end_to_end(raw):
    ops = raw["ops"]
    lat = [op_ms(o) for o in ops]
    passes = per_pass(raw)
    work = {w["op"]: w for w in raw["work"]}
    first = [work.get(o["id"], {}) for o in passes[0]]
    values = {
        "setup_s": median([r["total_ms"] for r in raw["setup"]]) / 1000,
        "wall_s": sum(op_ms(o) for o in passes[0]) / 1000,
        "op_p50_ms": quantile(lat, 0.5),
        "op_p90_ms": quantile(lat, 0.9),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024,
        "tasks": sum(w.get("tasks", 0) for w in first),
        "shuffle_write_mb": sum(w.get("shuffle_write", 0) for w in first) / 2 ** 20,
    }
    samples = {"ops": len(lat), "passes": len(passes),
               "beyond_p90": sum(1 for x in lat if x > values["op_p90_ms"])}
    return values, samples


# ---- per-layer -------------------------------------------------------------

def span_tree(raw):
    """Spans with children; listener spans hang under the innermost harness
    span of their op that contains their start, tasks under their stage."""
    spans = [dict(id=s[0], parent=s[1], op=s[2], layer=s[3], name=s[4], start=s[5], end=s[6],
                  children=[]) for s in raw.get("spans", [])]
    for p in raw.get("progress", []):
        spans.extend(trigger_spans(p, len(spans)))
    by_id = {s["id"]: s for s in spans}
    harness = [s for s in spans if s["layer"] in ("op", "plans", "operators") or
               (s["layer"] == "exec" and not s["name"].startswith("stage"))]
    stages = {}
    for s in spans:
        if s["layer"] == "exec" and s["name"].startswith("stage"):
            stages[(s["op"], s["name"].split()[1])] = s
    for s in spans:
        parent = None
        if s["parent"] >= 0:
            parent = by_id[s["parent"]]
        elif s["layer"] == "task":
            parent = stages.get((s["op"], s["name"].split()[1].split(".")[0]))
        elif s["layer"] == "streaming" and s["name"] != "trigger":
            parent = by_id.get(s["trigger"])
        if parent is None and s["layer"] not in ("op",) and s["parent"] < 0:
            inside = [h for h in harness if h["start"] <= s["start"] <= h["end"] and
                      (h["op"] == s["op"] or s["op"] < 0 or s["layer"] == "streaming")]
            if inside:
                parent = max(inside, key=lambda h: h["start"])
        if parent is not None:
            parent["children"].append(s)
    return spans


def trigger_spans(p, next_id):
    """Spans of one micro-batch trigger, rebuilt from its progress report:
    the trigger and its phases, laid end to end in execution order."""
    d = p["durations"]
    start = p["start_ms"]
    trig = dict(id=next_id, parent=-1, op=-1, layer="streaming", name="trigger", start=start,
                end=start + d.get("triggerExecution", 0) * 10 ** 6, children=[])
    out, t = [trig], start
    for i, k in enumerate(["latestOffset", "walCommit", "getBatch", "queryPlanning",
                           "addBatch", "commitOffsets"]):
        if k in d:
            out.append(dict(id=next_id + 1 + i, parent=-1, op=-1, layer="streaming", name=k,
                            start=t, end=t + d[k] * 10 ** 6, children=[], trigger=next_id))
            t += d[k] * 10 ** 6
    return out


def self_ns(s):
    return (s["end"] - s["start"]) - union_ms([(c["start"], c["end"]) for c in s["children"]],
                                              s["start"], s["end"])


def per_layer(raw, untraced_wall_s):
    ops = raw["ops"]
    passes = len(ops) / len(per_pass(raw)[0])  # whole passes, plus the share of a partial one
    work = [w for w in raw["work"] if w["op"] >= 0]
    wsum = lambda k: sum(w[k] for w in work)
    cores = raw["cores"]
    wall_ms = sum(op_ms(o) for o in ops)
    spans = span_tree(raw)
    op_spans = [s for s in spans if s["layer"] == "op"]
    coverage = [union_ms([(c["start"], c["end"]) for c in s["children"]], s["start"], s["end"]) /
                max(1, s["end"] - s["start"]) for s in op_spans]
    layers = {}
    for s in spans:
        layers[s["layer"]] = layers.get(s["layer"], 0) + self_ns(s)
    m = {}
    setup = raw["setup"]
    for k in ("start_ms", "register_ms", "warmup_ms", "index_build_ms"):
        m["session." + k] = median([r.get(k, 0.0) for r in setup])

    def spans_ms(layer, name):
        return [(s["end"] - s["start"]) / 1e6 for s in spans if s["layer"] == layer and
                s["name"] == name]
    corpus = [r for r in raw.get("rewrite_corpus", []) if r["out"] is not None]
    m["plans.rewrite_ms"] = sum(spans_ms("plans", "rewrite")) / passes
    m["plans.sql_call_ms"] = sum(spans_ms("plans", "sql_call")) / passes
    m["plans.rewrite_corpus_ms"] = sum(r["ms"] for r in corpus)
    m["plans.rewrite_max_ms"] = max([r["ms"] for r in corpus], default=0.0)
    m["plans.rewrite_growth"] = (sum(r["out"] for r in corpus) / sum(r["in"] for r in corpus)
                                 if corpus else 0.0)
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = wsum(f"{k}_ms") / passes
    m["operators.build_ms"] = sum(spans_ms("operators", "build")) / passes
    m["operators.cached_mb"] = max([o["cached_bytes"] for o in ops], default=0) / 2 ** 20
    m["operators.tracked"] = sum(o["tracked"] for o in ops) / passes
    tasks = wsum("tasks")
    no_task = sum(op_ms(o) - union_ms(
        [tuple(t) for t in next((w["task_intervals"] for w in work if w["op"] == o["id"]), [])],
        o["start_ns"], o["end_ns"]) / 1e6 for o in ops)
    m.update({
        "exec.jobs": wsum("jobs") / passes, "exec.stages": wsum("stages") / passes,
        "exec.tasks": tasks / passes,
        "exec.empty_task_frac": wsum("empty_tasks") / tasks if tasks else 0.0,
        "exec.task_run_ms": wsum("run_ms") / passes,
        "exec.task_cpu_ms": wsum("cpu_ns") / 1e6 / passes,
        "exec.sched_delay_ms": wsum("sched_ms") / passes,
        "exec.slot_util": wsum("run_ms") / (wall_ms * cores) if wall_ms else 0.0,
        "exec.no_task_ms": no_task / passes,
        "exec.gc_ms": wsum("gc_ms") / passes,
        "exec.peak_task_mem_mb": max([w["peak_task_mem"] for w in work], default=0) / 2 ** 20,
        "exec.shuffle_write_mb": wsum("shuffle_write") / 2 ** 20 / passes,
        "exec.shuffle_read_mb": wsum("shuffle_read") / 2 ** 20 / passes,
        "exec.shuffle_fetch_wait_ms": wsum("fetch_wait_ms") / passes,
        "exec.spill_mb": wsum("spill") / 2 ** 20 / passes,
        "exec.stage_skew_max": max([w["skew_max"] for w in work], default=0.0),
        "exec.aqe_coalesced": wsum("aqe_coalesced") / passes,
        "exec.aqe_skew_splits": wsum("aqe_skew") / passes,
        "exec.bhj": wsum("bhj") / passes, "exec.smj": wsum("smj") / passes,
        "exec.failed_tasks": wsum("failed_tasks"),
        "sources.input_mb": wsum("input_bytes") / 2 ** 20 / passes,
        "sources.input_rows": wsum("input_rows") / passes,
        "sources.scan_ms": wsum("scan_ms") / passes,
        "sources.files": wsum("scan_files") / passes,
    })
    kernels = {k["name"]: k for k in raw.get("kernels", [])}
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = kernels[k]["ns_per_row"] if k in kernels else 0.0
    prog = raw.get("progress", [])
    dur = lambda k: median([p["durations"].get(k, 0) for p in prog])
    g = raw.get("ingest", {})
    m.update({
        "streaming.batches": len(prog),
        "streaming.batch_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.commit_ms": median([p["durations"].get("walCommit", 0) +
                                       p["durations"].get("commitOffsets", 0) for p in prog]),
        "streaming.bytes_written": g.get("bytes_written", 0),
        "streaming.files_written": g.get("files_written", 0),
        "streaming.write_amp": g["bytes_written"] / g["text_bytes"] if g else 0.0,
        "streaming.kept_frac": g["kept"] / g["streamed"] if g else 0.0,
        "streaming.docs_per_s": g["streamed"] / (wall_ms / 1000) if g and wall_ms else 0.0,
    })
    for layer in ("op", "plans", "catalyst", "operators", "exec", "task", "streaming"):
        m[f"self.{layer}_ms"] = layers.get(layer, 0) / 1e6 / passes
    traced_wall_s = sum(op_ms(o) for o in per_pass(raw)[0]) / 1000
    m["trace.overhead_frac"] = traced_wall_s / untraced_wall_s - 1 if untraced_wall_s else 0.0
    m["trace.coverage_min"] = min(coverage, default=0.0)
    return m, coverage


# ---- run -------------------------------------------------------------------

def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(args, data, workload, seed, trace):
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = build.build_dir() / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "raw.json"
    cmd = ["--workload", workload, "--seed", seed, "--seconds", args.seconds,
           "--trace", trace, "--data", data, "--work", work, "--out", out,
           "--sf", WORKLOADS[workload]]
    opsets = json.loads((HERE / "opsets.json").read_text())
    for key, names in opsets.get(workload, {}).items():
        (work / f"{key}.txt").write_text("\n".join(names) + "\n")
        cmd += [f"--{'ops' if key == 'timed' else key}", work / f"{key}.txt"]
    steal0, total0 = cpu_ticks()
    java(cmd, build.build_dir() / "runs" / f"{tag}.log", share=True)
    steal1, total1 = cpu_ticks()
    raw = json.loads(out.read_text())
    # CPU time the hypervisor gave to other guests: a slow run with high
    # steal was slowed by the host, not by the program
    raw["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def untraced_baseline(workload, seed):
    """wall_s of the untraced run of this workload and seed on the same
    sources; else the median over this workload's other untraced runs."""
    sha = source_sha()
    walls = {}
    for f in (build.build_dir() / "runs").glob(f"{workload}-seed*-trace0.json"):
        r = json.loads(f.read_text())
        if r["source_sha256"] == sha:
            walls[r["seed"]] = r["end_to_end"]["wall_s"]
    if seed in walls:
        return walls[seed], "untraced run of the same seed"
    if walls:
        return median(list(walls.values())), "median of %d untraced runs of other seeds" % len(walls)
    return None, None


def record_path(workload, seed, trace):
    return build.build_dir() / "runs" / f"{workload}-seed{seed}-trace{trace}.json"


def main():
    global DEADLINE
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    t0 = time.monotonic()
    build.build()
    data = ensure_data()
    if time.monotonic() - t0 < 10:  # nothing was built
        DEADLINE = t0 + 175
    expected = json.loads((HERE / "expected.json").read_text())
    (build.build_dir() / "runs").mkdir(parents=True, exist_ok=True)
    wl, seed, trace = args.workload, args.seed, args.trace

    untraced_wall = None
    if trace == 1:
        untraced_wall, source = untraced_baseline(wl, seed)
        if untraced_wall is None:
            log("no untraced run of this workload yet; running one for the overhead baseline")
            measure_and_record(args, data, wl, seed, 0, expected)
            untraced_wall, source = untraced_baseline(wl, seed)
        log("trace overhead baseline: " + source)
    else:
        source = None
    result = measure_and_record(args, data, wl, seed, trace, expected, untraced_wall, source)
    print(json.dumps(result))


def measure_and_record(args, data, wl, seed, trace, expected, untraced_wall=None,
                       baseline_source=None):
    raw = run_jvm(args, data, wl, seed, trace)
    bad = check_ops(wl, raw, expected)
    still_wrong, now_right, known_failed = check_known_wrong(raw, expected)
    bad += known_failed
    problems = check_ingest(raw) if wl == "corpus_ingest" else []
    attempted = len(raw["ops"]) + len(raw.get("known_wrong", []))
    failed = attempted if problems else len({(b["op"], b["pass"]) for b in bad})
    e2e, samples = end_to_end(raw)
    correct = failed == 0 and not problems
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    if trace == 0:
        values, coverage = e2e, []
        names = spec["end_to_end"]
    else:
        values, coverage = per_layer(raw, untraced_wall)
        if min(coverage, default=1.0) < 0.9:
            problems.append("span coverage below 90%% on %d ops" %
                            sum(1 for c in coverage if c < 0.9))
            correct = False
        names = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    record = {
        "workload": wl, "seed": seed, "seconds": args.seconds, "trace": trace,
        "nproc": os.cpu_count(), "cores": raw["cores"], "heap_max_mb": raw["heap_max_mb"],
        "spark_version": raw["spark_version"], "java_version": raw["java_version"],
        "git_commit": source_commit(), "source_sha256": source_sha(),
        "samples": samples, "op_ms": [[o["name"], o["pass"], op_ms(o)] for o in raw["ops"]],
        "failures": bad, "invariant_problems": problems,
        "known_wrong": {"still_wrong": still_wrong, "now_right": now_right},
        "setup_rounds": raw["setup"], "end_to_end": e2e, "metrics": metrics,
        "ingest": raw.get("ingest"), "kernels": raw.get("kernels"),
        "span_coverage_min": min(coverage, default=None),
        "host_steal_frac": raw["host_steal_frac"],
        "overhead_baseline": baseline_source,
    }
    record_path(wl, seed, trace).write_text(json.dumps(record, indent=1))
    if trace == 1:
        (build.build_dir() / "runs" / f"{wl}-seed{seed}-spans.json").write_text(
            json.dumps(raw.get("spans", [])))
    for b in bad:
        log("FAILED %s (pass %d): %s" % (b["op"], b["pass"], b["error"]))
    for p in problems:
        log("INVARIANT: " + p)
    if still_wrong or now_right:
        print("perfbench: known defects: %d statements still differ from DuckDB (%s); "
              "%d now match it (%s)" % (len(still_wrong), " ".join(still_wrong),
                                         len(now_right), " ".join(now_right)), flush=True)
    log("%s seed %d: %d ops, %d failed; %s" % (wl, seed, attempted, failed, ", ".join(
        "%s=%.4g" % (k, v) for k, v in e2e.items())))
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
