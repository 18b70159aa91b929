#!/usr/bin/env python3
"""graft benchmark: runs one workload for one seed and prints its metrics.

    python3 perfbench/run.py --workload curation_graph --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft and the harness (see
build.py), generates the seeded inputs, and starts one JVM with
`local[N]` (N = min(4, cores)), which warms up and times whole passes
over the workload's operations for `--seconds`. Afterwards DuckDB checks every
operation against its twin. The last stdout line is the result:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The line before it is the full record (stamp, samples, breakdowns).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import reduce as rd  # noqa: E402

WORKLOADS = ("curation_graph", "star_etl")
LAYERS = ("imdb", "dedup", "graph", "relational", "index")
CORES = min(4, len(os.sched_getaffinity(0)))
# the harness JVM's limit: set-up (session, warm-up) plus the measured window,
# or the one pass that is longer, or the three passes a traced run makes at least
SETUP_ALLOWANCE_S = 120
MB = 1048576.0


def jvm_timeout_s(seconds):
    return SETUP_ALLOWANCE_S + 3 * seconds


def launch(jar, archive, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java_cmd(jar, work, [f"-XX:SharedArchiveFile={archive}"]) + [
        args.workload, str(args.seconds), str(args.trace), work, str(CORES)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=jvm_timeout_s(args.seconds))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness JVM exceeded {jvm_timeout_s(args.seconds)} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            raise RuntimeError(f"harness JVM exited {rc}:\n" + fh.read()[-3000:])
    with open(os.path.join(work, "raw.json")) as fh:
        return json.load(fh)


def check(raw, work):
    """Compares every timed call's row count and every warm-up result's
    checksum with DuckDB. Returns (attempted, failures)."""
    twins = oracle.Oracle(os.path.join(work, "in"), os.path.join(work, "tmp"))
    failures, attempted = [], 0
    for name, v in raw["verify"].items():
        attempted += 1
        try:
            exp_rows, exp_sum = twins.expected(v["twins"])
        except Exception as e:  # a twin that cannot run leaves the op unchecked
            failures.append(f"{name}: oracle error {e}")
            exp_rows, exp_sum = None, None
        if v.get("error"):
            failures.append(f"{name}: warm-up error {v['error']}")
        else:
            rows, got = v.get("rows"), None
            if v.get("out"):
                rows, got = twins.actual(v["out"])
            if exp_rows is not None and rows != exp_rows:
                failures.append(f"{name}: {rows} rows, expected {exp_rows}")
            elif exp_sum is not None and got != exp_sum:
                failures.append(f"{name}: checksum {got}, expected {exp_sum}")
        for p in raw["passes"]:
            for o in p["ops"]:
                if o["op"] != name:
                    continue
                attempted += 1
                if o["error"]:
                    failures.append(f"{name} pass {p['index']}: {o['error']}")
                elif o["rows"] >= 0 and exp_rows is not None and o["rows"] != exp_rows:
                    failures.append(f"{name} pass {p['index']}: {o['rows']} rows, "
                                    f"expected {exp_rows}")
    twins.close()
    return attempted, failures


def input_rows_per_pass(raw, tables):
    rows = {t["name"].replace(".csv", ""): t["rows"] for t in tables}
    return sum(rows[t] for v in raw["verify"].values() for t in v["inputs"])


def end_to_end(raw, tables):
    """Pass time is the median over the run's passes. Each operation's
    latency is its median over the passes, and the latency percentiles are
    taken over those per-operation medians, so they do not move with the
    number of passes that fit in the window."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    pass_s = rd.median([p["wall_s"] for p in untraced])
    per_op = {}
    for p in untraced:
        for o in p["ops"]:
            per_op.setdefault(o["op"], []).append(o["wall_s"])
    lat = {k: rd.median(v) for k, v in per_op.items()}
    pct, tail_v, beyond = rd.tail(list(lat.values()))
    metrics = {
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "input_rows_per_s": (input_rows_per_pass(raw, tables) / pass_s, "rows/s"),
        "op_p50_s": (rd.median(list(lat.values())), "s"),
        "op_tail_s": (tail_v, "s"),
    }
    info = {"op_tail_percentile": pct, "op_tail_n": len(lat), "op_tail_beyond": beyond,
            "passes": len(untraced), "peak_heap_mb": max(raw["heap_after_gc_mb"]),
            "op_latency_s": lat}
    return metrics, info


def pass_layers(raw, idx):
    """Per-layer values of one traced pass, each op's layer self times, and
    the largest difference between an op's wall time and the sum of its
    layer self times."""
    ops = raw["verify"]
    bench = {}
    for sp in raw["spans"]:
        if sp["pass"] == idx:
            bench["s%d" % sp["id"]] = {
                "parent": None if sp["parent"] is None else "s%d" % sp["parent"],
                "start": sp["start_ms"], "end": sp.get("end_ms", sp["start_ms"]),
                "kind": sp["kind"], "op": sp["op"], "counts": sp.get("counts") or {}}
    execs = rd.attach_execs([dict(v, id=k) for k, v in bench.items()], raw.get("execs", []))
    spans = dict(bench)
    spans.update(execs)
    rd.clip(spans)
    selfs = rd.self_times(spans)

    def op_of(k):
        while spans[k].get("op") is None:
            k = spans[k]["parent"]
        return spans[k]["op"]

    layer = {}
    for k, sp in spans.items():
        c, op = sp["counts"], op_of(k)
        sp["op"] = op
        if c.get("lsh_derivations", 0) > 0:
            layer[k] = "dedup"
        elif k.startswith("e") and c.get("writes", 0) > 0:
            layer[k] = "index"
        else:
            layer[k] = ops[op]["layer"]

    v = {}

    def add(name, x):
        v[name] = v.get(name, 0.0) + x

    # A command's execution and the executions nested in it read the same
    # physical plan: take plan counts from the innermost ones only.
    outer = {sp["parent"] for k, sp in spans.items() if k.startswith("e")}
    per_op = {}
    for k, sp in spans.items():
        c, lay = ({} if k in outer and k.startswith("e") else sp["counts"]), layer[k]
        add(f"{lay}.self_s", selfs[k] / 1000.0)
        per_op.setdefault(sp["op"], {}).setdefault(lay, 0.0)
        per_op[sp["op"]][lay] += selfs[k] / 1000.0
        add("sources.scan_s", c.get("scan_ms", 0) / 1000.0)
        add("sources.rows", c.get("scan_rows", 0))
        add("sources.bytes", c.get("scan_bytes", 0))
        add(f"{lay}.broadcast_mb", c.get("broadcast_bytes", 0) / MB)
        for j in ("bhj", "smj", "exchanges"):
            add(f"{lay}.{j}", c.get(j, 0))
        add("dedup.derivations_per_pass", c.get("lsh_derivations", 0))
        add("dedup.candidates", c.get("lsh_candidates", 0))
        add("dedup.pairs", c.get("lsh_pairs", 0))
        add("index.bytes_written", c.get("write_bytes", 0))
        if c.get("lsh_derivations", 0) > 0:
            add("dedup.pairs_s", selfs[k] / 1000.0)
    v["dedup.verify_yield"] = (v.get("dedup.pairs", 0) / v["dedup.candidates"]
                               if v.get("dedup.candidates") else 0.0)
    v["index.write_s"] = v.get("index.self_s", 0.0)

    durations = {lay: [] for lay in LAYERS}
    for k, t in raw.get("tasks", {}).items():
        if k not in spans:
            continue
        lay = layer[k]
        add(f"{lay}.task_s", t["run_ms"] / 1000.0)
        add(f"{lay}.gc_s", t["gc_ms"] / 1000.0)
        add(f"{lay}.sched_wait_s", t["wait_ms"] / 1000.0)
        add(f"{lay}.shuffle_write_mb", t["shuffle_write_b"] / MB)
        add(f"{lay}.shuffle_read_mb", t["shuffle_read_b"] / MB)
        add(f"{lay}.spill_mb", t["spill_b"] / MB)
        add(f"{lay}.stages", t["stages"])
        add(f"{lay}.tasks", t["tasks"])
        add(f"{lay}.failed_tasks", t["failed"])
        if lay == "dedup":
            add("dedup.features_s", t["scan_stage_run_ms"] / 1000.0)
        durations[lay].extend(t["durations_ms"])
    for lay in LAYERS:
        wall = v.get(f"{lay}.self_s", 0.0)
        v[f"{lay}.core_util"] = v.get(f"{lay}.task_s", 0.0) / (wall * CORES) if wall else 0.0
        d = durations[lay]
        v[f"{lay}.task_skew"] = max(d) / rd.median(d) if d and rd.median(d) > 0 else 0.0

    op_wall = {sp["op"]: (sp["end"] - sp["start"]) / 1000.0
               for sp in bench.values() if sp["kind"] == "op"}
    for op, wall in op_wall.items():
        step = ops[op]["step"]
        if step.startswith("imdb.") or step == "relational.query_s":
            add(step, wall)
        if op.startswith("graph_"):
            add("graph.kernel_s." + op[len("graph_"):], per_op[op].get("graph", 0.0))
    gap = max((abs(op_wall[op] - sum(per_op[op].values())) for op in op_wall), default=0.0)
    return v, per_op, gap


PER_LAYER = (
    ["sources.scan_s", "sources.rows", "sources.bytes",
     "imdb.extract_s", "imdb.transform_s", "imdb.persist_s", "imdb.query_s",
     "dedup.features_s", "dedup.pairs_s", "dedup.candidates", "dedup.pairs",
     "dedup.verify_yield", "dedup.derivations_per_pass",
     "graph.kernel_s.pagerank", "graph.kernel_s.kcore", "graph.kernel_s.label_propagation",
     "graph.bhj", "graph.smj",
     "relational.query_s", "relational.exchanges", "relational.bhj", "relational.smj",
     "index.write_s", "index.bytes_written"]
    + [f"{lay}.{m}" for lay in LAYERS for m in (
        "self_s", "task_s", "gc_s", "sched_wait_s", "core_util", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "broadcast_mb", "stages", "tasks", "task_skew",
        "failed_tasks")]
    + ["peak_heap_mb", "trace.overhead_s"])


def unit(name):
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("core_util") or name.endswith("verify_yield") or name.endswith("skew"):
        return "ratio"
    return "count"


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    vals, breakdown, gaps = [], {}, []
    for p in traced:
        v, breakdown, gap = pass_layers(raw, p["index"])
        vals.append(v)
        gaps.append(gap)
    out = {n: (rd.median([v.get(n, 0.0) for v in vals]), unit(n)) for n in PER_LAYER}
    out["trace.overhead_s"] = (rd.median([p["wall_s"] for p in traced])
                               - rd.median([p["wall_s"] for p in untraced]), "s")
    out["peak_heap_mb"] = (max(raw["heap_after_gc_mb"]), "MB")
    return out, {"op_layer_self_s": breakdown, "traced_passes": len(traced),
                 "self_time_gap_s": max(gaps)}


def cpu_times():
    """The machine's CPU time counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    samples: a run with a high share ran on a contended host."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else None


def git_commit():
    """HEAD of the checkout, or None when the checkout is no git tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    try:
        jar, archive, source_sha = build.build(ROOT)
        work = os.path.join(ROOT, ".bench_work", args.workload)
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.time()
        tables = gen.generate(args.workload, os.path.join(work, "in"), args.seed)
        inputs_s = time.time() - t0
        cpu0 = cpu_times()
        raw = launch(jar, archive, work, args)
        cpu1 = cpu_times()
        # set-up: seeded inputs, then JVM start to the end of the warm-up pass
        raw["setup"] = dict(raw["setup"], inputs_s=inputs_s,
                            setup_s=inputs_s + raw["setup"]["session_s"] + raw["setup"]["warmup_s"])
        attempted, failures = check(raw, work)
    except (RuntimeError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
        sys.exit(f"perfbench: {e}")
    metrics, info = (per_layer(raw) if args.trace else end_to_end(raw, tables))
    stamp = dict(raw["stamp"], nproc=os.cpu_count(), cores_usable=len(os.sched_getaffinity(0)),
                 git_commit=git_commit(), source_sha256=source_sha, seed=args.seed,
                 tables=tables, cpu_steal_share=steal_share(cpu0, cpu1))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "stamp": stamp, "setup": raw["setup"],
              "pass_wall_s": [(p["wall_s"], p["traced"]) for p in raw["passes"]],
              "ops_failed": len(failures) / attempted, "failures": failures[:20], **info}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
