#!/usr/bin/env python3
"""Lifecycle benchmark of the warehouse engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark harness from source (once per source
state), generates the workload's inputs from the seed, runs the harness
JVM for one closed-loop measurement window, checks every output against
an independent DuckDB oracle, and prints a report. The last line of
standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Workloads, metrics and the layer
each metric belongs to are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

HEAP = ["-Xms3g", "-Xmx3g"]
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the repository's build.sbt lists the same).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]



def metric_units():
    """(end-to-end, per-layer) {name: unit} as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ stats
def median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(samples):
    """The highest percentile of TAIL_LADDER that has at least ten samples
    beyond it (nearest-rank), as (percentile, value, sample count); the
    percentile and value are None when fewer than 20 samples exist."""
    xs = sorted(samples)
    n = len(xs)
    best = (None, None, n)
    for p in TAIL_LADDER:
        rank = -(-p * n // 100)  # ceil(p * n / 100)
        rank = max(int(rank), 1)
        if n - rank >= 10:
            best = (p, xs[rank - 1], n)
    return best


# ------------------------------------------------------------------ build
def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def ensure_built():
    """Compile engine + harness with sbt unless the classes match the
    current sources. Returns the build time in seconds (0 when cached)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found next to "
                         "perfbench/; run from the root of a full checkout")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return 0.0
    t0 = time.time()
    log("perfbench: building engine and harness with sbt")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "compile"],
                          cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: sbt compile failed with exit code {proc.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    return time.time() - t0


# ------------------------------------------------------------ environment
def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]  # total (without guest, already in user), steal


def _load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
    return total


# ---------------------------------------------------------------- metrics
def command_walls(res, *names):
    """Per timed cycle, the summed wall seconds of the named commands
    (cycles that ran none of them are left out)."""
    timed = {c["cycle"] for c in res["cycles"]}
    per = {}
    for c in res["commands"]:
        if c["cycle"] in timed and c["name"] in names:
            per[c["cycle"]] = per.get(c["cycle"], 0.0) + (c["end"] - c["start"]) / 1000
    return [per[k] for k in sorted(per)]


def layer_metrics(res, traced_report):
    """Every per-layer metric, as {name: (value, unit)}. Per-cycle
    quantities are medians over the timed cycles; Spark-listener
    quantities come from the traced cycles only."""
    m = {}
    timed = [c["cycle"] for c in res["cycles"]]

    def cmd_s(name):
        return median(command_walls(res, name))

    def count(name):
        per = {c: 0 for c in timed}
        for x in res["counts"]:
            if x["name"] == name and x["cycle"] in per:
                per[x["cycle"]] += x["value"]
        return median(list(per.values()))

    # Monitor events of the timed cycles, by cycle window.
    events_per_cycle = {c: 0 for c in timed}
    finishes = {c: [] for c in timed}
    for e in res["monitor"]:
        for c in res["cycles"]:
            if c["start"] - 1 <= e["ts"] <= c["end"] + 1:
                events_per_cycle[c["cycle"]] += 1
                if e["event"] != "start":
                    finishes[c["cycle"]].append(e)
    builds = {c: [e for e in es if e["step"] in ("load", "update") and e["rows"] > 0]
              for c, es in finishes.items()}
    rel_s = [e["elapsed"] for es in finishes.values() for e in es if e["step"] == "load"]
    upd_s = [e["elapsed"] for es in finishes.values() for e in es if e["step"] == "update"]

    def lm(key):
        return median([sum(e.get(key, 0) for e in es) for es in builds.values()])

    m["filesets.discover_s"] = (cmd_s("discover"), "s")
    m["filesets.relations"] = (res["outputs"].get("relations", 0), "count")
    m["dag.order_s"] = (cmd_s("order"), "s")
    m["warehouse.build_s"] = (cmd_s("build"), "s")
    p, v, n = tail_percentile(rel_s)
    m["warehouse.relation_s.p50"] = (median(rel_s), "s")
    m["warehouse.relation_s.tail"] = (v, "s", f"p{p}" if p else "n/a", n)
    busy = median([sum(e["elapsed"] for e in es if e["step"] == "load")
                   for es in finishes.values()])
    m["warehouse.build_busy_s"] = (busy, "s")
    m["warehouse.build_overlap"] = (busy / m["warehouse.build_s"][0]
                                    if m["warehouse.build_s"][0] else 0.0, "ratio")
    for key, name, unit in (("bytes_read", "bytes_read", "bytes"),
                            ("bytes_written", "bytes_written", "bytes"),
                            ("files_written", "files_written", "count"),
                            ("shuffle_bytes", "shuffle_bytes", "bytes"),
                            ("rows_written", "rows_written", "rows")):
        m[f"warehouse.{name}"] = (lm(key), unit)
    n_builds = sum(len(es) for es in builds.values())
    missed = sum(1 for es in builds.values() for e in es if not e["has_metrics"])
    m["warehouse.metrics_missed"] = (missed / n_builds if n_builds else 0.0, "ratio")
    m["monitor.events"] = (median(list(events_per_cycle.values())), "count")
    m["warehouse.publish_s"] = (cmd_s("publish"), "s")
    rels = res["outputs"].get("relations", 0)
    m["warehouse.publish_per_relation_s"] = (m["warehouse.publish_s"][0] / rels
                                             if rels else 0.0, "s")
    m["warehouse.check_s"] = (cmd_s("check"), "s")
    m["warehouse.check_relations"] = (count("check_relations"), "count")
    m["unload.unload_s"] = (cmd_s("unload"), "s")
    m["unload.rows"] = (count("unload_rows"), "rows")
    m["warehouse.update_s"] = (cmd_s("update"), "s")
    m["warehouse.update_relations"] = (count("update_relations"), "count")
    m["warehouse.update_relation_s.p50"] = (median(upd_s), "s")
    m["warehouse.vacuum_s"] = (cmd_s("vacuum"), "s")
    m["warehouse.vacuum_deleted"] = (count("vacuum_deleted"), "count")
    m["warehouse.vacuum_refused"] = (count("vacuum_refused"), "count")
    batches = command_walls(res, "batch")
    m["eventstreams.batches"] = (len(batches), "count")
    m["eventstreams.rows_per_batch"] = (count("batch_rows"), "rows")
    if traced_report:
        m.update(traced_report)
    return m


def spark_metrics(res, span_list):
    """Listener-side Spark metrics per traced cycle (medians), the layer
    table and the per-command driver self time."""
    traced = [c for c in res["cycles"] if c["traced"]]
    recs = res["trace"]
    windows = [(c["start"], c["end"]) for c in traced]

    def in_cycle(t):
        for i, (a, b) in enumerate(windows):
            if a - 1 <= t <= b + 1:
                return i
        return None

    per = [dict(queries=0, jobs=0, stages=0, tasks=0, plan=0.0, stage_wall=[], run=0, cpu=0,
                gc=0, deser=0, sw=0, sr=0, spill=0, task_ms=[]) for _ in traced]
    sql_start = {r["exec"]: r["start"] for r in recs if r["kind"] == "sql"}
    stage_cycle = {}
    for r in recs:
        k = r["kind"]
        if k == "sql":
            i = in_cycle(r["start"])
            if i is not None:
                per[i]["queries"] += 1
        elif k == "job":
            i = in_cycle(r["start"])
            if i is not None:
                per[i]["jobs"] += 1
        elif k == "qe":
            starts = [ph["start"] for ph in r["phases"]] or [sql_start.get(r["exec"], 0)]
            i = in_cycle(min(starts))
            if i is not None:
                per[i]["plan"] += sum(ph["end"] - ph["start"] for ph in r["phases"]) / 1000
        elif k == "stage" and r["start"] > 0:
            i = in_cycle(r["start"])
            if i is None:
                continue
            stage_cycle[r["stage"]] = i
            p = per[i]
            p["stages"] += 1
            p["tasks"] += r["tasks"]
            p["stage_wall"].append((r["start"], r["end"]))
            p["run"] += r["run_ms"] / 1000
            p["cpu"] += r["cpu_ns"] / 1e9
            p["gc"] += r["gc_ms"] / 1000
            p["deser"] += r["deser_ms"] / 1000
            p["sw"] += r["shuffle_write"]
            p["sr"] += r["shuffle_read"]
            p["spill"] += r["spill"]
    for r in recs:
        if r["kind"] == "task" and r["stage"] in stage_cycle:
            per[stage_cycle[r["stage"]]]["task_ms"].append(r["dur_ms"])

    def med(f):
        return median([f(p) for p in per])

    def skew(p):
        ts = p["task_ms"]
        return max(ts) / statistics.median(ts) if ts and statistics.median(ts) > 0 else 0.0

    rep = spans.report(span_list)
    out = {
        "spark.queries": (med(lambda p: p["queries"]), "count"),
        "spark.jobs": (med(lambda p: p["jobs"]), "count"),
        "spark.stages": (med(lambda p: p["stages"]), "count"),
        "spark.tasks": (med(lambda p: p["tasks"]), "count"),
        "spark.plan_s": (med(lambda p: p["plan"]), "s"),
        "spark.stage_wall_s": (med(lambda p: spans.union_length(p["stage_wall"]) / 1000), "s"),
        "spark.executor_run_s": (med(lambda p: p["run"]), "s"),
        "spark.executor_cpu_s": (med(lambda p: p["cpu"]), "s"),
        "spark.gc_s": (med(lambda p: p["gc"]), "s"),
        "spark.deser_s": (med(lambda p: p["deser"]), "s"),
        "spark.shuffle_write_bytes": (med(lambda p: p["sw"]), "bytes"),
        "spark.shuffle_read_bytes": (med(lambda p: p["sr"]), "bytes"),
        "spark.spill_bytes": (med(lambda p: p["spill"]), "bytes"),
        "spark.task_skew": (med(skew), "ratio"),
        "driver.self_s": (sum(rep["driver_self_ms_per_cycle"].values()) / 1000, "s"),
        "unattributed_share": (rep["unattributed_share"], "ratio"),
    }
    if "batch" in rep["driver_self_ms_per_cycle"]:
        batch_spans = [s for s in span_list if s["kind"] == "command" and s["name"] == "batch"]
        stages = [(s["start"], s["end"]) for s in span_list if s["kind"] == "stage"]
        covered = sum(spans.union_length(stages, b["start"], b["end"]) for b in batch_spans)
        out["eventstreams.batch_stage_s"] = (covered / max(len(batch_spans), 1) / 1000, "s")
        out["eventstreams.batch_self_s"] = (rep["driver_self_ms_per_cycle"]["batch"] / 1000,
                                            "s")
    untraced = [(c["end"] - c["start"]) for c in res["cycles"] if not c["traced"]]
    traced_wall = [(c["end"] - c["start"]) for c in traced]
    out["trace.overhead"] = (median(traced_wall) / median(untraced) - 1
                             if untraced and traced_wall else 0.0, "ratio")
    return out, rep


def tally(res, checks, mismatches):
    """(attempted, failures): the harness's operations (relation builds,
    constraint checks, unloads, updates, vacuum passes, batches) and
    their failures, plus one operation per oracle comparison, failed
    when it mismatched."""
    return res["attempted"] + checks, res["failures"] + mismatches


# -------------------------------------------------------------------- run
def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    load_start = _load1()
    cpu0 = _cpu_times()
    metric_units()  # fail early without the benchmark definition
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution")
    if not os.path.isdir(gen.SF_DIR):
        raise SystemExit(f"perfbench: source tables not found at {gen.SF_DIR} "
                         "(set PERFBENCH_SF_DIR)")
    build_s = ensure_built()

    out_dir = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(work), exist_ok=True)

    t_gen = time.time()
    spec = gen.generate(args.workload, args.seed, work)
    gen_s = time.time() - t_gen
    in_files, in_bytes = gen.input_size(work)

    result_path = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *ADD_OPENS,
           "-cp", os.pathsep.join([os.path.join(BENCH, "target", "scala-2.13", "classes"),
                                   os.path.join(spark_home, "jars", "*")]),
           "perfbench.Main", args.workload, work, str(args.seconds), str(args.trace),
           result_path]
    jvm_log = os.path.join(work, "jvm.log")
    spawn_ms = time.time() * 1000
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: interrupted by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_path):
        with open(jvm_log) as lf:
            log("".join(lf.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(result_path) as f:
        res = json.load(f)

    jvm_s = time.time() - spawn_ms / 1000
    # correctness, outside the timed window
    t_oracle = time.time()
    checks, mismatches = oracle.check(work, spec, res["outputs"])
    oracle_s = time.time() - t_oracle
    attempted, failures = tally(res, checks, mismatches)
    failed = len(failures)

    cycles = res["cycles"]
    untraced = [c for c in cycles if not c["traced"]]
    walls = [(c["end"] - c["start"]) / 1000 for c in untraced]
    timed_wall = sum((c["end"] - c["start"]) / 1000 for c in cycles)
    rows = sum(c["rows"] for c in cycles)
    live = res["outputs"].get("live", [])
    wh_dir = res["outputs"].get("warehouse", os.path.join(work, "warehouse"))
    on_disk = du(os.path.join(wh_dir, "data"))
    live_bytes = sum(du(p) for p in live)
    build_dirs = sum(len(os.listdir(os.path.join(wh_dir, "data", t)))
                     for t in os.listdir(os.path.join(wh_dir, "data")))
    e2e = {
        "cycle_s": (median(walls), "s"),
        "rows_per_s": (rows / timed_wall if timed_wall else 0.0, "rows/s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
        "setup_s": (gen_s + (res["setup_end_ms"] - spawn_ms) / 1000, "s"),
    }
    cpu1 = _cpu_times()
    total_d = cpu1[0] - cpu0[0]
    env = {
        "nproc": os.cpu_count(),
        "default_parallelism": res["env"]["default_parallelism"],
        "shuffle_partitions": res["env"]["shuffle_partitions"],
        "master": res["env"]["master"],
        "load1_start": load_start, "load1_end": _load1(),
        "contended": load_start > 1.0,
        "cpu_steal_share": (cpu1[1] - cpu0[1]) / total_d if total_d else 0.0,
        "jvm_heap": " ".join(HEAP), "git_commit": _git_commit(),
        "build_s": round(build_s, 1), "gen_s": round(gen_s, 2), "jvm_s": round(jvm_s, 2),
        "jvm_boot_s": round((res["main_start_ms"] - spawn_ms) / 1000, 2),
        "session_s": round((res["session_ready_ms"] - res["main_start_ms"]) / 1000, 2),
        "preload_s": round((res["preload_end_ms"] - res["session_ready_ms"]) / 1000, 2),
        "warmup_s": round((res["setup_end_ms"] - res["preload_end_ms"]) / 1000, 2),
        "oracle_s": round(oracle_s, 2), "workload": args.workload, "seed": args.seed,
        "input_files": in_files, "input_bytes": in_bytes, "timed_cycles": len(cycles),
    }
    span_list = []
    traced_report = {}
    layer_rows = {}
    if args.trace:
        span_list = spans.build(res, tag)
        traced_report, rep = spark_metrics(res, span_list)
        layer_rows = rep
    layers = layer_metrics(res, traced_report)
    layers["warehouse.bytes_on_disk"] = (on_disk, "bytes")
    layers["warehouse.build_dirs"] = (build_dirs, "count")
    layers["storage_ratio"] = (on_disk / live_bytes if live_bytes else 0.0, "bytes/bytes")
    layers["unload.bytes"] = (du(os.path.join(work, "unload")), "bytes")

    # ---- report
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"seconds={args.seconds}")
    print("env " + json.dumps(env, sort_keys=True))
    print("end-to-end:")
    for k, (val, unit) in e2e.items():
        print(f"  {k:<34} {val:>16.6g} {unit}")
    if args.workload == "nightly_load":
        named = [("nightly_s", walls)]
    else:
        named = [("refresh_s", command_walls(res, "update", "vacuum")),
                 ("batch_s", command_walls(res, "batch"))]
    for name, xs in named:
        p, v, n = tail_percentile(xs)
        print(f"  {name + '.p50':<34} {median(xs):>16.6g} s")
        print(f"  {name + '.tail':<34} " + (f"{v:>16.6g} s (p{p} of {n} samples)" if p else
                                          f"{'n/a':>16} ({n} samples; a tail needs >= 20)"))
    print(f"  {'storage_ratio':<34} {layers['storage_ratio'][0]:>16.6g} bytes/bytes")
    print(f"  {'failed_ratio':<34} {failed / attempted if attempted else 0.0:>16.6g} ratio "
          f"({failed} of {attempted})")
    print("per-layer:")
    for k in sorted(layers):
        val, unit, *extra = layers[k]
        shown = "n/a" if val is None else f"{val:.6g}"
        print(f"  {k:<34} {shown:>16} {unit} {' '.join(str(x) for x in extra)}".rstrip())
    if layer_rows:
        wall = layer_rows["wall_ms"] / max(layer_rows["cycles"], 1)
        print(f"layer table (self time per traced cycle, {layer_rows['cycles']} cycle(s), "
              f"wall {wall / 1000:.3f} s):")
        for k, ms in sorted(layer_rows["layers_ms_per_cycle"].items(), key=lambda x: -x[1]):
            print(f"  {k:<34} {ms / 1000:>10.3f} s {100 * ms / wall if wall else 0:>6.1f} %")
        print("driver self time per command (outside planning and stages):")
        for k, ms in layer_rows["driver_self_ms_per_cycle"].items():
            print(f"  {k:<34} {ms / 1000:>10.3f} s")
    for f_ in failures[:20]:
        print(f"FAILURE {f_}")

    reports = os.path.join(out_dir, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump({"env": env, "end_to_end": e2e, "per_layer": layers, "layers": layer_rows,
                   "failures": failures, "cycle_walls_s": walls}, f, indent=1, sort_keys=True)
    if span_list:
        self_ms = spans.self_times(span_list)
        with open(os.path.join(reports, f"{tag}.spans.jsonl"), "w") as f:
            for s in span_list:
                f.write(json.dumps(dict(s, self_ms=self_ms[s["id"]])) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    chosen = metric_units()[args.trace]
    source = e2e if args.trace == 0 else layers
    metrics = {k: {"value": source[k][0], "unit": u} for k, u in chosen.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
