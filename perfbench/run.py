"""Benchmark of the shipped dedup job, `jobs.dedup.main(argv)`.

    python3 perfbench/run.py --workload caption_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates the workload's
`images` parquet from `--seed` (cached under `.perfbench/data`), starts one
Spark session sized from the machine with `session.get_spark`, warms it up
on a slice of the input and with untimed calls on the whole input, then
calls `main()` in-process for `--seconds` seconds and at least a fixed
number of times; `main()` picks the session up through `getOrCreate`. Every
call's output is checked. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the lines before it name
each metric with its unit and direction, and the machine.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json. `--trace 1`
turns Spark's event log on and reports the per-layer metrics instead: the
timed calls alternate between calls with the wrappers of `tracing.py`
installed and plain `main()` calls, and each per-layer value is the median
over the traced calls.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TIERS = ["--pixel-tier", "--substring-tier", "--substring-mode", "both"]
# name -> (rows, rows sharing one caption, extra job flags, least timed runs).
# BENCHMARK.json lists caption_dedup and multitier_dedup; skewed_dedup is
# kept for runs by hand. After the warm-up, every process makes WARM_CALLS
# untimed calls at full size, because the first two calls after the small
# warm-up are 10-30% slower than the ones after them. Then it makes at
# least the stated number of timed calls, which already take longer than
# the benchmark's --seconds, so the count does not depend on the machine's
# speed.
WORKLOADS = {
    "caption_dedup": (14000, 0, [], 3),
    "multitier_dedup": (6000, 0, TIERS, 2),
    "skewed_dedup": (3400, 1600, [], 2),
}
WARM_CALLS = 2
WARMUP_ROWS = 600
STAGES = ("signatures", "pairs", "pixel_edges", "substring_edges", "clusters",
          "filtered", "representatives", "invariant_violations")
TIER_STAGES = ("pixel_edges", "substring_edges")
# Without tier flags, the main thread's stage spans plus job_tail cover at
# least this share of the job's wall time; the rest is argument parsing, the
# fingerprint and the input schema read before the first stage.
MIN_STAGE_COVERAGE = 0.9


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    avail_gib = mem["MemAvailable"] / 2**20
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem["MemTotal"] // 1024,
        "mem_available_mib": mem["MemAvailable"] // 1024,
        # a quarter of what is free, in whole GiB and at most 4, so the heap
        # (and GC behaviour) does not drift with other tenants' memory use
        "driver_heap_gib": int(max(1, min(4, avail_gib // 4))),
    }


def process_tree(pid: int) -> list[int]:
    """`pid` and its live descendants, leaving out those that run the same
    executable as `pid`. The JVM spawns helpers (`chmod` for file modes)
    through vfork, and until the child execs it shares the JVM's memory and
    would double its RSS in the sum."""
    own, pids, stack = os.readlink(f"/proc/{pid}/exe"), [], [pid]
    while stack:
        p = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
            if p == pid or os.readlink(f"/proc/{p}/exe") != own:
                pids.append(p)
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while being listed
    return pids


def peak_rss_mib(pids: list[int]) -> float:
    """Summed VmHWM (peak RSS since start or since the last reset)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            continue  # exited, or a kernel thread
    return total / 1024


class PeakRss:
    """Peak summed RSS of a process tree while open. It resets each
    process's VmHWM on entry, then sums the VmHWM of the live processes
    every 50 ms, so a spike shorter than the interval still counts."""

    def __init__(self, pid: int):
        self.pid, self.peak, self.error = pid, 0.0, None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self):
        try:
            while True:
                self.peak = max(self.peak, peak_rss_mib(process_tree(self.pid)))
                if self._stop.wait(0.05):
                    return
        except Exception as e:  # reraised in the calling thread by __exit__
            self.error = e

    def __enter__(self):
        for p in process_tree(self.pid):
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited, or not permitted: its peak counts from its start
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        if self.error is not None:
            raise self.error


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def read_parquet(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def check_output(out: str, clusters, ids: set) -> str | None:
    """None if every input id appears exactly once across the job's
    clusters and filtered outputs, else what is wrong."""
    seen = list(clusters["image_id"]) + list(read_parquet(os.path.join(out, "filtered"))["image_id"])
    if len(seen) != len(ids) or set(seen) != ids:
        return (f"{len(seen)} rows ({len(set(seen))} distinct) in clusters+filtered "
                f"for {len(ids)} input ids")
    return None


def pair_scores(clusters, truth) -> tuple[float, float]:
    """(recall, precision) of same-cluster pairs against the planted truth,
    averaged over rows so that a few large clusters do not dominate.
    A row's recall is the share of its planted duplicates that share its
    output cluster; its precision is the share of its output cluster's other
    members that are planted duplicates of it. Rows of the hot caption are
    left out, because `size_max` forbids recovering their cluster."""
    from gen import HOT_TAG

    rows = truth[truth["true_cluster"] != HOT_TAG].merge(clusters, on="image_id", how="left")
    # a row in no output cluster is a cluster of its own
    rows["cluster_id"] = rows["cluster_id"].astype(object).where(
        rows["cluster_id"].notna(), "row:" + rows["image_id"])
    mates = rows.groupby(["true_cluster", "cluster_id"])["image_id"].transform("size") - 1
    planted = rows.groupby("true_cluster")["image_id"].transform("size") - 1
    found = rows.groupby("cluster_id")["image_id"].transform("size") - 1
    return ((mates / planted)[planted > 0].mean(),
            (mates / found)[found > 0].mean())


def run_job(dedup, argv: list[str]) -> str | None:
    """One `main(argv)` call -> failure or None. The job's own stdout goes
    to stderr so that the result stays the last line of stdout."""
    try:
        with contextlib.redirect_stdout(sys.stderr):
            rc = dedup.main(argv)
    except Exception:
        traceback.print_exc()
        return "main() raised"
    return None if rc == 0 else f"main() returned {rc}"


def stage_facts(out: str) -> dict:
    """What a traced run left in its output dir: manifest rows and bytes per
    stage, and the share of written pairs at or above the edge floor."""
    from dynaalign_spark.config import SCALE

    facts = {}
    for stage in STAGES:
        man = os.path.join(out, f"{stage}.manifest.json")
        if os.path.exists(man):
            with open(man) as f:
                facts[f"{stage}.rows_out"] = json.load(f)["rows"]
            facts[f"checkpoint.{stage}_bytes"] = dir_bytes(os.path.join(out, stage))
    sim = read_parquet(os.path.join(out, "pairs"))["sim"]
    facts["pairs.useful_rows"] = int((sim >= SCALE.min_edge_sim).sum())
    facts["pairs.useful_ratio"] = facts["pairs.useful_rows"] / max(1, len(sim))
    return facts


def timed_runs(dedup, job, out, seconds, min_runs, spark_pid, tracer, ids, truth):
    """Calls `main(job)` WARM_CALLS times untimed, then until `seconds`
    have passed and at least `min_runs` more times. Every call's output is
    checked. With a tracer, the timed calls alternate traced and plain,
    starting with a traced one, and there are two of them, so that each
    traced call has a plain call on each side."""
    runs = []
    start = None
    if tracer is not None:
        min_runs = 2
    while start is None or len(runs) - WARM_CALLS < min_runs \
            or time.perf_counter() - start < seconds:
        warm = len(runs) < WARM_CALLS
        if not warm and start is None:
            start = time.perf_counter()
        shutil.rmtree(out, ignore_errors=True)
        tag = f"run{len(runs)}"
        traced = tracer is not None and not warm and (len(runs) - WARM_CALLS) % 2 == 0
        with PeakRss(spark_pid) as rss, \
                (tracer.installed(tag) if traced else contextlib.nullcontext()):
            t0 = time.perf_counter()
            err = run_job(dedup, job)
            t1 = time.perf_counter()
        r = {"tag": tag, "warm": warm, "traced": traced, "t0": t0, "t1": t1,
             "peak_mib": rss.peak}
        if err is None:
            clusters = read_parquet(os.path.join(out, "clusters"))
            err = check_output(out, clusters, ids)
            r["out_bytes"] = dir_bytes(out)
            r["scores"] = pair_scores(clusters, truth)
            if traced:
                r["facts"] = stage_facts(out)
        r["error"] = err
        runs.append(r)
    return runs


def layer_metrics(runs, tracer, event_dir, n_rows) -> dict:
    """Per-layer metrics of each traced run, then the median over them."""
    from tracing import fold_event_log

    (log,) = os.listdir(event_dir)
    groups = fold_event_log(os.path.join(event_dir, log))
    per_run = []
    for r, after in zip(runs, runs[1:]):
        if not r["traced"] or r["error"] or after["error"]:
            continue
        tag, wall = r["tag"], r["t1"] - r["t0"]
        spans = {s["name"]: s for s in tracer.spans_of(tag)}
        m = dict.fromkeys(metric_names(), 0.0)
        m.update(r["facts"])
        main_spans = [s for s in spans.values() if s["thread"] == "MainThread"]
        tail_start = max(s["t1"] for s in main_spans)
        walls = {name: s["t1"] - s["t0"] for name, s in spans.items()}
        walls["job_tail"] = r["t1"] - tail_start
        for group, w in walls.items():
            m[f"{group}.wall_s"] = w
            for c, v in groups.get(f"{tag}:{group}", {}).items():
                m[f"{group}.{c}"] = v
        tier_ends = [spans[t]["t1"] for t in TIER_STAGES if t in spans]
        if tier_ends:
            m["tiers.wait_s"] = max(0.0, max(tier_ends) - spans["pairs"]["t1"])
        comps = tracer.calls_of("components", tag)
        m["components.wall_s"] = sum(w for w, _ in comps)
        m["components.rounds"] = sum(n for _, n in comps)
        m["clusters.self_s"] = walls["clusters"] - m["components.wall_s"]
        m["clusters.distributed_rounds"] = sum(d for _, d in tracer.calls_of("clusterbreak", tag))
        m["trace.images_per_s"] = n_rows / wall
        m["trace.overhead_share"] = wall / (after["t1"] - after["t0"]) - 1
        m["trace.stage_wall_coverage"] = (
            sum(walls[s["name"]] for s in main_spans) + walls["job_tail"]) / wall

        per_run.append(m)
    return {k: statistics.median(m[k] for m in per_run) for k in metric_names()} if per_run else {}


def metric_names() -> list[str]:
    """Per-layer metric names, in the order of BENCHMARK.json."""
    from tracing import TASK_COUNTERS

    names = []
    for group in (*STAGES, "job_tail"):
        names += [f"{group}.wall_s"] + [f"{group}.{c}" for c in TASK_COUNTERS]
        if group != "job_tail":
            names.append(f"{group}.rows_out")
    names += ["pairs.useful_ratio", "pairs.useful_rows", "tiers.wait_s",
              "components.wall_s", "components.rounds", "clusters.self_s",
              "clusters.distributed_rounds"]
    names += [f"checkpoint.{s}_bytes" for s in STAGES]
    names += ["trace.images_per_s", "trace.overhead_share", "trace.stage_wall_coverage"]
    return names


def stop(spark, jvm) -> None:
    """Stops the session, then the JVM it runs in, and waits for both: the
    JVM exits once the gateway's stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Benchmark of the shipped dedup job.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "jobs", "dedup.py")):
        print(f"no jobs/dedup.py under {ROOT}: run from the root of a full checkout",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    try:
        return bench(args, spec, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, spec, work: str, run_dir: str) -> int:
    import gen

    n_rows, hot_rows, flags, min_runs = WORKLOADS[args.workload]
    env = machine()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(env["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{env['driver_heap_gib']}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    images_path, truth_path = gen.cached(os.path.join(work, "data"), "images",
                                         n_rows, args.seed, hot_rows)
    warm_path = gen.head_slice(images_path, WARMUP_ROWS, env["nproc"])
    truth = read_parquet(truth_path)
    ids = set(truth["image_id"])
    event_dir = os.path.join(run_dir, "events")
    os.makedirs(event_dir)
    os.makedirs(os.environ["TMPDIR"])

    import jobs.dedup as dedup
    from dynaalign_spark.session import get_spark
    from tracing import Tracer

    out = os.path.join(run_dir, "out")
    t0 = time.perf_counter()
    # The heap is committed and touched at start, so the JVM's share of
    # peak_rss_mb is fixed by the heap size rather than by GC ergonomics;
    # the metric then moves with memory outside the heap (Python workers,
    # Arrow buffers, JVM native memory), and heap pressure shows as gc_s.
    # JVM temp files stay in the run directory.
    extra = {"spark.driver.extraJavaOptions":
             f"-Xms{env['driver_heap_gib']}g -XX:+AlwaysPreTouch -XX:-UsePerfData "
             f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if args.trace:
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="perfbench", master=f"local[{env['nproc']}]", extra=extra)
    jvm = spark.sparkContext._gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        err = run_job(dedup, ["--input", warm_path, "--output", out, "--no-resume", *flags])
        setup_s = time.perf_counter() - t0
        if err:
            print(f"warm-up failed: {err}", file=sys.stderr)
            return 1
        env["spark_version"] = spark.version
        job = ["--input", images_path, "--output", out, "--no-resume", *flags]
        tracer = Tracer(spark.sparkContext) if args.trace else None
        runs = timed_runs(dedup, job, out, args.seconds, min_runs, jvm.pid, tracer, ids, truth)
    finally:
        stop(spark, jvm)

    ok = [r for r in runs if r["error"] is None]
    for r in runs:
        if r["error"]:
            print(f"{r['tag']} failed: {r['error']}", file=sys.stderr)
    if args.trace:
        values = layer_metrics(runs, tracer, event_dir, n_rows)
        declared = spec["per_layer"]
        if not flags and values and \
                values["trace.stage_wall_coverage"] < MIN_STAGE_COVERAGE:
            print(f"stage spans cover {values['trace.stage_wall_coverage']:.3f} "
                  f"of the job wall, below {MIN_STAGE_COVERAGE}", file=sys.stderr)
    else:
        declared = spec["end_to_end"]
        timed = [r for r in ok if not r["warm"]]
        values = {} if not timed else {
            "images_per_s": n_rows / statistics.median(r["t1"] - r["t0"] for r in timed),
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(r["peak_mib"] for r in timed),
            "output_bytes_per_image": statistics.median(r["out_bytes"] for r in timed) / n_rows,
            "dup_pair_recall": timed[-1]["scores"][0],
            "dup_pair_precision": timed[-1]["scores"][1],
        }

    info = {"workload": args.workload, "seed": args.seed, "rows": n_rows, **env,
            "runs": len(runs), "failed_run_share": (len(runs) - len(ok)) / len(runs),
            "walls_s": [round(r["t1"] - r["t0"], 3) for r in runs]}
    print(json.dumps(info))
    metrics = {}
    for d in declared:
        value = values.get(d["name"], 0.0)
        metrics[d["name"]] = {"value": value, "unit": d["unit"]}
        if not args.trace:
            print(f"{d['name']:>24} {value:14.6g} {d['unit']:<6} ({d['better']} is better)")
    print(json.dumps({"correct": len(ok) == len(runs) and bool(values),
                      "attempted": len(runs), "failed": len(runs) - len(ok),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
