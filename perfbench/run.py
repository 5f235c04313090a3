"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up, once per run, starts the JVM
and a session (fresh temp root, so fresh store roots; package ship),
runs a warm-up pass of the workload on the smallest tables and seeds
the store twins; ``setup_s`` is their sum. Then the run makes full
passes of the workload in a closed loop until ``--seconds`` have passed
(at least one pass).
With ``--trace 0`` the last stdout line carries the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` the window is split
into untraced and traced passes and the line carries the per-layer
metrics, with the tracing overhead. Every result is checked against
the pinned hashes in ``expected.json``; the exit code is non-zero when
any operation failed or the checkout lacks the engine sources.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # the smoke run points every workload at the smallest tables
    p.add_argument("--scale", default="sf0.01", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# ---- host-load evidence (not timed, gates nothing) ----------------------

# bench.py's sentinels, run in a child process so that their arrays stay
# out of this process's peak RSS (and bench.membw_sample is not used: it
# appends to a tracked log)
_SENTINEL = ("import json, bench; print(json.dumps({"
             "'calib_s': bench._calib_kernel_s(), "
             "'membw_gbps': bench._membw_gbps(), "
             "'membw_agg_gbps': bench._membw_agg_gbps()}))")


def host_load() -> dict:
    """``bench.py``'s calibration kernel (md5 over 500 MB) and its
    single-thread and aggregate memory-bandwidth kernels, plus the load
    average and the CPU time the hypervisor has stolen since boot (its
    growth over a run is co-tenant load that the load average cannot
    see)."""
    p = subprocess.run([sys.executable, "-c", _SENTINEL], cwd=ROOT,
                       capture_output=True, text=True, timeout=120)
    out = json.loads(p.stdout.strip().splitlines()[-1]) \
        if p.returncode == 0 else {"sentinel_error": p.stderr[-400:]}
    with open("/proc/loadavg") as f:
        out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    out["steal_s"] = steal_s()
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this VM since boot,
    summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


# ---- session ------------------------------------------------------------

class Session:
    """The run's Spark session and its JVM. Everything either writes
    (temp files, spill, store roots) lands under ``work``."""

    def __init__(self, work: str, cores: int, traced: bool = False):
        self.work = work
        self.cores = cores
        # the traced run reads every stage of the window back from the
        # status store, so none may be evicted before it is read
        self.retain = {"spark.ui.retainedJobs": "100000",
                       "spark.ui.retainedStages": "100000"} if traced else {}
        self.spark = None

    def start(self):
        from datatools_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        tempfile.tempdir = tmp
        os.environ["TMPDIR"] = tmp
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf={
            # a fixed-size heap: with a growable one, peak RSS follows
            # the collector's resizing and swings ~25 % between runs
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **self.retain,
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the Spark JVM plus the Python driver
        (the sum of each process's own high-water mark)."""
        import resource

        from pyspark import SparkContext
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return own + _vm_hwm_mb(SparkContext._gateway.proc.pid)

    def close(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---- one run ------------------------------------------------------------

def _med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def run(args, session: Session, expected: dict) -> dict:
    import fixture
    import workloads as W
    from datatools_spark.queries import QUERIES
    from spans import Tracer, self_times

    data = fixture.scale_dir(args.scale)
    tiny = fixture.scale_dir("sf0.001")
    rng = random.Random(args.seed)
    tally = W.Tally(expected)
    res = {}
    ingest = args.workload == "store_ingest"
    if ingest:
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(data, "documents.parquet"),
                             columns=["doc_id", "text"])
        doc_ids = docs.column("doc_id").to_pylist()
        tiny_ids = pq.read_table(os.path.join(tiny, "documents.parquet"),
                                 columns=["doc_id"]).column("doc_id") \
            .to_pylist()
        res["input_bytes"] = sum(len(t.encode()) for t in
                                 docs.column("text").to_pylist())

    # set-up, once: session start and package ship, a warm-up pass of
    # the workload on the smallest tables, the seeding of the store twins
    t0 = time.perf_counter()
    spark = session.start()
    res["start_s"] = time.perf_counter() - t0
    off = Tracer(spark, False)
    t0 = time.perf_counter()
    if ingest:
        # one batch: every store call once, on its first-batch path
        W.ingest_pass(spark, off, tiny, os.path.join(session.work, "warm"),
                      [tiny_ids[:W.WARMUP_DOCS]], W.Tally(None))
    else:
        for name in W.QUERY_WORKLOADS[args.workload]:
            W.run_query(spark, off, name, tiny)
    res["warmup_s"] = time.perf_counter() - t0
    # the first build of a twin fills its store under the fresh temp root
    t0 = time.perf_counter()
    for name in () if ingest else W.TWINS:
        QUERIES[name](spark, data)
    res["seed_s"] = time.perf_counter() - t0

    start = time.perf_counter()
    if args.trace:
        # the seed's parity decides whether the traced half runs first or
        # second, so that over seeds the JVM warming up during the window
        # does not bias the tracing overhead either way
        first = args.seed % 2 == 1
        halves = [(first, start + args.seconds / 2),
                  (not first, start + args.seconds)]
    else:
        halves = [(False, start + args.seconds)]
    res["halves"] = []
    for traced, deadline in halves:
        tr = Tracer(spark, traced)
        half = {"traced": traced}
        stolen = steal_s()
        if ingest:
            passes = []
            while True:
                root = os.path.join(session.work, f"stores{len(passes)}")
                batches = W.ingest_split(doc_ids, rng)
                t0 = time.perf_counter()
                p = W.ingest_pass(spark, tr, data, root, batches, tally)
                p["wall"] = time.perf_counter() - t0
                passes.append(p)
                if time.perf_counter() >= deadline:
                    break
            half["pass_s"] = _med([p["wall"] for p in passes])
            half["ingest"] = passes
        else:
            samples: dict = {}
            W.query_passes(spark, tr, W.QUERY_WORKLOADS[args.workload],
                           data, deadline, rng, tally, samples)
            half["pass_s"] = W.pass_seconds(samples)
            half["samples"] = samples
        half["steal_s"] = steal_s() - stolen
        tr.collect_jobs()
        half["spans"] = tr.spans
        half["self"] = self_times(tr.spans) if traced else {}
        res["halves"].append(half)
    res["peak_rss_mb"] = session.peak_rss_mb()
    res["tally"] = tally
    return res


# ---- metrics ------------------------------------------------------------

def _half(res, traced: bool) -> dict:
    return next(h for h in res["halves"] if h["traced"] == traced)


def end_to_end(res) -> dict:
    return {
        "setup_s": res["start_s"] + res["warmup_s"] + res["seed_s"],
        "pass_s": _half(res, False)["pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _per_pass(spans, fn):
    """Median over passes of ``fn(descendant spans of one pass)``."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def desc(sid):
        out = []
        for c in kids.get(sid, []):
            out.append(c)
            out.extend(desc(c["id"]))
        return out
    return _med([fn(desc(p["id"])) for p in spans if p["name"] == "pass"])


def per_layer(res, cores: int) -> dict:
    untraced, traced = _half(res, False), _half(res, True)
    spans = traced["spans"]
    own = traced["self"]
    m = {
        "session.start_s": res["start_s"],
        "session.warmup_s": res["warmup_s"],
        "session.seed_s": res["seed_s"],
    }

    def tot(name, key=None):
        def f(ds):
            sel = [s for s in ds if s["name"] == name]
            return sum((s["t1"] - s["t0"]) if key is None else s.get(key, 0)
                       for s in sel)
        return _per_pass(spans, f)

    m["queries.build_s"] = tot("build")
    m["queries.build_jobs"] = tot("build", "jobs")
    m["queries.schema_jobs"] = tot("build", "schema_jobs")
    m["catalyst.plan_s"] = tot("plan")
    m["catalyst.plan_jobs"] = tot("plan", "jobs")
    m["execute.s"] = tot("execute")
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "input_mb",
              "shuffle_write_mb", "spill_mb", "failed_tasks"):
        m[f"execute.{k}"] = tot("execute", k)
    m["execute.core_util"] = (m["execute.task_s"] / (m["execute.s"] * cores)
                              if m["execute.s"] else 0.0)

    # store layers: per-batch medians of each call
    calls = {"sigstore.update_s": "sigstore.update",
             "sigstore.pair_s": "sigstore.pair",
             "compstore.update_s": "compstore.update",
             "sketches.cms_update_s": "sketches.cms_update",
             "mergestore.merge_s": "mergestore.merge"}
    for metric, name in calls.items():
        m[metric] = _med([s["t1"] - s["t0"] for s in spans
                          if s["name"] == name])
    batch_jobs = []
    for b in (s for s in spans if s["name"] == "batch"):
        batch_jobs.append(sum(s.get("jobs", 0) for s in spans
                              if s["parent"] == b["id"]))
    m["stores.commit_jobs"] = _med(batch_jobs)
    m["stores.read_s"] = _med([s["t1"] - s["t0"] for s in spans
                               if s["name"] == "stores.read"])
    passes = untraced.get("ingest", [])
    m["stores.files"] = _med([p["files"] for p in passes])
    m["ingest.batch_s"] = _med([b for p in passes for b in p["batch_s"]])
    m["ingest.readback_s"] = _med([p["readback_s"] for p in passes])
    m["ingest.stored_bytes_per_input_byte"] = _med(
        [p["stored_bytes"] / res["input_bytes"] for p in passes])

    m["trace.pass_s"] = traced["pass_s"]
    m["trace.overhead_s"] = traced["pass_s"] - untraced["pass_s"]
    cover = [1 - own[s["id"]] / (s["t1"] - s["t0"]) for s in spans
             if s["name"] in ("query", "batch")]
    m["trace.coverage_min"] = min(cover) if cover else 0.0
    return m


def layer_self_times(res) -> dict:
    """Self seconds per span name, summed over the traced passes."""
    traced = _half(res, True)
    out: dict = {}
    for s in traced["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + traced["self"][s["id"]]
    return out


def main(argv=None) -> int:
    args = _args(argv)
    sys.dont_write_bytecode = True
    if not os.path.isfile(os.path.join(ROOT, "datatools_spark", "queries.py")):
        print(f"no engine sources under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import fixture
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {W.WORKLOADS}",
              file=sys.stderr)
        return 2
    reason = fixture.verify()
    if reason:
        print(f"refusing to run: {reason}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(args.scale, {})

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    import datatools_spark.queries  # noqa: F401 — import is not set-up time

    load = {"start": host_load()}
    session = Session(work, cores, bool(args.trace))
    try:
        res = run(args, session, expected)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    load["end"] = host_load()
    load["steal_s"] = round(load["end"]["steal_s"] - load["start"]["steal_s"], 2)

    tally = res["tally"]
    key = "per_layer" if args.trace else "end_to_end"
    values = per_layer(res, cores) if args.trace else end_to_end(res)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[key]}

    for n, v in metrics.items():
        print(f"{n:40s} {v['value']:>14.4f} {v['unit']}")
    print(f"{'fail_frac':40s} {tally.failed / max(tally.attempted, 1):>14.4f}"
          f" ratio ({tally.failed} of {tally.attempted})")
    for msg in tally.mismatches:
        print(f"MISMATCH {msg}")
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "scale": args.scale, "host_load": load,
              "setup": {k: res[k] for k in ("start_s", "warmup_s", "seed_s")},
              "window_steal_s": [round(h["steal_s"], 2)
                                 for h in res["halves"]]}
    if args.trace:
        report["self_s"] = layer_self_times(res)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        with open(os.path.join(base, "traces",
                               f"{args.workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump({"spans": _half(res, True)["spans"]}, f)
    else:
        half = _half(res, False)
        if "samples" in half:
            report["query_median_s"] = {
                q: round(statistics.median(v), 4)
                for q, v in sorted(half["samples"].items())}
    print(json.dumps(report, separators=(",", ":")))
    correct = tally.failed == 0
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
