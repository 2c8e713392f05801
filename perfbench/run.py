#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from the checkout's sources (`build.py`), runs one
workload in fresh JVMs at local[<all cores>], checks its outputs, and prints
one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads (each one closed-loop client sending one operation after another):

- `backfill`: `BackfillCli.run` over a page corpus generated from `--seed`,
  into an empty output dir (process 1), then a resume after a simulated
  crash (process 2). Sources, normalize/dedup, the per-month write and
  checkpoint, and consolidation; never touches the query registry.
- `curation_session`: text, dedup, vector and artifact-building queries
  that share memoized relations, on the bundled sf0.01 corpus.
- `relational_session`: scan/shuffle/join-bound queries through graft's
  planner rules, on the same corpus; almost nothing memoized. Runnable by
  hand; BENCHMARK.json leaves it out so that the repeated runs of the
  listed workloads fit the benchmark's time budget.

With `--trace 0` the metrics are the end-to-end ones, from untraced
processes. With `--trace 1` the processes attach the benchmark's listeners
and span timers, write spans to `.bench_build/traces/`, print a self-time
table on stderr, and report the per-layer metrics (zero where a workload
does not reach a layer) and the tracing overhead.

Exits non-zero when an output check fails, and without a result when the
program cannot be built.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen_pages

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.json")
WORKLOADS = ("backfill", "curation_session", "relational_session")
MAIN = "perfbench.Main"
DEADLINE_S = 170  # the whole run, build included, stays under 180 s
SETUP_PROBES = 1  # extra session start-ups per run, for a median setup_s

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s")]
PER_LAYER = [
    ("sources.read_s", "s"), ("sources.pages", "count"), ("sources.rows", "count"),
    ("sources.rows_per_s", "1/s"),
    ("ops.normalize_dedup_s", "s"), ("ops.keep_ratio", "ratio"),
    ("pipeline.month_s", "s"), ("pipeline.consolidate_s", "s"),
    ("pipeline.checkpoint_s", "s"), ("pipeline.jobs_per_month", "count"),
    ("pipeline.files_written", "count"), ("pipeline.mb_written", "MB"),
    ("pipeline.stored_bytes_ratio", "ratio"),
    ("queries.build_s", "s"), ("queries.first_run_s", "s"),
    ("planner.analysis_s", "s"), ("planner.optimization_s", "s"),
    ("planner.planning_s", "s"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.tasks_failed", "count"), ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.output_mb", "MB"), ("exec.busy_cores", "cores"),
    ("exec.driver_gap_s", "s"),
    ("memo.relations", "count"), ("memo.partitions", "count"), ("memo.mb", "MB"),
    ("memo.build_s", "s"), ("memo.scans_per_query", "count"),
    ("artifacts.build_s", "s"), ("artifacts.files_written", "count"),
    ("artifacts.mb_written", "MB"), ("artifacts.tmp_leftover_mb", "MB"),
    ("self.run_s", "s"), ("self.phase_s", "s"), ("self.operation_s", "s"),
    ("self.call_s", "s"), ("self.job_s", "s"), ("self.stage_s", "s"),
    ("trace.overhead", "ratio"),
]
LAYERS = ("run", "phase", "operation", "call", "job", "stage")


class Run:
    """One benchmark process tree: its temp dirs, JVM launches and
    deadline."""

    def __init__(self, args, classpath):
        self.args = args
        self.classpath = classpath
        self.t0 = time.monotonic()
        self.dir = os.path.join(build.BUILD, "runs",
                                f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.traces = os.path.join(build.BUILD, "traces")
        os.makedirs(self.traces, exist_ok=True)
        self.n = 0

    def jvm(self, mode, **kw):
        """Run one JVM with its own temp and Spark local dirs; return the
        JSON object it wrote, or None when it failed."""
        self.n += 1
        tmp = os.path.join(self.dir, f"jvm{self.n}", "tmp")
        local = os.path.join(self.dir, f"jvm{self.n}", "local")
        os.makedirs(tmp)
        os.makedirs(local)
        out = os.path.join(self.dir, f"jvm{self.n}", "result.json")
        args = [f"mode={mode}", f"out={out}"] + [f"{k}={v}" for k, v in kw.items()]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
                   SPARK_LOCAL_DIRS=local)
        left = DEADLINE_S - (time.monotonic() - self.t0)
        if left <= 5:
            log(f"no time left for {mode}")
            return None
        try:
            r = subprocess.run(build.java_cmd(self.classpath, tmp, MAIN, args),
                               stdin=subprocess.DEVNULL, stdout=sys.stderr, env=env,
                               timeout=left)
        except subprocess.TimeoutExpired:
            log(f"{mode} timed out")
            return None
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(local, ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(out):
            log(f"{mode} exited with {r.returncode}")
            return None
        with open(out) as f:
            return json.load(f)

    def spans(self, name):
        return os.path.join(self.traces, f"{self.args.workload}-seed{self.args.seed}-{name}.jsonl")

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def artifact_slug(d):
    """The program's directory name for corpus path `d` (AttrTable.pathSlug)."""
    h = 0xcbf29ce484222325
    for c in d:
        h = ((h ^ ord(c)) * 0x100000001b3) & 0xFFFFFFFFFFFFFFFF
    name = re.sub(r"^_+", "", re.sub(r"[^A-Za-z0-9.]+", "_", d))
    return f"{name}-{h & 0xFFFFFFFF:08x}"


def artifact_dirs():
    """The program writes its attribute and ingest artifacts under fixed
    /tmp roots, one directory per corpus path; these are this corpus's."""
    s = artifact_slug(CORPUS)
    return [f"/tmp/graft-attrs/{s}", f"/tmp/graft-attrs/{s}-dlang",
            f"/tmp/graft-attrs-incr/{s}", f"/tmp/graft-ingest/{s}"]


def remove_artifacts():
    for d in artifact_dirs():
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(d))  # only when no one else uses the root
        except OSError:
            pass


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def session(run, trace):
    a = run.args
    setups = []
    if not trace:
        for _ in range(SETUP_PROBES):
            r = run.jvm("probe")
            if r:
                setups.append(r["setup_s"])
    res = run.jvm("session", workload=a.workload, corpus=CORPUS, seconds=a.seconds,
                  trace=int(trace), run=f"{a.workload}-{a.seed}", spans=run.spans("session"))
    if res is None:
        return None
    setups.append(res["setup_s"])
    with open(EXPECTED) as f:
        expected = json.load(f)[a.workload]
    failed = 0
    if not set(artifact_dirs()) <= set(res["artifact_roots"]):
        log(f"artifact dirs {res['artifact_roots']} do not include {artifact_dirs()}")
        failed += 1
    for q, r in res["queries"].items():
        want = expected.get(q)
        hot_errors = len(r["errors"]) - (1 if r["cold_s"] is None else 0)
        cold_bad = r["cold_s"] is None or r["cold_digest"] != want
        hot_bad = r["hot_digest"] != want
        if cold_bad or hot_bad or hot_errors:
            log(f"{q}: cold digest {r['cold_digest']}, hot digest {r['hot_digest']}, "
                f"expected {want}, errors {r['errors']}")
        failed += int(cold_bad) + max(hot_errors, int(hot_bad))
    for q, r in res["queries"].items():
        hot = [h for h in r["hot_s"] if h is not None]
        log(f"  {q:<26} cold {r['cold_s'] or float('nan'):7.3f} s  hot median {median(hot):7.3f} s")
    metrics = {"setup_s": median(setups), "cold_s": res["cold_s"], "warm_s": res["hot_s"]}
    log(f"{a.workload}: {res['hot_rounds']} hot rounds, retained {res['retained_mb']:.1f} MB")
    return metrics, res["attempted"], failed, [res]


def backfill(run, trace):
    a = run.args
    pages = os.path.join(run.dir, "pages")
    stats = gen_pages.generate(a.seed, pages)
    log(f"backfill corpus: {stats['pages']} pages, {stats['rows']} rows, "
        f"{stats['distinct']} distinct ids")
    common = dict(pages=pages, outdir=os.path.join(run.dir, "out"),
                  expected=os.path.join(pages, "expected.csv"), distinct=stats["distinct"],
                  genres=stats["genres"], input_bytes=stats["input_bytes"],
                  trace=int(trace), run=f"backfill-{a.seed}")
    cold = run.jvm("backfill-cold", spans=run.spans("cold"), **common)
    if cold is None:
        return None
    resume = run.jvm("backfill-resume", spans=run.spans("resume"),
                     cold_digest=cold["digest"], **common)
    if resume is None:
        return None
    for name, r in (("cold", cold), ("resume", resume)):
        for msg in r["failures"]:
            log(f"backfill {name}: {msg}")
    log(f"backfill {cold['backfill_s']:.3f} s, resume {resume['resume_s']:.3f} s, "
        f"{cold['master_rows']} master rows, {cold['out_files']} files written")
    setups = [cold["setup_s"], resume["setup_s"]]
    attempted = 1 + resume.get("attempted", 1)
    failed = int(bool(cold["failures"])) + int(bool(resume["failures"]))
    metrics = {"setup_s": median(setups), "cold_s": cold["backfill_s"],
               "warm_s": resume["resume_s"]}
    if trace:
        cold["layers"]["pipeline.consolidate_s"] = resume["consolidate_s"]
        cold["trace_overhead"] = resume["trace_overhead"]
    return metrics, attempted, failed, [cold, resume]


def layer_metrics(results):
    """Per-layer values: the traced process's layer numbers, self time per
    span layer summed over the workload's processes, tracing overhead."""
    vals = {name: 0.0 for name, _ in PER_LAYER}
    self_s = {l: 0.0 for l in LAYERS}
    for r in results:
        vals.update({k: v for k, v in r.get("layers", {}).items() if k in vals})
        for l, v in r.get("self_s", {}).items():
            self_s[l] = self_s.get(l, 0.0) + v
        if "trace_overhead" in r:
            vals["trace.overhead"] = r["trace_overhead"]
    for l in LAYERS:
        vals[f"self.{l}_s"] = self_s[l]
    total = sum(self_s.values()) or 1.0
    log("self time by span layer:")
    for l in LAYERS:
        log(f"  {l:<10} {self_s[l]:10.3f} s  {100 * self_s[l] / total:5.1f}%")
    log(f"  tracing overhead (traced wall / untraced wall): {vals['trace.overhead']:.3f}")
    return vals


def selftest(run):
    """The result emitter under a comma-decimal default locale must still
    write parseable JSON with '.' decimals. Checked once per build."""
    passed = os.path.join(build.CLASSES, ".selftest-passed")
    if os.path.exists(passed):
        return True
    r = run.jvm("selftest")
    ok = (r is not None and r["locale"] == "de_DE" and r["default_format"] == "0,500"
          and r["half"] == 0.5 and r["small"] == 1.25e-7 and r["large"] == 123456789.125)
    if ok:
        open(passed, "w").close()
    else:
        log(f"emitter self-test failed: {r}")
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] cannot build the program: {e}")
    if not os.path.isdir(CORPUS) or not os.path.exists(EXPECTED):
        sys.exit("[perfbench] the bundled corpus or expected digests are missing")

    run = Run(args, classpath)
    remove_artifacts()
    try:
        emitter_ok = selftest(run)
        got = (backfill if args.workload == "backfill" else session)(run, args.trace == 1)
    finally:
        remove_artifacts()
        run.close()
    if got is None:
        sys.exit("[perfbench] a benchmark process failed; no result")
    metrics, attempted, failed, results = got
    failed += int(not emitter_ok)
    if args.trace:
        values, units = layer_metrics(results), dict(PER_LAYER)
    else:
        values, units = metrics, dict(END_TO_END)
    out = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    correct = failed == 0 and all(v["value"] == v["value"] for v in out.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
