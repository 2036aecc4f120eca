"""KG-construction benchmark runner.

    python3 perfbench/run.py --workload corpus_kg --seed 1 --seconds 60 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 60 --trace 0   # report

Each operation is a fresh driver process (``driver.py``) on
``local[<nproc>]``, driven closed-loop by one client: the next operation
starts only after the previous one finished, and only while it is
expected to end within ``--seconds`` (at least one always runs). Inputs
are generated from ``--seed`` and staged on disk before any timing.
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A readable report
goes to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("corpus_kg", "registry_neardup")

N_PAGES = 2_000
# the near-duplicate line (bitmap Jaccard, setsim prefix pruning, MinHash
# LSH graph canonicalization); each is oracle-green at sf0.01
REGISTRY_ENTRIES = (
    "q14_ngram_jaccard_pairs", "q73_setsim_exact_pairs", "q98_graph_materialize",
)
PROC_TIMEOUT_S = 170.0
KEEP_STAGED_SEEDS = 4

END_TO_END = {"run_s": "s", "triples_per_s": "1/s", "setup_s": "s"}
LAYERS = (
    "lm", "prompt_weights", "beam_search", "finalize", "rescoring", "extract_text",
    "quality_filter", "corpus_grounding", "graph", "checkpoint", "queries", "collect",
)
SPAN_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "task_s": "s",
    "driver_gap_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}
LAYER_EXTRAS = {
    "lm.mask_logits_per_s": "1/s", "lm.pll_per_s": "1/s",
    "beam_search.threshold_calls": "count", "beam_search.raw_candidates": "count",
    "finalize.kept_ratio": "ratio", "rescoring.pairs_scored": "count",
    "quality_filter.kept_ratio": "ratio", "graph.lsh_pairs": "count", "graph.edges": "count",
    "checkpoint.bytes_written_mb": "MB", "checkpoint.resume_read_s": "s",
    "corpus_grounding.resume_s": "s", "full_pipeline.resume_s": "s",
    "full_pipeline.pages_per_s": "1/s",
    "trace.run_s": "s", "trace.untraced_run_s": "s", "trace.overhead_s": "s",
    "trace.coverage": "ratio", "process.peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in SPAN_UNITS.items()}
    units.update(LAYER_EXTRAS)
    for e in REGISTRY_ENTRIES:
        units[f"queries.{e}.wall_s"] = "s"
        units[f"queries.{e}.task_s"] = "s"
    return units


# -- host ---------------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def calibrate(seconds: float = 0.3) -> float:
    """Single-core sha256 rounds per second: a yardstick for the host."""
    h, n, t0 = b"x" * 64, 0, time.time()
    while time.time() - t0 < seconds:
        h = hashlib.sha256(h).digest()
        n += 1
    return n / (time.time() - t0)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def child_env(cpus: int) -> dict[str, str]:
    """Pin the driver processes to this host: local[nproc], one BLAS
    thread per Python worker, an explicit driver heap, and temp files
    inside the work dir."""
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": "3g",
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONHASHSEED": "0", "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LOCAL_IP": "127.0.0.1",
        # every JVM, the launcher's too: no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return env


# -- process tree ---------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, pgid) for every process that has not ended (zombies,
    ended but not yet reaped, are left out)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def tree_hwm_kb(root: int) -> dict[int, int]:
    """Peak resident memory (VmHWM, KiB) of ``root`` and every live
    descendant: the driver JVM and the Python workers."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            pass
        stack.extend(kids.get(pid, []))
    return out


def stop_group(pgid: int) -> None:
    """Kill whatever is left of a driver's process group and wait until
    every member has ended."""
    deadline = time.time() + 20
    while True:
        left = [p for p, (_, g) in _proc_table().items() if g == pgid]
        if not left:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if time.time() > deadline:
            raise RuntimeError(f"processes {left} of group {pgid} did not end")
        time.sleep(0.1)


def run_driver(cpus: int, args: list[str], deadline: float) -> tuple[dict | None, float, str]:
    """Start one fresh driver process; returns (its JSON result or None,
    the summed peak RSS of its process tree in MiB, stderr tail)."""
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "driver.py"), "--work", WORK,
           "--cpus", str(cpus), "--t0", repr(t0), *args]
    err_path = os.path.join(WORK, "driver.err")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(cpus), stdout=subprocess.PIPE,
            stderr=err, start_new_session=True, text=True,
        )
        # each process's own peak, kept after it exits; summed below
        peaks: dict[int, int] = {}
        done = threading.Event()

        def poll():
            while not done.is_set():
                for pid, kb in tree_hwm_kb(proc.pid).items():
                    peaks[pid] = max(peaks.get(pid, 0), kb)
                done.wait(0.2)

        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
        # the driver prints its result as one JSON line and exits at once;
        # the JVM it leaves behind is killed with the group, not waited for
        lines: list[str] = []
        got = threading.Event()

        def read():
            for line in proc.stdout:
                if line.startswith("{"):
                    lines.append(line)
                    got.set()
            got.set()

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        got.wait(max(5.0, deadline - time.time()))
        done.set()
        poller.join()
        stop_group(proc.pid)
        proc.wait()
        reader.join()
        tmp = os.path.join(WORK, "tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
    with open(err_path) as f:
        tail = f.read()[-3000:]
    result = None
    if lines:
        try:
            result = json.loads(lines[0])
        except ValueError:
            result = None
    return result, sum(peaks.values()) / 1024, tail


# -- staging ----------------------------------------------------------------------


class _LocalRange:
    """Just enough of ``SparkSession.range(...).mapInPandas(...)`` to run
    the library's page generator in this process: the generated rows are
    the ones ``synth_web_pages`` yields, without starting a JVM."""

    def __init__(self, n: int, numPartitions: int):
        self.n, self.parts = n, numPartitions

    def mapInPandas(self, fn, schema):
        import numpy as np
        import pandas as pd

        ids = np.array_split(np.arange(self.n, dtype=np.int64), self.parts)
        return pd.concat(fn(pd.DataFrame({"id": c}) for c in ids), ignore_index=True)


class _LocalSession:
    def range(self, n, numPartitions=None):
        return _LocalRange(n, numPartitions or 1)


def _evict(prefix: str, keep: str) -> None:
    cache = os.path.join(WORK, "cache")
    old = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d)
        for d in os.listdir(cache) if d.startswith(prefix) and d != keep
    )
    for _, d in old[: max(0, len(old) - KEEP_STAGED_SEEDS + 1)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def stage_pages(seed: int) -> str:
    """Seeded synthetic web pages in the day-partitioned layout
    ``write_web_pages`` produces (one parquet file per ``day``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledge_harvest_from_lms_spark.sources.web_pages import synth_web_pages

    name = f"pages-{N_PAGES}-{seed}"
    path = os.path.join(WORK, "cache", name)
    if os.path.exists(os.path.join(path, "_STAGED")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _evict("pages-", name)
    pdf = synth_web_pages(_LocalSession(), N_PAGES, seed=seed)
    pdf["day"] = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_to_dataset(
        table, path, partition_cols=["day"], coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    open(os.path.join(path, "_STAGED"), "w").close()
    return path


def stage_checkpoint(seed: int) -> str:
    """Seeded synthetic DistilBERT (dim 64, 2 layers) whose vocabulary
    holds the stub LM's words."""
    from knowledge_harvest_from_lms_spark.lm.stub import build_stub_lm
    from knowledge_harvest_from_lms_spark.lm.synth_checkpoint import write_synth_checkpoint

    name = f"ckpt-{seed}"
    path = os.path.join(WORK, "cache", name)
    if not os.path.exists(os.path.join(path, "_STAGED")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _evict("ckpt-", name)
        words = tuple(w for w in build_stub_lm().vocab_texts() if w.isalpha())
        write_synth_checkpoint(path, dim=64, n_layers=2, vocab_words=words, seed=seed)
        open(os.path.join(path, "_STAGED"), "w").close()
    return path


# -- one operation per workload --------------------------------------------------------


def op_corpus(cpus, seed, trace, staged, deadline) -> dict:
    """One fresh driver process runs the pipeline into a new run dir,
    then resumes over the finished dir. The outputs' fingerprints must
    equal those of every earlier run of the same seed."""
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    args = ["--workload", "corpus_kg", "--seed", str(seed), "--trace", str(trace),
            "--pages", staged["pages"], "--n-pages", str(N_PAGES), "--run-dir", run_dir]
    if trace:
        args += ["--ckpt", staged["ckpt"]]
    try:
        res, rss, err = run_driver(cpus, args, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        return {"failed": 1, "attempted": 1, "error": err}
    expect_path = os.path.join(WORK, "cache", f"expect-corpus_kg-{N_PAGES}-{seed}.json")
    if os.path.exists(expect_path):
        with open(expect_path) as f:
            if json.load(f) != res["fingerprints"]:
                res["errors"].append("fingerprints differ from an earlier run of this seed")
    elif not res["errors"]:
        with open(expect_path, "w") as f:
            json.dump(res["fingerprints"], f)
    return {
        "attempted": 1, "failed": int(bool(res["errors"])), "errors": res["errors"],
        "run_s": res["run_s"], "resume_s": res["resume_s"], "setup": [res["setup_s"]],
        "outputs": res["outputs"], "pages": res["pages"], "peak_rss_mb": rss, "run": res,
    }


def op_registry(cpus, seed, trace, staged, deadline, rng) -> dict:
    order = list(REGISTRY_ENTRIES)
    rng.shuffle(order)
    expect = os.path.join(WORK, "cache", "expect-registry_neardup.json")
    args = ["--workload", "registry_neardup", "--seed", str(seed), "--trace", str(trace),
            "--data", DATA, "--entries", ",".join(order), "--expect", expect]
    if trace:
        args += ["--ckpt", staged["ckpt"]]
    res, rss, err = run_driver(cpus, args, deadline)
    if res is None:
        return {"failed": len(order), "attempted": len(order), "error": err}
    if not res["errors"] and not os.path.exists(expect):
        with open(expect, "w") as f:
            json.dump(res["fingerprints"], f)
    return {
        "attempted": res["attempted"], "failed": res["failed"], "errors": res["errors"],
        "run_s": res["run_s"], "setup": [res["setup_s"]], "outputs": res["outputs"],
        "peak_rss_mb": rss, "run": res,
    }


# -- metrics ------------------------------------------------------------------------


def end_to_end(ops: list[dict]) -> dict[str, float]:
    good = [o for o in ops if "run_s" in o]
    return {
        "run_s": statistics.median(o["run_s"] for o in good),
        "triples_per_s": statistics.median(o["outputs"] / o["run_s"] for o in good),
        "setup_s": statistics.median(s for o in good for s in o["setup"]),
    }


def layer_metrics(op: dict, untraced_run_s: float) -> dict[str, float]:
    """Per-layer numbers of one traced operation."""
    import tracing

    run = op["run"]
    out = {name: 0.0 for name in per_layer_units()}
    for s in run["spans"]:
        if s["layer"] == "queries" and f"queries.{s['key']}.wall_s" in out:
            out[f"queries.{s['key']}.wall_s"] = s["wall_s"]
            out[f"queries.{s['key']}.task_s"] = s["task_s"]
    c = run["counts"]
    for k in LAYER_EXTRAS:
        if k in c:
            out[k] = c[k]
    if c.get("finalize.rows_in"):
        out["finalize.kept_ratio"] = c["finalize.rows_out"] / c["finalize.rows_in"]
    if c.get("quality_filter.rows_in"):
        out["quality_filter.kept_ratio"] = c["quality_filter.rows_out"] / c["quality_filter.rows_in"]
    if "resume_s" in op:
        resumed = run["spans"][run["resume_from"]:]
        out["full_pipeline.resume_s"] = op["resume_s"]
        out["full_pipeline.pages_per_s"] = op["pages"] / op["run_s"]
        out["checkpoint.bytes_written_mb"] = run["bytes_written"] / 1e6
        out["checkpoint.resume_read_s"] = sum(
            s["wall_s"] for s in resumed if s["layer"] == "checkpoint")
        out["corpus_grounding.resume_s"] = sum(
            s["wall_s"] for s in resumed
            if s["layer"] == "corpus_grounding" and s["parent"] is None)
    # the resume pass is reported on its own above; the LM replay span
    # comes after it
    cut = run.get("resume_from") or len(run["spans"])
    spans = [s for i, s in enumerate(run["spans"]) if i < cut or s["layer"] == "lm"]
    for layer, t in tracing.layer_totals(spans).items():
        for f, v in t.items():
            if f"{layer}.{f}" in out:
                out[f"{layer}.{f}"] = v
    top = sum(s["wall_s"] for s in spans if s["parent"] is None and s["layer"] != "lm")
    out["trace.run_s"] = op["run_s"]
    out["trace.untraced_run_s"] = untraced_run_s
    out["trace.overhead_s"] = op["run_s"] - untraced_run_s if untraced_run_s else 0.0
    out["trace.coverage"] = top / op["run_s"]
    out["process.peak_rss_mb"] = op["peak_rss_mb"]
    return out


def history(workload: str) -> list[float]:
    path = os.path.join(WORK, "history.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["run_s"] for r in rows if r["workload"] == workload and not r["trace"] and r["correct"]]


def run_workload(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cpus = cpu_count()
    host = {"cpus": cpus, "loadavg": os.getloadavg(), "calib_before": calibrate()}
    cpu0 = cpu_times()
    t_stage = time.time()
    staged = {}
    if workload == "corpus_kg":
        staged["pages"] = stage_pages(seed)
    if trace:
        staged["ckpt"] = stage_checkpoint(seed)
    host["stage_s"] = time.time() - t_stage

    rng = random.Random(seed)
    start = time.time()
    hard_deadline = start + PROC_TIMEOUT_S

    def one_op() -> dict:
        if workload == "corpus_kg":
            return op_corpus(cpus, seed, trace, staged, hard_deadline)
        return op_registry(cpus, seed, trace, staged, hard_deadline, rng)

    # base of the tracing overhead: the untraced runs recorded in this
    # checkout (0 = none recorded yet; run with --trace 0 first)
    base = history(workload)
    untraced = statistics.median(base) if base else 0.0
    ops: list[dict] = []
    while True:
        t = time.time()
        ops.append(one_op())
        last = time.time() - t
        if "run_s" not in ops[-1] or time.time() - start + last > seconds:
            break
    host.update({
        "calib_after": calibrate(), "steal_pct": steal_pct(cpu0, cpu_times()),
        "measure_s": time.time() - start,
    })

    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    good = [o for o in ops if "run_s" in o]
    if not good:
        metrics = {}
    elif trace:
        per_op = [layer_metrics(o, untraced) for o in good]
        metrics = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    else:
        metrics = end_to_end(good)
    correct = failed == 0 and bool(good) and len(good) == len(ops)
    units = per_layer_units() if trace else END_TO_END
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    report = {
        "workload": workload, "seed": seed, "trace": trace, "correct": correct,
        "attempted": attempted, "failed": failed, "host": host,
        "run_s_all": [o["run_s"] for o in good],
        "resume_s_all": [o["resume_s"] for o in good if "resume_s" in o],
        "pages_per_s": [o["pages"] / o["run_s"] for o in good if "pages" in o],
        "peak_rss_mb": [o["peak_rss_mb"] for o in good],
        "errors": [o.get("errors") or o.get("error") for o in ops if o["failed"]],
    }
    if good:
        report["run_s"] = metrics.get("run_s", metrics.get("trace.run_s"))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps(report) + "\n")
    if trace and good:
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{workload}-seed{seed}-{int(start)}.json"), "w") as f:
            json.dump({"report": report, "ops": good}, f)
    return {"result": result, "report": report}


def print_report(out: dict, file=sys.stderr) -> None:
    r, rep = out["result"], out["report"]
    p = lambda *a: print(*a, file=file)  # noqa: E731
    h = rep["host"]
    p(f"== {rep['workload']} seed={rep['seed']} trace={rep['trace']}: "
      f"{'PASS' if r['correct'] else 'FAIL'} "
      f"({r['failed']} failed of {r['attempted']} attempted, "
      f"failed_frac={r['failed'] / max(1, r['attempted']):.3f})")
    p(f"   host: cpus={h['cpus']} loadavg={h['loadavg'][0]:.2f} steal={h['steal_pct']:.2f}% "
      f"sha256/s={h['calib_before']:.0f}->{h['calib_after']:.0f} stage_s={h['stage_s']:.2f}")
    n = len(rep["run_s_all"])
    if n and not rep["trace"]:
        p(f"   run_s samples n={n}: median {statistics.median(rep['run_s_all']):.3f} s, "
          f"max {max(rep['run_s_all']):.3f} s (too few samples for a higher percentile)")
    if n:
        p(f"   peak_rss_mb {statistics.median(rep['peak_rss_mb']):.1f} MB "
          "(driver JVM + Python driver + Python workers, each process's peak)")
    if rep["resume_s_all"]:
        p(f"   resume_s {statistics.median(rep['resume_s_all']):.3f} s   "
          f"pages_per_s {statistics.median(rep['pages_per_s']):.1f} 1/s")
    for k, m in r["metrics"].items():
        if rep["trace"] and m["value"] == 0:
            continue
        p(f"   {k:<44} {m['value']:>14.4f} {m['unit']}")
    if rep["trace"] and r["metrics"]:
        m = {k: v["value"] for k, v in r["metrics"].items()}
        cov = m["trace.coverage"]
        p(f"   reconcile: top-level span wall_s sums to {100 * cov:.1f}% of the traced run_s "
          f"({'ok' if 0.9 <= cov <= 1.001 else 'MISMATCH'})")
        if m["trace.untraced_run_s"]:
            p(f"   tracing overhead: traced run_s {m['trace.run_s']:.3f} s - untraced run_s "
              f"{m['trace.untraced_run_s']:.3f} s = {m['trace.overhead_s']:+.3f} s")
        else:
            p("   tracing overhead: no untraced run recorded yet (run with --trace 0 first)")
    for e in rep["errors"]:
        p(f"   error: {str(e)[-800:]}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=60)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "knowledge_harvest_from_lms_spark", "__init__.py")):
        print("perfbench: the knowledge_harvest_from_lms_spark package is not next to "
              "perfbench/; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)

    if args.workload != "all":
        out = run_workload(args.workload, args.seed, args.seconds, args.trace)
        print_report(out)
        print(json.dumps(out["result"]))
        return 0
    verdicts = {}
    for w in WORKLOADS:
        for trace in sorted({0, args.trace}):
            out = run_workload(w, args.seed, args.seconds, trace)
            print_report(out, file=sys.stdout)
            verdicts[f"{w}/trace{trace}"] = out["result"]
    ok = all(v["correct"] for v in verdicts.values())
    print(json.dumps({"correct": ok, "workloads": verdicts}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
