"""One fresh driver process of the benchmark, the shape of one
``spark-submit``: start a session on ``local[<cpus>]``, open the staged
inputs, run ONE operation of a workload through the library's public
entry points, check its output, and print one JSON line.

    python3 perfbench/driver.py --workload corpus_kg --work perfbench/.work \\
        --seed 1 --t0 <spawn time> --cpus 4 --pages <dir> --run-dir <dir> [--trace 1]

``run.py`` launches it; it is not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORPUS_STAGES = (
    "10_extract", "15_clean", "20_prompt_weights", "30_candidates",
    "40_triples", "50_grounded", "60_edges", "61_vertices", "62_ranks",
)


def canon_value(v):
    """Stable text form of one cell: floats to 9 significant digits
    (the library rounds published sums to 9 places), arrays
    element-wise."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def frame_hash(pdf) -> str:
    """Order-independent hash of a pandas frame (columns sorted by
    name, rows sorted by their canonical text)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.blake2b(digest_size=16)
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest()


def corpus_config(cpus: int):
    from knowledge_harvest_from_lms_spark.config import HarvestConfig

    return HarvestConfig(
        max_n_ent_tuples=20, token_beam_width=8, max_ent_subwords=1,
        shuffle_partitions=cpus, ground_beam_to_corpus="per_relation", lm="stub",
    )


def corpus_checks(pw, triples, edges, vertices, manifests: dict, n_pages: int) -> list[str]:
    """Stage row counts, prompt weights, rank and arity invariants, and
    edge endpoints present among the vertices."""
    from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS

    arity_of = {r["rel"]: len(r["seed_ent_tuples"][0]) for r in FIXTURE_RELATIONS}
    bad = []
    for stage in CORPUS_STAGES:
        if stage not in manifests:
            bad.append(f"manifest missing: {stage}")
    if bad:
        return bad
    rows = {s: manifests[s]["row_count"] for s in CORPUS_STAGES}
    if rows["10_extract"] != n_pages:
        bad.append(f"10_extract rows {rows['10_extract']} != pages {n_pages}")
    for stage in ("15_clean", "40_triples", "60_edges", "61_vertices"):
        if rows[stage] <= 0:
            bad.append(f"{stage} is empty")
    if rows["15_clean"] > rows["10_extract"]:
        bad.append("15_clean kept more rows than it read")
    for stage, got in (("40_triples", len(triples)), ("60_edges", len(edges)),
                       ("61_vertices", len(vertices)), ("62_ranks", len(vertices))):
        if rows[stage] != got:
            bad.append(f"{stage} manifest rows {rows[stage]} != output rows {got}")
    wsum = pw.groupby("rel")["weight"].sum()
    if ((wsum - 1.0).abs() > 1e-6).any():
        bad.append(f"prompt weights do not sum to 1: {wsum.to_dict()}")
    for rel, g in triples.groupby("rel"):
        if sorted(g["rank"]) != list(range(1, len(g) + 1)):
            bad.append(f"{rel}: ranks not contiguous from 1")
        arity = {len(e) for e in g["ents"]}
        if arity != {arity_of[rel]}:
            bad.append(f"{rel}: arity {sorted(arity)} != {arity_of[rel]}")
    ids = set(vertices["ent_id"])
    dangling = (~edges["src_id"].isin(ids)).sum() + (~edges["dst_id"].isin(ids)).sum()
    if dangling:
        bad.append(f"{dangling} edge endpoints missing from the vertices")
    return bad


def run_corpus(spark, args, tracer) -> dict:
    from knowledge_harvest_from_lms_spark.operators.checkpoint import read_manifest
    from knowledge_harvest_from_lms_spark.plans import full_pipeline
    from knowledge_harvest_from_lms_spark.sources.relations import fixture_relations

    cpus = spark.sparkContext.defaultParallelism
    rels = fixture_relations(spark)
    pages = spark.read.parquet(args.pages)
    ready = time.time()
    cfg = corpus_config(cpus)

    def stage_manifests() -> dict:
        # run_full_pipeline keeps each config's stages in one run-* subdir
        dirs = glob.glob(os.path.join(args.run_dir, "run-*"))
        if len(dirs) != 1:
            return {}
        found = {s: read_manifest(dirs[0], s) for s in CORPUS_STAGES}
        return {s: m for s, m in found.items() if m is not None}

    def one_pass():
        t0 = time.time()
        out = full_pipeline.run_full_pipeline(
            spark, rels, pages, args.run_dir, cfg, clean_corpus=True,
        )
        span = tracer.open("collect") if tracer else None
        frames = {k: out[k].toPandas() for k in ("prompt_weights", "triples", "edges", "vertices")}
        if tracer:
            tracer.close(span)
        manifests = stage_manifests()
        bad = corpus_checks(
            frames["prompt_weights"], frames["triples"], frames["edges"],
            frames["vertices"], manifests, args.n_pages,
        )
        return time.time() - t0, frames, manifests, bad

    run_s, frames, manifests, bad = one_pass()
    fps = {k: frame_hash(v) for k, v in frames.items()}
    written = 0
    for d, _, files in os.walk(args.run_dir):
        written += sum(os.path.getsize(os.path.join(d, f)) for f in files)

    # resume: the same job again over the finished run dir must read
    # every stage back (manifests untouched) and return the same outputs
    resume_from = len(tracer.spans) if tracer else 0
    resume_s, frames2, manifests2, bad2 = one_pass()
    bad += [f"resume: {b}" for b in bad2]
    for k, v in frames2.items():
        if frame_hash(v) != fps[k]:
            bad.append(f"resume changed the {k} fingerprint")
    for s in CORPUS_STAGES:
        if s not in manifests2 or manifests2[s]["written_at"] != manifests[s]["written_at"]:
            bad.append(f"resume rewrote stage {s}")
    return {
        "ready": ready, "run_s": run_s, "resume_s": resume_s, "resume_from": resume_from,
        "errors": bad, "attempted": 1, "failed": 1 if bad else 0, "fingerprints": fps,
        "outputs": len(frames["triples"]), "pages": args.n_pages,
        "stage_rows": {s: m["row_count"] for s, m in manifests.items()},
        "bytes_written": written,
    }


def oracle_frame(con, args, name: str, sql: str):
    """DuckDB's answer for one entry. The tables are fixed files, so
    the answer is cached under a key of the SQL text and the table
    bytes: the slowest oracles take over ten seconds."""
    import pandas as pd

    h = hashlib.blake2b(sql.encode(), digest_size=16)
    for f in sorted(os.listdir(args.data)):
        with open(os.path.join(args.data, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    path = os.path.join(args.work, "cache", "oracle", f"{name}-{h.hexdigest()}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    odf = con.execute(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    odf.to_pickle(path)
    return odf


def run_registry(spark, args, tracer) -> dict:
    from knowledge_harvest_from_lms_spark.plans.oracle_check import compare_frames, duckdb_connection
    from knowledge_harvest_from_lms_spark.plans.queries import ORACLES, QUERIES
    from knowledge_harvest_from_lms_spark.sources.tables import load_tables

    load_tables(spark, args.data)
    ready = time.time()
    order = args.entries.split(",")

    t0 = time.time()
    frames = {}
    for name in order:
        span = tracer.open("queries", name) if tracer else None
        frames[name] = QUERIES[name](spark, args.data).toPandas()
        if tracer:
            tracer.close(span)
    hashes = {name: frame_hash(pdf) for name, pdf in frames.items()}
    run_s = time.time() - t0

    # oracle check, outside the timed region: the same Spark-vs-DuckDB
    # comparison as oracle_check.check_query, over the frames the timed
    # run produced (so the checked result is the measured one)
    expect = {}
    if os.path.exists(args.expect):
        with open(args.expect) as f:
            expect = json.load(f)
    con = duckdb_connection(args.data)
    errors = {}
    for name, pdf in frames.items():
        issues = compare_frames(pdf, oracle_frame(con, args, name, ORACLES[name]))
        if name in expect and expect[name] != hashes[name]:
            issues.append("result hash differs from the oracle-checked hash of an earlier run")
        if issues:
            errors[name] = issues
    con.close()
    return {
        "ready": ready, "run_s": run_s, "errors": errors, "attempted": len(order),
        "failed": len(errors), "fingerprints": hashes,
        "outputs": int(sum(len(f) for f in frames.values())),
    }


def lm_replay(args, tracer) -> dict:
    """Replay a seeded job list through the synthetic checkpoint's
    ``mask_logits_batch`` and ``pll_mask_logprobs_batch``."""
    import random

    from knowledge_harvest_from_lms_spark.functions.textops import get_n_ents
    from knowledge_harvest_from_lms_spark.lm import resolve_lm
    from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS

    lm = resolve_lm(f"numpy:{args.ckpt}")
    with open(os.path.join(args.ckpt, "vocab.txt")) as f:
        words = [w for w in f.read().split() if w.isalpha()]
    rng = random.Random(args.seed)
    prompts = [p for r in FIXTURE_RELATIONS for p in r["init_prompts"] + r["prompts"]]
    texts, pairs = [], []
    for _ in range(512):
        p = rng.choice(prompts)
        n = get_n_ents(p)
        masked = rng.randrange(n)
        t = p
        for i in range(n):
            fill = lm.masked_run(rng.randint(1, 2)) if i == masked else rng.choice(words)
            t = t.replace(f"<ENT{i}>", fill)
        texts.append(t)
        pairs.append((p, [rng.choice(words) for _ in range(n)]))
    span = tracer.open("lm")
    t0 = time.time()
    lm.mask_logits_batch(texts)
    t1 = time.time()
    lm.pll_mask_logprobs_batch(pairs)
    t2 = time.time()
    tracer.close(span)
    return {"lm.mask_logits_per_s": len(texts) / (t1 - t0), "lm.pll_per_s": len(pairs) / (t2 - t1)}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["corpus_kg", "registry_neardup"])
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--t0", type=float, required=True, help="spawn time (epoch s)")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--pages", help="staged web_pages dir (corpus_kg)")
    p.add_argument("--n-pages", type=int, default=0)
    p.add_argument("--run-dir", help="pipeline run dir (corpus_kg)")
    p.add_argument("--data", help="registry table dir (registry_neardup)")
    p.add_argument("--entries", help="comma-separated registry entries, in run order")
    p.add_argument("--ckpt", help="synthetic checkpoint dir (traced runs)")
    p.add_argument("--expect", default="", help="JSON of oracle-checked registry hashes")
    args = p.parse_args()

    from knowledge_harvest_from_lms_spark.session import get_session

    tmp = os.path.join(args.work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    log_dir = None
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog", f"{os.getpid()}")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_session(
        cpus=args.cpus, shuffle_partitions=args.cpus, app_name="perfbench", extra_conf=conf,
    )
    tracer = originals = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark.sparkContext)
        originals = tracing.install(tracer)
    if args.workload == "corpus_kg":
        res = run_corpus(spark, args, tracer)
    else:
        res = run_registry(spark, args, tracer)
    res["setup_s"] = res.pop("ready") - args.t0
    if tracer:
        tracing.uninstall(originals)
        res["counts"] = dict(tracer.counts)
        res["counts"].update(lm_replay(args, tracer))
        spark.stop()  # closes the event log
        res["spans"] = tracing.span_table(tracer.spans, tracing.parse_event_log(log_dir))
        shutil.rmtree(log_dir)
    print(json.dumps(res), flush=True)
    # every output is written and checked: skip the session and
    # interpreter teardown; the runner ends the JVM and its workers with
    # the process group and clears their temp dirs
    os._exit(0)


if __name__ == "__main__":
    main()
