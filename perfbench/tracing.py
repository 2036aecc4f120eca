"""In-memory spans around the library's public entry points, and the
Spark event-log parser that fills each span with job, task, shuffle and
spill numbers.

A span is opened by a wrapper installed over a library function (the
library itself is not edited). The wrapper labels the Spark jobs it
triggers with ``setJobGroup(<span id>)``; after the session stops, the
uncompressed event log is parsed and every job is charged to the span
whose group it carried. A wrapped function that returns a DataFrame has
the result persisted and counted inside its span, so the work a lazy
plan would otherwise defer to the next stage lands in the layer that
defined it. That forced materialization is part of the tracing
overhead the runner reports.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

# every span records these; the layer aggregate sums them over spans
SPAN_FIELDS = ("wall_s", "self_s", "jobs", "task_s", "driver_gap_s", "shuffle_mb", "spill_mb")


class Tracer:
    """Span stack for one driver process (single client thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = {}

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def open(self, layer: str, key: str = "") -> dict:
        span = {
            "id": f"s{len(self.spans)}",
            "layer": layer,
            "key": key,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self.stack.pop()
        self._set_group(self.stack[-1]["id"] if self.stack else None)

    @contextlib.contextmanager
    def untracked(self):
        """The tracer's own counting jobs carry the ``_trace`` group, so
        no layer is charged for them."""
        self._set_group("_trace")
        try:
            yield
        finally:
            self._set_group(self.stack[-1]["id"] if self.stack else None)

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def in_layer(self, layer: str) -> bool:
        return any(s["layer"] == layer for s in self.stack)


def _materialize(result):
    """Persist + count a DataFrame (or each DataFrame of a dict) so its
    work runs inside the current span. Returns (result, row count of a
    DataFrame result, else None)."""
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        result = result.persist()
        return result, result.count()
    if isinstance(result, dict):
        for k, v in list(result.items()):
            if isinstance(v, DataFrame):
                result[k], _ = _materialize(v)
    return result, None


def wrap(tracer: Tracer, layer: str, fn, key_arg: int | None = None, on_result=None,
         materialize: bool = True):
    """``fn`` inside a span of ``layer``; ``key_arg`` names the
    positional argument that keys the span (a stage name)."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        key = str(args[key_arg]) if key_arg is not None and len(args) > key_arg else ""
        span = tracer.open(layer, key)
        try:
            result, rows = fn(*args, **kwargs), None
            if materialize:
                result, rows = _materialize(result)
        finally:
            tracer.close(span)
        if on_result is not None:
            with tracer.untracked():
                on_result(tracer, args, result, rows)
        return result

    return traced


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the library entry points; returns the patch list so
    ``uninstall`` can restore them."""
    from knowledge_harvest_from_lms_spark.operators import beam_search, corpus_grounding, graph
    from knowledge_harvest_from_lms_spark.operators import quality_filter
    from knowledge_harvest_from_lms_spark.plans import full_pipeline as fp

    def count_raw(t, args, result, rows):
        t.add("beam_search.raw_candidates", rows or 0)

    def count_kept(prefix):
        def cb(t, args, result, rows):
            t.add(f"{prefix}.rows_in", args[0].count())
            t.add(f"{prefix}.rows_out", rows or 0)
        return cb

    def count_pairs(t, args, result, rows):
        cand, pw = args[0], args[1]
        n_cand = {r["rel"]: r["count"] for r in cand.groupBy("rel").count().collect()}
        n_pw = {r["rel"]: r["count"] for r in pw.groupBy("rel").count().collect()}
        t.add("rescoring.pairs_scored", sum(c * n_pw.get(rel, 0) for rel, c in n_cand.items()))

    def count_lsh(t, args, result, rows):
        t.add("graph.lsh_pairs", rows or 0)

    def count_edges(t, args, result, rows):
        t.add("graph.edges", result["edges"].count())

    greedy = beam_search.finalize_candidates_greedy

    @functools.wraps(greedy)
    def counted_greedy(*args, **kwargs):
        if tracer.in_layer("beam_search") and not tracer.in_layer("finalize"):
            tracer.add("beam_search.threshold_calls", 1)
        return greedy(*args, **kwargs)

    patches = [
        # a stage is already written and counted by run_stage itself
        (fp, "run_stage", wrap(tracer, "checkpoint", fp.run_stage, key_arg=2, materialize=False)),
        (fp, "extract_text", wrap(tracer, "extract_text", fp.extract_text)),
        (quality_filter, "gopher_quality_filter",
         wrap(tracer, "quality_filter", quality_filter.gopher_quality_filter,
              on_result=count_kept("quality_filter"))),
        (fp, "compute_prompt_weights", wrap(tracer, "prompt_weights", fp.compute_prompt_weights)),
        (fp, "search_ent_tuples",
         wrap(tracer, "beam_search", fp.search_ent_tuples, on_result=count_raw)),
        (beam_search, "finalize_candidates_greedy", counted_greedy),
        (fp, "finalize_candidates",
         wrap(tracer, "finalize", fp.finalize_candidates, on_result=count_kept("finalize"))),
        (fp, "rescore_and_rank",
         wrap(tracer, "rescoring", fp.rescore_and_rank, on_result=count_pairs)),
        (corpus_grounding, "corpus_token_ids_per_relation",
         wrap(tracer, "corpus_grounding", corpus_grounding.corpus_token_ids_per_relation)),
        (fp, "ground_triples", wrap(tracer, "corpus_grounding", fp.ground_triples)),
        (fp, "pagerank", wrap(tracer, "graph", fp.pagerank)),
        (graph, "lsh_candidate_pairs",
         wrap(tracer, "graph", graph.lsh_candidate_pairs, on_result=count_lsh)),
    ]
    traced_graph = wrap(tracer, "graph", graph.materialize_graph, on_result=count_edges)
    patches += [(fp, "materialize_graph", traced_graph), (graph, "materialize_graph", traced_graph)]
    originals = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    for mod, name, new in patches:
        setattr(mod, name, new)
    return originals


def uninstall(originals) -> None:
    for mod, name, fn in originals:
        setattr(mod, name, fn)


# -- event log -------------------------------------------------------------


def _merged_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, their [submit, complete] intervals (s),
    executor run time, shuffle bytes written and disk spill."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")

    def events():
        for path in paths:
            with open(path) as f:
                for line in f:
                    yield json.loads(line)

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for ev in events():
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {
                "group": group, "start": ev["Submission Time"] / 1000.0, "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict[str, dict] = {}

    def slot(group):
        return out.setdefault(group, {
            "jobs": 0, "intervals": [], "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
        })

    for j in jobs.values():
        g = slot(j["group"])
        g["jobs"] += 1
        if j["end"] is not None:
            g["intervals"].append((j["start"], j["end"]))
    for sid, m in tasks:
        job = jobs.get(stage_job.get(sid))
        g = slot(job["group"] if job else None)
        g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return out


def span_table(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Fill every span with SPAN_FIELDS: wall and self time from the
    span clock, the rest from the jobs that carried its group."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    rows = []
    for s in spans:
        wall = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_s = max(0.0, wall - _merged_length(kids))
        g = groups.get(s["id"], {})
        own = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in g.get("intervals", []) if b > s["start"] and a < s["end"]
        ]
        rows.append({
            "id": s["id"], "layer": s["layer"], "key": s["key"], "parent": s["parent"],
            "wall_s": wall, "self_s": self_s, "jobs": g.get("jobs", 0),
            "task_s": g.get("task_s", 0.0),
            "driver_gap_s": max(0.0, self_s - _merged_length(own)),
            "shuffle_mb": g.get("shuffle_mb", 0.0), "spill_mb": g.get("spill_mb", 0.0),
        })
    return rows


def layer_totals(rows: list[dict]) -> dict[str, dict]:
    """Sum SPAN_FIELDS per layer. ``wall_s`` sums only the outermost
    span of each nesting chain within a layer, so a layer nested in
    itself (graph inside graph) is not counted twice."""
    by_id = {r["id"]: r for r in rows}
    out: dict[str, dict] = {}
    for r in rows:
        t = out.setdefault(r["layer"], {f: 0.0 for f in SPAN_FIELDS})
        p, nested = r["parent"], False
        while p is not None:
            if by_id[p]["layer"] == r["layer"]:
                nested = True
                break
            p = by_id[p]["parent"]
        for f in SPAN_FIELDS:
            if f == "wall_s" and nested:
                continue
            t[f] += r[f]
    return out
