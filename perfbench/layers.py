"""Per-layer metrics of a traced run, named by the engine module they measure.

Inputs are the tracer's spans and the Spark jobs read from the event log.
A job belongs to the span whose job group it carries; a layer's jobs are the
jobs of every span whose outermost traced ancestor is one of that layer's
public calls, so an ``upsert_docs`` counts the jobs of the ``append_batch`` it
runs inside it.

Driver-side query layers are reported per measured operation (``/op``); Spark
layers per call of the public function, or per run where the name says so.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

import numpy as np

import spans


def _mean(v) -> float:
    return float(np.mean(v)) if len(v) else 0.0


def _median(v) -> float:
    return float(np.median(v)) if len(v) else 0.0


def _checkpoint_phases(index_dir: str) -> dict[str, float]:
    """Build phase walls the build records in its checkpoint JSONs."""
    vdir = os.path.join(index_dir, open(os.path.join(index_dir, "CURRENT")).read().strip())
    ck = os.path.join(vdir, "checkpoints")

    def wall(name, key="wall_s"):
        with open(os.path.join(ck, name)) as fh:
            return float(json.load(fh).get(key, 0.0))

    batches = [f for f in os.listdir(ck) if f.startswith("batch_")]
    return {
        "ordinals_s": wall("doc_stats.json", "ordinals_s"),
        "doc_stats_s": wall("doc_stats.json"),
        "postings_s": sum(wall(f) for f in batches),
        "term_stats_s": wall("term_stats.json"),
    }


def layer_metrics(run, tracer: spans.Tracer, jobs: list[dict], overhead_pct: float) -> dict:
    t0, t1 = run.window
    measured = tracer.between(t0, t1)
    n_ops = max(1, run.ops_measured)
    by_name: dict[str, list[spans.Span]] = defaultdict(list)
    for sp in measured:
        by_name[sp.name].append(sp)

    def per_op_ms(name):
        return sum(s.dur for s in by_name[name]) * 1e3 / n_ops

    def per_op_calls(name):
        return len(by_name[name]) / n_ops

    def per_op_bytes(name):
        return sum(s.nbytes for s in by_name[name]) / n_ops

    def self_ms(name):
        return _mean([s.self_s * 1e3 for s in by_name[name]])

    # jobs grouped by the outermost traced span that launched them
    group_span = {sp.group: sp for sp in tracer.spans if sp.group}
    root_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        sp = group_span.get(j["group"])
        if sp is not None:
            root_jobs[tracer.root(sp).sid].append(j)

    def roots(names, in_window=True):
        pool = measured if in_window else tracer.spans
        return [s for s in pool if s.parent is None and s.name in names]

    def job_sum(rs, key):
        return sum(j["m"][key] for r in rs for j in root_jobs[r.sid])

    def n_jobs(rs):
        return sum(len(root_jobs[r.sid]) for r in rs)

    def driver_s(rs):
        return sum(r.dur - spans.busy_s(root_jobs[r.sid], r.t0, r.t1) for r in rs)

    m: dict[str, tuple[float, str]] = {}
    m["analysis.analyze_query.calls"] = (per_op_calls("analysis.analyze_query"), "count/op")
    m["analysis.analyze_query.ms"] = (per_op_ms("analysis.analyze_query"), "ms/op")
    m["codec.varint_decode.calls"] = (per_op_calls("codec.varint_decode"), "count/op")
    m["codec.varint_decode.ms"] = (per_op_ms("codec.varint_decode"), "ms/op")
    m["codec.varint_decode.bytes"] = (per_op_bytes("codec.varint_decode"), "B/op")
    m["codec.delta_decode_multi.ms"] = (per_op_ms("codec.delta_decode_multi"), "ms/op")
    m["codec.decode_positions.ms"] = (per_op_ms("codec.decode_positions"), "ms/op")
    m["codec.decode_positions.bytes"] = (per_op_bytes("codec.decode_positions"), "B/op")
    for k in ("blockmax_topk", "exhaustive_topk"):
        m[f"scoring.{k}.calls"] = (per_op_calls(f"scoring.{k}"), "count/op")
        m[f"scoring.{k}.ms"] = (per_op_ms(f"scoring.{k}"), "ms/op")
    for k in ("phrase_docs", "decode_all", "positions_for"):
        m[f"scoring.{k}.ms"] = (per_op_ms(f"scoring.{k}"), "ms/op")
    n_bm = len(by_name["scoring.blockmax_topk"])
    n_kern = n_bm + len(by_name["scoring.exhaustive_topk"])
    m["scoring.blockmax_share"] = (n_bm / n_kern if n_kern else 0.0, "ratio")
    for k in ("search", "count", "phrase_search", "suggest"):
        m[f"engine.{k}.self_ms"] = (self_ms(f"engine.{k}"), "ms")
    m["engine.expand.ms"] = (per_op_ms("engine.expand"), "ms/op")
    m["engine.term_dictionary.ms"] = (per_op_ms("engine.term_dictionary"), "ms/op")
    m["engine.jobs"] = (float(n_jobs(roots(spans.DRIVER_ROOTS))), "count")
    opens = roots({"engine.open"})
    m["engine.open.jobs"] = (n_jobs(opens) / max(1, len(opens)), "count/call")
    m["engine.open.ms"] = (_mean([s.dur * 1e3 for s in opens]), "ms")
    m["dsl.search.self_ms"] = (self_ms("dsl.search"), "ms")
    m["dsl.search_df.self_ms"] = (self_ms("dsl.search_df"), "ms")

    df_roots = roots(spans.DF_ROOTS)
    n_df = max(1, len(df_roots))
    stages = sum(j["n_stages"] for r in df_roots for j in root_jobs[r.sid])
    m["engine_df.jobs"] = (n_jobs(df_roots) / n_df, "count/call")
    m["engine_df.stages"] = (stages / n_df, "count/call")
    m["engine_df.tasks"] = (job_sum(df_roots, "tasks") / n_df, "count/call")
    m["engine_df.exec_run_ms"] = (job_sum(df_roots, "exec_run_ms") / n_df, "ms/call")
    m["engine_df.exec_cpu_ms"] = (job_sum(df_roots, "exec_cpu_ms") / n_df, "ms/call")
    m["engine_df.driver_ms"] = (driver_s(df_roots) * 1e3 / n_df, "ms/call")
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"engine_df.{k}"] = (job_sum(df_roots, k) / n_df, "B/call")

    # builds happen in set-up, before the measured window
    builds = roots({"build"}, in_window=False)
    walls = [b.dur for b in builds]
    per_build = [root_jobs[b.sid] for b in builds]
    cpu_s = [sum(j["m"]["exec_cpu_ms"] for j in js) / 1e3 for js in per_build]
    m["build.wall_s"] = (_median(walls), "s")
    m["build.jobs"] = (_median([len(js) for js in per_build]), "count")
    m["build.tasks"] = (_median([sum(j["m"]["tasks"] for j in js) for js in per_build]), "count")
    m["build.exec_cpu_s"] = (_median(cpu_s), "s")
    m["build.cpu_per_wall"] = (_median([c / w for c, w in zip(cpu_s, walls) if w]), "ratio")
    for k, unit in (("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("gc_ms", "ms"),
                    ("bytes_written", "B")):
        m[f"build.{k}"] = (_median([sum(j["m"][k] for j in js) for js in per_build]), unit)
    phases = [_checkpoint_phases(d) for d in run.build_dirs if os.path.exists(d)]
    for k in ("ordinals_s", "doc_stats_s", "postings_s", "term_stats_s"):
        m[f"build.{k}"] = (_median([p[k] for p in phases]), "s")

    written = 0.0
    for kind in ("append", "upsert", "delete"):
        rs = roots({kind}, in_window=False)
        n = max(1, len(rs))
        m[f"{kind}.jobs"] = (n_jobs(rs) / n, "count/call")
        m[f"{kind}.exec_cpu_ms"] = (job_sum(rs, "exec_cpu_ms") / n, "ms/call")
        m[f"{kind}.driver_ms"] = (driver_s(rs) * 1e3 / n, "ms/call")
        m[f"{kind}.shuffle_write_bytes"] = (job_sum(rs, "shuffle_write_bytes") / n, "B/call")
        m[f"{kind}.bytes_written"] = (job_sum(rs, "bytes_written") / n, "B/call")
        written += job_sum(rs, "bytes_written")

    mr = roots({"merge"}, in_window=False)
    m["merge.jobs"] = (float(n_jobs(mr)), "count")
    m["merge.exec_cpu_s"] = (job_sum(mr, "exec_cpu_ms") / 1e3, "s")
    m["merge.bytes_read"] = (job_sum(mr, "input_bytes"), "B")
    m["merge.bytes_written"] = (job_sum(mr, "bytes_written"), "B")
    m["merge.batches_merged"] = (float(run.extra.get("batches_merged", 0)), "count")
    m["merge.docs_expunged"] = (float(run.extra.get("docs_expunged", 0)), "count")
    ingested = getattr(run, "ingested_text_bytes", 0)
    written += job_sum(mr, "bytes_written")
    m["merge.write_amp"] = (written / ingested if ingested else 0.0, "ratio")

    st = run.final_state
    for k in ("postings_bytes", "doc_stats_bytes", "term_stats_bytes"):
        m[f"index.{k}"] = (float(st[k]), "B")
    m["index.segments"] = (float(st["segments"]), "count")
    m["index.tombstones"] = (float(st["tombstones"]), "count")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    m["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    return m
