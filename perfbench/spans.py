"""Tracing for the benchmark's traced run, measured from outside the engine.

``Tracer.install`` wraps public names of the engine's modules in in-memory
spans. Spans that can launch Spark work also set a Spark job group, so the
event log ties every job (and its task metrics) to the span that caused it.
Self time is a span's duration minus the time its direct child spans cover.
Nothing is written until the run ends.

``process_tree_hwm_mb`` reads peak resident memory from ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

# (module path, owner attribute or None for a module function, attribute, span
# name, sets a job group, argument whose len() is counted as bytes)
_PROBES = [
    ("es_indexer_spark.query.engine", "IndexSearcher", "__init__", "engine.open", True, None),
    ("es_indexer_spark.query.engine", "IndexSearcher", "analyze_query",
     "analysis.analyze_query", False, None),
    ("es_indexer_spark.query.engine", "IndexSearcher", "term_dictionary",
     "engine.term_dictionary", False, None),
    ("es_indexer_spark.query.engine", "IndexSearcher", "expand_prefix", "engine.expand", False, None),
    ("es_indexer_spark.query.engine", "IndexSearcher", "expand_fuzzy", "engine.expand", False, None),
    ("es_indexer_spark.query.dsl", "DslSearcher", "search", "dsl.search", True, None),
    ("es_indexer_spark.query.dsl", "DslSearcher", "search_df", "dsl.search_df", True, None),
    ("es_indexer_spark.query.scoring", None, "blockmax_topk", "scoring.blockmax_topk", False, None),
    ("es_indexer_spark.query.scoring", None, "exhaustive_topk", "scoring.exhaustive_topk",
     False, None),
    ("es_indexer_spark.query.scoring", None, "phrase_docs", "scoring.phrase_docs", False, None),
    ("es_indexer_spark.query.scoring", "TermView", "decode_all", "scoring.decode_all", False, None),
    ("es_indexer_spark.query.scoring", "TermView", "positions_for", "scoring.positions_for",
     False, None),
    ("es_indexer_spark.codec", None, "varint_decode", "codec.varint_decode", False, 0),
    ("es_indexer_spark.codec", None, "delta_decode_multi", "codec.delta_decode_multi", False, None),
    ("es_indexer_spark.codec", None, "decode_positions", "codec.decode_positions", False, 0),
    ("es_indexer_spark.index.build", None, "build_index", "build", True, None),
    ("es_indexer_spark.streaming.incremental", None, "append_batch", "append", True, None),
    ("es_indexer_spark.streaming.incremental", None, "upsert_docs", "upsert", True, None),
    ("es_indexer_spark.streaming.incremental", None, "delete_where", "delete", True, None),
    ("es_indexer_spark.index.merge", None, "merge_segments", "merge", True, None),
    ("es_indexer_spark.index.merge", None, "force_merge", "merge", True, None),
] + [
    ("es_indexer_spark.query.engine", "IndexSearcher", m, f"engine.{m}", True, None)
    for m in ("search", "count", "phrase_search", "suggest")
] + [
    ("es_indexer_spark.query.engine", "IndexSearcher", m, "engine_df", True, None)
    for m in ("search_df", "count_df", "phrase_search_df", "suggest_df")
]

DF_ROOTS = {"engine_df", "dsl.search_df"}
DRIVER_ROOTS = {"engine.search", "engine.count", "engine.phrase_search", "engine.suggest",
                "dsl.search"}


class Span:
    __slots__ = ("sid", "name", "parent", "t0", "t1", "child_s", "nbytes", "group")

    def __init__(self, sid, name, parent, t0, nbytes, group):
        self.sid, self.name, self.parent, self.t0 = sid, name, parent, t0
        self.t1 = t0
        self.child_s = 0.0
        self.nbytes = nbytes
        self.group = group

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans
    def _enter(self, name: str, group: bool, nbytes: int) -> Span:
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0, nbytes,
                  f"pb{len(self.spans)}" if group else None)
        self.spans.append(sp)
        self.stack.append(sp)
        if group:
            self.sc.setJobGroup(sp.group, name)
        sp.t0 = sp.t1 = time.time()
        return sp

    def _exit(self, sp: Span) -> None:
        sp.t1 = time.time()
        self.stack.pop()
        if self.stack:
            self.stack[-1].child_s += sp.dur
        if sp.group:
            outer = next((s.group for s in reversed(self.stack) if s.group), None)
            if outer:
                self.sc.setJobGroup(outer, self.spans[int(outer[2:])].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str, group: bool, bytes_arg):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            nbytes = 0
            if bytes_arg is not None and len(args) > bytes_arg:
                nbytes = len(args[bytes_arg])
            sp = tracer._enter(name, group, nbytes)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(sp)

        return traced

    def install(self) -> None:
        import importlib

        for modname, owner, attr, name, group, bytes_arg in _PROBES:
            mod = importlib.import_module(modname)
            target = getattr(mod, owner) if owner else mod
            orig = target.__dict__[attr]
            self._saved.append((target, attr, orig))
            setattr(target, attr, self._wrap(orig, name, group, bytes_arg))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._saved):
            setattr(target, attr, orig)
        self._saved.clear()

    def root(self, sp: Span) -> Span:
        while sp.parent is not None:
            sp = self.spans[sp.parent]
        return sp

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.t0 and s.t1 <= t1]


# --------------------------------------------------------------- event log
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per Spark job in the (finished) event log: group, start and
    end (epoch s), stage and task counts, and summed task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(max(files, key=os.path.getmtime)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1e3, "end": None,
                    "stages": set(), "m": defaultdict(float),
                }
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                j = jobs[jid]
                j["stages"].add(ev["Stage ID"])
                m = j["m"]
                m["tasks"] += 1
                m["exec_run_ms"] += tm.get("Executor Run Time", 0)
                m["exec_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                m["gc_ms"] += tm.get("JVM GC Time", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                m["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    out = []
    for jid, j in sorted(jobs.items()):
        j["end"] = j["end"] or j["start"]
        j["n_stages"] = len(j.pop("stages"))
        out.append(j)
    return out


def busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one of ``jobs`` ran."""
    ivs = sorted((max(j["start"], t0), min(j["end"], t1)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ memory
def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def process_tree_hwm_mb(root_pid: int | None = None) -> float:
    """Sum of ``VmHWM`` over this process and all its descendants: the driver
    Python, the JVM it launched and the JVM's Python workers."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _status(int(d)).get("PPid")
            if pp is not None:
                children[int(pp)].append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        hwm = _status(pid).get("VmHWM", "0 kB").split()[0]
        total_kb += int(hwm)
        todo.extend(children.get(pid, []))
    return total_kb / 1024.0
