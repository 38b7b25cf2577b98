"""The benchmark's closed-loop, single-client workloads.

Both workloads run the same three phases on an index of their own:

1. set-up: build the index ``SETUP_REPEATS`` times from the same input;
2. query phase: ``--seconds`` of queries, each sent after the previous reply;
3. churn phase: one append, one upsert and one delete, then merges ending
   with an expunging force merge, with a newly opened searcher after every
   change.

They differ in where queries run. ``search_driver`` uses the driver path
(``search``, ``count``, ``phrase_search``, ``suggest``, ``DslSearcher.search``)
and its query phase launches no Spark job; ``search_distributed`` sends the
same shapes through the ``*_df`` methods. Distributed queries cost about a
second each, so to fit the run-time budget the distributed churn phase skips
the tiered merge and queries only after the append, the upsert and the force
merge. Answers are kept and checked against
the DuckDB reference after the timed regions. Engine calls go through the
public API only.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import spans
from reference import Reference, topk_matches

T0 = time.perf_counter()
K = 10
N_BUCKETS = 8
SETUP_REPEATS = 3

# op-type schedules: fixed interleavings keep the per-type sample counts of a
# run independent of the seed; the operations themselves are seeded
DRIVER_CYCLE = ["search", "count", "search", "dsl", "phrase", "search", "suggest", "count",
                "search", "dsl", "search", "phrase", "search", "count", "search", "dsl",
                "search", "suggest", "count", "dsl"]
DISTRIBUTED_CYCLE = ["search", "count", "dsl", "phrase", "suggest", "search"]
# queries a newly opened searcher answers after each change, after its first
# (cold) search, on the driver path
CHURN_QUERIES = ["search", "phrase", "count", "suggest", "dsl"]
COLD_EVERY = 12  # query-phase operations between newly opened searchers
# query-phase operations replayed to measure the tracing overhead
REPLAY_OPS = {False: 40, True: 3}

# sizes: conversations (2-14 turns each), vocabulary words and the churn
# round's batches; "tiny" is the self-test's scale
SIZES = {
    "full": {
        "search_driver": {"convs": 1500, "vocab": 20000, "append_convs": 60,
                          "upsert_turns": 100, "delete_convs": 3},
        "search_distributed": {"convs": 2000, "vocab": 20000, "append_convs": 60,
                               "upsert_turns": 100, "delete_convs": 3},
    },
    "tiny": {
        "search_driver": {"convs": 40, "vocab": 600, "append_convs": 5,
                          "upsert_turns": 8, "delete_convs": 2},
        "search_distributed": {"convs": 40, "vocab": 600, "append_convs": 5,
                               "upsert_turns": 8, "delete_convs": 2},
    },
}
# percentile of the top-k query latencies reported as search_tail_ms: the
# highest with at least ten samples beyond it in a full-scale run
TAIL_PCT = {"search_driver": 95, "search_distributed": 50}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def dsl_body(q: dict) -> dict:
    b = {"must": [{"match": {"text": " ".join(q["must"])}}],
         "filter": [{"terms": {"role": q["roles"]}}],
         "must_not": [{"term": {"tool": q["not_tool"]}}]}
    if q["should"]:
        b["should"] = [{"match": {"text": " ".join(q["should"])}}]
    return {"query": {"bool": b}, "size": K}


def run_query(s, q: dict, distributed: bool):
    """One operation through the public API; returns a hit frame or a count."""
    from es_indexer_spark.query.dsl import DslSearcher

    op = q["op"]
    if op == "dsl":
        d = DslSearcher(s)
        return d.search_df(dsl_body(q)).toPandas() if distributed else d.search(dsl_body(q))
    text = " ".join(q["terms"])
    if op == "count":
        return s.count_df(text, q["mode"]) if distributed else s.count(text, q["mode"])
    if op == "phrase":
        return s.phrase_search_df(text, K).toPandas() if distributed else s.phrase_search(text, K)
    if op == "suggest":
        return s.suggest_df(text, K).toPandas() if distributed else s.suggest(text, K)
    kw = {"mode": q["mode"], "role_boosts": q.get("role_boosts"),
          "tool_boosts": q.get("tool_boosts"), "term_boosts": q.get("term_boosts")}
    return s.search_df(text, K, **kw).toPandas() if distributed else s.search(text, K, **kw)


def reference_query(q: dict, ref: Reference) -> dict:
    op = q["op"]
    if op == "phrase":
        return {"terms": list(dict.fromkeys(q["terms"])), "mode": "and", "phrase": True,
                "terms_in_order": q["terms"]}
    if op == "suggest":
        return {"terms": ref.suggest_terms(*q["terms"]), "mode": "or"}
    if op == "dsl":
        return {"terms": q["must"], "should": q["should"], "mode": "or",
                "roles": q["roles"], "not_tool": q["not_tool"]}
    return {k: v for k, v in q.items() if k != "op"}


def check_answers(ref: Reference, records: list[tuple[dict, object]]) -> int:
    """Number of recorded (operation, answer) pairs that disagree with the
    reference. An answer of ``None`` (the call raised) always disagrees."""
    bad = sum(1 for _, got in records if got is None)
    scored = [(q, got) for q, got in records if got is not None and q["op"] != "count"]
    counted = [(q, got) for q, got in records if got is not None and q["op"] == "count"]
    want = ref.topk([reference_query(q, ref) for q, _ in scored], K)
    for (q, got), w in zip(scored, want):
        bad += not topk_matches(got[["doc_id", "score"]], w, K)
    want_n = ref.counts([reference_query(q, ref) for q, _ in counted])
    bad += sum(int(got) != n for (_, got), n in zip(counted, want_n))
    return bad


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(dp, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def index_state(index_dir: str, searcher) -> dict:
    """On-disk bytes of each index subdirectory of the searcher's version,
    its segment (batch directory) count and its tombstone count."""
    vdir = searcher.vdir
    out = defaultdict(int)
    for d in os.listdir(vdir):
        p = os.path.join(vdir, d)
        if os.path.isdir(p):
            key = "term_stats" if d.startswith("term_stats") else d
            out[key] += dir_bytes(p)
    segs = [d for d in os.listdir(os.path.join(vdir, "postings")) if d.startswith("batch=")]
    return {"postings_bytes": out["postings"], "doc_stats_bytes": out["doc_stats"],
            "term_stats_bytes": out["term_stats"], "total_bytes": dir_bytes(index_dir),
            "segments": len(segs), "tombstones": int(len(searcher.tombstones))}


# the transcript table's schema (an all-null ``tool`` column must stay a string)
PARQUET_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 4) -> str:
    """The input table as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        if len(part):
            tbl = pa.Table.from_pandas(pdf.iloc[part], schema=PARQUET_SCHEMA,
                                       preserve_index=False)
            pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def text_bytes(texts) -> int:
    return int(sum(len(t.encode("utf-8")) for t in texts))


class Run:
    """State and samples of one benchmark run."""

    def __init__(self, spark, work: str, workload: str, seed: int, seconds: float,
                 scale: str):
        self.spark, self.work, self.workload = spark, work, workload
        self.seed, self.seconds = seed, seconds
        self.size = SIZES[scale][workload]
        self.vocab = gen.vocabulary(seed, self.size["vocab"])
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.cold: list[float] = []
        self.ingest_lat: dict[str, list[float]] = defaultdict(list)
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.build_dirs: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.ops_measured = 0
        self.window = (0.0, 0.0)
        self.extra: dict = {}
        self.rss_mb = 0.0

    # ------------------------------------------------------------ set-up
    def setup(self, corpus: pd.DataFrame, first_query: dict):
        """Build the index ``SETUP_REPEATS`` times from the same input, each
        time opening a searcher and answering one query; returns the last."""
        from es_indexer_spark.index.build import build_index
        from es_indexer_spark.query.engine import IndexSearcher

        src = write_parquet(corpus, os.path.join(self.work, "corpus"))
        s = None
        for i in range(SETUP_REPEATS):
            idx = os.path.join(self.work, f"index{i}")
            t0 = time.perf_counter()
            build_index(self.spark, self.spark.read.parquet(src), idx,
                        n_buckets=N_BUCKETS, with_positions=True)
            t1 = time.perf_counter()
            s = IndexSearcher(self.spark, idx)
            run_query(s, first_query, distributed=False)
            self.setup_s.append(time.perf_counter() - t0)
            self.build_s.append(t1 - t0)
            self.build_dirs.append(idx)
            log(f"set-up {i}: build {t1 - t0:.2f} s, set-up {self.setup_s[-1]:.2f} s")
        self.turns = len(corpus)
        self.index_dir = self.build_dirs[-1]
        return s

    def timed(self, s, q: dict, distributed: bool, into: list[float] | None = None):
        """Run one operation; record its latency (unless it raised) and its answer."""
        t0 = time.perf_counter()
        try:
            got = run_query(s, q, distributed)
        except Exception as e:  # a failed operation counts against error_rate
            print(f"perfbench: {q['op']} failed: {e!r}", flush=True, file=sys.stderr)
            return None
        (self.lat[q["op"]] if into is None else into).append(time.perf_counter() - t0)
        return got

    def sample_rss(self) -> None:
        self.rss_mb = max(self.rss_mb, spans.process_tree_hwm_mb())


# ------------------------------------------------------------- workload
def run_workload(run: Run, distributed: bool) -> None:
    """Set-up, then the query phase (``run.seconds`` of closed-loop queries on
    the fresh index), then the churn phase (one append / upsert / delete
    round, a tiered merge and an expunging force merge, with a newly opened
    searcher after every change), then the correctness gate."""
    corpus = gen.corpus(run.seed, run.vocab, run.size["convs"])
    stream = gen.QueryStream(run.seed, run.vocab, corpus["text"].to_numpy())
    s = run.setup(corpus, stream.next("search"))
    docs = model_docs(corpus)
    states = [(docs, query_phase(run, s, stream, distributed))]
    states += churn_phase(run, corpus, docs, stream, distributed)
    run.sample_rss()
    run.extra["repeated_term_share"] = round(stream.repeated_share(), 4)

    ref = Reference()
    for state_docs, records in states:
        ref.load(state_docs)
        run.failed += check_answers(ref, records)
        run.attempted += len(records)
        if "distinct_terms" not in run.extra:
            run.extra["distinct_terms"] = ref.distinct_terms()
    ref.close()
    log("answers checked")


def query_phase(run: Run, s, stream: gen.QueryStream, distributed: bool) -> list:
    from es_indexer_spark.query.engine import IndexSearcher

    cycle = DISTRIBUTED_CYCLE if distributed else DRIVER_CYCLE
    if distributed:  # untimed: the distributed path's first query packs norms
        run_query(s, stream.next("search"), True)
    records: list[tuple[dict, object]] = []
    t_start = time.perf_counter()
    run.window = (time.time(), None)
    i = 0
    # at least one whole cycle, so every operation type has a sample
    while i < len(cycle) or time.perf_counter() - t_start < run.seconds:
        if i and i % COLD_EVERY == 0:
            # a newly opened searcher's first query; the driver workload keeps
            # its warm searcher, the distributed one moves to the new searcher
            q = stream.next("search")
            fresh = IndexSearcher(run.spark, run.index_dir)
            records.append((q, run.timed(fresh, q, distributed, run.cold)))
            if distributed:
                s = fresh
        q = stream.next(cycle[i % len(cycle)])
        records.append((q, run.timed(s, q, distributed)))
        i += 1
    run.window = (run.window[0], time.time())
    run.ops_measured = len(records)
    run.sample_rss()
    run.replay = [q for q, _ in records[:REPLAY_OPS[distributed]]]
    log(f"query phase: {len(records)} operations")
    return records


def model_docs(corpus: pd.DataFrame, start_ord: int = 0, batch: int = 0) -> pd.DataFrame:
    """The reference's document model for a batch of turns the engine indexes
    in one build or append: ordinals follow (conv_id, turn_idx) order."""
    d = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pd.DataFrame({
        "doc_ord": np.arange(start_ord, start_ord + len(d), dtype=np.int64),
        "doc_id": d["conv_id"] + ":" + d["turn_idx"].astype(str),
        "conv_id": d["conv_id"], "turn_idx": d["turn_idx"],
        "role": d["role"], "tool": d["tool"], "text": d["text"],
        "live": True, "batch": batch,
    })


def churn_phase(run: Run, corpus: pd.DataFrame, docs: pd.DataFrame,
                stream: gen.QueryStream, distributed: bool) -> list:
    from pyspark.sql import functions as F

    from es_indexer_spark.index.merge import force_merge, merge_segments
    from es_indexer_spark.query.engine import IndexSearcher
    from es_indexer_spark.streaming.incremental import append_batch, delete_where, upsert_docs

    size, spark, idx = run.size, run.spark, run.index_dir
    rng = np.random.default_rng([run.seed, 4])
    # the round's batches: new conversations to append, rewritten turns of
    # conversations never deleted to upsert, whole conversations to delete
    conv_nums = corpus["conv_id"].str[1:].astype(int).to_numpy()
    app = gen.corpus(run.seed, run.vocab, size["append_convs"],
                     conv_start=size["convs"], stream=10)
    rows = corpus.loc[rng.choice(np.flatnonzero(conv_nums % 3 == 0), size["upsert_turns"],
                                 replace=False)]
    ups = gen.rewrite_texts(run.seed, run.vocab, rows, 0).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    dels = rng.choice(np.unique(corpus["conv_id"].to_numpy()[conv_nums % 3 == 1]),
                      size["delete_convs"], replace=False).tolist()
    app_path = write_parquet(app, os.path.join(run.work, "append"), 1)
    ups_path = write_parquet(ups, os.path.join(run.work, "upsert"), 1)
    states: list[tuple[pd.DataFrame, list]] = []
    ingested = 0

    def after_change(new_docs: pd.DataFrame | None = None, query: bool = True) -> None:
        """Fresh searcher: checks of the live count and of sampled new
        documents; with ``query``, its first search (cold) and, on the driver
        path, a few more queries."""
        s = IndexSearcher(spark, idx)
        run.attempted += 1
        run.failed += (s.n_docs - len(s.tombstones)) != int(docs["live"].sum())
        if new_docs is not None:
            for j in rng.choice(len(new_docs), size=min(3, len(new_docs)), replace=False):
                row = new_docs.iloc[int(j)]
                got = s.get(f"{row['conv_id']}:{row['turn_idx']}")
                run.attempted += 1
                run.failed += not (len(got) == 1 and got["text"].iloc[0] == row["text"])
        run.final_state = index_state(idx, s)
        if not query:
            return
        q = stream.next("search")
        records = [(q, run.timed(s, q, distributed, run.cold))]
        for op in ([] if distributed else CHURN_QUERIES):
            q = stream.next(op)
            records.append((q, run.timed(s, q, distributed, [])))  # answers only
        states.append((docs.copy(), records))

    def ingest(kind: str, fn):
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation counts against error_rate
            print(f"perfbench: {kind} failed: {e!r}", file=sys.stderr, flush=True)
            run.failed += 1
            return None
        run.ingest_lat[kind].append(time.perf_counter() - t0)
        return out

    def next_ord() -> int:
        return int(docs["doc_ord"].max()) + 1

    t0 = time.perf_counter()
    n0 = next_ord()
    out = ingest("append", lambda: append_batch(spark, spark.read.parquet(app_path), idx))
    if out is not None:
        docs = pd.concat([docs, model_docs(app, n0, out["batch"])], ignore_index=True)
        ingested += text_bytes(app["text"])
    after_change(app)

    n0 = next_ord()
    out = ingest("upsert", lambda: upsert_docs(spark, spark.read.parquet(ups_path), idx))
    if out is not None:
        keys = set(zip(ups["conv_id"], ups["turn_idx"]))
        docs.loc[[k in keys for k in zip(docs["conv_id"], docs["turn_idx"])], "live"] = False
        docs = pd.concat([docs, model_docs(ups, n0, out["batch"])], ignore_index=True)
        ingested += text_bytes(ups["text"])
    after_change(ups)

    if ingest("delete", lambda: delete_where(spark, idx, F.col("conv_id").isin(dels))) is not None:
        docs.loc[docs["conv_id"].isin(dels), "live"] = False
    after_change(query=not distributed)

    merges = [lambda: force_merge(spark, idx, max_segments=1, expunge=True)]
    if not distributed:
        merges.insert(0, lambda: merge_segments(spark, idx, merge_factor=2))
    for fn in merges:
        out = ingest("merge", fn)
        if out is not None:
            for g in out["groups"]:
                inside = docs["batch"].isin(g["victims"])
                docs = docs[~(inside & ~docs["live"])].copy()
                docs.loc[docs["batch"].isin(g["victims"]), "batch"] = g["new_bid"]
            run.extra["batches_merged"] = run.extra.get("batches_merged", 0) + out["batches_merged"]
            run.extra["docs_expunged"] = run.extra.get("docs_expunged", 0) + out["docs_expunged"]
        after_change()
    run.ingested_text_bytes = ingested
    run.live_text_bytes = text_bytes(docs.loc[docs["live"], "text"])
    log(f"churn phase: {time.perf_counter() - t0:.2f} s")
    return states


# --------------------------------------------------------------- metrics
def pct(v: list[float], q: float) -> float:
    return float(np.percentile(v, q)) if v else float("nan")


def end_to_end(run: Run) -> dict[str, tuple[float, str]]:
    ms = 1e3
    ing = run.ingest_lat
    topk = [x for op in ("search", "phrase", "suggest", "dsl") for x in run.lat[op]]
    return {
        "setup_s": (float(np.median(run.setup_s)), "s"),
        "search_p50_ms": (pct(run.lat["search"], 50) * ms, "ms"),
        "search_tail_ms": (pct(topk, TAIL_PCT[run.workload]) * ms, "ms"),
        "phrase_p50_ms": (pct(run.lat["phrase"], 50) * ms, "ms"),
        "count_p50_ms": (pct(run.lat["count"], 50) * ms, "ms"),
        "suggest_p50_ms": (pct(run.lat["suggest"], 50) * ms, "ms"),
        "dsl_p50_ms": (pct(run.lat["dsl"], 50) * ms, "ms"),
        "cold_query_ms": (pct(run.cold, 50) * ms, "ms"),
        "build_turns_per_s": (run.turns / float(np.median(run.build_s)), "1/s"),
        "append_p50_s": (pct(ing["append"], 50), "s"),
        "upsert_p50_s": (pct(ing["upsert"], 50), "s"),
        "merge_s": (pct(ing["merge"], 50), "s"),
        "index_bytes_per_text_byte": (run.final_state["total_bytes"] / run.live_text_bytes,
                                      "ratio"),
        "peak_rss_mb": (run.rss_mb, "MB"),
    }
