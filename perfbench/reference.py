"""Independent BM25 reference: DuckDB SQL over the benchmark's own model of
the index's documents.

The model is a table of every document the index physically holds, with a
``live`` flag. Statistics (N, avgdl, df) count every physical document, the
way the engine (and Lucene) counts deleted documents until a merge expunges
them; results only ever contain live documents. Scores use the SQL mirror
already used by the repository's correctness entries:

    idf = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn = tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

Every answer is computed outside the timed region, in one batched statement
per operation kind.
"""

from __future__ import annotations

import tempfile

import duckdb
import numpy as np
import pandas as pd

TOKENS = r"regexp_extract_all(lower(text), '[\p{L}\p{N}]+')"
SCORE_ATOL = 1e-9  # the tolerance tests/test_merge.py uses for float64 scores


def auto_fuzziness(term: str) -> int:
    """Edit distance of ES ``fuzziness: AUTO``."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


class Reference:
    def __init__(self, threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"set threads = {int(threads)}")
        self.con.execute(f"set temp_directory = '{tempfile.gettempdir()}'")
        self.con.execute("create table tok_all (doc_ord bigint, term varchar, pos bigint)")
        self.con.execute("create table dl_all (doc_ord bigint, dl double)")
        self._tokenized: set[int] = set()

    def close(self) -> None:
        self.con.close()

    def load(self, docs: pd.DataFrame) -> None:
        """Make ``docs`` the index state to answer for: one row per physical
        document with ``doc_ord``, ``doc_id``, ``role``, ``tool``, ``text`` and
        ``live``. Texts are tokenized once per ``doc_ord`` across states."""
        c = self.con
        fresh = docs[~docs["doc_ord"].isin(self._tokenized)]
        if len(fresh):
            c.register("fresh_in", fresh[["doc_ord", "text"]])
            c.execute(f"""
                insert into tok_all
                select doc_ord, unnest(t), generate_subscripts(t, 1)
                from (select doc_ord, {TOKENS} as t from fresh_in)""")
            c.execute(f"insert into dl_all select doc_ord, len({TOKENS})::double from fresh_in")
            c.unregister("fresh_in")
            self._tokenized.update(fresh["doc_ord"].tolist())
        c.register("docs_in", docs[["doc_ord", "doc_id", "role", "tool", "live"]])
        c.execute("create or replace table docs as select * from docs_in")
        c.unregister("docs_in")
        c.execute("""
            create or replace table tok as
            select t.* from tok_all t semi join docs d on d.doc_ord = t.doc_ord""")
        c.execute("""
            create or replace table tf as
            select doc_ord, term, count(*)::double as tf from tok group by all""")
        c.execute("""
            create or replace table dl as
            select l.* from dl_all l semi join docs d on d.doc_ord = l.doc_ord""")
        c.execute("""
            create or replace table dict as
            select term, count(*) as df from tf group by term""")
        c.execute("""
            create or replace table st as
            select count(*)::double as n, sum(dl)::double / count(*)::double as avgdl
            from dl""")

    def distinct_terms(self) -> int:
        return int(self.con.execute("select count(*) from dict").fetchone()[0])

    # ---------------------------------------------------------- expansion
    def suggest_terms(self, word: str, prefix: str, max_expansions: int = 50) -> list[str]:
        """Terms ``suggest("word prefix")`` ORs together: fuzzy expansions of
        the first token, then prefix expansions of the last (or the prefix
        itself when nothing matches); highest df first, ties by term."""
        d = auto_fuzziness(word)
        if d == 0:
            fuzzy = [t for (t,) in self.con.execute(
                "select term from dict where term = ?", [word]).fetchall()]
        else:
            fuzzy = [t for (t,) in self.con.execute(
                """select term from dict
                   where length(term) between ? and ? and levenshtein(term, ?) <= ?
                   order by df desc, term limit ?""",
                [len(word) - d, len(word) + d, word, d, max_expansions]).fetchall()]
        pre = [t for (t,) in self.con.execute(
            "select term from dict where starts_with(term, ?) order by df desc, term limit ?",
            [prefix, max_expansions]).fetchall()]
        return list(dict.fromkeys(fuzzy + (pre or [prefix])))

    # ------------------------------------------------------------ scoring
    def _register_queries(self, queries: list[dict]) -> None:
        """Query tables: ``qt`` (qid, term, w, must), ``qm`` (per-query mode,
        filters), ``qrb``/``qtb`` (role/tool doc boosts), ``pt`` (phrase terms)."""
        qt, qm, qrb, qtb, pt = [], [], [], [], []
        for qid, q in enumerate(queries):
            tb = q.get("term_boosts") or {}
            must = list(dict.fromkeys(q["terms"]))
            should = [t for t in dict.fromkeys(q.get("should", [])) if t not in must]
            for t in must:
                qt.append((qid, t, float(tb.get(t, 1.0)), True))
            for t in should:
                qt.append((qid, t, 1.0, False))
            roles = ",".join(q["roles"]) if q.get("roles") else None
            qm.append((qid, q["mode"], len(must), roles, q.get("not_tool"),
                       bool(q.get("phrase"))))
            qrb += [(qid, r, float(w)) for r, w in (q.get("role_boosts") or {}).items()]
            qtb += [(qid, t, float(w)) for t, w in (q.get("tool_boosts") or {}).items()]
            if q.get("phrase"):
                pt += [(qid, i, t) for i, t in enumerate(q["terms_in_order"])]
        frames = {
            "qt": (qt, {"qid": "bigint", "term": "varchar", "w": "double", "must": "boolean"}),
            "qm": (qm, {"qid": "bigint", "qmode": "varchar", "nterms": "bigint",
                        "roles": "varchar", "not_tool": "varchar", "phrase": "boolean"}),
            "qrb": (qrb, {"qid": "bigint", "role": "varchar", "w": "double"}),
            "qtb": (qtb, {"qid": "bigint", "tool": "varchar", "w": "double"}),
            "pt": (pt, {"qid": "bigint", "i": "bigint", "term": "varchar"}),
        }
        for name, (rows, types) in frames.items():
            f = pd.DataFrame(rows, columns=list(types), dtype=object)
            cols = ", ".join(f'"{c}"::{t} as "{c}"' for c, t in types.items())
            self.con.register(f"{name}_in", f)
            self.con.execute(f"create or replace table {name} as select {cols} from {name}_in")
            self.con.unregister(f"{name}_in")
        self.con.execute("""
            create or replace table ph as
            select distinct c.qid, c.doc_ord from (
                select p.qid, t.doc_ord, t.pos - p.i as start, count(*) as n
                from pt p join tok t on t.term = p.term group by all) c
            join (select qid, count(*) as n from pt group by qid) l
              on l.qid = c.qid and l.n = c.n""")

    _MATCHES = """
        with m as (
            select qt.qid, tf.doc_ord,
                   sum(qt.w * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))
                       * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) as s,
                   count(*) filter (where qt.must) as nmust
            from qt join tf on tf.term = qt.term join dict d on d.term = qt.term
            join dl on dl.doc_ord = tf.doc_ord cross join st
            group by all
        )
        select m.qid, m.doc_ord, docs.doc_id,
               m.s * coalesce(rb.w, 1.0) * coalesce(tb.w, 1.0) as score
        from m join qm on qm.qid = m.qid join docs on docs.doc_ord = m.doc_ord
        left join qrb rb on rb.qid = m.qid and rb.role = docs.role
        left join qtb tb on tb.qid = m.qid and tb.tool = docs.tool
        where docs.live
          and (case when qm.qmode = 'and' then m.nmust = qm.nterms else m.nmust > 0 end)
          and (qm.roles is null or list_contains(string_split(qm.roles, ','), docs.role))
          and (qm.not_tool is null or docs.tool is distinct from qm.not_tool)
          and (not qm.phrase or exists (
                select 1 from ph where ph.qid = m.qid and ph.doc_ord = m.doc_ord))
    """

    def topk(self, queries: list[dict], k: int) -> list[pd.DataFrame]:
        """Per query: every live hit scoring within tolerance of the k-th best
        (so ties at the cut are all present), as (doc_ord, doc_id, score)
        sorted by (score desc, doc_ord asc)."""
        if not queries:
            return []
        self._register_queries(queries)
        df = self.con.execute(f"""
            with s as ({self._MATCHES}),
            r as (select *, row_number() over (partition by qid
                                               order by score desc, doc_ord) as rn from s),
            kth as (select qid, min(score) as kth from r where rn <= {int(k)} group by qid)
            select r.qid, r.doc_ord, r.doc_id, r.score from r join kth using (qid)
            where r.score >= kth.kth - {SCORE_ATOL * 10}
            order by r.qid, r.score desc, r.doc_ord""").df()
        groups = dict(tuple(df.groupby("qid")))
        empty = df.iloc[0:0][["doc_ord", "doc_id", "score"]]
        return [
            groups[i][["doc_ord", "doc_id", "score"]].reset_index(drop=True)
            if i in groups else empty
            for i in range(len(queries))
        ]

    def counts(self, queries: list[dict]) -> list[int]:
        if not queries:
            return []
        self._register_queries(queries)
        got = dict(self.con.execute(
            f"select qid, count(*) from ({self._MATCHES}) group by qid").fetchall())
        return [int(got.get(i, 0)) for i in range(len(queries))]


def topk_matches(got: pd.DataFrame, ref: pd.DataFrame, k: int) -> bool:
    """True when ``got`` (the engine's top-k: doc_id, score) equals the
    reference's top-k in docIDs and float64 scores, allowing only reorders
    and swaps among documents whose reference scores tie within tolerance."""
    ref_scores = dict(zip(ref["doc_id"], ref["score"]))
    want = min(k, len(ref))
    if len(got) != want or got["doc_id"].duplicated().any():
        return False
    g_scores = got["score"].to_numpy(np.float64)
    if want == 0:
        return True
    # rank-by-rank scores agree, and the list is sorted
    if not np.allclose(g_scores, ref["score"].to_numpy()[:want], rtol=0, atol=SCORE_ATOL):
        return False
    for doc, sc in zip(got["doc_id"], g_scores):
        r = ref_scores.get(doc)
        if r is None or abs(r - sc) > SCORE_ATOL:
            return False
    # every document strictly above the k-th score (beyond tolerance) is present
    kth = ref["score"].iloc[want - 1]
    must = set(ref.loc[ref["score"] > kth + SCORE_ATOL, "doc_id"])
    return must <= set(got["doc_id"])
