"""Correctness gates: every check compares the program's committed output
with an independent evaluation — datagen's golden tables, a batch rebuild,
or a pandas/DuckDB evaluation of each query over the same committed
tables. A gate that fails marks its operation failed."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]
MIN_QUALITY = 0.95
KB_TABLES = ("canonical_map", "statements", "nodes", "edges",
             "linked_mentions")


# -- build quality -------------------------------------------------------
def triple_pr(triples: pd.DataFrame, expected: pd.DataFrame
              ) -> tuple[float, float]:
    """Precision/recall of committed triples vs the golden triples."""
    got = set(map(tuple, triples[TRIPLE_COLS].itertuples(index=False)))
    want = set(map(tuple, expected[TRIPLE_COLS].itertuples(index=False)))
    tp = len(got & want)
    return (tp / len(got) if got else 1.0, tp / len(want) if want else 1.0)


def _norm_surface(s: pd.Series) -> pd.Series:
    return (s.str.replace("-", " ", regex=False).str.lower()
            .str.replace(r"\s+", " ", regex=True))


def link_accuracy(linked: pd.DataFrame, expected_mentions: pd.DataFrame
                  ) -> float:
    """Share of golden (conv, surface) mention groups whose linked entity
    equals the golden entity (both unlinked counts as correct) — the rule
    of the repository's stage-2 accuracy test."""
    truth = pd.DataFrame({
        "conv_id": expected_mentions["conv_id"],
        "norm_surface": _norm_surface(expected_mentions["surface"]),
        "true_entity": expected_mentions["entity_id"],
    }).drop_duplicates()
    j = linked[["conv_id", "norm_surface", "entity_id"]].merge(
        truth, on=["conv_id", "norm_surface"], how="inner")
    if j.empty:
        return 0.0
    ok = ((j["entity_id"] == j["true_entity"])
          | (j["entity_id"].isna() & j["true_entity"].isna()))
    return float(ok.sum()) / len(j)


def restrict_to_turns(expected: pd.DataFrame, turns: pd.DataFrame
                      ) -> pd.DataFrame:
    """Golden rows of the (conv_id, turn_idx) pairs actually ingested."""
    keys = turns[["conv_id", "turn_idx"]].drop_duplicates()
    return expected.merge(keys, on=["conv_id", "turn_idx"], how="inner")


# -- incremental vs batch ------------------------------------------------
def kb_mismatch_rows(spark, store, ref_store, tables=KB_TABLES) -> dict:
    """Two-way ``exceptAll`` row counts per table between ``store`` and a
    batch rebuild ``ref_store`` (storage-layout ``bucket`` columns
    dropped). The incremental pipeline maintains the link decision inside
    ``canonical_map``; when ``store`` is such a store, ``linked_mentions``
    is compared as that projection of its ``canonical_map``."""
    out = {}
    for t in tables:
        ref = ref_store.read(spark, t).drop("bucket")
        src = "canonical_map" if (
            t == "linked_mentions" and store.exists("folded_by_surface")
        ) else t
        got = store.read(spark, src).drop("bucket")
        missing = [c for c in ref.columns if c not in got.columns]
        if missing or len(got.columns) != len(ref.columns) and src == t:
            out[t] = max(ref.count(), got.count())
            continue
        got = got.select(*ref.columns)
        out[t] = got.exceptAll(ref).count() + ref.exceptAll(got).count()
    return out


# -- query oracle --------------------------------------------------------
def _norm_val(v):
    if v is None or type(v) in (str, int, bool):
        return v
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_val(x) for x in v)
    if isinstance(v, dict):  # a DuckDB struct; Spark gives a Row (tuple)
        return tuple(_norm_val(x) for x in v.values())
    return v


def normalize(rows, ordered: bool) -> list[tuple]:
    """Rows (Spark Rows or tuples) as comparable tuples; unordered answers
    are compared as sorted multisets."""
    out = [tuple(_norm_val(x) for x in r) for r in rows]
    return out if ordered else sorted(out, key=repr)


_TOKEN = re.compile(r"[^a-z0-9]+")


class QueryOracle:
    """Independent evaluation of every benchmark request over pandas
    copies of the committed tables (DuckDB SQL for the relational
    requests, pandas for BM25 and facets)."""

    def __init__(self, edges: pd.DataFrame, statements: pd.DataFrame,
                 feed: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.edges = edges
        self.statements = statements
        self.feed = feed
        self._toks = None  # tokenized feed documents, built on first use
        # copied into DuckDB tables once: a registered frame is re-scanned
        # from pandas on every query
        for name, df in (("edges", edges), ("statements", statements)):
            self.con.register(f"{name}_df", df)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_df")

    def close(self) -> None:
        self.con.close()

    def _sql(self, q: str, params=None) -> list[tuple]:
        return self.con.execute(q, params or []).fetchall()

    def answer(self, kind: str, arg, cols: list[str]) -> tuple[list, bool]:
        """(rows, ordered) for request ``kind`` with argument ``arg``, the
        rows already :func:`normalize`-d; ``cols`` is the column order of
        the Spark answer."""
        rows, ordered = self._answer(kind, arg, cols)
        return normalize(rows, ordered), ordered

    def _answer(self, kind: str, arg, cols: list[str]) -> tuple[list, bool]:
        if kind == "top_entities_by_count":
            return self._sql(
                "SELECT dst_id AS entity, count(*) AS cnt FROM edges "
                "GROUP BY dst_id ORDER BY cnt DESC, entity ASC NULLS FIRST "
                "LIMIT 10"), True
        if kind == "group_into_lists":
            rows = self._sql(
                "SELECT src_id AS grp, "
                "list_sort(list(dst_id) FILTER (WHERE dst_id IS NOT NULL)),"
                " count(dst_id) AS n_items FROM edges GROUP BY src_id "
                "ORDER BY n_items DESC, grp ASC NULLS FIRST LIMIT 10")
            return [(g, items or [], n) for g, items, n in rows], True
        if kind == "neighbors":
            sel = ", ".join(f'"{c}"' for c in cols)
            return self._sql(f"SELECT {sel} FROM edges WHERE src_id = ?",
                             [arg]), False
        if kind == "two_hop":
            return self._sql(
                "SELECT a.src_id, a.dst_id, b.dst_id, a.rel, b.rel "
                "FROM edges a JOIN edges b ON a.dst_id = b.src_id "
                "WHERE a.src_id = ?", [arg]), False
        if kind == "best_value_per_property":
            sel = ", ".join(f'"{c}"' for c in cols)
            return self._sql(
                f"SELECT {sel} FROM (SELECT *, row_number() OVER ("
                "PARTITION BY canonical_id, prop ORDER BY "
                "CASE WHEN source = 'transcripts' THEN 1 ELSE 2 END, "
                "\"count\" DESC, value ASC NULLS FIRST) AS rn "
                "FROM statements WHERE canonical_id = ?) WHERE rn = 1",
                [arg]), False
        if kind == "rank_bm25":
            return self._bm25(arg), True
        if kind == "facets":
            return self._facets(["entity_type", "langs"], 20), False
        raise ValueError(kind)

    def _bm25(self, query: str, k: int = 10, k1: float = 1.2,
              b: float = 0.75) -> list[tuple]:
        terms = sorted({t for t in _TOKEN.split(query.lower()) if t})
        if self._toks is None:
            self._toks = [[t for t in _TOKEN.split((s or "").lower()) if t]
                          for s in self.feed["all"]]
        toks = self._toks
        n = len(toks)
        dl = np.array([len(t) for t in toks], dtype=float)
        avgdl = dl.mean() if n else 0.0
        tf = np.array([[sum(1 for x in doc if x == term) for term in terms]
                       for doc in toks], dtype=float).reshape(n, len(terms))
        df = (tf > 0).sum(axis=0)
        score = np.zeros(n)
        for i in range(len(terms)):
            idf = math.log(1.0 + (n - df[i] + 0.5) / (df[i] + 0.5))
            norm = tf[:, i] + k1 * (1.0 - b + b * dl / avgdl)
            score += idf * tf[:, i] * (k1 + 1.0) / norm
        hit = tf.max(axis=1) > 0
        res = sorted(((cid, round(float(s), 6)) for cid, s, h in
                      zip(self.feed["canonical_id"], score, hit) if h),
                     key=lambda r: (-r[1], r[0]))
        return res[:k]

    def _facets(self, cols: list[str], k: int) -> list[tuple]:
        out = []
        for c in cols:
            vals = self.feed[c]
            if c == "langs":
                vals = vals.explode()
            vals = vals.dropna().astype(str)
            counts = vals.value_counts()
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out += [(c, v, int(n)) for v, n in ranked[:k]]
        return out


def answers_match(kind: str, got_rows, want: list[tuple],
                  ordered: bool) -> bool:
    """Whether the Spark answer ``got_rows`` equals the oracle's answer
    ``want`` (as :meth:`QueryOracle.answer` returns it)."""
    got = normalize(got_rows, ordered)
    if kind != "rank_bm25":
        return got == want
    # BM25 scores are rounded to 6 decimals on both sides; allow one unit
    # of rounding difference and re-sort ids within equal scores
    if len(got) != len(want):
        return False
    return all(g[0] == w[0] and abs(g[1] - w[1]) <= 1.5e-6
               for g, w in zip(got, want))
