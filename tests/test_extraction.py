"""Stage-1 tests: extraction fidelity (P/R >= 0.95), path equivalence,
blacklist semantics, stable turn ordering, same-name folding."""

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from softcite_kb_spark import datagen
from softcite_kb_spark.operators import extraction as ex


def _extract_triples_pandas(
    transcripts: DataFrame,
    blacklist_terms: Iterable[str] = (),
) -> DataFrame:
    """Oracle for ``ex.extract_triples``: applyInPandas grouped by conv_id.

    Semantically identical to the native path. Turns are re-sorted by
    ``turn_idx`` inside each group (stable turn ordering independent of
    shuffle order), then vectorized ``Series.str.extractall`` runs per
    pattern — no per-row Python.
    """
    import re

    compiled = [(pred, re.compile(pat)) for pred, pat in ex.TRIPLE_PATTERNS]
    bl = {t.upper() for t in blacklist_terms}
    version = ex.PRED_VERSION
    columns = [f.name for f in ex.TRIPLE_SCHEMA.fields]

    def _is_num(s: pd.Series) -> pd.Series:
        # mirror Spark try_cast('double') EXACTLY (the native path's
        # is_number): it trims, accepts nan/inf/infinity tokens in any
        # case/sign, and tolerates a trailing d/f float suffix — plain
        # pd.to_numeric would keep 'NaN'/'3d' mentions the native path
        # drops, breaking the two-path equality contract
        t = s.str.strip().str.lower()
        special = t.isin(["nan", "+nan", "-nan", "inf", "+inf", "-inf",
                          "infinity", "+infinity", "-infinity"])
        stripped = t.str.replace(r"[df]$", "", regex=True)
        return special | pd.to_numeric(stripped, errors="coerce").notna()

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx", kind="mergesort")  # stable order
        frames = []
        for pred, rx in compiled:
            m = pdf["text"].str.extractall(rx)
            if m.empty:
                continue
            m = m.reset_index(level=1, drop=True)
            m.columns = ["subj", "obj"]
            m = m.join(pdf[["conv_id", "turn_idx"]])
            m["pred"] = pred
            frames.append(m[["conv_id", "turn_idx", "subj", "pred", "obj"]])
        if not frames:
            return pd.DataFrame(columns=columns)
        out = pd.concat(frames, ignore_index=True)
        keep = ~out["subj"].str.upper().isin(bl) & ~_is_num(out["subj"])
        obj_is_name = out["pred"] != version
        keep &= ~(obj_is_name & (out["obj"].str.upper().isin(bl) | _is_num(out["obj"])))
        out = out[keep]
        out["turn_idx"] = out["turn_idx"].astype("int32")
        return out

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandas(extract, schema=ex.TRIPLE_SCHEMA)
    )


def _blacklist_df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"term": datagen.BLACKLIST}))


def _pr(got: set, want: set):
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    return precision, recall


def test_triple_extraction_pr(spark, corpus):
    triples = ex.extract_triples(corpus["transcripts"], _blacklist_df(spark))
    got = {tuple(r) for r in triples.collect()}
    want = {tuple(r) for r in corpus["expected_triples"]
            .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}
    p, r = _pr(got, want)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"
    # on the clean synthetic corpus the extractor should be exact
    assert p == 1.0 and r == 1.0


def test_pandas_path_equivalent(spark, corpus):
    native = ex.extract_triples(corpus["transcripts"], _blacklist_df(spark))
    arrow = _extract_triples_pandas(
        corpus["transcripts"], blacklist_terms=datagen.BLACKLIST)
    a = {tuple(r) for r in native.collect()}
    b = {tuple(r) for r in arrow.collect()}
    assert a == b


def test_mentions_pr(spark, corpus):
    triples = ex.extract_triples(corpus["transcripts"], _blacklist_df(spark))
    mentions = ex.mentions_from_triples(triples)
    got = {tuple(r) for r in
           mentions.select("conv_id", "turn_idx", "surface").distinct().collect()}
    want = {tuple(r) for r in corpus["expected_mentions"]
            .select("conv_id", "turn_idx", "surface").distinct().collect()}
    p, r = _pr(got, want)
    assert p == 1.0 and r == 1.0


def test_blacklist_and_numeric_dropped(spark):
    pdf = pd.DataFrame({
        "conv_id": ["c1"] * 4,
        "turn_idx": pd.array([0, 1, 2, 3], dtype="int32"),
        "text": [
            "We ran SARS v1.0 on the cluster.",      # blacklisted subj
            "We ran 2021 v1.0 on the cluster.",      # numeric (regex rejects)
            "Statlib depends on DNA.",               # blacklisted obj
            "We ran Statlib v1.2 on the cluster.",   # kept
        ],
    })
    df = spark.createDataFrame(pdf)
    got = ex.extract_triples(df, _blacklist_df(spark)).collect()
    assert len(got) == 1
    assert got[0].subj == "Statlib" and got[0].obj == "1.2"


def test_stable_turn_ordering(spark, corpus):
    """Per-turn text equality under stable ordering, independent of row order."""
    t = corpus["transcripts"]
    shuffled = t.orderBy(F.rand(seed=1))
    a = (ex.ordered_turns(t)
         .select("conv_id", "seq", "text").collect())
    b = (ex.ordered_turns(shuffled)
         .select("conv_id", "seq", "text").collect())
    assert sorted(a) == sorted(b)
    # seq is dense 1..n per conversation and follows turn_idx
    chk = (ex.ordered_turns(t)
           .groupBy("conv_id")
           .agg(F.max("seq").alias("mx"), F.count("*").alias("n"),
                F.sum(F.when(F.col("seq") == F.col("turn_idx") + 1, 0)
                      .otherwise(1)).alias("bad"))
           .filter((F.col("mx") != F.col("n")) | (F.col("bad") > 0))
           .count())
    assert chk == 0


def test_conversation_view_ordered(spark, corpus):
    cv = ex.conversation_view(corpus["transcripts"].orderBy(F.rand(seed=2)))
    row = cv.orderBy("conv_id").first()
    idxs = [t["turn_idx"] for t in row["turns"]]
    assert idxs == sorted(idxs)
    assert row["n_turns"] == len(idxs)


def test_same_name_folding(spark):
    pdf = pd.DataFrame({
        "conv_id": ["c1"] * 3 + ["c2"],
        "turn_idx": pd.array([0, 1, 2, 0], dtype="int32"),
        "text": [
            "We ran Stat-Forge v1.0 on the cluster.",
            "We ran STAT-FORGE v1.0 on the cluster.",
            "We ran Stat Forge v2.0 on the cluster.",
            "We ran Stat-Forge v1.0 on the cluster.",
        ],
    })
    df = spark.createDataFrame(pdf)
    folded = ex.fold_mentions(
        ex.mentions_from_triples(ex.extract_triples(df))).collect()
    by_conv = {(r.conv_id, r.norm_surface): r for r in folded}
    assert len(by_conv) == 2  # one folded entity per conversation
    r1 = by_conv[("c1", "stat forge")]
    assert r1.n_mentions == 3
    assert set(r1.surfaces) == {"Stat-Forge", "STAT-FORGE", "Stat Forge"}
    assert set(v for v in r1.versions if v) == {"1.0", "2.0"}


def test_numeric_filter_path_parity_special_tokens(spark):
    """try_cast accepts NaN/inf/'3d' style literals — the pandas path must
    drop exactly the same mentions the native path drops."""
    pdf = pd.DataFrame({
        "conv_id": ["c1"] * 4,
        "turn_idx": pd.array(range(4), dtype="int32"),
        "text": [
            "NaN depends on Statlib.",
            "Infinity depends on Statlib.",
            "Statlib depends on Graphkit.",
            "3d depends on Statlib.",
        ],
    })
    t = spark.createDataFrame(pdf)
    nat = sorted(map(tuple, ex.extract_triples(t).collect()))
    pnd = sorted(map(tuple, _extract_triples_pandas(t).collect()))
    assert nat == pnd
    subs = {r[2] for r in nat}
    assert "NaN" not in subs and "Infinity" not in subs
