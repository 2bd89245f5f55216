"""Seeded, cached inputs for the three workloads.

Every input is a pure function of its parameters and the workload seed,
built with ``softcite_kb_spark.datagen`` and cached as parquet under
``perfbench/.cache`` (the cache only saves regeneration time; a cold cache
yields byte-identical files).

* ``full_build``: one datagen corpus per seed.
* ``incremental_ingest``: one FIXED corpus (seed-independent, so the
  bootstrapped store can be kept as a pristine copy) split into the base
  the store is bootstrapped on and a hold-out pool: brand-new conversations
  plus the held-back tail turns of conversations already in the base. The
  pool is cut into a fixed set of batches; the seed picks the batch a run
  starts with.
* ``kb_queries``: one FIXED corpus (so its KB can be built once per program
  version) and a fixed multiset of requests over Zipf-allotted node
  ranks, in a seeded order.

Stores built by the program itself (the pristine bootstrapped store, the
batch-rebuild references, the query KB) are cached under a key that
includes a hash of the program's sources (:func:`source_key`), so a change
to the program rebuilds them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from softcite_kb_spark import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
PACKAGE_DIR = os.path.join(os.path.dirname(HERE), "softcite_kb_spark")

CORPUS_TABLES = ("transcripts", "expected_mentions", "expected_triples")

# the incremental and query corpora are generated once with these seeds; the
# workload seed picks the batches and the request sequence
INCREMENTAL_CORPUS_SEED = 20260105
KB_CORPUS_SEED = 20260106

REQUEST_KINDS = ("top_entities_by_count", "group_into_lists", "neighbors",
                 "two_hop", "best_value_per_property", "rank_bm25", "facets")


def _atomic_dir(final: str, fill) -> str:
    """Create ``final`` by filling a temp sibling and renaming it, so an
    interrupted run never leaves a half-written cache entry."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    try:
        os.replace(tmp, final)
    except OSError:  # another run created it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def source_key() -> str:
    """Hash of the program's Python sources."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(PACKAGE_DIR)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def built_store(final: str, build) -> str:
    """Directory ``final`` filled by ``build(final)``, built once. Stores
    record absolute paths, so they are built in place; a ``_done`` marker
    written last tells a complete store from an interrupted one."""
    done = os.path.join(final, "_done")
    if not os.path.exists(done):
        shutil.rmtree(final, ignore_errors=True)
        build(final)
        open(done, "w").close()
    return final


def corpus(n_conversations: int, seed: int,
           cache_dir: str = CACHE_DIR) -> dict[str, str]:
    """Parquet paths of a datagen corpus: transcripts + golden tables."""
    final = os.path.join(cache_dir, f"corpus-n{n_conversations}-s{seed}")

    def fill(d: str) -> None:
        tables = datagen.build_corpus(n_conversations=n_conversations,
                                      seed=seed)
        for name in CORPUS_TABLES:
            tables[name].to_parquet(os.path.join(d, f"{name}.parquet"),
                                    index=False)

    _atomic_dir(final, fill)
    return {n: os.path.join(final, f"{n}.parquet") for n in CORPUS_TABLES}


def authority(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The authority tables ``datagen.build_corpus`` pairs with ``seed``
    (cheap to rebuild, and their nested columns do not round-trip
    through pandas parquet cleanly, so they are not cached)."""
    return datagen.build_authority(seed=seed)


@dataclass(frozen=True)
class IncrementalSpec:
    n_base: int          # conversations in the bootstrapped store
    n_new: int           # brand-new conversations held out of the base
    n_tail: int          # base conversations whose tail turns are held back
    tail_turns: int      # turns held back per tail conversation
    batch_new: int       # new conversations per batch
    batch_tail: int      # tail conversations per batch

    @property
    def max_batches(self) -> int:
        return min(self.n_new // self.batch_new,
                   self.n_tail // self.batch_tail)

    def key(self) -> str:
        return (f"b{self.n_base}-n{self.n_new}-t{self.n_tail}x"
                f"{self.tail_turns}-s{INCREMENTAL_CORPUS_SEED}")


def incremental_split(spec: IncrementalSpec,
                      cache_dir: str = CACHE_DIR) -> dict[str, str]:
    """Fixed base/pool split. Returns parquet paths: ``base`` (turns the
    store is bootstrapped on), ``pool`` (held-out turns), ``pool_index``
    (conv_id, kind in {new, tail}), plus the golden tables of the whole
    corpus."""
    src = corpus(spec.n_base + spec.n_new, INCREMENTAL_CORPUS_SEED,
                 cache_dir)
    final = os.path.join(cache_dir, f"incremental-{spec.key()}")

    def fill(d: str) -> None:
        t = pd.read_parquet(src["transcripts"])
        t["ts"] = t["ts"].astype("datetime64[us]")
        convs = sorted(t["conv_id"].unique())
        new = convs[spec.n_base:]
        base_convs = convs[: spec.n_base]
        n_turns = t.groupby("conv_id")["turn_idx"].max() + 1
        eligible = [c for c in base_convs
                    if n_turns[c] > spec.tail_turns + 1]
        rng = np.random.default_rng(INCREMENTAL_CORPUS_SEED)
        tail = sorted(rng.choice(eligible, size=spec.n_tail,
                                 replace=False).tolist())
        cut = (n_turns[tail] - spec.tail_turns).to_dict()
        is_new = t["conv_id"].isin(new)
        is_tail = t["conv_id"].map(cut).notna() & (
            t["turn_idx"] >= t["conv_id"].map(cut).fillna(1 << 30))
        held = is_new | is_tail
        t[~held].to_parquet(os.path.join(d, "base.parquet"), index=False)
        t[held].to_parquet(os.path.join(d, "pool.parquet"), index=False)
        pd.DataFrame({"conv_id": new + tail,
                      "kind": ["new"] * len(new) + ["tail"] * len(tail)}
                     ).to_parquet(os.path.join(d, "pool_index.parquet"),
                                  index=False)

    _atomic_dir(final, fill)
    out = {n: os.path.join(final, f"{n}.parquet")
           for n in ("base", "pool", "pool_index")}
    out.update({n: src[n] for n in ("expected_mentions", "expected_triples")})
    return out


def incremental_batches(spec: IncrementalSpec, pool_index: str,
                        seed: int) -> list[list[str]]:
    """The pool's ``max_batches`` disjoint batches (conv-id lists of
    ``batch_new`` new conversations + ``batch_tail`` tail ones), in the
    order a run with ``seed`` feeds them: starting at batch
    ``seed % max_batches`` and wrapping around."""
    idx = pd.read_parquet(pool_index)
    rng = np.random.default_rng(INCREMENTAL_CORPUS_SEED)
    new = rng.permutation(sorted(idx.conv_id[idx.kind == "new"])).tolist()
    tail = rng.permutation(sorted(idx.conv_id[idx.kind == "tail"])).tolist()
    batches = [new[k * spec.batch_new:(k + 1) * spec.batch_new]
               + tail[k * spec.batch_tail:(k + 1) * spec.batch_tail]
               for k in range(spec.max_batches)]
    start = seed % spec.max_batches
    return batches[start:] + batches[:start]


def zipf_ranks(n: int, zipf_s: float = 1.1, n_ranks: int = 64) -> list[int]:
    """``n`` node ranks whose counts follow Zipf(``zipf_s``) over
    ``n_ranks`` ranks, allotted by largest remainder: the same list for
    every seed."""
    w = 1.0 / np.arange(1, n_ranks + 1) ** zipf_s
    quota = n * w / w.sum()
    counts = np.floor(quota).astype(int)
    extra = np.argsort(-(quota - counts), kind="stable")[:n - counts.sum()]
    counts[extra] += 1
    return [r for r in range(n_ranks) for _ in range(counts[r])]


def request_sequence(seed: int, rounds: int, zipf_s: float = 1.1,
                     n_ranks: int = 64,
                     cache_dir: str = CACHE_DIR) -> list[dict]:
    """Seeded request mix: ``rounds`` rounds, each holding every one of
    :data:`REQUEST_KINDS` once, entries ``{kind, rank}``. Every seed gets
    the same multiset of requests: each kind's ranks are
    :func:`zipf_ranks` (resolved against the built KB's nodes ranked by
    mention count, modulo the node count). The seed only shuffles the
    ranks among a kind's requests and the kinds within each round, so the
    runs of different seeds time the same work and every prefix of the
    sequence has a near-even mix."""
    path = os.path.join(cache_dir,
                        f"requests-fixed-s{seed}-r{rounds}-z{zipf_s}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rng = np.random.default_rng(seed)
    ranks = {k: rng.permutation(zipf_ranks(rounds, zipf_s, n_ranks))
             for k in REQUEST_KINDS}
    seq = [{"kind": REQUEST_KINDS[int(k)],
            "rank": int(ranks[REQUEST_KINDS[int(k)]][r])}
           for r in range(rounds)
           for k in rng.permutation(len(REQUEST_KINDS))]
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(seq, f)
    os.replace(tmp, path)
    return seq


def text_bytes(transcripts: pd.DataFrame) -> int:
    """UTF-8 bytes of the turn texts — the base of ``write_amp``."""
    return int(transcripts["text"].fillna("").str.encode("utf-8").str.len()
               .sum())
