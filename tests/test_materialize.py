"""The injectable materialization barrier: iterative algorithms must
produce IDENTICAL output whether the per-round barrier is the default
localCheckpoint (single JVM) or a durable scratch-table persist (the
cluster-side, fault-tolerant choice). This is the contract that makes
`materializer=ScratchTableMaterializer(store)` a pure execution detail.
"""

import pandas as pd
import pytest

from softcite_kb_spark.materialize import (
    ScratchTableMaterializer, local_checkpoint_materializer)
from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import similarity as sim
from softcite_kb_spark.storage import TableStore


@pytest.fixture()
def scratch(tmp_path):
    return ScratchTableMaterializer(TableStore(str(tmp_path / "scratch")))


def _edges(spark):
    # two components: a 30-node chain (multi-round) and a star
    rows = [(f"n{i}", f"n{i+1}") for i in range(30)]
    rows += [("hub", f"s{i}") for i in range(5)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))


def test_label_prop_cc_scratch_equals_local_checkpoint(spark, scratch):
    # both sides take an explicit barrier: this test pins the DISTRIBUTED
    # rounds' barrier contract — the driver-side path would close this
    # small graph without ever materializing a round (its equivalence is
    # pinned in test_canonicalize.test_cc_local_fast_path_equals_distributed)
    e = _edges(spark)
    a = sorted(map(tuple, cz.connected_components(
        e, max_iter=40,
        materializer=local_checkpoint_materializer).collect()))
    b = sorted(map(tuple, cz.connected_components(
        e, max_iter=40, materializer=scratch).collect()))
    assert a == b
    assert scratch._n > 0


def test_lloyd_refinement_scratch_equals_local_checkpoint(spark, scratch):
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(40)),
        "embedding": [[float((i * 7 + d) % 11) for d in range(8)]
                      for i in range(40)],
    }))
    q = vecs.filter("vec_id < 2").selectExpr(
        "vec_id as query_id", "embedding")
    a = sorted(map(tuple, sim.ivf_topk(
        vecs, q, n_cells=4, n_probe=2, k=3, lloyd_rounds=2).collect()))
    b = sorted(map(tuple, sim.ivf_topk(
        vecs, q, n_cells=4, n_probe=2, k=3, lloyd_rounds=2,
        materializer=scratch).collect()))
    assert a == b
    assert scratch._n > 0


def test_pipeline_threads_materializer(spark, scratch, tmp_path):
    """The KGPipeline constructor knob reaches the CC rounds: a full
    3-stage run over a scratch-table barrier produces the same KB as the
    localCheckpoint default."""
    from softcite_kb_spark import datagen
    from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig

    paths = datagen.write_corpus(str(tmp_path / "corpus"),
                                 n_conversations=30)

    def run(materializer, sub):
        store = TableStore(str(tmp_path / sub))
        for n in ("transcripts", "authority_entities", "authority_ids"):
            store.write(spark.read.parquet(paths[n]), n)
        KGPipeline(spark, store,
                   PipelineConfig(min_vote_total=1),
                   materializer=materializer).run(resume=False)
        nodes = sorted(map(tuple, store.read(spark, "nodes")
                           .select("canonical_id", "label").collect()))
        edges = sorted(map(tuple, store.read(spark, "edges")
                           .select("src_id", "rel", "dst_id").collect()))
        return nodes, edges

    a = run(None, "kb_default")
    b = run(scratch, "kb_scratch")
    assert a == b
    assert scratch._n > 0


def test_canonical_map_threads_materializer(spark, scratch):
    lm = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c1", "c2", "c3", "c4"],
        "norm_surface": ["pandas", "pandas", "numpy", "numpy"],
        "entity_id": ["Q1", None, None, None],
    }))
    a = sorted(map(tuple, cz.canonical_map(lm).collect()))
    b = sorted(map(tuple, cz.canonical_map(lm, materializer=scratch).collect()))
    assert a == b
    assert scratch._n > 0
