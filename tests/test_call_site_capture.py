"""Engine sessions turn off PySpark's per-call call-site capture.

With ``spark.python.sql.dataFrameDebugging.enabled`` on, every wrapped
DataFrame and ``functions`` call makes extra Python-to-JVM round trips
only to label error messages. ``session.ENGINE_SQL_DEFAULTS`` turns it
off for both session factories (the CLI dict is checked by
``test_codegen_cache::test_cli_session_builds_from_engine_defaults``).
"""

import itertools

import pyspark.errors.utils as perrors

from softcite_kb_spark import datagen
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.session import ENGINE_SQL_DEFAULTS
from softcite_kb_spark.storage import TableStore

FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_turns_call_site_capture_off(spark):
    assert ENGINE_SQL_DEFAULTS[FLAG] == "false"
    assert spark.conf.get(FLAG) == "false"


def _round_trips(spark, corpus, root, monkeypatch) -> int:
    """py4j commands sent over one ``run(resume=False)`` into a fresh
    store (its input writes not counted)."""
    store = TableStore(root)
    for name in ("transcripts", "authority_entities", "authority_ids"):
        store.write(corpus[name], name)
    pipe = KGPipeline(spark, store, PipelineConfig(
        blacklist=tuple(datagen.BLACKLIST), min_vote_total=1))
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, itertools.count()

    def counting(*args, **kwargs):
        next(calls)
        return send(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        pipe.run(resume=False)
        return next(calls)


def test_build_round_trips_without_capture(spark, corpus, tmp_path,
                                           monkeypatch):
    off = _round_trips(spark, corpus, str(tmp_path / "off"), monkeypatch)
    with monkeypatch.context() as m:
        m.setattr(perrors, "_enable_debugging_cache", True)
        on = _round_trips(spark, corpus, str(tmp_path / "on"), monkeypatch)
    assert off <= 0.7 * on, (off, on)
