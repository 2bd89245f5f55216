"""The generated-class cache holds a whole build's plan footprint.

Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``, a static
conf, default 100) is an LRU over Janino-compiled classes. One pipeline
build generates ~250 distinct classes, so a default-sized cache evicts
every class before the next build needs it and each build compiles its
whole plan again. Both session factories set the sized value from one
dict, ``session.ENGINE_SQL_DEFAULTS``.
"""

from pyspark.sql import SparkSession

from softcite_kb_spark import cli, datagen
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.session import ENGINE_SQL_DEFAULTS
from softcite_kb_spark.storage import TableStore

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (cache misses only)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide class cache, so the first build below compiles
    its full footprint whichever tests ran before it."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def _build(spark, corpus, root) -> int:
    """One ``run(resume=False)`` into a fresh store; its compile count."""
    store = TableStore(root)
    for name in ("transcripts", "authority_entities", "authority_ids"):
        store.write(corpus[name], name)
    pipe = KGPipeline(spark, store, PipelineConfig(
        blacklist=tuple(datagen.BLACKLIST), min_vote_total=1))
    before = _compiles(spark)
    pipe.run(resume=False)
    return _compiles(spark) - before


def test_second_build_reuses_compiled_classes(spark, corpus, tmp_path):
    _clear_codegen_cache(spark)
    first = _build(spark, corpus, str(tmp_path / "a"))
    second = _build(spark, corpus, str(tmp_path / "b"))
    assert first > 100, first  # more than the default cache holds
    assert second < first / 4, (first, second)


def test_session_carries_sized_cache(spark):
    size = ENGINE_SQL_DEFAULTS[CACHE_KEY]
    assert int(size) >= 1000
    assert spark.sparkContext.getConf().get(CACHE_KEY) == size


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return _FakeSession()


class _FakeSession:
    class sparkContext:  # noqa: N801 - mirrors SparkSession's attribute
        @staticmethod
        def setLogLevel(level):
            pass


def test_cli_session_builds_from_engine_defaults(monkeypatch):
    """The spark-submit factory passes the same defaults, with its
    ``spark`` section layered on top (the test session is active, so
    the builder is recorded instead of run)."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(SparkSession, "getActiveSession",
                        classmethod(lambda cls: None))
    monkeypatch.setattr(SparkSession, "builder", builder)
    cli._get_session({"spark.sql.session.timeZone": "Europe/Paris"})
    assert builder.conf == {**ENGINE_SQL_DEFAULTS,
                            "spark.sql.session.timeZone": "Europe/Paris"}
    assert builder.conf[CACHE_KEY] == ENGINE_SQL_DEFAULTS[CACHE_KEY]
