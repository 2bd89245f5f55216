import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from softcite_kb_spark.session import get_spark  # noqa: E402
from softcite_kb_spark import datagen  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    s = get_spark(master=f"local[{cpus}]", app_name="softcite-kb-tests",
                  shuffle_partitions=cpus)
    yield s


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    datagen.write_corpus(str(d), n_conversations=120, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def corpus(spark, corpus_dir):
    names = ["transcripts", "authority_entities", "authority_ids",
             "expected_mentions", "expected_triples"]
    return {n: spark.read.parquet(os.path.join(corpus_dir, f"{n}.parquet"))
            for n in names}
