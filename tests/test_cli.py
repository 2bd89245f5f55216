"""CLI driver (VERDICT r04 #4): config-file -> KGPipeline run/ingest,
plus the spark-submit --py-files deployment smoke (the north-rule
packaging story executed for real against a local master)."""

import json
import os
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

from softcite_kb_spark import cli, datagen
from softcite_kb_spark.storage import TableStore


@pytest.fixture(scope="module")
def cli_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("clicorpus")
    return datagen.write_corpus(str(d), n_conversations=40, seed=11)


def _write_config(tmp_path, store_root, buckets=8):
    cfgp = str(tmp_path / "job.json")
    with open(cfgp, "w") as f:
        json.dump({
            "store": {"kind": "parquet", "root": store_root},
            "pipeline": {"blacklist": list(datagen.BLACKLIST),
                         "min_vote_total": 1,
                         "partition_buckets": buckets},
        }, f)
    return cfgp


def test_cli_run_then_ingest_end_to_end(spark, cli_corpus, tmp_path,
                                        capsys):
    """run loads the initial tables (transcripts through the bucketed
    layout), executes all three stages, and a follow-up ingest skips
    re-extraction of the existing corpus — all through the public CLI
    entrypoint."""
    store_root = str(tmp_path / "kb")
    cfgp = _write_config(tmp_path, store_root)
    with open(cfgp) as f:
        cfg = json.load(f)
    cfg["load"] = {n: cli_corpus[n]
                   for n in ("transcripts", "authority_entities",
                             "authority_ids")}
    with open(cfgp, "w") as f:
        json.dump(cfg, f)

    assert cli.main(["run", "--config", cfgp]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["load"]["transcripts"] == "loaded"
    assert out["stages"] == {"extract": "ran", "link": "ran",
                             "canonicalize": "ran"}
    st = TableStore(store_root)
    assert st.read(spark, "nodes").count() > 0
    # bucket layout established by the CLI load path
    assert (st.current_snapshot("transcripts").properties
            .get("partition_by")) == ["bucket"]

    # re-run resumes (manifests match -> all stages skipped)
    assert cli.main(["run", "--config", cfgp]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["stages"] == {"extract": "skipped", "link": "skipped",
                              "canonicalize": "skipped"}
    assert out2["load"]["transcripts"] == "present"

    # ingest a modified conversation: extract is incremental (skipped
    # in the follow-up run), downstream stages recompute
    batch_dir = str(tmp_path / "batch")
    conv = spark.read.parquet(cli_corpus["transcripts"]) \
        .select("conv_id").distinct().orderBy("conv_id").first().conv_id
    (spark.read.parquet(cli_corpus["transcripts"])
     .filter(F.col("conv_id") == conv)
     .withColumn("text", F.lit("We ran Statlib v9.9 on the cluster."))
     .write.parquet(batch_dir))
    assert cli.main(["ingest", "--config", cfgp,
                     "--batch", batch_dir]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["stages"]["extract"] == "skipped"
    assert out3["stages"]["link"] == "ran"


@pytest.mark.parametrize("key", ["not_a_knob", "cc_algorithm",
                                 "cc_max_iter"])
def test_cli_rejects_unknown_pipeline_keys(tmp_path, key):
    """Unknown keys, including the removed connected-components knobs,
    fail loudly instead of being ignored."""
    cfgp = str(tmp_path / "bad.json")
    with open(cfgp, "w") as f:
        json.dump({"store": {"kind": "parquet",
                             "root": str(tmp_path / "kb")},
                   "pipeline": {key: 1}}, f)
    with pytest.raises(SystemExit, match=key):
        cli.main(["run", "--config", cfgp])


def test_package_zip_contains_only_package_python(tmp_path):
    zp = cli.package_zip(str(tmp_path / "skb.zip"))
    names = zipfile.ZipFile(zp).namelist()
    assert "softcite_kb_spark/cli.py" in names
    assert "softcite_kb_spark/plans/pipeline.py" in names
    assert all(n.startswith("softcite_kb_spark/") and n.endswith(".py")
               for n in names)


def test_spark_submit_pyfiles_smoke(cli_corpus, tmp_path):
    """The actual deployment shape: spark-submit --py-files <pkg.zip>
    tools/run_pipeline.py, with the package importable ONLY from the
    zip (PYTHONPATH scrubbed) — end-to-end on a local[2] master."""
    from pyspark.find_spark_home import _find_spark_home

    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit launcher not found in SPARK_HOME")

    zp = cli.package_zip(str(tmp_path / "skb.zip"))
    store_root = str(tmp_path / "kb")
    cfgp = _write_config(tmp_path, store_root, buckets=0)
    with open(cfgp) as f:
        cfg = json.load(f)
    cfg["load"] = {n: cli_corpus[n]
                   for n in ("transcripts", "authority_entities",
                             "authority_ids")}
    with open(cfgp, "w") as f:
        json.dump(cfg, f)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [submit, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zp,
         os.path.join(repo, "tools", "run_pipeline.py"),
         "run", "--config", cfgp],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=480)
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(
        [ln for ln in proc.stdout.splitlines()
         if ln.startswith("{")][-1])
    assert report["stages"]["canonicalize"] == "ran"
    # the SUBMITTED master ran the job (the CLI must not override a
    # spark-submit master with its local default)
    assert report["master"] == "local[2]"
    # the job really produced a KB in the configured store
    meta = os.path.join(store_root, "nodes", "_meta.json")
    assert os.path.exists(meta)
