"""Command-line driver: run the KG pipeline from a config file.

The reference ships CLI drivers that run its import/merge stages as
processes (merging/populate.py:9-23, kb/knowledge_base.py ``__main__``);
this is the Spark-native counterpart, shaped for the north-rule
deployment story — ``spark-submit --py-files`` on a multi-executor
cluster::

    python -m softcite_kb_spark package-zip /tmp/skb.zip
    spark-submit --master yarn --py-files /tmp/skb.zip \
        tools/run_pipeline.py run --config job.json

Locally (or in tests) the same entrypoint runs in-process::

    python -m softcite_kb_spark run --config job.json
    python -m softcite_kb_spark ingest --config job.json --batch b.parquet

Config file (JSON)::

    {
      "store": {"kind": "parquet", "root": "/data/kb"},
      //  or   {"kind": "iceberg", "catalog": "prod", "namespace": "kb",
      //        "manifest_root": "/mnt/kb-manifests"}
      "pipeline": {"blacklist": [...], "min_vote_total": 2,
                   "partition_buckets": 128, ...},
      "load": {"transcripts": "/data/in/transcripts.parquet",
               "authority_entities": "...", "authority_ids": "..."}
    }

``pipeline`` keys map 1:1 onto :class:`PipelineConfig` fields (unknown
keys are rejected loudly). ``load`` is the optional INITIAL load: each
listed parquet path is committed into the store only when the table is
absent — transcripts through ``KGPipeline.write_transcripts`` so the
bucket layout incremental merges prune on is established from the
first commit. A populated store ignores the section, keeping ``run``
re-invocations resume-idempotent.

The session comes from ``SparkSession.builder.getOrCreate()`` with the
engine's SQL defaults but NO master: under spark-submit the cluster
manager/master/memory all come from the submit command, exactly as the
north rule prescribes (test-pinned: the submitted master is asserted
end-to-end); standalone invocations get Spark's ``local[*]`` default.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _build_config(d: dict):
    from softcite_kb_spark.plans.pipeline import PipelineConfig

    fields = set(PipelineConfig.__dataclass_fields__)
    unknown = set(d) - fields
    if unknown:
        raise SystemExit(
            f"unknown pipeline config keys {sorted(unknown)}; "
            f"valid keys: {sorted(fields)}")
    if "blacklist" in d:
        d = dict(d, blacklist=tuple(d["blacklist"]))
    return PipelineConfig(**d)


def _build_store(spark, d: dict):
    kind = d.get("kind", "parquet")
    if kind == "parquet":
        from softcite_kb_spark.storage import TableStore

        return TableStore(d["root"])
    if kind == "iceberg":
        from softcite_kb_spark.storage_iceberg import IcebergTableStore

        return IcebergTableStore(
            spark, catalog=d["catalog"],
            namespace=d.get("namespace", "kb"),
            manifest_root=d.get("manifest_root"))
    raise SystemExit(f"unknown store kind {kind!r} (parquet|iceberg)")


def _get_session(conf: dict | None = None):
    """getOrCreate with the engine's SQL defaults; master only when no
    cluster manager provided one (spark-submit sets spark.master)."""
    from pyspark.sql import SparkSession

    from softcite_kb_spark.session import ENGINE_SQL_DEFAULTS

    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    def build(extra: dict):
        builder = SparkSession.builder.appName("softcite_kb_spark")
        for k, v in {
            **ENGINE_SQL_DEFAULTS,
            **(conf or {}),
            **extra,
        }.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()

    # NEVER set .master() proactively: under spark-submit the master
    # reaches the driver only when the JVM context is created (it is
    # not visible in SparkConf() beforehand — measured), so an eager
    # local default would silently OVERRIDE the submitted cluster
    # (caught by the round-5 review pass; the smoke test now asserts
    # the submitted master end-to-end). Build master-less: standalone
    # invocations get Spark's own local[*] default; the except arm is
    # a safety net for Spark builds that refuse a master-less context.
    try:
        spark = build({})
    except Exception as e:  # pragma: no cover - message-matched fallback
        if "master" not in str(e).lower():
            raise
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        spark = build({"spark.master": f"local[{cpus}]",
                       "spark.sql.shuffle.partitions": cpus})
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _load_initial(spark, pipe, store, load: dict) -> dict:
    """Commit the listed parquet inputs for tables the store lacks."""
    loaded = {}
    for table, path in load.items():
        if store.exists(table):
            loaded[table] = "present"
            continue
        df = spark.read.parquet(path)
        if table == "transcripts":
            pipe.write_transcripts(df)  # establishes the bucket layout
        else:
            store.write(df, table)
        loaded[table] = "loaded"
    return loaded


def package_zip(out_path: str) -> str:
    """Zip the installed ``softcite_kb_spark`` package for
    ``spark-submit --py-files`` (python files only — tests, caches and
    bytecode excluded)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, base))
    return out_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="softcite_kb_spark",
        description="KG-construction pipeline driver (see module "
                    "docstring for the config format)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run_p = sub.add_parser("run", help="run all pipeline stages")
    run_p.add_argument("--config", required=True)
    run_p.add_argument("--no-resume", action="store_true",
                       help="recompute every stage even when manifests "
                            "match")
    run_p.add_argument("--stop-after", choices=("extract", "link",
                                                "canonicalize"))

    ing_p = sub.add_parser("ingest", help="ingest a transcript batch "
                                          "then run downstream stages")
    ing_p.add_argument("--config", required=True)
    ing_p.add_argument("--batch", required=True,
                       help="parquet path of new/replaced transcripts")
    ing_p.add_argument("--stage1-only", action="store_true",
                       help="commit stage-1 outputs only (defer "
                            "link/canonicalize, e.g. to amortize over "
                            "several batches)")

    zip_p = sub.add_parser("package-zip",
                           help="write the --py-files zip of this "
                                "package")
    zip_p.add_argument("out", help="output zip path")

    args = ap.parse_args(argv)

    if args.cmd == "package-zip":
        print(package_zip(args.out))
        return 0

    with open(args.config) as f:
        cfg = json.load(f)
    spark = _get_session(cfg.get("spark"))
    from softcite_kb_spark.plans.pipeline import KGPipeline

    store = _build_store(spark, cfg.get("store", {}))
    pipe = KGPipeline(spark, store, _build_config(cfg.get("pipeline", {})))
    # observability: which master actually ran the job — a submitted
    # cluster master must never be silently overridden by a local one
    report: dict = {"master": spark.sparkContext.master}
    if cfg.get("load"):
        report["load"] = _load_initial(spark, pipe, store, cfg["load"])

    if args.cmd == "run":
        report["stages"] = pipe.run(resume=not args.no_resume,
                                    stop_after=args.stop_after)
    else:  # ingest
        batch = spark.read.parquet(args.batch)
        if args.stage1_only:
            pipe.ingest_stage1(batch)
            report["stages"] = {"extract": "ran (stage1-only)"}
        else:
            report["stages"] = pipe.ingest_increment(batch)
    # one machine-readable line, like bench.py's contract
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
