"""spark-submit job entrypoint (the north-rule deployment shape).

Cluster invocation::

    spark-submit --master <cluster> \\
        --py-files cpg_spark.zip \\
        --conf spark.cpg.catalog=<iceberg catalog> \\
        --conf spark.cpg.scratchDir=<scratch root> \\
        scripts/cpg_job.py \\
        --input  <docs table uri>   \\
        --workdir <checkpoint root> \\
        --run-id  nightly-2026-08-19

The package ships to every executor via ``--py-files`` (a plain zip of
``cpg_spark/`` — no data files, so zipimport suffices for the Arrow UDF
workers); the session comes from ``getOrCreate()`` so master, executor
sizing and shuffle partitions are whatever spark-submit configured —
nothing in the pipeline is local-mode-specific.  The two ``spark.cpg.*``
keys are optional: ``spark.cpg.catalog`` commits stage tables to that
catalog instead of parquet directories, and ``spark.cpg.scratchDir`` is
the base of scratch tables (default: the system temp dir).  The job
reads no environment variable.  ``--workdir`` is the
stage-commit root: re-running with the same ``--run-id`` resumes from
the last committed stage (pipeline.py checkpoint contract).
"""

from __future__ import annotations

import argparse


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="cpg_job")
    ap.add_argument("--input", required=True,
                    help="docs table uri (parquet path or catalog table)")
    ap.add_argument("--workdir", required=True,
                    help="stage-commit root (resumable checkpoints)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cpg_spark_job").getOrCreate()

    from cpg_spark.pipeline import run_cpg_pipeline, triples

    if "://" in args.input or "/" in args.input:
        docs = spark.read.parquet(args.input)
    else:  # catalog table name (Iceberg on a real cluster)
        docs = spark.read.table(args.input)
    p = run_cpg_pipeline(spark, docs, args.workdir, run_id=args.run_id,
                         resume=not args.no_resume)
    edges_uri = p.results[-1].outputs["edges"]
    n = triples(spark.read.parquet(edges_uri)).count()
    # one machine-greppable completion line for the orchestrator
    print(f"CPG_JOB_DONE run_id={p.run_id} edges={edges_uri} triples={n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
