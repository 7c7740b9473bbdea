"""Surface tests: the spark-submit CLI entry and the Structured Streaming
ingest demo."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.corpus import corpus_df
from lsh_for_source_code_spark.streaming.incremental import streaming_ingest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_runs_and_resumes(spark, tmp_path):
    corpus = str(tmp_path / "corpus.parquet")
    df, _ = corpus_df(spark, n_files=60, seed=21)
    df.write.parquet(corpus)
    ck = str(tmp_path / "ck")
    cmd = [
        sys.executable,
        os.path.join(REPO, "scripts", "run_pipeline.py"),
        "--input", corpus,
        "--checkpoint-dir", ck,
        "--master", "local[4]",
        "--theta", "0.5",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=480, env=env)
    assert r1.returncode == 0, r1.stderr[-2000:]
    done1 = [ln for ln in r1.stdout.splitlines() if ln.startswith("done:")]
    assert done1 and "files=60" in done1[0]
    assert os.path.exists(os.path.join(ck, "clusters", "_SUCCESS"))

    # resume: second run reads the checkpoints and reports identical counts
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=480, env=env)
    assert r2.returncode == 0, r2.stderr[-2000:]
    done2 = [ln for ln in r2.stdout.splitlines() if ln.startswith("done:")]
    assert done1[0].split("checkpoints=")[0] == done2[0].split("checkpoints=")[0]


def test_streaming_ingest_available_now(spark, tmp_path):
    src = str(tmp_path / "incoming")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "repo": ["r"] * 4,
                "path": [f"p{i}" for i in range(4)],
                "commit": ["c"] * 4,
                "lang": ["java"] * 4,
                "content": [f"int a{i} = {i}; int b{i} = a{i} + 1;" for i in range(4)],
            }
        )
    )
    df.write.parquet(src)
    ck = str(tmp_path / "stream_ck")
    q = streaming_ingest(spark, src, ck, PipelineConfig(num_perm=16, bands=8, rows_per_band=2)).start()
    q.awaitTermination(120)
    out = spark.read.parquet(ck + "_out")
    rows = out.collect()
    assert len(rows) == 4
    assert all(len(r.minhash) == 16 for r in rows)
    assert all(r.content_sha for r in rows)
