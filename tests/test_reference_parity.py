"""Reference-parity tests (SURVEY.md 5.2 item 2) against the committed
artifacts at /root/reference (read-only).

The committed golden HashOutput is irreproducible by construction (unseeded
java.util.Random, SURVEY.md 3.1), so parity is asserted at the
draw-independent levels the north_rule actually cares about:

* the 100%-similarity CSV pairs are byte-identical files -> our exact-dup
  short-circuit (content_sha) must recover every one of them;
* the reverse-engineered pairing rule (multiset overlap >= theta,
  SURVEY.md 2.4) evaluated by our verify operator reproduces the 70% CSV
  membership on a sample;
* Tokenfile/Fileid format round-trips.
"""

from __future__ import annotations

import csv
import os
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.verify import verify_pairs
from lsh_for_source_code_spark.sources.reference_io import (
    corpus_to_tokenfile_lines,
    read_fileid,
    read_tokenfile,
    tokenfile_to_shingled,
)

REF = "/root/reference"
BCB = f"{REF}/Big_Clone_Bench_files_used/bcb_reduced/3"
CSV100 = f"{REF}/Result_of_bigcloneEval/Code_Clone_file_with_100%_similarity.csv"
CSV70 = f"{REF}/Result_of_bigcloneEval/Code_Clone_file_with_70%_similarity.csv"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(BCB), reason="reference corpus not present"
)


def _read_pairs(path, limit=None):
    pairs = []
    with open(path, newline="") as f:
        for row in csv.reader(f):
            pairs.append(((row[0], row[1]), (row[4], row[5])))
            if limit and len(pairs) >= limit:
                break
    return pairs


def _load_files(spark, names):
    rows = []
    for d, fn in names:
        p = Path(BCB) / d / fn
        rows.append(
            {
                "repo": "bcb",
                "path": f"{d}/{fn}",
                "commit": "v1",
                "lang": "java",
                "content": p.read_text(encoding="utf-8", errors="replace"),
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_100pct_pairs_are_sha_equal_and_short_circuited(spark):
    pairs = _read_pairs(CSV100)
    names = sorted({n for p in pairs for n in p})
    df = _load_files(spark, names)
    shingled = shingle_files(df).select("path", "content_sha")
    sha = {r.path: r.content_sha for r in shingled.collect()}
    for (d1, f1), (d2, f2) in pairs:
        assert sha[f"{d1}/{f1}"] == sha[f"{d2}/{f2}"], (f1, f2)


def test_70pct_sample_passes_overlap_rule(spark):
    """Reverse-engineered rule (SURVEY.md 2.4): multiset token-overlap
    |A n B| / max(|A|,|B|) >= 0.70 for every 70%-CSV pair. Verified here
    through OUR verify operator on a 60-pair sample."""
    pairs = _read_pairs(CSV70, limit=60)
    names = sorted({n for p in pairs for n in p})
    df = _load_files(spark, names)
    shingled = shingle_files(df).withColumn(
        "file_id", F.xxhash64("path")
    ).select("file_id", "n_tokens", "shingles", "counts")
    name_to_id = {
        r.path: r.file_id
        for r in shingle_files(df)
        .withColumn("file_id", F.xxhash64("path"))
        .select("path", "file_id")
        .collect()
    }
    cand = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "id_a": name_to_id[f"{d1}/{f1}"],
                    "id_b": name_to_id[f"{d2}/{f2}"],
                }
                for (d1, f1), (d2, f2) in pairs
            ]
        ).drop_duplicates()
    )
    cfg = PipelineConfig(overlap_threshold=0.70)
    scored = verify_pairs(cand, shingled, cfg, keep_all=True).collect()
    n_pass = sum(1 for r in scored if r.overlap >= 0.70)
    # tokenizer approximation (ours vs SourcererCC's) leaves a small margin
    assert n_pass / len(scored) >= 0.95, f"{n_pass}/{len(scored)}"


def test_fileid_reader_matches_committed_fixture(spark):
    df = read_fileid(spark, f"{REF}/input_files_of_LSH/Fileid.txt")
    assert df.count() == 4632
    first = df.orderBy("seq", "fileid").first()
    assert first.fileid == "100250001"
    assert first.path.endswith("100438.java")
    # usable as a broadcast dimension (the reference re-scans per row
    # instead, LocSenHash.java:111-131)
    joined = df.join(
        F.broadcast(df.select("fileid").limit(5)), "fileid"
    )
    assert joined.count() == 5


def test_tokenfile_roundtrip(spark, tmp_path):
    lines = [
        "0,100250001@#@import@@::@@2,update@@::@@1,main@@::@@1,String@@::@@2",
        "1,100250002@#@x@@::@@7",
    ]
    p = tmp_path / "Tokenfile.txt"
    p.write_text("\n".join(lines))
    tf = read_tokenfile(spark, str(p))
    rows = {r.fileid: r for r in tf.collect()}
    assert rows["100250001"].tokens == ["import", "update", "main", "String"]
    assert rows["100250001"].freqs == [2, 1, 1, 2]
    # n_tokens = sum of freqs; sparsity keeps freq > s
    sh = tokenfile_to_shingled(tf, sparsity=1)
    srows = {r.fileid: r for r in sh.collect()}
    assert srows["100250001"].n_tokens == 6
    assert len(srows["100250001"].shingles) == 2  # import(2), String(2)
    assert srows["100250002"].counts == [7]
    # round-trip back to text
    back = corpus_to_tokenfile_lines(tf).collect()
    assert sorted(r.value for r in back) == sorted(lines)


def _all_corpus_files():
    """(dir/file) keys for every committed corpus file (4,632)."""
    out = []
    for d in sorted(os.listdir(BCB)):
        dp = Path(BCB) / d
        if dp.is_dir():
            for fn in sorted(os.listdir(dp)):
                out.append((d, fn))
    return out


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        r = x
        while self.p.get(r, r) != r:
            r = self.p[r]
        while self.p.get(x, x) != r:
            self.p[x], x = r, self.p[x]
        return r

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@pytest.fixture(scope="module")
def full_corpus_scored(spark):
    """Run the whole LSH pipeline ONCE over all 4,632 committed files and
    return (overlap-scored candidate pairs, sha-equal edge list), keyed by
    'dir/file'. Scored pairs only include overlap >= 0.5 (keep_all=False
    hard-wires cfg.overlap_threshold=0.5 into the fixture), so per-test
    thresholds must stay >= 0.5 -- a theta below that would silently
    undercount recall (ADVICE r3)."""
    from lsh_for_source_code_spark.operators.banding import band_files
    from lsh_for_source_code_spark.operators.candidates import candidate_pairs
    from lsh_for_source_code_spark.functions.minhash import sign_files

    names = _all_corpus_files()
    assert len(names) == 4632
    df = _load_files(spark, names)
    # exact all-pairs inside buckets: at 4,632 files the star-cap would only
    # complicate recall accounting (production cap is covered elsewhere)
    cfg = PipelineConfig(
        jaccard_threshold=2.0,  # disabled: the reference rule is overlap-only
        overlap_threshold=0.5,
        max_bucket_pairs=1_000_000,
    )
    shingled = (
        shingle_files(df)
        .withColumn("file_id", F.xxhash64("path"))
        .select("file_id", "path", "content_sha", "n_tokens", "shingles", "counts")
        .persist()
    )
    id_to_key = {r.file_id: r.path for r in shingled.select("file_id", "path").collect()}
    sha_groups = {}
    for r in shingled.select("file_id", "content_sha").collect():
        sha_groups.setdefault(r.content_sha, []).append(r.file_id)
    sha_edges = [
        (g[0], other) for g in sha_groups.values() for other in g[1:]
    ]
    signed = sign_files(shingled, cfg)
    bands = band_files(signed, cfg)
    cands = candidate_pairs(bands, cfg)
    # keep_all=False: the sound JVM-side overlap upper bound drops pairs
    # that cannot reach overlap 0.5 BEFORE the Python UDF -- every test
    # below thresholds at >= 0.5, so the kept set is semantically
    # identical and the Arrow transfer shrinks ~10x (the old keep_all=True
    # scored every candidate pair; 900s fixture -> minutes).
    scored = verify_pairs(
        cands, shingled.drop("path", "content_sha"), cfg
    ).select("id_a", "id_b", "overlap").collect()
    shingled.unpersist()
    return {
        "id_to_key": id_to_key,
        "sha_edges": sha_edges,
        "scored": [(r.id_a, r.id_b, r.overlap) for r in scored],
    }


@pytest.mark.parametrize(
    "csv_name,theta,min_recall",
    [
        # measured (deterministic: fixed seeds + tokenizer): 75/75 = 1.000,
        # 3160/3168 = 0.9975, 8999/9011 = 0.9987 -- all above the
        # north_rule 0.99 despite the tokenizer approximation (SURVEY 2.4:
        # 98.6% per-pair ceiling) because cluster transitivity recovers
        # most tokenizer-divergent pairs.
        ("Code_Clone_file_with_100%_similarity.csv", 1.0, 0.99),
        ("Code_Clone_file_with_70%_similarity.csv", 0.7, 0.99),
        ("Code_Clone_file_with_50%_similarity.csv", 0.5, 0.99),
    ],
)
def test_full_corpus_pair_recall_vs_committed_csvs(
    full_corpus_scored, csv_name, theta, min_recall
):
    """north_rule criterion measured on the reference's own data: run the
    pipeline over all 4,632 committed files and check that every committed
    CSV pair (75 / 3,168 / 9,011 at 100/70/50%) lands in the same cluster
    at the matching overlap threshold."""
    data = full_corpus_scored
    key_to_id = {v: k for k, v in data["id_to_key"].items()}
    uf = _UF()
    for a, b in data["sha_edges"]:
        uf.union(a, b)
    for a, b, ov in data["scored"]:
        if ov is not None and ov >= theta - 1e-12:
            uf.union(a, b)
    csv_pairs = _read_pairs(f"{REF}/Result_of_bigcloneEval/{csv_name}")
    found = 0
    for (d1, f1), (d2, f2) in csv_pairs:
        ia, ib = key_to_id[f"{d1}/{f1}"], key_to_id[f"{d2}/{f2}"]
        if uf.find(ia) == uf.find(ib):
            found += 1
    recall = found / len(csv_pairs)
    assert recall >= min_recall, f"{csv_name}: {found}/{len(csv_pairs)} = {recall:.4f}"
