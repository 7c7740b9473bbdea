"""Seeded input generators for the benchmark workloads.

Every table derives from the `--seed` argument alone (numpy `default_rng`),
so the same seed gives byte-identical inputs. Nothing is read from outside
the checkout: the query-roster tables are generated here in the shape of
the engine's test tables rather than loaded.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from lsh_for_source_code_spark.corpus import generate_corpus

#: Sizes. At 2,000 batch files S5/S6 burn most of a pipeline run's executor
#: CPU and one run's CPU time varies less than at 1,000 (see README.md);
#: 3,000 files would make a run ~68 s, more than the run budget allows.
BATCH_FILES = 2000
DELTA_BASE_FILES = 1000
DELTA_NEW_FILES = 120
DELTA_COPIES = 40
DELTA_NEAR_COPIES = 40
N_DELTAS = 3
ROSTER_DOCS = 500

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


@dataclass
class Delta:
    files: pd.DataFrame  # repo, path, commit, lang, content
    #: (delta row, base row) for exact copies of base files
    copies: list[tuple[int, int]]


#: Share of files per family type in `generate_corpus`'s expected mix
#: (family odds times mean family size). The generator draws the type of
#: each family at random, so one seed's corpus can hold 20% more boilerplate
#: files than another's, and boilerplate drives the S5 candidate volume.
#: Fixing the shares keeps the work per run the same across seeds.
MIX = {
    "type1": 0.253,
    "type2": 0.217,
    "type3": 0.120,
    "containment": 0.048,
    "boilerplate": 0.120,
}


def stratified_corpus(n: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """`n` files of the stock `generate_corpus` content with the family mix
    fixed at `MIX` (the rest unique files): (files, truth) pandas frames.

    Files are taken in generation order from a larger corpus of the same
    seed, per type, so families stay whole except possibly the last one of
    each type. Natural keys and `file_seq` keep their values from that
    corpus, which is what the truth evaluator joins on."""
    pool = generate_corpus(2 * n + 500, seed)
    want = {t: round(share * n) for t, share in MIX.items()}
    want["unique"] = n - sum(want.values())
    keep = sorted(
        i for t, k in want.items() for i in pool.truth.index[pool.truth["family"] == t][:k]
    )
    if len(keep) != n:
        raise RuntimeError(f"seed {seed}: pool too small for the mix ({len(keep)} of {n} files)")
    return (
        pool.files.iloc[keep].reset_index(drop=True),
        pool.truth.iloc[keep].reset_index(drop=True),
    )


def batch_corpus(seed: int):
    return stratified_corpus(BATCH_FILES, seed)


def _near_copy(rng: np.random.Generator, content: str) -> str:
    """A few line deletions and duplicated lines, like the corpus's type-3
    edits but lighter, so most near-copies stay above the threshold."""
    lines = content.split("\n")
    for _ in range(int(rng.integers(1, 4))):
        if rng.random() < 0.5 and len(lines) > 10:
            del lines[int(rng.integers(0, len(lines)))]
        else:
            lines.insert(int(rng.integers(0, len(lines))), lines[int(rng.integers(0, len(lines)))])
    return "\n".join(lines)


def delta_inputs(seed: int) -> tuple[pd.DataFrame, list[Delta]]:
    """A fixed base corpus plus `N_DELTAS` delta batches.

    Each delta holds fresh files (a mix of its own), exact copies and
    near-copies of base files, picked per family type in the `MIX` shares.
    Delta natural keys live under a `delta<d>/` repo prefix, so they never
    collide with the base's `org<i>/repo<j>` keys nor with another delta's."""
    base, base_truth = stratified_corpus(DELTA_BASE_FILES, seed)
    rng = np.random.default_rng([seed, 1])
    deltas = []
    for d in range(N_DELTAS):
        fresh = stratified_corpus(DELTA_NEW_FILES, int(rng.integers(2**31)))[0]["content"].tolist()
        picks = np.concatenate([_pick(rng, base_truth, DELTA_COPIES), _pick(rng, base_truth, DELTA_NEAR_COPIES)])
        copies = [base["content"].iat[i] for i in picks[:DELTA_COPIES]]
        near = [_near_copy(rng, base["content"].iat[i]) for i in picks[DELTA_COPIES:]]
        content = fresh + copies + near
        n = len(content)
        files = pd.DataFrame(
            {
                "repo": [f"delta{d}/repo{j % 11}" for j in range(n)],
                "path": [f"src/d{d}/File{j}.java" for j in range(n)],
                "commit": [f"{d:08x}{j:032x}" for j in range(n)],
                "lang": ["java"] * n,
                "content": content,
            }
        )
        first_copy = len(fresh)
        deltas.append(
            Delta(files, [(first_copy + k, int(i)) for k, i in enumerate(picks[:DELTA_COPIES])])
        )
    return base, deltas


def _pick(rng: np.random.Generator, truth: pd.DataFrame, n: int) -> np.ndarray:
    """`n` distinct base rows, drawn per family type in the `MIX` shares."""
    want = {t: round(share * n) for t, share in MIX.items()}
    want["unique"] = n - sum(want.values())
    return np.concatenate(
        [rng.choice(np.flatnonzero(truth["family"] == t), k, replace=False) for t, k in want.items()]
    )


def roster_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The tables the 16 headline queries read, shaped like the engine's
    test tables: documents, embeddings, lineitem, orders, customer."""
    rng = np.random.default_rng([seed, 2])
    n = ROSTER_DOCS
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:
            # near-copy of an earlier document: one word swapped for "dup"
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 96))).tolist()
        texts.append(" ".join(words))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    n_vec, dim, n_lab = 500, 64, 10
    centers = rng.normal(size=(n_lab, dim))
    labels = rng.integers(0, n_lab, n_vec).astype(np.int32)
    vecs = (centers[labels] + 0.35 * rng.normal(size=(n_vec, dim))).astype(np.float32)
    embeddings = pd.DataFrame(
        {"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )

    n_cust, n_ord, n_li = 150, 1500, 6000
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": pd.Timestamp("1995-01-01")
            + pd.to_timedelta(rng.integers(0, 2500, n_ord), unit="D"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pd.Timestamp("1995-01-01")
            + pd.to_timedelta(rng.integers(0, 2500, n_li), unit="D"),
        }
    )
    return {
        "documents": documents,
        "embeddings": embeddings,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }
