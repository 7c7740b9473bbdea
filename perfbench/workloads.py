"""The three workloads: set-up, one timed operation, its checks, and the
traced variant of the operation.

Each workload calls the engine only through public functions. Untraced
operations run the engine exactly as a user would; traced ones wrap the
same calls in spans (see `spans.py`) and force stage outputs inside them.
"""

from __future__ import annotations

import contextlib
import os

import lsh_for_source_code_spark.operators.verify as verify_mod
import lsh_for_source_code_spark.plans.pipeline as pipeline_mod
import lsh_for_source_code_spark.streaming.incremental as incremental_mod
from pyspark.sql import functions as F

from lsh_for_source_code_spark.caching import release_all
from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.plans.truth_eval import cluster_recall, family_truth_pairs

from bench import HEADLINE  # the 16 headline queries, one list for both benchmarks

import inputs
from checks import checksum, checksum_expr
from spans import COUNTERS, Span, Tracer

#: checkpoint name -> layer, for the stages `run_pipeline` materializes
STAGE_LAYERS = {
    "files_shingled": "tokenize",
    "exact_dup_edges": "pipeline.exact_dup",
    "signatures": "minhash",
    "bands": "banding",
    "candidate_pairs": "candidates",
    "verified_pairs": "verify",
    "clusters": "components",
}
STAGES = ["pipeline.audit", *STAGE_LAYERS.values()]
STAGE_METRICS = ("wall_s", *COUNTERS, "rows_out")
INCREMENTAL = {
    "delta_shingled": "incremental.shingle",
    "delta_signatures": "incremental.sign",
    "delta_bands": "incremental.band",
    "verified_new_pairs": "incremental.verify",
}
INCREMENTAL_METRICS = ("wall_s", "cpu_s", "task_s", "shuffle_write_mb", "rows_out")
RECALL_FLOOR = 0.99
#: parquet files per corpus, so S0/S1 scans run on every core
INPUT_SPLITS = 8


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = [f"{layer}.{m}" for layer in STAGES for m in STAGE_METRICS]
    names.append("pipeline.self.wall_s")
    names += [f"{layer}.{m}" for layer in INCREMENTAL.values() for m in INCREMENTAL_METRICS]
    names += [
        "candidates.verified_per_candidate",
        "pipeline.exact_dup_share",
        "verify.broadcast",
        "components.edges",
    ]
    names += [f"query.{q}.wall_s" for q in HEADLINE]
    names += ["host.probe_s", "host.steal_share"]
    names += ["trace.untraced_s", "trace.overhead_s", "trace.read_s"]
    names += ["truth.recall", "incremental.copy_recall"]
    return names


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def spanned(tracer: Tracer, layer: str):
    """Wrap a function so each call runs inside a span named `layer`."""

    def factory(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    return factory


class Workload:
    """One workload.

    `generate` writes the seeded inputs into `work` and may run several times
    (it is the repeatable part of set-up); `prepare` runs once per process.
    `op` runs one timed operation inside `timer()` (a span of the run's
    untraced clock, which holds its wall and CPU) and returns (span,
    outputs); its first call is the warm-up. `traced_op` runs the same
    operation inside spans and also returns the per-layer totals. `check`
    lists what is wrong with one operation's outputs, `finish` what is wrong
    with the run."""

    name = ""
    #: operations with distinct inputs (operation i uses input i % this)
    distinct_ops = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.cfg = PipelineConfig()
        self.quality: dict = {}

    def generate(self) -> None: ...

    def prepare(self) -> None: ...

    def op(self, i: int, timer) -> tuple[Span, dict]: ...

    def traced_op(self, i: int, tracer: Tracer) -> tuple[float, dict, dict]: ...

    def check(self, i: int, outputs: dict) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []

    def golden_key(self, i: int) -> str:
        return "op"

    def _path(self, name: str) -> str:
        return os.path.join(self.work, f"{name}.parquet")

    def _write(self, pdf, name: str, files: int = 1) -> None:
        """pandas -> parquet under `work`; `files` > 1 writes a directory of
        that many row slices, so a scan of it has that many input splits."""
        kw = {"index": False, "coerce_timestamps": "us", "allow_truncated_timestamps": True}
        if files == 1:
            pdf.to_parquet(self._path(name), **kw)
            return
        os.makedirs(self._path(name))
        step = -(-len(pdf) // files)
        for k in range(files):
            part = pdf.iloc[k * step : (k + 1) * step]
            part.to_parquet(os.path.join(self._path(name), f"part-{k:03d}.parquet"), **kw)


class BatchMixed(Workload):
    """`run_pipeline` in persisted mode on the stock corpus mix."""

    name = "batch_mixed"

    def generate(self):
        files, truth = inputs.batch_corpus(self.seed)
        self._write(files, "corpus", files=INPUT_SPLITS)
        self._write(truth, "truth")
        self.n_files = len(files)

    def prepare(self):
        self.files = self.spark.read.parquet(self._path("corpus"))
        self.truth = self.spark.read.parquet(self._path("truth"))

    def _run(self):
        out = pipeline_mod.run_pipeline(self.spark, self.files, self.cfg)
        return out, {
            "verified_pairs": checksum(out["verified_pairs"].select("id_a", "id_b", "jaccard")),
            "clusters": checksum(out["clusters"].select("file_id", "cluster_id")),
        }

    def op(self, i, timer):
        with timer() as sp:
            out, res = self._run()
        if "truth_recall" not in self.quality:
            # graded once, outside the timed window (on the warm-up):
            # every later operation's clusters must checksum-equal these
            self._recall(out["clusters"])
        release_all()
        return sp, res

    def _recall(self, clusters) -> None:
        tp = family_truth_pairs(
            self.spark, self.files, self.truth, self.cfg.jaccard_threshold, self.cfg.shingle_k
        ).filter(F.col("stratum") == "family")
        self.quality["truth_recall"] = cluster_recall(tp, clusters)["truth_recall"]

    def traced_op(self, i, tracer):
        broadcast = []

        def store_materialize(orig):
            def wrapper(store, name, df, bucket=None):
                with tracer.span(STAGE_LAYERS[name]) as sp:
                    out = orig(store, name, df, bucket)
                    sp.counts["rows_out"] = out.count()
                return out

            return wrapper

        def record(orig):
            def wrapper(*a, **k):
                broadcast.append(orig(*a, **k))
                return broadcast[-1]

            return wrapper

        with contextlib.ExitStack() as stack:
            stack.enter_context(patched(pipeline_mod.CheckpointStore, "materialize", store_materialize))
            stack.enter_context(patched(pipeline_mod, "with_file_id", spanned(tracer, "pipeline.audit")))
            stack.enter_context(patched(pipeline_mod, "verify_pairs", spanned(tracer, "verify")))
            stack.enter_context(
                patched(pipeline_mod, "connected_components", spanned(tracer, "components"))
            )
            stack.enter_context(patched(verify_mod, "feature_table_fits_broadcast", record))
            with tracer.span("pipeline") as root:
                _, res = self._run()
        release_all()
        layers = tracer.layer_totals(tracer.current_op)
        rows = {k: v.get("rows_out", 0) for k, v in layers.items()}
        layers.setdefault("pipeline.audit", {})["rows_out"] = self.n_files
        layers["extra"] = {
            "candidates.verified_per_candidate": rows["verify"] / max(rows["candidates"], 1),
            "pipeline.exact_dup_share": rows["pipeline.exact_dup"] / self.n_files,
            "verify.broadcast": float(bool(broadcast and broadcast[-1])),
            "components.edges": rows["verify"] + rows["pipeline.exact_dup"],
        }
        return root.wall, res, layers

    def check(self, i, outputs):
        n = outputs["clusters"][0]
        return [] if n == self.n_files else [f"clusters cover {n} of {self.n_files} files"]

    def finish(self):
        r = self.quality.get("truth_recall")
        return [] if r is not None and r >= RECALL_FLOOR else [f"truth_recall {r} < {RECALL_FLOOR}"]


class DeltaUpdate(Workload):
    """`incremental_update` of one delta batch against a fixed base."""

    name = "delta_update"

    def generate(self):
        base, deltas = inputs.delta_inputs(self.seed)
        self._write(base, "base", files=INPUT_SPLITS)
        for d, delta in enumerate(deltas):
            self._write(delta.files, f"delta{d}")
        key = ["repo", "path", "commit"]
        self.copies = [
            [
                (tuple(delta.files[key].iloc[a]), tuple(base[key].iloc[b]))
                for a, b in delta.copies
            ]
            for delta in deltas
        ]

    def prepare(self):
        """Builds the base once: S1 shingles and S3/S4 bands, written as
        plain parquet and read back. Nothing here goes through
        caching.track, so release_all() after each delta keeps the base."""
        base = pipeline_mod.with_file_id(self.spark.read.parquet(self._path("base")))
        shingled = shingle_files(base, k=self.cfg.shingle_k, min_freq=self.cfg.min_token_freq)
        sh_path = os.path.join(self.work, "base_shingled")
        shingled.select("file_id", "content_sha", "n_tokens", "shingles", "counts").write.parquet(sh_path)
        self.known_shingled = self.spark.read.parquet(sh_path)
        bands_path = os.path.join(self.work, "base_bands")
        band_files(sign_files(self.known_shingled, self.cfg), self.cfg).write.parquet(bands_path)
        self.known_bands = self.spark.read.parquet(bands_path)

        self.deltas = [
            pipeline_mod.with_file_id(self.spark.read.parquet(self._path(f"delta{d}")))
            for d in range(len(self.copies))
        ]
        self.planted = [self._planted_pairs(pairs) for pairs in self.copies]

    def _planted_pairs(self, pairs) -> list[str]:
        """"id_a:id_b" of each (delta copy, base original) pair, ids computed
        by the engine's own file_id from the natural keys."""
        keys = [k for pair in pairs for k in pair]
        ids = (
            pipeline_mod.with_file_id(self.spark.createDataFrame(keys, ["repo", "path", "commit"]))
            .select("file_id")
            .toPandas()["file_id"]
            .tolist()
        )
        return sorted({"%d:%d" % tuple(sorted(ids[k : k + 2])) for k in range(0, len(ids), 2)})

    @property
    def distinct_ops(self):
        return len(self.deltas)

    def golden_key(self, i):
        return f"delta{i % len(self.deltas)}"

    def _outputs(self, pairs, i):
        planted = F.concat_ws(":", "id_a", "id_b").isin(self.planted[i % len(self.deltas)])
        row = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(checksum_expr(pairs)).alias("s"),
            F.sum(planted.cast("long")).alias("found"),
        ).first()
        self.quality.setdefault("found", {})[i % len(self.deltas)] = int(row["found"] or 0)
        return {self.golden_key(i): [int(row["n"]), int(row["s"] or 0) % 2**64]}

    def _update(self, i):
        return incremental_mod.incremental_update(
            self.deltas[i % len(self.deltas)], self.known_shingled, self.known_bands, self.cfg
        )

    def op(self, i, timer):
        with timer() as sp:
            out = self._update(i)
            res = self._outputs(out["verified_new_pairs"].select("id_a", "id_b", "jaccard"), i)
        release_all()
        return sp, res

    def traced_op(self, i, tracer):
        with patched(incremental_mod, "verify_pairs", spanned(tracer, "incremental.verify")):
            with tracer.span("delta") as root:
                out = self._update(i)
                held = []
                for key, layer in INCREMENTAL.items():
                    with tracer.span(layer) as sp:
                        held.append(out[key].persist())
                        sp.counts["rows_out"] = held[-1].count()
                res = self._outputs(held[-1].select("id_a", "id_b", "jaccard"), i)
        for df in held:
            df.unpersist()
        release_all()
        return root.wall, res, tracer.layer_totals(tracer.current_op)

    def finish(self):
        found = self.quality.get("found", {})
        total = sum(len(self.planted[d]) for d in found)
        self.quality["copy_recall"] = sum(found.values()) / max(total, 1)
        if self.quality["copy_recall"] < RECALL_FLOOR:
            return [f"copy_recall {self.quality['copy_recall']} < {RECALL_FLOOR}"]
        return []


class QueryRoster(Workload):
    """One pass of the 16 headline queries, each consumed by a checksum."""

    name = "query_roster"

    def generate(self):
        for table, pdf in inputs.roster_tables(self.seed).items():
            self._write(pdf, table)

    def prepare(self):
        import __spark_entry__ as entry

        queries = entry.queries()
        self.queries = [(q, queries[q]) for q in HEADLINE]

    def _pass(self, span):
        res = {}
        for q, fn in self.queries:
            with span(q):
                res[q] = checksum(fn(self.spark, self.work))
            release_all()
        return res

    def op(self, i, timer):
        with timer() as sp:
            res = self._pass(lambda q: contextlib.nullcontext())
        return sp, res

    def traced_op(self, i, tracer):
        res = self._pass(lambda q: tracer.span(f"query.{q}"))
        layers = tracer.layer_totals(tracer.current_op)
        return sum(v["wall_s"] for v in layers.values()), res, layers


WORKLOADS = {w.name: w for w in (BatchMixed, DeltaUpdate, QueryRoster)}
