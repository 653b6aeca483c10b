"""The benchmark's workloads.

Each workload owns its seeded inputs and offers:

* ``build_inputs()`` — generate and write the seeded inputs (timed in
  set-up);
* ``run_once(i)`` — one untraced operation, the way a user runs it;
* ``run_traced(tracer, i)`` — the same work, one span per layer call, each
  layer's output materialized by one action before the next call;
* ``check(out)`` — the output gate for one operation (run after the
  operation's timing has stopped);
* ``owns_metric(name)`` — whether its traced run must produce a per-layer
  metric (the other workload's layers do no work here and read 0).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time
from unittest import mock

import numpy as np
import pandas as pd

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
MIN_PAIR_RECALL = 0.99
KERNEL_BATCH = 1024
# the layer functions ``plans.pipeline`` calls by its own module-level
# names; the traced run wraps each where the pipeline looks it up
PIPELINE_LAYERS = (
    "build_signatures",
    "candidate_pairs",
    "verified_edges",
    "exact_edges",
    "connected_components",
    "elect_canonical",
    "dedup_metrics",
)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result table (rows sorted as text)."""
    cols = sorted(pdf.columns)
    lines = sorted(pdf[cols].to_csv(index=False, header=False).splitlines())
    digest = hashlib.sha256(",".join(cols).encode())
    digest.update("\n".join(lines).encode())
    return digest.hexdigest()[:16]


def pair_quality(pred: pd.Series, truth: pd.Series) -> tuple[float, float]:
    """Duplicate-pair (recall, precision) of a clustering against the
    planted one; both Series map item -> cluster label."""
    labels = pd.DataFrame({"p": pred, "t": truth.reindex(pred.index)})

    def pairs(sizes: pd.Series) -> int:
        n = sizes.to_numpy(dtype=np.int64)
        return int((n * (n - 1) // 2).sum())

    both = pairs(labels.groupby(["p", "t"]).size())
    true_pairs = pairs(labels.groupby("t").size())
    found_pairs = pairs(labels.groupby("p").size())
    recall = both / true_pairs if true_pairs else 1.0
    precision = both / found_pairs if found_pairs else 1.0
    return recall, precision


def materialize(df):
    """Run ``df`` once and cut its lineage, the way the engine's own
    ``sources.io.aqe_local_checkpoint`` does on a local master (persist,
    count under AQE, copy to a local checkpoint); also return the rows."""
    from pyspark import StorageLevel

    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    rows = cached.count()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out, rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _median_call_s(fn, *args, repeat: int = 3) -> float:
    times = []
    for _ in range(repeat):
        t = time.perf_counter()
        fn(*args)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class FullDedup:
    """The CLI's batch path with durable stage tables: clips parquet ->
    ``DedupPipeline(spark, checkpoint_dir=<fresh>).run(clips, resume=False)``
    -> ``clusters`` and ``canonical`` parquet outputs, metrics row read."""

    name = "full_dedup"
    scales = {"full": {"clips": 1000}, "smoke": {"clips": 400}}
    dup_fraction = 0.3
    ops_per_run = 1

    def __init__(self, spark, seed: int, scale: str, work_dir: str):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.n_clips = self.scales[scale]["clips"]
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "input")
        self.expected = load_expected().get(self.name, {}).get(scale, {}).get(str(seed))

    @property
    def records(self) -> int:
        return self.n_clips

    def build_inputs(self) -> None:
        self.clips_path, truth = inputs.write_clips(
            self.data_dir, self.n_clips, self.seed, self.dup_fraction
        )
        self.truth = truth.set_index("clip_id")["true_cluster_id"]

    def sizes(self) -> dict:
        return {
            "clips": self.n_clips,
            "dup_fraction": self.dup_fraction,
            "clips_parquet_bytes": os.path.getsize(self.clips_path),
        }

    def _dirs(self, i) -> tuple[str, str]:
        base = os.path.join(self.work_dir, f"op{i}")
        return os.path.join(base, "checkpoints"), os.path.join(base, "out")

    def _write(self, df, out: str, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out, name))

    def run_once(self, i) -> str:
        from entity_deduplication_spark.plans.pipeline import DedupPipeline

        shutil.rmtree(os.path.join(self.work_dir, f"op{i}"), ignore_errors=True)
        ckpt, out = self._dirs(i)
        clips = self.spark.read.parquet(self.clips_path)
        res = DedupPipeline(self.spark, checkpoint_dir=ckpt).run(clips, resume=False)
        self._write(res.clusters, out, "clusters")
        self._write(res.canonical.drop("record_ids"), out, "canonical")
        res.metrics.first()
        return out

    def run_traced(self, tracer, i) -> tuple[str, dict]:
        """``run_once`` on the real pipeline, with each layer function that
        ``plans.pipeline`` calls, and ``CheckpointManager.get_or_compute``,
        swapped for a wrapper that opens a span named after the function's
        module and calls the original; a layer wrapper also materializes
        the layer's output before returning it. The originals are back in
        place when this returns."""
        from entity_deduplication_spark.plans import pipeline as P
        from entity_deduplication_spark.sources.io import CheckpointManager

        rows: dict[str, int] = {}

        def layer(name, fn):
            def traced(*args, **kwargs):
                with tracer.span(name):
                    df, rows[name] = materialize(fn(*args, **kwargs))
                return df

            return traced

        def pairs_after_blocks(sig, cfg):
            # band-table rows are the blocking fan-out the pair join sees;
            # counted in a child span, so candidate_pairs' self time and
            # counters leave it out
            with tracer.span("plans.pipeline.unified_band_table"):
                rows["plans.pipeline.unified_band_table"] = P.unified_band_table(
                    sig, cfg
                ).count()
            return candidate_pairs(sig, cfg)

        candidate_pairs = P.candidate_pairs
        get_or_compute = CheckpointManager.get_or_compute

        def stage(ckpt, name, *args, **kwargs):
            with tracer.span(f"sources.io.CheckpointManager.{name}"):
                return get_or_compute(ckpt, name, *args, **kwargs)

        with contextlib.ExitStack() as patches:
            for attr in PIPELINE_LAYERS:
                fn = getattr(P, attr)
                name = f"{fn.__module__.split('.', 1)[1]}.{fn.__name__}"
                if attr == "candidate_pairs":
                    fn = pairs_after_blocks
                patches.enter_context(mock.patch.object(P, attr, layer(name, fn)))
            patches.enter_context(
                mock.patch.object(CheckpointManager, "get_or_compute", stage)
            )
            out = self.run_once(i)
        return out, {"rows": rows, "checkpoint_dir": self._dirs(i)[0]}

    @staticmethod
    def owns_metric(name: str) -> bool:
        return not name.startswith("query.")

    def layer_ratios(self, traced: dict) -> dict:
        rows = traced["rows"]
        cands = rows["plans.pipeline.candidate_pairs"]
        written = dir_bytes(traced["checkpoint_dir"])
        return {
            "plans.pipeline.candidate_pairs.band_rows_per_clip": rows[
                "plans.pipeline.unified_band_table"
            ]
            / self.n_clips,
            "plans.pipeline.candidate_pairs.pairs_per_clip": cands / self.n_clips,
            "operators.verify.verified_edges.yield": (
                rows["operators.verify.verified_edges"] / cands if cands else 0.0
            ),
            "sources.io.CheckpointManager.bytes_written": written,
            "sources.io.CheckpointManager.bytes_written_per_input_byte": written
            / os.path.getsize(self.clips_path),
        }

    def kernels(self, traced: dict) -> dict:
        """Microseconds per row of the pandas function behind each public
        UDF factory, on the first KERNEL_BATCH clips (by id) of the input
        and the first KERNEL_BATCH candidate pairs, on one core of this
        process (outside Spark), median of three calls."""
        from entity_deduplication_spark.audio.decode import audio_signature_udf
        from entity_deduplication_spark.config import DedupConfig
        from entity_deduplication_spark.functions.hashing import text_signature_udf
        from entity_deduplication_spark.operators.suffix import (
            fingerprints_udf,
            run_verify_udf,
        )

        cfg = DedupConfig()
        ckpt = traced["checkpoint_dir"]
        raw = pd.read_parquet(self.clips_path, columns=["clip_id", "bytes"])
        raw = raw.sort_values("clip_id").head(KERNEL_BATCH)
        sig = pd.read_parquet(
            f"{ckpt}/signatures", columns=["clip_id", "shingles", "transcript_norm"]
        ).set_index("clip_id")
        batch = sig.loc[raw["clip_id"]].reset_index(drop=True)
        pairs = (
            pd.read_parquet(f"{ckpt}/candidate_pairs", columns=["id1", "id2"])
            .sort_values(["id1", "id2"])
            .head(KERNEL_BATCH)
        )
        left = sig["transcript_norm"].reindex(pairs["id1"]).reset_index(drop=True)
        right = sig["transcript_norm"].reindex(pairs["id2"]).reset_index(drop=True)

        asig = audio_signature_udf(
            cfg.frame_ms,
            cfg.hop_ms,
            cfg.audio_shingle_k,
            cfg.audio_quant_levels,
            cfg.minhash_k,
            cfg.minhash_seed,
        ).func
        tsig = text_signature_udf(cfg.minhash_k, cfg.minhash_seed).func
        fps = fingerprints_udf(cfg).func
        verify = run_verify_udf(cfg.min_run_chars).func

        prev = os.sched_getaffinity(0)
        os.sched_setaffinity(0, {min(prev)})
        try:
            n = len(raw)
            out = {
                "kernel.audio_signature.us_per_clip": _median_call_s(
                    asig, raw["bytes"].reset_index(drop=True)
                )
                / n,
                "kernel.text_signature.us_per_clip": _median_call_s(
                    tsig, batch["shingles"]
                )
                / n,
                "kernel.fingerprints.us_per_clip": _median_call_s(
                    fps, batch["transcript_norm"]
                )
                / n,
                "kernel.run_verify.us_per_pair": _median_call_s(verify, left, right)
                / max(len(pairs), 1),
            }
        finally:
            os.sched_setaffinity(0, prev)
        return {k: v * 1e6 for k, v in out.items()}

    def check(self, out: str) -> dict:
        clusters = pd.read_parquet(f"{out}/clusters", columns=["clip_id", "cluster_id"])
        canonical = pd.read_parquet(f"{out}/canonical", columns=["cluster_id"])
        n_clusters = int(clusters["cluster_id"].nunique())
        result = {
            "clusters": n_clusters,
            "hash": frame_hash(clusters),
            "errors": [],
        }
        if len(clusters) != self.n_clips or clusters["clip_id"].nunique() != self.n_clips:
            result["errors"].append("clusters do not hold every clip exactly once")
        if len(canonical) != n_clusters:
            result["errors"].append(
                f"canonical has {len(canonical)} rows for {n_clusters} clusters"
            )
        recall, precision = pair_quality(
            clusters.set_index("clip_id")["cluster_id"], self.truth
        )
        result["pair_recall"], result["pair_precision"] = recall, precision
        if recall < MIN_PAIR_RECALL:
            result["errors"].append(f"pair_recall {recall:.4f} < {MIN_PAIR_RECALL}")
        if self.expected is not None and [n_clusters, result["hash"]] != self.expected:
            result["errors"].append(
                f"clusters (count, hash) {[n_clusters, result['hash']]} != "
                f"recorded {self.expected}"
            )
        result["failed_ops"] = int(bool(result["errors"]))
        return result

    def record_value(self, result: dict):
        return [result["clusters"], result["hash"]]


class SimilarityQueries:
    """Five ``__spark_entry__`` operator queries in sequence over seeded
    ``documents`` and ``part`` tables, each collected to the driver."""

    name = "similarity_queries"
    queries = (
        "fuzzy_part_name_pairs",
        "dedup_minhash_lsh_clusters",
        "dedup_ngram_jaccard_pairs",
        "dedup_simhash_pairs",
        "clustering_agreement",
    )
    scales = {"full": {"docs": 1000, "parts": 4000}, "smoke": {"docs": 200, "parts": 800}}
    ops_per_run = len(queries)

    def __init__(self, spark, seed: int, scale: str, work_dir: str):
        import __spark_entry__

        self.spark, self.seed, self.scale = spark, seed, scale
        self.n_docs = self.scales[scale]["docs"]
        self.n_parts = self.scales[scale]["parts"]
        self.data_dir = os.path.join(work_dir, "input")
        self.registry = __spark_entry__.queries()
        self.expected = load_expected().get(self.name, {}).get(scale, {}).get(str(seed))

    @property
    def records(self) -> int:
        return self.n_docs + self.n_parts

    def build_inputs(self) -> None:
        self.truth = pd.Series(
            inputs.write_query_tables(self.data_dir, self.n_docs, self.n_parts, self.seed)
        )

    def sizes(self) -> dict:
        return {"documents": self.n_docs, "part": self.n_parts}

    def _query(self, name: str) -> pd.DataFrame:
        return self.registry[name](self.spark, self.data_dir).toPandas()

    def run_once(self, i) -> dict:
        out = {}
        for name in self.queries:
            try:
                out[name] = self._query(name)
            except Exception as exc:  # one failed query is one failed op
                out[name] = exc
        return out

    def run_traced(self, tracer, i) -> tuple[dict, dict]:
        out = {}
        for name in self.queries:
            with tracer.span(f"query.{name}"):
                out[name] = self._query(name)
        rows = {f"query.{q}": len(df) for q, df in out.items()}
        return out, {"rows": rows}

    @staticmethod
    def owns_metric(name: str) -> bool:
        return name.startswith(("query.", "run."))

    def layer_ratios(self, traced: dict) -> dict:
        return {}

    def kernels(self, traced: dict) -> dict:
        return {}

    def check(self, out: dict) -> dict:
        result = {"queries": {}, "errors": []}
        failed = set()

        def fail(name: str, msg: str) -> None:
            failed.add(name)
            result["errors"].append(f"{name}: {msg}")

        for name in self.queries:
            df = out[name]
            if isinstance(df, Exception):
                fail(name, f"{type(df).__name__}: {df}")
                continue
            got = [len(df), frame_hash(df)]
            result["queries"][name] = got
            if self.expected is not None and got != self.expected.get(name):
                fail(name, f"(rows, hash) {got} != recorded {self.expected.get(name)}")
        lsh = out["dedup_minhash_lsh_clusters"]
        if not isinstance(lsh, Exception):
            recall, precision = pair_quality(
                lsh.set_index("doc_id")["cluster_id"], self.truth
            )
            result["pair_recall"], result["pair_precision"] = recall, precision
            if recall < MIN_PAIR_RECALL:
                fail("dedup_minhash_lsh_clusters", f"pair_recall {recall:.4f}")
        result["failed_ops"] = len(failed)
        return result

    def record_value(self, result: dict):
        return result["queries"]


WORKLOADS = {w.name: w for w in (FullDedup, SimilarityQueries)}
