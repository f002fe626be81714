"""The benchmark's workloads.

Each workload is one closed loop with one client: passes run back to
back in the driver process, each pass one fixed unit of work. A workload
builds its inputs from the seed in ``setup``, times ``run_pass`` and
checks the outputs of its last pass in ``check``, outside every timed
window. ``run_pass`` returns the times of the workload's user-facing
operations inside the pass (an archive round trip, a query call);
``layers`` turns the traced passes' spans into per-layer figures.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

import stats
from spans import STAGE_FIELDS, stage_stats

from bensp_suite_spark.dedup import pipeline as dedup
from bensp_suite_spark.dedup.fixtures import FILES_SCHEMA


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stage_sum(spans, prefix: str) -> dict:
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for s in spans:
        if s["path"].endswith(prefix):
            for k in STAGE_FIELDS:
                out[k] += s[k]
    return out


def _per_pass(total: dict, passes: int) -> dict:
    return {k: v / passes for k, v in total.items()}


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        os.makedirs(work, exist_ok=True)

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int) -> list[float]:
        raise NotImplementedError

    def check(self) -> tuple[bool, str]:
        raise NotImplementedError

    def layers(self, spans: list[dict], passes: int) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# dedup_roundtrip
# ---------------------------------------------------------------------------

class DedupRoundtrip(Workload):
    """Batch encode of a high-duplication, incompressible corpus to the
    Parquet ddp table, then decode of that table."""

    name = "dedup_roundtrip"
    FILES = 128
    FILE_BYTES = 1 << 18  # 32 MiB per pass
    REUSE = 4  # every 16 KiB block of the corpus occurs 4 times

    def setup(self) -> None:
        import corpus

        pdf = pd.DataFrame({
            "file_id": np.arange(self.FILES, dtype=np.int64),
            "content": corpus.files(self.seed, self.FILES, self.FILE_BYTES, self.REUSE),
        })
        files = self.spark.createDataFrame(pdf, FILES_SCHEMA).repartition(self.FILES // 8)
        self.files = files.persist()
        self.expected = {
            r["file_id"]: r["h"]
            for r in self.files.select("file_id", F.sha1("content").alias("h")).collect()
        }
        self.input_bytes = self.FILES * self.FILE_BYTES
        self.ddp_dir = os.path.join(self.work, "ddp")
        self.dec_dir = os.path.join(self.work, "decoded")

    def run_pass(self, i: int) -> list[float]:
        t0 = time.perf_counter()
        with self.tracer.span("dedup.encode"):
            dedup.encode(self.files).write.mode("overwrite").parquet(self.ddp_dir)
        with self.tracer.span("dedup.decode"):
            dedup.decode(self.spark.read.parquet(self.ddp_dir)).write.mode(
                "overwrite").parquet(self.dec_dir)
        return [time.perf_counter() - t0]

    def check(self) -> tuple[bool, str]:
        got = {
            r["file_id"]: r["h"]
            for r in self.spark.read.parquet(self.dec_dir)
            .select("file_id", F.sha1("content").alias("h")).collect()
        }
        if got != self.expected:
            bad = sorted(set(got.items()) ^ set(self.expected.items()))[:3]
            return False, f"decoded bytes differ from the input, e.g. {bad}"
        return True, f"{len(got)} files decode byte-identical"

    def archive_figures(self) -> dict:
        r = self.spark.read.parquet(self.ddp_dir).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("rtype") == dedup.TYPE_FINGERPRINT, 1).otherwise(0)).alias("d"),
            F.sum(F.coalesce(F.length("payload"), F.lit(0))).alias("p"),
        ).first()
        return {
            "dedup.chunks": r["n"],
            "dedup.dup_ratio": r["d"] / r["n"],
            "dedup.archive_ratio": stats.ddp_bytes(r["n"], r["p"]) / self.input_bytes,
        }

    def kernel_figures(self) -> dict:
        """The fused chunk+hash+compress kernel alone (noop sink), over
        the corpus on all cores and over one partition (one core)."""
        files = self.files
        corpus_mb = self.input_bytes / 1e6

        def timed(df) -> float:
            t0 = time.perf_counter()
            _noop(dedup.chunk_hash_compress_jvm(df, with_payload=True))
            return time.perf_counter() - t0

        kernel_s = stats.median([timed(files) for _ in range(3)])
        one_core_s = min(timed(files.coalesce(1)) for _ in range(2))
        return {
            "dedup.kernel_s": kernel_s,
            "dedup.kernel_mbps": corpus_mb / kernel_s,
            "dedup.kernel_mbps_1c": corpus_mb / one_core_s,
        }

    def layers(self, spans: list[dict], passes: int) -> dict:
        enc = [s["wall_s"] for s in spans if s["name"] == "dedup.encode"]
        dec = [s["wall_s"] for s in spans if s["name"] == "dedup.decode"]
        out = {"dedup.encode_s": stats.median(enc), "dedup.decode_s": stats.median(dec)}
        for prefix in ("dedup.encode", "dedup.decode"):
            for k, v in _per_pass(_stage_sum(spans, prefix), passes).items():
                out[f"{prefix}.{k}"] = v
        out.update(self.archive_figures())
        out.update(self.kernel_figures())
        out["dedup.encode_self_s"] = out["dedup.encode_s"] - out["dedup.kernel_s"]
        return out


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class _ProgressListener:
    """Collects the progress of every stream the declared queries run.
    ``onQueryStarted`` is delivered synchronously with ``start()``; the
    other events arrive later, so ``wait`` blocks until each stream has
    reported its termination."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: set[str] = set()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    "run_id": str(p.runId),
                    "ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated.add(str(event.runId))

        spark.streams.addListener(_L())

    def wait(self, run_ids, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while not set(run_ids) <= self.terminated:
            if time.monotonic() > deadline:
                raise RuntimeError(f"streams {sorted(set(run_ids) - self.terminated)} "
                                   "never reported termination")
            time.sleep(0.005)


class _Collected:
    """Rows already collected, in the shape ``oracle.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


#: one declared query per registry family that fits the run budget, each
#: with a DuckDB oracle over the generated tables
QUERY_MIX = (
    "q5_regional_revenue",
    "dedup_exact_text",
    "ann_cosine_topk",
    "stream_windowed_metrics",
    "ferret_topk_single_region",
)


class QueryMix(Workload):
    """A fixed list of declared queries over generated sf0.01-size
    tables; each call builds the DataFrame, then runs a noop write. The
    cold first pass collects the rows instead, for the oracle check."""

    name = "query_mix"

    def setup(self) -> None:
        import sfgen
        from bensp_suite_spark import queries

        self.queries = queries
        self.sf_dir = sfgen.write(self.seed, os.path.join(self.work, "sf"))
        self.cold: dict[str, object] = {}
        self.streams = _ProgressListener(self.spark)
        self.traced_runs: list[str] = []

    def run_pass(self, i: int) -> list[float]:
        ops = []
        n0 = len(self.streams.started)
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            with self.tracer.span(f"query.{name}.build"):
                df = self.queries.QUERIES[name](self.spark, self.sf_dir)
            with self.tracer.span(f"query.{name}.action"):
                if i == 0:  # the cold call's rows, kept for the oracle check
                    self.cold[name] = _Collected(df.toPandas())
                else:
                    _noop(df)
            ops.append(time.perf_counter() - t0)
        if self.tracer.enabled:
            self.traced_runs += self.streams.started[n0:]
        return ops

    def check(self) -> tuple[bool, str]:
        import oracle

        for name in QUERY_MIX:
            ok, msg = oracle.compare(self.cold[name], self.queries.ORACLES[name], self.sf_dir)
            if not ok:
                return False, f"{name}: {msg}"
        return True, f"{len(QUERY_MIX)} cold calls match their oracles"

    def layers(self, spans: list[dict], passes: int) -> dict:
        out = {}
        lat = []
        for name in QUERY_MIX:
            b = [s for s in spans if s["name"] == f"query.{name}.build"]
            a = [s for s in spans if s["name"] == f"query.{name}.action"]
            out[f"query.{name}.build_s"] = stats.median([s["wall_s"] for s in b])
            out[f"query.{name}.action_s"] = stats.median([s["wall_s"] for s in a])
            out[f"query.{name}.jobs"] = sum(s["jobs"] for s in b + a) / passes
            lat += [x["wall_s"] + y["wall_s"] for x, y in zip(b, a)]
        for k in ("build_s", "action_s", "jobs"):
            out[f"queries.{k}"] = sum(out[f"query.{n}.{k}"] for n in QUERY_MIX)
        out["queries.p50_s"] = stats.median(lat)
        out.update(self.stream_figures(passes))
        out.update(self.ferret_figures())
        return out

    def ferret_figures(self) -> dict:
        """The paper's ferret chain on JPEG input, layer by layer: extract
        (``images_to_vecsets``: Load, Segment, Extract) of the images of
        the declared ``multimodal_image_search_jpeg`` query, the LSH index
        build (mkdb), the LSH probe alone and the probe plus EMD rank, each
        materialized by a noop write once its path has run. Top-K recall
        of the LSH search is taken against the exhaustive one."""
        from bensp_suite_spark.ferret import pipeline as FP
        from bensp_suite_spark.multimodal import images as IM

        imgs = IM.synthetic_jpeg_images(self.spark, n=12, size=32).persist()
        imgs.count()
        dim, k = 14, 3

        def timed(make) -> float:
            t0 = time.perf_counter()
            _noop(make())
            return time.perf_counter() - t0

        # each path runs once untimed, and is timed before it is cached:
        # a cached plan would be read back instead of computed
        timed(lambda: IM.images_to_vecsets(imgs))
        out = {"images.extract_s": timed(lambda: IM.images_to_vecsets(imgs))}
        vecsets = IM.images_to_vecsets(imgs).persist()
        regions = FP.explode_regions(vecsets, "c")
        out["images.regions"] = regions.count()
        timed(lambda: FP.build_lsh_index(regions, dim))
        out["ferret.index_build_s"] = timed(lambda: FP.build_lsh_index(regions, dim))
        index = FP.build_lsh_index(regions, dim).persist()
        probe = lambda: FP.candidates_lsh(  # noqa: E731
            FP.explode_regions(vecsets, "q"), regions, dim, per_region_k=2 * k, corpus_index=index)
        out["ferret.candidates"] = probe().count()
        out["ferret.probe_s"] = timed(probe)
        lsh = lambda: FP.ferret_topk(vecsets, vecsets, top_k=k, dim=dim, mode="lsh",  # noqa: E731
                                     corpus_index=index)
        got = {(r["q_image_id"], r["name"]) for r in lsh().collect()}
        out["ferret.rank_s"] = timed(lsh) - out["ferret.probe_s"]
        want = {(r["q_image_id"], r["name"])
                for r in FP.ferret_topk(vecsets, vecsets, top_k=k, dim=dim).collect()}
        if len(got) != 12 * k or len(want) != 12 * k:
            raise RuntimeError(f"ferret top-{k}: {len(got)} LSH and {len(want)} exhaustive "
                               f"rows for 12 query images")
        out["ferret.recall_at_k"] = len(got & want) / len(want)
        for df in (index, vecsets, imgs):
            df.unpersist()
        return out

    def stream_figures(self, passes: int) -> dict:
        """Per-trigger layers of the streams the traced passes ran, from
        their progress ``durationMs``; state from the last trigger of
        each stream; stage figures from the stream thread's job group
        (the run id)."""
        self.streams.wait(self.traced_runs)
        runs = set(self.traced_runs)
        prog = [p for p in self.streams.progress if p["run_id"] in runs]
        if not prog:
            return {}

        def per_pass(*keys):
            return sum(p["ms"].get(k, 0) for p in prog for k in keys) / 1e3 / passes

        trig = [p["ms"]["triggerExecution"] / 1e3 for p in prog]
        last = {p["run_id"]: p for p in prog}
        out = {
            "streaming.triggers": len(prog) / passes,
            "streaming.trigger_p50_s": stats.median(trig),
            "streaming.plan_s": per_pass("queryPlanning"),
            "streaming.add_batch_s": per_pass("addBatch"),
            "streaming.commit_s": per_pass("walCommit", "commitOffsets"),
            "streaming.source_s": per_pass("latestOffset", "getBatch"),
            "streaming.state_rows": sum(p["state_rows"] for p in last.values()) / passes,
            "streaming.state_mb": sum(p["state_bytes"] for p in last.values()) / 1e6 / passes,
        }
        stage = dict.fromkeys(STAGE_FIELDS, 0.0)
        for run_id in runs:
            for k, v in stage_stats(self.spark.sparkContext, run_id).items():
                if k in stage:
                    stage[k] += v
        for k, v in _per_pass(stage, passes).items():
            out[f"streaming.{k}"] = v
        return out


WORKLOADS = {w.name: w for w in (DedupRoundtrip, QueryMix)}
