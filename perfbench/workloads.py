"""The benchmark's workloads. Each drives the engine only through its public
API: it generates seeded inputs, runs one operation at a time (a pipeline
pass or a stream wave), checks the outputs against golden pairs derived from
the same seed, and reads per-layer counters from outside.

A workload's life: ``setup()`` (inputs, golden pairs, warm-up) -> ``op()``
repeated for the measured window -> ``finish()`` (the reader's operation and
the final checks) -> ``metrics()``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.fixtures.generator import (
    CorpusPlan,
    spark_images_df,
    spark_videos_df,
)
from ordinarydumpdeduplicator_spark.functions.text import jaccard, shingles
from ordinarydumpdeduplicator_spark.operators.dedup_eval import dedup_pair_metrics
from ordinarydumpdeduplicator_spark.operators.lsh import combined_candidates
from ordinarydumpdeduplicator_spark.operators.video_dedup import (
    VIDEO_FP_SCHEMA,
    video_fingerprints,
)
from ordinarydumpdeduplicator_spark.plans.pipeline import (
    NearDupPipeline,
    PipelineConfig,
)
from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
    load_media_verdicts,
    stream_media_novelty,
)
from ordinarydumpdeduplicator_spark.streaming.near_dup import (
    load_assignments,
    stream_near_dup_clusters,
)

from .observe import MIB, covered, file_sizes, median, tree_bytes, written_since

RECALL_BAR = 0.99
READER_REPEATS = 5
CAPTION_NEAR_MIN_JACCARD = 0.65  # the generator's golden-pair cut
LAYOUT_SEED = 0

# Sizes per preset. "full" is what BENCHMARK.json runs; "smoke" exercises
# every code path in seconds.
SIZES = {
    "full": dict(
        batch_rows=800,
        history_rows=600,
        caption_wave_rows=200,
        media_wave_rows=60,
        max_waves=2,
    ),
    "smoke": dict(
        batch_rows=150,
        history_rows=150,
        caption_wave_rows=40,
        media_wave_rows=20,
        max_waves=2,
    ),
}
BATCH_IMG = dict(img_size=(256, 192), fmts=("png", "jpg"))
# The caption stream's auto prune policy engages once the rep+band index
# passes this many bytes. The engine default (64 MiB) needs ~2e5 history
# images, far beyond one run's budget. At 0 the policy engages on the
# history batch, which builds the bloom snapshot, so every timed wave
# takes the bloom-probed, shard-pruned read path.
CAPTION_PRUNE_MIN_BYTES = 0

IMAGES_ARROW = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
VIDEOS_ARROW = pa.schema([("video_id", pa.string()), ("bytes", pa.binary())])

class Context:
    """What every workload needs: the session, the seed, a private work
    directory, the size preset and the tracer (None when untraced)."""

    def __init__(self, spark, seed: int, work: str, size: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.sizes = SIZES[size]
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext({})


# ---------------------------------------------------------------- golden


def image_golden(n: int, captions: dict[str, str], classes) -> pd.DataFrame:
    """Golden pairs of an ``n``-row ``spark_images_df`` corpus, with
    ``make_corpus`` semantics: every pair inside a planted group of one
    of ``classes``. Caption near pairs count only where the measured
    shingle Jaccard of their two captions reaches the generator's cut.
    Derived from the corpus plan, so no driver-side image is decoded."""
    plan = CorpusPlan.make(n)
    groups: dict[tuple, list[str]] = {}
    for i in range(n):
        cls, unit, _ = plan.locate(i)
        if cls not in classes:
            continue
        key = (cls,) if cls in ("empty", "hot") else (cls, unit)
        groups.setdefault(key, []).append(f"img_{i:09d}")
    rows = []
    for key, ids in groups.items():
        if key[0] == "caption_near":
            a, b = ids
            if jaccard(shingles(captions[a]), shingles(captions[b])) < (
                CAPTION_NEAR_MIN_JACCARD
            ):
                continue
        rows += [(a, b, key[0]) for a, b in itertools.combinations(sorted(ids), 2)]
    return pd.DataFrame(rows, columns=["id_a", "id_b", "kind"])


def video_golden(n: int) -> pd.DataFrame:
    """Planted pairs of an ``n``-row ``spark_videos_df`` corpus: units of
    two, unit % 10 in (0, 1, 2) -> exact, remux, near."""
    kinds = {0: "exact", 1: "remux", 2: "near"}
    rows = [
        (f"v{2 * u:09d}", f"v{2 * u + 1:09d}", kinds[u % 10])
        for u in range(n // 2)
        if u % 10 in kinds
    ]
    return pd.DataFrame(rows, columns=["id_a", "id_b", "kind"])


def pair_counts(spark, assignments, golden: pd.DataFrame, id_col: str) -> dict:
    """``dedup_pair_metrics`` of ``assignments`` against ``golden``."""
    gdf = spark.createDataFrame(golden[["id_a", "id_b"]], "id_a string, id_b string")
    [r] = dedup_pair_metrics(
        assignments, gdf, id_col=id_col, id_a="id_a", id_b="id_b"
    ).collect()
    return dict(n_golden=r.n_golden, n_hit=r.n_hit, n_predicted=r.n_predicted)


def recall_precision(counts: list[dict]) -> dict:
    """Pooled pair recall and precision over one or more count sets."""
    hit = sum(c["n_hit"] for c in counts)
    return dict(
        recall=hit / max(sum(c["n_golden"] for c in counts), 1),
        precision=hit / max(sum(c["n_predicted"] for c in counts), 1),
    )


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _counted(df):
    df.count()
    return df


def timed_median(fn, repeats: int = READER_REPEATS) -> tuple[float, object]:
    walls, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return median(walls), out


def _task_summary(rec: dict | None, lo: float, hi: float) -> dict:
    """Event-log totals of one span or wave; driver gap = wall minus the
    time any of its tasks ran."""
    rec = rec or dict(jobs=0, tasks=0, task_s=0.0, input_bytes=0,
                      input_records=0, shuffle_write_bytes=0, intervals=[])
    return dict(
        jobs=rec["jobs"],
        tasks=rec["tasks"],
        task_s=rec["task_s"],
        input_mb=rec["input_bytes"] / MIB,
        input_records=rec["input_records"],
        shuffle_mb=rec["shuffle_write_bytes"] / MIB,
        driver_gap_s=(hi - lo) - covered(rec["intervals"], lo, hi),
    )


# ----------------------------------------------------------------- batch


class BatchDecode:
    """``NearDupPipeline.run`` in checkpointed mode over 256x192 png/jpg
    payloads: one pass runs every batch layer, decode/fingerprint UDF
    included."""

    name = "batch_decode"
    max_ops = 1000

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n = ctx.sizes["batch_rows"]
        self.last_ck = None

    def setup(self) -> None:
        spark, ctx = self.ctx.spark, self.ctx
        path = ctx.path("input")
        t0 = time.perf_counter()
        spark_images_df(spark, self.n, seed=ctx.seed, **BATCH_IMG).write.parquet(path)
        log(f"generated {self.n} images in {time.perf_counter() - t0:.1f}s")
        self.images = spark.read.parquet(path)
        self.expected_rows = self.images.filter(F.col("bytes").isNotNull()).count()
        caps = {
            r.image_id: r.caption
            for r in self.images.select("image_id", "caption").collect()
        }
        self.golden = image_golden(
            self.n, caps, ("exact", "empty", "image_near", "caption_near", "hot")
        )
        # one untimed pass, so the timed ones find the Python workers and
        # the JIT warm (the JIT keeps speeding passes up for about ten more
        # passes; each run times the same ones, so this is a fixed trend)
        warm = self._pass("warmup")
        shutil.rmtree(warm["ck"])
        log(f"warm-up pass {warm['wall']:.1f}s")

    def _pass(self, tag: str, tracer=None) -> dict:
        """One pipeline pass into a fresh checkpoint dir. Untraced it is
        one ``run()`` call; traced, the four stage calls, each in a span."""
        ck = self.ctx.path("ck", tag)
        shutil.rmtree(ck, ignore_errors=True)
        cfg = PipelineConfig(checkpoint_dir=ck)
        pipe = NearDupPipeline(self.ctx.spark, cfg)
        res = dict(ck=ck, cfg=cfg, spans={})
        t0 = time.perf_counter()
        if tracer is None:
            clusters = pipe.run(self.images)["clusters"]
        else:
            spans = res["spans"]
            with tracer.span("pass"):
                with tracer.span("features") as spans["features"]:
                    res["feats"] = pipe.features(self.images)
                with tracer.span("edges") as spans["edges"]:
                    res["edges"] = pipe.edges(self.images, res["feats"])
                with tracer.span("cc") as spans["cc"]:
                    assign = pipe.components(res["edges"])
                with tracer.span("clusters") as spans["clusters"]:
                    clusters = pipe.clusters(res["feats"], assign)
                pipe.write_metrics()
        res["n_out"] = clusters.count()
        res["wall"] = time.perf_counter() - t0
        res["clusters"] = clusters
        return res

    def op(self, i: int) -> dict:
        res = self._pass(f"pass_{i}", self.ctx.tracer)
        if self.last_ck is not None:
            shutil.rmtree(self.last_ck, ignore_errors=True)
        self.last_ck = res["ck"]
        out = dict(rows=self.n, wall=res["wall"], ok=res["n_out"] == self.expected_rows)
        if res["spans"]:
            out["layers"] = self._layer_counters(res)
        return out

    def _layer_counters(self, res: dict) -> dict:
        """Counters read outside the stage spans: the package's own stage
        metrics rows, the checkpoint files, and a side call to
        ``combined_candidates`` for the candidate volume."""
        cfg = res["cfg"]
        by_stage = {m["stage"]: m for m in cfg.metrics}
        kinds = {r["kind"]: r["count"] for r in res["edges"].groupBy("kind").count().collect()}
        cfg_def = PipelineConfig()
        pairs, _, _ = combined_candidates(
            res["feats"], phash_mode=cfg_def.phash_band_mode, bucket_cap=cfg_def.bucket_cap
        )
        pc = pairs.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("capped").cast("long")).alias("capped"),
        ).collect()[0]
        run_dir = os.path.join(res["ck"], cfg.run_id)
        files = {}
        for stage in ("features", "edges", "cc", "clusters"):
            sizes = file_sizes(os.path.join(run_dir, stage))
            files[stage] = dict(
                mb=sum(sizes.values()) / MIB,
                files=sum(1 for k in sizes if k.endswith(".parquet")),
            )
        return dict(
            spans={k: (v["id"], v["start"], v["end"]) for k, v in res["spans"].items()},
            rows={s: by_stage.get(s, {}).get("rows_out") or 0 for s in by_stage},
            cc=by_stage.get("cc", {}),
            kinds=kinds,
            candidate_pairs=int(pc["n"] or 0),
            capped_pairs=int(pc["capped"] or 0),
            files=files,
        )

    def finish(self) -> dict:
        """The reader's operation on the last pass's ``clusters`` stage.
        Every pass is deterministic, so its pair check stands for all."""
        path = os.path.join(self.last_ck, PipelineConfig().run_id, "clusters")
        load_s, clusters = timed_median(
            lambda: _counted(self.ctx.spark.read.parquet(path))
        )
        pm = recall_precision(
            [pair_counts(self.ctx.spark, clusters, self.golden, "image_id")]
        )
        return dict(
            result_load_s=load_s,
            ok=clusters.count() == self.expected_rows and pm["recall"] >= RECALL_BAR,
            rows_total=self.n,
            stored=tree_bytes(self.last_ck),
            **pm,
        )

    def layer_metrics(self, ops: list[dict], attributed: dict, group_of) -> dict:
        per_op = []
        for op in ops:
            lay = op.get("layers")
            if not lay:
                continue
            m = {}
            for stage in ("features", "edges", "cc", "clusters"):
                sid, lo, hi = lay["spans"][stage]
                t = _task_summary(attributed.get(group_of(sid)), lo, hi)
                m[f"{stage}.wall_s"] = hi - lo
                m[f"{stage}.task_s"] = t["task_s"]
                m[f"{stage}.driver_gap_s"] = t["driver_gap_s"]
                m[f"{stage}.jobs"] = t["jobs"]
                m[f"{stage}.input_mb"] = t["input_mb"]
                m[f"{stage}.shuffle_mb"] = t["shuffle_mb"]
            m["features.rows"] = lay["rows"].get("features", 0)
            for kind in ("exact", "pixel_exact", "caption_exact", "phash_exact",
                         "caption_near", "image_near"):
                m[f"edges.rows.{kind}"] = lay["kinds"].get(kind, 0)
            m["edges.candidate_pairs"] = lay["candidate_pairs"]
            m["edges.capped_pairs"] = lay["capped_pairs"]
            near = lay["kinds"].get("caption_near", 0) + lay["kinds"].get("image_near", 0)
            m["edges.verify_yield"] = near / max(lay["candidate_pairs"], 1)
            m["cc.input_edges"] = lay["cc"].get("n_input_edges", 0)
            m["cc.rounds"] = lay["cc"].get("rounds", 0)
            m["cc.assignments"] = lay["cc"].get("n_assignments", 0)
            m["clusters.rows"] = lay["rows"].get("clusters", 0)
            for stage, rec in lay["files"].items():
                m[f"checkpoint.mb_written.{stage}"] = rec["mb"]
                m[f"checkpoint.files.{stage}"] = rec["files"]
            per_op.append(m)
        keys = {k for m in per_op for k in m}
        return {k: median(m.get(k, 0) for m in per_op) for k in keys}


# --------------------------------------------------------------- streams


class _Stream:
    """One incremental stream driven wave by wave: each wave is one parquet
    file renamed into the stream's input directory, then one
    ``availableNow`` query over it (a closed loop)."""

    id_col = "image_id"
    stores: tuple[str, ...] = ()
    layer = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = ctx.path(self.layer)
        self.inp = os.path.join(self.root, "in")
        self.state = os.path.join(self.root, "state")
        self.ck = os.path.join(self.root, "ck")
        self.staged: list[tuple[str, int, list[str]]] = []
        self.ingested: list[str] = []

    def _stage_files(self, chunks: list[pd.DataFrame], schema: pa.Schema) -> None:
        stage = os.path.join(self.root, "stage")
        os.makedirs(stage, exist_ok=True)
        os.makedirs(self.inp, exist_ok=True)
        for k, pdf in enumerate(chunks):
            path = os.path.join(stage, f"wave-{k:04d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path
            )
            self.staged.append((path, len(pdf), list(pdf[self.id_col])))

    def start(self):
        raise NotImplementedError

    def append(self) -> int:
        """Move the next staged file into the input directory."""
        path, rows, ids = self.staged.pop(0)
        os.replace(path, os.path.join(self.inp, os.path.basename(path)))
        self.ingested += ids
        return rows

    def wave(self) -> dict:
        """Append the next staged file and run one query over it. The
        wave's latency runs from the append until the query terminated
        with its state committed."""
        before = file_sizes(self.state)
        with self.ctx.span(f"{self.layer}_wave"):
            t0 = time.perf_counter()
            rows = self.append()
            with self.ctx.span("start"):
                q = self.start()
            t1 = time.perf_counter()
            with self.ctx.span("await"):
                q.awaitTermination()
            t2 = time.perf_counter()
        log(f"{self.layer} wave of {rows} rows: {t2 - t0:.1f}s")
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        dur: dict[str, int] = {}
        for p in progress:
            for k, v in (p.get("durationMs") or {}).items():
                dur[k] = dur.get(k, 0) + v
        n_in = sum(p["numInputRows"] for p in progress)
        return dict(
            rows=rows,
            wall=t2 - t0,
            ok=n_in >= rows,
            run_id=str(q.runId),
            start_s=t1 - t0,
            progress=dur,
            num_input_rows=n_in,
            written=written_since(before, file_sizes(self.state)),
        )

    def ingested_golden(self) -> pd.DataFrame:
        ids = set(self.ingested)
        g = self.golden
        return g[g.id_a.isin(ids) & g.id_b.isin(ids)]

    def layer_metrics(self, waves: list[dict], attributed: dict) -> dict:
        """Per-wave medians (plus first and last wave) of this stream's
        batch and state layers."""
        lay, m = self.layer, {}
        add_batch = [w["progress"].get("addBatch", 0) / 1000.0 for w in waves]
        m[f"{lay}_batch.wall_s"] = median(add_batch)
        m[f"{lay}_batch.wall_first_s"] = add_batch[0]
        m[f"{lay}_batch.wall_last_s"] = add_batch[-1]
        m[f"{lay}_batch.wall_slope_s_per_wave"] = float(
            np.polyfit(np.arange(len(add_batch)), add_batch, 1)[0]
        )
        m[f"{lay}_batch.source_scans"] = median(
            w["num_input_rows"] / w["rows"] for w in waves
        )
        tasks = [_task_summary(attributed.get(w["run_id"]), 0.0, 0.0) for w in waves]
        for k in ("jobs", "tasks", "shuffle_mb"):
            m[f"{lay}_batch.{k}"] = median(t[k] for t in tasks)
        # records the wave's tasks read beyond its own source rows: state
        # reads, plus the read-backs of what the wave just wrote
        m[f"{lay}_state.rows_read"] = median(
            t["input_records"] - w["num_input_rows"] for t, w in zip(tasks, waves)
        )
        for store in self.stores:
            m[f"{lay}_state.mb_written.{store}"] = median(
                w["written"].get(store, {}).get("bytes", 0) / MIB for w in waves
            )
        m[f"{lay}_state.files"] = median(
            sum(r["files"] for r in w["written"].values()) for w in waves
        )
        m[f"{lay}_state.total_mb"] = tree_bytes(self.state) / MIB
        # bloom snapshots are written only once the prune policy engaged
        m[f"{lay}_state.prune_engaged"] = float(
            all("blooms" in w["written"] for w in waves)
        )
        return m


class CaptionStream(_Stream):
    """``stream_near_dup_clusters`` on a preloaded history large enough
    for the auto policy to engage bloom-pruned state reads."""

    stores = ("captions", "reps", "bands", "assign", "blooms")
    layer = "caption"

    def prepare(self) -> None:
        ctx, spark, sz = self.ctx, self.ctx.spark, self.ctx.sizes
        hist = sz["history_rows"]
        wave = sz["caption_wave_rows"]
        n = hist + wave * sz["max_waves"]
        corpus = os.path.join(self.root, "corpus")
        spark_images_df(spark, n, seed=ctx.seed).write.parquet(corpus)
        pdf = spark.read.parquet(corpus).toPandas()
        pdf = pdf.sort_values("image_id").reset_index(drop=True)
        # a shuffle, so every wave mixes the planted classes and planted
        # pairs straddle waves and the history. The seed picks the images'
        # content, not the layout: a per-seed layout changes how much
        # state each wave touches and spreads wave latency across seeds
        pdf = pdf.iloc[np.random.default_rng(LAYOUT_SEED).permutation(n)]
        cuts = [0] + [hist + wave * k for k in range(sz["max_waves"] + 1)]
        self._stage_files([pdf.iloc[a:b] for a, b in zip(cuts, cuts[1:])], IMAGES_ARROW)
        self.golden = image_golden(
            n, dict(zip(pdf.image_id, pdf.caption)), ("exact", "caption_near", "hot")
        )
        log(f"caption corpus of {n} rows staged")

    def start(self):
        return stream_near_dup_clusters(
            self.ctx.spark, self.inp, self.state, self.ck,
            prune_min_state_bytes=CAPTION_PRUNE_MIN_BYTES,
        )

    def load(self):
        return load_assignments(self.ctx.spark, self.state)


class MediaStream(_Stream):
    """``stream_media_novelty`` with ``video_fingerprints`` and no history:
    the index stays far below the prune threshold (full-scan path)."""

    id_col = "video_id"
    stores = ("fps", "keys", "blooms", "verdicts", "metrics")
    layer = "media"

    def prepare(self) -> None:
        ctx, spark, sz = self.ctx, self.ctx.spark, self.ctx.sizes
        wave = sz["media_wave_rows"]
        n = 1 + wave * (sz["max_waves"] + 1)
        pdf = spark_videos_df(spark, n, seed=ctx.seed).toPandas()
        pdf = pdf.sort_values("video_id").reset_index(drop=True)
        # the warm-up wave holds one extra video, so every later wave
        # starts at an odd index and the planted pair at each boundary
        # (unit = a multiple of wave / 2: an exact pair whenever wave is
        # a multiple of 20) is split across two waves; its second copy
        # must be matched against the index, not within its batch
        cuts = [0] + [1 + wave * (k + 1) for k in range(sz["max_waves"] + 1)]
        self._stage_files([pdf.iloc[a:b] for a, b in zip(cuts, cuts[1:])], VIDEOS_ARROW)
        self.golden = video_golden(n)
        log(f"media corpus of {n} rows staged")

    def start(self):
        return stream_media_novelty(
            self.ctx.spark, self.inp, self.state, self.ck,
            fingerprint_fn=video_fingerprints,
            input_schema="video_id string, bytes binary",
            fp_schema=VIDEO_FP_SCHEMA,
        )

    def load(self):
        return load_media_verdicts(self.ctx.spark, self.state).select(
            "video_id",
            F.coalesce("match_ref_id", "batch_canonical_id", "video_id").alias(
                "cluster_id"
            ),
            "outcome",
        )

    def unflagged_copies(self, verdicts) -> int:
        """Planted exact/remux second copies the stream called novel."""
        g = self.ingested_golden()
        must_flag = set(g[g.kind.isin(["exact", "remux"])].id_b)
        novel = {
            r.video_id
            for r in verdicts.filter(F.col("outcome") == "novel")
            .select("video_id").collect()
        }
        return len(must_flag & novel) if must_flag else -1


class Streams:
    """The two incremental streams of one ingest loop. An operation is one
    wave of each: append a caption file and run the caption query, then
    append a video file and run the media query."""

    name = "streams"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.captions = CaptionStream(ctx)
        self.media = MediaStream(ctx)
        self.parts = (self.captions, self.media)
        self.max_ops = ctx.sizes["max_waves"]

    def setup(self) -> None:
        for part in self.parts:
            part.prepare()
        # the first file of each stream is untimed: the caption history
        # (it engages pruning and builds the bloom snapshot) and the media
        # warm-up. They are independent, so they run as concurrent queries
        queries = []
        for part in self.parts:
            part.append()
            queries.append(part.start())
        for q in queries:
            q.awaitTermination()
        log("history and warm-up waves done")

    def op(self, i: int) -> dict:
        t0 = time.perf_counter()
        waves = [part.wave() for part in self.parts]
        return dict(
            rows=sum(w["rows"] for w in waves),
            wall=time.perf_counter() - t0,
            ok=all(w["ok"] for w in waves),
            waves=waves,
        )

    def finish(self) -> dict:
        """The reader's operation: load both streams' current results."""

        load_s, (assign, verdicts) = timed_median(
            lambda: [_counted(part.load()) for part in self.parts]
        )
        spark = self.ctx.spark
        cap = pair_counts(spark, assign, self.captions.ingested_golden(), "image_id")
        med = pair_counts(spark, verdicts, self.media.ingested_golden(), "video_id")
        unflagged = self.media.unflagged_copies(verdicts)
        ok = recall_precision([cap])["recall"] >= RECALL_BAR and unflagged == 0
        if not ok:
            print(f"perfbench: caption pairs {cap}, unflagged copies {unflagged}",
                  file=sys.stderr)
        return dict(
            result_load_s=load_s,
            ok=ok,
            rows_total=sum(len(p.ingested) for p in self.parts),
            stored=sum(tree_bytes(p.state) for p in self.parts),
            **recall_precision([cap, med]),
        )

    def layer_metrics(self, ops: list[dict], attributed: dict, group_of) -> dict:
        m = {}
        for k, part in enumerate(self.parts):
            m.update(part.layer_metrics([op["waves"][k] for op in ops], attributed))
        waves = [w for op in ops for w in op["waves"]]
        trig = [w["progress"].get("triggerExecution", 0) / 1000.0 for w in waves]
        m["stream_engine.start_s"] = median(w["start_s"] for w in waves)
        m["stream_engine.overhead_s"] = median(
            t - w["progress"].get("addBatch", 0) / 1000.0 for t, w in zip(trig, waves)
        )
        m["stream_engine.wal_s"] = median(
            (w["progress"].get("walCommit", 0) + w["progress"].get("commitOffsets", 0))
            / 1000.0
            for w in waves
        )
        m["stream_engine.stop_s"] = median(
            w["wall"] - w["start_s"] - t for w, t in zip(waves, trig)
        )
        return m


WORKLOADS = {w.name: w for w in (BatchDecode, Streams)}
