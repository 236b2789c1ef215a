"""End-to-end near-duplicate pipeline with per-stage checkpoint + metrics.

Reference lifecycle analogue (SURVEY.md §3): the reference persists every
intermediate entity during a scan (AddDirectory/AddFileState/AddBlobInfo —
OrdinaryDumpDeduplicator.cs:90,98,154,183), which is exactly stage-level
checkpointing; a re-run resumes from what is already stored. Here each
stage writes a parquet table under ``checkpoint_dir`` and is SKIPPED if its
``_SUCCESS`` marker exists (idempotent, resumable mid-pipeline), with one
metrics row per stage (rows_out, wall seconds) — the north rule's
"per-partition lineage + metrics" requirement. In a production deployment
the same writes target Iceberg tables (sources/catalog.py gates the
format on classpath; sources/merge.py renders the row-level commits).

Stage plumbing costs the write job and nothing more: the row count and the
per-file ``_lineage.json`` come from the parquet FOOTERS of the files just
written (one directory listing, no Spark job, no re-scan of the output),
and the stage is read back with the written frame's schema, so no
schema-inference job runs either. A resume checks every file's footer row
count against the lineage record.

Stages:
    features   one pass over `bytes` -> compact features (operators/features)
    edges      one key-group aggregate for the four exact-key star families
               (operators/exact_dedup.key_groups) + LSH candidates from its
               representatives + verification
    cc         connected components fixpoint
    clusters   final assignment incl. singletons + report frames
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.connected_components import connected_components
from ..operators.exact_dedup import key_groups, readable
from ..operators.features import extract_features
from ..operators.lsh import DEFAULT_BUCKET_CAP, PHASH_BAND_MODES, rep_candidates
from ..operators.verify import verify_caption_pairs, verify_phash_pairs


@dataclass
class PipelineConfig:
    checkpoint_dir: str | None = None  # None -> in-memory cache() only
    bucket_cap: int = DEFAULT_BUCKET_CAP
    phash_band_mode: str = "c2x16"
    run_id: str = "run_0"
    metrics: list[dict] = field(default_factory=list)


def _check_config(cfg: PipelineConfig) -> None:
    """Reject bad parameters before any stage runs — an unknown band mode
    would otherwise surface only after the features stage has decoded
    every image and written its checkpoint."""
    if cfg.phash_band_mode not in PHASH_BAND_MODES:
        raise ValueError(
            f"phash_band_mode must be one of {PHASH_BAND_MODES}, "
            f"got {cfg.phash_band_mode!r}"
        )
    if cfg.bucket_cap < 2:
        raise ValueError(f"bucket_cap must be >= 2, got {cfg.bucket_cap}")


def _partition_rows(path: str) -> dict[str, int]:
    """Row count of every parquet part file in a stage directory, read
    from the file footers: one listing and one footer read per file, no
    Spark job."""
    return {
        fn: pq.read_metadata(os.path.join(path, fn)).num_rows
        for fn in sorted(os.listdir(path))
        if fn.endswith(".parquet") and not fn.startswith((".", "_"))
    }


class NearDupPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = config or PipelineConfig()
        _check_config(self.cfg)

    # ------------------------------------------------------------ plumbing

    def _stage_path(self, stage: str) -> str | None:
        if self.cfg.checkpoint_dir is None:
            return None
        return os.path.join(self.cfg.checkpoint_dir, self.cfg.run_id, stage)

    def _stage(self, stage: str, build) -> DataFrame:
        """Run (or resume) one stage: if checkpointed output exists, read it
        back instead of recomputing — mid-pipeline resumability."""
        path = self._stage_path(stage)
        t0 = time.time()
        if path is not None:
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                # verify BEFORE the read: schema inference already opens a
                # part file, and a damaged one must fail as a lineage error
                n_files = self._verify_partition_lineage(stage, path)
                df = self.spark.read.parquet(path)
                self._record(stage, "resumed", None, time.time() - t0)
                if n_files is not None:
                    self.cfg.metrics[-1].update(n_files=n_files, lineage_verified=True)
                return df
            df = build()
            df.write.mode("overwrite").parquet(path)
            per_file = _partition_rows(path)
            self._record(stage, "complete", sum(per_file.values()), time.time() - t0)
            self._write_partition_lineage(stage, path, per_file)
            return self.spark.read.schema(df.schema).parquet(path)
        # cache-less mode: localCheckpoint, not cache() — the stage output
        # is materialized eagerly with its lineage CUT, and evicted blocks
        # spill to disk instead of silently RECOMPUTING the stage (for
        # features that would re-decode every image; measured as multi-x
        # slowdowns + run-to-run variance under storage pressure). The
        # trade: lost executors can't rebuild these blocks — acceptable in
        # local/bench mode; production runs set checkpoint_dir and get
        # parquet-backed stages instead.
        df = build().localCheckpoint()
        self._record(stage, "complete", df.count(), time.time() - t0)
        return df

    def _write_partition_lineage(
        self, stage: str, path: str, per_file: dict[str, int]
    ) -> None:
        """Per-PARTITION lineage of the persisted stage (north rule): one
        row per output parquet file with its footer row count, written as
        ``_lineage.json`` inside the stage directory (the leading
        underscore hides it from Spark's parquet reader, like
        ``_SUCCESS``). A resume can verify each partition file it reads
        back against this record, and skew in the persisted stage is
        observable per-file rather than only as a stage total. Zero-row
        part files are listed too: they are part of the stage layout."""
        rec = [dict(file=fn, rows=n) for fn, n in per_file.items()]
        with open(os.path.join(path, "_lineage.json"), "w") as f:
            json.dump(dict(stage=stage, run_id=self.cfg.run_id, files=rec), f, indent=2)
        self.cfg.metrics[-1].update(
            n_files=len(rec),
            max_file_rows=max(per_file.values(), default=0),
        )

    def _verify_partition_lineage(self, stage: str, path: str) -> int | None:
        """On resume, check the stage directory still holds exactly the
        partition files the lineage recorded, each with its recorded row
        count (from the footer) — a truncated, partial or replaced copy
        fails fast instead of silently resuming from wrong partitions.
        Returns the verified file count (None: no lineage record)."""
        lin_path = os.path.join(path, "_lineage.json")
        if not os.path.exists(lin_path):
            return None  # stage predates lineage records; nothing to verify
        with open(lin_path) as f:
            lin = json.load(f)
        expected = {d["file"]: d["rows"] for d in lin["files"]}
        try:
            actual = _partition_rows(path)
        except (OSError, pa.ArrowException) as e:
            raise RuntimeError(
                f"stage '{stage}' resume: a partition footer is unreadable, "
                f"cannot check it against lineage ({e})"
            ) from e
        if expected.keys() != actual.keys():
            raise RuntimeError(
                f"stage '{stage}' resume: partition files on disk do not "
                f"match lineage (missing={sorted(expected.keys() - actual.keys())[:5]}, "
                f"unexpected={sorted(actual.keys() - expected.keys())[:5]})"
            )
        changed = sorted(fn for fn in expected if expected[fn] != actual[fn])
        if changed:
            raise RuntimeError(
                f"stage '{stage}' resume: partition row counts do not match "
                f"lineage ({[(fn, expected[fn], actual[fn]) for fn in changed[:5]]} "
                f"as (file, recorded, on disk))"
            )
        return len(actual)

    def _record(self, stage: str, status: str, rows, wall: float) -> None:
        self.cfg.metrics.append(
            dict(
                run_id=self.cfg.run_id,
                stage=stage,
                status=status,
                rows_out=rows,
                wall_sec=round(wall, 3),
            )
        )

    def write_metrics(self) -> None:
        if self.cfg.checkpoint_dir is None:
            return
        path = os.path.join(self.cfg.checkpoint_dir, self.cfg.run_id, "metrics.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.cfg.metrics, f, indent=2)

    # -------------------------------------------------------------- stages

    def features(self, images: DataFrame) -> DataFrame:
        return self._stage("features", lambda: extract_features(images))

    def edges(self, images: DataFrame, features: DataFrame) -> DataFrame:
        def build() -> DataFrame:
            # ONE aggregate over (kind, key) gives the star edges of all
            # four exact-key families (byte, pixel, caption, phash) and the
            # caption/phash representatives the banding chain needs
            # (operators/exact_dedup.key_groups) — one shuffle and its jobs
            # instead of four aggregate-and-join chains.
            star, cap_reps, ph_reps = key_groups(features)
            # BOTH candidate families run through one fused banding chain
            # (operators/lsh.rep_candidates): one band-row union, one
            # bucket-stats aggregate, one materialization, one pair
            # self-join. Warm-JVM wall matches two serial per-family
            # chains (12.5s vs 13.0s at 4x2 executors / 320k rows) while
            # halving the job count and removing the driver thread pool
            # the old two-chain design needed to overlap its shuffle
            # chains. The verify stage stays OUT of the candidate phase —
            # fusing JVM shuffles with Python UDF stages double-books
            # every core with a task thread AND a Python worker (measured
            # ~2.4x edges wall).
            pairs = rep_candidates(
                cap_reps,
                ph_reps,
                phash_mode=self.cfg.phash_band_mode,
                bucket_cap=self.cfg.bucket_cap,
            )
            # cut: the pairs frame feeds two family filters below;
            # without the checkpoint each filter re-runs the pair
            # self-join. Under AQE the call itself runs every shuffle
            # stage of the candidate chain, as its own SQL execution
            # (so the edges stage is three serial executions: the bucket
            # frame in pairs_from_buckets, this one, then the write).
            # eager=False only defers the final, shuffle-free stage to
            # the write job (the BlockManager's per-partition
            # get-or-compute lock still computes it once with both
            # verify branches pulling it)
            pairs = pairs.localCheckpoint(eager=False)
            cap_near = verify_caption_pairs(
                pairs.filter("from_caption").select("src", "dst"), images
            )
            ph_near = verify_phash_pairs(
                pairs.filter("from_phash").select("src", "dst"), features
            )
            return star.unionByName(cap_near).unionByName(ph_near)

        return self._stage("edges", build)

    def components(self, edges: DataFrame) -> DataFrame:
        cc_stats: dict = {}
        # the edges stage already knows its row count (parquet footers, or
        # the cache-less count) — hand it to the
        # small-graph cutover so it costs zero extra jobs (on resume the
        # stage row carries no count and cc falls back to its own precount)
        edge_rows = next(
            (
                m["rows_out"]
                for m in reversed(self.cfg.metrics)
                if m["stage"] == "edges"
            ),
            None,
        )
        build = lambda: connected_components(  # noqa: E731
            edges.select("src", "dst"),
            stats=cc_stats,
            n_edges_hint=edge_rows,
        )
        if self.cfg.checkpoint_dir is not None:
            out = self._stage("cc", build)
            if cc_stats:  # convergence telemetry onto the stage metrics row
                self.cfg.metrics[-1].update(cc_stats)
            return out
        # cache-less mode: when the small-graph fast path ran, the output
        # is a driver-local Arrow frame whose row count union-find already
        # knows — the generic _stage localCheckpoint + count would
        # distribute those rows to the executors only for the clusters
        # join's BROADCAST build to fetch them straight back (measured
        # ~1.5s/pass of pure round-trip + job latency at 4 executors).
        # Keep it driver-local; the broadcast ships it exactly once. The
        # distributed fixpoint path (no n_assignments in stats) still gets
        # the checkpoint+count treatment — its lineage is a real DAG.
        t0 = time.time()
        out = build()
        rows = cc_stats.get("n_assignments")
        if rows is None:
            out = out.localCheckpoint()
            rows = out.count()
        self._record("cc", "complete", rows, time.time() - t0)
        if cc_stats:
            self.cfg.metrics[-1].update(cc_stats)
        return out

    def clusters(self, features: DataFrame, assignments: DataFrame) -> DataFrame:
        """Final per-image cluster assignment. Singleton readable images get
        cluster_id = their own id (is_dup = false)."""
        # assignment rows are bounded by the edge count; when the cc stage
        # measured them small, broadcast — the corpus-side frame is then
        # never shuffled or sorted for this join (measured 9.9s -> map-only
        # at 4x2 executors). Above the bound Catalyst picks the shuffle
        # join it would need anyway.
        assign_rows = next(
            (
                m["rows_out"]
                for m in reversed(self.cfg.metrics)
                if m["stage"] == "cc"
            ),
            None,
        )
        if assign_rows is not None and assign_rows <= 2_000_000:
            assignments = F.broadcast(assignments)

        def build() -> DataFrame:
            base = readable(features).select("image_id", "size", "sha")
            joined = base.join(assignments, "image_id", "left")
            return joined.select(
                "image_id",
                F.coalesce("cluster_id", "image_id").alias("cluster_id"),
                F.col("cluster_id").isNotNull().alias("is_dup"),
                "size",
                "sha",
            )

        return self._stage("clusters", build)

    # ----------------------------------------------------------------- run

    def run(self, images: DataFrame) -> dict[str, DataFrame]:
        feats = self.features(images)
        edges = self.edges(images, feats)
        assign = self.components(edges)
        clusters = self.clusters(feats, assign)
        self.write_metrics()
        from ..operators.tiers import image_tier_report, modality_agreement

        return dict(
            features=feats,
            edges=edges,
            assignments=assign,
            clusters=clusters,
            # lazy — only computed if the caller pulls them
            tier_report=image_tier_report(clusters, edges),
            modality_report=modality_agreement(clusters, edges),
        )


# --------------------------------------------------- metrics/lineage tables

METRICS_SCHEMA = (
    "run_id string, stage string, status string, rows_out long, "
    "wall_sec double, extra map<string,string>"
)
LINEAGE_SCHEMA = "run_id string, stage string, file string, rows long"

_METRIC_CORE = ("run_id", "stage", "status", "rows_out", "wall_sec")


def _run_ids(checkpoint_dir: str, run_id: str | None) -> list[str]:
    if run_id is not None:
        return [run_id]
    return sorted(
        d
        for d in os.listdir(checkpoint_dir)
        if os.path.isdir(os.path.join(checkpoint_dir, d))
    )


def metrics_table(
    spark: SparkSession, checkpoint_dir: str, run_id: str | None = None
) -> DataFrame:
    """The persisted per-stage metrics of one run (or every run under the
    checkpoint dir) as a queryable DataFrame — the north rule's metrics
    TABLE, not just a JSON artifact. Core columns are typed; telemetry
    keys beyond them (cc convergence stats, lineage file counts, ...)
    land in the ``extra`` map so new stage telemetry never breaks the
    schema. Metrics are a handful of rows per run, driver-read by design;
    in a production deployment the same rows append to an Iceberg metrics
    table (sources/catalog.py gates the format on classpath)."""
    rows = []
    for rid in _run_ids(checkpoint_dir, run_id):
        path = os.path.join(checkpoint_dir, rid, "metrics.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for m in json.load(f):
                rows.append(
                    (
                        m.get("run_id", rid),
                        m.get("stage"),
                        m.get("status"),
                        m.get("rows_out"),
                        m.get("wall_sec"),
                        {
                            k: str(v)
                            for k, v in m.items()
                            if k not in _METRIC_CORE
                        },
                    )
                )
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def lineage_table(
    spark: SparkSession, checkpoint_dir: str, run_id: str | None = None
) -> DataFrame:
    """Per-partition lineage of every persisted stage as a DataFrame: one
    row per stage output file with its recorded row count — the queryable
    form of the ``_lineage.json`` records, so skew and layout of any
    checkpointed run are one groupBy away."""
    rows = []
    for rid in _run_ids(checkpoint_dir, run_id):
        run_dir = os.path.join(checkpoint_dir, rid)
        for stage in sorted(os.listdir(run_dir)):
            lin = os.path.join(run_dir, stage, "_lineage.json")
            if not os.path.exists(lin):
                continue
            with open(lin) as f:
                rec = json.load(f)
            for d in rec["files"]:
                rows.append(
                    (rec.get("run_id", rid), rec["stage"], d["file"], d["rows"])
                )
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)
