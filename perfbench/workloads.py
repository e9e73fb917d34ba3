"""The two workloads: set-up, the op cycle, and the post-run checks.

Each workload calls only the public API of ``timeseriesflattener_spark``
and ends every op in a sink that computes every output column: a parquet
write where the oracles check the result (``check`` reads the output of
the last timed op back with pyarrow, so it re-runs nothing), else
``write.format("noop")``. ``count()`` is never a sink: Catalyst prunes a
flatten under ``count()`` down to a distinct over the entity ids.

``setup`` builds the initial state, ``warmup`` runs each code path once,
and ``cycle(rng)`` returns one round of the op mix as ``(kind, fn)``
pairs. ``kind`` is ``"op"`` (the main op), ``"short"`` (the short
interactive op) or ``"other"``; ``fn()`` returns the units of work done
(feature values, raw rows). Every public call runs under
``spans.span("<layer>.<call>")``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles
from timeseriesflattener_spark import (
    BooleanOutcomeSpec,
    Flattener,
    PredictionTimeFrame,
    PredictorSpec,
    StaticFrame,
    StaticSpec,
    TimeDeltaSpec,
    TimestampValueFrame,
    ValueFrame,
    strings_to_aggregators,
)
from timeseriesflattener_spark.functions.gorilla import decode_chunks, encode_chunks
from timeseriesflattener_spark.operators.dedup import (
    duplicate_clusters,
    minhash_dedup_pairs,
    release_shingle_caches,
)
from timeseriesflattener_spark.plans.gapfill import fill_gaps
from timeseriesflattener_spark.plans.tiers import TierStore
from timeseriesflattener_spark.streaming.incremental import ingest_new_files


def noop_sink(df) -> None:
    """Execute ``df`` computing every column, keeping nothing."""
    df.write.format("noop").mode("overwrite").save()


def parquet_sink(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# ------------------------------------------------------------ flatten_wide

FW_FEATURES = len(gen.FW_CHANNELS) * len(gen.FW_LOOKBEHIND_DAYS) * len(gen.FW_AGGS) + 3
FW_CHECK_ROWS = 160


class FlattenWide:
    """Researcher flatten: 63 features over a weekly prediction grid.

    Main op: the whole grid. Short op: the same specs over a 12-entity
    cohort, where plan building and job scheduling dominate."""

    name = "flatten_wide"
    #: state builds per untraced run; setup_s takes their median
    setup_repeats = 3

    def __init__(self, inputs: str, state_dir: str, seed: int):
        self.inputs, self.state_dir, self.seed = inputs, state_dir, seed
        self.pred_rows = pq.read_metadata(f"{inputs}/pred.parquet").num_rows
        self.cohort_rows = pq.read_metadata(f"{inputs}/pred_cohort.parquet").num_rows

    def setup(self, spark, spans) -> None:
        self.spans = spans
        read = lambda name: spark.read.parquet(f"{self.inputs}/{name}.parquet")  # noqa: E731
        self.pred_df = read("pred")
        self.cohort_df = read("pred_cohort")
        lookbehind = [dt.timedelta(days=d) for d in gen.FW_LOOKBEHIND_DAYS]
        specs = [
            PredictorSpec(
                value_frame=ValueFrame(read(ch), value_timestamp_col_name="timestamp"),
                lookbehind_distances=lookbehind,
                aggregators=strings_to_aggregators(gen.FW_AGGS),
                fallback=float("nan"),
            )
            for ch in gen.FW_CHANNELS
        ]
        specs.append(
            BooleanOutcomeSpec(
                init_frame=TimestampValueFrame(read("outcome")),
                lookahead_distances=[dt.timedelta(days=gen.FW_OUTCOME_DAYS)],
                aggregators=strings_to_aggregators(["max"]),
                output_name="event",
            )
        )
        specs.append(StaticSpec(StaticFrame(read("static")), column_prefix="pred", fallback=0))
        specs.append(
            TimeDeltaSpec(
                init_frame=TimestampValueFrame(read("birth")),
                fallback=0,
                output_name="age",
                time_format="years",
            )
        )
        self.specs = specs

    def aggregate(self, pred_df):
        frame = PredictionTimeFrame(pred_df, timestamp_col_name="pred_timestamp")
        return Flattener(frame).aggregate_timeseries(self.specs)

    def _flatten(self, pred_df, rows: int) -> int:
        with self.spans.span("flattener.aggregate_timeseries", pred_rows=rows):
            parquet_sink(self.aggregate(pred_df).df, f"{self.state_dir}/features-{rows}")
        return rows * FW_FEATURES

    def warmup(self) -> None:
        # one whole cycle, cohort first: after a single cohort flatten the
        # JIT was still compiling during the timed full flatten, which
        # then varied by 30% between runs
        self._flatten(self.cohort_df, self.cohort_rows)
        for _, fn in self.cycle(None):
            fn()

    def cycle(self, rng):
        cohort = ("short", lambda: self._flatten(self.cohort_df, self.cohort_rows))
        return [("op", lambda: self._flatten(self.pred_df, self.pred_rows)), cohort, cohort]

    def check(self, spark) -> list[str]:
        uuids = oracles.sample_pred_uuids(self.inputs, FW_CHECK_ROWS, self.seed)
        got = pq.read_table(f"{self.state_dir}/features-{self.pred_rows}").to_pandas()
        if len(got) != self.pred_rows:
            return [f"flatten: {len(got)} output rows for {self.pred_rows} prediction times"]
        return oracles.check_flatten(self.inputs, got[got["prediction_time_uuid"].isin(uuids)], uuids)

    def layer_extras(self, spark) -> dict[str, float]:
        return {}


# ---------------------------------------------------------- transcript_ops

TI_READ_CONVS = 8
TI_GAPFILL_CONVS = 4
TI_CHECK_CONVS = 24
CD_THRESHOLD = 0.8


class TranscriptOps:
    """Operator store over conversation transcripts: incremental ingests
    beside dashboard reads on the same tier store, a compaction, and a
    near-duplicate pass (pairs, then clusters) over the transcript corpus.

    Main op: one ``ingest_new_files`` batch. Short op: one dashboard
    refresh (``read_points`` on 1h or 1d for a conv subset and window,
    linear ``fill_gaps`` on 1m, ``decode_chunks`` over a time range)."""

    name = "transcript_ops"
    #: one build: each repeat re-materializes the store (~5 s warm), which
    #: the run budget of the benchmark cannot afford
    setup_repeats = 1

    def __init__(self, inputs: str, state_dir: str, seed: int):
        self.inputs, self.state_dir, self.seed = inputs, state_dir, seed
        self.base_convs = sorted(
            set(pq.read_table(f"{inputs}/base.parquet", columns=["conv_id"])["conv_id"].to_pylist())
        )
        self.batches = sorted(os.listdir(f"{inputs}/batches"))
        self.n_docs = pq.read_metadata(f"{inputs}/corpus.parquet").num_rows

    def setup(self, spark, spans) -> None:
        self.spans = spans
        self.spark = spark
        shutil.rmtree(self.state_dir, ignore_errors=True)
        self.incoming = f"{self.state_dir}/incoming"
        os.makedirs(self.incoming)
        self.chunks_dir = f"{self.state_dir}/chunks"
        raw = spark.read.parquet(f"{self.inputs}/base.parquet")
        self.store = TierStore(
            spark, root=f"{self.state_dir}/store", value_cols=list(gen.TI_VALUE_COLS)
        )
        with spans.span("plans.tiers.materialize"):
            self.store.materialize(raw, bulk=True)
        with spans.span("functions.gorilla.encode_chunks"):
            parquet_sink(encode_chunks(raw, "latency", tier="1h"), self.chunks_dir)
        self.corpus = spark.read.parquet(f"{self.inputs}/corpus.parquet")
        self.ingested: list[str] = []
        self.touched_days: set[dt.date] = set()
        self.raw_bytes = os.path.getsize(f"{self.inputs}/base.parquet")

    # ---- write path
    def _ingest(self) -> int:
        if len(self.ingested) >= len(self.batches):
            raise RuntimeError("ran out of generated ingest batches; raise gen.TI_BATCHES")
        name = self.batches[len(self.ingested)]
        src = f"{self.inputs}/batches/{name}"
        rows = pq.read_metadata(src).num_rows
        shutil.copyfile(src, f"{self.incoming}/{name}")
        with self.spans.span("streaming.incremental.ingest_new_files", raw_rows=rows):
            new = ingest_new_files(self.store, self.incoming)
        if len(new) != 1:
            raise RuntimeError(f"ingest picked up {len(new)} files, expected 1")
        self.ingested.append(name)
        self.raw_bytes += os.path.getsize(src)
        days = pq.read_table(src, columns=["ts"])["ts"].to_numpy().astype("datetime64[D]")
        self.touched_days.update(d.item() for d in np.unique(days))
        return rows

    def _partition_files(self) -> dict[tuple[str, str], int]:
        """(tier, day) -> parquet data files in that published partition."""
        base = f"{self.store.root}/partials"
        return {
            (tier, day): sum(f.endswith(".parquet") for f in os.listdir(f"{base}/{tier}/{day}"))
            for tier in os.listdir(base)
            for day in os.listdir(f"{base}/{tier}")
            if day.startswith("day=") and "." not in day
        }

    def _compact(self) -> int:
        """Compact the most fragmented 1m day that an ingest touched."""
        files = self._partition_files()
        day = max(sorted(self.touched_days), key=lambda d: files[("tier=1m", f"day={d}")])
        with self.spans.span("plans.tiers.compact_day"):
            self.store.compact_day("1m", day)
        return 0

    def _dedup(self) -> int:
        """Pairs to parquet, then the clusters of those pairs to parquet."""
        pairs_dir = f"{self.state_dir}/pairs"
        with self.spans.span("operators.dedup.minhash_dedup_pairs") as rec:
            parquet_sink(minhash_dedup_pairs(self.corpus, threshold=CD_THRESHOLD), pairs_dir)
        if self.spans.tracing:
            rec["pairs"] = pq.read_table(pairs_dir, columns=["doc_a"]).num_rows
        pairs = self.spark.read.parquet(pairs_dir)
        with self.spans.span("operators.dedup.duplicate_clusters"):
            parquet_sink(duplicate_clusters(self.corpus, pairs), f"{self.state_dir}/clusters")
        release_shingle_caches()
        return self.n_docs

    # ---- read path
    def _window(self, rng, hours: int) -> tuple[dt.datetime, dt.datetime]:
        lo = gen.TI_START + dt.timedelta(hours=int(rng.integers(0, gen.TI_BASE_DAYS * 24 - hours)))
        return lo, lo + dt.timedelta(hours=hours)

    def _refresh(self, rng) -> int:
        """One dashboard refresh: three reads, each under its own span."""
        tier = "1h" if rng.random() < 0.5 else "1d"
        convs = list(rng.choice(self.base_convs, size=TI_READ_CONVS, replace=False))
        lo, hi = self._window(rng, 12)
        with self.spans.span("plans.tiers.read_points"):
            pts = self.store.read_points(tier).filter(F.col("conv_id").isin(convs))
            if tier == "1h":
                pts = pts.filter(F.col("bucket_ts").between(lo, hi))
            noop_sink(pts)

        convs = list(rng.choice(self.base_convs, size=TI_GAPFILL_CONVS, replace=False))
        lo, hi = self._window(rng, 3)
        with self.spans.span("plans.gapfill.fill_gaps"):
            pts = self.store.read_points("1m").filter(
                F.col("conv_id").isin(convs) & F.col("bucket_ts").between(lo, hi)
            )
            noop_sink(fill_gaps(pts, ["latency_mean", "tokens_sum"], "1m", method="linear"))

        lo, hi = self._window(rng, 6)
        with self.spans.span("functions.gorilla.decode_chunks"):
            chunks = self.spark.read.parquet(self.chunks_dir)
            noop_sink(decode_chunks(chunks, value_col="latency", time_range=(lo, hi), tier="1h"))
        return 1

    def warmup(self) -> None:
        """A new-day and a late ingest, and two refreshes; the dedup stays
        cold (a warm-up pass over it would cost a third of the run)."""
        rng = np.random.default_rng([self.seed, 98])
        self._ingest()
        self._ingest()
        self._refresh(rng)
        self._refresh(rng)

    def cycle(self, rng):
        """Compaction runs before the ingest, so the reads after it see
        the ingest's fresh small files."""
        refresh = ("short", lambda: self._refresh(rng))
        ingest = ("op", self._ingest)
        return [("other", self._compact), ingest, refresh, refresh, ("other", self._dedup), ingest, refresh, refresh]

    # ---- post-run
    def layer_extras(self, spark) -> dict[str, float]:
        stored = 0
        for root in (f"{self.store.root}/partials", self.chunks_dir):
            for d, _, files in os.walk(root):
                stored += sum(os.path.getsize(f"{d}/{f}") for f in files if f.endswith(".parquet"))
        files = self._partition_files()
        row = (
            spark.read.parquet(self.chunks_dir)
            .agg(F.sum("n_points").alias("n"), F.sum(F.length("chunk")).alias("b"))
            .first()
        )
        return {
            "plans.tiers.files_per_partition": sum(files.values()) / len(files),
            "plans.tiers.stored_bytes_per_raw_byte": stored / self.raw_bytes,
            "functions.gorilla.bytes_per_point": row["b"] / row["n"],
        }

    def check(self, spark) -> list[str]:
        files = [f"{self.inputs}/base.parquet"] + [f"{self.inputs}/batches/{b}" for b in self.ingested]
        rng = np.random.default_rng([self.seed, 20])
        base_convs = list(rng.choice(self.base_convs, size=TI_CHECK_CONVS, replace=False))
        batch_convs = oracles.conv_ids(files[1:])
        convs = base_convs + list(rng.choice(batch_convs, size=min(8, len(batch_convs)), replace=False))
        errors = []
        for tier in ("1h", "1d"):
            got = self.store.read_points(tier).filter(F.col("conv_id").isin(convs)).toPandas()
            errors += oracles.check_tier(files, got, tier, convs)
        chunks = spark.read.parquet(self.chunks_dir).filter(F.col("conv_id").isin(base_convs))
        decoded = decode_chunks(chunks, value_col="latency").toPandas()
        errors += oracles.check_gorilla(files[0], decoded, base_convs, None)
        lo, hi = self._window(rng, 6)
        decoded = decode_chunks(chunks, value_col="latency", time_range=(lo, hi), tier="1h").toPandas()
        errors += oracles.check_gorilla(files[0], decoded, base_convs, (lo, hi))
        if not os.path.isdir(f"{self.state_dir}/clusters"):
            return errors + ["dedup: no dedup op completed"]
        return errors + oracles.check_dedup(
            f"{self.inputs}/corpus.parquet",
            pq.read_table(f"{self.state_dir}/pairs").to_pandas(),
            pq.read_table(f"{self.state_dir}/clusters").to_pandas(),
            CD_THRESHOLD,
        )


WORKLOADS = {w.name: w for w in (FlattenWide, TranscriptOps)}
