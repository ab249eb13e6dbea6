"""Workload and metric catalogue of the benchmark.

BENCHMARK.json carries the fields its schema allows (name, why, unit,
better, bound). The rest lives here: each workload's query list, input
sizes and tables, and for every per-layer metric its layer and the
end-to-end metric and workload it is expected to move.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from datagen import StreamShape, TableSizes


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()
    sizes: TableSizes | None = None
    tables: tuple[str, ...] = ()  # input tables the scan probe reads
    writers: tuple[str, ...] = ()  # queries whose build writes files
    stream: StreamShape | None = None
    probe_decoders: bool = False  # time the functions layer's decoders


def to_spec(wl: Workload) -> dict:
    return dataclasses.asdict(wl)


def from_spec(d: dict) -> Workload:
    d = dict(d)
    d["sizes"] = TableSizes(**d["sizes"]) if d["sizes"] else None
    d["stream"] = StreamShape(**d["stream"]) if d["stream"] else None
    for k in ("queries", "tables", "writers"):
        d[k] = tuple(d[k])
    return Workload(**d)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="curation",
            why="one-shot cost of pins, higher-order-function plan compile and a "
            "TFRecord write; warm time in Python codec kernels over pinned media corpora",
            queries=(
                "tfidf",
                "minhash_lsh_near_dups",
                "pii_redaction",
                "ann_recall_report",
                "trainer_egress_pipeline",
                "jpeg_image_features",
                "gif_frame_features",
                "mjpeg_frame_sample",
                "audio_silence_segments",
            ),
            sizes=TableSizes(sf=0.001, documents=500, embeddings=500),
            tables=("documents", "embeddings"),
            writers=("trainer_egress_pipeline",),
            probe_decoders=True,
        ),
        Workload(
            name="streaming",
            why="triggered 60 s windows on the RocksDB state store, closed loop "
            "of availableNow rounds with out-of-order and late events",
            stream=StreamShape(),
        ),
    )
}

ALL_QUERIES: tuple[str, ...] = tuple(q for w in WORKLOADS.values() for q in w.queries)

# (name, unit, better) — the end-to-end metrics every untraced run prints
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("first_run_s", "s", "lower"),
    ("warm_s", "s", "lower"),
    ("events_per_s", "events/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

# (name, unit, better, layer, moves) — `moves` names the end-to-end
# metric and workload the layer metric is expected to move
_LAYER = (
    ("sources.scan_s", "s", "lower", "sources", "warm_s on curation"),
    ("sources.input_mb", "MB", "lower", "sources", "warm_s on curation"),
    ("sources.write_s", "s", "lower", "sources", "first_run_s on curation"),
    ("operators.tasks", "count", "lower", "operators", "warm_s on curation"),
    ("operators.stages", "count", "lower", "operators", "warm_s on curation"),
    ("operators.run_s", "s", "lower", "operators", "warm_s on curation"),
    ("operators.cpu_s", "s", "lower", "operators", "warm_s on curation"),
    ("operators.gc_s", "s", "lower", "operators", "warm_s on curation"),
    ("operators.shuffle_write_mb", "MB", "lower", "operators", "warm_s on curation"),
    ("operators.shuffle_read_mb", "MB", "lower", "operators", "warm_s on curation"),
    ("operators.spill_mb", "MB", "lower", "operators", "warm_s on curation"),
    ("operators.first_tasks", "count", "lower", "operators", "first_run_s on curation"),
    ("operators.first_run_s", "s", "lower", "operators", "first_run_s on curation"),
    ("operators.first_cpu_s", "s", "lower", "operators", "first_run_s on curation"),
    ("operators.first_gc_s", "s", "lower", "operators", "first_run_s on curation"),
    ("functions.decode_jpeg_us", "us", "lower", "functions", "warm_s on curation"),
    ("functions.decode_wav_us", "us", "lower", "functions", "warm_s on curation"),
    ("functions.decode_gif_us", "us", "lower", "functions", "warm_s on curation"),
    ("functions.decode_avi_mjpeg_us", "us", "lower", "functions", "warm_s on curation"),
    ("arrow.python_sent_mb", "MB", "lower", "arrow", "warm_s on curation"),
    ("arrow.python_received_mb", "MB", "lower", "arrow", "warm_s on curation"),
    ("arrow.python_rows", "count", "lower", "arrow", "warm_s on curation"),
    ("pins.count", "count", "lower", "pins", "first_run_s and peak_rss_mb on curation"),
    ("pins.mb", "MB", "lower", "pins", "first_run_s and peak_rss_mb on curation"),
    ("pins.first_minus_warm_s", "s", "lower", "pins", "first_run_s on curation"),
    ("queries.build_s", "s", "lower", "queries", "first_run_s on curation"),
    ("queries.first_exec_s", "s", "lower", "queries", "first_run_s on curation"),
    ("collect.rows", "count", "lower", "collect", "warm_s on curation"),
    ("collect.mb", "MB", "lower", "collect", "warm_s on curation"),
    ("collect.s", "s", "lower", "collect", "warm_s on curation"),
    ("streaming.input_rows", "count", "higher", "streaming", "events_per_s on streaming"),
    ("streaming.output_rows", "count", "lower", "streaming", "events_per_s on streaming"),
    ("streaming.late_dropped_rows", "count", "lower", "streaming", "events_per_s on streaming"),
    ("streaming.state_rows", "count", "lower", "streaming", "warm_s on streaming"),
    ("streaming.state_mb", "MB", "lower", "streaming", "warm_s on streaming"),
    ("streaming.state_commit_ms", "ms", "lower", "streaming", "warm_s on streaming"),
    ("streaming.add_batch_ms", "ms", "lower", "streaming", "warm_s on streaming"),
    ("streaming.planning_ms", "ms", "lower", "streaming", "warm_s on streaming"),
    ("streaming.wal_commit_ms", "ms", "lower", "streaming", "warm_s on streaming"),
    ("streaming.feed_s", "s", "lower", "streaming", "none: generator time, kept outside rounds"),
)

PER_LAYER = _LAYER + tuple(
    (f"query.{q}.{phase}_s", "s", "lower", "queries",
     f"{'first_run_s' if phase == 'first' else 'warm_s'} on "
     f"{next(w.name for w in WORKLOADS.values() if q in w.queries)}")
    for q in ALL_QUERIES
    for phase in ("first", "warm")
)
