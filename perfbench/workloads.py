"""The benchmark's workloads: which registered queries each pass runs,
and why each set was chosen (README.md has the layer table)."""

from __future__ import annotations

from dataclasses import dataclass

# Name of the pass item that streams the events log into a parquet sink.
INGEST = "events_log_ingest"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # events_log records = ingest_copies x events rows; 0 = no ingest item
    ingest_copies: int = 0

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries + ((INGEST,) if self.ingest_copies else ())

    @property
    def streams(self) -> bool:
        return bool(self.ingest_copies) or any(
            q.endswith("_stream") for q in self.queries
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch",
            "the read side: scans, joins, shuffles and codegen in "
            "operators.layer_a/layer_b, and Arrow UDFs, Python workers and "
            "below-cap block lanes in operators.layer_c",
            (
                "b_pipeline_tpch_q1",
                "b_pipeline_tpch_q3",
                "b_window_frame",
                "a_flagship_segments",
                "c_token_bpe_encode",
                "c_sim_kmeans",
                "b_graph_pagerank",
            ),
        ),
        Workload(
            "stream_replay",
            "the write side: availableNow replays with per-batch WAL, offset-log "
            "and state-store commits, sinks and checkpoints, plus events_log ingest",
            (
                "a_sessionize_stream",
                "a_stream_dedup_stream",
            ),
            ingest_copies=10,
        ),
    )
}
