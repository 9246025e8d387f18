"""Workload definitions shared by the orchestrator (run.py) and the
measured client (client.py).

Each workload is a fixed list of registry query ids run one at a time,
in order, by a single closed-loop client. They are chosen to separate
the engine's layers: JVM codegen (movies_etl), Python/Arrow operators
(llm_arrow) and driver-paced builder loops (driver_loops).
"""

from __future__ import annotations

import functools
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = Path(__file__).resolve().parent / "data" / "sf0.01"

# The ETL's load leg: this query is written to parquet instead of the
# noop sink, so the write is timed beside the reads.
LOAD_QUERY = "q_flagship_etl"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # extract -> clean -> join -> load; all JVM codegen, no Python
    # workers, no jobs while building once warm
    "movies_etl": (
        "q_flagship_etl", "q_agg_hash", "q_join_multi_5way",
        "q_window_rank", "q_pivot", "q_session_window", "q_dollar_parse",
        "q_date_multiformat", "q_regex_extract", "q_json_extract",
        "q_scan_project",
    ),
    # one query per operators/ codec family under mapInPandas; Python
    # worker time is most of each action
    "llm_arrow": (
        "q_multimodal_decode", "q_multimodal_decode_png", "q_gif_decode",
        "q_audio_pitch", "q_wet_extract", "q_text_decompress",
        "q_avro_extract", "q_zip_extract",
    ),
    # builders that run their own Spark jobs round by round; build time
    # is most of each query
    "driver_loops": (
        "q_graph_components", "q_graph_sssp",
    ),
}


@functools.cache
def canon_frame():
    """tools/check.py's canonical form of a result frame: the comparison
    the repository's oracle gate uses. Imported on first use, since it
    pulls in DuckDB."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.canon_frame
