"""Structured Streaming wrappers (SURVEY.md §7.1 M4).

Structured Streaming's design premise — identical transformations for
batch and stream — means most of the engine needs no streaming-specific
code: the :mod:`sparksent.windows` / :mod:`sparksent.nlp` /
:mod:`sparksent.pipeline` functions apply unchanged to a streaming
DataFrame. This package holds the parts that ARE streaming-specific:

- sources.py: socket (the reference's ingest, SA.scala:41), file-replay
  (deterministic testing)
- ops.py:     update-mode cumulative, exact dedup, interval join, HLL
  registers (windowed aggregation is ``windows.window_agg`` /
  ``windows.session_agg`` on a watermarked stream)
- count_window.py: ``ordered_fold``, the one arbitrary stateful operator
  (applyInPandasWithState) every ordered per-group operator is a pure
  ``step`` over: the count window (countWindow(N).sum, SA.scala:304-311)
  and the per-record cumulative, transition, EWMA, rolling-window, SCD2,
  n-gram and space-saving operators
- quota.py:   per-group domain-quota and token-budget admission, FCFS
  (an ``ordered_fold``) and watermark-windowed (its own event-time
  timeout function); a domain quota is a unit-cost token budget
- sinks.py:   console (the reference's only sink), memory (tests),
  parquet, foreachBatch, the bucketed keyed merge; every batch-keyed
  sink writes by dynamic partition overwrite, so replays are idempotent
- neardup.py: incremental near-dup detection, one signature→band
  description per modality (MinHash, image pHash, audio fingerprint,
  video frame hash, winnowing): ``band_index`` builds the corpus index,
  ``admit_batch`` is the self-maintaining foreachBatch admission loop;
  plus the fixed-index MinHash join and streaming decontamination
- annserve.py: top-k serving of a query-vector stream against an
  at-rest trained-IVF index
- ivf_route.py: route incoming embeddings to their trained IVF cell
  (stateless broadcast-argmin projection; admission control for the
  vector index)
"""

from .ivf_route import (  # noqa: F401
    ivf_centroid_row,
    route_to_cells,
)
from .neardup import (  # noqa: F401
    admit_batch,
    band_index,
    benchmark_gram_index,
    decontaminate_stream_batch,
    streaming_neardup_candidates,
    write_neardup_index,
)
from .annserve import (  # noqa: F401
    ivf_serve_batch,
    write_ivf_index,
)
from .count_window import (  # noqa: F401
    streaming_count_window,
    streaming_cumulative_per_record,
    streaming_ewma_per_record,
    streaming_rolling_window_stats,
    streaming_space_saving,
)
from .ops import (  # noqa: F401
    streaming_cumulative_sum,
    streaming_exact_dedup,
    streaming_interval_join,
)
from .quota import (  # noqa: F401
    streaming_domain_quota,
    streaming_domain_quota_windowed,
    streaming_token_budget,
    streaming_token_budget_windowed,
)
from .sources import file_replay_source, kafka_lines, socket_lines  # noqa: F401
from .sinks import (  # noqa: F401
    compact_bucketed_store,
    parquet_keyed_merge,
    to_console,
    to_memory,
    to_parquet,
)
