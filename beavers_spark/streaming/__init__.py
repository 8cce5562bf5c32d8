"""Replay + live streaming drivers.

- ``replay``: historical replay with a quantized virtual clock
  (reference: beavers/replay.py).
- ``live``: Structured Streaming integration — foreachBatch kernel driver
  and streaming query helpers.
"""

from beavers_spark.streaming.live import (  # noqa: F401
    CycleMetrics,
    ProgressCollector,
    StreamingDagDriver,
    session_windowed_counts,
    streaming_dedup,
    streaming_event_timeout_monitor,
    streaming_last_by_key,
    streaming_timeout_monitor,
    windowed_counts,
)
from beavers_spark.streaming.alignment import (  # noqa: F401
    AlignedReleaseDriver,
)
from beavers_spark.streaming.ann_index import (  # noqa: F401
    IncrementalIVFIndex,
    IncrementalIVFPQIndex,
)
from beavers_spark.streaming.chunk_dedup import (  # noqa: F401
    IncrementalChunkDedup,
)
from beavers_spark.streaming.classifier_stream import (  # noqa: F401
    IncrementalQualityClassifier,
)
from beavers_spark.streaming.clusters import (  # noqa: F401
    IncrementalClusters,
)
from beavers_spark.streaming.dedup_incremental import (  # noqa: F401
    IncrementalNearDedup,
)
from beavers_spark.streaming.frame_dedup import (  # noqa: F401
    IncrementalFrameDedup,
)
from beavers_spark.streaming.frame_neardup import (  # noqa: F401
    IncrementalAudioNearDedup,
    IncrementalFrameNearDedup,
    IncrementalImageNearDedup,
)
from beavers_spark.streaming.substring_dedup import (  # noqa: F401
    IncrementalSubstringDedup,
)
from beavers_spark.streaming.tfidf_dedup import (  # noqa: F401
    IncrementalTfidfDedup,
)
from beavers_spark.streaming.distinct_rollup import (  # noqa: F401
    ContinuousDistinct,
)
from beavers_spark.streaming.maintenance import (  # noqa: F401
    BatchWatermark,
    compact_parquet,
    recover_compaction,
)
from beavers_spark.streaming.quantile_rollup import (  # noqa: F401
    ContinuousQuantile,
    batch_quantile,
    quantiles_from_histogram,
)
from beavers_spark.streaming.rollup import ContinuousRollup  # noqa: F401
from beavers_spark.streaming.topk_rollup import ContinuousTopK  # noqa: F401
from beavers_spark.streaming.state_table import KeyedStateTable  # noqa: F401
from beavers_spark.streaming.replay import (  # noqa: F401
    ArrowTableDataSource,
    CsvDataSink,
    CsvDataSource,
    DataSink,
    DataSource,
    IteratorDataSourceAdapter,
    ListDataSink,
    ListDataSource,
    ParquetDataSource,
    ParquetDataSink,
    ReplayContext,
    ReplayDriver,
    SparkSliceSource,
)
