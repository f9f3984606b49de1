from diffdataflowmlpipelines_spark.streaming.count_vectorizer import (
    StreamingCountVectorizer,
)
from diffdataflowmlpipelines_spark.streaming.dedup import (
    streaming_near_dup_candidates,
    streaming_semantic_dedup,
    streaming_signatures,
)
from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalMultiScalerPipeline,
    IncrementalScalerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.join import label_join, salted_label_join
from diffdataflowmlpipelines_spark.streaming.metrics import attach_progress_log
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import (
    EpochFileSource,
    write_epoch_files,
)
from diffdataflowmlpipelines_spark.streaming.quantizer import (
    quant_params_from_stats,
    scalar_quant_stats_stream,
)
from diffdataflowmlpipelines_spark.streaming.stats import incremental_scaler_stats
from diffdataflowmlpipelines_spark.streaming.tfidf import (
    tfidf_from_counts,
    windowed_doc_token_counts,
)
from diffdataflowmlpipelines_spark.streaming.tokenizer import (
    StreamingTokenizerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.cep import streaming_event_funnel
from diffdataflowmlpipelines_spark.streaming.features import streaming_event_features
from diffdataflowmlpipelines_spark.streaming.windows import (
    session_token_activity,
    sliding_token_frequency,
    tumbling_token_frequency,
    windowed_distinct_count,
)

__all__ = [
    "EpochFileSource",
    "ExactlyOnceParquetSink",
    "IncrementalMultiScalerPipeline",
    "IncrementalScalerPipeline",
    "StreamingCountVectorizer",
    "StreamingTokenizerPipeline",
    "attach_progress_log",
    "incremental_scaler_stats",
    "label_join",
    "quant_params_from_stats",
    "salted_label_join",
    "scalar_quant_stats_stream",
    "session_token_activity",
    "sliding_token_frequency",
    "streaming_event_features",
    "streaming_event_funnel",
    "streaming_near_dup_candidates",
    "streaming_semantic_dedup",
    "streaming_signatures",
    "tfidf_from_counts",
    "tumbling_token_frequency",
    "windowed_distinct_count",
    "windowed_doc_token_counts",
    "write_epoch_files",
]
