from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features
from nfl_feature_store_spark.operators.asof import asof_join, latest_snapshot
from nfl_feature_store_spark.operators.rank import max_rank, rank_features
from nfl_feature_store_spark.operators.ewma import with_ewma
from nfl_feature_store_spark.operators.elo import elo_per_entity, elo_pairwise
from nfl_feature_store_spark.operators.rangejoin import interval_overlap_join
from nfl_feature_store_spark.operators.quantiles import grouped_quantiles
from nfl_feature_store_spark.operators.components import (
    connected_components,
    near_dup_components,
)
from nfl_feature_store_spark.operators.sampling import (
    contamination_report,
    deterministic_sample,
    entity_split,
    pack_sequences,
)

__all__ = [
    "FeatureSpec",
    "compile_window_features",
    "sessionize",
    "asof_join",
    "latest_snapshot",
    "max_rank",
    "rank_features",
    "with_ewma",
    "elo_per_entity",
    "elo_pairwise",
    "interval_overlap_join",
    "connected_components",
    "grouped_quantiles",
    "near_dup_components",
    "deterministic_sample",
    "entity_split",
    "contamination_report",
    "pack_sequences",
]
