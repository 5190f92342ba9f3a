"""nfl_feature_store_spark — a from-scratch, PySpark-native point-in-time
feature-engineering engine with the capabilities of
theedgepredictor/nfl-feature-store (reference at /root/reference, read-only),
re-targeted at Iceberg/parquet tables of multi-turn conversation transcripts
(conv_id, turn_idx, role, text, tool, ts) at 10^12-turn scale.

Not a port: the reference is a single-threaded pandas ETL
(reference feature_store_runner.py, src/pumps/player_game.py); this engine
expresses the same verified semantics (SURVEY.md §2) as Catalyst-planned
DataFrame operations — window frames for lag/rolling/expanding families,
union+last(ignorenulls) for the as-of backfill join, and ``mapInArrow``
kernels for the window families and the two genuinely sequential
recurrences (EWM, Elo) — with explicit partitioning, salting and skew
handling for scale.
"""

from nfl_feature_store_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
