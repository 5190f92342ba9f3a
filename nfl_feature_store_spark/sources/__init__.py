from nfl_feature_store_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    events_as_transcripts,
    gen_transcripts_distributed,
    gen_transcripts_pdf,
    transcripts_from_pandas,
)
from nfl_feature_store_spark.sources.tables import load_table, register_views
from nfl_feature_store_spark.sources.staged_csv import stage_csv_dim
from nfl_feature_store_spark.sources.bucketed import read_bucketed_transcripts, write_bucketed_transcripts

__all__ = [
    "TRANSCRIPT_SCHEMA",
    "events_as_transcripts",
    "gen_transcripts_pdf",
    "gen_transcripts_distributed",
    "transcripts_from_pandas",
    "load_table",
    "register_views",
    "stage_csv_dim",
    "write_bucketed_transcripts",
    "read_bucketed_transcripts",
]
