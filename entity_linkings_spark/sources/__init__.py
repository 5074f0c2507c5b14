"""Sources & sinks (SURVEY.md section 2.1): transcript scan, entity-dictionary
scan with NIL append, alias-count scan, and the snapshot store used as the
stage sink (Iceberg on a real cluster, atomic parquet snapshots here)."""

from entity_linkings_spark.sources.dictionary import (
    dictionary_token_sets,
    load_dictionary,
    with_nil_row,
)
from entity_linkings_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    load_transcripts,
)

__all__ = [
    "dictionary_token_sets",
    "load_dictionary",
    "with_nil_row",
    "TRANSCRIPT_SCHEMA",
    "load_transcripts",
]
