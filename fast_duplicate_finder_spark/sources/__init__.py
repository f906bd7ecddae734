from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
    load_transcripts,
)

__all__ = ["assemble_conversations", "load_transcripts"]
