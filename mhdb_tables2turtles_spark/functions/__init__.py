from mhdb_tables2turtles_spark.functions.strings import (  # noqa: F401
    format_iri,
    language_literal,
    normalize_text,
    to_label,
)
