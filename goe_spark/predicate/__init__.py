"""GOE offload-predicate DSL.

The same language the reference accepts
(predicate_offload.py:666-731 defines it via lark; we hand-roll a
recursive-descent parser because the language is tiny):

    column(ALIAS.COL) = numeric(42)
    column(created) >= datetime(2024-01-01) and column(st) in ("a", "b")

Renderers produce ANSI SQL text (the offload metadata's spelling and
the DuckDB oracle's) and a pyspark Column that Spark parses from that
same text — Catalyst pushes the resulting filter into the scan.
"""

from goe_spark.predicate.parser import parse_predicate_dsl  # noqa: F401
from goe_spark.predicate.render import (  # noqa: F401
    predicate_to_column,
    predicate_to_sql,
)
