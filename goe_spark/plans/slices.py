"""Slices: which rows an offload moves, verifies, records and serves,
decided in one place (the reference builds its HWM and predicate
boundary clauses in one function too, ``build_verification_clauses``,
offload_validation.py:90-256).

- ``PartitionSpec`` is the synthetic partition key and the only code
  that reads or writes ``OffloadMetadata.synthetic_partition``.
- ``InFlight`` is the slice one offload run moves. FIND_OFFLOAD_DATA
  builds it once: its ``clause`` is one SQL condition over the source
  columns and ``SYNTHETIC_COL``. FIND filters the source with it,
  VERIFY filters the target with it (or, for whole partitions, the
  target's partition directories), and FINAL_LOAD hands the same
  condition to the backend writer in its dialect (the INSERT's WHERE,
  and the DELETE a relational rollback runs). Every literal in it is
  written by ``predicate.render.sql_literal``.
- ``offloaded(md)`` is the slice the metadata says has moved: the
  frontend condition, plus the backend condition a synthetic RANGE
  prunes on. The hybrid view and the status report both split rows
  through it; the retained side is its NULL-safe complement.

Spark evaluates every predicate from its SQL text, the spelling the
metadata stores, so the rows moved and the rows the hybrid view
counts as moved cannot differ.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goe_spark.functions.synthetic import (
    synthetic_date_expr,
    synthetic_number_expr,
    synthetic_string_expr,
)
from goe_spark.plans.partitions import PartitionSelectionError, hv_boundary_filter
from goe_spark.predicate import (
    parse_predicate_dsl,
    predicate_to_column,
    predicate_to_sql,
)
from goe_spark.predicate.render import sql_literal

SYNTHETIC_COL = "goe_part_key"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"  # the directory of NULL keys


@dataclass
class PartitionSpec:
    source_column: str
    kind: str  # date | number | string
    granularity: str | int = "M"
    digits: int | None = None

    def expr(self) -> Column:
        if self.kind == "date":
            return synthetic_date_expr(self.source_column, str(self.granularity))
        if self.kind == "number":
            return synthetic_number_expr(
                self.source_column, int(self.granularity), self.digits
            )
        if self.kind == "string":
            return synthetic_string_expr(self.source_column, int(self.granularity))
        raise ValueError(f"bad partition kind: {self.kind}")

    @classmethod
    def from_metadata(cls, md) -> PartitionSpec | None:
        sp = md.synthetic_partition
        if not sp:
            return None
        return cls(
            source_column=sp["source_column"],
            kind=sp.get("kind", "date"),
            granularity=sp.get("granularity", "M"),
            digits=sp.get("digits"),
        )

    def to_metadata(self, md) -> None:
        md.synthetic_partition = {
            "source_column": self.source_column,
            "kind": self.kind,
            "granularity": self.granularity,
            "digits": self.digits,
        }


@dataclass(frozen=True)
class InFlight:
    """The rows this run moves: a predicate (the parsed DSL), LIST
    values of one column, and the synthetic range (lower, hwm]. Each
    part is optional; no part at all means every row."""

    ast: object | None = None
    list_column: str | None = None
    list_values: tuple = ()
    hwm: object | None = None
    lower: object | None = None

    @classmethod
    def find(cls, cfg, lower, source_df: DataFrame) -> InFlight:
        """The slice ``cfg`` asks for on top of the prior HWM
        ``lower``. A predicate is checked against the source's columns
        and types here, before anything is staged."""
        ast = None
        if cfg.offload_predicate:
            ast = parse_predicate_dsl(cfg.offload_predicate)
            predicate_to_column(ast, source_df)
        ranged = cfg.partition is not None and cfg.hwm is not None
        return cls(
            ast=ast,
            list_column=cfg.list_partition_column,
            list_values=tuple(cfg.list_partition_values or ()),
            hwm=cfg.hwm if ranged else None,
            lower=lower if ranged else None,
        )

    @property
    def predicate(self) -> str | None:
        """The predicate's SQL text, the spelling metadata records."""
        return None if self.ast is None else predicate_to_sql(self.ast)

    @property
    def whole_partitions(self) -> bool:
        """Whether the slice selects whole partition directories (every
        row, or a synthetic range alone), so target footers count it."""
        return self.ast is None and not self.list_values

    @property
    def clause(self) -> str | None:
        return self.clause_in()

    def clause_in(self, dialect: str | None = None) -> str | None:
        """The slice as one SQL condition, its literals spelled for
        ``dialect`` (None: Spark's)."""
        def lit(v):
            return sql_literal(v, dialect)

        parts = []
        if self.list_values:
            vals = ", ".join(lit(v) for v in self.list_values)
            parts.append(f"{self.list_column} IN ({vals})")
        if self.hwm is not None:
            parts.append(f"{SYNTHETIC_COL} <= {lit(self.hwm)}")
            if self.lower is not None:
                parts.append(f"{SYNTHETIC_COL} > {lit(self.lower)}")
        if self.ast is not None:
            # The predicate may OR at its top level.
            pred = predicate_to_sql(self.ast, dialect)
            parts.insert(0, f"({pred})" if parts else pred)
        return " AND ".join(parts) or None

    def where(self, df: DataFrame) -> DataFrame:
        return df if self.clause is None else df.where(self.clause)

    def partitions(self, spark, names: list[str], dtype) -> list[tuple[str, object]]:
        """(directory name, partition value) of each Hive partition
        directory in ``names`` (``SYNTHETIC_COL=<value>``) this slice
        of whole partitions selects. Spark decides, the way its
        partition pruning does: each unescaped directory value is cast
        to ``dtype`` (the Hive NULL directory is NULL) and filtered by
        the clause, over an inline table the optimizer evaluates on
        the driver: no Spark job."""
        if not names:
            return []
        values = ", ".join(
            f"({i}, {_dir_value_sql(n)})" for i, n in enumerate(names)
        )
        rows = self.where(
            spark.sql(
                f"SELECT i, CAST(v AS {dtype.simpleString()}) AS {SYNTHETIC_COL}"
                f" FROM VALUES {values} AS t(i, v)"
            )
        ).collect()
        return [(names[r.i], r[SYNTHETIC_COL]) for r in rows]


def _dir_value_sql(name: str) -> str:
    """SQL for the raw string value of partition directory ``name``."""
    raw = unquote(name.split("=", 1)[1])
    return "NULL" if raw == HIVE_NULL else sql_literal(raw)


@dataclass(frozen=True)
class Offloaded:
    """Rows the metadata says have moved: ``frontend`` selects them in
    the source, ``backend`` in the target (the same condition unless a
    synthetic RANGE prunes on the partition column). ``reclaimable``
    is False for PREDICATE offloads: the reference declines to size
    reclaimable space for them (offload_status_report.py:737-740)."""

    frontend: Column
    backend: Column | None = None
    reclaimable: bool = True

    @property
    def retained(self) -> Column:
        """The exact complement: a row whose condition is NULL never
        moved, so the frontend keeps it."""
        return ~self.frontend | self.frontend.isNull()


def offloaded(md) -> Offloaded:
    if md.offload_type == "PREDICATE":
        # Stored as rendered SQL, evaluated as such.
        cond = F.lit(False)
        for sql_text in md.offloaded_predicates:
            cond = cond | F.expr(sql_text)
        return Offloaded(cond, cond, reclaimable=False)
    if md.offload_type == "LIST":
        # Values are stored in string form (JSON round-trip); compare
        # the column's string rendering so dates and decimals match.
        values = [str(v) for v in md.offloaded_high_values]
        if not values:
            return Offloaded(F.lit(False), F.lit(False))
        cond = F.col(md.incremental_key).cast("string").isin(values)
        return Offloaded(cond, cond)
    hv = md.incremental_high_value
    if md.offload_type == "RANGE" and hv is not None:
        spec = PartitionSpec.from_metadata(md)
        if spec is not None:
            # The backend needs the filter under 100/10 offloads, where
            # rows above the boundary moved too (reference
            # offload_source_data.py:2392).
            return Offloaded(spec.expr() <= F.lit(hv), F.col(SYNTHETIC_COL) <= F.lit(hv))
        # Native (possibly multi-column) key: a NULL that reaches the
        # deciding position leaves the boundary NULL, and the row stays.
        if md.incremental_key is None:
            raise PartitionSelectionError(
                "RANGE metadata has an incremental high value but no "
                "incremental_key to apply it to"
            )
        columns = [c.strip() for c in md.incremental_key.split(",")]
        cond = hv_boundary_filter(columns, hv)
        return Offloaded(cond, cond)
    if md.offload_type in ("FULL", "RANGE"):
        return Offloaded(F.lit(True))
    raise ValueError(f"unknown offload type: {md.offload_type!r}")
