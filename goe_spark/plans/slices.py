"""Slices: which rows an offload moves, verifies, records and serves,
decided in one place (the reference builds its HWM and predicate
boundary clauses in one function too, ``build_verification_clauses``,
offload_validation.py:90-256).

- ``PartitionSpec`` is the synthetic partition key and the only code
  that reads or writes ``OffloadMetadata.synthetic_partition``.
- ``InFlight`` is the slice one offload run moves. FIND_OFFLOAD_DATA
  builds it once: its ``clause`` is one SQL condition over the source
  columns and ``SYNTHETIC_COL``. FIND filters the source with it,
  VERIFY filters the target with it, and FINAL_LOAD hands the same
  text to the backend writer (the INSERT's WHERE, and the DELETE a
  relational rollback runs). Every literal in it is written by
  ``predicate.render.sql_literal``.
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
    """The rows this run moves: a predicate (already rendered SQL),
    LIST values of one column, and the synthetic range (lower, hwm].
    Each part is optional; no part at all means every row."""

    predicate: str | None = None
    list_column: str | None = None
    list_values: tuple = ()
    hwm: object | None = None
    lower: object | None = None

    @classmethod
    def find(cls, cfg, lower, source_df: DataFrame) -> InFlight:
        """The slice ``cfg`` asks for on top of the prior HWM
        ``lower``. A predicate is checked against the source's columns
        and types here, before anything is staged."""
        predicate = None
        if cfg.offload_predicate:
            ast = parse_predicate_dsl(cfg.offload_predicate)
            predicate_to_column(ast, source_df)
            predicate = predicate_to_sql(ast)
        ranged = cfg.partition is not None and cfg.hwm is not None
        return cls(
            predicate=predicate,
            list_column=cfg.list_partition_column,
            list_values=tuple(cfg.list_partition_values or ()),
            hwm=cfg.hwm if ranged else None,
            lower=lower if ranged else None,
        )

    @property
    def clause(self) -> str | None:
        parts = []
        if self.list_values:
            vals = ", ".join(sql_literal(v) for v in self.list_values)
            parts.append(f"{self.list_column} IN ({vals})")
        if self.hwm is not None:
            parts.append(f"{SYNTHETIC_COL} <= {sql_literal(self.hwm)}")
            if self.lower is not None:
                parts.append(f"{SYNTHETIC_COL} > {sql_literal(self.lower)}")
        if self.predicate:
            # The predicate may OR at its top level.
            parts.insert(0, f"({self.predicate})" if parts else self.predicate)
        return " AND ".join(parts) or None

    def where(self, df: DataFrame) -> DataFrame:
        return df if self.clause is None else df.where(self.clause)


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
