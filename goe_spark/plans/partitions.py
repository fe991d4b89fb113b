"""Incremental partition selection (IPA) — the six source-data
strategies of the reference reduced to their Spark-rebuild shape
(offload_source_data.py:1316-3189, factory :138-290).

A SourcePartition is catalog metadata: name, high value(s), size.
Strategies decide WHICH partitions move this run:

- FULL / 100_0: everything not yet offloaded.
- RANGE (RPA): partitions whose high value <= the requested HWM and
  > the already-offloaded HWM — append-only forward motion. A
  MAXVALUE partition can only move under FULL semantics.
- LIST (LPA): explicitly named partitions / high values, minus those
  already offloaded.
- PREDICATE (PBO): no partition bookkeeping; the predicate itself is
  recorded in metadata and re-offloading the same predicate is
  rejected.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

MAXVALUE = "MAXVALUE"


@dataclass(frozen=True)
class SourcePartition:
    """One source partition's catalog row
    (OffloadSourcePartition, offload_source_data.py:374).

    high_value is either a scalar (single partition key) or a
    tuple/list of per-position values (multi-column RANGE keys — the
    reference's high_values_python). Any position may be the MAXVALUE
    sentinel.

    parent_name / common_hwm support subpartition-grain rows
    (offload_by_subpartition): a row per subpartition carries its
    parent partition's name, and common_hwm marks whether this
    subpartition high value appears under EVERY parent — only common
    values are safe incremental boundaries (reference
    get_subpartition_boundary_info, offload_source_data.py:453-469).
    """

    name: str
    high_value: object  # comparable HV / tuple of HVs; MAXVALUE allowed
    size_bytes: int = 0
    row_count: int = 0
    parent_name: str | None = None  # set on subpartition-grain rows
    common_hwm: bool = True


class PartitionSelectionError(ValueError):
    pass


def _is_maxvalue_pos(v) -> bool:
    return isinstance(v, str) and v.upper() == MAXVALUE


def hv_tuple(hv) -> tuple:
    """Normalize a high value — scalar, tuple, or (JSON round-tripped)
    list — to a positional tuple."""
    if isinstance(hv, (tuple, list)):
        return tuple(hv)
    return (hv,)


@functools.total_ordering
class _HVPos:
    """One position of a high-value tuple, ordered with MAXVALUE
    greater than every concrete value (Oracle range semantics)."""

    __slots__ = ("v", "is_max")

    def __init__(self, v):
        self.v = v
        self.is_max = _is_maxvalue_pos(v)

    def __eq__(self, other):
        if self.is_max or other.is_max:
            return self.is_max and other.is_max
        return self.v == other.v

    def __lt__(self, other):
        if self.is_max:
            return False
        if other.is_max:
            return True
        return self.v < other.v

    def __hash__(self):
        return hash(MAXVALUE) if self.is_max else hash(self.v)

    def __repr__(self):
        return f"_HVPos({self.v!r})"


def hv_key(hv) -> tuple:
    """Comparison key for a high value: positional tuple of _HVPos, so
    multi-column HVs compare lexicographically with MAXVALUE greatest
    at any position (the reference compares tuple(high_values_python)
    the same way — offload_source_data.py:620-626)."""
    return tuple(_HVPos(v) for v in hv_tuple(hv))


def _is_maxvalue(hv) -> bool:
    """Open-ended partition: ANY position is MAXVALUE (reference
    has_maxvalue_partition checks PART_OUT_OF_RANGE membership in
    partition_values_individual, offload_source_data.py:644-652)."""
    return any(_is_maxvalue_pos(v) for v in hv_tuple(hv))


def select_full(partitions: list[SourcePartition]) -> list[SourcePartition]:
    return list(partitions)


def select_range(
    partitions: list[SourcePartition],
    new_hwm,
    prior_hwm=None,
) -> list[SourcePartition]:
    """RPA: move every partition with prior_hwm < high_value <= new_hwm.

    Partitions are treated as sorted by high value (range partitions
    are ordered by construction). A MAXVALUE partition never qualifies
    for a range append — the reference forces FULL for that.

    High values may be scalars or per-position tuples (multi-column
    RANGE); comparison is lexicographic with MAXVALUE greatest at any
    position.
    """
    prior_key = None if prior_hwm is None else hv_key(prior_hwm)
    new_key = None if new_hwm is None else hv_key(new_hwm)
    out = []
    for p in partitions:
        if _is_maxvalue(p.high_value):
            continue
        k = hv_key(p.high_value)
        if prior_key is not None and not (k > prior_key):
            continue
        if new_key is not None and not (k <= new_key):
            continue
        out.append(p)
    return sorted(out, key=lambda p: hv_key(p.high_value))


def select_list(
    partitions: list[SourcePartition],
    requested_names: list[str] | None = None,
    requested_values: list | None = None,
    offloaded_values: list | None = None,
) -> list[SourcePartition]:
    """LPA: select by partition name or by high value; drop values
    already offloaded."""
    offloaded = {hv_key(v) for v in (offloaded_values or [])}
    requested = (
        None
        if requested_values is None
        else {hv_key(v) for v in requested_values}
    )
    out = []
    for p in partitions:
        if requested_names is not None and p.name not in requested_names:
            continue
        k = hv_key(p.high_value)
        if requested is not None and k not in requested:
            continue
        if k in offloaded:
            continue
        out.append(p)
    if requested_names:
        known = {p.name for p in partitions}
        missing = set(requested_names) - known
        if missing:
            raise PartitionSelectionError(f"unknown partitions: {sorted(missing)}")
    return out


def hwm_of(selected: list[SourcePartition], require_common: bool = False):
    """The new high-water mark after offloading `selected` (the max
    non-MAXVALUE high value).

    require_common=True restricts to subpartition high values marked
    common across all parents — the only safe boundaries at
    subpartition grain (reference common_hwm_fn,
    offload_source_data.py:453-455).
    """
    hvs = [
        p.high_value
        for p in selected
        if not _is_maxvalue(p.high_value)
        and (p.common_hwm or not require_common)
    ]
    return max(hvs, key=hv_key) if hvs else None


DEFAULT_PARTITION = "DEFAULT"  # LIST's catch-all, the MAXVALUE analog


def _is_default(hv) -> bool:
    return isinstance(hv, str) and hv.upper() == DEFAULT_PARTITION


def select_list_as_range(
    partitions: list[SourcePartition],
    new_hwm=None,
    inclusive: bool = False,
    prior_hwm=None,
) -> list[SourcePartition]:
    """LIST_AS_RANGE: a LIST-partitioned source whose single-valued
    partitions mimic RANGE partitioning
    (reference OffloadSourceDataIpaListAsRange,
    offload_source_data.py:2988).

    Differences from plain RANGE, mirroring the reference:
    - partitions are sorted by high value (LIST catalogs are
      unordered, RANGE behavior needs an order);
    - a partition with MULTIPLE high values cannot be range-mapped —
      hard error ("Partitions have key values which are incompatible
      with LIST_AS_RANGE offloading");
    - the boundary compares the partition VALUE itself, so the
      user filter is strict `<` (a LIST high value is partition
      content, not an exclusive range bound); `inclusive=True` is
      the reference's --equal-to-values `<=` variant;
    - the DEFAULT catch-all partition is silently skipped for
      incremental offloads (reference
      _do_not_offload_open_ended_partition).
    """
    multi = [
        p.name
        for p in partitions
        if isinstance(p.high_value, (tuple, list)) and len(p.high_value) > 1
    ]
    if multi:
        raise PartitionSelectionError(
            f"partition high values incompatible with LIST_AS_RANGE: {multi}"
        )
    prior_key = None if prior_hwm is None else hv_key(prior_hwm)
    new_key = None if new_hwm is None else hv_key(new_hwm)
    out = []
    for p in partitions:
        if _is_default(p.high_value) or _is_maxvalue(p.high_value):
            continue
        k = hv_key(p.high_value)
        if prior_key is not None and not (k > prior_key):
            continue
        if new_key is not None:
            ok = k <= new_key if inclusive else k < new_key
            if not ok:
                continue
        out.append(p)
    return sorted(out, key=lambda p: hv_key(p.high_value))


# Offload-type splits (reference LAPBO_TYPE_* constants,
# offload_source_data.py:87-89): how much data moves vs how much the
# hybrid-view boundary retains.
SPLIT_90_10 = "90/10"  # incremental: move up to HWM, retain the rest
SPLIT_100_10 = "100/10"  # move EVERYTHING, HWM still defines the view offset
SPLIT_100_0 = "100/0"  # move everything, no boundary at all


@dataclass(frozen=True)
class RangeSelection:
    partitions: list = field(default_factory=list)
    hwm: object | None = None  # boundary recorded in metadata


def select_range_split(
    partitions: list[SourcePartition],
    split: str,
    new_hwm=None,
    prior_hwm=None,
) -> RangeSelection:
    """RANGE selection under an offload-type split.

    - 90/10 — classic IPA: move partitions in (prior_hwm, new_hwm],
      boundary = max moved high value.
    - 100/10 — everything moves (MAXVALUE partition included), but the
      requested filter still defines the boundary: the reference
      "ignores filtering and offloads all partitions, however we still
      use filter to define view HWM" (offload_source_data.py:2392).
    - 100/0 — everything moves, no incremental boundary
      (OffloadSourceDataFull/FullPartitioned,
      offload_source_data.py:1736,1801).
    """
    if split == SPLIT_90_10:
        got = select_range(partitions, new_hwm=new_hwm, prior_hwm=prior_hwm)
        return RangeSelection(partitions=got, hwm=hwm_of(got))
    if split == SPLIT_100_10:
        got = select_full(partitions)
        hwm = new_hwm if new_hwm is not None else hwm_of(got)
        return RangeSelection(partitions=got, hwm=hwm)
    if split == SPLIT_100_0:
        return RangeSelection(partitions=select_full(partitions), hwm=None)
    raise PartitionSelectionError(f"unknown offload split: {split!r}")


def hv_boundary_filter(columns: list[str], hv, inclusive: bool = True):
    """Spark Column for the row-wise lexicographic boundary
    `(c1, .., cn) <= hv` (or strict `<`) over a multi-column RANGE
    key — the predicate the reference renders into hybrid-view HWM
    clauses for composite range keys:

        (c1 < v1) OR (c1 = v1 AND c2 < v2) OR ... (last position <=).

    A MAXVALUE at position i makes that position's comparison
    universally true (every concrete value sorts below MAXVALUE), so
    the tail collapses to TRUE and only the prefix equality remains.
    Catalyst pushes the expanded OR-of-ANDs into the parquet scan when
    the leading column is a partition/stats column — exactly the
    pruning a hand-written per-position filter would get.
    """
    from pyspark.sql import functions as F

    values = hv_tuple(hv)
    if len(values) != len(columns):
        raise PartitionSelectionError(
            f"boundary arity mismatch: {len(columns)} columns vs "
            f"{len(values)} high values"
        )
    # Build from the last position backward.
    last_col, last_v = columns[-1], values[-1]
    if _is_maxvalue_pos(last_v):
        cond = F.lit(True)
    else:
        cond = (
            F.col(last_col) <= F.lit(last_v)
            if inclusive
            else F.col(last_col) < F.lit(last_v)
        )
    for c, v in reversed(list(zip(columns[:-1], values[:-1]))):
        if _is_maxvalue_pos(v):
            cond = F.lit(True)
        else:
            cond = (F.col(c) < F.lit(v)) | ((F.col(c) == F.lit(v)) & cond)
    return cond


OFFLOAD_TYPE_FULL = "FULL"
OFFLOAD_TYPE_INCREMENTAL = "INCREMENTAL"


def resolve_offload_type(
    user_requested: str | None,
    incr_append_capable: bool,
    ida_options_specified: bool,
    existing_md=None,
):
    """Resolve the effective offload type and whether the hybrid-view
    boundary (HWM) should be kept — the reference's
    get_offload_type_for_config (offload_source_data.py:291-349):

    - A user request wins, but INCREMENTAL downgrades to FULL (with a
      note) when the table cannot do incremental append (no partition
      or LIST key).
    - With no request but existing metadata, the prior offload type
      carries forward; an existing HWM or predicate keeps the
      boundary in the view.
    - With no request and no metadata, incremental-append options
      (--hwm / LIST values / predicate) imply INCREMENTAL.

    Returns (offload_type, include_hwm_in_view, notes) — notes is the
    list of user-facing messages the reference logs as warnings."""
    notes: list[str] = []
    offload_type = OFFLOAD_TYPE_FULL
    include_hwm = False

    if user_requested:
        if user_requested not in (OFFLOAD_TYPE_FULL, OFFLOAD_TYPE_INCREMENTAL):
            raise PartitionSelectionError(
                f"offload type must be FULL or INCREMENTAL: {user_requested!r}"
            )
        offload_type = user_requested
        if offload_type == OFFLOAD_TYPE_INCREMENTAL and not incr_append_capable:
            notes.append(
                "Offload type INCREMENTAL incompatible with this table, "
                'continuing with type "FULL"'
            )
            offload_type = OFFLOAD_TYPE_FULL
    elif existing_md is not None:
        prior_incremental = (
            getattr(existing_md, "incremental_high_value", None) is not None
            or getattr(existing_md, "offloaded_high_values", None)
            or getattr(existing_md, "offloaded_predicates", None)
        )
        offload_type = (
            OFFLOAD_TYPE_INCREMENTAL
            if prior_incremental
            else OFFLOAD_TYPE_FULL
        )
        if prior_incremental:
            include_hwm = True
            notes.append(
                "Including HWM in hybrid view due to existing "
                "incremental metadata"
            )
    elif incr_append_capable and ida_options_specified:
        offload_type = OFFLOAD_TYPE_INCREMENTAL

    if not include_hwm:
        if offload_type == OFFLOAD_TYPE_INCREMENTAL:
            include_hwm = True
        elif ida_options_specified:
            include_hwm = True
            notes.append("Including HWM in hybrid view due to command options")

    return offload_type, include_hwm, notes


def with_subpartition_boundary_info(
    partitions: list[SourcePartition],
) -> list[SourcePartition]:
    """Mark each subpartition-grain row's high value as common/not:
    a value is a safe incremental boundary only if a subpartition with
    that high value exists under EVERY parent partition (reference
    get_subpartition_boundary_info via common_hwm_fn,
    offload_source_data.py:453-455 — an uncommon value would leave
    some parents partially offloaded with no closing HWM).
    """
    parents = {p.parent_name for p in partitions}
    by_hv: dict[tuple, set] = {}
    for p in partitions:
        by_hv.setdefault(hv_key(p.high_value), set()).add(p.parent_name)
    return [
        SourcePartition(
            name=p.name,
            high_value=p.high_value,
            size_bytes=p.size_bytes,
            row_count=p.row_count,
            parent_name=p.parent_name,
            common_hwm=by_hv[hv_key(p.high_value)] == parents,
        )
        for p in partitions
    ]
