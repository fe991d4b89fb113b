"""Orchestration metadata store (O5 —
persistence/orchestration_metadata.py, 449 LoC in the reference).

What has been offloaded for each (owner, table): the incremental
high-water mark, the list of offloaded predicates (PBO), key columns,
and the partition spec. Stored as one JSON document per table under a
metadata directory — the Spark-rebuild equivalent of the reference's
Oracle repo schema. Writes are atomic (tmp + rename) so a failed run
never leaves a torn HWM.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import secrets
from dataclasses import asdict, dataclass, field


@dataclass
class OffloadMetadata:
    owner: str
    table_name: str
    offload_type: str = "FULL"  # FULL | RANGE | LIST | PREDICATE
    incremental_key: str | None = None
    incremental_high_value: object | None = None
    offloaded_high_values: list = field(default_factory=list)  # LIST strategy
    offloaded_predicates: list = field(default_factory=list)  # PBO strategy
    synthetic_partition: dict | None = None
    # Cluster/sort columns in force on the backend table
    # (metadata OFFLOAD_SORT_COLUMNS in the reference).
    offload_sort_columns: list | None = None
    offload_version: int = 0
    updated_utc: str | None = None


def atomic_write_json(path: str, obj, indent: int | None = 2) -> None:
    """Atomic JSON write: tmp in the same directory + rename, so a
    torn write never corrupts the previous contents. Shared by the
    metadata store, the execution-history store, and the streaming
    batch ledger — crash-durability fixes land in ONE place."""
    d = os.path.dirname(path) or "."
    # Dot-prefixed temp name: markers are written INSIDE table data
    # directories, and a crash in this window must not leave a file
    # Spark's parquet reader would treat as data (every other marker
    # name is dot-prefixed for exactly this invariant). Mode 0666 under
    # the process umask, as a plain open() would give: mkstemp's 0600
    # made every metadata file owner-only.
    tmp = os.path.join(d, f".tmp{secrets.token_hex(8)}.tmp")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o666)
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(obj, fh, indent=indent, default=str)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class MetadataStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, owner: str, table_name: str) -> str:
        return os.path.join(self.root, f"{owner}.{table_name}.json".lower())

    def get(self, owner: str, table_name: str) -> OffloadMetadata | None:
        path = self._path(owner, table_name)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return OffloadMetadata(**json.load(fh))

    def save(self, md: OffloadMetadata) -> None:
        md.offload_version += 1
        md.updated_utc = _dt.datetime.now(_dt.timezone.utc).isoformat()
        atomic_write_json(self._path(md.owner, md.table_name), asdict(md))

    def delete(self, owner: str, table_name: str) -> None:
        path = self._path(owner, table_name)
        if os.path.exists(path):
            os.unlink(path)

    def list_tables(self) -> list[tuple[str, str]]:
        """All (owner, table_name) pairs with saved metadata."""
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.endswith(".json"):
                owner, _, table = name[: -len(".json")].partition(".")
                if table:
                    out.append((owner, table))
        return out
