"""Expected lake state, computed from the change log without the engine.

The model replays the generated log in offset order with latest-wins and
tombstone semantics, then shreds each surviving record the way the Singer
table model lays it out:

- 1..1 objects flatten into ``a__b`` columns;
- an array becomes a child table keyed by ``_root_<pk>`` plus one 0-based
  ``_level_<n>_index`` per nesting level; an array of scalars stores its
  items in a ``value`` column;
- a ``number`` without a format is a decimal with ``decimals`` (default 2)
  places.

Tables are compared as multisets of per-row sha256 over the content
columns. Version columns are left out because their numbering is the
engine's choice; a stale version still shows as different content.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from decimal import Decimal

SEP = "__"
VERSION_COLUMNS = ("_ver", "_root_ver")


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_hash(row: dict) -> str:
    text = "\x1f".join(f"{k}={_canon(row[k])}" for k in sorted(row))
    return hashlib.sha256(text.encode()).hexdigest()


def _kind(prop: dict) -> str:
    types = prop.get("type")
    types = [t for t in (types if isinstance(types, list) else [types]) if t != "null"]
    return types[0] if types else "string"


def _shred(table: str, schema: dict, obj, keys: dict, level: int, pk: list[str],
           out: dict[str, list[dict]]) -> None:
    """Append ``obj``'s row (inherited ``keys`` plus its own content) to
    ``table`` and recurse into its arrays."""
    row = dict(keys)
    children = []

    def walk(props: dict, value: dict, prefix: str) -> None:
        for name, prop in props.items():
            v = (value or {}).get(name)
            kind = _kind(prop)
            if kind == "object":
                walk(prop.get("properties", {}), v, f"{prefix}{name}{SEP}")
            elif kind == "array":
                children.append((f"{table}{SEP}{prefix}{name}", prop["items"], v or []))
            elif kind == "number" and "format" not in prop and v is not None:
                places = Decimal(10) ** -(prop.get("decimals") or 2)
                row[f"{prefix}{name}"] = Decimal(repr(v)).quantize(places)
            else:
                row[f"{prefix}{name}"] = v

    if _kind(schema) == "object":
        walk(schema.get("properties", {}), obj, "")
    else:
        row["value"] = obj
    out.setdefault(table, []).append(row)
    if level == 0:
        keys = {f"_root_{k}": row[k] for k in pk}
    for child, item_schema, items in children:
        for i, item in enumerate(items):
            _shred(child, item_schema, item, {**keys, f"_level_{level}_index": i},
                   level + 1, pk, out)


def expected_tables(log_paths: list[str]) -> tuple[dict[str, Counter], object]:
    """(table name -> Counter of row hashes, last STATE value) for the
    state the log converges to."""
    schemas: dict[str, dict] = {}
    live: dict[str, dict[tuple, dict]] = {}
    state = None
    for path in log_paths:
        with open(path) as fh:
            for line in fh:
                msg = json.loads(line.split("\t", 1)[1])
                kind = msg["type"]
                if kind == "SCHEMA":
                    schemas[msg["stream"]] = msg
                    live.setdefault(msg["stream"], {})
                elif kind == "STATE":
                    state = msg["value"]
                elif kind in ("RECORD", "DELETED_RECORD"):
                    pk = schemas[msg["stream"]]["key_properties"]
                    key = tuple(msg["record"][k] for k in pk)
                    if kind == "RECORD":
                        live[msg["stream"]][key] = msg["record"]
                    else:
                        live[msg["stream"]].pop(key, None)
    tables: dict[str, list[dict]] = {}
    for stream, msg in schemas.items():
        tables.setdefault(stream, [])
        for record in live[stream].values():
            _shred(stream, msg["schema"], record, {}, 0, msg["key_properties"], tables)
    return {t: Counter(row_hash(r) for r in rows) for t, rows in tables.items()}, state
