"""Partition-path codec: the one place that decides how a partition value
becomes a staged directory name, how that name becomes a manifest key,
and how a scanned file URI maps back to its manifest path.

Three directions, one convention each:

- **value -> staged directory component.** JVM-staged writes partition on
  string COPY columns (``__p`` / ``__pN``) built by :func:`copy_column`;
  Spark then escapes the copy into a directory name and writes NULL as
  ``__HIVE_DEFAULT_PARTITION__``. Spark writes ``''`` there too, so a
  string copy that is empty or starts with ``~`` gains a leading ``~``:
  ``''`` stages as ``__p=~`` and stays distinct from NULL. Timestamps
  stage as their epoch microseconds, which no session time zone can
  shift. The Python DataSource writer names its directories with
  :func:`dir_component`, the same convention computed in Python.
- **staged directory -> manifest key.** :func:`decode_dir` undoes the
  escape and the copy encoding and yields :func:`part_key` of the value
  Spark would hand to Python for that row — the key the DataSource
  writer and every driver-side ``collect()`` compute. Only the types in
  :data:`KEY_TYPES` have such a decoding.
- **scan URI -> manifest path.** ``input_file_name()`` and
  ``_metadata.file_path`` are URIs, so a directory named ``__p=x%3Ay``
  scans as ``__p=x%253Ay``. :func:`rels_of_uris` decodes the URI and
  matches it against the manifest's own relative paths; this also covers
  tables whose directories were escaped by earlier writers.
  :func:`scan_path` is the same decoding as a Spark column.
"""

from __future__ import annotations

import datetime
import struct
from decimal import Decimal
from urllib.parse import quote, unquote

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

# Spark's directory for a NULL dynamic-partition value; the manifest uses
# the same string as the NULL partition KEY.
NULL_PARTITION_KEY = "__HIVE_DEFAULT_PARTITION__"

# Partition-column types with an exact staged-directory -> key decoding.
KEY_TYPES = (
    StringType,
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    BooleanType,
    FloatType,
    DoubleType,
    DecimalType,
    DateType,
    TimestampType,
)

# Leading marker of an empty or marker-prefixed string copy.
_MARK = "~"


def part_key(value) -> str:
    """Manifest partition key of one partition-column value. A zoned
    datetime (the Arrow writer's form) keys as the naive local time a
    ``collect()`` returns for the same instant."""
    if value is None:
        return NULL_PARTITION_KEY
    if isinstance(value, datetime.datetime) and value.tzinfo is not None:
        value = value.astimezone().replace(tzinfo=None)
    return str(value)


def copy_column(name: str, dtype: DataType) -> Column:
    """The staged string copy of partition column ``name``."""
    c = F.col(name)
    if isinstance(dtype, TimestampType):
        return F.unix_micros(c).cast("string")
    s = c.cast("string")
    if isinstance(dtype, StringType):
        return F.when(
            (s == "") | s.startswith(_MARK), F.concat(F.lit(_MARK), s)
        ).otherwise(s)
    return s


def dir_component(value) -> str:
    """Directory-name component for a partition value: the copy
    :func:`copy_column` would stage, percent-escaped (more eagerly than
    Spark escapes; :func:`decode_dir` reads both)."""
    if value is None:
        return NULL_PARTITION_KEY
    if isinstance(value, bool):
        s = "true" if value else "false"
    elif isinstance(value, datetime.datetime):
        s = str(TimestampType().toInternal(value))
    elif isinstance(value, str):
        s = _MARK + value if value == "" or value.startswith(_MARK) else value
    else:
        s = str(value)
    return quote(s, safe="")


def _value(s: str, dtype: DataType):
    """The Python value whose staged copy is ``s``."""
    if isinstance(dtype, StringType):
        return s[1:] if s.startswith(_MARK) else s
    if isinstance(dtype, BooleanType):
        return s == "true"
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return int(s)
    if isinstance(dtype, FloatType):
        return struct.unpack("f", struct.pack("f", float(s)))[0]
    if isinstance(dtype, DoubleType):
        return float(s)
    if isinstance(dtype, DecimalType):
        return Decimal(s)
    if isinstance(dtype, DateType):
        return datetime.date.fromisoformat(s)
    if isinstance(dtype, TimestampType):
        return TimestampType().fromInternal(int(s))
    raise TypeError(
        f"partition type {dtype.simpleString()} has no key decoding"
    )


def decode_dir(name: str, dtype: DataType) -> str:
    """Manifest key component of a staged directory-name component."""
    if name == NULL_PARTITION_KEY:
        return NULL_PARTITION_KEY
    return part_key(_value(unquote(name), dtype))


def key_value(key: str, dtype: DataType):
    """The partition value a manifest key component stands for."""
    if key == NULL_PARTITION_KEY:
        return None
    if isinstance(dtype, StringType):
        return key
    if isinstance(dtype, BooleanType):
        return key == "True"
    if isinstance(dtype, TimestampType):
        return datetime.datetime.fromisoformat(key)
    return _value(key, dtype)


def scan_path(uri: Column) -> Column:
    """:func:`rels_of_uris`'s URI decoding as a Spark column (``+`` is a
    literal in a URI path, not a space)."""
    return F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))


def rels_of_uris(uris, rels, root: str) -> dict[str, str]:
    """Map scanned file URIs to the manifest-relative paths in ``rels``
    by exact suffix match on the decoded URI; no scheme or prefix format
    is assumed. An unmapped URI is a loud error: the scan read a file the
    manifest does not list. Candidates are indexed by file name, so the
    cost is O(|uris| + |rels|)."""
    by_name: dict[str, list[str]] = {}
    for r in rels:
        by_name.setdefault(r.rsplit("/", 1)[-1], []).append(r)
    out: dict[str, str] = {}
    for u in uris:
        p = unquote(u)
        hit = next(
            (
                r
                for r in by_name.get(p.rsplit("/", 1)[-1], ())
                if p.endswith(f"/{r}")
            ),
            None,
        )
        if hit is None:
            raise RuntimeError(
                f"scanned file {u} is not in the manifest's live list at "
                f"{root} — manifest/scan drift"
            )
        out[u] = hit
    return out
