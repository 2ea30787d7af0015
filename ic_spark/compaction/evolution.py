"""Schema evolution for merge-on-read scans.

Iceberg tables evolve: columns get added, renamed, and type-widened,
and data files written under OLD schema versions must still read
correctly under the CURRENT request schema (Iceberg spec, "Schema
Evolution"; the reference carries the current schema on every rewrite
request — core/proto/iceberg.proto Schema message — and resolves file
columns against it by field id).

Spark-first mapping of the spec's three evolution forms:

- **add column**: old files lack the column → rows surface NULL.  The
  enforced-schema Parquet scan does this natively.
- **widening promotion** (``int → long``, ``float → double``,
  ``decimal(P,S) → decimal(P',S)`` with ``P' ≥ P``): Spark 4's
  vectorized Parquet reader performs exactly these widening reads when
  the requested schema is wider than the footer type.  We VALIDATE the
  promotion against the file footers before scanning, because the
  reader is *more* permissive than the Iceberg spec in ways that can
  silently corrupt (e.g. reading a ``decimal(5,2)`` file under an
  ``int`` request schema yields the unscaled integer: 1.25 → 125).
- **rename**: Iceberg resolves by field id; for Parquet files without
  embedded field ids the spec's fallback is a *name mapping*
  (``schema.name-mapping.default``) listing each field's historical
  names.  ``RewriteFilesRequest.name_mapping`` is that mapping:
  ``{current_name: [prior_name, ...]}``.  The scan then reads with
  Parquet schema merging and projects
  ``coalesce(current, cast(prior, current_type))`` — distributed,
  no per-file driver loop in the data path.

Footer validation is driver-side planning I/O (a few ms per file via
the pyarrow footer reader) — the same planning-time metadata pass
Iceberg spends reading manifests.  It only runs for local paths; for
object-store URIs the manifest/catalog layer is the right owner of
schema checks, and the scan itself still fails loudly on any
non-widening mismatch (only the decimal→int corruption case needs the
pre-check, and catalog-managed tables never issue it).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructType,
)


def _same_ignoring_nullability(a: DataType, b: DataType) -> bool:
    """Structural type equality with nested nullability ignored —
    Spark's ``DataType.__eq__`` is containsNull/valueContainsNull/
    nullable-sensitive, so a file holding required list elements was
    falsely rejected as "not promotable" to the identical element type
    with relaxed nullability (r10 review find)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return _same_ignoring_nullability(a.elementType, b.elementType)
    if isinstance(a, MapType) and isinstance(b, MapType):
        return _same_ignoring_nullability(
            a.keyType, b.keyType
        ) and _same_ignoring_nullability(a.valueType, b.valueType)
    if isinstance(a, StructType) and isinstance(b, StructType):
        return len(a.fields) == len(b.fields) and all(
            fa.name == fb.name
            and _same_ignoring_nullability(fa.dataType, fb.dataType)
            for fa, fb in zip(a.fields, b.fields)
        )
    return a == b


def is_promotable(src: DataType, dst: DataType) -> bool:
    """True iff reading ``src``-typed file data under a ``dst``-typed
    request column is identical or an Iceberg-spec widening promotion."""
    if _same_ignoring_nullability(src, dst):
        return True
    if isinstance(src, IntegerType) and isinstance(dst, LongType):
        return True
    if isinstance(src, FloatType) and isinstance(dst, DoubleType):
        return True
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return dst.scale == src.scale and dst.precision >= src.precision
    return False


def _aliases(name_mapping: dict[str, list[str]] | None, current: str) -> list[str]:
    """Prior names of ``current``, matching the mapping key with the
    same case-insensitive semantics resolution uses (exact key wins; a
    unique case-folded key matches; ambiguous folded keys match
    nothing)."""
    nm = name_mapping or {}
    if current in nm:
        return list(nm[current])
    hits = [k for k in nm if k.lower() == current.lower()]
    return list(nm[hits[0]]) if len(hits) == 1 else []


def evolved_projection(
    physical: StructType,
    request_schema: StructType,
    name_mapping: dict[str, list[str]] | None,
) -> list:
    """Columns projecting a (possibly schema-merged) physical scan onto
    the request schema: current-name first, historical names as
    fallbacks, widening casts applied, absent columns null-filled.

    ``coalesce`` is safe under rename because a single file never
    contains BOTH the current and a prior name for one field (a rename
    replaces the name); in merged scans the non-matching column is NULL
    for every row of the other generation's files.
    """
    phys = {f.name: f.dataType for f in physical.fields}
    # Spark resolves columns case-insensitively by default; an exact
    # lookup silently NULL-filled a field differing only in case from
    # the footer spelling (r10 review find).  Exact match wins; the
    # folded map only fills in when it is unambiguous.
    folded: dict[str, str] = {}
    for name in phys:
        folded[name.lower()] = (
            None if name.lower() in folded else name  # type: ignore[assignment]
        )

    def resolve(n: str) -> str | None:
        hit = folded.get(n.lower(), "")
        if hit is None:
            # Two physical columns differ only by case: Spark's
            # default case-insensitive analyzer cannot reference
            # either one (AMBIGUOUS_REFERENCE), and silently treating
            # the field as absent would NULL-fill resolvable data (r10
            # ADVICE find) — fail loudly at plan time instead.
            twins = sorted(p for p in phys if p.lower() == n.lower())
            raise ValueError(
                f"schema evolution: request field '{n}' matches "
                f"multiple physical columns differing only by case "
                f"({', '.join(repr(t) for t in twins)}) — "
                "case-insensitive resolution is ambiguous"
            )
        if n in phys:
            return n
        return hit or None

    # A name that is BOTH a field's current name and another field's
    # prior alias cannot resolve by name at all: in pre-rename files
    # the physical column holds the OLD field's data, which a plain
    # name match would resurrect under the NEW field (r10 review find).
    # The comparison case-folds both sides: resolution is case-
    # insensitive, so a new field 'a' would resurrect pre-rename data
    # written under physical 'A' just as surely as an exact-case reuse
    # (r10 ADVICE find).
    for field in request_schema.fields:
        for other in request_schema.fields:
            if other.name != field.name and field.name.lower() in {
                a.lower() for a in _aliases(name_mapping, other.name)
            }:
                raise ValueError(
                    f"schema evolution: name '{field.name}' is both a "
                    f"current field and a prior name of '{other.name}' "
                    "— name-mapping resolution is ambiguous (old files' "
                    f"'{field.name}' data belongs to '{other.name}'); "
                    "reuse of renamed-away names needs field-id "
                    "metadata (spec-metadata tables)"
                )
    cols = []
    for field in request_schema.fields:
        present = list(
            dict.fromkeys(  # a case-folded hit can repeat: keep one
                rn
                for rn in (
                    resolve(n)
                    for n in [field.name, *_aliases(name_mapping, field.name)]
                )
                if rn is not None
            )
        )
        for n in present:
            if not is_promotable(phys[n], field.dataType):
                raise ValueError(
                    f"schema evolution: column '{n}' has file type "
                    f"{phys[n].simpleString()}, not promotable to requested "
                    f"{field.dataType.simpleString()} for field '{field.name}' "
                    "(Iceberg allows int->long, float->double, and decimal "
                    "precision widening at equal scale)"
                )
        # Backtick-quote physical names: F.col parses bare dots as
        # nested-field access (r10 review find).
        def _c(n: str):
            return F.col("`" + n.replace("`", "``") + "`")

        if not present:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif len(present) == 1:
            cols.append(_c(present[0]).cast(field.dataType).alias(field.name))
        else:
            cols.append(
                F.coalesce(
                    *[_c(n).cast(field.dataType) for n in present]
                ).alias(field.name)
            )
    return cols


def _local_path(path: str) -> str | None:
    """Filesystem path for local files; None for object-store URIs.

    Handles BOTH file:-URI spellings — Hadoop Path emits the single-
    slash ``file:/abs/path`` form — and percent-decodes the path part
    (a ``file:///tmp/my%20dir`` URI previously reached pyarrow
    verbatim and crashed footer validation at plan time; r10 review
    find)."""
    import re

    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", path):
        return None  # object-store URI: manifest layer owns the check
    return path


def local_parquet_files(paths: list[str]) -> list[str]:
    """The local Parquet files behind ``paths`` (directory writes
    expanded); object-store URIs are skipped (see module docstring)."""
    import os as _os

    expanded: list[str] = []
    for path in paths:
        local = _local_path(path)
        if local is None:
            continue
        if _os.path.isdir(local):  # tasks may reference a directory write
            # RECURSIVE walk: a hive-partitioned directory has its
            # parquet files under col=val/ subdirs — the flat listdir
            # expanded to zero files and silently skipped validation,
            # failing open on the decimal->int corruption case the
            # pre-check exists to catch (r10 review find).
            for root, _dirs, names in sorted(_os.walk(local)):
                expanded.extend(
                    _os.path.join(root, n)
                    for n in sorted(names)
                    if n.endswith(".parquet")
                )
        else:
            expanded.append(local)
    return expanded


def validate_file_schemas(
    paths: list[str],
    request_schema: StructType,
    name_mapping: dict[str, list[str]] | None = None,
) -> None:
    """Reject non-widening type changes BEFORE the scan runs.

    Reads each local file's Parquet footer (pyarrow, driver-side
    planning I/O) and checks every request field that resolves to a
    physical column for spec-legal promotion.  Object-store URIs are
    skipped (see module docstring).
    """
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import TimestampNTZType, TimestampType

    def footer_ambiguous(src: DataType, dst: DataType) -> bool:
        # A Parquet timestamp column maps to TIMESTAMP or
        # TIMESTAMP_NTZ depending on isAdjustedToUTC + session conf;
        # the arrow-footer view can't distinguish how Spark will
        # read it — not a corruption case, leave it to the scan.
        ts = (TimestampType, TimestampNTZType)
        return isinstance(src, ts) and isinstance(dst, ts)

    # Loop-invariant: the candidate name list per request field.
    candidates = [
        (field, [field.name, *_aliases(name_mapping, field.name)])
        for field in request_schema.fields
    ]
    for local in local_parquet_files(paths):
        footer = pq.read_schema(local)
        phys: dict[str, DataType] = {}
        for i, name in enumerate(footer.names):
            try:
                phys[name] = from_arrow_type(footer.types[i])
            except Exception:
                continue  # exotic arrow type: let the scan decide
        for field, names in candidates:
            for n in names:
                if (
                    n in phys
                    and not is_promotable(phys[n], field.dataType)
                    and not footer_ambiguous(phys[n], field.dataType)
                ):
                    raise ValueError(
                        f"schema evolution: file {local} column '{n}' has type "
                        f"{phys[n].simpleString()}, not promotable to requested "
                        f"{field.dataType.simpleString()} for field "
                        f"'{field.name}'"
                    )
