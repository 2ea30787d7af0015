"""Merge-on-read plan construction.

Builds the reference's ONE query shape as a lazy DataFrame chain
(reference SQL generator:
``core/src/executor/datafusion/datafusion_processor.rs:254-308``; context
builder ``:371-477``):

    SELECT <user columns> FROM data
      [LEFT ANTI JOIN pos_deletes ON file_path AND pos]
      [LEFT ANTI JOIN eq_deletes_i ON eq_cols AND data.seq < del.seq]...

Spark-first choices (vs. the reference's hand-built scan):

- Hidden columns come from Spark's file-source metadata columns —
  ``_metadata.file_path`` and ``_metadata.row_index`` — computed inside
  the vectorized Parquet scan, before any shuffle, so the file→row
  mapping is exact (reference per-file counter:
  ``iceberg_file_task_scan.rs:234-247``).
- The per-file sequence number is a per-scan-group literal
  (reference ``add_seq_num_into_batch``,
  ``iceberg_file_task_scan.rs:265-280``): files are grouped by
  sequence number and each group is ONE multi-path vectorized scan, so
  a table with N files but few distinct sequence numbers stays a few
  scans, not N.
- Delete tables are broadcast when small (the typical case — delete
  files are a fraction of data); at 100 TB the anti-join then never
  shuffles the data side.  AQE handles the large-delete fallback by
  switching to sort-merge at runtime.
- Catalyst prunes columns: equality-delete scans read only the
  equality-id columns; the final ``select(user_cols)`` drops hidden
  columns so they never leak into written files (reference
  ``datafusion_processor.rs:447-448``).
"""

from __future__ import annotations

from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ic_spark.compaction.evolution import evolved_projection, validate_file_schemas
from ic_spark.compaction.request import (
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    SYS_HIDDEN_SEQ_NUM,
    FileContent,
    FileScanTask,
    RewriteFilesRequest,
    split_equality_delete_groups,
)

# Below this total byte size a delete table gets an explicit broadcast
# hint.  (AQE would usually discover this, but being explicit removes a
# shuffle of the — potentially 100 TB — data side from the static plan.)
BROADCAST_DELETE_BYTES = 256 * 1024 * 1024


def _scan_with_hidden_cols(
    spark: SparkSession,
    tasks: list[FileScanTask],
    schema=None,
    with_seq: bool = False,
    with_pos: bool = False,
    columns: list[str] | None = None,
    name_mapping: dict | None = None,
    schema_history: dict | None = None,
) -> DataFrame | None:
    """Scan file tasks, grouped by sequence number, with hidden columns.

    One multi-path vectorized scan per distinct sequence number; hidden
    columns are derived at scan time (metadata columns + one literal),
    i.e. before any shuffle can break file→row identity.

    Schema evolution: with an enforced ``schema``, old files null-fill
    added columns and Spark's Parquet reader applies widening reads;
    footers are validated first so a spec-illegal narrowing fails at
    plan time instead of corrupting (evolution.py).  With a
    ``name_mapping`` (renamed columns), the scan switches to Parquet
    schema merging + an evolved projection that coalesces the current
    name with its historical names.
    """
    if not tasks:
        return None
    cur_sid = schema_history["current_id"] if schema_history else None
    # Identity partition columns dropped from hive-layout data pages
    # must be re-attached from manifest partition values — done HERE so
    # every consumer (MoR, changelog, incremental, rowops) sees real
    # values, not page nulls.  The join needs the hidden path column;
    # request it internally and strip it after the fill if the caller
    # didn't ask for positions.
    pv_names: set[str] = set()
    for t in tasks:
        pv = getattr(t, "partition_values", None)
        if pv:
            pv_names.update(pv)
    if columns is not None:
        pv_names &= set(columns)
    elif schema is not None:
        pv_names &= {f.name for f in schema.fields}
    need_fill = bool(pv_names)
    # The fill needs only the PATH column, which every format's native
    # reader exposes — never force the positional (codec) scan path
    # for it.
    want_path = with_pos or need_fill
    # Group by (sequence number, file format, write schema): one
    # multi-path scan per group.  The reference's task list mixes
    # formats freely (DataFileFormat enum, proto.rs:282-289); the
    # write-schema component only splits groups on multi-schema tables
    # with activation tracking (schema_history present).
    by_seq: dict[tuple[int, str, int | None], list[str]] = defaultdict(list)
    for t in tasks:
        fmt = getattr(t, "file_format", "parquet") or "parquet"
        wsid = (
            getattr(t, "write_schema_id", None) if schema_history else None
        )
        by_seq[(t.sequence_number, fmt, wsid)].append(t.data_file_path)

    if schema is not None:
        # Footer validation is a Parquet-metadata check.  Groups with a
        # known non-current write schema are validated against METADATA
        # types instead (their footers legitimately differ — dropped or
        # renamed columns), so only name-resolved files are checked here.
        parquet_paths = [
            t.data_file_path
            for t in tasks
            if (getattr(t, "file_format", "parquet") or "parquet") == "parquet"
            and (
                not schema_history
                or getattr(t, "write_schema_id", None) in (None, cur_sid)
            )
        ]
        if parquet_paths:
            validate_file_schemas(parquet_paths, schema, name_mapping)

    parts: list[DataFrame] = []
    for key in sorted(
        by_seq, key=lambda k: (k[0], k[1], -1 if k[2] is None else k[2])
    ):
        seq, fmt, wsid = key
        paths = by_seq[key]
        if fmt != "parquet":
            if wsid is not None and wsid != cur_sid:
                # Field-id resolution for NON-parquet groups too: the
                # codec scans read by NAME, so an ORC/Avro file written
                # before a rename read the renamed column as all-NULL
                # and a dropped-then-re-added column resurrected old
                # data (r9 review find).  Scan under the WRITE schema,
                # then project onto the current one by field id,
                # keeping the scan's hidden columns.
                write_struct, proj = _history_projection_cols(
                    schema_history, wsid, columns
                )
                g = _scan_non_parquet_group(
                    spark,
                    paths,
                    fmt,
                    seq,
                    write_struct,
                    with_seq,
                    with_pos,
                    None,
                    with_path=want_path,
                )
                hidden = [
                    F.col(c)
                    for c in (
                        SYS_HIDDEN_SEQ_NUM,
                        SYS_HIDDEN_FILE_PATH,
                        SYS_HIDDEN_POS,
                    )
                    if c in g.columns
                ]
                parts.append(g.select(*proj, *hidden))
            else:
                parts.append(
                    _scan_non_parquet_group(
                        spark,
                        paths,
                        fmt,
                        seq,
                        schema,
                        with_seq,
                        with_pos,
                        columns,
                        with_path=want_path,
                    )
                )
            continue
        cols: list = []
        if wsid is not None and wsid != cur_sid:
            # Field-id resolution against the group's WRITE schema
            # (Iceberg exact semantics): renames read the old name,
            # widenings cast, absent ids null-fill — and a re-added
            # column (same name, NEW id) nulls instead of resurrecting
            # the dropped column's data.
            df, cols = _history_projection(
                spark, paths, schema_history, wsid, columns
            )
        else:
            reader = spark.read
            if schema is not None and not name_mapping:
                reader = reader.schema(schema)
            elif name_mapping:
                # Renames: merge old+new footers so both name
                # generations are visible to the evolved projection.
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*paths)
            if name_mapping and schema is not None:
                cols.extend(evolved_projection(df.schema, schema, name_mapping))
            elif columns:
                cols.extend(F.col(c) for c in columns)
            else:
                cols.append(F.col("*"))
        if with_seq:
            # Reference add_seq_num_into_batch: per-file constant.
            cols.append(F.lit(seq).cast("long").alias(SYS_HIDDEN_SEQ_NUM))
        if want_path:
            cols.append(F.col("_metadata.file_path").alias(SYS_HIDDEN_FILE_PATH))
        if with_pos:
            # Reference add_file_path_pos_into_batch: running per-file
            # row index.  _metadata.row_index matches the reference's
            # index_start counter exactly (physical Parquet row order).
            cols.append(F.col("_metadata.row_index").alias(SYS_HIDDEN_POS))
        parts.append(df.select(*cols))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if need_fill:
        # Enforced/merged schemas surface dropped columns as nulls; a
        # pruned or inferred scan may omit them entirely — fill only
        # what is present (absence keeps the old plan-time error).
        present = sorted(pv_names & set(out.columns))
        if present:
            fill = {}
            for t in tasks:
                pv = getattr(t, "partition_values", None)
                if not pv:
                    continue
                m = {
                    c: (
                        None
                        if pv[c] is None
                        or pv[c] == "__HIVE_DEFAULT_PARTITION__"
                        else str(pv[c])
                    )
                    for c in present
                    if c in pv
                }
                if m:
                    fill[t.data_file_path] = m
            if fill:
                out = attach_partition_values(spark, out, fill, present)
        if not with_pos:
            out = out.drop(SYS_HIDDEN_FILE_PATH)
    return out


def _history_projection_cols(
    schema_history: dict, wsid: int, columns: list[str] | None
):
    """(write-schema StructType, field-id projection columns) for one
    write-schema group — shared by the parquet reader and the non-
    parquet codec scans so EVERY format resolves renames/widenings/
    re-adds by field id, not by name."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import is_promotable

    write_fields = schema_history["schemas"][wsid]
    cur_fields = schema_history["schemas"][schema_history["current_id"]]
    if columns:
        wanted = set(columns)
        cur_fields = tuple(f for f in cur_fields if f[1] in wanted)
    write_struct = StructType(
        [StructField(nm, tp, nullable) for _, nm, tp, nullable in write_fields]
    )
    id_to_old = {fid: (nm, tp) for fid, nm, tp, _ in write_fields}
    cols = []
    for fid, name, tp, _ in cur_fields:
        if fid in id_to_old:
            old_nm, old_tp = id_to_old[fid]
            if old_tp != tp and not is_promotable(old_tp, tp):
                raise ValueError(
                    f"schema {wsid} field {old_nm!r} "
                    f"({old_tp.simpleString()}) cannot widen to current "
                    f"{name!r} ({tp.simpleString()})"
                )
            c = F.col(old_nm).cast(tp) if old_tp != tp else F.col(old_nm)
            cols.append(c.alias(name))
        else:
            cols.append(F.lit(None).cast(tp).alias(name))
    return write_struct, cols


def _history_projection(
    spark: SparkSession,
    paths: list[str],
    schema_history: dict,
    wsid: int,
    columns: list[str] | None,
):
    """Scan one group of files under its WRITE schema and build the
    field-id projection onto the current schema.

    Returns ``(df, cols)``: the reader enforces the write schema (types
    as written — stable reads), and each current field resolves to the
    write schema's same-ID column (renamed: old name; widened: cast;
    absent id: typed NULL).  Widenings are validated against the
    metadata types (evolution.is_promotable) — no footer I/O needed.
    """
    write_struct, cols = _history_projection_cols(
        schema_history, wsid, columns
    )
    df = spark.read.schema(write_struct).parquet(*paths)
    return df, cols


def _scan_non_parquet_group(
    spark: SparkSession,
    paths: list[str],
    fmt: str,
    seq: int,
    schema,
    with_seq: bool,
    with_pos: bool,
    columns: list[str] | None,
    with_path: bool = False,
) -> DataFrame:
    """Scan one (seq, format) group of Avro or ORC data files.

    Avro: the distributed pure-Python codec scan (sources/avro_scan.py)
    computes exact per-file running row positions during decode — the
    reference's ``index_start`` accumulation — so position deletes work.
    ORC: Spark's native vectorized reader for plain scans;
    ``_metadata.row_index`` is Parquet-only, so POSITIONAL ORC scans
    route through the distributed pyarrow.orc codec scan
    (sources/orc_scan.py), whose running per-file record index matches
    the native reader's row order (pinned in tests).
    """
    with_path = with_path or with_pos
    if fmt == "avro":
        from ic_spark.sources import avro_scan

        df = avro_scan.read_avro_distributed(
            spark,
            paths,
            schema=schema,
            columns=columns,
            with_path_pos=with_pos,
            with_path=with_path,
        )
        cols: list = []
        if columns:
            cols.extend(F.col(c) for c in columns)
        else:
            cols.extend(
                F.col(c)
                for c in df.columns
                if c not in (avro_scan.FILE_PATH_COL, avro_scan.POS_COL)
            )
        if with_seq:
            cols.append(F.lit(seq).cast("long").alias(SYS_HIDDEN_SEQ_NUM))
        if with_path:
            cols.append(F.col(avro_scan.FILE_PATH_COL).alias(SYS_HIDDEN_FILE_PATH))
        if with_pos:
            cols.append(F.col(avro_scan.POS_COL).alias(SYS_HIDDEN_POS))
        return df.select(*cols)
    if fmt == "orc":
        if with_pos:
            from ic_spark.sources import orc_scan

            df = orc_scan.read_orc_distributed(
                spark, paths, schema=schema, columns=columns, with_path_pos=True
            )
            cols = []
            if columns:
                cols.extend(F.col(c) for c in columns)
            else:
                cols.extend(
                    F.col(c)
                    for c in df.columns
                    if c not in (orc_scan.FILE_PATH_COL, orc_scan.POS_COL)
                )
            if with_seq:
                cols.append(F.lit(seq).cast("long").alias(SYS_HIDDEN_SEQ_NUM))
            cols.append(
                F.col(orc_scan.FILE_PATH_COL).alias(SYS_HIDDEN_FILE_PATH)
            )
            cols.append(F.col(orc_scan.POS_COL).alias(SYS_HIDDEN_POS))
            return df.select(*cols)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        # NOT reader.orc(*paths): pyspark's orc() takes ONE path-or-list
        # positional — a second splatted path lands in the keyword
        # options ("modifiedBefore") and the scan reads half the files.
        df = reader.orc(list(paths))
        cols = [F.col(c) for c in columns] if columns else [F.col("*")]
        if with_seq:
            cols.append(F.lit(seq).cast("long").alias(SYS_HIDDEN_SEQ_NUM))
        if with_path:
            # Path-only (partition fill): the NATIVE vectorized reader
            # exposes _metadata.file_path — only row_index forces the
            # codec scan above.
            cols.append(
                F.col("_metadata.file_path").alias(SYS_HIDDEN_FILE_PATH)
            )
        return df.select(*cols)
    raise ValueError(f"unsupported data file format: {fmt}")


def scan_position_delete_rows(
    spark: SparkSession, tasks: list[FileScanTask]
) -> DataFrame:
    """Read parquet position-delete files → two columns
    (sys_hidden_file_path, sys_hidden_pos), tolerating BOTH column-name
    flavors: the Iceberg spec's ``file_path``/``pos`` (what
    write_position_deletes emits, so real Iceberg readers interop) and
    the legacy ``sys_hidden_*`` names.

    Files are grouped by their footer's leading column names before the
    multi-path read — a single mixed read would resolve by one sampled
    schema and silently NULL the other flavor's columns.  The sniff is
    one pyarrow footer read per DELETE file (delete files are few and
    maintenance-bounded; Iceberg planning reads these footers too), and
    it also supplies each group's read schema — ``(<name 0> string,
    <name 1> long)`` — so the scan runs no schema-inference job.  A
    footer pyarrow cannot read (an object-store URI) falls back to an
    inferred read of the spec names.
    """
    from collections import defaultdict as _dd

    import pyarrow.parquet as _pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    import os as _os

    def _sniff(path: str) -> tuple:
        p = path
        if _os.path.isdir(p):  # tasks may reference a directory write
            p = next(
                (
                    _os.path.join(p, n)
                    for n in sorted(_os.listdir(p))
                    if n.endswith(".parquet")
                ),
                p,
            )
        try:
            return tuple(_pq.read_schema(p).names[:2])
        except Exception:
            return ()

    groups: dict[tuple, list[str]] = _dd(list)
    for t in tasks:
        groups[_sniff(t.data_file_path)].append(t.data_file_path)
    parts = []
    for names, paths in sorted(groups.items()):
        if names:
            schema = StructType(
                [
                    StructField(names[0], StringType()),
                    StructField(names[1], LongType()),
                ]
            )
            df = spark.read.schema(schema).parquet(*paths)
        else:
            df = spark.read.parquet(*paths).select("file_path", "pos")
        parts.append(df.toDF(SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scan_deletion_vectors(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Expand deletion-vector (Puffin) files to (file_path, pos) rows.

    Iceberg v3 analog: each Puffin blob is a roaring bitmap of deleted
    positions for one data file (sources/puffin.py).  The puffin files
    are distributed via binaryFile and blobs expand executor-side, so
    the expansion feeds the SAME positional anti-join as parquet
    position-delete files — plan shape unchanged, delete data never
    driver-side.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    def expand_dvs(batches):
        import pandas as pd

        from ic_spark.sources.puffin import read_deletion_vectors

        for pdf in batches:
            for content in pdf["content"]:
                for ref, positions in read_deletion_vectors(
                    bytes(content)
                ).items():
                    if positions:
                        yield pd.DataFrame({"file_path": ref, "pos": positions})

    out_schema = StructType(
        [
            StructField("file_path", StringType(), False),
            StructField("pos", LongType(), False),
        ]
    )
    files = spark.read.format("binaryFile").load(paths)
    return files.select("content").mapInPandas(expand_dvs, schema=out_schema)


# Rough in-memory width of one expanded (file_path, pos) delete row —
# used to size deletion-vector broadcasts by cardinality, since roaring
# bitmaps compress ~100M positions into a few MB of puffin bytes.
_DV_ROW_BYTES = 16


def _maybe_broadcast(df: DataFrame, tasks: list[FileScanTask]) -> DataFrame:
    total = 0
    for t in tasks:
        if t.file_format == "puffin":
            # The broadcast payload is the EXPANDED (file_path, pos)
            # rows, not the compressed puffin bytes: size by blob
            # cardinality (manifest record_count).  Unknown cardinality
            # (0) must NOT count as small — a tiny run-encoded bitmap
            # can expand to millions of rows — so skip the hint and let
            # AQE decide from the runtime row count.
            if t.record_count <= 0:
                return df
            total += t.record_count * _DV_ROW_BYTES
        else:
            # Unknown sizes (0) count as small — delete files are small
            # in the reference's operating regime; AQE corrects us if not.
            total += t.file_size_in_bytes
    if total <= BROADCAST_DELETE_BYTES:
        return F.broadcast(df)
    return df


def apply_position_deletes(data: DataFrame, pos_del: DataFrame) -> DataFrame:
    """Equi anti-join on (file_path, pos) — reference O7
    (datafusion_processor.rs:265-277).  ``pos_del`` columns must be
    (sys_hidden_file_path, sys_hidden_pos); ``data`` must carry both."""
    return data.join(
        pos_del, on=[SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS], how="left_anti"
    )


def apply_equality_deletes(
    data: DataFrame, eq_del: DataFrame, eq_cols: list[str], null_safe: bool = False
) -> DataFrame:
    """Anti-join on equality columns + STRICT seq guard — reference O8
    (datafusion_processor.rs:279-305).  A delete applies only to data
    with a strictly OLDER sequence number (:300-304) — same-sequence
    data survives.  Both sides must carry ``sys_hidden_seq_num``.

    NULL keys: the reference builds plain ``=`` conditions, under which
    null never matches — null-keyed data rows always survive and
    null-keyed delete rows delete nothing (the default here).  The
    Iceberg spec instead treats null as equal to null for equality
    deletes; pass ``null_safe=True`` for spec semantics (``<=>``)."""
    cond = F.col(f"d.{SYS_HIDDEN_SEQ_NUM}") < F.col(f"e.{SYS_HIDDEN_SEQ_NUM}")
    for c in eq_cols:
        eq = (
            F.col(f"d.{c}").eqNullSafe(F.col(f"e.{c}"))
            if null_safe
            else F.col(f"d.{c}") == F.col(f"e.{c}")
        )
        cond = cond & eq
    return data.alias("d").join(eq_del.alias("e"), on=cond, how="left_anti")


# java.net.URI path component: RFC 3986 unreserved + sub-delims +
# ":" "@" "/" stay literal.  Java's URI.toString() (what Hadoop Path —
# and so Spark's _metadata.file_path — emits) percent-encodes ONLY
# the remaining ASCII characters and leaves non-ASCII raw; probing
# confirms "café latte" scans as "café%20latte" (mixed spelling).
_URI_LITERAL = set(
    "/!$&'()*+,;=:@-._~"
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)


def _uri_spelling(p: str) -> str:
    out = []
    for ch in p:
        if ord(ch) > 127 or ch in _URI_LITERAL:
            out.append(ch)
        else:
            out.append(f"%{ord(ch):02X}")
    return "".join(out)


def _scan_path_variants(p: str) -> list[str]:
    """Every string the scan's hidden path column could spell for a
    manifest path ``p`` — the broadcast-map join key set.

    Two spellings exist: the raw filesystem path (binaryFile-based
    scans: avro, and the ``file:``-prefixed raw form) and the Hadoop
    Path URI (parquet/orc ``_metadata.file_path``: illegal ASCII
    percent-encoded, non-ASCII raw — :func:`_uri_spelling`).  Encoding
    is done HERE on the map side so the join stays a plain broadcast
    hash equi-join on the unmodified scan column — no per-row decode
    in the hot path.  Variants are deduped per path; callers must also
    dedupe ACROSS paths (a duplicate join key doubles joined rows).
    """
    enc = _uri_spelling(p)
    out = [p]
    if enc != p:
        out.append(enc)
    if ":" not in p.split("/", 1)[0]:  # schemeless → scan sees file:
        out.append("file:" + p)
        if enc != p:
            out.append("file:" + enc)
    return out


def _file_map_df(spark: SparkSession, columns: dict[str, str], rows) -> DataFrame:
    """A driver-built file map (scan path spellings and their per-file
    values) as a DataFrame of ``columns`` (name -> SQL type).

    The rows ship as ONE Arrow batch that the JVM decodes itself: no
    pickled Python RDD, so the map's broadcast starts no Python worker
    and building it runs no Spark job.  Object-typed pandas columns
    keep ``None`` a null under both the Arrow route and Spark's
    non-Arrow fallback."""
    import pandas as pd

    pdf = pd.DataFrame(list(rows), columns=list(columns), dtype=object)
    schema = ", ".join(f"`{n}` {t}" for n, t in columns.items())
    return spark.createDataFrame(pdf, schema=schema)


def scan_path_variant_df(spark: SparkSession, paths, col_name: str = "path"):
    """One-column DataFrame holding EVERY scan spelling of ``paths`` —
    the broadcast probe side for left-semi liveness checks (delete
    maintenance).  Left-semi tolerates duplicate keys, so a plain set
    union suffices."""
    vals = sorted({v for p in paths for v in _scan_path_variants(p)})
    return _file_map_df(spark, {col_name: "string"}, ((v,) for v in vals))


def _normalize_delete_join_paths(
    spark: SparkSession, data: DataFrame, pos_del: DataFrame, data_files
):
    """Fold every scan spelling of the data files' paths onto the
    MANIFEST spelling on BOTH sides of the position-delete anti-join.

    The scan's hidden path column carries Hadoop-URI/raw spellings
    (``file:`` scheme, %XX-encoded ASCII) while externally written
    position deletes and DV refs record the manifest's plain path — an
    unnormalized equi-join matches nothing and every deleted row
    silently resurfaces (r9 review find).  Same broadcast map-side
    dual-emission pattern as :func:`attach_partition_values`, with the
    same collision guard; skipped entirely when no file has more than
    one spelling (the map would be the identity).
    """
    seen: dict[str, str] = {}
    multi = False
    for t in data_files:
        vs = _scan_path_variants(t.data_file_path)
        if len(vs) > 1:
            multi = True
        for v in vs:
            other = seen.get(v)
            if other is None:
                seen[v] = t.data_file_path
            elif other != t.data_file_path:
                raise ValueError(
                    f"ambiguous scan path spelling {v!r}: "
                    f"{other!r} vs {t.data_file_path!r}"
                )
    if not multi:
        return data, pos_del
    map_df = _file_map_df(
        spark,
        {"__np_var": "string", "__np_canon": "string"},
        sorted(seen.items()),
    )

    def norm(df: DataFrame) -> DataFrame:
        out = df.join(
            F.broadcast(map_df),
            F.col(SYS_HIDDEN_FILE_PATH) == F.col("__np_var"),
            "left",
        )
        return out.withColumn(
            SYS_HIDDEN_FILE_PATH,
            F.coalesce(F.col("__np_canon"), F.col(SYS_HIDDEN_FILE_PATH)),
        ).drop("__np_var", "__np_canon")

    return norm(data), norm(pos_del)


def attach_partition_values(
    spark: SparkSession,
    df: DataFrame,
    fill: dict[str, dict[str, str | None]],
    cols: list[str],
) -> DataFrame:
    """Re-attach identity partition columns on a hidden-col scan via a
    broadcast (file_path → values) map — the attach_lineage pattern:
    map-side dual-emission path normalization (scan paths carry the
    ``file:`` scheme, manifest paths are plain), a plain broadcast hash
    equi-join on the unmodified hidden path column, and per-column
    ``coalesce(page_value, cast(map_value))`` so files that DO carry
    the column in their pages win.  Cost scales with file count."""
    types = {f.name: f.dataType for f in df.schema.fields}
    rows: list[tuple] = []
    seen: dict[str, str] = {}
    for p, m in fill.items():
        vals = tuple(m.get(c) for c in cols)
        for v in _scan_path_variants(p):
            other = seen.get(v)
            if other is None:
                seen[v] = p
                rows.append((v,) + vals)
            elif other != p:
                # Two distinct files share a scan spelling (e.g.
                # '/p=a b/f' vs '/p=a%20b/f') — any binding would
                # silently attach the WRONG values to one of them.
                raise ValueError(
                    f"ambiguous scan path spelling {v!r}: "
                    f"{other!r} vs {p!r}"
                )
    map_df = _file_map_df(
        spark,
        {"__pf_path": "string", **{f"__pf_{c}": "string" for c in cols}},
        rows,
    )
    out = df.join(
        F.broadcast(map_df),
        F.col(SYS_HIDDEN_FILE_PATH) == F.col("__pf_path"),
        "left",
    )
    for c in cols:
        out = out.withColumn(
            c,
            F.coalesce(F.col(c), F.col(f"__pf_{c}").cast(types[c])),
        )
    return out.drop("__pf_path", *[f"__pf_{c}" for c in cols])


def _require_key_columns(tasks: list[FileScanTask], keys: list[str]) -> None:
    """Equality-delete files must store their key columns (Iceberg spec,
    "Equality Delete Files").  Read under an enforced schema, a missing
    key would surface as NULL and silently delete nothing, so the local
    footers are checked first; a key the task's partition values supply
    is exempt.  Names match case-insensitively, as Spark resolves them."""
    import pyarrow.parquet as pq

    from ic_spark.compaction.evolution import local_parquet_files

    for t in tasks:
        need = [k for k in keys if k not in (t.partition_values or {})]
        for f in local_parquet_files([t.data_file_path]):
            have = {n.lower() for n in pq.read_schema(f).names}
            missing = [k for k in need if k.lower() not in have]
            if missing:
                raise ValueError(
                    f"equality-delete file {f} lacks key column(s) {missing}"
                )


def build_merge_on_read(
    spark: SparkSession,
    request: RewriteFilesRequest,
    lineage: dict | None = None,
) -> DataFrame:
    """Construct the MoR DataFrame: data minus deleted rows, user schema.

    Semantic port of ``build_merge_on_read`` + ``SqlBuilder.build``
    (reference datafusion_processor.rs:254-308, 371-477).

    ``lineage`` (Iceberg v3 row lineage, spec "Row Lineage"): a map
    ``file_path -> first_row_id`` covering every data file.  The output
    then carries ``_row_id`` and ``_last_updated_sequence_number``
    after the user columns: files with a first_row_id derive
    ``first_row_id + position`` / the file's sequence number; files
    with None MATERIALIZE both as physical columns (compaction
    outputs), surfaced by appending the two nullable fields to the
    enforced scan schema (plain files null-fill them).  The map ships
    as a broadcast (file_path, first_row_id) join — never a driver-side
    per-row loop — so it scales with file COUNT, not row count.
    """
    has_pos = bool(request.position_delete_files)
    has_eq = bool(request.equality_delete_files)
    # The lineage metadata columns are never user columns — strip them
    # if an inferred schema picked them up from materialized files.
    user_cols = [f.name for f in strip_lineage_fields(request.schema).fields]
    scan_schema = request.schema
    if lineage is not None:
        scan_schema = lineage_scan_schema(request.schema)

    data = _scan_with_hidden_cols(
        spark,
        request.data_files,
        schema=scan_schema,
        with_seq=has_eq or lineage is not None,
        with_pos=has_pos or lineage is not None,
        name_mapping=request.name_mapping,
        schema_history=request.schema_history,
    )
    if data is None:
        raise ValueError("rewrite request has no data files")

    if has_pos:
        # Position-delete schema is fixed (file_path, pos) — reference
        # datafusion_processor.rs:350-368.  Deletion-vector (puffin)
        # tasks expand to the same two columns; both flavors union
        # positionally into one anti-join side.
        pq_tasks = [
            t for t in request.position_delete_files if t.file_format != "puffin"
        ]
        dv_tasks = [
            t for t in request.position_delete_files if t.file_format == "puffin"
        ]
        parts = []
        if pq_tasks:
            parts.append(scan_position_delete_rows(spark, pq_tasks))
        if dv_tasks:
            parts.append(
                _scan_deletion_vectors(
                    spark, [t.data_file_path for t in dv_tasks]
                ).toDF(SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS)
            )
        pos_del = parts[0]
        for p in parts[1:]:
            pos_del = pos_del.unionByName(p)
        data, pos_del = _normalize_delete_join_paths(
            spark, data, pos_del, request.data_files
        )
        pos_del = _maybe_broadcast(pos_del, request.position_delete_files)
        data = apply_position_deletes(data, pos_del)

    if has_eq:
        # One anti-join per order-sensitive equality-id group, chained in
        # task order (reference :279-305, group split :376-400).
        # schema_history rides along: a delete file written BEFORE a
        # key-column rename stores the key under its OLD name, and the
        # field-id projection resolves it to the current name.
        for group in split_equality_delete_groups(request.equality_delete_files):
            eq_cols = list(group.equality_ids)
            # Parquet delete files read under the table schema's key
            # fields: no inference job, and the footers are validated
            # like data files (a narrowed key type fails at plan time
            # instead of being cast in the join).  name_mapping-only
            # rename tracking (no schema_history / write_schema_id on
            # the delete task): a delete file written BEFORE a key
            # rename stores the key under its OLD footer name, and the
            # enforced-schema + evolved-projection path coalesces the
            # current name with its historical names (r9 review find).
            # schema_history alone keeps its field-id projection.
            eq_schema = None
            by_name = {f.name: f for f in request.schema.fields}
            parquet = all(
                (t.file_format or "parquet") == "parquet" for t in group.tasks
            )
            if all(c in by_name for c in eq_cols) and (
                request.name_mapping or (parquet and not request.schema_history)
            ):
                from pyspark.sql.types import StructType as _ST

                if not request.name_mapping:
                    _require_key_columns(group.tasks, eq_cols)
                eq_schema = _ST([by_name[c] for c in eq_cols])
            eq_del = _scan_with_hidden_cols(
                spark,
                list(group.tasks),
                schema=eq_schema,
                with_seq=True,
                # columns rides along even with the enforced schema: a
                # mixed group (one delete per write-schema generation)
                # must prune its history-projected parts to eq_cols too
                # or the union of parts mismatches.
                columns=eq_cols,
                name_mapping=(
                    request.name_mapping if eq_schema is not None else None
                ),
                schema_history=request.schema_history,
            )
            eq_del = _maybe_broadcast(eq_del, list(group.tasks))
            data = apply_equality_deletes(data, eq_del, eq_cols)

    # Final projection: hidden columns never leak (reference :447-448).
    if lineage is not None:
        from ic_spark.compaction.request import (
            LAST_UPDATED_SEQ_COL,
            ROW_ID_COL,
        )

        data = attach_lineage(spark, data, lineage)
        return data.select(
            *user_cols,
            F.col(ROW_ID_COL),
            F.col(LAST_UPDATED_SEQ_COL),
        )
    return data.select(*user_cols)


def strip_lineage_fields(schema):
    """Drop the lineage metadata fields from a (possibly inferred)
    schema — compacted footers materialize them physically, but they
    are never user columns."""
    from pyspark.sql.types import StructType

    from ic_spark.compaction.request import LAST_UPDATED_SEQ_COL, ROW_ID_COL

    return StructType(
        [
            f
            for f in schema.fields
            if f.name not in (ROW_ID_COL, LAST_UPDATED_SEQ_COL)
        ]
    )


def lineage_scan_schema(schema):
    """User schema + the two nullable lineage metadata fields, so
    materialized files surface their physical ``_row_id`` /
    ``_last_updated_sequence_number`` columns and plain files null-fill
    them (any pre-existing lineage fields are stripped first)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ic_spark.compaction.request import LAST_UPDATED_SEQ_COL, ROW_ID_COL

    return StructType(
        list(strip_lineage_fields(schema).fields)
        + [
            StructField(ROW_ID_COL, LongType(), True),
            StructField(LAST_UPDATED_SEQ_COL, LongType(), True),
        ]
    )


def attach_lineage(
    spark: SparkSession,
    df: DataFrame,
    lineage: dict,
) -> DataFrame:
    """Resolve the Iceberg v3 lineage columns on a hidden-col scan:
    ``_row_id`` = file first_row_id + position (or the file's
    materialized column), ``_last_updated_sequence_number`` = the
    materialized column or the file's sequence number.  ``df`` must
    carry the hidden path/pos/seq columns AND the (nullable) lineage
    fields from :func:`lineage_scan_schema`.  The file map ships as a
    broadcast join — cost scales with file count, never rows.

    Path normalization happens on the MAP side, not per scanned row:
    scan paths carry the ``file:`` scheme and URI percent-encoding
    while manifest paths are plain, so each map path is emitted under
    every spelling the scan could produce (:func:`_scan_path_variants`)
    and the join key is the raw hidden path column — no per-row
    regexp/decode in the hot path, and the join stays a plain
    broadcast hash equi-join on an unmodified column.  (The map itself
    is inherently driver-sized: it is built from the already-planned
    scan tasks, exactly like the reference's driver-side scan
    planning, and ships as one Arrow batch: :func:`_file_map_df`.)"""
    from ic_spark.compaction.request import LAST_UPDATED_SEQ_COL, ROW_ID_COL

    rows: list[tuple] = []
    seen: dict[str, str] = {}
    for p, frid in lineage.items():
        for v in _scan_path_variants(p):
            other = seen.get(v)
            if other is None:
                seen[v] = p
                rows.append((v, frid))
            elif other != p:
                raise ValueError(
                    f"ambiguous scan path spelling {v!r}: "
                    f"{other!r} vs {p!r}"
                )
    lin_df = _file_map_df(
        spark, {"__lin_path": "string", "__first_row_id": "long"}, rows
    )
    out = df.join(
        F.broadcast(lin_df),
        F.col(SYS_HIDDEN_FILE_PATH) == F.col("__lin_path"),
        "left",
    )
    row_id = F.coalesce(
        F.col(ROW_ID_COL), F.col("__first_row_id") + F.col(SYS_HIDDEN_POS)
    )
    last_seq = F.coalesce(
        F.col(LAST_UPDATED_SEQ_COL), F.col(SYS_HIDDEN_SEQ_NUM)
    )
    others = [
        c
        for c in out.columns
        if c
        not in (ROW_ID_COL, LAST_UPDATED_SEQ_COL, "__lin_path", "__first_row_id")
    ]
    return out.select(
        *others,
        row_id.alias(ROW_ID_COL),
        last_seq.alias(LAST_UPDATED_SEQ_COL),
    )
