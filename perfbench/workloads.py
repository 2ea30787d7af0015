"""The workloads: one closed-loop client each, driving the package
through its public API.

Each iteration starts from the same input state, restored outside the
timed region into fresh paths (so no path-keyed cache of an earlier
iteration can serve it), after Spark's cache is cleared.  Every op is
timed on its own; an op that raises counts as failed and the loop goes
on.  Every output is checked.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures as fx

HERE = os.path.dirname(os.path.abspath(__file__))


def _lineitem_schema():
    from pyspark.sql.types import (
        DateType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    types = {"l_linenumber": IntegerType(), "l_returnflag": StringType(),
             "l_linestatus": StringType(), "l_shipdate": DateType()}
    for c in ("l_orderkey", "l_partkey", "l_suppkey"):
        types[c] = LongType()
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        types[c] = DoubleType()
    return StructType([StructField(c, types[c], True) for c in fx.LINEITEM_COLUMNS])


LINEITEM_COLS = fx.LINEITEM_COLUMNS
_CASTS = {"l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
          "l_linenumber": "INTEGER", "l_quantity": "DOUBLE", "l_extendedprice": "DOUBLE",
          "l_discount": "DOUBLE", "l_tax": "DOUBLE", "l_returnflag": "VARCHAR",
          "l_linestatus": "VARCHAR", "l_shipdate": "DATE"}
ROW_HASH = ("SELECT count(*) AS n, sum(hash("
            + ", ".join(f"{c}::{_CASTS[c]}" for c in LINEITEM_COLS)
            + ")::HUGEINT) AS h FROM {rel}")


def row_multiset(con, rel: str) -> tuple[int, int]:
    """(row count, sum of row hashes): equal for equal row multisets."""
    n, h = con.execute(ROW_HASH.format(rel=rel)).fetchone()
    return int(n), int(h or 0)


class Harness:
    """Timing, failure counting and output checks shared by the
    workloads.  ``tracer`` is None on untraced runs."""

    def __init__(self, spark, work: str, tracer=None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_id = 0
        self.dirs = 0
        self.extra: dict[str, list[float]] = defaultdict(list)
        # Peak JVM memory still in use after a full collection at a
        # settle point, in bytes: heap and non-heap (metaspace, code
        # cache).
        self.heap_peak = 0
        self.nonheap_peak = 0

    def op(self, kind: str, fn, measured: bool, settle: bool = True):
        """Run one timed op; returns (ok, result).  ``settle=False``
        leaves the predecessor's garbage to this op, for ops timed as
        one group."""
        self.op_id += 1
        if settle:
            self.settle()
        span = None
        if self.tracer is not None:
            self.tracer.begin_op(self.op_id, measured)
            span = self.tracer.open(f"op.{kind}")
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dt = time.perf_counter() - t0
        print(f"op {self.op_id} {kind}: {dt:.3f} s{'' if measured else ' (warm-up)'}"
              f"{'' if ok else ' FAILED'}", file=sys.stderr)
        if span is not None:
            self.tracer.close(span)
            self.tracer.end_op()
        if measured:
            self.attempted += 1
            if ok:
                self.samples[kind].append(dt)
            else:
                self.failed += 1
        return ok, out

    def count(self, name: str, value: float) -> None:
        if self.tracer is not None:
            self.tracer.count(name, value)

    def check(self, cond: bool, what: str) -> None:
        if not cond:
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def fresh_dir(self, prefix: str) -> str:
        """A path no earlier op of this run has used."""
        self.dirs += 1
        return os.path.join(self.work, f"{prefix}-{self.dirs}")

    def settle(self) -> None:
        """Collect garbage in Python and the JVM outside the timed
        region, so no op pays for its predecessor's garbage.  Then take
        the JVM memory the program still holds."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_peak = max(self.heap_peak, mem.getHeapMemoryUsage().getUsed())
        self.nonheap_peak = max(self.nonheap_peak, mem.getNonHeapMemoryUsage().getUsed())

    def fresh_state(self) -> None:
        """Drop cached data and checkpoint files of earlier iterations."""
        self.spark.catalog.clearCache()
        sc = self.spark.sparkContext
        ckpt = sc.getCheckpointDir()
        if ckpt:
            local = ckpt.removeprefix("file:")
            if os.path.isdir(local):
                for name in os.listdir(local):
                    shutil.rmtree(os.path.join(local, name), ignore_errors=True)

    def read_span(self, fn):
        """The action that executes a read plan, as its own span."""
        if self.tracer is None:
            return fn()
        span = self.tracer.open("read.exec")
        try:
            return fn()
        finally:
            self.tracer.close(span)


def _manifest_counts(h: Harness, tb) -> None:
    """Manifest size and live delete files, at the op boundary."""
    h.count("manifest.json_bytes", os.path.getsize(tb.manifest_path))
    data, pos, eq = tb.scan_tasks()
    h.count("manifest.live_delete_files", len(pos) + len(eq))


# ---------------------------------------------------------------- table


def mor_oracle(con, files: list[dict]) -> None:
    """DuckDB view ``live``: the data rows of ``files`` minus position
    deletes (file, row index) minus equality deletes with a strictly
    newer sequence number."""
    data = [e for e in files if e["content"] == "DATA"]
    pos = [e for e in files if e["content"] == "POSITION_DELETES"]
    eqs = [e for e in files if e["content"] == "EQUALITY_DELETES"]
    con.execute("CREATE OR REPLACE TABLE seqs(path VARCHAR, seq INTEGER)")
    con.executemany("INSERT INTO seqs VALUES (?, ?)",
                    [(e["path"], e["sequence_number"]) for e in data])
    lst = ", ".join(f"'{e['path']}'" for e in data)
    con.execute(
        f"CREATE OR REPLACE VIEW d AS SELECT r.*, s.seq FROM read_parquet([{lst}], "
        "filename=true, file_row_number=true) r JOIN seqs s ON r.filename = s.path")
    where = ["TRUE"]
    if pos:
        plst = ", ".join(f"'{e['path']}'" for e in pos)
        # Spark spells _metadata.file_path as file:/abs/path.
        where.append(f"NOT EXISTS (SELECT 1 FROM read_parquet([{plst}]) p WHERE "
                     "regexp_replace(p.file_path, '^file:', '') = d.filename "
                     "AND p.pos = d.file_row_number)")
    for e in eqs:
        cond = " AND ".join(f"q.{c} = d.{c}" for c in e["equality_ids"])
        where.append(f"NOT (d.seq < {e['sequence_number']} AND EXISTS (SELECT 1 FROM "
                     f"read_parquet('{e['path']}') q WHERE {cond}))")
    con.execute(f"CREATE OR REPLACE VIEW live AS SELECT {', '.join(LINEITEM_COLS)} "
                "FROM d WHERE " + " AND ".join(where))


class Table:
    """One table's life: merge-on-read churn, then compaction.

    The table holds 600k lineitem rows in 28 data files partitioned by
    year(l_shipdate), with 4 position-delete and 3 equality-delete files
    at staggered sequence numbers (``fixtures.compact_table_layout``).
    Each iteration restores it, then runs ROUNDS churn rounds of a fixed
    mix, so each round's delete files add to the last one's:
    - ``merge_upsert`` of 4000 rows;
    - ``write_position_deletes`` of a 300-key range;
    - ``write_equality_deletes`` of 300 keys;
    - a stats-pruned range ``read_table``;
    - a full-table aggregate ``read_table``.
    Then it runs ``Compaction.full_compact`` + ``expire_snapshot``.  The
    warm-up iteration runs one round.

    Every read is checked against the generator's state.  The compacted
    files must equal a DuckDB oracle over the pre-compaction manifest's
    data and delete files, and the generator's state.  After the last
    iteration, ``read_table`` of the compacted table must equal it too.

    main op: the maintenance run.  second op: one churn round's five
    ops, summed.
    """

    main, second = "compact", "round"
    ITERATION_S = 19.0  # one measured iteration on a 4-core host
    ROUNDS = 2
    UPSERT_ROWS = 4000
    DELETE_RANGE = 300
    DELETE_KEYS = 300

    def __init__(self, h: Harness, seed: int):
        self.h, self.seed = h, seed
        self.schema = _lineitem_schema()
        self.prev_root = None

    def build_inputs(self) -> None:
        self.t = fx.lineitem(self.seed)
        root = self.h.fresh_dir("oracle-table")
        con = duckdb.connect()
        mor_oracle(con, [e for s in fx.compact_table_layout(self.seed, self.t, root) for e in s])
        self.initial = con.execute("SELECT * FROM live").arrow().to_pandas()
        con.close()
        shutil.rmtree(root, ignore_errors=True)

    def restore(self):
        from ic_spark.compaction import ManifestTable

        if self.prev_root:
            shutil.rmtree(self.prev_root, ignore_errors=True)
        root = self.prev_root = self.h.fresh_dir("table")
        tb = ManifestTable(root)
        tb.update_partition_spec(fx.YEAR_SPEC)
        for entries in fx.compact_table_layout(self.seed, self.t, root):
            tb.append_snapshot(entries)
        return tb

    def _check_agg(self, row, live: pd.DataFrame, what: str) -> None:
        want = (len(live), int(live.l_quantity.sum()), int(live.l_linenumber.sum()))
        got = (int(row[0]), int(row[1] or 0), int(row[2] or 0))
        self.h.check(got == want, f"{what}: got {got}, expected {want}")

    def _arrow_multiset(self, con, t: pa.Table) -> tuple[int, int]:
        """``row_multiset`` of an in-memory table, passed to DuckDB as a
        parquet file.  A run once hung, every thread idle, right after a
        compaction, where this check had DuckDB scan a Python-owned
        Arrow table."""
        path = os.path.join(self.h.fresh_dir("hash"), "rows.parquet")
        os.makedirs(os.path.dirname(path))
        pq.write_table(t, path)
        try:
            return row_multiset(con, f"read_parquet('{path}')")
        finally:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)

    def _state_hash(self, con, live: pd.DataFrame) -> tuple[int, int]:
        return self._arrow_multiset(con, pa.Table.from_pandas(live, preserve_index=False))

    def iteration(self, measured: bool) -> None:
        from ic_spark.compaction import Compaction
        import ic_spark.compaction.deletes as deletes
        import pyspark.sql.functions as F

        h = self.h
        tb = self.restore()
        h.fresh_state()
        live = self.initial
        rng = np.random.default_rng(self.seed + 3)  # the same rounds every iteration
        next_key = int(live.l_orderkey.max()) + 1
        aggs = [F.count("*"), F.sum("l_quantity"), F.sum("l_linenumber")]
        spent: list[float | None] = []

        def timed(kind, fn):
            ok, out = h.op(kind, fn, measured, settle=False)
            spent.append(h.samples[kind][-1] if ok and measured else None)
            return ok, out

        def write(kind, fn, apply):
            nonlocal live
            ok, _ = timed(kind, fn)
            _manifest_counts(h, tb)
            if ok:
                live = apply(live)

        def read(kind, rnd, where):
            data, _, _ = tb.scan_tasks(data_filter=where)

            def run():
                df = deletes.read_table(h.spark, tb, self.schema, where=where)
                return h.read_span(lambda: df.agg(*aggs).collect()[0])

            ok, row = timed(kind, run)
            _manifest_counts(h, tb)
            if ok:
                if measured:
                    h.samples["read"].append(h.samples[kind][-1])
                    h.samples[f"{kind}.round{rnd}"].append(h.samples[kind][-1])
                sel = live
                for col, op, v in where or []:
                    sel = sel[sel[col] >= v] if op == ">=" else sel[sel[col] < v]
                self._check_agg(row, sel, f"read where={where}")
                h.count("planner.scan_rows", sum(t.record_count for t in data))
                h.count("planner.rows_out", int(row[0]))

        # The warm-up iteration runs one round: that compiles every op,
        # and keeps set-up short.  (A warm-up on a tenth-size table left
        # the first measured iteration up to twice as slow as the next.)
        for rnd in range(1, (self.ROUNDS if measured else 1) + 1):
            spent.clear()
            h.settle()  # a round is timed as a whole
            # upsert: half existing keys with new values, half new orders
            old = live.iloc[rng.choice(len(live), self.UPSERT_ROWS // 2, replace=False)].copy()
            old["l_quantity"] = rng.integers(1, 51, len(old)).astype(np.float64)
            new = live.iloc[rng.choice(len(live), self.UPSERT_ROWS // 2, replace=False)].copy()
            new["l_orderkey"] = next_key + np.arange(len(new), dtype=np.int64)
            new["l_linenumber"] = np.int32(1)
            next_key += len(new)
            batch = pd.concat([old, new], ignore_index=True)
            src = h.spark.createDataFrame(batch, self.schema)
            keys = ["l_orderkey", "l_linenumber"]

            def upsert_apply(cur):
                idx = pd.MultiIndex.from_frame(cur[keys])
                return pd.concat([cur[~idx.isin(pd.MultiIndex.from_frame(batch[keys]))], batch],
                                 ignore_index=True)

            write("upsert", lambda: deletes.merge_upsert(h.spark, tb, src, keys), upsert_apply)

            lo = int(rng.integers(1, next_key - self.DELETE_RANGE))
            hi = lo + self.DELETE_RANGE
            pred = (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
            write("delete", lambda: deletes.write_position_deletes(h.spark, tb, pred),
                  lambda cur: cur[(cur.l_orderkey < lo) | (cur.l_orderkey >= hi)])

            doomed = rng.choice(live.l_orderkey.unique(), self.DELETE_KEYS, replace=False)
            kdf = h.spark.createDataFrame(pd.DataFrame({"l_orderkey": doomed.astype(np.int64)}))
            write("delete",
                  lambda: deletes.write_equality_deletes(h.spark, tb, kdf, ["l_orderkey"]),
                  lambda cur: cur[~cur.l_orderkey.isin(doomed)])

            lo = int(rng.integers(1, next_key - next_key // 20))
            read("range_read", rnd,
                 [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + next_key // 20)])
            read("full_read", rnd, None)
            if measured and None not in spent:
                h.samples[self.second].append(sum(spent))

        # Maintenance: compaction of everything the rounds left behind.
        before = tb.current_snapshot().files
        data, pos, eq = tb.scan_tasks()
        in_bytes = sum(t.file_size_in_bytes for t in data)

        def maintain():
            c = Compaction(h.spark)
            resp = c.full_compact(tb, self.schema)
            c.expire_snapshot(tb)
            return resp

        ok, resp = h.op(self.main, maintain, measured)
        if not ok:
            return
        out = tb.current_snapshot().files
        h.check(all(e["content"] == "DATA" for e in out), "compaction left delete files live")
        out_bytes = sum(f.file_size_in_bytes for f in resp.data_files)
        h.extra["compact_bytes_ratio"].append(out_bytes / in_bytes)
        h.extra["metadata_bytes"].append(os.path.getsize(tb.manifest_path))
        h.count("planner.scan_rows", sum(t.record_count for t in data))
        h.count("planner.delete_rows", sum(t.record_count for t in pos + eq))
        h.count("planner.rows_out", sum(f.record_count for f in resp.data_files))
        h.count("writer.files_out", len(resp.data_files))
        h.count("writer.bytes_out", out_bytes)
        h.count("manifest.json_bytes", os.path.getsize(tb.manifest_path))
        h.count("manifest.live_delete_files", len(pos) + len(eq))
        con = duckdb.connect()
        mor_oracle(con, before)
        oracle = row_multiset(con, "live")
        lst = ", ".join(f"'{e['path']}'" for e in out)
        got = row_multiset(con, f"read_parquet([{lst}])")
        want = self._state_hash(con, live)
        con.close()
        h.check(got == oracle, f"compacted rows {got} != DuckDB oracle {oracle}")
        h.check(oracle == want, f"DuckDB oracle {oracle} != generator state {want}")
        self.last = (tb, live)

    def finish(self) -> None:
        """``read_table`` of the last compacted table equals the
        generator's state."""
        import ic_spark.compaction.deletes as deletes

        tb, live = self.last
        con = duckdb.connect()
        got = self._arrow_multiset(con, deletes.read_table(self.h.spark, tb, self.schema).toArrow())
        want = self._state_hash(con, live)
        con.close()
        self.h.check(got == want, f"final read_table {got} != generator state {want}")


# ---------------------------------------------------------------- near_dup

EXPECTED_PAIRS = os.path.join(HERE, "expected_pairs.json")
THRESHOLD = 0.5


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split(" ")
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class NearDup:
    """``dedup_minhash_lsh`` on a 5000-doc uniform corpus and on its
    hot-bucket twin (bench.py's skew transform on 500 long docs).

    main op: the hot-bucket pipeline.  second op: the uniform one.
    """

    main, second = "dedup_skew", "dedup_uniform"
    ITERATION_S = 7.5  # one measured iteration on a 4-core host

    def __init__(self, h: Harness, seed: int):
        self.h, self.seed = h, seed
        self.first_hash: dict[str, str] = {}
        self.digests: dict[str, str] = {}
        self.prev_dirs: list[str] = []

    def build_inputs(self) -> None:
        docs, planted = fx.documents(self.seed)
        self.corpora = {"uniform": docs, "skew": fx.hot_bucket(docs)}
        self.shingles = {
            c: [shingles(s) for s in t.column("text").to_pylist()]
            for c, t in self.corpora.items()
        }
        # Planted pairs similar enough that 16 bands x 4 rows find them
        # with probability > 1 - 1e-7 each.
        self.must_find = {
            c: {p for p in planted if jaccard(sh[p[0]], sh[p[1]]) >= 0.9}
            for c, sh in self.shingles.items()
        }
        try:
            with open(EXPECTED_PAIRS) as f:
                self.recorded = json.load(f).get(str(self.seed), {})
        except FileNotFoundError:
            self.recorded = {}

    def iteration(self, measured: bool) -> None:
        from ic_spark.queries import llm

        h = self.h
        for d in self.prev_dirs:
            shutil.rmtree(d, ignore_errors=True)
        dirs = {}
        for corpus, t in self.corpora.items():
            dirs[corpus] = h.fresh_dir(f"docs-{corpus}")
            fx.write_documents(t, dirs[corpus])
        self.prev_dirs = list(dirs.values())
        for corpus, kind in (("uniform", self.second), ("skew", self.main)):
            h.fresh_state()
            if h.tracer is not None:
                h.tracer.candidates = []
            ok, rows = h.op(kind, lambda: llm.dedup_minhash_lsh(h.spark, dirs[corpus]).collect(),
                            measured)
            if not ok:
                continue
            if h.tracer is not None:
                h.tracer.corpus_of[h.tracer.last_op] = corpus
            self._stage_counts(corpus)
            self._check(corpus, rows)

    def _stage_counts(self, corpus: str) -> None:
        tr = self.h.tracer
        if tr is None:
            return
        spans = {s["name"]: s["end"] - s["start"] for s in tr.spans
                 if s["op"] == tr.last_op and s["end"] is not None}
        total = spans.get("op." + (self.main if corpus == "skew" else self.second), 0.0)
        sig = spans.get("minhash.signatures", 0.0)
        cand = spans.get("minhash.candidates", 0.0)
        tr.count(f"minhash.signatures_s.{corpus}", sig)
        tr.count(f"minhash.candidates_s.{corpus}", cand)
        tr.count(f"minhash.verify_s.{corpus}", total - sig - cand)
        if tr.candidates:
            tr.count(f"minhash.candidate_pairs.{corpus}", tr.candidates[-1].count())

    def _check(self, corpus: str, rows) -> None:
        h = self.h
        sh = self.shingles[corpus]
        pairs = sorted((int(r["id_a"]), int(r["id_b"])) for r in rows)
        h.count(f"minhash.verified_pairs.{corpus}", len(pairs))
        digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()
        self.first_hash.setdefault(corpus, digest)
        h.check(digest == self.first_hash[corpus], f"{corpus}: pair set changed between iterations")
        if corpus in self.recorded:
            h.check(digest == self.recorded[corpus],
                    f"{corpus}: pair set differs from the one recorded for seed {self.seed}")
        bad = [(a, b) for (a, b), r in zip(pairs, sorted(rows, key=lambda r: (r["id_a"], r["id_b"])))
               if abs(jaccard(sh[a], sh[b]) - float(r["jaccard"])) > 1e-6
               or jaccard(sh[a], sh[b]) < THRESHOLD]
        h.check(not bad, f"{corpus}: {len(bad)} pairs fail the Jaccard recheck, e.g. {bad[:3]}")
        missing = self.must_find[corpus] - set(pairs)
        h.check(not missing, f"{corpus}: {len(missing)} planted near-duplicates missing")
        self.digests[corpus] = digest


WORKLOADS = {"table": Table, "near_dup": NearDup}
