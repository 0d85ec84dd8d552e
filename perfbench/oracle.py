"""Output checks for the graft benchmark, run after the timed JVM exits.

Query workloads: each query's DuckDB oracle SQL (the one its QueryPack
declares) runs on the same generated tables, and its result is digested the
way the harness digests Spark's (perfbench/harness/.../Canon.scala): columns
sorted by name, one canonical string per row, MD5 per row, the first 8 bytes
of each summed mod 2^64. Equal digests mean equal row multisets.

Compaction: the bulk output and every micro-batch output are compared with
last-write-wins results computed independently in DuckDB (a row_number window,
not graft's max_by), and every bulk output file must be sorted by key.
"""
import datetime
import decimal
import glob
import hashlib
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
KEYS = ("user_id", "event_type")


def _dbl(x):
    x = 0.0 if x == 0.0 else x
    return "d" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def put(v, out):
    if v is None:
        out.append("N")
    elif isinstance(v, bool):
        out.append("T" if v else "F")
    elif isinstance(v, int):
        out.append(f"i{v}")
    elif isinstance(v, float):
        out.append(_dbl(v))
    elif isinstance(v, decimal.Decimal):
        out.append(_dbl(float(v)))
    elif isinstance(v, str):
        out.append(f"s{len(v)}:{v}")
    elif isinstance(v, datetime.datetime):
        d = v - (EPOCH_TZ if v.tzinfo else EPOCH)
        out.append(f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}")
    elif isinstance(v, datetime.date):
        out.append(f"D{(v - EPOCH.date()).days}")
    elif isinstance(v, dict):
        out.append("{")
        for x in v.values():
            put(x, out)
            out.append(",")
        out.append("}")
    elif isinstance(v, (list, tuple)):
        out.append("[")
        for x in v:
            put(x, out)
            out.append(",")
        out.append("]")
    elif isinstance(v, (bytes, bytearray)):
        out.append("b" + bytes(v).hex())
    else:
        raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for row in rows:
        out = []
        for i in order:
            put(row[i], out)
            out.append("|")
        h = hashlib.md5("".join(out).encode("utf-8")).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
    return f"{len(rows)}:{total % (1 << 64):x}"


def query_digests(data_dir, oracles):
    """{query: digest or 'error: ...'} of each oracle SQL on data_dir."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    res = {}
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            res[name] = digest(rel.columns, rel.fetchall())
        except Exception as e:  # reported as a failed check, with its class
            res[name] = f"error: {type(e).__name__}: {e}"
    return res


def _lww(src):
    return (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY "
            f"{', '.join(KEYS)} ORDER BY ts DESC, event_id DESC) AS rn FROM {src}) WHERE rn = 1")


def _same(con, a, b):
    """True when relations a and b hold the same multiset of event rows."""
    cols = "event_id, ts, user_id, event_type, value, props"
    q = (f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM ({a}) EXCEPT ALL SELECT {cols} FROM ({b}))),"
         f" (SELECT count(*) FROM (SELECT {cols} FROM ({b}) EXCEPT ALL SELECT {cols} FROM ({a})))")
    return con.sql(q).fetchone() == (0, 0)


class CompactionOracle:
    """Expected last-write-wins results of one generated event store,
    computed once and kept as DuckDB tables for the checks of every pass."""

    def __init__(self, store_dir):
        self.con = duckdb.connect()
        store = f"read_parquet('{store_dir}/part-*.parquet')"
        self.keys = self.con.sql(
            f"SELECT count(*) FROM (SELECT DISTINCT {', '.join(KEYS)} FROM {store})").fetchone()[0]
        self.con.execute(f"CREATE TABLE lww_all AS {_lww(store)}")
        # Fingerprint of each file's LWW result -> its table, to pair batches with files.
        self.by_fp = {}
        for i, f in enumerate(sorted(glob.glob(f"{store_dir}/part-*.parquet"))):
            src = f"read_parquet('{f}')"
            self.con.execute(f"CREATE TABLE lww_{i} AS {_lww(src)}")
            self.by_fp[self._fp(f"lww_{i}")] = f"lww_{i}"

    def _fp(self, rel):
        return self.con.sql(f"SELECT count(*), sum(event_id), min(event_id), max(event_id) FROM {rel}").fetchone()

    def check_bulk(self, out_dir):
        """Problems with one bulk compaction output (empty list when correct)."""
        files = sorted(glob.glob(f"{out_dir}/part-*.parquet"))
        if not files:
            return [f"no output files in {os.path.basename(out_dir)}"]
        out = f"read_parquet('{out_dir}/part-*.parquet')"
        errs = []
        n = self.con.sql(f"SELECT count(*) FROM {out}").fetchone()[0]
        if n != self.keys:
            errs.append(f"bulk: {n} output keys, {self.keys} distinct input keys")
        if not _same(self.con, f"SELECT * FROM {out}", "SELECT * FROM lww_all"):
            errs.append("bulk: kept rows differ from newest (ts, event_id) per key")
        for f in files:
            # Rows out of key order: a row whose key is below the previous row's.
            unsorted = self.con.sql(
                f"SELECT count(*) FROM (SELECT user_id, event_type, "
                f"lag(user_id) OVER w AS pu, lag(event_type) OVER w AS pe "
                f"FROM read_parquet('{f}', file_row_number = true) "
                f"WINDOW w AS (ORDER BY file_row_number)) "
                f"WHERE pu IS NOT NULL AND (pu, pe) > (user_id, event_type)"
            ).fetchone()[0]
            if unsorted:
                errs.append(f"bulk: {os.path.basename(f)} is not sorted by key")
        return errs

    def check_rolling(self, roll_dir, n_files):
        """Problems with one rolling loop's output: each micro-batch must equal
        the LWW of exactly one input file, and every file must have a batch."""
        batches = sorted(glob.glob(f"{roll_dir}/batch=*"))
        errs = []
        if len(batches) != n_files:
            errs.append(f"rolling: {len(batches)} batch outputs for {n_files} files")
        seen = set()
        for b in batches:
            out = f"(SELECT * FROM read_parquet('{b}/*.parquet'))"
            src = self.by_fp.get(self._fp(out))
            if src is None or src in seen or not _same(self.con, out, f"SELECT * FROM {src}"):
                errs.append(f"rolling: {os.path.basename(b)} is not the LWW of one input file")
            seen.add(src)
        return errs
