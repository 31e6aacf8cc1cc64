"""Seeded inputs and expected answers for the lake benchmark.

Everything here is derived from the engine's read-only TPC-H-ish corpus
(one parquet file per table) and a seed:

* ``make_lake`` writes a row-permuted, multi-file copy of every table.
  The seed picks the permutation and where each table's files are cut;
  the rows themselves never change, so every key's answer is the same
  for every seed.
* ``make_landing`` writes the CSV landing objects of ``lake_ingest``:
  ``events``/``orders``/``lineitem`` cut into time slices of seeded
  size, in ``graft.etl.Ingest.TsFormat``, together with the per-object
  sums the ingest check compares against.
* ``expected_answers`` runs each key's DuckDB twin from
  ``SparkEntry.oracleSql`` and keeps the canonical digest of its result.
  Because the rows do not depend on the seed, digests are cached by
  (source corpus, SQL text) and computed at most once per checkout.

The digest sorts columns by name and compares values exactly, as
``tools/selfcheck.py`` does; ``encode`` must stay in step with
``Canon.scala`` in the harness.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Files per table: the fact tables come in several files, small
# dimension tables in one, as a real lake keeps them. The counts are
# fixed so that the seed moves rows and cut points, not the file layout
# every scan pays per file.
FILES = {"region": 1, "nation": 1, "supplier": 1, "customer": 2, "part": 2,
         "orders": 4, "lineitem": 4, "events": 4, "documents": 2, "embeddings": 2}

# The three landed tables: (key column, money column, timestamp column).
LANDED = {
    "events": ("event_id", "value", "ts"),
    "orders": ("o_orderkey", "o_totalprice", "o_orderdate"),
    "lineitem": ("l_orderkey", "l_extendedprice", "l_shipdate"),
}


def rng(seed, salt):
    import numpy as np
    h = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _split_points(r, n_rows, n_parts, spread):
    """Seeded, uneven cut of n_rows into n_parts non-empty slices whose
    sizes vary by up to +-spread around the mean."""
    w = r.uniform(1 - spread, 1 + spread, n_parts)
    cuts = (w.cumsum() / w.sum() * n_rows).round().astype(int)
    cuts[-1] = n_rows
    out, lo = [], 0
    for c in cuts:
        c = max(c, lo + 1)
        out.append((lo, min(c, n_rows)))
        lo = min(c, n_rows)
    return out


def _write_atomic(final_dir, fill):
    """Build final_dir through a sibling temp dir so a killed run never
    leaves a half-written input behind that a later run would trust."""
    if os.path.isdir(final_dir):
        os.utime(final_dir)  # mark as recently used for cache pruning
        return final_dir
    tmp = final_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    os.rename(tmp, final_dir)
    return final_dir


def make_lake(src_dir, out_dir, seed):
    """Row-permuted, multi-file copy of src_dir (one dir per table)."""
    import pyarrow.parquet as pq

    def fill(tmp):
        for t in TABLES:
            table = pq.read_table(f"{src_dir}/{t}.parquet")
            r = rng(seed, "lake:" + t)
            table = table.take(r.permutation(table.num_rows))
            d = f"{tmp}/{t}.parquet"
            os.makedirs(d)
            for i, (lo, hi) in enumerate(
                    _split_points(r, table.num_rows, FILES[t], spread=0.1)):
                pq.write_table(table.slice(lo, hi - lo),
                               f"{d}/part-{i:05d}.parquet",
                               compression="snappy")
    return _write_atomic(out_dir, fill)


def make_landing(src_dir, out_dir, seed, objects):
    """CSV landing objects plus manifest.json with per-object sums."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def fill(tmp):
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=4")
        src = {t: pq.read_table(f"{src_dir}/{t}.parquet") for t in LANDED}
        total = sum(v.num_rows for v in src.values())
        # Objects per table in proportion to its rows, at least 2 each.
        per = {t: max(2, round(objects * v.num_rows / total))
               for t, v in src.items()}
        per["lineitem"] += objects - sum(per.values())
        objs = []
        for t, (key, money, ts) in LANDED.items():
            tbl = src[t]
            # Objects arrive as time slices, as a landing zone fed by
            # periodic exports does; rows inside an object are shuffled.
            r = rng(seed, "landing:" + t)
            tbl = tbl.take(r.permutation(tbl.num_rows))
            tbl = tbl.take(pc.sort_indices(tbl, [(ts, "ascending")]))
            unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
                tbl.schema.field(ts).type.unit]
            sel = ", ".join(
                f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f') AS {c}" if c == ts
                else c for c in tbl.column_names)
            for i, (lo, hi) in enumerate(
                    _split_points(r, tbl.num_rows, per[t], spread=0.1)):
                part = tbl.slice(lo, hi - lo)
                part = part.take(r.permutation(part.num_rows))
                name = f"{t}-{i:03d}.csv"
                con.register("part", part)
                con.execute(f"""COPY (SELECT {sel} FROM part)
                    TO '{tmp}/{name}' (HEADER, DELIMITER ',', QUOTE '"',
                                       ESCAPE '\\')""")
                con.unregister("part")
                m = part[money].to_numpy()
                s = part[ts].cast(pa.int64()).to_numpy()
                objs.append({
                    "file": name, "table": t, "rows": part.num_rows,
                    "bytes": os.path.getsize(f"{tmp}/{name}"),
                    "key_sum": int(pc.sum(part[key]).as_py()),
                    "cents_sum": int(np.floor(m * 100.0).astype(np.int64).sum()),
                    "secs_sum": int(np.floor_divide(s, unit).sum())})
        order = rng(seed, "landing-order").permutation(len(objs)).tolist()
        manifest = {"tables": {t: list(v) for t, v in LANDED.items()},
                    "objects": [objs[i] for i in order]}
        with open(f"{tmp}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=1)
    return _write_atomic(out_dir, fill)


# ---------------------------------------------------------------- digests

def encode(v):
    """Tagged canonical text of one result value (see Canon.scala)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if v == 0.0:
            v = 0.0
        return "f%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return "d" + ("0" if n == 0 else format(n, "f"))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(encode(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(encode(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    h.update(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(encode(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()


def expected_answers(lake_dir, src_id, sqls, cache_file, log=print):
    """{key: {"rows": n, "digest": hex}} for each (key, sql) in sqls."""
    import duckdb
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    todo = {k: s for k, s in sqls.items()
            if cache.get(k, {}).get("id") != _sql_id(src_id, s)}
    if todo:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{lake_dir}/{t}.parquet/*.parquet')")
        for k in sorted(todo):
            rel = con.sql(todo[k])
            rows = rel.fetchall()
            cache[k] = {"id": _sql_id(src_id, todo[k]), "rows": len(rows),
                        "digest": digest(list(rel.columns), rows)}
            log(f"expected {k}: {len(rows)} rows")
        os.makedirs(os.path.dirname(cache_file), exist_ok=True)
        tmp = cache_file + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_file)
    return {k: {"rows": cache[k]["rows"], "digest": cache[k]["digest"]}
            for k in sqls}


def _sql_id(src_id, sql):
    return hashlib.sha256(f"{src_id}\n{sql}".encode()).hexdigest()[:16]


def corpus_id(src_dir):
    """Identity of a source corpus: its tables' sizes and mtimes."""
    h = hashlib.sha256()
    for t in TABLES:
        st = os.stat(f"{src_dir}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}\n".encode())
    return h.hexdigest()[:16]
