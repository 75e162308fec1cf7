"""Seeded input generation for the benchmark, independent of the engine.

Every input a workload reads is derived here from the frozen template
(`template/`, a copy of the sf0.01 fixture tables) and the run's seed:

* ``sf01`` — pseudo-sf0.1: 10 key-shifted copies of the template;
* ``sf1``  — pseudo-sf1: 100 key-shifted copies of the template;
* ``changes`` — the I/U/D change batches the upsert loop applies.

Copies are made independent with the same recipe as the engine's scale
probe (surrogate keys shift by a stride divisible by every slicer modulus
the query suite uses; names, document tokens and embedding signs get a
per-copy code), so a flow's work grows linearly with the copy count and
its DuckDB oracle still holds. The recipe lives here, not in the engine,
so a change to the engine's own synthesis cannot change what the
benchmark measures.

The seed picks which copy codes pseudo-sf0.1 uses (copy 0 is always the
template itself), the order of the copies within each table, and the
change batches. Pseudo-sf1 uses every copy code in code order, so it is
the same for every seed. Outputs are cached by (generator version,
seed) and carry a checksum manifest, so two runs can show they read
identical inputs.
"""
import datetime
import hashlib
import json
import os
import random
import shutil
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import TABLES

GEN_VERSION = 3
HERE = Path(__file__).resolve().parent
TEMPLATE = HERE / "template"
STRIDE = 1092000000  # 2^4 * 3 * 5^2 * 7 * 13 * 10^4: 0 mod every slicer modulus
SF01_COPIES = 10
SF1_COPIES = 100
CACHE_KEEP = 3  # cached seeds kept per input kind

# upsert loop: table = pseudo-sf0.1 orders, pk o_orderkey
N_BATCHES = 400
BATCH_UPDATES = 10
BATCH_DELETES = 3
BATCH_INSERTS = 3
INSERT_KEY_BASE = 900_000_000_000


def _digits(i):
    a, b = chr(48 + i // 10), chr(48 + i % 10)
    return a + a + b + b


def _alpha(i):
    a, b = chr(97 + i // 10), chr(97 + i % 10)
    return "~" + a * 3 + b * 3


def _name(col, i):
    return col if i == 0 else f"substring({col}, 1, 9) || '{_digits(i)}' || substring({col}, 14, 100)"


def _text(col, i):
    if i == 0:
        return col
    return (f"array_to_string(list_transform(string_split({col}, ' '), "
            f"w -> CASE WHEN w = '' THEN w ELSE w || '{_alpha(i)}' END), ' ')")


def _embedding(i):
    if i == 0:
        return "embedding"
    a, b = i % 64, i // 64
    # dim j (0-based) flips iff parity(popcount(j & a)) xor b: Reed-Muller
    # RM(1,6) sign masks, so two copies disagree on >= 32 of 64 dims
    return (f"list_transform(embedding, (x, j) -> CASE WHEN "
            f"(bit_count(((j - 1) & {a})::BIGINT) + {b}) % 2 = 1 THEN -x ELSE x END)::FLOAT[]")


def _shift(col, i):
    return f"({col} + {STRIDE * i})::BIGINT"


def _copy_sql(table, i):
    src = f"read_parquet('{TEMPLATE / (table + '.parquet')}')"
    cols = {
        "customer": f"{_shift('c_custkey', i)} AS c_custkey, {_name('c_name', i)} AS c_name, "
                    f"c_nationkey, c_acctbal + {10000.0 * i} AS c_acctbal, c_mktsegment",
        "supplier": f"{_shift('s_suppkey', i)} AS s_suppkey, {_name('s_name', i)} AS s_name, "
                    f"s_nationkey, s_acctbal + {10000.0 * i} AS s_acctbal",
        "part": f"{_shift('p_partkey', i)} AS p_partkey, {_text('p_name', i)} AS p_name, "
                f"p_brand, p_type, p_size, p_retailprice",
        "orders": f"{_shift('o_orderkey', i)} AS o_orderkey, {_shift('o_custkey', i)} AS o_custkey, "
                  f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
        "lineitem": f"{_shift('l_orderkey', i)} AS l_orderkey, {_shift('l_partkey', i)} AS l_partkey, "
                    f"{_shift('l_suppkey', i)} AS l_suppkey, l_linenumber, l_quantity, "
                    f"l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate",
        "events": f"{_shift('event_id', i)} AS event_id, ts, {_shift('user_id', i)} AS user_id, "
                  f"event_type, value, props",
        "documents": f"{_shift('doc_id', i)} AS doc_id, {_text('text', i)} AS text, lang, source, "
                     f"length({_text('text', i)})::BIGINT AS n_chars",
        "embeddings": f"{_shift('vec_id', i)} AS vec_id, {_embedding(i)} AS embedding, label",
    }[table]
    return f"SELECT {cols} FROM {src}"


def _write(con, sql, table, out):
    schema = pq.read_schema(TEMPLATE / f"{table}.parquet").remove_metadata()
    t = con.sql(sql).arrow().cast(schema)
    # one file per table, like the fixture; row groups of 1M rows keep
    # the pseudo-sf1 scans splittable
    pq.write_table(t, out / f"{table}.parquet", row_group_size=1 << 20)


def _sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _manifest(out, extra):
    files = sorted(p for p in out.rglob("*.parquet"))
    sums = {str(p.relative_to(out)): _sha(p) for p in files}
    mb = sum(p.stat().st_size for p in files) / 1e6
    whole = hashlib.sha256(json.dumps(sums, sort_keys=True).encode()).hexdigest()
    m = dict(extra, gen_version=GEN_VERSION, files=sums, mb=mb, sha256=whole)
    (out / "manifest.json").write_text(json.dumps(m, indent=1, sort_keys=True))
    return m


def copy_codes(seed, copies):
    """Copy codes in table order: code 0 (the template itself) plus
    `copies - 1` seeded codes from 1..99, in seeded order."""
    rng = random.Random(f"codes/{copies}/{seed}")
    codes = [0] + rng.sample(range(1, 100), copies - 1)
    rng.shuffle(codes)
    return codes


def _scaled(con, out, codes):
    out.mkdir(parents=True)
    for t in TABLES:
        if t in ("region", "nation"):
            sql = f"SELECT * FROM read_parquet('{TEMPLATE / (t + '.parquet')}')"
        else:
            sql = " UNION ALL ".join(f"({_copy_sql(t, i)})" for i in codes)
        _write(con, sql, t, out)


def _changes(con, out, seed, sf01):
    """Seeded I/U/D batches over pseudo-sf0.1 orders: distinct keys within
    a batch, updates and deletes of live keys, inserts of fresh keys.
    `warm.parquet` updates template keys, for the untimed warm-up."""
    out.mkdir(parents=True)
    rng = random.Random(f"changes/{seed}")
    statuses, prios = ["F", "O", "P", "X"], ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
                        ("_op", pa.string()), ("_seq", pa.int64())])
    day0 = datetime.datetime(1995, 1, 1)

    def row(k, op, b):
        return (k, rng.randrange(1, 150000), rng.choice(statuses), round(rng.uniform(100, 500000), 2),
                day0 + datetime.timedelta(days=rng.randrange(2500)), rng.choice(prios), op, b)

    def write(rows, name):
        cols = list(zip(*rows))
        t = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        pq.write_table(t, out / name)

    def keys(path):
        return [r[0] for r in con.sql(f"SELECT o_orderkey FROM read_parquet('{path}') ORDER BY 1").fetchall()]

    write([row(k, "U", 1) for k in rng.sample(keys(TEMPLATE / "orders.parquet"), BATCH_UPDATES)], "warm.parquet")
    live_list = keys(sf01 / "orders.parquet")
    live = set(live_list)
    next_key = INSERT_KEY_BASE + rng.randrange(1 << 20) * 1000
    for b in range(N_BATCHES):
        picked = set()
        while len(picked) < BATCH_UPDATES + BATCH_DELETES:
            k = live_list[rng.randrange(len(live_list))]
            if k in live:
                picked.add(k)
        picked = sorted(picked)
        rng.shuffle(picked)
        rows = [row(k, "U" if j < BATCH_UPDATES else "D", b + 1) for j, k in enumerate(picked)]
        live.difference_update(picked[BATCH_UPDATES:])
        for _ in range(BATCH_INSERTS):
            next_key += 1
            live.add(next_key)
            live_list.append(next_key)
            rows.append(row(next_key, "I", b + 1))
        write(rows, f"b{b:04d}.parquet")


def _evict(kind_dir):
    entries = sorted((p for p in kind_dir.iterdir() if p.is_dir()), key=lambda p: p.stat().st_mtime)
    for p in entries[:-CACHE_KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def ensure(root, kind, seed):
    """Return (dir, manifest) of the `kind` inputs for `seed`, generating
    them into `root` unless a complete cached copy exists."""
    if kind == "sf1":
        seed = "all"
    kind_dir = Path(root) / f"v{GEN_VERSION}" / kind
    out = kind_dir / f"s{seed}"
    if (out / "manifest.json").exists():
        os.utime(out)
        return out, json.loads((out / "manifest.json").read_text())
    if out.exists():
        shutil.rmtree(out)
    kind_dir.mkdir(parents=True, exist_ok=True)
    tmp = kind_dir / f".s{seed}.tmp"
    if tmp.exists():
        shutil.rmtree(tmp)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{kind_dir / '.duck_tmp'}'")
    con.execute("SET threads=4")
    if kind == "sf01":
        codes = copy_codes(seed, SF01_COPIES)
        _scaled(con, tmp, codes)
        extra = {"kind": kind, "seed": seed, "codes": codes}
    elif kind == "sf1":
        codes = list(range(SF1_COPIES))
        _scaled(con, tmp, codes)
        extra = {"kind": kind, "seed": seed, "codes": codes}
    elif kind == "changes":
        sf01, _ = ensure(root, "sf01", seed)
        _changes(con, tmp, seed, sf01)
        extra = {"kind": kind, "seed": seed, "batches": N_BATCHES}
    else:
        raise ValueError(kind)
    con.close()
    m = _manifest(tmp, extra)
    tmp.rename(out)
    _evict(kind_dir)
    return out, m
