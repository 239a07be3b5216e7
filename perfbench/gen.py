"""Seeded input generator for the workload benchmark.

Everything a run feeds the engine comes from here: the testdata-shaped
source tables (same column names and types as the driver's TPC-H-ish
parquet files), the request sequences and, for ``ingest``, the mutation
deltas together with the key state each cycle must leave behind.  It uses
numpy and pyarrow only — never Spark, never the engine — so the expected
answers it keeps cannot share a defect with the program under test.

The same seed gives byte-identical inputs; :class:`Digest` hashes every
table and op list so a run record shows it.

run.py runs this module as a child process, so the generator's memory
stays out of the benchmark process's peak RSS:

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the source tables under ``out_dir``, ``drive.pkl`` (what the
driver feeds the engine) and ``expected.pkl`` (what the checker compares
answers with; loaded only after the measured phase).
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
N_NATIONS = 25
DIM = 64
N_LABELS = 10

# s3_api source sizes (sf0.1 shapes: 150k orders, 15k customers, 1k suppliers)
S3_ORDERS = 150_000
S3_CUSTOMERS = 15_000
S3_SUPPLIERS = 1_000
S3_UPLOADS = 20_000
S3_ROUNDS = 100  # a round takes about 4 s; a run uses a few
S3_WARMUP_ROUNDS = 2

# ingest sizes: a smaller objects base keeps each fold (a full rewrite of
# the base, by design) inside one cycle of a short run
ING_ORDERS = 10_000
ING_CUSTOMERS = 1_000
ING_VECS = 1_500
ING_CYCLES = 8  # pre-generated; a run consumes the warm-up cycle + a few
# staged segments per layout per cycle: the engine folds the objects and
# ANN layouts at 4 live segments, so with 4 every cycle ends in a fold.
# The warm-up cycle stages one segment and folds it unconditionally.
SEGMENTS_PER_CYCLE = 4
ING_PUTS_PER_SEG = 30
ING_OVERWRITES_PER_SEG = 15
ING_DELETES_PER_SEG = 15
ING_VECS_PER_SEG = 20


class Digest:
    """sha256 over every generated table and op list, in generation order."""

    def __init__(self):
        self._h = hashlib.sha256()

    def table(self, name: str, t: pa.Table) -> None:
        self._h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        self._h.update(sink.getvalue().to_pybytes())

    def obj(self, name: str, value) -> None:
        self._h.update(name.encode())
        self._h.update(json.dumps(value, sort_keys=True).encode())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def _write(t: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)


def embeddings_table(rng, centers, first_id: int, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.08, (n, DIM))
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def dimension_tables(rng, n_customers: int, n_suppliers: int) -> dict:
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_customers), pa.int32()
            ),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999, 9999, n_customers), 2), pa.float64()
            ),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"],
                           n_customers)
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_suppliers), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_suppliers)]),
            "s_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_suppliers), pa.int32()
            ),
            "s_acctbal": pa.array(
                np.round(rng.uniform(-999, 9999, n_suppliers), 2), pa.float64()
            ),
        }
    )
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier}


def orders_table(rng, n: int, n_customers: int) -> pa.Table:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    dates = np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000, 500000, n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def object_key(priority: str, status: str, orderkey: int) -> str:
    """tables._object_key: every 3rd order nests one level deeper."""
    sep = "/" if orderkey % 3 == 0 else "-"
    return f"{priority}/{status}{sep}{orderkey}"


def object_rows(orders: pa.Table, customer: pa.Table) -> dict:
    """The generator's own copy of tables.objects_df:
    {(bucket, key): (orderkey, size, atime)}; see :func:`object_row`."""
    import pyarrow.compute as pc

    ok = np.asarray(orders.column("o_orderkey"))
    nat = np.asarray(customer.column("c_nationkey"))[
        np.asarray(orders.column("o_custkey"))]
    st = orders.column("o_orderstatus").to_pylist()
    pr = orders.column("o_orderpriority").to_pylist()
    size = np.floor(np.asarray(orders.column("o_totalprice")) * 100).astype(
        np.int64).tolist()
    atime = pc.strftime(orders.column("o_orderdate").cast(pa.timestamp("s")),
                        "%Y-%m-%d %H:%M:%S").to_pylist()
    return {
        (f"NATION_{n}", object_key(p, s, k)): (k, z, a)
        for k, n, s, p, z, a in zip(ok.tolist(), nat.tolist(), st, pr, size,
                                    atime)
    }


def object_row(bucket: str, value: tuple) -> dict:
    """The full object row of one :func:`object_rows` entry."""
    k, size, atime = value
    return {
        "inode": str(k),
        "size": size,
        "atime": atime,
        "checksum": hashlib.md5(str(k).encode()).hexdigest(),
        "acl": "private" if k % 5 == 0 else None,
        "owner": REGIONS[int(bucket.split("_")[1]) % 5],
    }


def expected_listing(sorted_keys, prefix, delimiter, max_keys):
    """S3 ListObjects semantics over a sorted key list (the listing
    contract of operators/listing.py, re-derived independently): the
    first page, as [(name, 'key'|'prefix')...]."""
    import bisect

    lo = bisect.bisect_left(sorted_keys, prefix) if prefix else 0
    out = []
    last_prefix = None
    for key in sorted_keys[lo:]:
        if not key.startswith(prefix) or len(out) == max_keys:
            break
        rest = key[len(prefix):]
        if delimiter and delimiter in rest:
            cp = prefix + rest[: rest.index(delimiter) + len(delimiter)]
            if cp == last_prefix:
                continue
            last_prefix = cp
            out.append((cp, "prefix"))
        else:
            out.append((key, "key"))
    return out


# Bucket popularity: Zipf with YCSB's default constant 0.99 (Cooper et
# al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010).  The
# repository has no measured Pithos access distribution.
ZIPF_S = 0.99


def _zipf_buckets(rng, n: int) -> list[str]:
    order = rng.permutation(N_NATIONS)
    w = 1.0 / np.arange(1, N_NATIONS + 1) ** ZIPF_S
    w /= w.sum()
    return [f"NATION_{int(order[i])}" for i in rng.choice(N_NATIONS, n, p=w)]


# --------------------------------------------------------------------------
# s3_api
# --------------------------------------------------------------------------

# One round issues every request type once; a ListObjects request is a
# whole-bucket pagination walk (see wl_s3.Walk), so a round is about 18
# ops, 12 of them listing pages.  Neither the paper (§0 names ListObjects,
# HEAD and ACL reads as the load-bearing requests but gives no
# proportions) nor the repository records a request mix, so every type
# gets the same weight.  A fixed round keeps the mix the same on every
# seed; the seed picks buckets, keys and uploads.
S3_ROUND = [
    "list_v1", "head_object", "head_bucket", "get_acl",
    "list_v2", "head_object_miss", "get_service", "list_parts",
]
# Listing walks send no max-keys, so pages have Pithos's default of 1000
# entries (BASELINE.md: operations.clj:248-249), and no prefix or
# delimiter: a walk lists a whole bucket (about 6,000 objects), following
# NextMarker / the continuation token until IsTruncated is false.


def _s3_ops(rng, n_rounds, object_list, uploads):
    ops = []
    head_idx = iter(rng.integers(0, len(object_list), n_rounds).tolist())
    buckets = iter(_zipf_buckets(rng, n_rounds * len(S3_ROUND)))
    for _ in range(n_rounds):
        rnd = []
        for kind in S3_ROUND:
            b = next(buckets)
            if kind == "head_object":
                ob, key = object_list[next(head_idx)]
                rnd.append({"kind": kind, "bucket": ob, "key": key})
            elif kind == "head_object_miss":
                k = int(rng.integers(10**9, 2 * 10**9))
                rnd.append({"kind": kind, "bucket": b,
                            "key": object_key("9-NONE", "X", k)})
            elif kind == "list_parts":
                obj, up = uploads[int(rng.integers(0, len(uploads)))]
                rnd.append({"kind": kind, "bucket": b, "key": obj,
                            "upload": up})
            elif kind == "get_service":
                rnd.append({"kind": kind,
                            "tenant": REGIONS[int(rng.integers(0, 5))]})
            else:
                rnd.append({"kind": kind, "bucket": b})
        ops.append(rnd)
    return ops


def generate_s3(seed: int, src_dir: str) -> tuple[dict, dict]:
    """Returns (inputs the driver needs, the checker's expected rows)."""
    rng = np.random.default_rng([seed, 1])
    dig = Digest()
    t = dimension_tables(rng, S3_CUSTOMERS, S3_SUPPLIERS)
    t["orders"] = orders_table(rng, S3_ORDERS, S3_CUSTOMERS)
    up_keys = rng.choice(S3_ORDERS, S3_UPLOADS, replace=False)
    n_parts = rng.integers(1, 8, S3_UPLOADS)
    li_ok = np.repeat(up_keys, n_parts)
    li_ln = np.concatenate([np.arange(1, n + 1) for n in n_parts])
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_ok, pa.int64()),
            "l_linenumber": pa.array(li_ln, pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, len(li_ok)).astype(np.float64), pa.float64()
            ),
        }
    )
    input_bytes = 0
    for name, tab in t.items():
        dig.table(name, tab)
        _write(tab, f"{src_dir}/{name}.parquet")
        input_bytes += tab.nbytes
    objects = object_rows(t["orders"], t["customer"])
    buckets = {f"NATION_{i}": REGIONS[i % 5] for i in range(N_NATIONS)}
    grants: dict = {}
    sn = np.asarray(t["supplier"].column("s_nationkey"))
    for s in range(S3_SUPPLIERS):
        perm = ("READ", "WRITE", "FULL_CONTROL")[s % 3]
        gid = "AllUsers" if s % 5 == 0 else f"Supplier#{s:09d}"
        grants.setdefault(f"NATION_{int(sn[s])}", []).append((perm, gid))
    grants = {b: sorted(g) for b, g in grants.items()}
    uploads = [
        (f"mp/{int(k)}", hashlib.md5(str(int(k)).encode()).hexdigest())
        for k in up_keys
    ]
    object_list = sorted(objects)
    warm = _s3_ops(np.random.default_rng([seed, 2]), S3_WARMUP_ROUNDS,
                   object_list, uploads)
    rounds = _s3_ops(rng, S3_ROUNDS, object_list, uploads)
    dig.obj("warmup", warm)
    dig.obj("rounds", rounds)
    heads = {(op["bucket"], op["key"]): object_row(
                 op["bucket"], objects[(op["bucket"], op["key"])])
             for rnd in warm + rounds for op in rnd
             if op["kind"] == "head_object"}
    drive = {"src_dir": src_dir, "digest": dig.hexdigest(),
             "buckets": buckets, "warmup": warm, "rounds": rounds,
             "input_bytes": input_bytes}
    return drive, {"heads": heads, "grants": grants}


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------


def _mutation_table(rows: list[dict]) -> pa.Table:
    cols = ["bucket", "object", "inode", "size", "atime", "checksum", "acl",
            "storageclass", "owner"]
    data = {c: [r[c] for r in rows] for c in cols}
    data["_tombstone"] = [r["_tombstone"] for r in rows]
    return pa.table(
        {
            **{c: pa.array(data[c], pa.string()) for c in cols if c != "size"},
            "size": pa.array(data["size"], pa.int64()),
            "_tombstone": pa.array(data["_tombstone"], pa.bool_()),
        }
    ).select(cols + ["_tombstone"])


def generate_ingest(seed: int, src_dir: str) -> tuple[dict, dict]:
    """Returns (inputs the driver needs, {}): each cycle's expected
    listings travel with its read specs."""
    rng = np.random.default_rng([seed, 3])
    dig = Digest()
    t = dimension_tables(rng, ING_CUSTOMERS, 10)
    t["orders"] = orders_table(rng, ING_ORDERS, ING_CUSTOMERS)
    centers = rng.normal(0.0, 0.25, (N_LABELS, DIM))
    t["embeddings"] = embeddings_table(rng, centers, 0, ING_VECS)
    for name, tab in t.items():
        dig.table(name, tab)
        _write(tab, f"{src_dir}/base/{name}.parquet")
    live = {bk: object_row(bk[0], v)
            for bk, v in object_rows(t["orders"], t["customer"]).items()}
    vec_bytes = t["embeddings"].nbytes
    next_order = 10**7
    next_vec = ING_VECS
    cycles = []
    for c in range(ING_CYCLES):
        files = {"objects": [], "embeddings": []}
        input_bytes = 0
        touched = set()
        keys = sorted(live)
        n_seg = 1 if c == 0 else SEGMENTS_PER_CYCLE
        pick = rng.choice(len(keys), n_seg
                          * (ING_OVERWRITES_PER_SEG + ING_DELETES_PER_SEG),
                          replace=False)
        pick_iter = iter(pick.tolist())
        for s in range(n_seg):
            rows = []
            for _ in range(ING_PUTS_PER_SEG):
                nat = int(rng.integers(0, N_NATIONS))
                k = next_order
                next_order += 1
                key = object_key(PRIORITIES[int(rng.integers(0, 5))],
                                 STATUSES[int(rng.integers(0, 3))], k)
                rows.append(_mut_row(f"NATION_{nat}", key, k, rng, False))
            for _ in range(ING_OVERWRITES_PER_SEG):
                b, key = keys[next(pick_iter)]
                rows.append(_mut_row(b, key, int(live[(b, key)]["inode"]),
                                     rng, False))
            for _ in range(ING_DELETES_PER_SEG):
                b, key = keys[next(pick_iter)]
                row = dict(live[(b, key)], bucket=b, object=key,
                           storageclass="STANDARD", _tombstone=True)
                rows.append(row)
            for r in rows:
                touched.add(r["bucket"])
                if r["_tombstone"]:
                    live.pop((r["bucket"], r["object"]), None)
                else:
                    live[(r["bucket"], r["object"])] = {
                        k: r[k] for k in ("inode", "size", "atime",
                                          "checksum", "acl", "owner")
                    }
            mt = _mutation_table(rows)
            vecs = embeddings_table(rng, centers, next_vec, ING_VECS_PER_SEG)
            next_vec += ING_VECS_PER_SEG
            for kind, tab in (("objects", mt), ("embeddings", vecs)):
                dig.table(f"{kind}-{c}-{s}", tab)
                path = f"{src_dir}/delta/{kind}/c{c:03d}-s{s}.parquet"
                _write(tab, path)
                files[kind].append(path)
                input_bytes += tab.nbytes
            vec_bytes += vecs.nbytes
        # two listings (one delimited, one flat) of buckets this cycle
        # touched, and a PQ query that may hit a freshly staged vector
        touched = sorted(touched)
        lists = []
        for delim in ("/", ""):
            b = touched[int(rng.integers(0, len(touched)))]
            spec = {"bucket": b,
                    "prefix": PRIORITIES[int(rng.integers(0, 5))] + "/",
                    "delimiter": delim, "max_keys": 1000}  # Pithos's default
            keys = sorted(k for (bb, k) in live if bb == b)
            spec["expected"] = expected_listing(
                keys, spec["prefix"], delim, spec["max_keys"])
            lists.append(spec)
        reads = {"list": lists,
                 "pq": [int(rng.integers(0, next_vec))]}
        cycles.append({
            "files": files,
            "reads": reads,
            "n_vecs": next_vec,
            "input_bytes": input_bytes,
            "live_bytes": _live_objects_bytes(live) + vec_bytes,
        })
        dig.obj(f"reads-{c}", reads)
    drive = {"src_dir": src_dir, "digest": dig.hexdigest(), "cycles": cycles,
             "base_vecs": ING_VECS}
    return drive, {}


def _live_objects_bytes(live: dict) -> int:
    """Arrow bytes of the live object rows (the denominator of space_amp)."""
    rows = [dict(v, bucket=b, object=k, storageclass="STANDARD",
                 _tombstone=False) for (b, k), v in live.items()]
    return _mutation_table(rows).drop(["_tombstone"]).nbytes


def _mut_row(bucket, key, orderkey, rng, tombstone):
    day = int(rng.integers(0, 2404))
    date = np.datetime64("1995-01-01") + np.timedelta64(day, "D")
    return {
        "bucket": bucket,
        "object": key,
        "inode": str(orderkey),
        "size": int(rng.integers(1000, 5 * 10**7)),
        "atime": f"{date} 00:00:00",
        "checksum": hashlib.md5(f"{orderkey}-{rng.integers(1 << 30)}".encode())
        .hexdigest(),
        "acl": None,
        "storageclass": "STANDARD",
        "owner": "AFRICA",
        "_tombstone": tombstone,
    }


GENERATORS = {"s3_api": generate_s3, "ingest": generate_ingest}


def main(argv) -> int:
    workload, seed, out = argv
    drive, expected = GENERATORS[workload](int(seed), out)
    for name, obj in (("drive", drive), ("expected", expected)):
        with open(os.path.join(out, f"{name}.pkl"), "wb") as f:
            pickle.dump(obj, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
