"""Seeded input generators for the benchmark workloads.

Every table is built with numpy from one ``numpy.random.Generator`` and
written as a single parquet file with pyarrow, so the same seed always gives
byte-identical inputs and the program under test only ever sees the files.

Two layouts are produced:

* ``fixture_tables`` mirrors the shape of the repository's TPC-H-ish test
  fixtures (the ten tables the query registry reads: value domains, key
  ranges, near-duplicate documents, unit-norm labelled embeddings), so the
  registry's DuckDB oracles apply unchanged.
* ``cascade_tables`` is the masking star schema: customer -> orders ->
  lineitem with Zipf-skewed foreign keys, a small share of NULL foreign keys
  and unicode names. The seed moves skew, NULL share and value mix; row
  counts are fixed by the caller so run-to-run work stays comparable.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
# unicode name stems for the masking star schema: accented Latin, Greek,
# CJK and an astral-plane character, so generator masks and the Arrow
# boundary see multi-byte UTF-8
UNICODE_STEMS = ["Zoë", "Łukasz", "Ångström", "Ελένη", "山田太郎", "Þórr", "Nguyễn", "😀Smile"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _numbered(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def fixture_tables(seed: int, customers: int) -> dict[str, pa.Table]:
    """All ten registry tables at a scale set by ``customers`` (the fixtures'
    sf0.001 has 150). Ratios follow the fixtures: 10 orders and 40 lineitems
    per customer, parts = 4/3 customers, suppliers = customers / 15."""
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = customers, customers * 10, customers * 40
    n_p, n_s = customers * 4 // 3, max(10, customers // 15)
    n_ev, n_doc, n_emb, n_users = customers * 20 // 3, customers * 10 // 3, customers * 10 // 3, customers // 10

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_c, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": _numbered("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_c)),
        }
    )
    sk = np.arange(n_s, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _numbered("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_s),
        }
    )
    pk = np.arange(n_p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(names, rng.integers(0, len(names), n_p)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p).tolist()],
            "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_p)),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    ok = np.arange(n_o, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_o)),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_o)),
        }
    )
    qty = rng.integers(1, 51, n_l).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_o, n_l),
            "l_partkey": rng.integers(0, n_p, n_l),
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_l)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_l)),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_l) * DAY_US),
        }
    )
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(n_users, 10), n_ev),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Whitespace prose over a 31-word vocabulary; about 5% of documents are
    an earlier document plus the token ``dup`` and a few are exact copies,
    so the dedup families have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(LANGS, rng.choice(5, n, p=LANG_P)),
            "source": [f"src{s}" for s in rng.integers(0, 20, n).tolist()],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors clustered around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": pa.array(labels, pa.int32())}
    )


def cascade_tables(seed: int, customers: int) -> tuple[dict[str, pa.Table], dict]:
    """Masking star schema: ``customers`` customers, 10 orders and 40
    lineitems per customer. Returns the tables and the seed-drawn knobs.

    * ``o_custkey`` follows a Zipf law over customers (exponent drawn in
      [1.05, 1.25]) with ranks shuffled, so a few customers own many orders;
      lineitem fan-out per order is Poisson around 4;
    * a share (0.2%-1%) of ``o_custkey`` and ``l_orderkey`` is NULL;
    * about an eighth of customer names carry a unicode stem.
    """
    rng = np.random.default_rng(seed)
    knobs = {
        "zipf_a": round(float(rng.uniform(1.05, 1.25)), 4),
        "null_fk_share": round(float(rng.uniform(0.002, 0.01)), 5),
        "acctbal_split": round(float(rng.uniform(0.15, 0.25)), 4),
    }
    n_c, n_o, n_l = customers, customers * 10, customers * 40
    ck = np.arange(n_c, dtype=np.int64)
    stems = rng.integers(0, len(UNICODE_STEMS) * 8, n_c)
    c_name = [
        f"{UNICODE_STEMS[s]} #{k}" if s < len(UNICODE_STEMS) else f"Customer#{k:09d}"
        for s, k in zip(stems.tolist(), ck.tolist())
    ]
    # acctbal spans [-1000, 10000): the guarded mask fires on rows below the
    # seed's quantile, so guard selectivity is ``acctbal_split``
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": c_name,
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_c), 2),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_c)),
            "c_phone": [f"{a:02d}-{b:03d}-{c:04d}" for a, b, c in zip(
                rng.integers(10, 35, n_c).tolist(),
                rng.integers(100, 1000, n_c).tolist(),
                rng.integers(0, 10000, n_c).tolist(),
            )],
        }
    )
    ranks = rng.zipf(knobs["zipf_a"], n_o)
    ranks = np.where(ranks > n_c, rng.integers(1, n_c + 1, n_o), ranks)
    perm = rng.permutation(n_c)
    o_cust = pa.array(perm[ranks - 1].astype(np.int64), mask=rng.random(n_o) < knobs["null_fk_share"])
    ok = np.arange(n_o, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": o_cust,
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_o)),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US),
            "o_clerk": [f"Clerk#{c:09d}" for c in rng.integers(0, 1000, n_o).tolist()],
            "o_comment": [f"order {k} note" for k in ok.tolist()],
            # stable external reference: the key the masking report joins
            # the cascade on, since o_orderkey itself is remapped
            "o_ref": [f"ORD-{k:010d}" for k in ok.tolist()],
        }
    )
    fan = rng.poisson(4.0, n_o)
    l_order = np.repeat(ok, fan)
    l_order = np.concatenate([l_order, rng.integers(0, n_o, max(0, n_l - len(l_order)))])[:n_l]
    rng.shuffle(l_order)
    lineitem = pa.table(
        {
            "l_id": np.arange(n_l, dtype=np.int64),
            "l_orderkey": pa.array(l_order, mask=rng.random(n_l) < knobs["null_fk_share"]),
            "l_partkey": rng.integers(0, n_c * 4 // 3, n_l),
            "l_quantity": rng.integers(1, 51, n_l).astype(float),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_l),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_l) * DAY_US),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}, knobs
