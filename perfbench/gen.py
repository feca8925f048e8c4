"""Seeded input generators for the three workloads.

Every generator takes the run's seed and nothing else that varies, writes
only under the directory it is given, and returns the answers the engine
must reproduce. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Error labels exactly as operators/validate.py emits them, in cascade order.
MALFORMED = "Malformed row, not enough fields"
MISSING = "Missing required field"
DUPLICATE = "Duplicate id in this bundle"
INVALID_PQ = "Invalid price or quantity"
NON_POSITIVE = "Non-positive price or quantity"
INVALID_DATE = "Invalid sale_date"
INVALID_PRODUCT = "Invalid product name"
NON_NUMERIC_ID = "Non-numeric id"

# Share of data lines per error class; the rest are clean. Every class of
# tests/fixtures/messy_sales.csv appears, duplicates included.
SALES_ERROR_SHARES = {
    MALFORMED: 0.02,
    MISSING: 0.02,
    DUPLICATE: 0.03,
    INVALID_PQ: 0.02,
    NON_POSITIVE: 0.02,
    INVALID_DATE: 0.02,
    INVALID_PRODUCT: 0.01,
    NON_NUMERIC_ID: 0.01,
}

PRODUCTS = (
    "Laptop", "Mouse", "Keyboard", "Headphones", "Monitor", "Tablet",
    "Printer", "Webcam", "Phone", "Charger", "Speaker", "Desk Lamp",
    "Notebook", "Pen Set", "Mousepad", "Monitor Stand", "USB Cable",
    "Phone Case", "Desk", "Router",
)

WORDS = (
    "the stream query row fast small spark group customer line sort hash "
    "batch dup data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()


@dataclass
class SalesExpected:
    lines: int  # data lines, header excluded
    clean: int
    errors: dict[str, int]
    revenue: float  # sum of price * quantity over clean rows
    products: int  # distinct clean product names
    csv_bytes: int = 0


def sales_csv(path: str, seed: int, n_lines: int) -> SalesExpected:
    """Write a messy sales CSV of ``n_lines`` data lines plus a header.

    Each line is built to fail exactly one check of the validation cascade
    (or none), so its class is known without re-implementing the cascade.
    Ids that claim the dedup slot are unique except for the DUPLICATE rows,
    which repeat an id claimed earlier in the file.
    """
    rng = random.Random(seed)
    classes = []
    for label, share in SALES_ERROR_SHARES.items():
        classes += [label] * int(round(share * n_lines))
    classes += [None] * (n_lines - len(classes))
    rng.shuffle(classes)
    # the first line must not be a duplicate: nothing is claimed yet
    first_other = next(i for i, c in enumerate(classes) if c != DUPLICATE)
    classes[0], classes[first_other] = classes[first_other], classes[0]

    errors = dict.fromkeys(SALES_ERROR_SHARES, 0)
    claimed: list[str] = []
    products: set[str] = set()
    revenue_cents_units = 0  # exact: sum of price_cents * quantity
    clean = 0
    next_id = 1

    def fresh_id() -> str:
        nonlocal next_id
        next_id += 1
        # a few zero-padded ids, like the fixture's 004 and 0010
        return f"{next_id:06d}" if next_id % 97 == 0 else str(next_id)

    def date() -> str:
        y, m, d = 2023 + rng.randrange(2), 1 + rng.randrange(12), 1 + rng.randrange(28)
        return f"{y}/{m}/{d}" if rng.random() < 0.1 else f"{y}-{m:02d}-{d}"

    with open(path, "w", newline="\n") as fh:
        fh.write("id,product,price,quantity,sale_date\n")
        for cls in classes:
            product = rng.choice(PRODUCTS)
            cents = rng.randrange(100, 200_000)
            price = f"{cents // 100}.{cents % 100:02d}"
            qty = 1 + rng.randrange(9)
            if cls is None:
                rid = fresh_id()
                claimed.append(rid)
                if rng.random() < 0.05:  # padded fields and a trailing column
                    line = f" {rid} , {product} , {price} , {qty} , {date()} ,EXTRA"
                else:
                    line = f"{rid},{product},{price},{qty},{date()}"
                clean += 1
                products.add(product)
                revenue_cents_units += cents * qty
            elif cls == MALFORMED:
                line = f"{fresh_id()},{product},{price}"
            elif cls == MISSING:
                line = rng.choice(
                    (f",{product},{price},{qty},{date()}", f"{fresh_id()},,{price},{qty},{date()}",
                     f"{fresh_id()},{product},{price}, ,{date()}", ",,,,")
                )
            elif cls == DUPLICATE:
                line = f"{rng.choice(claimed)},{product} Duplicate,{price},{qty},{date()}"
            else:
                rid = fresh_id()
                line = f"x{rid},{product},{price},{qty},{date()}"  # NON_NUMERIC_ID
                if cls == INVALID_PQ:
                    line = rng.choice(
                        (f"{rid},{product},twenty,{qty},{date()}", f"{rid},{product},{price},word,{date()}",
                         f"{rid},{product},{price},{qty}.0,{date()}",
                         f'{rid},"{product}, Portable",{price},{qty},{date()}')
                    )
                elif cls == NON_POSITIVE:
                    line = rng.choice(
                        (f"{rid},{product},-{price},{qty},{date()}", f"{rid},{product},0,{qty},{date()}")
                    )
                elif cls == INVALID_DATE:
                    line = rng.choice(
                        (f"{rid},{product},{price},{qty},2024-18-01", f"{rid},{product},{price},{qty},notadate")
                    )
                elif cls == INVALID_PRODUCT:
                    line = f'{rid},"",{price},{qty},{date()}'
                claimed.append(line.split(",", 1)[0])
            if cls is not None:
                errors[cls] += 1
            fh.write(line + "\n")
    return SalesExpected(
        lines=n_lines,
        clean=clean,
        errors=errors,
        revenue=revenue_cents_units / 100,
        products=len(products),
        csv_bytes=os.path.getsize(path),
    )


def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 90))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _unit_rows(rng: np.random.Generator, labels: np.ndarray, dim: int) -> np.ndarray:
    centers = rng.normal(size=(int(labels.max()) + 1, dim))
    vecs = centers[labels] + 0.6 * rng.normal(size=(len(labels), dim))
    return (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _quarters(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Multiples of 0.25: every money column is dyadic, so sums are exact in
    binary floating point and ROUND(x, 2) cannot differ between Spark and
    DuckDB through summation order."""
    return np.round(rng.uniform(lo, hi, n) * 4) / 4


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


# rows per table; shaped like the repo's TPC-H-style test data at about sf0.002
TABLE_ROWS = {
    "customer": 300, "supplier": 20, "part": 400, "orders": 3000,
    "lineitem": 12000, "events": 2000, "documents": 500,
}
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten query-mix tables as one parquet file each under
    ``out_dir`` (the layout ``sources.tables.load_table`` and the DuckDB
    oracles read). Join keys are consistent: every foreign key hits a row."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = TABLE_ROWS
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        rows[name] = table.num_rows
        _write(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _quarters(rng, -999, 9999, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _quarters(rng, -999, 9999, n["supplier"]),
    })
    adj = np.array(["blue", "old", "small", "new", "cold", "large", "hot", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"])
    ptype = np.array(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"])
    retail = 900 + 0.25 * np.arange(n["part"])
    put("part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n["part"])], " "),
                              noun[rng.integers(0, 8, n["part"])]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": retail,
    })
    o_days = rng.integers(0, 2404, n["orders"])  # 1995-01-01 .. 2001-08-01
    put("orders", {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _quarters(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _ts(_EPOCH_1995 + o_days * _DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n["orders"])],
    })
    li_order = np.sort(rng.integers(0, n["orders"], n["lineitem"]))
    li_part = rng.integers(0, n["part"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    linenumber = np.zeros(n["lineitem"], dtype=np.int32)
    for i in range(1, n["lineitem"]):
        linenumber[i] = linenumber[i - 1] + 1 if li_order[i] == li_order[i - 1] else 0
    put("lineitem", {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(li_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(linenumber + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": qty * retail[li_part],
        "l_discount": rng.integers(0, 4, n["lineitem"]) / 32,
        "l_tax": rng.integers(0, 3, n["lineitem"]) / 32,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _ts(_EPOCH_1995 + (o_days[li_order] + rng.integers(1, 100, n["lineitem"])) * _DAY_US),
    })
    gaps = rng.integers(1_000_000, 400_000_000, n["events"])  # 1 s .. 400 s
    put("events", {
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 30, n["events"]), pa.int64()),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n["events"])
        ],
        "value": _quarters(rng, 0.25, 490.0, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    docs, labels = [], rng.integers(0, 10, n["documents"])
    for i in range(n["documents"]):
        if i >= 20 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            words = docs[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append(" ".join(words))
        else:
            docs.append(_doc_text(rng))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n["documents"])]
    put("documents", {
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": docs,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    put("embeddings", {
        "vec_id": pa.array(range(n["documents"]), pa.int64()),
        "embedding": pa.array(list(_unit_rows(rng, labels, 64)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


@dataclass
class Night:
    new_ids: list[int]
    resent_ids: list[int]
    deleted_ids: list[int]
    probes: list[tuple[list[str], int]]  # (BM25 terms, doc whose vector is the query)


@dataclass
class CorpusPlan:
    doc_ids: np.ndarray
    texts: list[str]
    embeddings: np.ndarray  # float32 (n, dim)
    base_ids: list[int]
    nights: list[Night] = field(default_factory=list)

    def rows(self, ids) -> pa.Table:
        pos = {int(d): i for i, d in enumerate(self.doc_ids)}
        idx = [pos[int(d)] for d in ids]
        return pa.table({
            "doc_id": pa.array([int(self.doc_ids[i]) for i in idx], pa.int64()),
            "text": [self.texts[i] for i in idx],
            "embedding": pa.array(list(self.embeddings[idx]), pa.list_(pa.float32())),
        })

    def live_after(self, night: Night) -> set[int]:
        """Live docs once ``night`` has landed on the base index."""
        return (set(self.base_ids) | set(night.new_ids)) - set(night.deleted_ids)


# nightly corpus: 300 base texts in 3 word-tagged replicas; per night 5% of
# the corpus is new, 5% re-sent and 1% deleted; one probe pair per night.
# The corpus and its base share come from CORPUS_SEED whatever the run's
# seed, so the base indexes can be built once and copied by every run.
CORPUS_BASE_DOCS, CORPUS_REPLICAS, CORPUS_NIGHTS, CORPUS_SEED = 300, 3, 64, 0
NEW_SHARE, RESEND_SHARE, DELETE_SHARE, PROBES_PER_NIGHT = 0.05, 0.05, 0.01, 1


def corpus(seed: int) -> CorpusPlan:
    """A word-tagged replicated corpus and its nightly plan.

    Replica k > 0 prefixes every word with ``r{k}w`` (as
    ``scripts/scale_stress.py`` does), so replicas share no terms. A fixed
    60% of the docs form the base index. The nights come from ``seed``.
    Every night lands on the base index as built, so each draws afresh:
    ``NEW_SHARE`` of the corpus as docs outside the base, ``RESEND_SHARE``
    re-sent base docs unchanged and ``DELETE_SHARE`` deleted base docs.
    """
    rng = np.random.default_rng(CORPUS_SEED)
    base_texts = [_doc_text(rng) for _ in range(CORPUS_BASE_DOCS)]
    texts = []
    for k in range(CORPUS_REPLICAS):
        if k == 0:
            texts += base_texts
        else:
            texts += [" ".join(f"r{k}w{w}" for w in t.split()) for t in base_texts]
    n = len(texts)
    doc_ids = np.arange(n, dtype=np.int64) * 7 + 3  # sparse, non-contiguous ids
    labels = rng.integers(0, 12, n)
    emb = _unit_rows(rng, labels, 64)
    order = rng.permutation(n)
    n_base = int(0.6 * n)
    plan = CorpusPlan(doc_ids, texts, emb, sorted(int(doc_ids[i]) for i in order[:n_base]))
    outside = [int(doc_ids[i]) for i in order[n_base:]]
    rng = np.random.default_rng(seed)
    base = plan.base_ids
    step_new = max(1, int(NEW_SHARE * n))
    step_resend = max(1, int(RESEND_SHARE * n))
    step_del = max(1, int(DELETE_SHARE * n))
    for _ in range(CORPUS_NIGHTS):
        new = sorted(outside[i] for i in rng.choice(len(outside), step_new, replace=False))
        picks = rng.choice(len(base), step_resend + step_del, replace=False)
        resent = sorted(base[i] for i in picks[:step_resend])
        deleted = sorted(base[i] for i in picks[step_resend:])
        night = Night(new, resent, deleted, [])
        live = sorted(plan.live_after(night))
        night.probes = [(sorted({WORDS[i] for i in rng.integers(0, len(WORDS), 3)}),
                         live[int(rng.integers(0, len(live)))]) for _ in range(PROBES_PER_NIGHT)]
        plan.nights.append(night)
    return plan
