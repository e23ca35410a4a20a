"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write the same bytes. Nothing here imports Spark.

- ``olap_tables``: the TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings``, with the value ranges of the engine's
  test tables and row counts scaled by ``sf`` as theirs are.
- ``climbs_corpus``: nested climbs documents (``sources/climbs.CLIMBS_SCHEMA``)
  as JSON lines, with NULL fields and missing coordinates / pathTokens.
- ``doc_batches``: document micro-batches in which a fixed share of each
  batch are planted near-duplicates of documents from earlier batches.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str, **opts) -> None:
    pq.write_table(table, path, **({"compression": "snappy"} | opts))


def olap_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> None:
    """Write the ten engine tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)

    _write(
        pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        os.path.join(out_dir, "nation.parquet"),
    )
    _write(
        pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        os.path.join(out_dir, "supplier.parquet"),
    )
    sizes = np.array(["small", "medium", "large"])
    kinds = np.array(["ring", "bolt", "gear", "plate"])
    p_size = rng.integers(0, 3, n_part)
    _write(
        pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(sizes[p_size], " "), kinds[rng.integers(0, 4, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.char.upper(sizes[p_size]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
        }),
        os.path.join(out_dir, "part.parquet"),
    )

    day = 86_400 * 1_000_000
    lo, hi = _epoch_us(1995, 1, 1) // day, _epoch_us(2001, 8, 1) // day
    o_date = rng.integers(lo, hi + 1, n_ord) * day
    _write(
        pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        os.path.join(out_dir, "orders.parquet"),
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(
        pa.table({
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_line) * day),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    n_ev = int(1_000_000 * sf)
    start = _epoch_us(2024, 1, 1)
    ev_ts = np.sort(start + rng.integers(0, 30 * day, n_ev))
    _write(
        pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        os.path.join(out_dir, "events.parquet"),
    )

    n_doc = int(50_000 * sf)
    words = np.array(DOC_WORDS)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    _write(
        pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    n_emb, dim = int(20_000 * sf), 64
    centers = rng.normal(0, 0.15, (10, dim))
    label = rng.integers(0, 10, n_emb)
    vecs = (centers[label] + rng.normal(0, 0.1, (n_emb, dim))).astype(np.float32)
    _write(
        pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32)),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def climbs_corpus(path: str, n: int, seed: int) -> dict:
    """Write ``n`` nested climb documents as JSON lines.

    Returns the counts the export checks need: ``rows`` and ``with_coords``
    (documents whose metadata carries both lat and lng)."""
    rng = np.random.default_rng(seed)
    countries = ["USA", "Canada", "France", "Spain", "Thailand", "Greece", "Japan"]
    yds = ["5.6", "5.8", "5.10a", "5.11b", "5.12c", None]
    safety = ["BOLTED", "PG13", "R", "X", None]
    with_coords = 0
    with open(path, "w") as f:
        for i in range(n):
            u = rng.random(12)
            doc = {
                "uuid": f"climb-{seed}-{i:08d}",
                "name": None if u[0] < 0.05 else f"Route {i}",
                "fa": None if u[1] < 0.3 else f"Climber {int(u[1] * 500)}",
                "length": None if u[2] < 0.1 else int(5 + u[2] * 300),
                "boltsCount": None if u[3] < 0.2 else int(u[3] * 20),
                "safety": safety[int(u[4] * len(safety))],
                "grades": None if u[5] < 0.1 else {
                    "yds": yds[int(u[5] * len(yds))],
                    "vscale": f"V{int(u[6] * 12)}" if u[6] < 0.4 else None,
                    "french": "6a" if u[6] > 0.7 else None,
                },
                "type": {
                    "sport": bool(u[7] < 0.5), "trad": bool(u[7] >= 0.5),
                    "bouldering": bool(u[8] < 0.2), "alpine": False, "tr": bool(u[8] > 0.9),
                },
                "content": {"description": None if u[9] < 0.2 else f"A fine line numbered {i}."},
            }
            # a share of documents lack coordinates entirely, or carry only one
            if u[10] < 0.8:
                lat, lng = round(-60 + u[11] * 130, 6), round(-180 + u[10] * 450, 6)
                if u[10] < 0.05:
                    doc["metadata"] = {"lat": lat, "lng": None}
                else:
                    doc["metadata"] = {"lat": lat, "lng": lng}
                    with_coords += 1
            if u[9] > 0.1:
                depth = 1 + int(u[9] * 5)
                doc["pathTokens"] = [countries[i % len(countries)]] + [
                    f"Area{(i >> k) % 50}" for k in range(1, depth)
                ]
            f.write(json.dumps(doc, separators=(",", ":")) + "\n")
    return {"rows": n, "with_coords": with_coords}


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    return np.array(["".join(letters[rng.integers(0, 26, k)]) for k in lens])


def doc_batches(
    out_dir: str, n_batches: int, batch_size: int, dup_share: float, seed: int
) -> list[dict]:
    """Write ``batch-<i>.parquet`` (doc_id, text) for i in range(n_batches).

    Batch 0 holds only original documents. In every later batch,
    ``round(dup_share * batch_size)`` documents are planted near-duplicates:
    a copy of an original document from an earlier batch with one word
    replaced. Returns, per batch, its path, size and planted doc ids."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 4000)
    os.makedirs(out_dir, exist_ok=True)
    originals: list[list[str]] = []
    out = []
    next_id = 0
    for b in range(n_batches):
        n_dup = 0 if b == 0 else int(round(dup_share * batch_size))
        texts = []
        for _ in range(batch_size - n_dup):
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 70)))])
            originals.append(words)
            texts.append(words)
        n_prior = len(originals) - (batch_size - n_dup)
        for _ in range(n_dup):
            words = list(originals[int(rng.integers(0, n_prior))])
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(words)
        order = rng.permutation(batch_size)
        ids = np.arange(next_id, next_id + batch_size, dtype=np.int64)
        next_id += batch_size
        planted = sorted(int(ids[k]) for k in range(batch_size) if order[k] >= batch_size - n_dup)
        path = os.path.join(out_dir, f"batch-{b}.parquet")
        # plain pages: the file size tracks the text size, not how well it compressed
        _write(
            pa.table({"doc_id": ids, "text": [" ".join(texts[j]) for j in order]}),
            path, compression="none", use_dictionary=False,
        )
        out.append({"path": path, "size": batch_size, "planted": planted})
    return out
