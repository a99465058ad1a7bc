"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed, size): numpy's
default_rng(seed) drives all values, so the same seed gives byte-identical
parquet files. Schemas follow the program's two input families:

* the reference-schema EDA tables (train/test main features, sparse extra
  features, 41 binary targets), the layout graft.fixtures.RefFixture
  produces;
* the star-schema tables plus documents / embeddings / events that the
  declared queries read (one parquet file per table, one row group each,
  tz-naive microsecond timestamps, as the query surface expects).

`generate(workload, seed, out_dir)` writes the inputs of one workload and
returns a manifest: rows, columns and bytes of every file written.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes -----------------------------------------------------------------
# EDA shape: train/test rows, extra-feature width and target count. Scaled
# down from the paper-size shape (50k / 19k / 300 / 41 targets): one cold
# pipeline run is mostly fixed cost (codegen, JIT, ~250 jobs) that rows do
# not change, and 41 targets (861 pair aggregates) alone add ~15 s per run
# on 4 cores, more than the benchmark's time budget allows.
EDA_TRAIN, EDA_TEST, EDA_EXTRA = 3000, 1100, 40
N_TARGETS = 24
TARGET_FAMILIES = ["10", "9", "8", "7"]
NUM_MAIN, CAT_MAIN = 12, 5
CAT_CARD = [3, 8, 20, 50, 200]

# Star-schema scale factor for the query panel (row counts per unit sf
# follow the reference tables: lineitem 6M, orders 1.5M, ...).
PANEL_SF = 0.01

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM, EMBED_LABELS = 64, 10

WORKLOADS = ("eda_pipeline", "query_panel")


def _write(table: pa.Table, path: str, manifest: list) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    manifest.append({"file": os.path.basename(path), "rows": table.num_rows,
                     "columns": table.num_columns, "bytes": os.path.getsize(path)})


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("int64").astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


# ---- EDA (reference schema) --------------------------------------------------

def target_names() -> list:
    fams = TARGET_FAMILIES
    return [f"target_{fams[i % len(fams)]}_{i // len(fams) + 1}" for i in range(N_TARGETS)]


def _mains(rng, ids: np.ndarray, test: bool) -> pa.Table:
    n = len(ids)
    cols = {"customer_id": pa.array(ids, pa.int64())}
    for k in range(1, NUM_MAIN + 1):
        rate = 0.4 * (k - 1) / NUM_MAIN
        v = np.round(rng.random(n) + rng.random(n) + rng.random(n) - 1.5, 4) * 10.0
        cols[f"num_feature_{k}"] = pa.array(np.round(v, 4), pa.float64(),
                                            mask=rng.random(n) < rate)
    for k in range(1, CAT_MAIN + 1):
        card = CAT_CARD[k - 1]
        width = card + 2 if test and k >= 4 else card
        cols[f"cat_feature_{k}"] = pa.array(rng.integers(0, width, n), pa.int32())
    return pa.table(cols)


def gen_eda(rng, out: str, manifest: list) -> None:
    # seed-dependent choice of customer ids: disjoint train / test draws
    ids = rng.choice(10 * (EDA_TRAIN + EDA_TEST), EDA_TRAIN + EDA_TEST, replace=False)
    train_ids, test_ids = np.sort(ids[:EDA_TRAIN]), np.sort(ids[EDA_TRAIN:])
    _write(_mains(rng, train_ids, False), f"{out}/train_main_features.parquet", manifest)
    _write(_mains(rng, test_ids, True), f"{out}/test_main_features.parquet", manifest)
    n = EDA_TRAIN
    signal = rng.random(n)  # latent propensity shared by extra features and targets
    extra = {"customer_id": pa.array(train_ids, pa.int64())}
    for k in range(1, EDA_EXTRA + 1):
        rate = min(0.995, 0.1 + 0.9 * (k - 1) / EDA_EXTRA)
        tilted = rate * (1.25 - 0.5 * signal)
        v = np.round(signal * 5.0 + rng.random(n) * 2.0, 4)
        extra[f"num_feature_{100 + k}"] = pa.array(v, pa.float64(), mask=rng.random(n) < tilted)
    _write(pa.table(extra), f"{out}/train_extra_features.parquet", manifest)
    tgt = {"customer_id": pa.array(train_ids, pa.int64())}
    for i, t in enumerate(target_names()):
        prev = max(0.002, 0.3 * 0.87 ** i)
        latent = 1.0 - signal if t.startswith("target_10_") else signal
        tgt[t] = pa.array((rng.random(n) < latent * 2.0 * prev).astype("int32"), pa.int32())
    _write(pa.table(tgt), f"{out}/train_target.parquet", manifest)


# ---- text ----------------------------------------------------------------------

def _texts(rng, n: int) -> list:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _near_dup(rng, text: str) -> str:
    """One word replaced: Jaccard over 5-word shingles stays well above 0.5."""
    ws = text.split()
    ws[int(rng.integers(0, len(ws)))] = "dup"
    return " ".join(ws)


def documents(rng, n: int) -> pa.Table:
    texts = _texts(rng, n)
    # ~5% planted near-duplicates of earlier docs (the dedup families' signal)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = _near_dup(rng, texts[int(rng.integers(0, i))])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ---- star schema + events + embeddings (query panel) -----------------------------

def gen_panel(rng, out: str, manifest: list) -> None:
    sf = PANEL_SF
    n_cust, n_ord, n_line = int(150000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_part, n_supp, n_ev = int(200000 * sf), int(10000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), min(2000, int(50000 * sf)), int(15000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet", manifest)
    _write(pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
           f"{out}/nation.parquet", manifest)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }), f"{out}/customer.parquet", manifest)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
    }), f"{out}/supplier.parquet", manifest)
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    }), f"{out}/part.parquet", manifest)
    day = 86400.0
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    }), f"{out}/orders.parquet", manifest)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_line) * day),
    }), f"{out}/lineitem.parquet", manifest)
    gaps = rng.exponential(30 * day / n_ev, n_ev)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out}/events.parquet", manifest)
    _write(documents(rng, n_doc), f"{out}/documents.parquet", manifest)
    labels = rng.integers(0, EMBED_LABELS, n_emb)
    cent = rng.standard_normal((EMBED_LABELS, EMBED_DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    vec = 0.15 * cent[labels] + rng.standard_normal((n_emb, EMBED_DIM)) / 8.0
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet", manifest)


def generate(workload: str, seed: int, out: str) -> list:
    """Write the inputs of `workload` for `seed` under `out`; return the manifest."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    manifest = []
    {"eda_pipeline": gen_eda, "query_panel": gen_panel}[workload](rng, out, manifest)
    return manifest
