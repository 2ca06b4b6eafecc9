"""Seeded input generation for the three workloads.

Every generator writes its inputs as several parquet files (the way a real
export arrives: one file per scan task would serialise the scan) and
returns the expectations it recorded while building them. The output checks
in ``checks.py`` compare the engine's destination against these
expectations only, never against the engine's own ``verify``.

Generation uses numpy and pyarrow, never the engine, and runs before any
timer starts.
"""

from __future__ import annotations

import decimal
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# snapshot_migrate: one wide, all-string export with declared source types
# ---------------------------------------------------------------------------

# (name, declared source type); every parquet column is a string
SNAPSHOT_SCHEMA = [
    ("order_id", "bigint"),
    ("sku", "string"),
    ("status", "string"),
    ("price", "double"),
    ("qty", "int"),
    ("is_active", "boolean"),
    ("region", "string"),
    ("created", "date"),
    ("note", "string"),
    ("amount", "decimal(12,2)"),
    ("attr_0", "string"),
    ("attr_1", "string"),
]

# numeric null tokens: the declared-type cast turns each into NULL
PRICE_NULL_TOKENS = ("inf", "-inf", "NaN", "null", "None", "")
QTY_NULL_TOKENS = ("null", "None", "")
# literal null tokens in a string column survive as strings
# (preserve_string_null_tokens is on by default)
REGION_TOKENS = ("null", "None", "nan")
REGIONS = ("north", "south", "east", "west")
BOOL_TOKENS = {"true": True, "1": True, "yes": True, "Y": True,
               " TRUE ": True, "false": False, "0": False, "no": False,
               "N": False, "maybe": None}

QTY_DEFAULT = 0
CREATED_DEFAULT = "2000-01-01"
NOTE_DEFAULT = "n/a"

SNAPSHOT_MAPPING = {
    "rename": {"sku": "sku_code"},
    "computed": {
        "sku_label": "concat(sku_code, '-', status)",
        "region_uc": "upper(region)",
        "sku_prefix": "substr(sku_code, 0, 3)",
        "order_tag": 'format("{order_id}-{qty:04d}")',
    },
    "defaults": {"note": NOTE_DEFAULT},
    "order": ["order_id", "sku_code", "sku_label"],
}

# destination catalog rows: projects away attr_1 and backfills the two
# non-nullable columns that declare a default
SNAPSHOT_DEST_SCHEMA = (
    [{"name": "order_id", "type": "bigint", "is_nullable": False,
      "default": None},
     {"name": "sku_code", "type": "varchar(16)"},
     {"name": "sku_label", "type": "varchar(32)"},
     {"name": "sku_prefix", "type": "varchar(8)"},
     {"name": "status", "type": "varchar(4)"},
     {"name": "price", "type": "double"},
     {"name": "qty", "type": "int", "is_nullable": False,
      "default": str(QTY_DEFAULT)},
     {"name": "is_active", "type": "boolean"},
     {"name": "region", "type": "varchar(8)"},
     {"name": "region_uc", "type": "varchar(8)"},
     {"name": "created", "type": "date", "is_nullable": False,
      "default": CREATED_DEFAULT},
     {"name": "note", "type": "varchar(64)"},
     {"name": "amount", "type": "decimal(12,2)"},
     {"name": "order_tag", "type": "varchar(32)"},
     {"name": "attr_0", "type": "varchar(16)"}])
SNAPSHOT_NON_NULLABLE = ["order_id", "qty", "created"]

_WORDS = np.array(["alpha", "bravo", "delta", "echo", "golf", "hotel",
                   "india", "kilo", "lima", "mike", "oscar", "papa",
                   "romeo", "sierra", "tango", "victor"])


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write_files(table: pa.Table, out_dir: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files of near-equal row count."""
    _fresh_dir(out_dir)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _plant(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask selecting about ``share`` of ``n`` rows."""
    return rng.random(n) < share


def snapshot(seed: int, rows: int, files: int, out_dir: str) -> dict:
    """Write the snapshot_migrate source and return its expectations,
    aligned to ascending ``order_id``."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1_000_000, 1_000_000 + rows, dtype=np.int64)
    codes = rng.integers(0, 10**6, rows)
    status = rng.integers(0, 13, rows)
    price = np.array([float(f"{p:.2f}")
                      for p in rng.uniform(0.5, 999.0, rows)])
    price_tok = _plant(rng, rows, 0.03)
    qty = rng.integers(1, 500, rows)
    qty_tok = _plant(rng, rows, 0.04)
    bool_keys = np.array(list(BOOL_TOKENS))
    bool_pick = rng.integers(0, len(bool_keys), rows)
    region_pick = rng.integers(0, len(REGIONS), rows)
    region_tok = _plant(rng, rows, 0.03)
    day = rng.integers(0, 365, rows)
    created_tok = _plant(rng, rows, 0.04)
    note_null = _plant(rng, rows, 0.2)
    amount = rng.integers(0, 10**7, rows)
    dotted = _plant(rng, rows, 0.1)
    attrs = [_WORDS[rng.integers(0, len(_WORDS), rows)] for _ in range(2)]
    pick = lambda toks: [toks[i] for i in rng.integers(0, len(toks), rows)]
    price_toks, qty_toks, region_toks = (pick(PRICE_NULL_TOKENS),
                                         pick(QTY_NULL_TOKENS),
                                         pick(REGION_TOKENS))

    sku = [f"{c:08d}" for c in codes]
    status_s = [f"{s:02d}" for s in status]
    region = [region_toks[i] if region_tok[i] else REGIONS[region_pick[i]]
              for i in range(rows)]
    dates = np.datetime64("2024-01-01") + day.astype("timedelta64[D]")
    cols = {
        "order_id": [f"{v}.0" if d else str(v) for v, d in zip(ids, dotted)],
        "sku": sku,
        "status": status_s,
        "price": [price_toks[i] if price_tok[i] else f"{price[i]:.2f}"
                  for i in range(rows)],
        "qty": [qty_toks[i] if qty_tok[i] else str(qty[i])
                for i in range(rows)],
        "is_active": list(bool_keys[bool_pick]),
        "region": region,
        "created": ["" if created_tok[i] else str(dates[i])
                    for i in range(rows)],
        "note": [None if note_null[i] else f"note {attrs[0][i]} {i}"
                 for i in range(rows)],
        "amount": [f"{a // 100}.{a % 100:02d}" for a in amount],
    }
    # the destination values of the pass-through columns, before the
    # string lists are reordered for writing
    amount_out = [decimal.Decimal(s) for s in cols["amount"]]
    note_out = [NOTE_DEFAULT if n is None else n for n in cols["note"]]
    for i in range(2):
        cols[f"attr_{i}"] = list(attrs[i])
    # shuffle row order so every file holds a spread of ids
    order = rng.permutation(rows)
    table = pa.table({k: pa.array([v[i] for i in order], pa.string())
                      for k, v in cols.items()})
    _write_files(table, out_dir, files)

    qty_out = np.where(qty_tok, QTY_DEFAULT, qty)
    return {
        "rows": rows,
        "order_id": ids,
        "sku_code": sku,
        "status": status_s,
        "price_null": price_tok,
        "price": price,
        "is_active": [BOOL_TOKENS[bool_keys[b]] for b in bool_pick],
        "region": region,
        "qty": qty_out,
        "qty_filled": qty_tok,
        "created": np.where(created_tok, np.datetime64(CREATED_DEFAULT),
                            dates),
        "note_filled": note_null,
        "note": note_out,
        "amount": amount_out,
        "attr_0": list(attrs[0]),
        "sku_label": [f"{s}-{t}" for s, t in zip(sku, status_s)],
        "region_uc": [r.upper() for r in region],
        # computed before the backfill: format's integer spec renders the
        # still-NULL qty as 0
        "order_tag": [f"{v}-{q:04d}" for v, q in
                      zip(ids, np.where(qty_tok, 0, qty))],
    }


# ---------------------------------------------------------------------------
# corpus_sync: two crawls of one corpus, each with planted near-copies
# ---------------------------------------------------------------------------

def _text(words: np.ndarray) -> str:
    return " ".join(f"w{w}" for w in words)


def crawls(seed: int, docs: int, copies: int, churn: float, files: int,
           dir_a: str, dir_b: str, vocab: int = 20000) -> dict:
    """Write crawls A and B of one corpus.

    Both hold ``docs`` mutually dissimilar base documents (ids below
    ``docs``) and ``copies`` near-copies (ids from ``docs`` up), each a base
    document with 2-8 % of its words replaced; a copy's id is larger than
    its base's, so keeping each cluster's minimum id never drops a base
    document. B deletes, edits and adds ``churn`` of the corpus each, all
    among documents with no near-copy, so deduplication removes the same
    copies from both crawls and A→B and B→A carry the same change counts.
    """
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(40, 90, docs)
    words = rng.integers(0, vocab, int(lengths.sum()))
    starts = np.concatenate([[0], np.cumsum(lengths)])
    base = [words[starts[i]:starts[i + 1]] for i in range(docs)]
    parent = rng.integers(0, docs, copies)
    rate = rng.uniform(0.02, 0.08, copies)
    texts = [_text(doc) for doc in base]
    for j in range(copies):
        doc = base[parent[j]].copy()
        hit = rng.random(len(doc)) < rate[j]
        doc[hit] = rng.integers(0, vocab, int(hit.sum()))
        texts.append(_text(doc))
    ids = np.arange(docs + copies, dtype=np.int64)

    per = max(1, int((docs + copies) * churn))
    lonely = rng.permutation(np.setdiff1d(np.arange(docs), parent))
    if len(lonely) < 2 * per:
        raise ValueError("too few documents without near-copies to churn")
    deleted, edited = lonely[:per], lonely[per:2 * per]
    b_texts = list(texts)
    for i in edited:
        b_texts[i] = _text(rng.integers(0, vocab, len(base[i])))
    added = np.arange(docs + copies, docs + copies + per, dtype=np.int64)
    added_texts = [_text(rng.integers(0, vocab, 60)) for _ in added]

    a = pa.table({"id": pa.array(ids, pa.int64()),
                  "text": pa.array(texts, pa.string())})
    keep = np.ones(len(ids), bool)
    keep[deleted] = False
    b = pa.table({"id": pa.array(np.concatenate([ids[keep], added]),
                                 pa.int64()),
                  "text": pa.array([t for t, k in zip(b_texts, keep) if k]
                                   + added_texts, pa.string())})
    for table, out_dir in ((a, dir_a), (b, dir_b)):
        _write_files(table.take(rng.permutation(table.num_rows)), out_dir,
                     files)
    return {"a": a, "b": b, "docs": docs, "copies": copies,
            "churn": {"insert": per, "update": per, "delete": per}}
