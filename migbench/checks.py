"""Output checks, independent of the engine's own ``verify()``.

Each check compares a destination, read with pyarrow, against what the
generator recorded while it built the inputs. The check functions return
``{check name: failure messages}``; an empty list is a pass. A job whose
output fails any check counts as a failed job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import NOTE_DEFAULT, SNAPSHOT_DEST_SCHEMA


def read_dest(path: str) -> pa.Table:
    """The destination's data files (Spark's ``_SUCCESS`` and ``.crc``
    files are skipped by pyarrow's default ignore prefixes)."""
    return pq.read_table(path)


def data_bytes(path: str) -> int:
    """Bytes of the destination's data files."""
    return sum(e.stat().st_size for e in os.scandir(path)
               if e.is_file() and e.name.endswith(".parquet"))


def data_files(path: str) -> int:
    return sum(1 for e in os.scandir(path)
               if e.is_file() and e.name.endswith(".parquet"))


def _mismatch(label: str, got, want) -> list[str]:
    got, want = list(got), list(want)
    if got == want:
        return []
    bad = next(i for i, (g, w) in enumerate(zip(got, want)) if g != w) \
        if len(got) == len(want) else None
    if bad is None:
        return [f"{label}: {len(got)} values, expected {len(want)}"]
    return [f"{label}: row {bad} is {got[bad]!r}, expected {want[bad]!r}"]


# ---------------------------------------------------------------------------
# snapshot_migrate
# ---------------------------------------------------------------------------

def check_snapshot(table: pa.Table, exp: dict) -> dict[str, list[str]]:
    """Named checks of a snapshot_migrate destination."""
    out = {}
    names = [c["name"] for c in SNAPSHOT_DEST_SCHEMA]
    if table.column_names != names:
        return {"row_count": [f"columns {table.column_names}, expected "
                              f"{names}"]}
    t = table.sort_by("order_id")
    col = lambda c: t.column(c).to_pylist()
    ids = t.column("order_id").to_numpy(zero_copy_only=False)
    out["row_count"] = (
        [f"{t.num_rows} rows, expected {exp['rows']}"]
        if t.num_rows != exp["rows"]
        else _mismatch("order_id", ids, exp["order_id"]))
    if out["row_count"]:
        return out

    price = col("price")
    null_got = np.array([p is None for p in price])
    fails = _mismatch("price IS NULL", null_got, exp["price_null"])
    if not fails:
        kept = ~exp["price_null"]
        fails = _mismatch("price", np.array(price, dtype=object)[kept],
                          exp["price"][kept])
    fails += _mismatch("region", col("region"), exp["region"])
    out["null_tokens"] = fails

    out["boolean_tokens"] = _mismatch("is_active", col("is_active"),
                                      exp["is_active"])

    fails = []
    if not pa.types.is_string(t.schema.field("sku_code").type):
        fails.append(f"sku_code is {t.schema.field('sku_code').type}")
    fails += _mismatch("sku_code", col("sku_code"), exp["sku_code"])
    fails += _mismatch("status", col("status"), exp["status"])
    fails += _mismatch("sku_prefix", col("sku_prefix"),
                       [s[:3] for s in exp["sku_code"]])
    out["leading_zero_codes"] = fails

    fails = _mismatch("qty", col("qty"), exp["qty"])
    fails += _mismatch("created",
                       t.column("created").to_numpy(zero_copy_only=False)
                       .astype("datetime64[D]"), exp["created"])
    note = np.array(col("note"), dtype=object)
    fails += _mismatch("note default", note == NOTE_DEFAULT,
                       exp["note_filled"])
    out["default_fills"] = fails

    amount = t.schema.field("amount").type
    fails = ([] if amount == pa.decimal128(12, 2)
             else [f"amount is {amount}, expected decimal(12,2)"])
    fails += _mismatch("amount", col("amount"), exp["amount"])
    out["decimal_cast"] = fails

    out["string_values"] = (_mismatch("note", col("note"), exp["note"])
                            + _mismatch("attr_0", col("attr_0"),
                                        exp["attr_0"]))

    out["computed"] = (_mismatch("sku_label", col("sku_label"),
                                 exp["sku_label"])
                       + _mismatch("region_uc", col("region_uc"),
                                   exp["region_uc"])
                       + _mismatch("order_tag", col("order_tag"),
                                   exp["order_tag"]))
    return out


# ---------------------------------------------------------------------------
# corpus_sync
# ---------------------------------------------------------------------------

def check_dedup(table: pa.Table, crawl: pa.Table,
                docs: int) -> dict[str, list[str]]:
    """Named checks of a deduplicated crawl: no row is duplicated or
    invented, kept rows keep their text, and no base document (id below
    ``docs``) is removed. Every id of a crawl is a base document, a
    planted near-copy or a document with no near-copy, and only the
    copies have near-duplicates, so the last check also says every
    removed document is a planted copy."""
    out = {}
    ids = table.column("id").to_numpy(zero_copy_only=False)
    crawl_ids = crawl.column("id").to_numpy(zero_copy_only=False)
    uniq = np.unique(ids)
    unknown = np.setdiff1d(uniq, crawl_ids)
    out["rows_sound"] = (
        [f"{len(ids) - len(uniq)} duplicated ids"] if len(uniq) != len(ids)
        else [f"ids not in the crawl, e.g. {unknown[:5]}"] if len(unknown)
        else [])
    if out["rows_sound"]:
        return out
    want = crawl.filter(pc.is_in(crawl.column("id"),
                                 value_set=pa.array(uniq)))
    out["texts_intact"] = (
        [] if table.sort_by("id").column("text").equals(
            want.sort_by("id").column("text"))
        else ["a kept document's text differs from the crawl"])
    base = crawl_ids[crawl_ids < docs]
    lost = np.setdiff1d(base, uniq)
    out["base_kept"] = ([f"{len(lost)} base docs removed, e.g. {lost[:5]}"]
                        if len(lost) else [])
    return out


def check_sync(table: pa.Table, want: pa.Table, result: dict,
               counts: dict) -> dict[str, list[str]]:
    """Named checks of one sync: it ran incrementally, its delta counts
    equal the planted churn, and the destination equals ``want``."""
    out = {"incremental": ([] if result.get("incremental") is True else
                           [f"sync fell back to a full run: {result}"])}
    got = result.get("delta_counts")
    out["delta_counts"] = ([] if got == counts else
                           [f"delta_counts {got}, expected {counts}"])
    if sorted(table.column_names) != sorted(want.column_names):
        out["snapshot"] = [f"columns {table.column_names}, expected "
                           f"{want.column_names}"]
        return out
    key = want.column_names[0]
    t = table.select(want.column_names).cast(want.schema).sort_by(key)
    w = want.sort_by(key)
    out["snapshot"] = (
        [f"{t.num_rows} rows, expected {w.num_rows}"]
        if t.num_rows != w.num_rows else
        [f"column {c} differs from the expected snapshot"
         for c in w.column_names if not t.column(c).equals(w.column(c))])
    return out


def failures(named: dict[str, list[str]]) -> list[str]:
    return [f"{name}: {msg}" for name, msgs in named.items() for msg in msgs]
