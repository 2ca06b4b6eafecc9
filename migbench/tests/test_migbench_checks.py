"""Every output check passes on the output the generator expects and
fails on a deliberately corrupted one."""

import decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

import checks
import gen


# ---------------------------------------------------------------------------
# snapshot_migrate
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def snap(tmp_path_factory):
    return gen.snapshot(7, 400, 2, str(tmp_path_factory.mktemp("snap")))


def snapshot_table(exp, **override) -> pa.Table:
    """The destination a correct migration writes, from the expectations;
    ``override`` replaces whole columns."""
    n = exp["rows"]
    price = [None if null else p
             for null, p in zip(exp["price_null"], exp["price"])]
    cols = {
        "order_id": pa.array(exp["order_id"], pa.int64()),
        "sku_code": exp["sku_code"],
        "sku_label": exp["sku_label"],
        "sku_prefix": [s[:3] for s in exp["sku_code"]],
        "status": exp["status"],
        "price": pa.array(price, pa.float64()),
        "qty": pa.array(exp["qty"], pa.int32()),
        "is_active": pa.array(exp["is_active"], pa.bool_()),
        "region": exp["region"],
        "region_uc": exp["region_uc"],
        "created": pa.array(exp["created"].astype("datetime64[D]"),
                            pa.date32()),
        "note": exp["note"],
        "amount": pa.array(exp["amount"], pa.decimal128(12, 2)),
        "order_tag": exp["order_tag"],
        "attr_0": exp["attr_0"],
    }
    cols.update(override)
    # written in a shuffled order, as a Spark job would
    order = np.random.default_rng(0).permutation(n)
    return pa.table(cols).take(order)


def with_row(values, i, v):
    values = list(values)
    values[i] = v
    return values


def failing(named):
    return sorted(k for k, v in named.items() if v)


def test_snapshot_checks_pass_on_the_expected_output(snap):
    assert failing(checks.check_snapshot(snapshot_table(snap), snap)) == []


def first(mask):
    return int(np.flatnonzero(mask)[0])


@pytest.mark.parametrize("check, corrupt", [
    ("row_count", lambda e: snapshot_table(e).slice(1)),
    ("row_count", lambda e: snapshot_table(e).drop_columns(["attr_0"])),
    # a planted inf/NaN/null token that survived as a number
    ("null_tokens", lambda e: snapshot_table(e, price=pa.array(with_row(
        [None if n else p for n, p in zip(e["price_null"], e["price"])],
        first(e["price_null"]), 0.0), pa.float64()))),
    # a literal 'null' in a string column turned into NULL
    ("null_tokens", lambda e: snapshot_table(e, region=with_row(
        e["region"], e["region"].index("null"), None))),
    ("boolean_tokens", lambda e: snapshot_table(e, is_active=with_row(
        e["is_active"], 0, not e["is_active"][0]))),
    # a leading-zero code read as a number
    ("leading_zero_codes", lambda e: snapshot_table(e, sku_code=with_row(
        e["sku_code"], next(i for i, s in enumerate(e["sku_code"])
                            if s.startswith("0")),
        str(int(e["sku_code"][next(i for i, s in enumerate(e["sku_code"])
                                   if s.startswith("0"))]))))),
    # a backfilled qty left NULL
    ("default_fills", lambda e: snapshot_table(e, qty=pa.array(with_row(
        e["qty"].tolist(), first(e["qty_filled"]), None), pa.int32()))),
    # a NULL note not given the mapping default
    ("default_fills", lambda e: snapshot_table(e, note=with_row(
        e["note"], first(e["note_filled"]), None))),
    # a decimal amount off by a cent, or rounded to a whole number
    ("decimal_cast", lambda e: snapshot_table(e, amount=pa.array(with_row(
        e["amount"], 2, e["amount"][2] + decimal.Decimal("0.01")),
        pa.decimal128(12, 2)))),
    ("decimal_cast", lambda e: snapshot_table(e, amount=pa.array(
        [a.to_integral_value() for a in e["amount"]],
        pa.decimal128(12, 0)))),
    ("decimal_cast", lambda e: snapshot_table(e, amount=pa.array(
        [float(a) for a in e["amount"]], pa.float64()))),
    # a note text or a pass-through string mangled
    ("string_values", lambda e: snapshot_table(e, note=with_row(
        e["note"], first(~e["note_filled"]),
        e["note"][first(~e["note_filled"])].upper()))),
    ("string_values", lambda e: snapshot_table(e, attr_0=with_row(
        e["attr_0"], 4, e["attr_0"][4] + " "))),
    ("computed", lambda e: snapshot_table(e, order_tag=with_row(
        e["order_tag"], 3, "x"))),
])
def test_snapshot_check_fails_on_corrupted_output(snap, check, corrupt):
    assert check in failing(checks.check_snapshot(corrupt(snap), snap))


# ---------------------------------------------------------------------------
# corpus_sync
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def crawls(tmp_path_factory):
    d = tmp_path_factory.mktemp("crawls")
    return gen.crawls(7, 300, 60, 0.02, 2, str(d / "a"), str(d / "b"))


def cleaned(crawl, exp, drop_copies=5):
    """The crawl minus a few planted copies, as a correct dedup leaves it."""
    ids = crawl.column("id").to_numpy()
    gone = ids[ids >= exp["docs"]][:drop_copies]
    return crawl.filter(pc.invert(pc.is_in(crawl.column("id"),
                                           value_set=pa.array(gone))))


def test_crawls_plant_the_same_churn_both_ways(crawls):
    text = {k: dict(zip(crawls[k].column("id").to_pylist(),
                        crawls[k].column("text").to_pylist()))
            for k in ("a", "b")}
    a, b = set(text["a"]), set(text["b"])
    per = crawls["churn"]["insert"]
    edited = {i for i in a & b if text["a"][i] != text["b"][i]}
    assert len(a - b) == len(b - a) == len(edited) == per
    # only base documents are deleted or edited, never a planted copy
    assert all(i < crawls["docs"] for i in (a - b) | edited)


def test_dedup_checks_pass_when_only_copies_are_removed(crawls):
    a = crawls["a"]
    assert failing(checks.check_dedup(cleaned(a, crawls), a,
                                      crawls["docs"])) == []


def test_dedup_check_fails_when_a_base_doc_is_removed(crawls):
    a = crawls["a"]
    assert failing(checks.check_dedup(a.slice(1), a, crawls["docs"])) == [
        "base_kept"]


def test_dedup_check_fails_on_duplicated_or_invented_rows(crawls):
    a = crawls["a"]
    dup = pa.concat_tables([a, a.slice(0, 1)])
    invented = pa.concat_tables([a, pa.table({
        "id": pa.array([10**9], pa.int64()), "text": ["w1 w2"]})])
    for bad in (dup, invented):
        assert failing(checks.check_dedup(bad, a, crawls["docs"])) == [
            "rows_sound"]


def test_dedup_check_fails_when_a_kept_text_changes(crawls):
    a = crawls["a"]
    texts = a.column("text").to_pylist()
    texts[3] = texts[3] + " extra"
    bad = a.set_column(1, "text", pa.array(texts))
    assert failing(checks.check_dedup(bad, a, crawls["docs"])) == [
        "texts_intact"]


def ok_sync(crawls):
    return {"incremental": True, "delta_counts": counts(crawls)}


def counts(crawls, staged=None):
    staged = staged if staged is not None else crawls["b"]
    return dict(crawls["churn"],
                unchanged=staged.num_rows - 2 * crawls["churn"]["insert"])


def test_sync_checks_pass_on_the_expected_output(crawls):
    b = crawls["b"]
    shuffled = b.take(np.random.default_rng(1).permutation(b.num_rows))
    assert failing(checks.check_sync(shuffled, b, ok_sync(crawls),
                                     counts(crawls))) == []


def test_sync_check_fails_when_a_delete_was_not_applied(crawls):
    # syncing B over A left a row B deleted
    gone = pc.invert(pc.is_in(crawls["a"].column("id"),
                              value_set=crawls["b"].column("id")))
    stale = pa.concat_tables([crawls["b"], crawls["a"].filter(gone)
                              .slice(0, 1)])
    assert failing(checks.check_sync(stale, crawls["b"], ok_sync(crawls),
                                     counts(crawls))) == ["snapshot"]


def test_sync_check_fails_when_an_update_was_lost(crawls):
    b = crawls["b"]
    texts = b.column("text").to_pylist()
    texts[5] = "w0"
    wrong = b.set_column(1, "text", pa.array(texts))
    assert failing(checks.check_sync(wrong, b, ok_sync(crawls),
                                     counts(crawls))) == ["snapshot"]


def test_sync_check_fails_on_wrong_counts_or_a_full_run(crawls):
    b = crawls["b"]
    bad = ok_sync(crawls)
    bad["delta_counts"]["update"] += 1
    assert failing(checks.check_sync(b, b, bad, counts(crawls))) == [
        "delta_counts"]
    full = {"incremental": False, "rows_written": b.num_rows}
    assert failing(checks.check_sync(b, b, full, counts(crawls))) == [
        "delta_counts", "incremental"]
