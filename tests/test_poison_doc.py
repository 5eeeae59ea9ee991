"""Poison-document guard: a kernel exception degrades to an error row.

At 10^12 rows one pathological document must never fail the task
(which, after spark.task.maxFailures retries, fails the whole job).
The Arrow stage catches per-document, emits a zero-element row with
the exception in the ``error`` column, and keeps going.
"""

import pyarrow as pa
import pytest

from credit_ocr_system_spark.kernel import extract as kernel_extract
from credit_ocr_system_spark.operators import extraction


def _batch(rows):
    return pa.RecordBatch.from_pylist(
        rows, schema=pa.schema([("url", pa.string()),
                                ("html", pa.binary())]))


def test_kernel_exception_becomes_error_row(monkeypatch):
    real = kernel_extract.extract_document

    def bomb(url, payload):
        if url == "https://bad.example/poison":
            raise ValueError("synthetic kernel bug")
        return real(url, payload)

    monkeypatch.setattr(kernel_extract, "extract_document", bomb)

    batch = _batch([
        {"url": "https://ok.example/a", "html": b"<p>fine: 1</p>"},
        {"url": "https://bad.example/poison", "html": b"<p>x</p>"},
        {"url": "https://ok.example/b", "html": b"<p>fine: 2</p>"},
    ])
    out = list(extraction._extract_batches(iter([batch])))
    assert len(out) == 1
    rows = out[0].to_pylist()
    assert len(rows) == 3
    by_url = {r["url"]: r for r in rows}
    bad = by_url["https://bad.example/poison"]
    assert bad["error"] == "ValueError: synthetic kernel bug"
    assert bad["doc_kind"] == "error"
    assert bad["n_elements"] == 0 and bad["n_pairs"] == 0
    for u in ("https://ok.example/a", "https://ok.example/b"):
        assert by_url[u]["error"] is None
        assert by_url[u]["n_elements"] >= 1


def test_clean_batch_has_null_errors():
    batch = _batch([
        {"url": "https://ok.example/c", "html": b"<p>clean: 3</p>"},
        {"url": "https://ok.example/d", "html": None},
    ])
    rows = list(extraction._extract_batches(iter([batch])))[0].to_pylist()
    assert all(r["error"] is None for r in rows)


def test_all_error_batch_fails_fast(monkeypatch):
    """A batch where EVERY document errors (>= guard size) is a
    systemic kernel regression: the task must fail, not emit a
    'successful' output of 100% error rows."""
    def always_bomb(url, payload):
        raise ImportError("synthetic systemic regression")

    monkeypatch.setattr(kernel_extract, "extract_document", always_bomb)
    n = extraction._BATCH_GUARD_MIN_ROWS
    batch = _batch([
        {"url": f"https://all.example/{i}", "html": b"<p>x</p>"}
        for i in range(n)
    ])
    with pytest.raises(RuntimeError, match="ALL"):
        list(extraction._extract_batches(iter([batch])))


def test_small_all_error_batch_still_degrades(monkeypatch):
    """Below the guard size the poison-doc behavior wins — a tail
    batch of a few genuinely-broken docs must not kill the job."""
    def always_bomb(url, payload):
        raise ValueError("bad docs, small batch")

    monkeypatch.setattr(kernel_extract, "extract_document", always_bomb)
    batch = _batch([
        {"url": "https://few.example/1", "html": b"x"},
        {"url": "https://few.example/2", "html": b"y"},
    ])
    rows = list(extraction._extract_batches(iter([batch])))[0].to_pylist()
    assert all(r["error"] is not None for r in rows)


def test_error_row_has_no_fields(monkeypatch):
    """With the kernel's fields requested, a poison doc's error row
    carries an empty ``fields`` list; its neighbours keep theirs."""
    real = kernel_extract.extract_document

    def bomb(url, payload):
        if url == "https://bad.example/poison":
            raise ValueError("synthetic kernel bug")
        return real(url, payload)

    monkeypatch.setattr(kernel_extract, "extract_document", bomb)
    batch = _batch([
        {"url": "https://ok.example/a",
         "html": b"<table><tr><td>Company Name</td>"
                 b"<td>ACME GmbH</td></tr></table>"},
        {"url": "https://bad.example/poison", "html": b"<p>x</p>"},
    ])
    out = list(extraction._extract_batches(iter([batch]), fields=True))
    rows = {r["url"]: r for r in out[0].to_pylist()}
    assert "elements" not in rows["https://ok.example/a"]
    assert rows["https://bad.example/poison"]["fields"] == []
    ok = rows["https://ok.example/a"]["fields"]
    assert [(f["field_name"], f["value"], f["clean_str"]) for f in ok] \
        == [("company_name", "ACME GmbH", "ACME GmbH")]


def test_number_past_double_range_cleans_to_null():
    """``clean_value`` keeps every digit of a number as a Python int;
    one past double range must clean to null, not fail the batch."""
    digits = "1" * 400
    batch = _batch([{
        "url": "https://ok.example/long",
        "html": (f"<table><tr><td>Construction Year</td><td>{digits}"
                 f"</td></tr></table>").encode()}])
    out = list(extraction._extract_batches(iter([batch]), fields=True))
    (field,) = out[0].to_pylist()[0]["fields"]
    assert field["field_name"] == "construction_year"
    assert field["value"] == digits and field["clean_num"] is None
