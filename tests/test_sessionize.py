"""Sessionization: the batch window-function form on hand-built
sessions."""

from __future__ import annotations

import datetime as dt


def _mk_pages(spark, rows):
    return spark.createDataFrame(
        [
            (
                url,
                ts,
                b"<html></html>",
                "t",
                "en",
            )
            for url, ts in rows
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


BASE = dt.datetime(2025, 3, 1, 0, 0, 0)


def _rows():
    """Two urls (two cells) x three sessions each, 30-min gap rule.

    Session k of a url: events at +0, +5, +10 minutes, sessions spaced
    2 hours apart.
    """
    out = []
    for url in ("https://a.example/p/1", "https://b.example/p/2"):
        for k in range(3):
            t0 = BASE + dt.timedelta(hours=2 * k)
            for m in (0, 5, 10):
                out.append((url, t0 + dt.timedelta(minutes=m)))
    return out


def test_sessionize_batch(spark):
    from rasterio_spark.streaming.pipeline import sessionize_batch

    pages = _mk_pages(spark, _rows())
    out = sessionize_batch(pages, gap_minutes=30).toPandas()
    assert len(out) == 6  # 2 cells x 3 sessions
    assert (out["n_pages"] == 3).all()
    assert (
        (out["session_end"] - out["session_start"]) == dt.timedelta(minutes=10)
    ).all()
