"""Stage-9 stamping on hand-built pages and components: every output
column of a singleton, a multi-page component, and urls planted twice
inside and outside a component."""

from __future__ import annotations

import hashlib
from datetime import datetime

from entity_resolution_spark.operators.stamping import stamp_entities


def _ts(day: int) -> datetime:
    return datetime(2024, 1, day, 12, 0, 0)


def _eid(url: str) -> str:
    return hashlib.sha256(url.encode()).hexdigest()


def test_stamp_entities_columns(spark):
    pages = spark.createDataFrame(
        [
            # a singleton
            ("s", 10, _ts(5)),
            # a 3-member component labeled by its min member id 1; the
            # earliest page is b, so b is canonical though 1 is a's id
            ("a", 1, _ts(3)),
            ("b", 2, _ts(1)),
            ("c", 3, _ts(2)),
            # one url planted twice, in no component
            ("d", 20, _ts(9)),
            ("d", 20, _ts(8)),
            # one url planted twice inside the component {30, 31}
            ("e", 30, _ts(15)),
            ("e", 30, _ts(14)),
            ("f", 31, _ts(16)),
        ],
        "url string, url_id long, warc_ts timestamp",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (30, 30), (31, 30)], "id long, component long"
    )
    out = stamp_entities(pages, comps)
    assert out.columns == [
        "url", "url_id", "entity_id", "canonical_url", "component_size", "first_seen"
    ]
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        [
            ("s", 10, _eid("s"), "s", 1, _ts(5)),
            ("a", 1, _eid("b"), "b", 3, _ts(1)),
            ("b", 2, _eid("b"), "b", 3, _ts(1)),
            ("c", 3, _eid("b"), "b", 3, _ts(1)),
            # each planted row counts, clustered or not, and both rows
            # carry the url's earliest crawl
            ("d", 20, _eid("d"), "d", 2, _ts(8)),
            ("d", 20, _eid("d"), "d", 2, _ts(8)),
            ("e", 30, _eid("e"), "e", 3, _ts(14)),
            ("e", 30, _eid("e"), "e", 3, _ts(14)),
            ("f", 31, _eid("e"), "e", 3, _ts(14)),
        ]
    )
    assert got == want

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert "LeftAnti" not in plan, plan
