"""The output checks catch each kind of wrong answer they name."""

import pandas as pd
import pytest

from perfbench import checks

TS = pd.Timestamp("2024-01-01")


def _pages():
    return pd.DataFrame(
        {
            "url": ["u1", "u2", "u3", "u4"],
            "warc_ts": [TS + pd.Timedelta(hours=h) for h in (2, 1, 1, 0)],
        }
    )


def _entities():
    # {u1, u2, u3}: earliest (warc_ts, url) is (1h, u2); u4 alone
    rows = [("u1", "u2", 3), ("u2", "u2", 3), ("u3", "u2", 3), ("u4", "u4", 1)]
    return pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "canonical_url": [r[1] for r in rows],
            "entity_id": [checks.entity_hash(r[1]) for r in rows],
            "component_size": [r[2] for r in rows],
        }
    )


def test_good_output_passes():
    assert checks.check_entities(_pages(), _entities()) == []


@pytest.mark.parametrize(
    "mutate",
    [
        lambda e: e.iloc[:3],  # a url missing
        lambda e: pd.concat([e, e.iloc[:1]]),  # a url twice
        lambda e: e.assign(entity_id=e["entity_id"].where(e["url"] != "u4", "x")),
        lambda e: e.assign(
            canonical_url=e["canonical_url"].replace("u2", "u3"),
            entity_id=e["entity_id"].replace(checks.entity_hash("u2"), checks.entity_hash("u3")),
        ),
        lambda e: e.assign(component_size=e["component_size"].replace(3, 2)),
    ],
)
def test_each_wrong_output_fails(mutate):
    assert checks.check_entities(_pages(), mutate(_entities()))


ALL = {"u1", "u2", "u3", "u4"}


def test_table_update_stability_and_row_count():
    before = _entities().iloc[:2]
    after = _entities()
    assert checks.check_table_update(before, after, ALL, _pages()) == []
    moved = after.assign(entity_id=after["entity_id"].where(after["url"] != "u1", "y"))
    assert checks.check_table_update(before, moved, ALL, _pages())
    assert checks.check_table_update(before, after, ALL | {"u5"}, _pages())


def test_seeding_batch_gets_the_full_checks():
    assert checks.check_table_update(None, _entities(), ALL, _pages()) == []
    wrong_size = _entities().assign(component_size=lambda e: e["component_size"].replace(3, 2))
    assert checks.check_table_update(None, wrong_size, ALL, _pages())


@pytest.mark.parametrize(
    "mutate",
    [
        # u3 (1h, u3) sorts after u2 (1h, u2), so it cannot be u2's canonical
        lambda e: e.assign(
            canonical_url=e["canonical_url"].where(e["url"] != "u2", "u3"),
            entity_id=e["entity_id"].where(e["url"] != "u2", checks.entity_hash("u3")),
        ),
        lambda e: e.assign(component_size=e["component_size"].where(e["url"] != "u3", 2)),
        lambda e: e.assign(component_size=e["component_size"].replace(3, 5)),
    ],
)
def test_added_rows_are_checked_against_the_batch(mutate):
    before = _entities().iloc[:1]
    assert checks.check_table_update(before, mutate(_entities()), ALL, _pages())


def test_pairwise_f1():
    truth = pd.Series([1, 1, 1, 2])
    assert checks.pairwise_f1(pd.Series(["a", "a", "a", "b"]), truth) == 1.0
    # predicted {0,1},{2},{3}: 1 true pair of 3 -> p=1, r=1/3
    assert checks.pairwise_f1(pd.Series(["a", "a", "c", "b"]), truth) == pytest.approx(0.5)


def test_digest_is_order_independent():
    e = _entities()
    assert checks.digest(e) == checks.digest(e.iloc[::-1])
