"""Correctness checks on the program's outputs, done in pandas with no
call back into the package (the entity id is recomputed with hashlib).

Each check returns a list of failure strings; empty means it passed.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def entity_hash(url: str) -> str:
    return hashlib.sha256(url.encode("utf-8")).hexdigest()


def _urls_once(table: pd.DataFrame, expected_urls) -> list[str]:
    fails = []
    dup = int(table["url"].duplicated().sum())
    if dup:
        fails.append(f"{dup} urls appear more than once")
    got, want = set(table["url"]), set(expected_urls)
    if got != want:
        fails.append(f"{len(want - got)} urls missing, {len(got - want)} unexpected")
    return fails


def _ids_hash_canonical(table: pd.DataFrame) -> list[str]:
    bad = int((table["entity_id"] != table["canonical_url"].map(entity_hash)).sum())
    return [f"{bad} rows with entity_id != entity_hash(canonical_url)"] if bad else []


def check_entities(pages: pd.DataFrame, ents: pd.DataFrame) -> list[str]:
    """Batch output: url coverage, id = hash(canonical), canonical = the
    member with minimum (warc_ts, url), component_size = member count."""
    fails = _urls_once(ents, pages["url"])
    fails += _ids_hash_canonical(ents)
    m = ents.merge(pages[["url", "warc_ts"]], on="url", how="inner")
    first = m.sort_values(["warc_ts", "url"]).groupby("entity_id", sort=False).head(1)
    canon = first.set_index("entity_id")["url"]
    bad_canon = int((m["canonical_url"] != m["entity_id"].map(canon)).sum())
    if bad_canon:
        fails.append(f"{bad_canon} rows whose canonical_url is not the min (warc_ts, url) member")
    size = m.groupby("entity_id")["url"].transform("size")
    bad_size = int((m["component_size"] != size).sum())
    if bad_size:
        fails.append(f"{bad_size} rows whose component_size != member count")
    return fails


def _batch_clusters(batch: pd.DataFrame, new: pd.DataFrame) -> list[str]:
    """Rows a micro-batch added keep the cluster the per-batch run gave
    them (``merge_entities`` leaves canonical_url and component_size as
    stamped): the canonical is a url of the batch and no member sorts
    before it by (warc_ts, url), and a cluster's size is one value,
    between its new members and the batch size (re-crawled members are
    not added, so they are not visible here)."""
    fails = []
    ts = batch.set_index("url")["warc_ts"]
    canon_ts = new["canonical_url"].map(ts)
    if canon_ts.isna().any():
        fails.append(f"{int(canon_ts.isna().sum())} new rows whose canonical_url is not in the batch")
    own_ts = new["url"].map(ts)
    before_canon = (own_ts < canon_ts) | ((own_ts == canon_ts) & (new["url"] < new["canonical_url"]))
    if before_canon.any():
        fails.append(f"{int(before_canon.sum())} new rows that sort before their canonical_url")
    sizes = new.groupby("canonical_url")["component_size"].agg(["min", "max", "size"])
    bad = int(((sizes["min"] != sizes["max"]) | (sizes["min"] < sizes["size"]) | (sizes["max"] > len(batch))).sum())
    if bad:
        fails.append(f"{bad} new clusters whose component_size is not one value in [new members, batch size]")
    return fails


def check_table_update(
    before: pd.DataFrame | None, after: pd.DataFrame, landed_urls: set[str], batch: pd.DataFrame
) -> list[str]:
    """Streamed table after ``batch`` (url, warc_ts) landed: every landed
    url once, row count = distinct urls landed, ids = hash(canonical).
    The first batch seeds the table, so it gets the full batch checks;
    after that every url present before the batch keeps its entity_id
    and the added rows are checked against the batch's clusters."""
    fails = []
    if len(after) != len(landed_urls):
        fails.append(f"table has {len(after)} rows for {len(landed_urls)} distinct urls landed")
    if before is None:
        return fails + check_entities(batch, after)
    fails += _urls_once(after, landed_urls) + _ids_hash_canonical(after)
    old = before.set_index("url")["entity_id"]
    new = after.drop_duplicates("url").set_index("url")["entity_id"]
    moved = int((new.reindex(old.index) != old).sum())
    if moved:
        fails.append(f"{moved} pre-existing urls changed entity_id")
    return fails + _batch_clusters(batch, after[~after["url"].isin(old.index)])


def digest(table: pd.DataFrame) -> str:
    """Digest of the sorted (url, entity_id) pairs."""
    rows = sorted(zip(table["url"], table["entity_id"]))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _n_pairs(keys: pd.Series) -> int:
    c = keys.value_counts()
    return int((c * (c - 1) // 2).sum())


def pairwise_f1(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a predicted clustering against ground truth (two
    aligned label series over the same records)."""
    tp = _n_pairs(pred.astype(str) + "\x00" + truth.astype(str))
    n_pred, n_true = _n_pairs(pred), _n_pairs(truth)
    if tp == 0:
        return 0.0
    p, r = tp / n_pred, tp / n_true
    return 2 * p * r / (p + r)
