"""Seeded input generator for the benchmark.

``trends_tables`` writes the five reference-domain tables with the same
schema and edge-case mix as ``tests/fixtures/gen.py`` (invalid JSON
documents, NULL ``is_retweet`` with the JSON fallback, several same-day
popularity checks, next-day-only checks, deleted-member publications,
23:00-00:00 civil-day boundary rows, retweet-count ties, screen-name-only
list membership), but with the history length, statuses per day and
publisher count as parameters.

The tables are written into ``<cache_root>/trends-<key>/``, where the
key hashes the seed and every parameter, and a complete directory is
reused instead of regenerated.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TARGET_LIST = "target-list"
DEPRECATED_LIST = "deprecated-list"
START_DAY = dt.date(2024, 3, 1)
_DONE = "_COMPLETE"


def _cache_dir(cache_root: str, params: dict) -> str:
    key = hashlib.sha256(
        json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    return os.path.join(cache_root, f"trends-{key}")


def _cached(cache_root: str, params: dict, build) -> str:
    out = _cache_dir(cache_root, params)
    if os.path.exists(os.path.join(out, _DONE)):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, **params)
    with open(os.path.join(tmp, _DONE), "w") as f:
        json.dump(params, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _write(outdir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def day_list(n_days: int) -> list[str]:
    return [(START_DAY + dt.timedelta(days=i)).isoformat() for i in range(n_days)]


def _ts(day: dt.date, hour: int, minute: int) -> dt.datetime:
    return dt.datetime(day.year, day.month, day.day, hour, minute)


def _nullable(values, null_mask, type_):
    return pa.array(values, type_, mask=null_mask)


def _build_trends(outdir: str, seed: int, days: int, statuses_per_day: int,
                  publishers: int) -> None:
    # vectorised: a 1.2M-status history takes a few seconds, so inputs
    # can be made inside every run
    rng = np.random.default_rng(seed)
    pubs = [f"pub{i:03d}" for i in range(publishers)]
    d0 = START_DAY
    publishers_list = [
        (1, TARGET_LIST, None, None),
        (2, DEPRECATED_LIST, pubs[1], None),   # screen-name-only member
        (3, "other-list", pubs[2], None),      # outside the IN-list
        (4, "deleted-list", pubs[3], _ts(d0, 1, 0)),  # deleted member
        (5, "deleted-list-2", None, _ts(d0, 2, 0)),   # NULL screen name
        (6, "deleted-list-3", pubs[5], _ts(d0, 3, 0)),
    ]
    n_users = publishers + 10
    weaving_user = [
        (i, pubs[i] if i < publishers else f"user{i}", str(1000 + i))
        for i in range(n_users)
    ]

    n = days * statuses_per_day
    ust_id = np.arange(1, n + 1, dtype=np.int64)
    day_idx = (ust_id - 1) // statuses_per_day
    band = (ust_id - 1) % statuses_per_day % 20
    pub_idx = rng.integers(0, publishers, n)
    # civil-day boundary band: 23:xx and 00:xx of the same date
    hour = np.where(band == 0, 23,
                    np.where(band == 1, 0, rng.integers(1, 23, n)))
    minute = rng.integers(0, 60, n)
    us_per_min = 60_000_000
    created = (np.datetime64(d0, "us") + day_idx * 1440 * us_per_min
               + (hour * 60 + minute) * us_per_min).astype("datetime64[us]")
    status_id_str = [f"16345{i:014d}" for i in ust_id.tolist()]
    texts = [f"tweet «{i}» émoji 😀 \"quoted\"" for i in ust_id.tolist()]
    fav = rng.integers(0, 500, n).tolist()
    has_rt = rng.random(n) > 0.05  # missing retweet_count
    rt = rng.integers(0, 80, n).tolist()
    rt_result = rng.random(n) < 0.25
    invalid = rng.random(n) < 0.02  # invalid JSON
    docs = []
    for k in range(n):
        doc = (f'{{"id_str": "{status_id_str[k]}", "full_text": "tweet «'
               f'{k + 1}» émoji 😀 \\"quoted\\"", "favorite_count": {fav[k]}'
               f', "user": {{"id_str": "{1000 + pub_idx[k]}"}}')
        if has_rt[k]:
            doc += f', "retweet_count": {rt[k]}'
        if rt_result[k]:
            doc += ', "retweeted_status_result": {}'
        doc += "}"
        docs.append(doc[: len(doc) // 2] if invalid[k] else doc)

    hl = np.flatnonzero(rng.random(n) < 0.6)
    m = len(hl)
    r = rng.random(m)
    aggregate_id = np.where(r < 0.7, 1, np.where(
        r < 0.8, 2, np.where(r < 0.9, 3, 6)))
    day_us = 1440 * us_per_min
    pub_dt = created[hl] + np.where(
        rng.random(m) < 0.05, 2 * day_us, 0)  # published two days later
    rr = rng.random(m)
    total_rt = rng.integers(0, 40, m) * 25
    total_fav = rng.integers(0, 1000, m)

    pr = rng.random(m)
    # same-day checks with growing counts
    same = np.flatnonzero(pr < 0.6)
    reps = rng.integers(1, 5, len(same))
    base = rng.integers(0, 40, len(same)) * 25
    src = np.repeat(same, reps)
    c = np.arange(len(src)) - np.repeat(np.cumsum(reps) - reps, reps)
    same_fav = rng.integers(0, 500, len(src)) + 100 * c
    # checked only on a later day
    later = np.flatnonzero((pr >= 0.6) & (pr < 0.7))
    later_rt = rng.integers(2000, 3000, len(later))
    later_fav = rng.integers(0, 500, len(later))
    pop_src = np.concatenate([src, later])
    pop_at = np.concatenate([
        pub_dt[src] + (c + 1) * 30 * us_per_min,
        pub_dt[later] + day_us,
    ]).astype("datetime64[us]")
    pop_rt = np.concatenate([np.repeat(base, reps) + 50 * c, later_rt])
    pop_fav = np.concatenate([same_fav, later_fav])
    order = np.argsort(pop_src, kind="stable")

    ts = pa.timestamp("us")
    _write(outdir, "weaving_status", {
        "ust_id": pa.array(ust_id, pa.int64()),
        "ust_status_id": pa.array(status_id_str),
        "ust_full_name": pa.array(np.array(pubs)[pub_idx].tolist()),
        "ust_text": pa.array(texts),
        "ust_created_at": pa.array(created, ts),
        "ust_api_document": pa.array(docs),
    })
    _write(outdir, "highlight", {
        "status_id": pa.array(ust_id[hl], pa.int64()),
        "aggregate_id": pa.array(aggregate_id, pa.int64()),
        "member_id": pa.array(pub_idx[hl], pa.int64()),
        "is_retweet": _nullable(rr < 0.3, rr < 0.1, pa.bool_()),
        "publication_date_time": pa.array(pub_dt, ts),
        "total_retweets": _nullable(total_rt.astype(np.int32),
                                    rng.random(m) < 0.2, pa.int32()),
        "total_favorites": _nullable(total_fav.astype(np.int32),
                                     rng.random(m) < 0.2, pa.int32()),
    })
    _write(outdir, "publishers_list", {
        "id": pa.array([r[0] for r in publishers_list], pa.int64()),
        "public_id": pa.array([r[1] for r in publishers_list]),
        "screen_name": pa.array([r[2] for r in publishers_list]),
        "deleted_at": pa.array([r[3] for r in publishers_list], ts),
    })
    _write(outdir, "status_popularity", {
        "status_id": pa.array(ust_id[hl][pop_src][order], pa.int64()),
        "checked_at": pa.array(pop_at[order], ts),
        "total_retweets": pa.array(pop_rt[order].astype(np.int32),
                                   pa.int32()),
        "total_favorites": pa.array(pop_fav[order].astype(np.int32),
                                    pa.int32()),
    })
    _write(outdir, "weaving_user", {
        "usr_id": pa.array([r[0] for r in weaving_user], pa.int64()),
        "usr_twitter_username": pa.array([r[1] for r in weaving_user]),
        "usr_twitter_id": pa.array([r[2] for r in weaving_user]),
    })


def _params(seed, days, statuses_per_day, publishers) -> dict:
    return dict(seed=seed, days=days, statuses_per_day=statuses_per_day,
                publishers=publishers)


def trends_tables(cache_root: str, seed: int, days: int,
                  statuses_per_day: int, publishers: int) -> str:
    """Directory of the five domain tables for ``days`` civil days
    starting at ``START_DAY``."""
    return _cached(cache_root, _params(seed, days, statuses_per_day,
                                       publishers), _build_trends)


def cached_trends_tables(cache_root: str, seed: int, days: int,
                         statuses_per_day: int,
                         publishers: int) -> str | None:
    """``trends_tables``' directory if it is already complete, else None."""
    out = _cache_dir(cache_root, _params(seed, days, statuses_per_day,
                                         publishers))
    return out if os.path.exists(os.path.join(out, _DONE)) else None
