"""Expected trends outputs, computed by DuckDB from the generated files.

The SQL is the DuckDB transliteration of the reference queries that the
golden tests compare against (``curated_oracle`` / ``distinct_oracle``
in ``tests/test_trends_pipeline.py``), copied so the benchmark does not
depend on the test suite's import layout.  ``limit=0`` means every
ranked row, as ``--limit 0`` does in the CLI.
"""

from __future__ import annotations

import json

import duckdb

from .gen import DEPRECATED_LIST, TARGET_LIST

TABLES = ("highlight", "weaving_status", "publishers_list",
          "status_popularity", "weaving_user")
# table -> timestamp column whose civil day every query matches to the day
DATED = {"weaving_status": "ust_created_at",
         "highlight": "publication_date_time",
         "status_popularity": "checked_at"}
UNDATED = ("publishers_list", "weaving_user")
FIELDS = ("id", "twitterId", "username", "text", "url", "json",
          "publishedAt", "checkedAt", "isRetweet", "totalRetweets",
          "totalFavorites")

CIVIL = "CAST({c} - INTERVAL 1 HOUR AS DATE)"
IN_LIST = f"('{TARGET_LIST}', '{DEPRECATED_LIST}')"
DELETED_MEMBERS = """
    SELECT m.usr_id
    FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
      AND dl.screen_name IS NOT NULL
"""
DELETED_TWITTER_IDS = """
    SELECT CAST(m.usr_twitter_id AS BIGINT)
    FROM weaving_user m, publishers_list dl
    WHERE dl.deleted_at IS NOT NULL
      AND m.usr_twitter_username = dl.screen_name
      AND dl.screen_name IS NOT NULL
"""
JSON_INT = (
    "CASE WHEN json_valid({d}) THEN "
    "TRY_CAST(json_extract_string({d}, '$.{f}') AS INTEGER) END"
)
JSON_USER_ID = (
    "CASE WHEN json_valid(s.ust_api_document) THEN "
    "TRY_CAST(json_extract_string(s.ust_api_document, '$.user.id_str') "
    "AS BIGINT) END"
)
IS_RT_DERIVED = (
    "COALESCE(h.is_retweet, CASE WHEN json_valid(s.ust_api_document) THEN "
    "json_extract_string(s.ust_api_document, '$.retweeted_status_result') "
    "IS NOT NULL END, false)"
)


def _limit(limit: int) -> str:
    return f"LIMIT {limit}" if limit > 0 else ""


def curated_oracle(day: str, limit: int) -> str:
    sday = CIVIL.format(c="s.ust_created_at")
    hday = CIVIL.format(c="h.publication_date_time")
    pday = CIVIL.format(c="p.checked_at")
    return f"""
    SELECT
      s.ust_id AS id,
      s.ust_status_id AS twitterId,
      s.ust_full_name AS username,
      s.ust_text AS text,
      'https://twitter.com/' || s.ust_full_name || '/status/'
        || s.ust_status_id AS url,
      s.ust_api_document AS json,
      strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS publishedAt,
      strftime(s.ust_created_at, '%Y-%m-%d %H:%M:%S') AS checkedAt,
      COALESCE(h.is_retweet, false) AS isRetweet,
      CAST(MAX(COALESCE(p.total_retweets, h.total_retweets)) AS INTEGER)
        AS totalRetweets,
      CAST(MAX(COALESCE(p.total_favorites, h.total_favorites)) AS INTEGER)
        AS totalFavorites
    FROM highlight h
    JOIN weaving_status s ON s.ust_id = h.status_id
      AND {sday} = {hday}
      AND {sday} = DATE '{day}'
      AND h.is_retweet = false
    JOIN publishers_list pl ON h.aggregate_id = pl.id
      AND pl.public_id IN {IN_LIST}
    LEFT JOIN status_popularity p ON p.status_id = h.status_id
      AND {pday} = {hday}
    WHERE {hday} = DATE '{day}'
      AND h.is_retweet = false
      AND h.member_id NOT IN ({DELETED_MEMBERS})
    GROUP BY h.status_id, s.ust_status_id, s.ust_full_name, s.ust_text,
             s.ust_created_at, s.ust_api_document, s.ust_id, h.is_retweet
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def distinct_oracle(day: str, include_retweets: bool, limit: int) -> str:
    sday = CIVIL.format(c="s.ust_created_at")
    hday = CIVIL.format(c="h.publication_date_time")
    pday = CIVIL.format(c="p.checked_at")
    kind = "true" if include_retweets else "false"
    on_rt = "" if include_retweets else "AND h.is_retweet = false"
    rt_json = JSON_INT.format(d="s.ust_api_document", f="retweet_count")
    fav_json = JSON_INT.format(d="s.ust_api_document", f="favorite_count")
    cascade = f"COALESCE(p.total_retweets, h.total_retweets, {rt_json})"
    fav_cascade = f"COALESCE(p.total_favorites, h.total_favorites, {fav_json})"
    return f"""
    WITH rows_ AS (
      SELECT
        s.ust_id, s.ust_status_id, s.ust_full_name, s.ust_text,
        s.ust_created_at, s.ust_api_document,
        {IS_RT_DERIVED} AS is_rt,
        {cascade} AS rt_cascade,
        {fav_cascade} AS fav_cascade
      FROM weaving_status s
      LEFT JOIN highlight h ON s.ust_id = h.status_id
        AND {sday} = {hday}
        AND {sday} = DATE '{day}'
        {on_rt}
      JOIN publishers_list pl ON (
          h.aggregate_id = pl.id
          OR (s.ust_full_name = pl.screen_name
              AND pl.screen_name IS NOT NULL)
        ) AND pl.public_id IN {IN_LIST}
      LEFT JOIN status_popularity p ON p.status_id = h.status_id
        AND {pday} = {hday}
      WHERE {sday} = DATE '{day}'
        AND {IS_RT_DERIVED} = {kind}
        AND ({JSON_USER_ID} IS NULL
             OR {JSON_USER_ID} NOT IN ({DELETED_TWITTER_IDS}))
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY ust_full_name
          ORDER BY rt_cascade DESC NULLS LAST, ust_id DESC
        ) AS rn,
        MAX(rt_cascade) OVER (PARTITION BY ust_full_name) AS max_rt,
        MAX(fav_cascade) OVER (PARTITION BY ust_full_name) AS max_fav
      FROM rows_
    )
    SELECT
      ust_id AS id,
      ust_status_id AS twitterId,
      ust_full_name AS username,
      ust_text AS text,
      'https://twitter.com/' || ust_full_name || '/status/'
        || ust_status_id AS url,
      ust_api_document AS json,
      strftime(ust_created_at, '%Y-%m-%d %H:%M:%S') AS publishedAt,
      strftime(ust_created_at, '%Y-%m-%d %H:%M:%S') AS checkedAt,
      is_rt AS isRetweet,
      CAST(max_rt AS INTEGER) AS totalRetweets,
      CAST(max_fav AS INTEGER) AS totalFavorites
    FROM ranked WHERE rn = 1
    ORDER BY totalRetweets DESC NULLS LAST, id ASC
    {_limit(limit)}
    """


def _valid_json(value) -> bool:
    try:
        json.loads(value)
    except (TypeError, ValueError):
        return False
    return True


class TrendsOracle:
    """Expected rows per (day, variant) for one generated table set,
    memoized because a run publishes the same few days repeatedly."""

    def __init__(self, source_dir: str, limit: int, temp_dir: str):
        self.limit = limit
        self.con = duckdb.connect(config={
            "threads": 4,
            "temp_directory": temp_dir,
            "autoinstall_known_extensions": False,
        })
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t}_all AS "
                f"SELECT * FROM '{source_dir}/{t}.parquet'")
        for t in UNDATED:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_all")
        self._memo: dict = {}

    def _restrict_to(self, day: str) -> None:
        """Point the dated tables at the rows of civil day ``day``.

        Both queries keep only statuses of ``day`` and join highlights
        and popularity checks on the same civil day, so no other row can
        reach a result.  Without the restriction DuckDB plans the
        status-highlight LEFT JOIN as a nested loop over the whole
        history (seconds per day at 20k statuses a day)."""
        for t, col in DATED.items():
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE {t} AS SELECT * FROM {t}_all "
                f"WHERE {CIVIL.format(c=col)} = DATE '{day}'")

    def close(self) -> None:
        self.con.close()

    def rows(self, day: str) -> dict[str, list[tuple]]:
        """``{variant: [row tuple in FIELDS order]}`` for ``day``."""
        if day not in self._memo:
            sqls = {
                "status": curated_oracle(day, self.limit),
                "statusFromDistinctSources":
                    distinct_oracle(day, False, self.limit),
                "retweetFromDistinctSources":
                    distinct_oracle(day, True, self.limit),
            }
            self._restrict_to(day)
            out = {}
            for v, sql in sqls.items():
                res = self.con.execute(sql)
                cols = [d[0] for d in res.description]
                idx = [cols.index(f) for f in FIELDS]
                out[v] = [tuple(r[i] for i in idx) for r in res.fetchall()]
            self._memo[day] = out
        return self._memo[day]

    def leaves(self, day: str) -> dict[str, dict[str, dict]]:
        """The document-store records the sink should hold for ``day``:
        ``{variant: {twitterId: record}}``; rows whose ``json`` field is
        not valid JSON are skipped, as the sink skips them."""
        out = {}
        for v, rows in self.rows(day).items():
            recs = {}
            for r in rows:
                rec = dict(zip(FIELDS, r))
                if not _valid_json(rec["json"]):
                    continue
                rec["twitter_id"] = rec["twitterId"]
                recs[rec["twitterId"]] = rec
            out[v] = recs
        return out
