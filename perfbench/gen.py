"""Seeded `events` generator (one DuckDB connection, one thread).

Each workload's corpus is an `events` table shaped like the star-schema
one `synth.transcripts_from_events` reads: (event_id, ts, user_id,
event_type).  Conversation = user, so the corpus shape is set by how
many users there are, how many events each has, and which user ids they
get — `synth` keys the subject of every turn on the user id
(`c % 50` when `c % 3 == 0`, else the hot entity 7).

Every value is a function of (seed, user number, turn number) through
DuckDB's `hash`, so a seed always gives the same file.
"""

from __future__ import annotations

import os

# name -> (users, min turns, max turns, user id multiple)
#   short_hot: many short conversations, arbitrary ids -> ~2/3 of
#              subjects are the hot entity
#   long:      few long conversations, ids that are multiples of 3 ->
#              subject = id % 50, no hot entity
CORPORA = {
    "short_hot": (500, 3, 20, 1),
    "long": (32, 150, 250, 3),
}

EVENT_TYPES = "['view', 'click', 'purchase', 'signup', 'error']"


def events_sql(corpus: str, seed: int) -> str:
    users, lo, hi, mult = CORPORA[corpus]
    span = hi - lo + 1
    return f"""
WITH u AS (
  SELECT range AS k,
         -- distinct ids: k picks the thousand, the seed the offset
         {mult} * (k * 1000 + CAST(hash({seed}, k, 'id') % 997 AS BIGINT)) AS user_id,
         -- users pair up so that each pair has lo + hi turns: the corpus
         -- size is the same for every seed
         CAST(CASE WHEN k % 2 = 0 THEN {lo} + hash({seed}, k // 2) % {span}
                   ELSE {hi} - hash({seed}, k // 2) % {span} END AS BIGINT) AS n
  FROM range({users})
),
e AS (
  SELECT u.k, u.user_id, t.t
  FROM u, LATERAL (SELECT unnest(range(u.n)) AS t) t
)
SELECT
  CAST(row_number() OVER (ORDER BY k, t) - 1 AS BIGINT) AS event_id,
  TIMESTAMP '2024-01-01 00:00:00'
    + to_seconds(CAST(k * 3607 + t * 61 + hash({seed}, k, t) % 50 AS BIGINT))
    AS ts,
  CAST(user_id AS BIGINT) AS user_id,
  {EVENT_TYPES}[CAST(hash({seed}, k, t, 'e') % 5 AS INTEGER) + 1] AS event_type
FROM e
"""


def write_events(con, corpus: str, seed: int, path: str) -> None:
    """Write the corpus as one parquet file at `path` and register the
    `events` view over it (the oracle's input)."""
    con.execute("SET threads = 1")
    con.execute(
        f"COPY ({events_sql(corpus, seed)} ORDER BY event_id) "
        f"TO '{path}' (FORMAT parquet)"
    )
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    con.execute(f"SET threads = {os.cpu_count() or 1}")


def input_properties(con) -> dict:
    """Shape of the generated corpus, from the `events` view."""
    convs, turns, mean_t, max_t = con.execute(
        "SELECT count(*), sum(n), avg(n), max(n) FROM "
        "(SELECT user_id, count(*) AS n FROM events GROUP BY user_id)"
    ).fetchone()
    return {
        "conversations": int(convs),
        "turns": int(turns),
        "mean_turns_per_conversation": round(float(mean_t), 2),
        "max_turns_per_conversation": int(max_t),
    }
