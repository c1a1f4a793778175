"""Seeded input generator for the feature-store workloads.

Writes an event log (`events.parquet`: user_id, event_type, ts, value) and
daily label snapshots (`labels.parquet`: user_id, label, as_of_ts) with
DuckDB. Every random draw is a hash of (row, seed, stream), so the same seed
gives byte-identical files regardless of thread count.

User activity is Zipf-skewed: a user's rank r in [1, users] is drawn with
probability proportional to 1/r, and the id is a seeded permutation of the
rank, so the heavy users are spread over the id space.
"""
import hashlib
import os

import duckdb

EVENT_TYPES = ["view", "click", "search", "add_to_cart", "purchase"]
# cumulative shares of the five types: browsing dominates, purchases are rare
TYPE_CUTS = [0.45, 0.75, 0.90, 0.97, 1.0]
FIRST_DAY = "2023-12-02"   # 60 days of events up to 2024-01-30
DAYS = 60
LABEL_FIRST_DAY = "2024-01-01"  # labels on each day of the backfill window
LABEL_DAYS = 30
LABEL_SHARE = 0.2          # share of known users labelled on each label day


def unit(expr_args, stream):
    """A uniform draw in [0, 1) from a hash of the row and the stream."""
    return f"((hash({expr_args}, {stream}) >> 11)::DOUBLE / 9007199254740992.0)"


def generate(out_dir, seed, events, users):
    """Write events.parquet and labels.parquet into out_dir; return params."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer: row groups stay in order
    con.execute("SET TimeZone = 'UTC'")
    cuts = " ".join(
        f"WHEN t < {c} THEN '{name}'" for c, name in zip(TYPE_CUTS, EVENT_TYPES))
    # rank -> id: an affine permutation of [0, users) keyed by the seed
    mult = 1 + 2 * (seed % 1000003)
    while _gcd(mult, users) != 1:
        mult += 2
    con.execute(f"""
        CREATE TABLE ev AS
        SELECT
          'u' || lpad(CAST(((rank - 1) * {mult} + {seed}) % {users} AS VARCHAR), 7, '0') AS user_id,
          CASE {cuts} END AS event_type,
          (TIMESTAMPTZ '{FIRST_DAY} 00:00:00+00'
            + to_microseconds(CAST(floor(d * {DAYS} * 86400000000) AS BIGINT))) AS ts,
          round(v * 100, 2) AS value
        FROM (
          SELECT i,
            CAST(least(floor(exp({unit('i, ' + str(seed), 1)} * ln({users} + 1))), {users}) AS BIGINT) AS rank,
            {unit('i, ' + str(seed), 2)} AS t,
            {unit('i, ' + str(seed), 3)} AS d,
            {unit('i, ' + str(seed), 4)} AS v
          FROM range({events}) r(i))
        ORDER BY i""")
    con.execute(f"COPY (SELECT user_id, event_type, ts, value FROM ev) TO "
                f"'{out_dir}/events.parquet' (FORMAT PARQUET)")
    # daily label snapshots: one as_of_ts (noon) per label day, a seeded
    # share of the known users each day
    con.execute(f"""
        COPY (
          SELECT u.user_id,
            CAST(({unit('u.user_id, k.day_ix, ' + str(seed), 5)} < 0.3) AS DOUBLE) AS label,
            TIMESTAMPTZ '{LABEL_FIRST_DAY} 12:00:00+00' + to_days(CAST(k.day_ix AS INTEGER)) AS as_of_ts
          FROM (SELECT DISTINCT user_id FROM ev) u
          CROSS JOIN range({LABEL_DAYS}) k(day_ix)
          WHERE {unit('u.user_id, k.day_ix, ' + str(seed), 6)} < {LABEL_SHARE}
          ORDER BY k.day_ix, u.user_id)
        TO '{out_dir}/labels.parquet' (FORMAT PARQUET)""")
    known = con.execute("SELECT count(DISTINCT user_id) FROM ev").fetchone()[0]
    n_labels = con.execute(
        f"SELECT count(*) FROM '{out_dir}/labels.parquet'").fetchone()[0]
    con.close()
    return {"events": events, "users": users, "users_seen": known,
            "event_types": len(EVENT_TYPES), "days": DAYS,
            "skew": "zipf s=1 over user rank", "labels": n_labels,
            "distinct_as_of_ts": LABEL_DAYS}


def digest(out_dir):
    """sha256 over the generated files, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def _gcd(a, b):
    while b:
        a, b = b, a % b
    return a
