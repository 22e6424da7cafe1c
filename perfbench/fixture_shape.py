#!/usr/bin/env python3
"""Measures the shape of an `events` table, the one the benchmark's
generator follows (see Gen.scala and README.md).

    python3 perfbench/fixture_shape.py <sf dir>/events.parquet

Prints events, users, the time span, events per hour, events per user
(top, median, lowest), the share of a user's gaps that are 30 minutes or
less, and the events per gap-rule session.
"""
import json
import sys

import duckdb


def shape(path):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE e AS SELECT event_id, user_id, epoch_us(ts) AS ts "
                "FROM read_parquet(?)", [path])
    q = lambda sql: con.execute(sql).fetchone()
    events, users, span_h = q("""SELECT count(*), count(DISTINCT user_id),
                                        (max(ts) - min(ts)) / 3600e6 FROM e""")
    per_hour = q("""SELECT median(n), min(n), max(n)
                    FROM (SELECT count(*) AS n FROM e GROUP BY ts // 3600000000)""")
    per_user = q("""SELECT max(n), median(n), min(n)
                    FROM (SELECT count(*) AS n FROM e GROUP BY user_id)""")
    con.execute("""CREATE TABLE g AS SELECT *, ts - lag(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM e""")
    short = q("SELECT avg((gap <= 1800e6)::INT) FROM g WHERE gap IS NOT NULL")[0]
    sessions = q("""SELECT avg(n), max(n) FROM (SELECT count(*) AS n FROM
                    (SELECT user_id, sum((gap IS NULL OR gap > 1800e6)::INT) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS sno FROM g)
                    GROUP BY user_id, sno)""")
    return {
        "events": events, "users": users, "span_hours": round(span_h, 1),
        "events_per_hour": {"median": per_hour[0], "min": per_hour[1], "max": per_hour[2]},
        "events_per_user": {"top": per_user[0], "median": per_user[1], "min": per_user[2]},
        "events_per_user_hour": round(events / users / span_h, 4),
        "gaps_within_30_min": round(short, 4),
        "events_per_session": {"mean": round(sessions[0], 3), "max": sessions[1]},
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(shape(sys.argv[1]), indent=1))
