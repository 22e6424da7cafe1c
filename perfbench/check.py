"""Independent reference for the pipeline benchmark's output check.

The reference is a one-pass gap-rule sessionization in DuckDB over all
generated events: the shape of the `sessionize_hour_job` oracle in
SessionQueries.scala. It never reads anything the program wrote, except the
output under test.
"""
import glob
import os

import duckdb

GAP_US = 1800 * 1000000
# StreamingSessionize's watermark: the largest event time seen minus this
WATERMARK_DELAY_US = 1800 * 1000000

class CheckFailed(Exception):
    pass


def _lit(path):
    return "'" + path.replace("'", "''") + "'"


def _sessions(sessions_dir):
    """The job's Hive-partitioned output as a DuckDB relation."""
    return (f"read_parquet({_lit(os.path.join(sessions_dir, '**', '*.parquet'))}, "
            "hive_partitioning = true)")


class Reference:
    """Reference sessions over one workload's generated input."""

    def __init__(self, data_dir, batch):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.batch = batch
        if batch:
            csv = os.path.join(data_dir, "events.csv")
            self.con.execute(f"""
                CREATE TABLE ev AS
                SELECT product_id AS eid, user_id,
                       epoch_us(strptime(event_time, '%Y-%m-%d %H:%M:%S UTC')) AS ts_us,
                       NULL::INTEGER AS file_hour
                FROM read_csv({_lit(csv)}, header = true, columns = {{
                  'event_time': 'VARCHAR', 'event_type': 'VARCHAR',
                  'product_id': 'BIGINT', 'category_id': 'BIGINT',
                  'category_code': 'VARCHAR', 'brand': 'VARCHAR',
                  'price': 'DOUBLE', 'user_id': 'BIGINT'}})""")
        else:
            files = os.path.join(data_dir, "hours", "hour_*.parquet")
            self.con.execute(f"""
                CREATE TABLE ev AS
                SELECT event_id AS eid, user_id, epoch_us(ts) AS ts_us,
                       CAST(regexp_extract(filename, 'hour_([0-9]+)', 1) AS INTEGER) AS file_hour
                FROM read_parquet({_lit(files)}, filename = true)""")
        # a session breaks where the gap to the user's previous event is
        # strictly greater than 30 minutes; its id is minted from its first event
        self.con.execute(f"""
            CREATE TABLE ref AS
            WITH d AS (
              SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, eid) AS gap
              FROM ev),
            s AS (
              SELECT *, sum(CASE WHEN gap IS NULL OR gap > {GAP_US} THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts_us, eid
                                ROWS UNBOUNDED PRECEDING) AS sno
              FROM d),
            t AS (SELECT *, min(ts_us) OVER (PARTITION BY user_id, sno) AS start_us FROM s)
            SELECT *, sha256(user_id::VARCHAR || '-' || start_us::VARCHAR) AS session_id,
                   ts_us // 3600000000 AS hour_no
            FROM t""")

    def properties(self):
        """Measured properties of the generated input."""
        q = self.con.execute
        events, users, hours = q(
            "SELECT count(*), count(DISTINCT user_id), count(DISTINCT hour_no) FROM ref").fetchone()
        carried = q("""SELECT avg(CASE WHEN start_us // 3600000000 < hour_no THEN 1 ELSE 0 END)
                       FROM ref""").fetchone()[0]
        top, med = q("""SELECT max(n), median(n) FROM
                        (SELECT count(*) AS n FROM ev GROUP BY user_id)""").fetchone()
        late = 0.0
        if not self.batch:
            first = q("SELECT min(ts_us) // 3600000000 FROM ev").fetchone()[0]
            late = q(f"""SELECT avg(CASE WHEN file_hour <> ts_us // 3600000000 - {first}
                                    THEN 1 ELSE 0 END) FROM ev""").fetchone()[0]
        return {
            "events": events, "hours": hours, "users": users,
            "carried_share": round(float(carried), 4),
            "top_user_events": top, "median_user_events": float(med),
            "user_skew": round(top / float(med), 2),
            "late_share": round(float(late), 4),
        }

    def check_batch(self, sessions_dir):
        """Raises CheckFailed unless the job's output equals the reference."""
        if not glob.glob(os.path.join(sessions_dir, "**", "*.parquet"), recursive=True):
            raise CheckFailed(f"no output under {sessions_dir}")
        out = _sessions(sessions_dir)
        q = self.con.execute
        bad_hours = q(f"""
            WITH i AS (SELECT hour_no, count(*) AS n FROM ref GROUP BY hour_no),
                 o AS (SELECT epoch_us(strptime(event_date || ' ' || event_hour, '%Y-%m-%d %H'))
                              // 3600000000 AS hour_no, count(*) AS n
                       FROM {out} GROUP BY ALL)
            SELECT count(*) FROM i FULL OUTER JOIN o USING (hour_no)
            WHERE i.n IS DISTINCT FROM o.n""").fetchone()[0]
        if bad_hours:
            raise CheckFailed(f"{bad_hours} hours where rows out differ from rows in")
        nulls = q(f"SELECT count(*) FROM {out} WHERE session_id IS NULL").fetchone()[0]
        if nulls:
            raise CheckFailed(f"{nulls} rows with a null session_id")
        digest = "SELECT count(*), sum(hash(pid, sid)::HUGEINT) FROM ({})"
        got = q(digest.format(f"SELECT product_id AS pid, session_id AS sid FROM {out}")).fetchone()
        want = q(digest.format("SELECT eid AS pid, session_id AS sid FROM ref")).fetchone()
        if got != want:
            raise CheckFailed(f"(product_id, session_id) digest {got} != reference {want}")

    def hour_stats(self, sessions_dir):
        """Per output hour, on average: null session ids and sessions opened."""
        return self.con.execute(f"""
            WITH o AS (SELECT * FROM {_sessions(sessions_dir)})
            SELECT count(*) FILTER (WHERE session_id IS NULL) / count(DISTINCT event_date || event_hour),
                   count(DISTINCT session_id) / count(DISTINCT event_date || event_hour)
            FROM o""").fetchone()

    def check_stream(self, out_dir, reported_watermark_us):
        """Raises CheckFailed unless the final watermark the query reported
        is the one the input fixes, at least one session was emitted, and the
        emitted sessions are exactly the reference sessions that closed at or
        before that watermark."""
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        q = self.con.execute
        watermark_us = q(f"SELECT max(ts_us) - {WATERMARK_DELAY_US} FROM ev").fetchone()[0]
        if reported_watermark_us != watermark_us:
            raise CheckFailed(f"final watermark {reported_watermark_us} µs, "
                              f"but the input fixes it at {watermark_us} µs")
        emitted = ("SELECT NULL::BIGINT AS user_id, NULL::BIGINT AS s, NULL::BIGINT AS e, "
                   "NULL::BIGINT AS n, NULL::BIGINT AS f, NULL::BIGINT AS l WHERE false")
        if files:
            emitted = f"""SELECT user_id, epoch_us(session_start) AS s, epoch_us(session_end) AS e,
                                 n_events AS n, first_event AS f, last_event AS l
                          FROM read_parquet({_lit(os.path.join(out_dir, '*.parquet'))})"""
        closed = f"""SELECT user_id, min(ts_us) AS s, max(ts_us) + {GAP_US} AS e, count(*) AS n,
                            min(eid) AS f, max(eid) AS l
                     FROM ref GROUP BY user_id, sno HAVING max(ts_us) + {GAP_US} <= {watermark_us}"""
        missing = q(f"SELECT count(*) FROM ({closed} EXCEPT ALL {emitted})").fetchone()[0]
        extra = q(f"SELECT count(*) FROM ({emitted} EXCEPT ALL {closed})").fetchone()[0]
        if missing or extra:
            raise CheckFailed(f"stream output: {missing} closed reference sessions missing, "
                              f"{extra} emitted sessions not in the reference")
        n = q(f"SELECT count(*) FROM ({emitted})").fetchone()[0]
        if not n:
            raise CheckFailed("stream output: no session emitted")
        return n
