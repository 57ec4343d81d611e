"""Independent DuckDB checks of the benchmark's outputs.

`online_serve` and `stream_sliding` are checked inside the JVM against the
generated rows and against batch `getFeatures`; the two workloads whose
outputs are tables are checked here. Each check returns the number of
mismatched rows (0 = correct). Doubles are compared with a relative
tolerance of 1e-6: far below any difference a wrong row makes, far above
float summation-order noise.
"""
import duckdb

_NEAR = """CREATE OR REPLACE MACRO near(a, b) AS
  (a IS NULL AND b IS NULL)
  OR (a IS NOT NULL AND b IS NOT NULL
      AND abs(a - b) <= 1e-6 * greatest(1.0, abs(b)))"""

DAY = 86400000

# The offline training set, recomputed from the generated events and labels:
# over-window features are evaluated at every event (RANGE frames that
# include the current row), then as-of joined to each label (latest event at
# or before the label time). Sliding features are read from the latest
# window that closed at or before the label time (window end E is the
# largest multiple of a day with E - 1 <= t); a user whose first event is
# not before E has no window row yet (NULL), and a window with no events
# reads 0.
_OFFLINE = f"""
WITH ev AS (SELECT * FROM read_parquet('{{events}}/*.parquet')),
lb AS (SELECT * FROM read_parquet('{{labels}}/*.parquet')),
ow AS (SELECT user_id, ts_ms,
    avg(value) OVER (PARTITION BY user_id ORDER BY ts_ms
      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS avg_1h,
    count(value) OVER (PARTITION BY user_id ORDER BY ts_ms
      RANGE BETWEEN {DAY} PRECEDING AND CURRENT ROW) AS cnt_1d,
    sum(value) OVER (PARTITION BY user_id ORDER BY ts_ms
      RANGE BETWEEN {7 * DAY} PRECEDING AND CURRENT ROW) AS sum_7d
  FROM ev),
pit AS (SELECT lb.label_id, ow.avg_1h, ow.cnt_1d, ow.sum_7d
  FROM lb ASOF LEFT JOIN ow ON lb.user_id = ow.user_id AND lb.ts_ms >= ow.ts_ms),
lw AS (SELECT label_id, user_id, ((ts_ms + 1) // {DAY}) * {DAY} AS wend FROM lb),
first_ev AS (SELECT user_id, min(ts_ms) AS t0 FROM ev GROUP BY 1),
win AS (SELECT lw.label_id,
    sum(CASE WHEN ev.ts_ms >= lw.wend - {DAY} THEN ev.value END) AS s1,
    count(CASE WHEN ev.ts_ms >= lw.wend - {DAY} THEN 1 END) AS c1,
    sum(ev.value) AS s7, count(*) AS c7
  FROM lw JOIN ev ON ev.user_id = lw.user_id
    AND ev.ts_ms >= lw.wend - {7 * DAY} AND ev.ts_ms < lw.wend
  GROUP BY 1),
sw AS (SELECT lw.label_id,
    CASE WHEN f.t0 < lw.wend THEN coalesce(win.s1, 0.0) END AS s1,
    CASE WHEN f.t0 < lw.wend THEN coalesce(win.c1, 0) END AS c1,
    CASE WHEN f.t0 < lw.wend THEN coalesce(win.s7, 0.0) END AS s7,
    CASE WHEN f.t0 < lw.wend THEN coalesce(win.c7, 0) END AS c7
  FROM lw LEFT JOIN first_ev f ON f.user_id = lw.user_id
  LEFT JOIN win ON win.label_id = lw.label_id)
SELECT lb.label_id, lb.user_id, lb.ts_ms, lb.label,
  pit.avg_1h AS ow_avg_1h, pit.cnt_1d AS ow_cnt_1d, pit.sum_7d AS ow_sum_7d,
  sw.s1 AS sw_sum_1d, sw.c1 AS sw_cnt_1d, sw.s7 AS sw_sum_7d, sw.c7 AS sw_cnt_7d,
  CASE WHEN sw.s7 <> 0 THEN sw.s1 / sw.s7 END AS spend_share_1d
FROM lb JOIN pit USING (label_id) JOIN sw USING (label_id)
"""

_OFFLINE_EXACT = ["user_id", "ts_ms", "label", "ow_cnt_1d", "sw_cnt_1d", "sw_cnt_7d"]
_OFFLINE_NEAR = ["ow_avg_1h", "ow_sum_7d", "sw_sum_1d", "sw_sum_7d", "spend_share_1d"]


def offline_pit(check):
    con = duckdb.connect()
    con.execute(_NEAR)
    con.execute("CREATE TABLE want AS " + _OFFLINE.format(**check))
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{check['output']}/*.parquet')")
    same = [f"w.{c} IS NOT DISTINCT FROM g.{c}" for c in _OFFLINE_EXACT]
    same += [f"near(g.{c}, w.{c})" for c in _OFFLINE_NEAR]
    return con.execute(f"""SELECT count(*) FROM want w FULL OUTER JOIN got g USING (label_id)
        WHERE w.label_id IS NULL OR g.label_id IS NULL
           OR NOT ({' AND '.join(same)})""").fetchone()[0]


def _set_diff(con, want_sql, got_path):
    con.execute(f"CREATE OR REPLACE TABLE want AS {want_sql}")
    cols = ", ".join(r[0] for r in con.execute("DESCRIBE want").fetchall())
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT {cols} FROM read_parquet('{got_path}/*.parquet')")
    return con.execute("""SELECT count(*) FROM (
        (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
        UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want))""").fetchone()[0]


def corpus_dedup(check):
    """Keep-best dedup and MinHash LSH pairs against the inventory's own
    DuckDB oracles (q73, q22), run on the same permuted documents."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{check['documents']}/*.parquet')")
    return (_set_diff(con, check["kept_sql"], check["kept"])
            + _set_diff(con, check["lsh_sql"], check["lsh"]))


CHECKS = {"offline_pit": offline_pit, "corpus_dedup": corpus_dedup}
