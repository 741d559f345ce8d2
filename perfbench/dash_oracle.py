"""DuckDB oracle for the dashboard workload: the expected response of each
request spec, computed over the same sink files the program wrote, and the
canonical form both sides are compared in."""
import csv
import datetime as dt
import json

EPOCH = dt.datetime(1970, 1, 1)
SEARCH_COLS = ("id, url, ts, level, service, message, environment, "
               "anomaly_score, is_anomaly, confidence")
EXPORT_COLS = "id, ts, level, service, message"


def connect(sink):
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW logs AS
        SELECT * EXCLUDE (message_trunc, severity),
               coalesce(message_trunc, text) AS message, severity AS level
        FROM read_parquet('{sink}/routed/*/*.parquet', hive_partitioning = true)
        WHERE severity <> 'REJECTED'""")
    con.execute(f"CREATE VIEW anoms AS SELECT * FROM read_parquet('{sink}/anomalies/*.parquet')")
    return con


def _ts(seconds):
    return f"epoch_ms({int(seconds) * 1000})"


def _tokens(text):
    import re
    return [t for t in re.split(r"\W+", text.lower()) if t]


def _where(*conds):
    conds = [c for c in conds if c]
    return "WHERE " + " AND ".join(conds) if conds else ""


DETECTED = "strptime(detected_at, '%Y-%m-%dT%H:%M:%SZ')"


def _range(spec):
    return f"ts BETWEEN {_ts(spec['start_s'])} AND {_ts(spec['end_s'])}"


def _level(spec):
    return f"level = '{spec['level']}'" if spec.get("level") else None


def sql(spec):
    """DuckDB SQL whose result is the expected response to `spec`."""
    k = spec["kind"]
    if k == "search":
        toks = ", ".join(f"'{t}'" for t in _tokens(spec["q"]))
        levels = ", ".join(f"'{lv}'" for lv in spec["levels"])
        where = _where(
            f"list_has_any(regexp_split_to_array(lower(message), '\\W+'), [{toks}])",
            f"level IN ({levels})" if levels else None,
            f"ts >= {_ts(spec['start_s'])}", f"ts <= {_ts(spec['end_s'])}")
        return f"""SELECT {SEARCH_COLS} FROM logs {where}
            ORDER BY ts DESC NULLS LAST, id DESC NULLS LAST
            LIMIT {spec['size']} OFFSET {spec['page'] * spec['size']}"""
    if k == "search_after":
        t = _ts(spec["ts_s"])
        return f"""SELECT {SEARCH_COLS} FROM logs
            WHERE ts < {t} OR (ts = {t} AND id < '{spec['id']}')
            ORDER BY ts DESC NULLS LAST, id DESC NULLS LAST LIMIT {spec['size']}"""
    if k == "metrics":
        return f"""SELECT count(*) AS total_logs,
                count(*) FILTER (WHERE level = 'ERROR') AS error_count,
                count(*) FILTER (WHERE level = 'WARN') AS warning_count,
                round(count(*) / 1440.0, 4) AS logs_per_minute,
                CASE WHEN count(*) = 0 THEN 0.0 ELSE round(
                  count(*) FILTER (WHERE level = 'ERROR') * 100.0 / count(*), 4) END AS error_rate
            FROM logs {_where(_range(spec))}"""
    if k == "levels":
        return f"""SELECT level, count(*) AS cnt,
                round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS percentage
            FROM logs GROUP BY level
            ORDER BY cnt DESC NULLS LAST, level NULLS FIRST"""
    if k == "volume":
        return f"""WITH c AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
                FROM logs {_where(_range(spec))} GROUP BY 1),
            b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
            h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM b WHERE lo IS NOT NULL)
            SELECT h.bucket, coalesce(c.cnt, 0) AS cnt FROM h LEFT JOIN c USING (bucket)
            ORDER BY h.bucket"""
    if k == "top_services":
        return f"""SELECT service, count(*) AS cnt FROM logs
            GROUP BY service ORDER BY cnt DESC NULLS LAST, service NULLS FIRST
            LIMIT {spec['k']}"""
    if k == "service_names":
        return "SELECT DISTINCT service FROM logs ORDER BY service NULLS FIRST"
    if k in ("export_csv", "export_json"):
        return f"""SELECT {EXPORT_COLS} FROM logs {_where(_level(spec))}
            ORDER BY ts DESC NULLS LAST, id DESC NULLS LAST LIMIT {spec['cap']}"""
    if k == "anomalies":
        return f"""SELECT * FROM anoms WHERE {DETECTED} > {_ts(spec['after_s'])}
            ORDER BY detected_at DESC NULLS LAST, log_id NULLS FIRST"""
    raise ValueError(f"no oracle for {spec}")


def canon(v):
    """One comparable form for JVM-rendered and DuckDB values: timestamps as
    epoch microseconds, doubles rounded to 9 places, null as None."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return [canon(x) for x in v]
    return v


def _iso_micros(s):
    return canon(dt.datetime.fromisoformat(s.replace("Z", "+00:00")))


def exported_rows(path, kind):
    """Rows of an export file as (id, ts, level, service, message), with
    empty and missing strings both read as ''."""
    rows = []
    with open(path, newline="", encoding="utf-8") as f:
        if kind == "export_csv":
            r = csv.reader(f)
            next(r)
            for rec in r:
                rows.append([rec[0], _iso_micros(rec[1])] + rec[2:5])
        else:
            for line in f:
                o = json.loads(line)
                rows.append([o.get("id", ""), _iso_micros(o["ts"]), o.get("level", ""),
                             o.get("service", ""), o.get("message", "")])
    return rows


def check(con, ref):
    """None if the reference response equals DuckDB's result, else a reason."""
    spec = ref["spec"]
    want = [canon(list(r)) for r in con.execute(sql(spec)).fetchall()]
    if ref.get("file"):
        want = [[("" if x is None else x) for x in r] for r in want]
        got = exported_rows(ref["file"], spec["kind"])
    else:
        got = [canon(r) for r in ref["rows"]]
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: {g!r} != {w!r}"[:400]
    return None
