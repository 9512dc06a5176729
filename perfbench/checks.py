"""Output checks, each computed apart from the program.

Every check returns a list of problems (empty when the output is right),
so a run can report all of them and a test can feed a corrupted output
and see the check fail.
"""
import decimal
import glob
import json
import math
import os

import duckdb

MIN_POINTS = 5        # the detector flags only after more than 5 points
Z_THRESHOLD = 2.5
WATERMARK_MS = 10_000  # ClickPipeline.withEventTime's bounded delay


# ------------------------------------------------------------ canonical form
#
# As in tools/oracle_check.py: columns by name, doubles to 9 significant
# digits, timestamps as epoch milliseconds, integers of any width alike,
# row order ignored. The canonical rows are hashed inside DuckDB, and the
# per-row hashes summed, so a result of any size is compared in one scan.

def _num(x):
    """One value in canonical form, for comparisons made in Python."""
    if isinstance(x, bool):
        return x
    if isinstance(x, decimal.Decimal):
        x = float(x)
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        x = float(f"{x:.9g}")
        return int(x) if x.is_integer() and abs(x) < 2 ** 53 else x
    return x


def _canon_expr(col, typ):
    q = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        d = f"CAST({q} AS DOUBLE)"
        return f"CASE WHEN {d} = 0 THEN '0' ELSE format('{{:.9g}}', {d}) END"
    if "TIMESTAMP" in t or t == "DATE":
        return f"epoch_ms(CAST({q} AS TIMESTAMP))"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"CAST({q} AS HUGEINT)"
    return q


def digest(con, relation, types):
    """(rows, hash) of `relation` in canonical form; `types` maps each
    column to its DuckDB type."""
    exprs = ", ".join(_canon_expr(c, types[c]) for c in sorted(types))
    n, h = con.execute(f"SELECT count(*), coalesce(sum(CAST(hash({exprs}) AS HUGEINT)), 0) "
                       f"FROM {relation}").fetchone()
    return n, str(h)


def _types(con, relation):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()}


# -------------------------------------------------------------- the oracle

def oracle_connection(fixtures):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def oracle_digest(con, sql):
    """The oracle's column types, row count and canonical hash of `sql`."""
    rel = f"({sql})"
    types = _types(con, rel)
    return (types,) + digest(con, rel, types)


def _agree_to_9_digits(con, got, want, types):
    """Row by row, doubles within half a unit of the ninth significant
    digit and every other value equal. Rounding both sides to nine digits
    and hashing, as `digest` does, reports two doubles one ulp apart as
    different when they straddle a rounding boundary; this decides such
    cases without that artefact."""
    doubles = [c for c in sorted(types) if _canon_expr(c, types[c]).startswith("CASE")]
    order = [c for c in sorted(types) if c not in doubles] + doubles
    cols = ", ".join(_canon_expr(c, types[c]) if c not in doubles
                     else f'CAST("{c}" AS DOUBLE)' for c in order)
    keys = ", ".join(str(i + 1) for i in range(len(order)))
    a = con.execute(f"SELECT {cols} FROM {got} ORDER BY {keys}").fetchall()
    b = con.execute(f"SELECT {cols} FROM {want} ORDER BY {keys}").fetchall()
    if len(a) != len(b):
        return False
    nd = len(doubles)
    for ra, rb in zip(a, b):
        if ra[:len(order) - nd] != rb[:len(order) - nd]:
            return False
        for x, y in zip(ra[len(order) - nd:], rb[len(order) - nd:]):
            if x is None or y is None or math.isnan(x) or math.isnan(y):
                if not (x is None and y is None) and not (
                        x is not None and y is not None and math.isnan(x) and math.isnan(y)):
                    return False
            elif abs(x - y) > 5e-9 * max(abs(x), abs(y)):
                return False
    return True


def _differing(con, got, want, types):
    """The columns whose values differ between two relations."""
    return [c for c in sorted(types)
            if digest(con, got, {c: types[c]}) != digest(con, want, {c: types[c]})]


def check_json_response(name, body, oracle, con, scratch, oracle_sql):
    """A gateway response (JSON lines) against the oracle. Each value is
    read with the oracle's type for its column; Spark's JSON leaves out
    null fields, so a missing field is a null. The row count must match,
    so a truncated response fails."""
    types, n, want = oracle
    lines = [l for l in body.splitlines() if l.strip()]
    try:
        keys = set().union(*(json.loads(l).keys() for l in lines[:1]))
    except ValueError:
        return [f"{name}: response is not JSON lines: {body[:80]!r}"]
    if keys - set(types):
        return [f"{name}: response has columns {sorted(keys - set(types))} the oracle has not"]
    if len(lines) != n:
        return [f"{name}: {len(lines)} rows in the response, oracle has {n}"]
    path = os.path.join(scratch, f"{name}.response.json")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    cols = ", ".join(f"'{c}': '{t}'" for c, t in types.items())
    rel = f"read_json('{path}', format='newline_delimited', columns={{{cols}}})"
    try:
        got = digest(con, rel, types)
    except duckdb.Error as e:
        return [f"{name}: response does not read with the oracle's types: {e}"]
    return _against_oracle(name, con, rel, got, oracle, oracle_sql)


def check_parquet_output(name, out_dir, oracle, con, oracle_sql):
    """An entry's output, written as parquet, against the oracle: the same
    columns and row count, and the same rows in canonical form. An oracle
    without rows checks nothing, and fails."""
    types, n, _ = oracle
    if n == 0:
        return [f"{name}: the oracle has no rows, so the output went unchecked"]
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return [f"{name}: no output"]
    rel = f"read_parquet({files!r})"
    cols = set(_types(con, rel))
    if cols != set(types):
        return [f"{name}: output columns {sorted(cols)}, oracle has {sorted(types)}"]
    got = digest(con, rel, types)
    if got[0] != n:
        return [f"{name}: {got[0]} rows in the output, oracle has {n}"]
    return _against_oracle(name, con, rel, got, oracle, oracle_sql)


def _against_oracle(name, con, rel, got, oracle, oracle_sql):
    """Equal canonical hashes pass; otherwise the rows must agree one by
    one to nine significant digits."""
    types, n, want = oracle
    if got == (n, want) or _agree_to_9_digits(con, rel, f"({oracle_sql})", types):
        return []
    return [f"{name}: rows differ from the oracle in {_differing(con, rel, f'({oracle_sql})', types)}"]


# ------------------------------------------------------------------ replay

def welford(series):
    """The detector's rule, written apart from it: per key, in window
    order, update the running mean and M2 first, then score the window
    against the updated sample standard deviation."""
    out = []
    for key, points in series.items():
        n, total, m2 = 0, 0.0, 0.0
        for ws, cnt in sorted(points):
            mean_prev = total / n if n else 0.0
            n += 1
            total += cnt
            mean = total / n
            m2 += (cnt - mean_prev) * (cnt - mean)
            std = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
            z = abs(cnt - mean) / std if n > MIN_POINTS and std > 0 else 0.0
            out.append((ws, key[0], key[1], cnt, n, mean, z, z > Z_THRESHOLD))
    return out


def staged_view(con, staged):
    files = sorted(glob.glob(os.path.join(staged, "*.txt")))
    con.execute(f"""CREATE OR REPLACE VIEW staged AS
        SELECT event_id, user_id, ts, page, country FROM read_json({files!r},
          columns={{'event_id':'VARCHAR','user_id':'VARCHAR','ts':'BIGINT',
                    'page':'VARCHAR','country':'VARCHAR'}}, format='newline_delimited')""")


def replay_expected(con):
    """Per (window, page, country) count and distinct users over the staged
    events, for the windows the watermark closed; plus the event count."""
    n, max_ts = con.execute("SELECT count(*), max(ts) FROM staged").fetchone()
    watermark = max_ts - WATERMARK_MS
    rows = con.execute(f"""
        SELECT * FROM (
          SELECT (ts // 60000) * 60000 AS ws, page, country,
                 count(*) AS cnt, count(DISTINCT user_id) AS uu
          FROM staged GROUP BY 1, 2, 3)
        WHERE ws + 60000 <= {watermark}""").fetchall()
    closed = sum(r[3] for r in rows)
    return n, {(r[0], r[1], r[2]): (r[3], r[4]) for r in rows}, closed


def check_replay(con, staged, output):
    """All replay checks over one operation's output directory."""
    problems = []
    staged_view(con, staged)
    n, expected, closed = replay_expected(con)

    agg_files = glob.glob(os.path.join(output, "agg", "*.parquet"))
    agg = con.execute(f"""SELECT epoch_ms(window_start), page, country, cnt, unique_users
        FROM read_parquet({agg_files!r})""").fetchall() if agg_files else []
    got = {}
    for ws, page, country, cnt, uu in agg:
        if (ws, page, country) in got:
            problems.append(f"replay: aggregate row ({ws}, {page}, {country}) landed twice")
        got[(ws, page, country)] = (cnt, uu)
    total = sum(c for c, _ in got.values())
    if total != closed:
        problems.append(f"replay: sum(cnt) = {total}, but {closed} of the {n} generated "
                        "events fall in windows the watermark closed")
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()))[:3]
        problems.append(f"replay: cnt/unique_users differ from DuckDB, e.g. {diff}")

    wh = glob.glob(os.path.join(output, "warehouse", "**", "*.parquet"), recursive=True)
    if not wh:
        problems.append("replay: the warehouse is empty")
    else:
        rows, distinct, missing = con.execute(f"""
            WITH w AS (SELECT event_id FROM read_parquet({wh!r}, hive_partitioning=true))
            SELECT (SELECT count(*) FROM w), (SELECT count(DISTINCT event_id) FROM w),
                   (SELECT count(*) FROM staged WHERE event_id NOT IN (SELECT event_id FROM w))
        """).fetchone()
        if rows != n or distinct != n or missing:
            problems.append(f"replay: warehouse holds {rows} rows, {distinct} distinct ids, "
                            f"{missing} generated ids missing; {n} generated")

    series = {}
    for (ws, page, country), (cnt, _) in expected.items():
        series.setdefault((page, country), []).append((ws, cnt))
    want = sorted(tuple(_num(v) for v in r) for r in welford(series))
    an_files = glob.glob(os.path.join(output, "anomalies", "*.parquet"))
    have = con.execute(f"""SELECT window_start_ms, page, country, cnt, n, mean, z_score, is_anomaly
        FROM read_parquet({an_files!r})""").fetchall() if an_files else []
    have = sorted(tuple(_num(v) for v in r) for r in have)
    if have != want:
        problems.append(f"replay: anomaly rows differ from the Welford recomputation "
                        f"({len(have)} rows vs {len(want)})")
    return problems


# -------------------------------------------------------------------- live

def check_live(con, created, raw_dir, agg_dir, watermark_ms):
    """Every event the writer created lands exactly once in the raw sink;
    the aggregate's counts for windows the final watermark closed equal
    the writer's own log. `created` maps event_id -> (ts_ms, page, country)."""
    problems = []
    raw = glob.glob(os.path.join(raw_dir, "**", "*.parquet"), recursive=True)
    landed = {}
    if raw:
        for eid, k in con.execute(f"""SELECT event_id, count(*) FROM
                read_parquet({raw!r}, hive_partitioning=true) GROUP BY 1""").fetchall():
            landed[eid] = k
    dup = sum(1 for k in landed.values() if k > 1)
    missing = sum(1 for e in created if e not in landed)
    foreign = sum(1 for e in landed if e not in created)
    if dup or missing or foreign:
        problems.append(f"live: raw sink has {dup} duplicated, {missing} missing and "
                        f"{foreign} unknown events out of {len(created)} created")

    want = {}
    for ts, page, country in created.values():
        ws = ts // 60000 * 60000
        if ws + 60000 <= watermark_ms:
            want[(ws, page, country)] = want.get((ws, page, country), 0) + 1
    agg = glob.glob(os.path.join(agg_dir, "**", "*.parquet"), recursive=True)
    got = {}
    if agg:
        for ws, page, country, cnt in con.execute(f"""
                SELECT epoch_ms(window_start), page, country, sum(cnt)
                FROM read_parquet({agg!r}, hive_partitioning=true)
                GROUP BY ALL""").fetchall():
            got[(ws, page, country)] = cnt
    closed = {k: v for k, v in got.items() if k[0] + 60000 <= watermark_ms}
    if closed != want:
        diff = sorted(set(closed.items()) ^ set(want.items()))[:3]
        problems.append(f"live: closed-window counts differ from the writer's log, e.g. {diff}")
    if not want:
        problems.append("live: no window closed, so the aggregate went unchecked")
    return problems
