"""The output checks accept a right output and reject corrupted ones: a
dropped row, a changed count, a truncated response, a duplicate."""
import datetime as dt
import glob
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks    # noqa: E402
import fixtures  # noqa: E402

SQL = """SELECT event_type AS page, count(*) AS n, avg(value) AS mean,
                min(ts) AS first, CAST(NULL AS BIGINT) AS nothing
         FROM events GROUP BY 1"""


def spark_json(rows, cols):
    """A response as the gateway writes it: one JSON object per row,
    timestamps in ISO form, null fields left out."""
    out = []
    for r in rows:
        obj = {}
        for c, v in zip(cols, r):
            if v is None:
                continue
            obj[c] = v.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z" if isinstance(v, dt.datetime) else v
        out.append(json.dumps(obj))
    return "\n".join(out) + "\n"


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixtures"))
    fixtures.write_fixtures(d, seed=7, events=500, documents=5, embeddings=5)
    con = checks.oracle_connection(d)
    cur = con.execute(SQL)
    cols, rows = [c[0] for c in cur.description], cur.fetchall()
    return con, checks.oracle_digest(con, SQL), cols, rows, d


def test_response_matches_in_any_row_order(oracle):
    con, want, cols, rows, d = oracle
    assert checks.check_json_response("q", spark_json(rows[::-1], cols), want, con, d, SQL) == []


@pytest.mark.parametrize("corrupt", ["truncated", "changed_count", "extra_column", "not_json"])
def test_corrupted_response_fails(oracle, corrupt):
    con, want, cols, rows, d = oracle
    body = spark_json(rows, cols)
    lines = body.splitlines()
    if corrupt == "truncated":
        body = "\n".join(lines[:-1])
    elif corrupt == "changed_count":
        obj = json.loads(lines[0])
        obj["n"] += 1
        body = "\n".join([json.dumps(obj)] + lines[1:])
    elif corrupt == "extra_column":
        body = "\n".join(json.dumps(dict(json.loads(l), bogus=1)) for l in lines)
    else:
        body = body[:len(body) // 2]
    assert checks.check_json_response("q", body, want, con, d, SQL)


@pytest.mark.parametrize("corrupt", [None, "dropped_row", "changed_count", "extra_column", "empty"])
def test_parquet_output_check(oracle, tmp_path, corrupt):
    """An entry's parquet output, as the release pass writes it."""
    con, want, cols, rows, d = oracle
    sql = {None: SQL, "dropped_row": f"SELECT * FROM ({SQL}) ORDER BY page OFFSET 1",
           "changed_count": f"SELECT * REPLACE (n + (page = 'click')::INT AS n) FROM ({SQL})",
           "extra_column": f"SELECT *, 1 AS bogus FROM ({SQL})",
           "empty": None}[corrupt]
    out = str(tmp_path / "out")
    os.makedirs(out)
    if sql:
        con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    problems = checks.check_parquet_output("x", out, want, con, SQL)
    assert (problems == []) == (corrupt is None), problems


# ------------------------------------------------------------------ replay

def write_replay(tmp, con, n=3000):
    """A staged batch and the outputs the spine should make of it, built
    here with DuckDB and the benchmark's own Welford."""
    staged = os.path.join(tmp, "staged")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.txt"), "w") as f:
        for i in range(n):
            f.write(json.dumps({"event_id": f"e{i}", "user_id": f"u{i % 37}",
                                "ts": 1704067200000 + i * 200, "page": ["/", "/cart"][i % 2],
                                "country": ["US", "DE", "FR"][i % 3], "referrer": "/",
                                "device": "mobile"}) + "\n")
    checks.staged_view(con, staged)
    _, expected, _ = checks.replay_expected(con)
    out = os.path.join(tmp, "out")
    for d in ("agg", "anomalies", "warehouse/month=202401"):
        os.makedirs(os.path.join(out, d))
    con.execute("CREATE TABLE agg (ws BIGINT, page VARCHAR, country VARCHAR, cnt BIGINT, unique_users BIGINT)")
    con.executemany("INSERT INTO agg VALUES (?, ?, ?, ?, ?)",
                    [(k[0], k[1], k[2], v[0], v[1]) for k, v in expected.items()])
    con.execute(f"""COPY (SELECT make_timestamp(ws * 1000) AS window_start,
        make_timestamp((ws + 60000) * 1000) AS window_end, page, country, cnt, unique_users
        FROM agg) TO '{out}/agg/part-0.parquet' (FORMAT parquet)""")
    series = {}
    for (ws, page, country), (cnt, _) in expected.items():
        series.setdefault((page, country), []).append((ws, cnt))
    con.execute("""CREATE TABLE an (window_start_ms BIGINT, page VARCHAR, country VARCHAR,
        cnt BIGINT, n BIGINT, mean DOUBLE, z_score DOUBLE, is_anomaly BOOLEAN)""")
    con.executemany("INSERT INTO an VALUES (?, ?, ?, ?, ?, ?, ?, ?)", checks.welford(series))
    con.execute(f"COPY an TO '{out}/anomalies/part-0.parquet' (FORMAT parquet)")
    con.execute(f"""COPY (SELECT event_id, user_id, make_timestamp(ts * 1000) AS ts, page, country
        FROM staged) TO '{out}/warehouse/month=202401/part-0.parquet' (FORMAT parquet)""")
    return staged, out


def rewrite(con, path, sql):
    """Replace the parquet file at `path` by `sql` over its own rows."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


@pytest.mark.parametrize("corrupt", [None, "agg_dropped_row", "agg_changed_count",
                                     "agg_changed_users", "store_dropped_event",
                                     "store_duplicate", "anomaly_changed_z"])
def test_replay_check(tmp_path, corrupt):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    staged, out = write_replay(str(tmp_path), con)
    agg = f"{out}/agg/part-0.parquet"
    wh = f"{out}/warehouse/month=202401/part-0.parquet"
    an = f"{out}/anomalies/part-0.parquet"
    if corrupt == "agg_dropped_row":
        rewrite(con, agg, "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)")
    elif corrupt == "agg_changed_count":
        rewrite(con, agg, "SELECT * REPLACE (CASE WHEN rowid = 0 THEN cnt + 1 ELSE cnt END AS cnt) FROM t")
    elif corrupt == "agg_changed_users":
        rewrite(con, agg, "SELECT * REPLACE (CASE WHEN rowid = 0 THEN unique_users - 1 "
                          "ELSE unique_users END AS unique_users) FROM t")
    elif corrupt == "store_dropped_event":
        rewrite(con, wh, "SELECT * FROM t WHERE event_id <> 'e5'")
    elif corrupt == "store_duplicate":
        rewrite(con, wh, "SELECT * FROM t UNION ALL SELECT * FROM t WHERE event_id = 'e5'")
    elif corrupt == "anomaly_changed_z":
        rewrite(con, an, "SELECT * REPLACE (CASE WHEN rowid = 3 THEN z_score + 0.5 "
                         "ELSE z_score END AS z_score) FROM t")
    problems = checks.check_replay(con, staged, out)
    assert (problems == []) == (corrupt is None), problems


def test_welford_flags_only_after_more_than_five_points():
    flat = [(i * 60000, 10) for i in range(5)] + [(5 * 60000, 1000)]
    assert not any(r[7] for r in checks.welford({("/", "US"): flat}))
    longer = [(i * 60000, 10 + i % 2) for i in range(12)] + [(12 * 60000, 1000)]
    rows = checks.welford({("/", "US"): longer})
    assert [r[7] for r in rows] == [False] * 12 + [True]


# -------------------------------------------------------------------- live

def write_live(tmp, con, created):
    raw, agg = os.path.join(tmp, "raw"), os.path.join(tmp, "agg")
    con.execute("CREATE OR REPLACE TABLE ev (event_id VARCHAR, ts BIGINT, page VARCHAR, country VARCHAR)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)", [(e, *v) for e, v in created.items()])
    os.makedirs(f"{raw}/batch=0")
    con.execute(f"COPY (SELECT event_id, make_timestamp(ts * 1000) AS ts FROM ev) "
                f"TO '{raw}/batch=0/part-0.parquet' (FORMAT parquet)")
    os.makedirs(f"{agg}/batch=0")
    con.execute(f"""COPY (SELECT make_timestamp((ts // 60000) * 60000000) AS window_start,
        page, country, 'u1' AS user_id, count(*) AS cnt FROM ev GROUP BY 1, 2, 3)
        TO '{agg}/batch=0/part-0.parquet' (FORMAT parquet)""")
    return raw, agg


@pytest.mark.parametrize("corrupt", [None, "raw_dropped", "raw_duplicate", "agg_changed_count"])
def test_live_check(tmp_path, corrupt):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    created = {f"e{i}": (1704067200000 + i * 100, ["/", "/cart"][i % 2], "US") for i in range(2000)}
    raw, agg = write_live(str(tmp_path), con, created)
    rawf = glob.glob(f"{raw}/batch=0/*.parquet")[0]
    aggf = glob.glob(f"{agg}/batch=0/*.parquet")[0]
    if corrupt == "raw_dropped":
        rewrite(con, rawf, "SELECT * FROM t WHERE event_id <> 'e7'")
    elif corrupt == "raw_duplicate":
        rewrite(con, rawf, "SELECT * FROM t UNION ALL SELECT * FROM t WHERE event_id = 'e7'")
    elif corrupt == "agg_changed_count":
        rewrite(con, aggf, "SELECT * REPLACE (CASE WHEN rowid = 0 THEN cnt + 1 ELSE cnt END AS cnt) FROM t")
    watermark = max(v[0] for v in created.values()) - checks.WATERMARK_MS
    problems = checks.check_live(con, created, raw, agg, watermark)
    assert (problems == []) == (corrupt is None), problems


def test_doubles_one_ulp_apart_across_a_rounding_boundary_agree(tmp_path):
    con = duckdb.connect()
    sql = "SELECT 1 AS k, 0.1234567885 AS z"
    oracle = checks.oracle_digest(con, sql)
    # the next double above the oracle's value rounds the other way at 9 digits
    import math
    z = math.nextafter(0.1234567885, 1.0)
    assert f"{z:.9g}" != f"{0.1234567885:.9g}"
    body = json.dumps({"k": 1, "z": z}) + "\n"
    assert checks.check_json_response("q", body, oracle, con, str(tmp_path), sql) == []
    body = json.dumps({"k": 1, "z": 0.1234568}) + "\n"
    assert checks.check_json_response("q", body, oracle, con, str(tmp_path), sql)
