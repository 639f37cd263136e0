"""Seeded input generator and DuckDB reference for the CDC pipeline benchmark.

Writes Debezium-envelope NDJSON for one workload and seed, then runs the
reference's SCD2 SQL (the transform_scd2.py shape: read_ndjson_objects +
json_extract, one window per key) over the written files with DuckDB, and
stores what the Spark run must reproduce in ``expected.json``:

* generator-implied counts: valid events, input lines, distinct keys and
  keys alive after their last event;
* the reference history's row count, current and live counts, and an
  order-independent checksum (sum of a 48-bit md5 prefix per row);
* for ``batch_rebuild``, the seeded serving lookups and each one's answer.

The event stream: one ``c`` per key (lsn order), then updates whose key is
drawn with a power-law popularity (mean about 9 per key), about 5% deletes
(``after`` null, full ``before`` image, the next event of that key is a
re-create), and about 0.3% heartbeat lines with a null ``op`` that the
pipeline must drop. (id, lsn) pairs are unique. Rows inside every file are
shuffled, so file order is not lsn order. ``stream_replay`` slices the
stream by lsn into mtime-ordered files and moves about 1% of the events one
slice late.
"""

import json
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb

T0_MS = 1733011200000  # 2024-12-01 00:00:00 UTC
DAY_MS = 86400000
SENTINEL_MS = 253370764800000  # 9999-01-01, the reference's open-interval end
ATTRS = ("name", "description", "price")

WORKLOADS = {
    "batch_rebuild": dict(events=240_000, keys=24_000, days=4,
                          files_per_day=4, lookups=100, range_keys=100),
    "stream_replay": dict(events=50_000, keys=5_000, days=2, slices=20,
                          late_pct=1),
}

# One md5 prefix per history row, summed: equal sums mean equal multisets
# with overwhelming probability, whatever order either engine produced.
ROW_HASH = """('0x' || substr(md5(concat_ws('|', id,
    coalesce(name, '~'), coalesce(description, '~'),
    coalesce(CAST(CAST(round(price * 100) AS BIGINT) AS VARCHAR), '~'),
    epoch_ms(row_valid_start_timestamp),
    epoch_ms(row_valid_expiration_timestamp))), 1, 12))::BIGINT"""

REFERENCE_SQL = """
CREATE TABLE hist AS
WITH cdc_events AS (
  SELECT
    COALESCE(CAST(json_extract(json, '$.payload.after.id') AS INT),
             CAST(json_extract(json, '$.payload.before.id') AS INT)) AS id,
    json_extract(json, '$.payload.after') AS after_row_value,
    CAST(json_extract(json, '$.payload.source.lsn') AS BIGINT) AS log_seq_num,
    make_timestamp(CAST(json_extract(json, '$.payload.ts_ms') AS BIGINT) * 1000)
      AS source_timestamp
  FROM read_ndjson_objects('{glob}')
  WHERE json_extract_string(json, '$.payload.op') IS NOT NULL),
ranked_events AS (
  SELECT id, after_row_value, log_seq_num, source_timestamp,
    LEAD(source_timestamp) OVER (PARTITION BY id ORDER BY log_seq_num)
      AS next_change_timestamp
  FROM cdc_events WHERE id IS NOT NULL)
SELECT id,
  json_extract_string(after_row_value, '$.name') AS name,
  json_extract_string(after_row_value, '$.description') AS description,
  CAST(json_extract(after_row_value, '$.price') AS DOUBLE) AS price,
  source_timestamp AS row_valid_start_timestamp,
  COALESCE(next_change_timestamp, TIMESTAMP '9999-01-01')
    AS row_valid_expiration_timestamp
FROM ranked_events
"""


def _u(salt, expr="i"):
    """Uniform [0, 1) draw from the seed, a row expression and a salt."""
    return f"((hash($seed, {expr}, {salt}) % 1000003) / 1000003.0)"


def _events_sql(p):
    """The event table: one row per envelope line, with its file placement."""
    n, k = p["events"], p["keys"]
    step = p["days"] * DAY_MS // n
    heartbeats = max(1, n * 3 // 1000)
    attrs = lambda v: (  # noqa: E731
        f"{{'id': id, 'name': 'name-' || (hash($seed, id, {v}, 3) % 50000), "
        f"'description': 'desc-' || id || '-' || {v}, "
        f"'price': (hash($seed, id, {v}, 4) % 1000000) / 100.0}}")
    return f"""
CREATE TABLE ev AS
WITH draws AS (
  SELECT i, CASE WHEN i < {k} THEN i
      ELSE CAST(floor({k} * pow({_u(1)}, 2.0)) AS INTEGER) END AS id,
    {_u(2)} < 0.055 AS dd
  FROM range({n}) t(i)),
ver AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY i) - 1 AS v
  FROM draws),
flag AS (
  SELECT *, v > 0 AND dd AND NOT coalesce(lag(dd) OVER w, false) AS is_del
  FROM ver WINDOW w AS (PARTITION BY id ORDER BY i)),
typed AS (
  SELECT i, id, v, CASE WHEN is_del THEN 'd'
      WHEN v = 0 OR coalesce(lag(is_del) OVER w, false) THEN 'c'
      ELSE 'u' END AS op
  FROM flag WINDOW w AS (PARTITION BY id ORDER BY i))
SELECT i, id, op, {T0_MS} + i * {step} AS ts_ms,
  {{'before': CASE WHEN op = 'c' THEN NULL ELSE {attrs('v - 1')} END,
    'after': CASE WHEN op = 'd' THEN NULL ELSE {attrs('v')} END,
    'op': op, 'ts_ms': {T0_MS} + i * {step}, 'source': {{'lsn': 1000 + 3 * i}}}}
    AS payload
FROM typed
UNION ALL
SELECT -1 - i, NULL, NULL, {T0_MS} + CAST(floor({_u(8)} * {n * step}) AS BIGINT),
  {{'before': NULL, 'after': NULL, 'op': NULL,
    'ts_ms': {T0_MS} + CAST(floor({_u(8)} * {n * step}) AS BIGINT), 'source': {{'lsn': NULL}}}}
FROM range({heartbeats}) t(i)
"""


class _Seeded:
    """A DuckDB connection that binds ``$seed`` in every statement.

    DuckDB 1.0 has neither session variables nor prepared DDL, so the seed
    is bound textually.
    """

    def __init__(self, duck, seed):
        self.duck, self.seed = duck, int(seed)

    def __call__(self, sql):
        return self.duck.execute(sql.replace("$seed", str(self.seed)))

    def cursor(self):
        return _Seeded(self.duck.cursor(), self.seed)


def _copy(con, where, path, compress):
    opts = "FORMAT JSON" + (", COMPRESSION GZIP" if compress else "")
    con(f"COPY (SELECT payload FROM ev WHERE {where} "
        f"ORDER BY hash($seed, i, 6)) TO '{path}' ({opts})")


def _write_batch(con, p, out):
    jobs = []
    for d in range(p["days"]):
        day = f"{out}/year=2024/month=12/day={d + 1:02d}"
        os.makedirs(day)
        lo, hi = T0_MS + d * DAY_MS, T0_MS + (d + 1) * DAY_MS
        jobs += [(f"ts_ms >= {lo} AND ts_ms < {hi} AND "
                  f"hash($seed, i, 5) % {p['files_per_day']} = {f}",
                  f"{day}/part-{f:05d}.json.gz") for f in range(p["files_per_day"])]
    # gzip is single-threaded per file: write four files at a time
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda j: _copy(con.cursor(), *j, compress=True), jobs))
    return f"{out}/year=*/month=*/day=*/*.json.gz"


def _write_slices(con, p, out):
    n, s = p["events"], p["slices"]
    os.makedirs(out)
    # lsn-range slices; about late_pct% of the events (never in the last
    # slice) land one slice late, so the stream's correction path runs
    con(f"""ALTER TABLE ev ADD COLUMN slice INTEGER;
      UPDATE ev SET slice = CASE WHEN i < 0 THEN CAST(floor({_u(9)} * {s}) AS INTEGER)
        ELSE CAST(i * {s} // {n} AS INTEGER) END;
      UPDATE ev SET slice = slice + 1
        WHERE i >= 0 AND slice < {s - 1} AND hash($seed, i, 7) % 100 < {p['late_pct']}""")
    for b in range(s):
        path = f"{out}/part-{b:05d}.json"
        _copy(con, f"slice = {b}", path, compress=False)
        # the file source replays in mtime order: one slice per trigger
        os.utime(path, (1700000000 + 60 * b, 1700000000 + 60 * b))
    return f"{out}/part-*.json"


def _answer(con, where):
    count, checksum = con(
        f"SELECT count(*), coalesce(sum({ROW_HASH}), 0) FROM hist WHERE {where}").fetchone()
    return [int(count), str(checksum)]


def _lookups(con, p, seed):
    """Alternating as-of point lookups and live key-range lookups."""
    rnd = random.Random(seed)
    span = p["days"] * DAY_MS
    out = []
    for j in range(p["lookups"]):
        if j % 2 == 0:
            q = {"kind": "asof", "id": int(p["keys"] * rnd.random() ** 2),
                 "ts_ms": T0_MS + rnd.randrange(span)}
            where = (f"id = {q['id']} AND row_valid_start_timestamp <= make_timestamp({q['ts_ms']} * 1000) "
                     f"AND make_timestamp({q['ts_ms']} * 1000) < row_valid_expiration_timestamp")
        else:
            lo = rnd.randrange(p["keys"] - p["range_keys"])
            q = {"kind": "live", "lo": lo, "hi": lo + p["range_keys"] - 1}
            where = (f"id BETWEEN {q['lo']} AND {q['hi']} AND "
                     f"row_valid_expiration_timestamp = TIMESTAMP '9999-01-01' AND "
                     f"({' OR '.join(a + ' IS NOT NULL' for a in ATTRS)})")
        q["expected"] = _answer(con, where)
        out.append(q)
    return out


def generate(workload, seed, dest):
    """Build inputs and expectations for (workload, seed) under ``dest``.

    ``expected.json`` is written last, so its presence marks a complete
    build; a partial directory from an interrupted run is rebuilt.
    """
    p = WORKLOADS[workload]
    if os.path.exists(f"{dest}/expected.json"):
        with open(f"{dest}/expected.json") as f:
            return json.load(f)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    duck = duckdb.connect()
    duck.execute("SET threads = 4; SET enable_progress_bar = false")
    con = _Seeded(duck, seed)

    con(_events_sql(p))
    exp = dict(zip(
        ("events", "input_lines", "keys", "live_keys"),
        map(int, con("""
          WITH last AS (SELECT id, arg_max(op, i) AS op FROM ev WHERE op IS NOT NULL GROUP BY id)
          SELECT (SELECT count(*) FROM ev WHERE op IS NOT NULL), (SELECT count(*) FROM ev),
                 count(*), count(*) FILTER (op <> 'd') FROM last""").fetchone())))
    if workload == "batch_rebuild":
        glob = _write_batch(con, p, f"{dest}/lake")
    else:
        glob = _write_slices(con, p, f"{dest}/slices")
    con("DROP TABLE ev")
    con(REFERENCE_SQL.format(glob=glob))
    exp["history_rows"], exp["history_checksum"] = _answer(con, "true")
    exp["current_rows"] = _answer(con, "row_valid_expiration_timestamp = TIMESTAMP '9999-01-01'")[0]
    exp["live_rows"] = _answer(con, "row_valid_expiration_timestamp = TIMESTAMP '9999-01-01' AND ("
                               + " OR ".join(a + " IS NOT NULL" for a in ATTRS) + ")")[0]
    if workload == "batch_rebuild":
        exp["lookups"] = _lookups(con, p, seed)
        with open(f"{dest}/lookups.tsv", "w") as f:
            for q in exp["lookups"]:
                args = (q["id"], q["ts_ms"]) if q["kind"] == "asof" else (q["lo"], q["hi"])
                f.write("\t".join(map(str, (q["kind"], *args))) + "\n")
    exp["params"] = p
    duck.close()
    with open(f"{dest}/expected.json.tmp", "w") as f:
        json.dump(exp, f)
    os.replace(f"{dest}/expected.json.tmp", f"{dest}/expected.json")
    return exp
