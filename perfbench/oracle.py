"""Output checks against DuckDB, run after the driver process has exited
so they stay outside every timed region and outside its memory.

Batch: each query's first-run Arrow result against its registered oracle
SQL, compared with the repository's own checker
(`tools.check_correctness.compare`). Streaming: the final pane of every
closed (key, 60 s window) against a DuckDB aggregation of the events the
generator marked as accepted.
"""

from __future__ import annotations

import datetime as dt
import json
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def check_batch(data_dir: str, run_dir: str, queries, oracles: dict[str, str]) -> dict[str, str]:
    """Query name -> problem, for every query whose result is missing or
    differs from its oracle. Queries without an oracle must return rows."""
    import duckdb
    import pyarrow as pa

    from tools.check_correctness import compare

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        problems: dict[str, str] = {}
        for name in queries:
            path = os.path.join(run_dir, f"{name}.arrow")
            if not os.path.exists(path):
                problems[name] = "no result"
                continue
            with pa.memory_map(path) as src:
                tbl = pa.ipc.open_file(src).read_all()
            cols = tbl.column_names
            rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            sql = oracles.get(name)
            if sql is None:
                if not rows:
                    problems[name] = "zero rows and no oracle"
                continue
            cur = con.execute(sql)
            duck_cols = [d[0] for d in cur.description]
            issues, _ = compare(rows, cols, cur.fetchall(), duck_cols)
            if issues:
                problems[name] = "; ".join(issues)
        return problems
    finally:
        con.close()


def check_stream(run_dir: str, window_s: int, watermark_us: int) -> dict[int, str]:
    """Round index -> problem, for every round whose accepted events fall
    in a window whose final pane is missing, repeated or wrong. Only
    windows that ended at least a second before the final watermark must
    have closed; later ones are still open and are not checked."""
    import duckdb

    with open(os.path.join(run_dir, "panes.json")) as fh:
        panes = json.load(fh)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        accepted = os.path.join(run_dir, "accepted.parquet")
        want = {
            (k, ws): (n, total, rounds)
            for k, ws, n, total, rounds in con.execute(
                f"""
                SELECT key,
                       strftime(time_bucket(INTERVAL {window_s} SECOND,
                                            ts::TIMESTAMP), '%Y-%m-%dT%H:%M:%S'),
                       count(*), sum(value), list(DISTINCT round)
                FROM read_parquet('{accepted}')
                WHERE epoch_us(time_bucket(INTERVAL {window_s} SECOND, ts::TIMESTAMP))
                      + {window_s * 1_000_000} < {watermark_us - 1_000_000}
                GROUP BY 1, 2
                """
            ).fetchall()
        }
    finally:
        con.close()
    got: dict[tuple, list] = {}
    for p in panes:
        if p["is_last"]:
            got.setdefault((p["key"], p["window_start"][:19]), []).append(p)
    problems: dict[int, str] = {}
    for key, (n, total, rounds) in want.items():
        finals = got.get(key, [])
        if len(finals) != 1:
            msg = f"{key}: {len(finals)} final panes"
        elif finals[0]["n"] != n or finals[0]["total"] != total:
            msg = f"{key}: got n={finals[0]['n']} total={finals[0]['total']}, want {n} {total}"
        else:
            continue
        for r in rounds:
            problems.setdefault(r, msg)
    def closed(ws: str) -> bool:
        start = dt.datetime.fromisoformat(ws).replace(tzinfo=dt.timezone.utc)
        return (start.timestamp() + window_s) * 1_000_000 < watermark_us - 1_000_000

    extra = [k for k in got if k not in want and closed(k[1])]
    if extra:
        problems.setdefault(-1, f"{len(extra)} final panes for windows with no accepted event")
    return problems
