"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The end-to-end test runs two tiny workloads (sf0.001 tables, a stream of
a few hundred events) through real driver processes; the rest are fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import eventlog  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS, Workload  # noqa: E402

TINY_BATCH = Workload(
    name="tiny_batch",
    why="self-test",
    queries=("q1_pricing_summary", "jpeg_image_features"),
    sizes=datagen.TableSizes(sf=0.001, documents=40, embeddings=40),
    tables=("lineitem", "documents"),
    probe_decoders=True,
)
TINY_STREAM = Workload(
    name="tiny_stream",
    why="self-test",
    stream=datagen.StreamShape(events_per_round=200, keys=5, warm_rounds=3),
)


# ------------------------------------------------------------ end to end


@pytest.mark.parametrize("wl", [TINY_BATCH, TINY_STREAM], ids=lambda w: w.name)
def test_every_end_to_end_metric_is_printed_with_its_unit(wl):
    art = run.run_workload(wl, seed=7, seconds=0.1, trace=False)
    text = run.report(art)
    lines = text.splitlines()
    for name, unit, _ in END_TO_END:
        value = art["end_to_end"][name]
        assert value > 0, name
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)
    assert any(line.startswith("error_rate 0 ratio") for line in lines)
    if wl.stream:
        assert art["raw"]["n_rounds"] == 1 + wl.stream.warm_rounds
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {n for n, *_ in END_TO_END}


def test_traced_run_separates_layers():
    art = run.run_workload(TINY_BATCH, seed=7, seconds=0.1, trace=True)
    layers = art["per_layer"]
    own = {f"query.{q}.{phase}_s" for q in TINY_BATCH.queries for phase in ("first", "warm")}
    assert set(layers) == {n for n, *_ in PER_LAYER} | own
    assert layers["operators.tasks"] > 0
    assert layers["arrow.python_rows"] > 0  # the JPEG decode runs in Python
    assert layers["pins.count"] >= 1  # the JPEG corpus is pinned
    assert layers["functions.decode_jpeg_us"] > 0
    assert layers["streaming.input_rows"] == 0
    probe = art["raw"]["collect_probe"]
    assert set(probe) == set(TINY_BATCH.queries)
    assert all(p["fetch_s"] > 0 and p["execute_s"] > 0 for p in probe.values())
    groups = art["event_log_groups"]
    assert "tiny_batch/q1_pricing_summary/first" in groups
    assert "tiny_batch/jpeg_image_features/warm" in groups
    # the relational query has no Python exec node
    q1 = [g for gid, g in groups.items() if "/q1_pricing_summary/" in gid]
    assert sum(g["python_rows"] for g in q1) == 0


# ------------------------------------------------------------ correctness


def _oracle_run_dir(tmp_path, data_dir, name, perturb):
    """Write the DuckDB oracle's own answer as the query's result,
    optionally with one value changed."""
    import duckdb
    import pyarrow as pa

    from dataflowjavasdk_spark.queries import all_oracles

    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    tbl = con.execute(all_oracles()[name]).fetch_arrow_table()
    con.close()
    if perturb:
        col = tbl.column("sum_qty").to_pylist()
        col[0] += 1
        tbl = tbl.set_column(tbl.column_names.index("sum_qty"), "sum_qty", pa.array(col))
    run_dir = tmp_path / ("bad" if perturb else "good")
    run_dir.mkdir()
    with pa.OSFile(str(run_dir / f"{name}.arrow"), "wb") as sink:
        with pa.ipc.new_file(sink, tbl.schema) as w:
            w.write_table(tbl)
    return str(run_dir)


def test_perturbed_result_counts_as_failed_op(tmp_path):
    from dataflowjavasdk_spark.queries import all_oracles

    data_dir = datagen.write_tables(datagen.TableSizes(sf=0.001, documents=40, embeddings=40), 3,
                                     str(tmp_path / "data"))
    name = "q1_pricing_summary"
    wl = Workload(name="w", why="", queries=(name,))
    res = {"warm_ops": 4, "warm_failed": 0}
    for perturb, want_failed in ((False, 0), (True, 1)):
        run_dir = _oracle_run_dir(tmp_path, data_dir, name, perturb)
        problems = oracle.check_batch(data_dir, run_dir, [name], all_oracles())
        assert run.tally(wl, res, problems) == (5, want_failed)
    assert "differing cells" in problems[name]


def test_stream_check_flags_a_wrong_final_pane(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen = datagen.StreamGenerator(5, datagen.StreamShape(events_per_round=300, keys=3))
    tables = []
    for r in range(6):
        tbl, acc = gen.next_round()
        tables.append(tbl.filter(pa.array(acc)).append_column(
            "round", pa.array([r] * int(acc.sum()), pa.int32())))
    accepted = pa.concat_tables(tables)
    pq.write_table(accepted, str(tmp_path / "accepted.parquet"))
    import datetime as dt

    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    rows = con.execute(
        f"SELECT key, strftime(time_bucket(INTERVAL 60 SECOND, ts::TIMESTAMP), "
        f"'%Y-%m-%dT%H:%M:%S') ws, count(*) n, sum(value) total "
        f"FROM read_parquet('{tmp_path / 'accepted.parquet'}') GROUP BY 1, 2"
    ).fetchall()
    con.close()
    panes = [{"key": k, "window_start": ws, "n": n, "total": t, "is_last": True,
              "pane_timing": "ON_TIME"} for k, ws, n, t in rows]
    (tmp_path / "panes.json").write_text(json.dumps(panes))
    assert oracle.check_stream(str(tmp_path), 60, gen.watermark_us) == {}

    def end_us(p):
        start = dt.datetime.fromisoformat(p["window_start"]).replace(tzinfo=dt.timezone.utc)
        return (start.timestamp() + 60) * 1_000_000

    closed = [p for p in panes if end_us(p) < gen.watermark_us - 1_000_000]
    closed[0]["n"] -= 1
    (tmp_path / "panes.json").write_text(json.dumps(panes))
    assert oracle.check_stream(str(tmp_path), 60, gen.watermark_us)


# ------------------------------------------------------------ event log


def test_event_log_parser_attributes_tasks_to_job_groups():
    def task(stage, run_ms, py_rows=None):
        acc = [{"ID": 7, "Name": "number of output rows", "Update": str(py_rows)}] if py_rows else []
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**6,
                                 "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": 50}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w/a/first"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "MapInPandas", "children": [],
                           "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}},
        task(0, 5), task(1, 7, py_rows=3),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "w/b/warm"}},
        task(2, 11), task(2, 13),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(3, 1),
    ]
    groups = eventlog.parse(json.dumps(e) for e in events)
    assert groups["w/a/first"]["tasks"] == 2
    assert groups["w/a/first"]["run_ms"] == 12
    assert groups["w/a/first"]["stages"] == 1
    assert groups["w/a/first"]["python_rows"] == 3
    assert groups["w/a/first"]["shuffle_read_bytes"] == 100
    assert groups["w/b/warm"]["tasks"] == 2 and groups["w/b/warm"]["run_ms"] == 24
    assert groups["w/b/warm"]["python_rows"] == 0
    assert groups[""]["tasks"] == 1
    assert eventlog.rollup(groups, "warm")["run_ms"] == 24


# ------------------------------------------------------------ inputs and config


def test_generated_tables_are_seeded_and_keep_fixture_schemas():
    sizes = datagen.TableSizes(sf=0.001, documents=30, embeddings=30)
    a, b, c = (datagen.generate_tables(sizes, s) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_stream_generator_marks_late_events():
    gen = datagen.StreamGenerator(3)
    late = 0
    for r in range(5):
        before = gen.max_ts_us
        tbl, acc = gen.next_round()
        ts = tbl.column("ts").cast("int64").to_numpy()
        if before is not None:
            wm = before - datagen.DELAY_S * 1_000_000
            assert (ts[acc] >= wm + 5_000_000).all()  # accepted: clear of the watermark
            assert (ts[~acc] < wm - 59_000_000).all()  # dropped: far behind it
        late += int((~acc).sum())
    assert late > 0


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, *_ in PER_LAYER
    ]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
