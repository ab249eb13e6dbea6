"""Scale-behavior tests: the runtime mechanisms SCALE.md promises —
AQE skew-join splitting (the dynamic-work-rebalancing stand-in) and
partition-pruned reads — demonstrated on data shaped to trigger them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def skew_confs(spark):
    """Shrink AQE's skew thresholds so local-size data exhibits the same
    runtime re-planning a hot key triggers at cluster scale."""
    saved = {}
    wanted = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in wanted.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(skew_confs):
    """One key owns ~90% of the fact rows. AQE must mark the sort-merge
    join skewed and split the hot partition instead of letting one task
    carry it — visible as isSkew=true in the final adaptive plan."""
    spark = skew_confs
    fact = spark.range(0, 200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("payload_"), F.col("id")).alias("payload"),
    )
    dim = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    )
    joined = fact.join(dim, "k").select(F.count(F.lit(1)).alias("n"))
    assert joined.collect()[0]["n"] == 200_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan and "skewed" in plan, plan


def test_partition_pruned_read(spark, tmp_path_factory):
    """Hive-partitioned parquet (FileBasedSink-per-window analog on the
    READ side): a filter on the partition column must prune at planning
    time — the scan lists only matching directories, so at 100 TB a
    one-day query touches one day of files."""
    base = str(tmp_path_factory.mktemp("pp")) + "/t"
    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("day"), F.col("id").alias("v")
    )
    df.write.mode("overwrite").partitionBy("day").parquet(base)

    read = spark.read.parquet(base).filter(F.col("day") == 3).select("v")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # The day predicate must land in PartitionFilters (directory pruning),
    # NOT PushedFilters (row-group skipping inside files already opened).
    assert "PartitionFilters" in plan and "= 3)" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert read.count() == 100


def test_parquet_schema_evolution_merge(spark, tmp_path_factory):
    """Long-lived 100 TB tables evolve: day-1 files lack a column day-2
    files carry. mergeSchema reads both vintages as one relation (missing
    column → NULL), and the new column still prunes/pushes on the new
    files — no rewrite of old data."""
    base = str(tmp_path_factory.mktemp("evo")) + "/t"
    spark.createDataFrame([(1, "a")], "id int, s string").write.parquet(base + "/d=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, s string, score double"
    ).write.parquet(base + "/d=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    rows = {(r.id, r.s, r.score) for r in merged.select("id", "s", "score").collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}

    filtered = merged.filter(F.col("score") > 5.0).select("id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(score), GreaterThan(score,5.0)]" in plan, plan
    assert [r.id for r in filtered.collect()] == [2]


def test_range_partitioned_sorted_write(spark, tmp_path_factory):
    """Globally sorted output at scale: repartitionByRange gives disjoint
    key ranges per task, sortWithinPartitions orders inside each — files
    are non-overlapping sorted runs (a downstream consumer merge-reads
    them without a global sort). TotalOrderPartitioner, the Spark way."""
    base = str(tmp_path_factory.mktemp("rpw")) + "/t"
    df = spark.range(0, 10_000).select(
        (F.hash("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    (
        df.repartitionByRange(8, "k")
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .parquet(base)
    )
    import os

    files = [
        os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")
    ]
    assert len(files) >= 4
    ranges = []
    for f in files:
        pf = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if pf["n"]:
            ranges.append((pf["lo"], pf["hi"]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # Round trip: nothing lost.
    assert spark.read.parquet(base).count() == 10_000


def test_bzip2_reread_splits_beyond_file_count(spark, tmp_path_factory):
    """Splittable-codec contract behind bzip2_json_roundtrip_checksum:
    ONE .bz2 archive re-reads as MULTIPLE input partitions once the file
    exceeds maxPartitionBytes (block-compressed codecs decouple read
    parallelism from writer sharding), while the same data as ONE .gz
    stays a single task no matter the split size — the reason gzip at
    100 TB demands many writer shards and bzip2 does not."""
    import pyspark.sql.functions as F

    d = tmp_path_factory.mktemp("codec_split")
    rows = spark.range(60_000).select(
        "id", F.repeat(F.lit("payload-abcdefghij "), 20).alias("pad")
    )
    gz, bz = str(d / "gz"), str(d / "bz")
    rows.coalesce(1).write.option("compression", "gzip").json(gz)
    rows.coalesce(1).write.option("compression", "bzip2").json(bz)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        schema = "id long, pad string"
        bz_parts = spark.read.schema(schema).json(bz).rdd.getNumPartitions()
        gz_parts = spark.read.schema(schema).json(gz).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert bz_parts > 1, f"bzip2 should split one archive ({bz_parts})"
    # gzip: the planner may create byte-range splits, but a non-splittable
    # codec collapses them — count rows per partition instead: every row
    # of the .gz lands in one partition.
    gz_df = spark.read.schema(schema).json(gz)
    per_part = gz_df.withColumn(
        "p", F.spark_partition_id()
    ).groupBy("p").count().collect()
    nonempty = [r for r in per_part if r["count"] > 0]
    assert len(nonempty) == 1, f"gzip archive must decode in one task: {per_part}"
    assert gz_parts >= 1  # planner partition count is irrelevant for gzip


def test_scratch_sweep_removes_dead_pid_roots(tmp_path, monkeypatch):
    """ADVICE r7: SIGKILLed runs leak /tmp scratch roots (atexit never
    fires, pid names never reused) — scratch root creation must sweep
    siblings whose pid is gone, and only those."""
    import os
    import subprocess

    from dataflowjavasdk_spark import session as S

    # A pid guaranteed recently dead: spawn a trivial child and reap it
    # (hard-coding a "dead" number is flaky — kernel.pid_max can exceed
    # any constant and the number may be live on a busy host).
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead = f"/tmp/spark_graft_scratch_{proc.pid}"
    alive = f"/tmp/spark_graft_scratch_{os.getpid()}"
    notpid = "/tmp/spark_graft_scratch_xyz"
    os.makedirs(os.path.join(dead, "shard"), exist_ok=True)
    alive_preexisting = os.path.exists(alive)
    os.makedirs(alive, exist_ok=True)
    os.makedirs(notpid, exist_ok=True)
    try:
        S._sweep_dead_scratch_roots()
        assert not os.path.exists(dead)
        assert os.path.exists(notpid)  # malformed suffix: untouched
        assert os.path.exists(alive)  # own (live) root never swept
    finally:
        import shutil

        cleanup = [dead, notpid] + ([] if alive_preexisting else [alive])
        for p in cleanup:
            shutil.rmtree(p, ignore_errors=True)


def test_decode_fanout_scales_with_input(spark, monkeypatch):
    """decode_fanout derives the decode-stage partition count from the
    table's parquet row count: floor 1 at tiny inputs, ~rows/2048 in the
    middle, capped at 4x defaultParallelism — and a caller's
    rows_per_task sets the divisor (round-10 scale-adaptive fan-out)."""
    from dataflowjavasdk_spark.sources import tables as TB

    cores = spark.sparkContext.defaultParallelism

    def fake_rows(sf_dir, name):
        return {"tiny": 10, "mid": 10 * 2048, "huge": 10**9}[sf_dir]

    monkeypatch.setattr(TB, "table_row_count", fake_rows)
    assert TB.decode_fanout(spark, "tiny") == 1
    assert TB.decode_fanout(spark, "mid") == min(4 * cores, 10)
    assert TB.decode_fanout(spark, "huge") == 4 * cores
    assert TB.decode_fanout(spark, "mid", rows_per_task=10240) == min(4 * cores, 2)


def test_arrow_byte_cap_env_optin(monkeypatch):
    """SPARK_GRAFT_ARROW_MAX_BYTES (round-10 queue item): unset, the
    session must NOT override Spark's own Arrow byte cap (the driver's
    bench measures the stock boundary); set, the runtime-conf map must
    carry it through. Pure module-reload test — no session built."""
    import importlib

    import dataflowjavasdk_spark.session as sess

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    monkeypatch.delenv("SPARK_GRAFT_ARROW_MAX_BYTES", raising=False)
    importlib.reload(sess)
    assert key not in sess._RUNTIME_CONFS
    monkeypatch.setenv("SPARK_GRAFT_ARROW_MAX_BYTES", "16777216")
    importlib.reload(sess)
    assert sess._RUNTIME_CONFS[key] == "16777216"
    # restore the import-time state for the rest of the suite
    monkeypatch.delenv("SPARK_GRAFT_ARROW_MAX_BYTES", raising=False)
    importlib.reload(sess)
