"""JDBC polling-incremental source (SURVEY S1 option 2) — e2e against
embedded Derby, the JDBC database that ships inside Spark's own jars (no
external driver, no network). The invariant under test is the one that
makes polling a valid CDC substitute: **snapshot + incremental polls,
applied latest-row-wins, equals a fresh full read of the source table.**
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.operators.cdc import latest_state
from cdc_streaming_pipeline_spark.schemas import LSN_COL, OP_COL, TABLE_COL
from cdc_streaming_pipeline_spark.sources.jdbc import (
    DERBY_DRIVER,
    JdbcIncrementalSource,
    jdbc_reader,
)

BASE_TS = "2026-01-01 00:00:00"


@pytest.fixture()
def derby(spark, tmp_path):
    """A Derby database with a customer-shaped table and a raw-SQL handle
    for applying source-side mutations (the role Postgres plays in the
    reference, postgres/init/init.sql)."""
    url = f"jdbc:derby:{tmp_path}/cdc_src;create=true"
    rows = [
        (i, f"name_{i}", f"user{i}@example.com", BASE_TS) for i in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "id int, name string, email string, updated_at string")
    df = df.withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer")
        .option("driver", DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )

    def execute(sql: str) -> int:
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            return conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()

    return url, execute


def _current_state(events):
    return latest_state(events, key_cols=["id"], order_col=LSN_COL)


def test_snapshot_emits_cdc_envelope(spark, derby):
    url, _ = derby
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    snap = src.snapshot()
    assert snap.count() == 20
    assert {OP_COL, TABLE_COL, LSN_COL}.issubset(set(snap.columns))
    ops = [r[0] for r in snap.select(OP_COL).distinct().collect()]
    assert ops == ["r"]
    assert src.watermark is not None


def test_snapshot_plus_polls_equal_full_read(spark, derby):
    url, execute = derby
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    batches = [src.snapshot()]

    # source-side changes AFTER the snapshot: one update, one insert
    execute(
        'UPDATE customer SET "email" = \'new5@example.com\','
        ' "updated_at" = TIMESTAMP(\'2026-01-02 00:00:00\') WHERE "id" = 5'
    )
    execute(
        "INSERT INTO customer VALUES (21, 'name_21', 'user21@example.com',"
        " TIMESTAMP('2026-01-02 00:00:00'))"
    )
    poll1 = src.poll()
    assert poll1.count() == 2
    assert sorted(r[0] for r in poll1.select(OP_COL).distinct().collect()) == ["u"]
    batches.append(poll1)

    # a second wave, then an idle poll
    execute(
        'UPDATE customer SET "name" = \'renamed_1\','
        ' "updated_at" = TIMESTAMP(\'2026-01-03 00:00:00\') WHERE "id" = 1'
    )
    batches.append(src.poll())
    assert src.poll().count() == 0  # idle: watermark already caught up

    events = batches[0]
    for b in batches[1:]:
        events = events.unionByName(b)
    state = _current_state(events).select("id", "name", "email")
    truth = jdbc_reader(spark, url, "customer", driver=DERBY_DRIVER).select(
        "id", "name", "email"
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, truth.collect()))
    assert state.filter(F.col("id") == 5).collect()[0]["email"] == "new5@example.com"
    assert state.filter(F.col("id") == 1).collect()[0]["name"] == "renamed_1"


def test_lookback_rereads_are_idempotent(spark, derby):
    url, execute = derby
    src = JdbcIncrementalSource(
        spark, url, "customer", driver=DERBY_DRIVER, lookback_seconds=3600.0
    )
    snap = src.snapshot()
    execute(
        'UPDATE customer SET "updated_at" = TIMESTAMP(\'2026-01-02 00:00:00\')'
        ' WHERE "id" = 7'
    )
    p1 = src.poll()
    # lookback re-reads the tail of the snapshot window too — strictly more
    # rows than the single change, but latest-row-wins dedups exactly
    assert p1.count() >= 1
    state = _current_state(snap.unionByName(p1))
    assert state.count() == 20  # no duplicated keys from the overlap window


def test_soft_delete_rewrites_to_op_d(spark, derby):
    url, execute = derby
    execute('ALTER TABLE customer ADD COLUMN "is_deleted" BOOLEAN DEFAULT false')
    src = JdbcIncrementalSource(
        spark, url, "customer", driver=DERBY_DRIVER, soft_delete_col="is_deleted"
    )
    snap = src.snapshot()
    execute(
        'UPDATE customer SET "is_deleted" = true,'
        ' "updated_at" = TIMESTAMP(\'2026-01-02 00:00:00\') WHERE "id" = 3'
    )
    p1 = src.poll()
    assert [r[0] for r in p1.select(OP_COL).collect()] == ["d"]
    state = _current_state(snap.unionByName(p1))
    assert state.filter(F.col("id") == 3).count() == 0  # dropped like a CDC delete
    assert state.count() == 19


def test_partitioned_snapshot_matches_serial(spark, derby):
    url, _ = derby
    serial = jdbc_reader(spark, url, "customer", driver=DERBY_DRIVER)
    ranged = jdbc_reader(
        spark,
        url,
        "customer",
        driver=DERBY_DRIVER,
        partition_column="id",
        num_partitions=4,
    )
    assert ranged.rdd.getNumPartitions() == 4  # N parallel range queries
    assert sorted(map(tuple, ranged.select("id", "email").collect())) == sorted(
        map(tuple, serial.select("id", "email").collect())
    )


def test_watermark_filter_pushed_to_source(spark, derby):
    """The poll predicate must reach the remote WHERE clause (PushedFilters
    in the JDBC scan), not filter post-transfer — at 100 TB the delta is
    megabytes while the table is terabytes."""
    url, _ = derby
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    src.snapshot()
    polled = src._read().filter(
        F.col(src.watermark_col).cast("timestamp") > F.lit(src.watermark).cast("timestamp")
    )
    plan = polled._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "updated_at" in plan.split("PushedFilters:")[1][:200]


def test_jdbc_to_landing_to_latest_state_e2e(spark, derby, tmp_path):
    """Full S1-alt pipeline: JDBC snapshot+polls -> time-partitioned
    landing (P1) -> latest-state materialization (I1) == the source table.
    The same landing/materialization chain the Debezium-shaped path uses —
    proving the polling source is a drop-in capture stage for it."""
    from cdc_streaming_pipeline_spark.sources.event_log import write_event_log

    url, execute = derby
    landing = str(tmp_path / "landed")
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    write_event_log(src.snapshot(), landing, ts_col="updated_at")

    execute(
        'UPDATE customer SET "email" = \'moved@example.com\','
        ' "updated_at" = TIMESTAMP(\'2026-01-05 00:00:00\') WHERE "id" = 2'
    )
    execute(
        "INSERT INTO customer VALUES (22, 'name_22', 'user22@example.com',"
        " TIMESTAMP('2026-01-05 00:00:00'))"
    )
    write_event_log(src.poll(), landing, ts_col="updated_at")

    landed = spark.read.parquet(landing)
    state = latest_state(landed, key_cols=["id"], order_col=LSN_COL).select(
        "id", "name", "email"
    )
    truth = jdbc_reader(spark, url, "customer", driver=DERBY_DRIVER).select(
        "id", "name", "email"
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, truth.collect()))


def test_randomized_mutation_waves_converge(spark, derby):
    """Seeded random insert/update waves with polls interleaved: after any
    number of waves, snapshot+polls applied latest-row-wins must equal the
    live table. The property the watermark logic has to hold under
    arbitrary interleavings, not just the hand-written cases."""
    import random

    rng = random.Random(20260814)
    url, execute = derby
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    batches = [src.snapshot()]
    next_id = 23
    day = 6
    for _wave in range(4):
        for _ in range(rng.randint(1, 4)):
            ts = f"2026-01-{day:02d} 00:00:00"
            if rng.random() < 0.5:
                execute(
                    f"INSERT INTO customer VALUES ({next_id}, 'name_{next_id}',"
                    f" 'user{next_id}@example.com', TIMESTAMP('{ts}'))"
                )
                next_id += 1
            else:
                victim = rng.randint(1, 20)
                execute(
                    f'UPDATE customer SET "email" = \'w{day}_{victim}@example.com\','
                    f' "updated_at" = TIMESTAMP(\'{ts}\') WHERE "id" = {victim}'
                )
            day += 1
        batches.append(src.poll())

    events = batches[0]
    for b in batches[1:]:
        events = events.unionByName(b)
    state = _current_state(events).select("id", "name", "email")
    truth = jdbc_reader(spark, url, "customer", driver=DERBY_DRIVER).select(
        "id", "name", "email"
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, truth.collect()))


def test_federated_join_jdbc_with_parquet(spark, derby):
    """Hybrid-source federation: the JDBC snapshot joins a parquet-side
    frame in ONE Spark plan — the warehouse pattern of enriching landed
    parquet facts with an operational-DB dimension without an export hop.
    Pushdown check: the JDBC scan must carry the id predicate (JDBC
    relation PushedFilters), not filter on the Spark side."""
    url, _ = derby
    dim = jdbc_reader(
        spark, url, "customer", driver=DERBY_DRIVER, partition_column="id", num_partitions=2
    ).filter(F.col("id") <= 10)
    facts = spark.createDataFrame(
        [(i, i * 10.0) for i in range(1, 21)], "cust_id int, amount double"
    )
    out = facts.join(dim, facts["cust_id"] == dim["id"]).select("cust_id", "name", "amount")
    rows = {r.cust_id: r.name for r in out.collect()}
    assert rows == {i: f"name_{i}" for i in range(1, 11)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(id,10)" in plan.replace('"', "")


def test_polled_batches_are_held_within_the_keep_cap(spark, derby, monkeypatch):
    """A poller that runs forever must not accumulate one cached frame per
    poll: every polled batch goes through the bounded ``tables.keep``."""
    from pyspark import StorageLevel

    from cdc_streaming_pipeline_spark.sources import tables

    url, execute = derby
    cap = 2
    monkeypatch.setattr(tables, "KEEP_MAX", cap, raising=False)
    polled = []
    advance = JdbcIncrementalSource._advance

    def recording(self, df):
        out = advance(self, df)
        polled.append(out)
        return out

    monkeypatch.setattr(JdbcIncrementalSource, "_advance", recording)
    src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    src.snapshot()
    for i in range(cap + 3):
        execute(
            f"INSERT INTO customer VALUES ({100 + i}, 'name_{100 + i}', 'x@example.com',"
            f" TIMESTAMP('2026-02-{i + 1:02d} 00:00:00'))"
        )
        assert src.poll().count() == 1
    cached = [b for b in polled if b.storageLevel != StorageLevel.NONE]
    assert len(polled) == cap + 4
    assert len(cached) <= cap
