"""End-to-end view-DAG test (SURVEY §5 plan item 2): the six customer-360
views over dirty domain fixtures, DuckDB running the ported reference SQL
as oracle.
"""

from __future__ import annotations

import duckdb
import pytest

from automotive_data_pipeline_demo_spark.plans.views import build_view_dag
from tests import fixtures
from tests.oracle_harness import compare
from tests.reference_views_sql import ALL_VIEW_SQL

VIEWS = [
    "customer_profiles",
    "customer_vehicle_history",
    "customer_segments",
    "dealership_customer_profiles",
    "validated_vehicle_sales",
    "data_privacy_status",
]


@pytest.fixture(scope="module")
def domain_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("domain")
    return fixtures.write_fixtures(str(d))


@pytest.fixture(scope="module")
def spark_views(spark, domain_paths):
    cm = spark.read.parquet(domain_paths["customer_master"])
    vs = spark.read.parquet(domain_paths["vehicle_sales"])
    return build_view_dag(cm, vs, fixtures.AS_OF)


@pytest.fixture(scope="module")
def oracle_con(domain_paths):
    con = duckdb.connect()
    for name, path in domain_paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for sql_fn in ALL_VIEW_SQL:
        con.execute(sql_fn(fixtures.AS_OF))
    yield con
    con.close()


@pytest.fixture
def uncoalesced(spark):
    """Stages keep one task per shuffle partition (no AQE coalescing), so a
    view computed by several tasks, as over a merged multi-file lake, shows
    as several files per bucket even on the small fixtures."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("view", VIEWS)
def test_view_matches_reference_oracle(view, spark_views, oracle_con):
    spark_pdf = spark_views[view].toPandas()
    oracle_pdf = oracle_con.execute(f"SELECT * FROM {view}_o").fetchdf()
    assert len(spark_pdf) > 0, f"{view}: fixture produced no rows"
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{view}: " + "; ".join(problems)


def test_incremental_gold_refresh_matches_full_rebuild(spark, tmp_path):
    """Mutating a handful of customers and refreshing only their buckets
    must yield gold tables identical to a from-scratch rebuild — including
    a customer DELETION (the stale-partition case dynamic overwrite alone
    would miss) — while files in untouched buckets stay byte-identical."""
    import os

    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        full_build_gold,
        key_bucket,
        read_gold,
        refresh_gold,
    )
    from tests.fixtures import write_fixtures

    paths = write_fixtures(str(tmp_path))
    cm = spark.read.parquet(paths["customer_master"])
    vs = _single_customer_deals(spark.read.parquet(paths["vehicle_sales"]))
    as_of = "2025-06-01"
    gold = str(tmp_path / "gold")
    full_build_gold(spark, gold, cm, vs, as_of, n_buckets=8)

    # mutate: change one customer's email, soft-delete another, add a sale
    changed = ["C00001", "C00002", "C00003"]
    cm2 = cm.withColumn(
        "email",
        F.when(F.col("custno") == "C00001", F.lit("new@example.com"))
        .otherwise(F.col("email")),
    ).withColumn(
        "isdeleted",
        F.when(F.col("custno") == "C00002", F.lit(True))
        .otherwise(F.col("isdeleted")),
    )
    extra_sale = vs.filter(F.col("custno") == "C00003").limit(1).withColumn(
        "dealno", F.concat(F.col("dealno"), F.lit("_NEW"))
    )
    assert extra_sale.count() == 1
    vs2 = vs.unionByName(extra_sale)

    # snapshot untouched-bucket files before the refresh
    changed_b = {
        r["b"]
        for r in spark.createDataFrame([(c,) for c in changed], "custno string")
        .select(key_bucket("custno", 8).alias("b")).distinct().collect()
    }
    def files(view):
        d = f"{gold}/{view}"
        return {
            f"{kb}/{f}": os.path.getmtime(f"{d}/{kb}/{f}")
            for kb in os.listdir(d) if kb.startswith("__kb=")
            for f in os.listdir(f"{d}/{kb}") if f.endswith(".parquet")
        }
    before = files("customer_profiles")

    touched = refresh_gold(
        spark, gold, cm2, vs2, as_of,
        spark.createDataFrame([(c,) for c in changed], "custno string"),
        n_buckets=8,
    )
    assert changed_b <= set(touched)  # closure may widen to shared deals
    assert set(touched) != set(range(8))  # the sliced path ran

    after = files("customer_profiles")
    untouched_before = {k: v for k, v in before.items()
                        if int(k.split("=")[1].split("/")[0]) not in set(touched)}
    assert untouched_before
    assert untouched_before.items() <= after.items()  # bounded I/O

    # ground truth: full rebuild on the mutated sources
    gold_full = str(tmp_path / "gold_full")
    full_build_gold(spark, gold_full, cm2, vs2, as_of, n_buckets=8)
    _assert_gold_equal(spark, gold, gold_full)
    # the soft-deleted customer is really gone from the refreshed gold
    assert read_gold(spark, gold, "customer_profiles").filter(
        F.col("custno") == "C00002"
    ).count() == 0


def _py_bucket(custno, n=8):
    """Python twin of ``key_bucket``."""
    import hashlib

    h = int(hashlib.md5(f"gold_kb|{custno}".encode()).hexdigest()[:8], 16)
    return h % n


def _single_customer_deals(vs):
    """Keep only each deal's first customer's rows (the realistic DMS
    shape) so a planted deal is the ONLY cross-bucket bridge and the
    closure stays small — the raw fixture assigns custno per ROW, fusing
    the whole corpus into one giant component (which degrades a refresh
    to a full rebuild)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    first_cust = F.first("custno").over(
        W.partitionBy("dealno").orderBy("rowlastupdatedutc", "vin")
    )
    return vs.withColumn("__fc", first_cust).filter(
        F.col("custno") == F.col("__fc")
    ).drop("__fc")


def _cross_bucket_sources(spark, tmp_path):
    """Fixture sources with single-customer deals plus one planted deal
    ``DX-CROSS`` spanning two buckets: ``same_b`` (the changed key's
    bucket) owns its OLDER row, ``other_b`` (another bucket) its true
    latest-row survivor. The deal has nothing to do with the changed key.
    Returns (cm, vs, changed, same_b, other_b)."""
    from pyspark.sql import functions as F

    from tests.fixtures import write_fixtures

    changed = "C00001"
    same_b = next(f"C{i:05d}" for i in range(2, 221)
                  if _py_bucket(f"C{i:05d}") == _py_bucket(changed))
    other_b = next(f"C{i:05d}" for i in range(2, 221)
                   if _py_bucket(f"C{i:05d}") != _py_bucket(changed))

    paths = write_fixtures(str(tmp_path))
    cm = spark.read.parquet(paths["customer_master"])
    vs = _single_customer_deals(spark.read.parquet(paths["vehicle_sales"]))
    template = vs.limit(1)
    planted = template.select(
        *[
            F.lit("DX-CROSS").alias(c) if c == "dealno"
            else F.lit(None).cast(template.schema[c].dataType).alias(c)
            if c in ("custno",)
            else F.col(c)
            for c in vs.columns
        ]
    )
    row_a = planted.withColumn("custno", F.lit(same_b)).withColumn(
        "rowlastupdatedutc", F.expr("timestamp'2025-01-01 00:00:00'")
    )
    row_b = planted.withColumn("custno", F.lit(other_b)).withColumn(
        "rowlastupdatedutc", F.expr("timestamp'2025-03-01 00:00:00'")
    )
    return cm, vs.unionByName(row_a).unionByName(row_b), changed, same_b, other_b


def _assert_gold_equal(spark, gold, gold_full):
    from automotive_data_pipeline_demo_spark.plans.refresh import read_gold

    for view in VIEWS:
        inc = read_gold(spark, gold, view)
        full = read_gold(spark, gold_full, view)
        assert inc.count() == full.count(), view
        assert inc.exceptAll(full).count() == 0, view
        assert full.exceptAll(inc).count() == 0, view


def test_incremental_refresh_cross_bucket_deal(spark, tmp_path):
    """A deal spanning a refreshed and an unrefreshed bucket must keep its
    TRUE latest-row survivor: the recompute needs the deal's full row
    competition, and a survivor belonging to an untouched bucket must not
    be spuriously re-elected (or duplicated) inside the refreshed one."""
    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        full_build_gold,
        read_gold,
        refresh_gold,
    )

    cm, vs, changed, same_b, other_b = _cross_bucket_sources(spark, tmp_path)
    as_of = "2025-06-01"
    gold = str(tmp_path / "gold")
    full_build_gold(spark, gold, cm, vs, as_of, n_buckets=8)

    cm2 = cm.withColumn(
        "email",
        F.when(F.col("custno") == changed, F.lit("x@y.com"))
        .otherwise(F.col("email")),
    )
    refresh_gold(
        spark, gold, cm2, vs, as_of,
        spark.createDataFrame([(changed,)], "custno string"), n_buckets=8,
    )

    got = read_gold(spark, gold, "customer_vehicle_history").filter(
        F.col("deal_number") == "DX-CROSS"
    ).collect()
    assert len(got) == 1, got  # no duplicate, no missing row
    assert got[0]["custno"] == other_b  # the true survivor, not same_b


def test_incremental_refresh_cross_bucket_deal_marketable_customers(
    spark, tmp_path
):
    """The cross-bucket deal with BOTH customers marketable:
    validated_vehicle_sales keeps only marketable customers' rows before
    its deal dedup, so a refresh that read only the refreshed buckets'
    customers dropped the out-of-bucket survivor's row and re-elected the
    older in-bucket one — DX-CROSS then sat in two buckets. The sliced
    refresh must equal a full rebuild on all six tables."""
    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        full_build_gold,
        read_gold,
        refresh_gold,
    )

    cm, vs, changed, same_b, other_b = _cross_bucket_sources(spark, tmp_path)
    planted = F.col("custno").isin(same_b, other_b)
    for c, v in [("firstname", F.lit("Ann")), ("lastname", F.lit("Lee")),
                 ("email", F.concat(F.col("custno"), F.lit("@mail.org"))),
                 ("blockemail", F.lit(False)), ("optoutflag", F.lit(False)),
                 ("isdeleted", F.lit(False)), ("deletedataflag", F.lit(False))]:
        cm = cm.withColumn(
            c, F.when(planted, v.cast(cm.schema[c].dataType)).otherwise(F.col(c))
        )
    as_of = "2025-06-01"
    gold = str(tmp_path / "gold")
    full_build_gold(spark, gold, cm, vs, as_of, n_buckets=8)
    assert read_gold(spark, gold, "validated_vehicle_sales").filter(
        F.col("deal_number") == "DX-CROSS"
    ).select("custno").collect() == [(other_b,)]

    cm2 = cm.withColumn(
        "email",
        F.when(F.col("custno") == changed, F.lit("x@y.com"))
        .otherwise(F.col("email")),
    )
    touched = refresh_gold(
        spark, gold, cm2, vs, as_of,
        spark.createDataFrame([(changed,)], "custno string"), n_buckets=8,
    )
    assert touched == [_py_bucket(changed)]  # the sliced path ran

    got = read_gold(spark, gold, "validated_vehicle_sales").filter(
        F.col("deal_number") == "DX-CROSS"
    ).select("custno").collect()
    assert got == [(other_b,)], got
    gold_full = str(tmp_path / "gold_full")
    full_build_gold(spark, gold_full, cm2, vs, as_of, n_buckets=8)
    _assert_gold_equal(spark, gold, gold_full)


def test_refresh_every_bucket_is_full_build(spark, tmp_path, uncoalesced):
    """A delta whose keys cover every bucket is a full rebuild: the
    refresh returns every bucket id, leaves all six tables equal to a
    fresh full build on the new sources, and writes one file per bucket
    directory."""
    import os

    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        full_build_gold,
        refresh_gold,
    )
    from tests.fixtures import write_fixtures

    paths = write_fixtures(str(tmp_path))
    cm = spark.read.parquet(paths["customer_master"])
    vs = _single_customer_deals(spark.read.parquet(paths["vehicle_sales"]))
    as_of = "2025-06-01"
    gold = str(tmp_path / "gold")
    full_build_gold(spark, gold, cm, vs, as_of, n_buckets=2)

    changed = [next(f"C{i:05d}" for i in range(1, 221)
                    if _py_bucket(f"C{i:05d}", 2) == b) for b in (0, 1)]
    cm2 = cm.withColumn(
        "email",
        F.when(F.col("custno").isin(changed), F.lit("new@example.com"))
        .otherwise(F.col("email")),
    ).withColumn(
        "isdeleted",
        F.when(F.col("custno") == changed[0], F.lit(True))
        .otherwise(F.col("isdeleted")),
    )
    touched = refresh_gold(
        spark, gold, cm2, vs, as_of,
        spark.createDataFrame([(c,) for c in changed], "custno string"),
        n_buckets=2,
    )
    assert touched == [0, 1]
    gold_full = str(tmp_path / "gold_full")
    full_build_gold(spark, gold_full, cm2, vs, as_of, n_buckets=2)
    _assert_gold_equal(spark, gold, gold_full)
    for view in VIEWS:
        for kb in ("__kb=0", "__kb=1"):
            files = [f for f in os.listdir(f"{gold}/{view}/{kb}")
                     if f.endswith(".parquet")]
            assert len(files) == 1, (view, kb, files)


def test_detect_changed_keys_finds_all_mutation_kinds(spark):
    """Snapshot diff must flag updates, inserts, deletes, and row-count
    changes — and nothing else (order of rows within a key is ignored)."""
    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        detect_changed_keys,
    )

    old = spark.createDataFrame(
        [
            ("A", 1, "x"), ("A", 2, "y"),   # unchanged (reordered in new)
            ("B", 3, "z"),                  # value update
            ("C", 4, "w"),                  # deleted key
            ("D", 5, "v"),                  # row added in new
        ],
        "custno string, v int, s string",
    )
    new = spark.createDataFrame(
        [
            ("A", 2, "y"), ("A", 1, "x"),   # same set, different order
            ("B", 3, "Z"),
            ("D", 5, "v"), ("D", 6, "u"),
            ("E", 7, "t"),                  # inserted key
        ],
        "custno string, v int, s string",
    )
    got = {r["custno"] for r in detect_changed_keys(old, new).collect()}
    assert got == {"B", "C", "D", "E"}


def test_streaming_cdc_refresh_keeps_gold_fresh(spark, tmp_path):
    """A CDC stream of customer_master upserts, applied per micro-batch
    (merge into the current snapshot, then refresh_gold for the batch's
    keys), must leave the gold tables identical to a from-scratch rebuild
    on the final snapshot — the streaming twin of the incremental
    refresh."""
    import os

    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.plans.refresh import (
        full_build_gold,
        read_gold,
        refresh_gold,
    )
    from tests.fixtures import write_fixtures

    paths = write_fixtures(str(tmp_path))
    cm0 = spark.read.parquet(paths["customer_master"])
    vs = _single_customer_deals(spark.read.parquet(paths["vehicle_sales"]))
    vs_path = str(tmp_path / "vs_fixed")
    vs.write.parquet(vs_path)
    vs = spark.read.parquet(vs_path)

    as_of = "2025-06-01"
    gold = str(tmp_path / "gold")
    full_build_gold(spark, gold, cm0, vs, as_of, n_buckets=8)

    # pick customers that actually appear in the gold profiles
    present = [r["custno"] for r in read_gold(spark, gold, "customer_profiles")
               .select("custno").distinct().orderBy("custno").limit(2).collect()]
    upd_key, del_key = present

    # CDC feed: one file per micro-batch of upserted cm rows
    cdc = str(tmp_path / "cdc")
    os.makedirs(cdc)
    b1 = cm0.filter(F.col("custno") == upd_key).withColumn(
        "firstname", F.lit("Cdcname")
    )
    b2 = cm0.filter(F.col("custno") == del_key).withColumn(
        "isdeleted", F.lit(True)
    )
    b1.coalesce(1).write.parquet(f"{cdc}/b1")
    b2.coalesce(1).write.parquet(f"{cdc}/b2")

    snap = {"path": paths["customer_master"], "v": 0}

    def apply_cdc(batch_df, batch_id):
        keys = batch_df.select("custno").distinct()
        cur = spark.read.parquet(snap["path"])
        merged = cur.join(keys, "custno", "left_anti").unionByName(batch_df)
        snap["v"] += 1
        new_path = str(tmp_path / f"cm_v{snap['v']}")
        merged.write.parquet(new_path)
        snap["path"] = new_path
        refresh_gold(
            spark, gold, spark.read.parquet(new_path), vs, as_of, keys,
            n_buckets=8,
        )

    stream = (
        spark.readStream.schema(cm0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{cdc}/*")
    )
    q = stream.writeStream.foreachBatch(apply_cdc).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final_cm = spark.read.parquet(snap["path"])
    gold_full = str(tmp_path / "gold_full")
    full_build_gold(spark, gold_full, final_cm, vs, as_of, n_buckets=8)
    for view in ["customer_profiles", "customer_segments",
                 "data_privacy_status"]:
        inc = read_gold(spark, gold, view)
        full = read_gold(spark, gold_full, view)
        assert inc.exceptAll(full).count() == 0, view
        assert full.exceptAll(inc).count() == 0, view
    assert read_gold(spark, gold, "customer_profiles").filter(
        F.col("custno") == del_key
    ).count() == 0
    assert read_gold(spark, gold, "customer_profiles").filter(
        (F.col("custno") == upd_key) & (F.col("firstname") == "Cdcname")
    ).count() > 0
