from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # smaller JVM for unit tests


@pytest.fixture(scope="session")
def spark():
    from bigdata_tag_system_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Golden fixture: 5 users × 7 rules with expected hits, re-derived from the
# reference's tests/fixtures/sample_data.py:13-341 (data values re-specified
# here, not copied — only the *expected semantics* match).
# ---------------------------------------------------------------------------

USERS = [
    # user_id, age, total_asset_value, cash_balance, trade_count_30d,
    # login_count_30d, user_level, kyc_status, last_login_date
    ("user_001", 35, 150000.0, 50000.0, 25, 28, "VIP3", "verified", "2024-07-12"),
    ("user_002", 28, 50000.0, 20000.0, 5, 10, "VIP1", "verified", "2024-07-01"),
    # NB: user_003 deliberately NOT VIP2/VIP3 so rules 2 and 7 both exclude it
    # (the reference's own fixture is inconsistent here: its data satisfies its
    # rule 7 for user_003 yet its expected output excludes it — sample_data.py)
    ("user_003", 45, 300000.0, 150000.0, 15, 22, "VIP1", "pending", "2024-07-11"),
    ("user_004", 52, 80000.0, 30000.0, 8, 5, "VIP1", "verified", "2024-06-20"),
    ("user_005", 38, 500000.0, 200000.0, 30, 25, "VIP3", "verified", "2024-07-13"),
]

USER_SCHEMA = (
    "user_id string, age int, total_asset_value double, cash_balance double, "
    "trade_count_30d int, login_count_30d int, user_level string, "
    "kyc_status string, last_login_date string"
)

RULES = [
    {"rule_id": 1, "tag_id": 1, "tag_name": "high_net_worth", "tag_category": "asset",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "total_asset_value", "operator": ">=", "value": 100000, "type": "number"}]}},
    {"rule_id": 2, "tag_id": 2, "tag_name": "vip_verified", "tag_category": "level",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "user_level", "operator": "in", "value": ["VIP2", "VIP3"], "type": "string"},
         {"field": "kyc_status", "operator": "=", "value": "verified", "type": "string"}]}},
    {"rule_id": 3, "tag_id": 3, "tag_name": "active_trader", "tag_category": "activity",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "trade_count_30d", "operator": ">", "value": 10, "type": "number"}]}},
    {"rule_id": 4, "tag_id": 4, "tag_name": "cash_rich", "tag_category": "asset",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "cash_balance", "operator": ">=", "value": 100000, "type": "number"}]}},
    {"rule_id": 5, "tag_id": 5, "tag_name": "young_user", "tag_category": "demography",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "age", "operator": "in_range", "value": [18, 30], "type": "number"}]}},
    {"rule_id": 6, "tag_id": 6, "tag_name": "recently_active", "tag_category": "activity",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "last_login_date", "operator": "recent_days", "value": 7, "type": "date"}]}},
    {"rule_id": 7, "tag_id": 7, "tag_name": "compound_vip", "tag_category": "composite",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "total_asset_value", "operator": ">=", "value": 100000, "type": "number"},
         {"field": "user_level", "operator": "in", "value": ["VIP2", "VIP3"], "type": "string"},
         {"logic": "OR", "conditions": [
             {"field": "trade_count_30d", "operator": ">=", "value": 10, "type": "number"},
             {"field": "login_count_30d", "operator": ">=", "value": 20, "type": "number"}]}]}},
]

# expected hits per tag at as-of 2024-07-13 (FIXTURES.md §4)
EXPECTED = {
    1: {"user_001", "user_003", "user_005"},
    2: {"user_001", "user_005"},
    3: {"user_001", "user_003", "user_005"},
    4: {"user_003", "user_005"},
    5: {"user_002"},
    6: {"user_001", "user_003", "user_005"},
    7: {"user_001", "user_005"},
}

AS_OF = "2024-07-13"


@pytest.fixture(scope="session")
def users_df(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(USERS, schema=USER_SCHEMA)
    return df.withColumn("last_login_date", F.to_date("last_login_date"))


@pytest.fixture(scope="session")
def golden_rules():
    from bigdata_tag_system_spark.rules.model import load_rules

    return load_rules(RULES)


def parquet_codecs(path) -> set[str]:
    """The codec of every column chunk of every parquet file under
    ``path``, as ``pyarrow.parquet`` reports it (``"ZSTD"``, ...)."""
    import pyarrow.parquet as pq

    codecs = set()
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                meta = pq.read_metadata(os.path.join(root, name))
                codecs |= {meta.row_group(g).column(c).compression
                           for g in range(meta.num_row_groups)
                           for c in range(meta.num_columns)}
    return codecs
