"""Multi-environment config layer: resolution, validation, session conf,
and CLI default injection (reference ``src/config/manager.py:23-52`` +
``base.py:11-140`` re-expressed as data-driven environments)."""

from __future__ import annotations

import json

import pytest

from bigdata_tag_system_spark.config import (
    EnvConfig,
    JdbcProfile,
    SparkProfile,
    StoreProfile,
    load_env,
    register_environment,
)


class TestResolution:
    def test_builtin_profiles(self):
        local = load_env("local")
        assert local.spark.shuffle_partitions == 32
        assert local.store.buckets == 0
        cluster = load_env("cluster")
        assert cluster.spark.master is None  # spark-submit decides
        assert cluster.store.buckets == 256  # bucketed store at scale

    def test_env_var_fallback(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_ENV", "cluster")
        assert load_env().name == "cluster"
        monkeypatch.delenv("SPARK_GRAFT_ENV")
        assert load_env().name == "local"

    def test_json_file_and_env_dir(self, tmp_path, monkeypatch):
        raw = {"spark": {"app_name": "stage-app", "shuffle_partitions": 8},
               "store": {"path": "/data/store", "buckets": 16,
                         "user_col": "uid"},
               "log_level": "ERROR"}
        p = tmp_path / "stage.json"
        p.write_text(json.dumps(raw))
        cfg = load_env(str(p))
        assert (cfg.name, cfg.spark.app_name) == ("stage", "stage-app")
        assert (cfg.store.buckets, cfg.store.user_col) == (16, "uid")
        # same file resolvable by name through $SPARK_GRAFT_ENV_DIR
        monkeypatch.setenv("SPARK_GRAFT_ENV_DIR", str(tmp_path))
        assert load_env("stage").log_level == "ERROR"

    def test_registered_env_and_unknown(self):
        register_environment(EnvConfig(
            name="embedded", spark=SparkProfile(app_name="emb")))
        assert load_env("embedded").spark.app_name == "emb"
        with pytest.raises(KeyError, match="embedded"):
            load_env("definitely-not-an-env")


class TestValidation:
    def test_bad_log_level_and_buckets(self):
        with pytest.raises(ValueError, match="log_level"):
            EnvConfig(name="x", log_level="NOPE").validate()
        with pytest.raises(ValueError, match="buckets"):
            EnvConfig(name="x", store=StoreProfile(buckets=-1)).validate()
        with pytest.raises(ValueError, match="url"):
            EnvConfig(name="x", jdbc=JdbcProfile(url="")).validate()

    def test_jdbc_credentials_from_env(self, monkeypatch):
        j = JdbcProfile(url="jdbc:mysql://h/db", user_env="T_U",
                        password_env="T_P", batch_size=500)
        assert j.connection_properties() == {"batchsize": "500"}
        monkeypatch.setenv("T_U", "alice")
        monkeypatch.setenv("T_P", "s3cret")
        props = j.connection_properties()
        assert props["user"] == "alice" and props["password"] == "s3cret"


class TestSessionAndCLI:
    def test_session_applies_profile_conf(self, spark):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            env = EnvConfig(name="t", spark=SparkProfile(
                shuffle_partitions=16,
                extra_conf={"spark.sql.autoBroadcastJoinThreshold": "1048576"}))
            s = env.session(app_name="conf-probe")
            assert s.conf.get("spark.sql.shuffle.partitions") == "16"
            assert s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1048576"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_session_writes_zstd_unless_profile_sets_codec(self, spark, tmp_path):
        # zstd is a session default, not an option: a profile's extra_conf
        # still wins over it, as over every other default
        from .conftest import parquet_codecs

        key = "spark.sql.parquet.compression.codec"
        before = spark.conf.get(key)
        try:
            for codec, extra in (("ZSTD", {}), ("SNAPPY", {key: "snappy"})):
                env = EnvConfig(name="t", spark=SparkProfile(extra_conf=extra))
                s = env.session(app_name="codec-probe")
                out = str(tmp_path / codec)
                s.range(100).selectExpr("id", "repeat('tag ', 20) AS reason") \
                    .write.parquet(out)
                assert parquet_codecs(out) == {codec}
        finally:
            # the suite shares one session
            spark.conf.set(key, before)

    def test_cli_env_supplies_defaults(self, spark, tmp_path):
        # an env JSON carrying store path + rules + bucket count replaces
        # --store/--rules/--store-buckets/--user-col on the command line
        from bigdata_tag_system_spark.cli import main

        from .conftest import AS_OF, EXPECTED, RULES, USERS, USER_SCHEMA

        facts = str(tmp_path / "facts")
        spark.createDataFrame(USERS, schema=USER_SCHEMA).write.parquet(facts)
        rules = str(tmp_path / "rules.json")
        with open(rules, "w") as fh:
            json.dump(RULES, fh)
        store = str(tmp_path / "store")
        envfile = tmp_path / "testenv.json"
        envfile.write_text(json.dumps({
            "spark": {"app_name": "cli-env-test"},
            "store": {"path": store, "rules_path": rules, "buckets": 4},
        }))

        rc = main(["--mode", "full", "--facts", facts,
                   "--env", str(envfile), "--as-of", AS_OF])
        assert rc == 0
        want: dict[str, set] = {}
        for tag, users in EXPECTED.items():
            for u in users:
                want.setdefault(u, set()).add(tag)
        got = {r["user_id"]: set(r["tag_ids"])
               for r in spark.read.parquet(store).collect()}
        assert got == want
        # bucketed layout came from the env (buckets=4): bucket id suffix
        # present in the store file names
        import os as _os

        assert any("_0000" in f for f in _os.listdir(store) if f.endswith(".parquet"))
        # explicit flag beats the env default
        out2 = str(tmp_path / "elsewhere")
        rc = main(["--mode", "full", "--facts", facts, "--env", str(envfile),
                   "--output", out2, "--as-of", AS_OF])
        assert rc == 0
        assert spark.read.parquet(out2).count() > 0
