"""Secrets manager tests (DuckDB secrets analog;
admin_command_gating.md:54-55): CREATE/DROP SECRET execution, the
admin-only engine_secrets() listing with masked material, scope-based
lookup, Hadoop-conf application for object stores, and persistent
secrets surviving an engine restart."""

from __future__ import annotations

import pytest

from gizmosql_spark.engine import Engine
from gizmosql_spark.secrets import SecretsManager, parse_secret_ddl
from gizmosql_spark.security import CommandDenied


@pytest.fixture()
def engine(spark):
    return Engine(spark=spark)


def test_parse_create_variants():
    kind, s, replace = parse_secret_ddl(
        "CREATE OR REPLACE SECRET s1 (TYPE S3, KEY_ID 'AKIA1',"
        " SECRET 'shh', REGION 'us-east-1', SCOPE 's3://bkt/pre')")
    assert kind == "create" and replace
    assert s.type == "s3" and s.scope == "s3://bkt/pre"
    assert s.options["key_id"] == "AKIA1"
    assert not s.persistent

    kind, s, replace = parse_secret_ddl(
        "CREATE PERSISTENT SECRET p1 (TYPE gcs, KEY_ID 'k',"
        " SECRET 'v')")
    assert s.persistent and not replace
    assert parse_secret_ddl("SELECT 1") is None
    assert parse_secret_ddl("DROP SECRET IF EXISTS s9") == (
        "drop", "s9", True)


def test_create_list_drop_end_to_end(engine):
    sid = engine.create_session(role="admin")
    engine.execute_sql(
        sid,
        "CREATE SECRET sec_a (TYPE S3, KEY_ID 'AKIAX', SECRET 'topsecret',"
        " SCOPE 's3://bucket-a')")
    rows = engine.collect(sid, engine.execute_sql(
        sid, "SELECT * FROM engine_secrets() ORDER BY name"))
    assert [r["name"] for r in rows] == ["sec_a"]
    assert rows[0]["type"] == "s3" and rows[0]["scope"] == "s3://bucket-a"
    # raw material is masked, never listed
    assert "topsecret" not in rows[0]["options"]
    assert "AKIAX" not in rows[0]["options"]
    assert "[REDACTED]" in rows[0]["options"]

    # duplicate without OR REPLACE fails; with it succeeds
    with pytest.raises(Exception):
        engine.execute_sql(
            sid, "CREATE SECRET sec_a (TYPE S3, KEY_ID 'x', SECRET 'y')")
    engine.execute_sql(
        sid, "CREATE OR REPLACE SECRET sec_a (TYPE gcs, KEY_ID 'x',"
             " SECRET 'y')")
    rows = engine.collect(sid, engine.execute_sql(
        sid, "SELECT type FROM engine_secrets()"))
    assert rows[0]["type"] == "gcs"

    engine.execute_sql(sid, "DROP SECRET sec_a")
    rows = engine.collect(sid, engine.execute_sql(
        sid, "SELECT count(*) AS n FROM engine_secrets()"))
    assert rows[0]["n"] == 0
    engine.close_session(sid)


def test_non_admin_denied(engine):
    sid = engine.create_session(role="user")
    with pytest.raises(CommandDenied):
        engine.execute_sql(
            sid, "CREATE SECRET s (TYPE S3, KEY_ID 'a', SECRET 'b')")
    with pytest.raises(CommandDenied):
        engine.execute_sql(sid, "SELECT * FROM engine_secrets()")
    engine.close_session(sid)


def test_scope_longest_prefix_lookup():
    m = SecretsManager()
    from gizmosql_spark.secrets import Secret

    m.create(Secret("broad", "s3", {"key_id": "K1"}, scope="s3://b"))
    m.create(Secret("narrow", "s3", {"key_id": "K2"}, scope="s3://b/x"))
    m.create(Secret("unscoped", "s3", {"key_id": "K3"}))
    assert m.lookup("s3://b/x/file.parquet").name == "narrow"
    assert m.lookup("s3://b/other").name == "broad"
    assert m.lookup("gs://elsewhere").name == "unscoped"


def test_apply_sets_bucket_scoped_hadoop_conf(spark):
    m = SecretsManager()
    from gizmosql_spark.secrets import Secret

    m.create(Secret("bkt", "s3",
                    {"key_id": "AK", "secret": "SK",
                     "endpoint": "minio.local:9000", "url_style": "path"},
                    scope="s3://demo-bucket"))
    s = m.apply_for_path(spark, "s3://demo-bucket/part.parquet")
    assert s.name == "bkt"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.bucket.demo-bucket.access.key") == "AK"
    assert conf.get("fs.s3a.bucket.demo-bucket.secret.key") == "SK"
    assert conf.get("fs.s3a.bucket.demo-bucket.endpoint") == "minio.local:9000"
    assert conf.get("fs.s3a.bucket.demo-bucket.path.style.access") == "true"


def test_persistent_secret_survives_restart(engine, spark):
    sid = engine.create_session(role="admin")
    engine.execute_sql(sid, "DROP SECRET IF EXISTS persist_me")
    engine.execute_sql(
        sid,
        "CREATE OR REPLACE PERSISTENT SECRET persist_me"
        " (TYPE azure, ACCOUNT_NAME 'acct', ACCOUNT_KEY 'zzz')")
    engine.close_session(sid)

    eng2 = Engine(spark=spark)  # fresh engine, same warehouse
    sid2 = eng2.create_session(role="admin")
    rows = eng2.collect(sid2, eng2.execute_sql(
        sid2, "SELECT name, persistent, options FROM engine_secrets()"
              " WHERE name = 'persist_me'"))
    assert len(rows) == 1 and rows[0]["persistent"]
    assert "zzz" not in rows[0]["options"]
    eng2.execute_sql(sid2, "DROP SECRET persist_me")
    eng2.close_session(sid2)


@pytest.mark.parametrize("role", ["user", "readonly"])
@pytest.mark.parametrize("sql", [
    "CREATE TEMPORARY SECRET u2 (TYPE s3, KEY_ID 'k', SECRET 's',"
    " SCOPE 's3://corp')",
    "CREATE TEMP SECRET u3 (TYPE s3, KEY_ID 'k', SECRET 's')",
    "CREATE OR REPLACE TEMPORARY SECRET adm (TYPE s3, KEY_ID 'k',"
    " SECRET 's')",
    "DROP TEMPORARY SECRET adm",
    "DROP PERSISTENT SECRET adm",
])
def test_every_secret_ddl_form_is_admin_only(engine, role, sql):
    """Every TEMP/TEMPORARY/PERSISTENT form the secret parser reads is
    gated as the plain form is: a non-admin neither adds credentials
    for every session's reads nor drops an admin's secret."""
    admin = engine.create_session(role="admin")
    engine.execute_sql(
        admin, "CREATE OR REPLACE SECRET adm (TYPE s3, KEY_ID 'a',"
               " SECRET 'b', SCOPE 's3://corp')")
    before = engine.secrets.listing()
    sid = engine.create_session(role=role)
    try:
        with pytest.raises(CommandDenied):
            engine.execute_sql(sid, sql)
        assert engine.secrets.listing() == before
    finally:
        engine.close_session(sid)
        engine.execute_sql(admin, "DROP SECRET IF EXISTS adm")
        engine.close_session(admin)
