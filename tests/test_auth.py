"""Auth + catalog-permission tests (gizmosql_security.cpp /
catalog_permissions_handler.cpp analogs): basic-credential token
minting, signature/expiry verification, role claims driving session
privileges, catalog ACL wildcards."""

from __future__ import annotations

import pytest

from gizmosql_spark import auth, security
from gizmosql_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark=spark)
    eng.add_user("alice", "wonderland", role="admin")
    eng.add_user("bob", "builder", role="readonly")
    eng.add_user(
        "carol",
        "x",
        role="user",
        read_catalogs=["spark_catalog", "dev_*"],
        write_catalogs=["dev_*"],
    )
    return eng


def test_password_hash_roundtrip():
    h = auth.hash_password("s3cret")
    assert auth.verify_password("s3cret", h)
    assert not auth.verify_password("wrong", h)


def test_token_mint_and_verify():
    tok = auth.mint_token("k", "u", "admin", extra_claims={"read_catalogs": ["a"]})
    claims = auth.verify_token("k", tok)
    assert claims["sub"] == "u"
    assert claims["role"] == "admin"
    assert claims["read_catalogs"] == ["a"]


def test_token_bad_signature_rejected():
    tok = auth.mint_token("k", "u", "admin")
    with pytest.raises(auth.AuthError):
        auth.verify_token("other-key", tok)
    with pytest.raises(auth.AuthError):
        auth.verify_token("k", tok[:-4] + "AAAA")


def test_token_expiry():
    tok = auth.mint_token("k", "u", "user", ttl_seconds=-10)
    with pytest.raises(auth.AuthError):
        auth.verify_token("k", tok)


def test_engine_basic_auth_flow(engine):
    tok = engine.authenticate("alice", "wonderland")
    sid = engine.create_session(token=tok)
    st = engine.sessions[sid]
    assert st.role == "admin" and st.username == "alice"
    # admin may run gated statements (local file read)
    res = engine.execute_sql(
        sid, "SELECT 1 AS x"
    )
    assert engine.collect(sid, res)[0]["x"] == 1
    engine.close_session(sid)


def test_engine_rejects_bad_credentials(engine):
    with pytest.raises(auth.AuthError):
        engine.authenticate("alice", "nope")
    with pytest.raises(auth.AuthError):
        engine.authenticate("nobody", "x")


def test_token_role_overrides_requested(engine):
    tok = engine.authenticate("bob", "builder")
    sid = engine.create_session(role="admin", token=tok)  # claim ignored
    assert engine.sessions[sid].role == "readonly"
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "CREATE TABLE t_auth_x AS SELECT 1 AS a")
    engine.close_session(sid)


def test_catalog_acl_wildcards():
    assert security.catalog_allowed(["dev_*"], "dev_lake")
    assert not security.catalog_allowed(["dev_*"], "prod")
    assert security.catalog_allowed(None, "anything")


def test_catalog_acl_enforced(engine):
    tok = engine.authenticate("carol", "x")
    sid = engine.create_session(token=tok)
    # allowed: default catalog read
    res = engine.execute_sql(sid, "SELECT 1 AS x")
    assert engine.collect(sid, res)[0]["x"] == 1
    # denied: reading an unauthorized catalog
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "SELECT * FROM prod_cat.default.secrets")
    # denied: writing the default catalog (write ACL = dev_* only)
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "INSERT INTO t_acl VALUES (1)")
    engine.close_session(sid)


def test_ddl_write_target_extraction(spark):
    def writes(sql):
        return security.classify(spark, sql).writes

    assert writes("CREATE TABLE prod.db.t AS SELECT 1") == (("prod", "db", "t"),)
    assert writes("CREATE OR REPLACE TABLE t2 (a INT)") == (("t2",),)
    assert writes("DROP TABLE IF EXISTS prod.db.t") == (("prod", "db", "t"),)
    assert writes("ALTER TABLE t ADD COLUMN c INT") == (("t",),)
    assert writes("TRUNCATE TABLE prod.db.t") == (("prod", "db", "t"),)
    assert writes("DROP VIEW v1") == (("v1",),)
    # TEMP views are session-local, not a catalog write
    assert writes("CREATE TEMP VIEW v AS SELECT 1") == ()
    assert writes("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1") == ()
    assert writes("SELECT * FROM t") == ()
    # a rename writes the old name and the new one
    assert writes("ALTER TABLE t RENAME TO u") == (("t",), ("u",))


def test_catalog_acl_gates_ddl(engine):
    """CREATE TABLE AS / DROP TABLE against a non-writable catalog are
    denied just like DML (reference: modified_databases covers DDL)."""
    tok = engine.authenticate("carol", "x")
    sid = engine.create_session(token=tok)
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "CREATE TABLE t_ddl_acl AS SELECT 1 AS a")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "DROP TABLE IF EXISTS spark_catalog.default.x")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "TRUNCATE TABLE some_table")
    # TEMP VIEW creation stays allowed (session-local)
    engine.execute_sql(sid, "CREATE OR REPLACE TEMP VIEW v_acl AS SELECT 1 AS a")
    engine.close_session(sid)


def test_struct_field_access_not_a_catalog_ref(spark):
    """Qualified struct access (alias.col.field) must not read as a
    catalog reference — it used to spuriously deny ACL'd sessions."""
    def check(sql):
        security.check_catalog_access(
            security.classify(spark, sql),
            read_catalogs=["spark_catalog"], write_catalogs=None)

    # alias 'e' is not a catalog: allowed
    check("SELECT e.props.k FROM events e")
    # real three-part reference in FROM position: denied
    with pytest.raises(security.CommandDenied):
        check("SELECT * FROM prod.db.t")
    # comma continuation of a FROM list is still caught
    with pytest.raises(security.CommandDenied):
        check("SELECT * FROM spark_catalog.default.a, prod.db.t")
    # JOIN position caught, struct access in SELECT list ignored
    check("SELECT a.b.c FROM t1 a JOIN spark_catalog.default.t2 b"
          " ON a.id = b.id")


def _acl_session(engine, name, read, write):
    engine.add_user(name, "pw", role="user", read_catalogs=read,
                    write_catalogs=write)
    return engine.create_session(token=engine.authenticate(name, "pw"))


@pytest.mark.parametrize("user,read,write,sql", [
    # a comma-joined relation of an unreadable catalog
    ("acl_comma", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT * FROM t, cat2.db.c"),
    # a MERGE source
    ("acl_merge", ["spark_catalog", "dev_*"], ["dev_*"],
     "MERGE INTO dev_x.db.a USING cat2.db.s ON a.k = s.k"
     " WHEN MATCHED THEN UPDATE SET *"),
    # a quoted catalog in a subquery
    ("acl_subquery", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT * FROM dev_x.db.t WHERE k IN (SELECT k FROM `cat2`.db.c)"),
    # an unqualified name reads the current catalog
    ("acl_current", ["cat1"], ["cat1"], "SELECT * FROM cat1.db.a JOIN t"),
    # the second INSERT of a FROM-first multi-insert writes cat2
    ("acl_multi", ["*"], ["dev_*"],
     "FROM s INSERT INTO dev_x.db.a SELECT * INSERT INTO cat2.db.b SELECT *"),
    # a quoted name part holding ", " the plan cannot render exactly,
    # bare and after a literal or comment that holds a quote
    ("acl_ambiguous", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT * FROM `dev_x, cat2`.db.c"),
    ("acl_ambiguous_esc", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT 'a\\'' AS q, * FROM `dev_x, cat2`.db.c"),
    ("acl_ambiguous_raw", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT r'\\' AS q, * FROM `dev_x, cat2`.db.c"),
    ("acl_ambiguous_cmt", ["spark_catalog", "dev_*"], ["dev_*"],
     "SELECT /* ` */ * FROM `dev_x, cat2`.db.c"),
])
def test_catalog_acl_reads_every_relation(engine, user, read, write, sql):
    """Each shape passed the text-based ACL; the gate denies it from the
    parsed plan before analysis (no catalog cat1, cat2 or dev_x
    exists)."""
    sid = _acl_session(engine, user, read, write)
    try:
        with pytest.raises(security.CommandDenied):
            engine.execute_sql(sid, sql)
    finally:
        engine.close_session(sid)


def test_catalog_acl_reads_quoted_names(engine):
    """Names quoted one by one, as BI and JDBC clients send them, are
    read exactly: a comma or bracket between two quoted names is no
    part of either."""
    sid = _acl_session(engine, "acl_quoted", ["spark_catalog"],
                       ["spark_catalog"])
    try:
        engine.execute_sql(
            sid, "CREATE OR REPLACE TEMP VIEW v_quoted AS"
                 " SELECT 1 AS a, 2 AS b, array(3) AS arr")
        for sql in ("SELECT `a`, `b` FROM v_quoted",
                    "SELECT `arr`[0] AS x, `a` FROM `v_quoted`",
                    "SELECT '`, `' AS s, `a` FROM v_quoted"):
            assert engine.collect(sid, engine.execute_sql(sid, sql))
    finally:
        engine.close_session(sid)
    stmt = security.classify(
        engine.spark, "INSERT INTO t (`x`, `y`) VALUES (1, 2)")
    assert not stmt.opaque
    security.check_catalog_access(stmt, ["spark_catalog"], ["spark_catalog"])


# --- JWKS key-set verification + rotation (jwks_manager.cpp analog) --


def test_jwks_verify_and_rotate(tmp_path):
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key_a, key_b = _os.urandom(32), _os.urandom(32)
    auth.write_jwks(jwks_path, {"key-a": key_a})
    mgr = auth.JwksManager(jwks_path)
    assert mgr.kids() == ["key-a"]

    tok_a = auth.mint_token(key_a, "u", "user", kid="key-a")
    assert mgr.verify(tok_a)["sub"] == "u"

    # rotate: key-a retired, key-b current (mtime change forces reload)
    auth.write_jwks(jwks_path, {"key-b": key_b})
    _os.utime(jwks_path, (0, 0))  # ensure mtime differs from cached
    tok_b = auth.mint_token(key_b, "u", "admin", kid="key-b")
    assert mgr.verify(tok_b)["role"] == "admin"
    # stale kid now rejected (refresh-on-miss finds it gone)
    with pytest.raises(auth.AuthError):
        mgr.verify(tok_a)


def test_jwks_refresh_on_miss(tmp_path):
    """A token minted with a kid the manager has not seen triggers a
    forced refresh (the reference's cache-miss-then-refetch path)."""
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key_a, key_b = _os.urandom(32), _os.urandom(32)
    auth.write_jwks(jwks_path, {"key-a": key_a})
    mgr = auth.JwksManager(jwks_path, refresh_interval_s=10_000)
    assert mgr.kids() == ["key-a"]
    # add key-b behind the manager's back, same refresh window
    auth.write_jwks(jwks_path, {"key-a": key_a, "key-b": key_b})
    tok_b = auth.mint_token(key_b, "v", "user", kid="key-b")
    assert mgr.verify(tok_b)["sub"] == "v"


def test_jwks_requires_kid(tmp_path):
    jwks_path = str(tmp_path / "jwks.json")
    auth.write_jwks(jwks_path, {"key-a": b"s" * 32})
    mgr = auth.JwksManager(jwks_path)
    with pytest.raises(auth.AuthError):
        mgr.verify(auth.mint_token("whatever", "u", "user"))  # no kid


def test_jwks_skips_malformed_keys(tmp_path):
    import json as _json

    jwks_path = str(tmp_path / "jwks.json")
    with open(jwks_path, "w") as f:
        _json.dump({"keys": [
            {"kty": "oct", "k": "AAAA"},                     # no kid
            {"kty": "RSA", "kid": "rsa-1", "n": "x"},        # unsupported
            {"kty": "oct", "kid": "good", "alg": "HS256",
             "k": "c2VjcmV0LXNlY3JldC1zZWNyZXQ"},
        ]}, f)
    mgr = auth.JwksManager(jwks_path)
    assert mgr.kids() == ["good"]


def test_engine_jwks_session_flow(engine, tmp_path):
    """A session created from a JWKS-verified token carries its role +
    catalog ACL claims; after rotation the old token is refused."""
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key = _os.urandom(32)
    auth.write_jwks(jwks_path, {"ops-1": key})
    engine.use_jwks(jwks_path)
    try:
        tok = auth.mint_token(
            key, "ops", "admin", kid="ops-1",
            extra_claims={"read_catalogs": ["spark_catalog"]})
        sid = engine.create_session(token=tok)
        st = engine.sessions[sid]
        assert st.role == "admin" and st.username == "ops"
        assert st.read_catalogs == ["spark_catalog"]
        engine.close_session(sid)
        # rotate the key set: the minted token dies with its kid
        auth.write_jwks(jwks_path, {"ops-2": _os.urandom(32)})
        _os.utime(jwks_path, (0, 0))
        with pytest.raises(auth.AuthError):
            engine.create_session(token=tok)
        # engine-secret tokens (no kid) still verify
        basic_tok = engine.authenticate("alice", "wonderland")
        sid2 = engine.create_session(token=basic_tok)
        engine.close_session(sid2)
    finally:
        engine.jwks = None
