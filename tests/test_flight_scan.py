"""Remote-engine federation tests (adbc_scanner analog,
docs/adbc_scanner_duckdb.md): flight_scan() table function, ATTACH
'grpc://…' (TYPE flight) with per-statement re-fetch, role gating, and
TLS transport with a self-signed certificate."""

from __future__ import annotations

import io
import json
import subprocess

import pytest

from gizmosql_spark import security
from gizmosql_spark.engine import Engine
from gizmosql_spark.flight_server import FlightEngineServer


@pytest.fixture(scope="module")
def remote(spark):
    """A 'remote' engine+server holding a managed table."""
    eng = Engine(spark=spark)
    eng.add_user("fed", "pw", role="admin")
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_remote_inv")
    eng.execute_sql(
        sid,
        "CREATE TABLE t_remote_inv AS"
        " SELECT id AS item_id, id * 100 AS qty FROM range(6)")
    srv = FlightEngineServer(engine=eng, location="grpc://127.0.0.1:0")
    yield eng, srv, f"grpc://127.0.0.1:{srv.port}"
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_remote_inv")
    eng.close_session(sid)
    srv.shutdown()


@pytest.fixture(scope="module")
def local(spark):
    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    yield eng, sid
    eng.close_session(sid)


def test_flight_scan_table_function(remote, local):
    _, _, uri = remote
    eng, sid = local
    res = eng.execute_sql(sid, f"""
        SELECT sum(qty) AS total, count(*) AS n
        FROM flight_scan('{uri}',
                         'SELECT * FROM t_remote_inv', 'fed', 'pw')
    """)
    row = eng.collect(sid, res)[0]
    assert (row["total"], row["n"]) == (1500, 6)


def test_flight_scan_joins_local(remote, local):
    """Federated join: remote scan against a local inline table."""
    _, _, uri = remote
    eng, sid = local
    res = eng.execute_sql(sid, f"""
        SELECT r.item_id, r.qty, l.name
        FROM flight_scan('{uri}',
             'SELECT * FROM t_remote_inv WHERE item_id < 2',
             'fed', 'pw') r
        JOIN (VALUES (0, 'zero'), (1, 'one')) AS l(item_id, name)
          ON r.item_id = l.item_id
        ORDER BY r.item_id
    """)
    rows = eng.collect(sid, res)
    assert [(r["item_id"], r["name"]) for r in rows] == [
        (0, "zero"), (1, "one")]


def test_flight_scan_requires_admin(remote, local):
    _, _, uri = remote
    eng, _ = local
    user_sid = eng.create_session(role="user")
    with pytest.raises(security.CommandDenied):
        eng.execute_sql(
            user_sid,
            f"SELECT * FROM flight_scan('{uri}', 'SELECT 1', 'fed', 'pw')")
    eng.close_session(user_sid)


def test_attach_flight_catalog(remote, local):
    _, _, uri = remote
    eng, sid = local
    res = eng.execute_sql(
        sid,
        f"ATTACH '{uri}' AS rmt (TYPE flight, USER 'fed', PASSWORD 'pw')")
    assert res.info == {"attached": "rmt"}
    rows = eng.collect(sid, eng.execute_sql(sid, """
        SELECT item_id, qty FROM rmt.t_remote_inv
        WHERE qty >= 300 ORDER BY item_id
    """))
    assert [r["item_id"] for r in rows] == [3, 4, 5]
    # DETACH removes resolution
    eng.execute_sql(sid, "DETACH rmt")
    with pytest.raises(Exception):
        eng.collect(sid, eng.execute_sql(
            sid, "SELECT * FROM rmt.t_remote_inv"))
    # both statements reach the query log and the access log, redacted
    logged = [e.sql for e in eng.query_log.entries() if e.status == "ok"]
    accessed = [e[6] for e in eng.access_log.entries() if e[4] == "OK"]
    for seen in (logged, accessed):
        attach = [q for q in seen if q.startswith(f"ATTACH '{uri}' AS rmt")]
        assert attach and "'pw'" not in attach[-1]
        assert "PASSWORD '[REDACTED]'" in attach[-1]
        assert "DETACH rmt" in seen


def test_attach_requires_admin(remote, local):
    _, _, uri = remote
    eng, _ = local
    user_sid = eng.create_session(role="user")
    with pytest.raises(security.CommandDenied):
        eng.execute_sql(
            user_sid, f"ATTACH '{uri}' AS nope (TYPE flight)")
    eng.close_session(user_sid)


def test_attach_sees_fresh_remote_data(remote, local):
    """Attached reads re-fetch per statement — never stale."""
    remote_eng, _, uri = remote
    eng, sid = local
    eng.execute_sql(
        sid,
        f"ATTACH '{uri}' AS live (TYPE flight, USER 'fed', PASSWORD 'pw')")
    n0 = eng.collect(sid, eng.execute_sql(
        sid, "SELECT count(*) AS n FROM live.t_remote_inv"))[0]["n"]
    rsid = remote_eng.create_session(role="admin")
    remote_eng.execute_sql(
        rsid, "INSERT INTO t_remote_inv VALUES (99, 9900)")
    n1 = eng.collect(sid, eng.execute_sql(
        sid, "SELECT count(*) AS n FROM live.t_remote_inv"))[0]["n"]
    assert n1 == n0 + 1
    remote_eng.close_session(rsid)
    eng.execute_sql(sid, "DETACH live")


def test_tls_flight_server(spark, tmp_path):
    """TLS transport (reference gizmosql_security.cpp TLS paths): a
    self-signed cert via the openssl CLI, grpc+tls listener, client
    pinning the cert; plaintext connection to the TLS port fails."""
    cert = tmp_path / "server.crt"
    key = tmp_path / "server.key"
    proc = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "1",
         "-subj", "/CN=localhost",
         "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
        capture_output=True, text=True)
    if proc.returncode != 0:
        pytest.skip(f"openssl unavailable: {proc.stderr[:200]}")

    import pyarrow.flight as flight

    eng = Engine(spark=spark)
    eng.add_user("tls", "pw", role="admin")
    srv = FlightEngineServer(
        engine=eng, location="grpc+tls://127.0.0.1:0",
        tls_certificates=[(cert.read_bytes(), key.read_bytes())])
    try:
        client = flight.FlightClient(
            f"grpc+tls://127.0.0.1:{srv.port}",
            tls_root_certs=cert.read_bytes())
        import base64

        opts = flight.FlightCallOptions(headers=[
            (b"authorization",
             b"Basic " + base64.b64encode(b"tls:pw"))])
        results = list(client.do_action(
            flight.Action("health_check", b"{}"), options=opts))
        assert json.loads(results[0].body.to_pybytes())["healthy"] is True
        client.close()
        # plaintext against the TLS port must fail
        plain = flight.FlightClient(f"grpc://127.0.0.1:{srv.port}")
        with pytest.raises(flight.FlightError):
            list(plain.do_action(
                flight.Action("health_check", b"{}"),
                options=flight.FlightCallOptions(
                    headers=[(b"authorization",
                              b"Basic " + base64.b64encode(b"tls:pw"))],
                    timeout=5)))
        plain.close()
    finally:
        srv.shutdown()


def test_cli_connects_over_tls_scan(remote):
    """flight_scan via the CLI's FlightConnection shares the wire."""
    from gizmosql_spark import cli

    _, _, uri = remote
    conn = cli.FlightConnection(uri, "fed", "pw")
    out = io.StringIO()
    sh = cli.Shell(conn, cli.ShellConfig(mode="csv"), stdout=out)
    sh.execute("SELECT count(*) AS n FROM t_remote_inv")
    assert out.getvalue().strip().splitlines()[-1].isdigit()
    conn.close()


def test_mtls_flight_server(spark, tmp_path):
    """mTLS (reference --mtls flags, gizmosql_security.cpp): server
    requires a client certificate signed by the trusted CA; a client
    without one is rejected."""
    import base64

    def ossl(*args):
        p = subprocess.run(["openssl", *args], capture_output=True, text=True)
        if p.returncode != 0:
            pytest.skip(f"openssl failed: {p.stderr[:200]}")

    ca_key, ca_crt = tmp_path / "ca.key", tmp_path / "ca.crt"
    sv_key, sv_csr, sv_crt = (tmp_path / "s.key", tmp_path / "s.csr",
                              tmp_path / "s.crt")
    cl_key, cl_csr, cl_crt = (tmp_path / "c.key", tmp_path / "c.csr",
                              tmp_path / "c.crt")
    ext = tmp_path / "san.cnf"
    ext.write_text("subjectAltName=DNS:localhost,IP:127.0.0.1\n")
    ossl("req", "-x509", "-newkey", "rsa:2048", "-nodes", "-keyout",
         str(ca_key), "-out", str(ca_crt), "-days", "1", "-subj", "/CN=test-ca")
    ossl("req", "-newkey", "rsa:2048", "-nodes", "-keyout", str(sv_key),
         "-out", str(sv_csr), "-subj", "/CN=localhost")
    ossl("x509", "-req", "-in", str(sv_csr), "-CA", str(ca_crt), "-CAkey",
         str(ca_key), "-CAcreateserial", "-out", str(sv_crt), "-days", "1",
         "-extfile", str(ext))
    ossl("req", "-newkey", "rsa:2048", "-nodes", "-keyout", str(cl_key),
         "-out", str(cl_csr), "-subj", "/CN=mtls-client")
    ossl("x509", "-req", "-in", str(cl_csr), "-CA", str(ca_crt), "-CAkey",
         str(ca_key), "-CAcreateserial", "-out", str(cl_crt), "-days", "1")

    import pyarrow.flight as flight

    eng = Engine(spark=spark)
    eng.add_user("m", "pw", role="admin")
    srv = FlightEngineServer(
        engine=eng, location="grpc+tls://127.0.0.1:0",
        tls_certificates=[(sv_crt.read_bytes(), sv_key.read_bytes())],
        verify_client=True, root_certificates=ca_crt.read_bytes())
    try:
        opts = flight.FlightCallOptions(headers=[
            (b"authorization", b"Basic " + base64.b64encode(b"m:pw"))],
            timeout=10)
        good = flight.FlightClient(
            f"grpc+tls://127.0.0.1:{srv.port}",
            tls_root_certs=ca_crt.read_bytes(),
            cert_chain=cl_crt.read_bytes(),
            private_key=cl_key.read_bytes())
        results = list(good.do_action(
            flight.Action("health_check", b"{}"), options=opts))
        assert json.loads(results[0].body.to_pybytes())["healthy"] is True
        good.close()
        # no client cert -> handshake refused
        bad = flight.FlightClient(
            f"grpc+tls://127.0.0.1:{srv.port}",
            tls_root_certs=ca_crt.read_bytes())
        with pytest.raises(flight.FlightError):
            list(bad.do_action(
                flight.Action("health_check", b"{}"), options=opts))
        bad.close()
    finally:
        srv.shutdown()


def test_flight_scan_distributed(remote, local, spark):
    """Multi-endpoint scale path: server slices the result into N
    tickets, each Spark task streams one slice via its own DoGet."""
    from gizmosql_spark.sources.flight_scan import (
        fetch, flight_scan_distributed)

    _, _, uri = remote
    df = flight_scan_distributed(
        spark, uri,
        "SELECT item_id, qty FROM t_remote_inv WHERE item_id < 6",
        user="fed", password="pw", partitions=3)
    assert df.rdd.getNumPartitions() == 3
    rows = sorted((r["item_id"], r["qty"]) for r in df.collect())
    assert rows == [(i, i * 100) for i in range(6)]
    # agrees with the single-endpoint fetch
    single = fetch(uri, "SELECT sum(qty) AS s FROM t_remote_inv"
                        " WHERE item_id < 6", user="fed", password="pw")
    assert single.column("s")[0].as_py() == sum(q for _, q in rows)


def test_flight_info_multi_endpoint(remote):
    """partitions=N in the statement command yields N endpoints whose
    tickets each redeem one slice, concatenating to the full result."""
    import pyarrow.flight as flight

    from gizmosql_spark.sources.flight_scan import _options

    _, _, uri = remote
    client = flight.FlightClient(uri)
    try:
        opts = _options("fed", "pw", None)
        sid = json.loads(list(client.do_action(
            flight.Action("create_session", b"{}"),
            options=opts))[0].body.to_pybytes())["session"]
        desc = flight.FlightDescriptor.for_command(json.dumps(
            {"type": "statement_query", "session": sid,
             "sql": "SELECT item_id FROM t_remote_inv"
                    " WHERE item_id < 6 ORDER BY item_id",
             "partitions": 4}).encode())
        info = client.get_flight_info(desc, options=opts)
        assert len(info.endpoints) == 4
        got = []
        for ep in info.endpoints:
            got.extend(
                client.do_get(ep.ticket, options=opts)
                .read_all().column("item_id").to_pylist())
        assert got == list(range(6))
    finally:
        client.close()


def test_do_exchange_transform(remote):
    """DoExchange: push a batch, transform joined against a server
    table, stream the result back — one RPC, no managed-table write."""
    import pyarrow as pa

    from gizmosql_spark.sources.flight_scan import exchange_transform

    remote_eng, _, uri = remote
    batch = pa.table({"item_id": [0, 1, 2], "weight": [0.5, 2.0, 1.5]})
    out = exchange_transform(
        uri, batch,
        """SELECT x.item_id, CAST(x.weight * t.qty AS DOUBLE) AS weighted
           FROM exchange_input x JOIN t_remote_inv t USING (item_id)
           ORDER BY x.item_id""",
        user="fed", password="pw")
    got = list(zip(out.column("item_id").to_pylist(),
                   out.column("weighted").to_pylist()))
    assert got == [(0, 0.0), (1, 200.0), (2, 300.0)]
    # the temp view never became a managed table
    rsid = remote_eng.create_session(role="admin")
    tables = [r["tableName"] for r in remote_eng.collect(
        rsid, remote_eng.execute_sql(rsid, "SHOW TABLES"))]
    assert "exchange_input" not in tables
    remote_eng.close_session(rsid)


def test_flight_scan_credentials_from_adbc_secret(remote, local):
    """The reference's secrets flow (adbc_scanner doc): CREATE SECRET
    (TYPE adbc, SCOPE uri, username/password) then a BARE flight_scan
    / ATTACH — credentials resolve from the scoped secret."""
    _, _, uri = remote
    eng, sid = local
    eng.execute_sql(sid, f"""
        CREATE OR REPLACE SECRET fed_secret (
            TYPE adbc, SCOPE '{uri}',
            username 'fed', password 'pw')
    """)
    try:
        # ground truth via explicit credentials (earlier tests may
        # have mutated the remote table — compare, don't hardcode)
        expect = eng.collect(sid, eng.execute_sql(sid, f"""
            SELECT sum(qty) AS total, count(*) AS n
            FROM flight_scan('{uri}', 'SELECT * FROM t_remote_inv',
                             'fed', 'pw')
        """))[0]
        row = eng.collect(sid, eng.execute_sql(sid, f"""
            SELECT sum(qty) AS total
            FROM flight_scan('{uri}', 'SELECT * FROM t_remote_inv')
        """))[0]
        assert row["total"] == expect["total"]

        # bare ATTACH picks up the same secret at use time
        eng.execute_sql(
            sid, f"ATTACH '{uri}' AS fedcat (TYPE flight)")
        row = eng.collect(sid, eng.execute_sql(
            sid, "SELECT count(*) AS n FROM fedcat.t_remote_inv"))[0]
        assert row["n"] == expect["n"]
        eng.execute_sql(sid, "DETACH fedcat")
    finally:
        eng.execute_sql(sid, "DROP SECRET IF EXISTS fed_secret")
