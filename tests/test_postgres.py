"""External-postgres surface (sources/pgwire.py wire client +
sources/postgres.py read_postgres/ATTACH) against a real local server —
including the reference's own slt/postgres suite. Skips when no server
can be reached or started (tools/start_test_postgres.sh is the recipe)."""

import os

import pytest

from tests.pg_util import CONN, PORT, ensure_pg_server  # noqa: F401


@pytest.fixture(scope="module")
def pg_server():
    conn = ensure_pg_server()
    if conn is None:
        pytest.skip("no postgres test server available")
    return conn


def test_wire_client_types(pg_server):
    from glaredb_spark.sources.pgwire import connect

    c = connect(pg_server)
    cols, rows = c.query(
        "select 1.5::numeric(10,2) n, true b, 'ab'::bytea y,"
        " date '2024-01-02' d, 3::smallint s, 4::bigint l, 1.5::float4 f"
    )
    c.close()
    from decimal import Decimal

    assert rows[0][0] == Decimal("1.50")
    assert rows[0][1] is True and rows[0][2] == b"ab"
    assert str(rows[0][3]) == "2024-01-02"
    assert rows[0][4:] == [3, 4, 1.5]


def test_wire_client_errors(pg_server):
    from glaredb_spark.sources.pgwire import PgError, connect

    c = connect(pg_server)
    with pytest.raises(PgError, match="does not exist"):
        c.query("select * from missing_table_xyz")
    # connection still usable after an error
    assert c.query("select 1")[1] == [[1]]
    c.close()


def test_read_postgres_dataframe(spark, pg_server):
    from glaredb_spark.sources.postgres import read_postgres

    df = read_postgres(spark, pg_server, "public", "t1")
    assert df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(23, 45, "test")]


def test_attach_and_query(spark, pg_server):
    from glaredb_spark import GlareSession

    sess = GlareSession(spark)
    sess.sql(
        "attach postgres database as my_pg_t "
        f"(connection_string '{pg_server}')"
    )
    out = sess.sql("select b, a from my_pg_t.public.t1").collect()
    assert [tuple(r) for r in out] == [(45, 23)]
    sess.sql("detach database my_pg_t")


def test_attach_option_errors(spark, pg_server):
    from glaredb_spark import GlareSession

    sess = GlareSession(spark)
    with pytest.raises(ValueError, match="Missing required option"):
        sess.sql("attach postgres database as bad1")
    with pytest.raises(ValueError, match="Not a string"):
        sess.sql("attach postgres database as bad2 (connection_string 1)")
    with pytest.raises(ValueError, match="Unexpected extra arguments"):
        sess.sql(
            "attach postgres database as bad3 "
            "(connection_string 'postgres://localhost/db', extra_arg 'x')"
        )


def test_reference_postgres_slt(spark, pg_server):
    """The reference's own slt/postgres files, end-to-end."""
    ref = "/root/reference/slt/postgres"
    if not os.path.isdir(ref):
        pytest.skip(f"reference slt tree not present: {ref}")
    from glaredb_spark import GlareSession
    from glaredb_spark.functions.register import register_all
    from glaredb_spark.slt import run_slt_file

    register_all(spark)
    sess = GlareSession(spark)
    for rel in ("read_postgres.slt", "attach.slt"):
        res = run_slt_file(sess, f"{ref}/{rel}")
        assert not res.failures, (rel, res.failures[:3])
        assert res.ok > 0
