"""HTTP serving layer round-trip (serve.py ↔ backend/src/index.js:88-171):
tables / data / query endpoints over a live ThreadingHTTPServer on an
ephemeral port, plus the read-only and row-cap guards."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from synthea2omop_etl_spark.serve import _assert_readonly, create_server


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    tables = {
        "person": spark.createDataFrame(
            [(i, 8507 if i % 2 else 8532, 1950 + i) for i in range(1, 8)],
            ["person_id", "gender_concept_id", "year_of_birth"],
        ),
        "visit_occurrence": spark.createDataFrame(
            [(1, 1), (2, 1), (3, 2)],
            ["visit_occurrence_id", "person_id"],
        ),
    }
    ckpt = tmp_path_factory.mktemp("serve") / "checkpoint.json"
    ckpt.write_text(json.dumps({
        "typing_patients": {"completed": True, "stats": {"rows": 7},
                            "ts": 1700000000.0},
        "id_maps": {"completed": True, "stats": {}, "ts": 1700000001.0},
        "write_omop_person": {"completed": True, "stats": {},
                              "ts": 1700000002.0},
    }))
    server = create_server(spark, tables, port=0, max_rows=5,
                           checkpoint_path=str(ckpt))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()
    server.server_close()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=300) as r:
        return r.status, json.loads(r.read())


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        return r.status, json.loads(r.read())


def test_health_and_tables(api):
    status, body = _get(f"{api}/api/health")
    assert status == 200 and body["status"] == "ok"
    status, body = _get(f"{api}/api/db/tables")
    assert status == 200
    assert body == ["person", "visit_occurrence"]


def test_etl_status(api):
    """Round-trip of /api/etl/status (reference backend/src/index.js:40-86
    serves mock data here; ours reads the pipeline's real checkpoint)."""
    status, body = _get(f"{api}/api/etl/status")
    assert status == 200
    assert body["isRunning"] is True  # some steps done, some pending
    assert body["completedSteps"] == 2 and body["totalSteps"] > 2
    assert 0 < body["overallProgress"] < 100
    assert body["currentStep"] is not None
    steps = {s["step"]: s for s in body["etlSteps"]}
    assert steps["typing_patients"]["status"] == "Completed"
    assert steps["typing_patients"]["rows"] == 7
    assert steps["id_maps"]["status"] == "Completed"
    assert steps["domains"]["status"] == "Pending"
    assert [t["targetTable"] for t in body["tableProgress"]] == [
        "omop_person"
    ]


def test_etl_status_no_checkpoint(tmp_path):
    """No checkpoint file, or a torn one → clean 'not started' status,
    never an error."""
    from synthea2omop_etl_spark.serve import _etl_status

    torn = tmp_path / "torn.json"
    torn.write_text('{"typing_patients": {"completed": tr')
    for path in (None, str(torn)):
        body = _etl_status(path)
        assert body["isRunning"] is False
        assert body["completedSteps"] == 0
        assert body["overallProgress"] == 0.0
        assert body["tableProgress"] == []


def test_data_page(api):
    status, body = _get(f"{api}/api/db/data?table=person&limit=3&offset=2")
    assert status == 200
    assert body["total"] == 7 and body["limit"] == 3 and body["offset"] == 2
    # table_page orders by every column → deterministic page
    assert [r["person_id"] for r in body["data"]] == [3, 4, 5]


def test_data_page_row_cap(api):
    # limit above max_rows (5) is clamped server-side
    status, body = _get(f"{api}/api/db/data?table=person&limit=100")
    assert status == 200 and len(body["data"]) == 5 and body["limit"] == 5


def test_data_unknown_table(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{api}/api/db/data?table=nope")
    assert e.value.code == 404


def test_query_roundtrip(api):
    status, body = _post(
        f"{api}/api/db/query",
        {
            "sql": "SELECT gender_concept_id, count(*) AS n FROM person "
                   "GROUP BY 1 ORDER BY 1"
        },
    )
    assert status == 200
    assert body["rowCount"] == 2
    assert {f["name"] for f in body["fields"]} == {"gender_concept_id", "n"}
    assert {r["gender_concept_id"]: r["n"] for r in body["data"]} == {
        8507: 4, 8532: 3,
    }


def test_query_join_across_views(api):
    status, body = _post(
        f"{api}/api/db/query",
        {
            "sql": "SELECT p.person_id, count(*) AS visits FROM person p "
                   "JOIN visit_occurrence v ON v.person_id = p.person_id "
                   "GROUP BY 1 ORDER BY 1"
        },
    )
    assert status == 200
    assert {r["person_id"]: r["visits"] for r in body["data"]} == {1: 2, 2: 1}


def test_query_row_cap(api):
    status, body = _post(
        f"{api}/api/db/query", {"sql": "SELECT * FROM person"}
    )
    assert status == 200 and body["rowCount"] == 5  # capped at max_rows


def test_query_rejects_writes(api):
    for sql in (
        "DROP TABLE person",
        "INSERT INTO person VALUES (9, 8507, 2000)",
        "UPDATE person SET year_of_birth = 0",
        "SELECT 1; DROP TABLE person",
        "/* sneaky */ DELETE FROM person",
        # CTE-prefixed DML passes a naive first-keyword check
        "WITH t AS (SELECT 1 AS x) INSERT INTO person SELECT x, x, x FROM t",
        "WITH t AS (SELECT 1) CREATE TABLE evil AS SELECT * FROM t",
        # a `--` INSIDE a string literal must not truncate what the
        # validator sees (comments and strings lexed in one pass)
        "WITH t AS (SELECT '--') INSERT OVERWRITE DIRECTORY '/tmp/pwn' "
        "USING parquet SELECT * FROM t",
        "SELECT '--'; DROP TABLE person",
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{api}/api/db/query", {"sql": sql})
        assert e.value.code == 400, sql


def test_query_allows_keywords_inside_strings(api):
    status, body = _post(
        f"{api}/api/db/query",
        {"sql": "SELECT count(*) AS n FROM person "
                "WHERE 'insert' <> 'drop table'"},
    )
    assert status == 200 and body["data"][0]["n"] == 7


def test_query_missing_sql(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{api}/api/db/query", {})
    assert e.value.code == 400


def test_readonly_guard_unit():
    _assert_readonly("SELECT 1")
    _assert_readonly("  -- c\n WITH t AS (SELECT 1) SELECT * FROM t;")
    _assert_readonly("VALUES (1), (2)")
    # keywords inside strings / quoted identifiers stay legal
    _assert_readonly("SELECT 'insert update -- delete' AS s")
    _assert_readonly('SELECT 1 AS "drop"')
    for bad in (
        "DELETE FROM t",
        "SELECT 1; SELECT 2",
        "CREATE TABLE t(i int)",
        # comment-in-string truncation bypasses (ordered-regex lexing bug)
        "WITH t AS (SELECT '--') INSERT OVERWRITE DIRECTORY '/tmp/pwn' "
        "USING parquet SELECT * FROM t",
        "SELECT '--'; DROP TABLE t",
        "SELECT '\\''; DROP TABLE t",  # backslash-escaped quote
        "WITH t AS (SELECT '/*') INSERT INTO x SELECT * FROM t",
    ):
        with pytest.raises(ValueError):
            _assert_readonly(bad)


def test_plan_readonly_unit(spark):
    from synthea2omop_etl_spark.serve import _assert_plan_readonly

    _assert_plan_readonly(spark, "SELECT 1")
    _assert_plan_readonly(spark, "WITH t AS (SELECT 1) SELECT * FROM t")
    for bad in (
        "WITH t AS (SELECT '--') INSERT OVERWRITE DIRECTORY '/tmp/pwn' "
        "USING parquet SELECT * FROM t",
        "INSERT INTO x VALUES (1)",
        "DROP TABLE x",
        "SET spark.sql.shuffle.partitions=1",
        "EXPLAIN SELECT 1",
        "CACHE TABLE x",
    ):
        with pytest.raises(ValueError):
            _assert_plan_readonly(spark, bad)
