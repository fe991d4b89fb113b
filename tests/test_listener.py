"""Listener REST API: every route end-to-end over the shared session."""

from __future__ import annotations

import json
import urllib.request

import pytest

from goe_spark.listener import serve
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def base_url(spark):
    httpd = serve(spark, port=0)
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_list_queries(base_url):
    status, body = _get(f"{base_url}/api/queries")
    assert status == 200
    assert "q1_pricing_summary" in body["queries"]
    assert "ann_lsh_topk" in body["queries"]


def test_run_query(base_url):
    status, body = _get(
        f"{base_url}/api/query/q6_forecast_revenue?sf_dir={SF_SMALL}"
    )
    assert status == 200
    assert "revenue" in body["rows"][0]


def test_unknown_query_404(base_url):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{base_url}/api/query/not_a_query")
    assert exc.value.code == 404


def test_offload_then_status(base_url, tmp_path):
    status, body = _post(
        f"{base_url}/api/offload",
        {
            "owner": "sh",
            "table": "region",
            "source_dir": SF_SMALL,
            "target_dir": str(tmp_path / "final"),
            "staging_dir": str(tmp_path / "stage"),
            "metadata_dir": str(tmp_path / "md"),
        },
    )
    assert status == 200
    assert body["rows_staged"] == body["rows_final"] > 0

    status, body = _get(f"{base_url}/api/status?metadata_dir={tmp_path / 'md'}")
    assert status == 200
    assert [(t["owner"], t["table_name"]) for t in body["tables"]] == [
        ("sh", "region")
    ]

    status, body = _get(
        f"{base_url}/api/executions?metadata_dir={tmp_path / 'md'}&owner=sh"
    )
    assert status == 200
    steps = body["steps"]
    by_step = {s["step"]: (s["step_status"], s["step_detail"]) for s in steps}
    # A local parquet target loads straight from the source.
    assert by_step["STAGING_TRANSPORT"] == ("skipped", "direct")
    assert by_step["FINAL_LOAD"] == ("ok", None)
    assert all(s["status"] == "SUCCESS" for s in steps)


def test_offload_missing_field_400(base_url):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/api/offload", {"owner": "sh"})
    assert exc.value.code == 400


def test_delete_route(base_url, tmp_path):
    """POST /api/delete removes the requested keys from an offloaded
    target, partition-bounded like the CLI/API paths."""
    status, _ = _post(
        f"{base_url}/api/offload",
        {
            "owner": "sh",
            "table": "orders",
            "source_dir": SF_SMALL,
            "target_dir": str(tmp_path / "final"),
            "staging_dir": str(tmp_path / "stage"),
            "metadata_dir": str(tmp_path / "md"),
            "partition_column": "o_orderdate",
        },
    )
    assert status == 200
    status, body = _post(
        f"{base_url}/api/delete",
        {
            "target_dir": str(tmp_path / "final"),
            "key_column": "o_orderkey",
            "keys": [1, 2, 3],
        },
    )
    assert status == 200
    assert body["rows_deleted"] >= 0
    assert "partitions_affected" in body


def test_delete_route_missing_field_400(base_url):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/api/delete", {"key_column": "k"})
    assert exc.value.code == 400


def test_curate_route(base_url, tmp_path):
    """POST /api/curate runs the curation pipeline and responds with
    the funnel."""
    status, body = _post(
        f"{base_url}/api/curate",
        {
            "source_dir": SF_SMALL,
            "work_dir": str(tmp_path / "work"),
            "metadata_dir": str(tmp_path / "meta"),
            "quality_min": 0.4,
        },
    )
    assert status == 200
    assert body["final_rows"] > 0
    assert len(body["funnel"]) == 13  # incl. CRAWL/HYGIENE/CLASSIFIER/SPAN stages


def test_curate_route_missing_field_400(base_url):
    import pytest as _pytest

    with _pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/api/curate", {"work_dir": "/tmp/x"})
    assert exc.value.code == 400


def test_heal_route_noop_on_clean_target(base_url, tmp_path, spark):
    target = str(tmp_path / "t")
    spark.range(5).write.parquet(target)
    status, body = _post(f"{base_url}/api/heal", {"target_dir": target})
    assert status == 200
    assert body == {"swaps_healed": [], "merge_healed": False}


def test_heal_route_completes_armed_swap(base_url, tmp_path, spark):
    """A flat zorder that died with its marker armed is completed by
    POST /api/heal, which reports the target's own swap as '.'."""
    from goe_spark.plans.zorder import zorder_flat_table
    from tests.conftest import crash_swap

    target = str(tmp_path / "t")
    spark.range(50).selectExpr("id", "id % 7 AS x").write.parquet(target)
    with crash_swap("armed"):
        zorder_flat_table(spark.read.parquet(target), target, ["id", "x"], n_files=2)
    status, body = _post(f"{base_url}/api/heal", {"target_dir": target})
    assert status == 200
    assert body == {"swaps_healed": ["."], "merge_healed": False}
    assert spark.read.parquet(target).count() == 50


def test_scd2_route_init_and_apply(base_url, tmp_path, spark):
    base = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "cust_id long, tier string"
    )
    base_p = str(tmp_path / "base")
    base.write.parquet(base_p)
    dim = str(tmp_path / "dim")
    status, body = _post(
        f"{base_url}/api/scd2",
        {
            "mode": "init",
            "dim_dir": dim,
            "changes": base_p,
            "key_column": "cust_id",
            "effective": "2024-01-01",
        },
    )
    assert (status, body) == (200, {"initialized_rows": 2})

    ch = spark.createDataFrame([(1, "platinum")], "cust_id long, tier string")
    ch_p = str(tmp_path / "ch")
    ch.write.parquet(ch_p)
    status, body = _post(
        f"{base_url}/api/scd2",
        {
            "dim_dir": dim,
            "changes": ch_p,
            "key_column": "cust_id",
            "effective": "2024-06-01",
        },
    )
    assert status == 200
    assert (body["keys_changed"], body["keys_new"]) == (1, 0)
    assert spark.read.parquet(dim).count() == 3  # v1 closed + v2 + key 2


def test_bloom_route(base_url, tmp_path, spark, offloaded_orders):
    target, _, _ = offloaded_orders
    status, body = _post(
        f"{base_url}/api/bloom",
        {"target_dir": target, "columns": ["o_orderkey"]},
    )
    assert status == 200
    assert body["partitions_indexed"] > 0


def test_ingest_route(base_url, tmp_path):
    """POST /api/ingest lands good rows and quarantines bad lines;
    the gate replies 422."""
    d = tmp_path / "in"
    d.mkdir()
    with open(d / "a.jsonl", "w") as f:
        f.write('{"id": 1, "t": "ok"}\n')
        f.write("not json\n")
    payload = {
        "input": str(d),
        "schema": "id BIGINT, t STRING",
        "good_dir": str(tmp_path / "good"),
        "quarantine_dir": str(tmp_path / "quar"),
    }
    status, body = _post(f"{base_url}/api/ingest", payload)
    assert status == 200
    assert (body["n_good"], body["n_bad"]) == (1, 1)

    import pytest as _pytest

    payload["good_dir"] = str(tmp_path / "good2")
    payload["quarantine_dir"] = str(tmp_path / "quar2")
    payload["max_bad_fraction"] = 0.1
    with _pytest.raises(urllib.error.HTTPError) as exc:
        _post(f"{base_url}/api/ingest", payload)
    assert exc.value.code == 422


def test_offload_jdbc_route(base_url, tmp_path, spark):
    """POST /api/offload with a live JDBC frontend AND backend — the
    REST twin of the CLI live scenario: rows land in the target
    database and the response carries the pipeline accounting."""
    db = tmp_path / "derby-rest"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    jvm.Class.forName("org.apache.derby.jdbc.EmbeddedDriver").newInstance()
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE widgets (id INT PRIMARY KEY, w VARCHAR(10))")
    for i in range(20):
        st.execute(f"INSERT INTO widgets VALUES ({i}, 'w{i % 3}')")
    st.close()
    conn.close()

    status, body = _post(
        f"{base_url}/api/offload",
        {
            "owner": "sh",
            "table": "widgets",
            "source_jdbc_url": url,
            "backend_jdbc_url": url,
            "target_dir": str(tmp_path / "final"),
            "staging_dir": str(tmp_path / "stage"),
            "metadata_dir": str(tmp_path / "md"),
        },
    )
    assert status == 200
    assert body["rows_staged"] == body["rows_final"] == 20
    assert spark.read.jdbc(url, "SH_WIDGETS").count() == 20

    # both-sources spec is a 400 caller error, not a 500
    import urllib.error as _ue

    with pytest.raises(_ue.HTTPError) as exc:
        _post(
            f"{base_url}/api/offload",
            {
                "owner": "sh",
                "table": "widgets",
                "source_dir": SF_SMALL,
                "source_jdbc_url": url,
                "target_dir": str(tmp_path / "f2"),
                "staging_dir": str(tmp_path / "s2"),
                "metadata_dir": str(tmp_path / "m2"),
            },
        )
    assert exc.value.code == 400


def test_curate_and_delete_forward_every_cli_field(base_url, monkeypatch):
    """/api/curate and /api/delete pass on the fields the CLI passes:
    containment_min and span_min_run, use_bloom and maintain_index."""
    from types import SimpleNamespace

    import goe_spark.plans.curation as curation
    import goe_spark.plans.targeted_delete as targeted_delete

    seen = {}

    class Pipeline:
        def __init__(self, spark, cfg):
            seen["curate"] = cfg

        def run(self):
            return SimpleNamespace(funnel={}, final_rows=0, resumed_steps=[], execution_id="x")

    def delete_rows(spark, path, key_column, keys, **kw):
        seen["delete"] = kw
        return SimpleNamespace(rows_deleted=0, partitions_affected=0, partitions_healed=0)

    monkeypatch.setattr(curation, "CurationPipeline", Pipeline)
    monkeypatch.setattr(targeted_delete, "delete_rows", delete_rows)
    _post(
        f"{base_url}/api/curate",
        {
            "source_dir": "s",
            "work_dir": "w",
            "metadata_dir": "m",
            "containment_min": 0.75,
            "span_min_run": 4,
        },
    )
    _post(
        f"{base_url}/api/delete",
        {
            "target_dir": "t",
            "key_column": "k",
            "keys": [1],
            "use_bloom": True,
            "maintain_index": ["idx"],
        },
    )
    assert (seen["curate"].containment_min, seen["curate"].span_min_run) == (0.75, 4)
    assert seen["delete"]["use_bloom"] is True
    assert seen["delete"]["maintain_indexes"] == ["idx"]
