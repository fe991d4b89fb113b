"""Listener REST API (SURVEY §2.11 O9) — the reference's FastAPI
service (src/goe/listener/api/routes/orchestration.py:39-166)
re-shaped onto the standard library so it carries no extra
dependencies. Routes:

- GET  /api/queries                      registered query names
- GET  /api/query/{name}?sf_dir=&limit=  run a query, JSON rows
- GET  /api/status?metadata_dir=         offload status report rows
- POST /api/offload                      run one offload (JSON body =
                                         OffloadConfig fields; the
                                         reference runs this in the
                                         background — here it is
                                         synchronous and the response
                                         is the completed result)
- POST /api/delete                       targeted row deletion
- POST /api/heal                         one-shot crash recovery for a
                                         maintenance target (JSON body =
                                         target_dir); responds
                                         {"swaps_healed": [...],
                                         "merge_healed": bool}
- POST /api/ingest                       schema-validated file ingest
                                         with quarantine (JSON body =
                                         input/schema/good_dir/
                                         quarantine_dir [+ format,
                                         max_bad_fraction])
- POST /api/curate                       corpus curation pipeline
                                         (source_dir/work_dir/
                                         metadata_dir [+ quality_min,
                                         token_budget]); synchronous,
                                         responds with the funnel

The server shares the driver's SparkSession: requests are thin
wrappers over the same functions the CLI calls, so there is exactly
one code path per operation. Run with
``python -m goe_spark.listener [port]``.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def _json_rows(df, limit: int) -> list[dict]:
    return [
        {k: (str(v) if not isinstance(v, (int, float, bool, type(None))) else v)
         for k, v in row.asDict().items()}
        for row in df.limit(limit).collect()
    ]


def make_handler(spark):
    """Build the request-handler class bound to one SparkSession."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet: structured responses only
            pass

        def _reply(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            qs = {k: v[0] for k, v in parse_qs(url.query).items()}
            try:
                if url.path == "/api/queries":
                    from goe_spark.queries import queries_dict

                    self._reply(200, {"queries": sorted(queries_dict())})
                elif url.path.startswith("/api/query/"):
                    from goe_spark.queries import queries_dict

                    name = url.path.rsplit("/", 1)[1]
                    qd = queries_dict()
                    if name not in qd:
                        self._reply(404, {"error": f"unknown query {name!r}"})
                        return
                    df = qd[name](
                        spark, qs.get("sf_dir", "/root/testdata/sf0.001")
                    )
                    self._reply(
                        200, {"rows": _json_rows(df, int(qs.get("limit", "20")))}
                    )
                elif url.path == "/api/status":
                    from goe_spark.plans.metadata import MetadataStore
                    from goe_spark.plans.status_report import status_report

                    rpt = status_report(
                        spark, MetadataStore(qs["metadata_dir"])
                    )
                    self._reply(200, {"tables": _json_rows(rpt, 1000)})
                elif url.path == "/api/executions":
                    # Command-execution history with step timings (the
                    # reference listener's orchestration status view).
                    from goe_spark.plans.history import ExecutionHistoryStore
                    from goe_spark.plans.status_report import execution_report

                    rpt = execution_report(
                        spark,
                        ExecutionHistoryStore(qs["metadata_dir"]),
                        owner=qs.get("owner"),
                        table_name=qs.get("table"),
                    )
                    self._reply(200, {"steps": _json_rows(rpt, 5000)})
                else:
                    self._reply(404, {"error": "not found"})
            except KeyError as e:  # missing query parameter = caller error
                self._reply(400, {"error": f"missing parameter {e}"})
            except Exception as e:  # surface the failure as JSON, keep serving
                self._reply(500, {"error": str(e)[:500]})

        def do_POST(self) -> None:  # noqa: N802
            url = urlparse(self.path)
            try:
                n = int(self.headers.get("Content-Length", "0"))
                spec = json.loads(self.rfile.read(n) or b"{}")
                if url.path == "/api/offload":
                    from goe_spark.plans.offload import offload_from_spec

                    self._reply(200, offload_from_spec(spark, spec))
                elif url.path == "/api/delete":
                    from goe_spark.plans.targeted_delete import delete_rows

                    rep = delete_rows(
                        spark,
                        spec["target_dir"],
                        spec["key_column"],
                        spec["keys"],
                        partition_col=spec.get(
                            "partition_column", "goe_part_key"
                        ),
                        use_bloom=bool(spec.get("use_bloom")),
                        maintain_indexes=spec.get("maintain_index") or None,
                    )
                    self._reply(
                        200,
                        {
                            "rows_deleted": rep.rows_deleted,
                            "partitions_affected": rep.partitions_affected,
                            "partitions_healed": rep.partitions_healed,
                        },
                    )
                elif url.path == "/api/bloom":
                    from goe_spark.plans.bloom_skip import (
                        build_bloom_manifest_partitioned,
                    )

                    n_parts = build_bloom_manifest_partitioned(
                        spark, spec["target_dir"], spec["columns"]
                    )
                    self._reply(200, {"partitions_indexed": n_parts})
                elif url.path == "/api/scd2":
                    import datetime

                    from goe_spark.plans.scd2 import scd2_apply, scd2_init

                    eff = datetime.date.fromisoformat(spec["effective"])
                    rows = spark.read.parquet(spec["changes"])
                    if spec.get("mode", "apply") == "init":
                        scd2_init(spark, spec["dim_dir"], rows, eff)
                        self._reply(
                            200, {"initialized_rows": rows.count()}
                        )
                    else:
                        attr_cols = [
                            c
                            for c in rows.columns
                            if c != spec["key_column"]
                        ]
                        rep = scd2_apply(
                            spark,
                            spec["dim_dir"],
                            rows,
                            spec["key_column"],
                            attr_cols,
                            eff,
                        )
                        self._reply(
                            200,
                            {
                                "keys_new": rep.keys_new,
                                "keys_changed": rep.keys_changed,
                                "keys_unchanged": rep.keys_unchanged,
                                "healed": rep.healed,
                            },
                        )
                elif url.path == "/api/heal":
                    from goe_spark.plans.heal import heal_target

                    self._reply(200, heal_target(spark, spec["target_dir"]))
                elif url.path == "/api/curate":
                    from goe_spark.plans.curation import (
                        CurationConfig,
                        CurationPipeline,
                    )

                    cfg = CurationConfig(
                        source_sf_dir=spec["source_dir"],
                        work_dir=spec["work_dir"],
                        metadata_dir=spec["metadata_dir"],
                        quality_min=float(spec.get("quality_min", 0.5)),
                        token_budget=int(spec.get("token_budget", 150_000)),
                        line_doc_max=int(spec.get("line_doc_max", 2)),
                        containment_min=float(spec.get("containment_min", 0.9)),
                        span_min_run=int(spec.get("span_min_run", 1)),
                    )
                    rep = CurationPipeline(spark, cfg).run()
                    self._reply(
                        200,
                        {
                            "funnel": rep.funnel,
                            "final_rows": rep.final_rows,
                            "resumed_steps": rep.resumed_steps,
                            "execution_id": rep.execution_id,
                        },
                    )
                elif url.path == "/api/ingest":
                    from pyspark.sql.types import StructType

                    from goe_spark.sources.ingest_files import (
                        IngestValidationError,
                        ingest_with_quarantine,
                    )

                    try:
                        rep = ingest_with_quarantine(
                            spark,
                            spec["input"],
                            StructType.fromDDL(spec["schema"]),
                            good_path=spec["good_dir"],
                            quarantine_path=spec["quarantine_dir"],
                            fmt=spec.get("format", "json"),
                            max_bad_fraction=spec.get("max_bad_fraction"),
                        )
                    except IngestValidationError as e:
                        self._reply(422, {"error": str(e)})
                    else:
                        self._reply(
                            200,
                            {
                                "n_good": rep.n_good,
                                "n_bad": rep.n_bad,
                                "bad_fraction": round(rep.bad_fraction, 6),
                                "good_path": rep.good_path,
                                "quarantine_path": rep.quarantine_path,
                            },
                        )
                else:
                    self._reply(404, {"error": "not found"})
            except KeyError as e:
                self._reply(400, {"error": f"missing field {e}"})
            except Exception as e:
                # malformed specs (e.g. neither/both of source_dir and
                # source_jdbc_url) are caller errors, not server faults
                if type(e).__name__ == "OffloadValidationError":
                    self._reply(400, {"error": str(e)[:500]})
                else:
                    self._reply(500, {"error": str(e)[:500]})

    return Handler


def serve(spark, port: int = 0) -> ThreadingHTTPServer:
    """Start the listener on ``port`` (0 = ephemeral); returns the
    running server (serve_forever on a daemon thread)."""
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(spark))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd


def main(argv: list[str] | None = None) -> int:
    import sys

    from goe_spark.session import get_spark

    args = argv if argv is not None else sys.argv[1:]
    port = int(args[0]) if args else 8085
    spark = get_spark("goe-listener")
    spark.sparkContext.setLogLevel("ERROR")
    httpd = serve(spark, port)
    print(f"listener on http://127.0.0.1:{httpd.server_address[1]}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        httpd.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
