from __future__ import annotations

import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_city_directories_spark.session import get_spark

SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture
def newest_job_id(spark):
    """A callable giving the id of the newest job in the status store
    (-1 before any job); two calls bracket the jobs run between them."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()  # every submitted job is in the store
        jobs = sc.statusStore().jobsList(None)  # sorted by job id, newest first
        return -1 if jobs.isEmpty() else max(jobs.head().jobId(), jobs.last().jobId())

    return newest


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture
def http_archives():
    """A loopback http.server (127.0.0.1 only) serving the fixture
    archive as ``{base}/{uuid}.tar.gz`` and 404 for every other path;
    yields ``(base, archive_bytes)``. Executors run in-process under
    local[*], so they reach the same loopback."""
    from etl_city_directories_spark.operators.ingest import _UUID, fixture_archive

    with open(fixture_archive(), "rb") as f:
        archive_bytes = f.read()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == f"/cd/{_UUID}.tar.gz":
                self.send_response(200)
                self.send_header("Content-Length", str(len(archive_bytes)))
                self.end_headers()
                self.wfile.write(archive_bytes)
            else:
                self.send_error(404)

        def log_message(self, *args):  # silence per-request stderr
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}/cd", archive_bytes
    finally:
        server.shutdown()
        server.server_close()
