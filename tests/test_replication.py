"""Replication state machine + driver
(streaming/replication.py, tools/replication.py) — the offline-testable
core of scripts/osm2pgsql-replication: sequence->URL path math, state
file parsing, PBF-header state discovery, timestamp->sequence search,
--max-diff-size batching, and the end-to-end update loop against a
file:// server tree, appending to an import_tool database."""

import argparse
import datetime as dt
import gzip
import importlib.util
import os
import subprocess
import sys

import pytest
from test_import_tool import GENERIC_TABLES, _rows

from osm2pgsql_spark.streaming.replication import (
    ReplicationServer,
    ReplicationStateInfo,
    diff_url,
    format_state_txt,
    parse_state_txt,
    replication_header_from_pbf,
    sequence_path,
    state_url,
    write_server_tree,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PBF = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"


def utc(*a):
    return dt.datetime(*a, tzinfo=dt.timezone.utc)


def _tool(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _import(spark, tmp_path, opl, name):
    """An import_tool database of the OPL text, made in-process."""
    tool = _tool("import_tool")
    src = tmp_path / f"{name}.opl"
    src.write_text(opl)
    db = str(tmp_path / name)
    tool.cmd_create(argparse.Namespace(
        input=str(src), out_dir=db, bbox=None, style=None, pg=None,
        drop=False), spark)
    return db


class TestPathMath:
    def test_sequence_path_split(self):
        assert sequence_path(4675115) == "004/675/115"
        assert sequence_path(0) == "000/000/000"
        assert sequence_path(999999999) == "999/999/999"
        assert sequence_path(42) == "000/000/042"

    def test_urls(self):
        base = "https://planet.openstreetmap.org/replication/minute"
        assert diff_url(base, 4675115) == base + "/004/675/115.osc.gz"
        assert state_url(base, 4675115) == base + "/004/675/115.state.txt"
        assert state_url(base) == base + "/state.txt"
        assert state_url(base + "/") == base + "/state.txt"  # trailing slash


class TestStateTxt:
    def test_parse_escaped_timestamp(self):
        txt = ("#Sat Aug 17 13:19:43 UTC 2021\n"
               "sequenceNumber=4675115\n"
               "txnMaxQueried=3320797353\n"
               "timestamp=2021-08-17T13\\:19\\:43Z\n")
        st = parse_state_txt(txt)
        assert st.sequence == 4675115
        assert st.timestamp == utc(2021, 8, 17, 13, 19, 43)

    def test_round_trip(self):
        st = ReplicationStateInfo(123456789, utc(2024, 2, 29, 23, 59, 59))
        back = parse_state_txt(format_state_txt(st))
        assert back == st

    def test_missing_sequence_raises(self):
        with pytest.raises(ValueError):
            parse_state_txt("timestamp=2021-08-17T13\\:19\\:43Z\n")


class TestPbfHeader:
    def test_liechtenstein_header(self):
        base_url, seq, ts = replication_header_from_pbf(PBF)
        assert base_url == "http://example.com/europe/liechtenstein-updates"
        assert seq == 9999999
        assert ts == utc(2013, 8, 3, 19, 0, 2)


@pytest.fixture()
def server_dir(tmp_path):
    """A file:// replication tree: sequences 100..105, one hour apart."""
    diffs = []
    for i in range(6):
        seq = 100 + i
        import numpy as np
        body = gzip.compress(
            b"<?xml version='1.0'?><osmChange version=\"0.6\"></osmChange>"
            # incompressible tail so each diff is ~3 KB on disk and the
            # size-capped batching below has something to trip on
            + np.random.RandomState(i).bytes(3000)
        )
        diffs.append((seq, body, utc(2024, 1, 1, i)))
    d = str(tmp_path / "server")
    write_server_tree(d, diffs)
    return d


class TestServerProtocol:
    def test_get_state_info(self, server_dir):
        repl = ReplicationServer(server_dir)
        st = repl.get_state_info()
        assert st.sequence == 105
        assert st.timestamp == utc(2024, 1, 1, 5)
        st100 = repl.get_state_info(100)
        assert st100.sequence == 100
        assert repl.get_state_info(99) is None

    def test_get_diff(self, server_dir):
        repl = ReplicationServer(server_dir)
        assert repl.get_diff(100) is not None
        assert repl.get_diff(106) is None

    def test_timestamp_to_sequence(self, server_dir):
        repl = ReplicationServer(server_dir)
        # after the newest state -> newest sequence
        assert repl.timestamp_to_sequence(utc(2024, 6, 1)) == 105
        # between 102 (02:00) and 103 (03:00) -> 102
        assert repl.timestamp_to_sequence(utc(2024, 1, 1, 2, 30)) == 102
        # exactly at a state -> that sequence
        assert repl.timestamp_to_sequence(utc(2024, 1, 1, 3)) == 103

    def test_timestamp_to_sequence_with_pruned_states(self, server_dir):
        # servers prune old state files; the search must survive holes
        os.remove(os.path.join(server_dir, sequence_path(101) + ".state.txt"))
        os.remove(os.path.join(server_dir, sequence_path(102) + ".state.txt"))
        repl = ReplicationServer(server_dir)
        got = repl.timestamp_to_sequence(utc(2024, 1, 1, 3, 30))
        assert got == 103

    def test_collect_diffs_all(self, server_dir):
        repl = ReplicationServer(server_dir)
        endseq, diffs = repl.collect_diffs(101)
        assert endseq == 105
        assert [s for s, _ in diffs] == [101, 102, 103, 104, 105]

    def test_collect_diffs_batched_by_size(self, server_dir):
        repl = ReplicationServer(server_dir)
        one = len(ReplicationServer(server_dir).get_diff(101))
        # cap so only ~2 diffs fit per batch (sizes grow with seq)
        cap_kb = max(1, (2 * one + 50) // 1024 + 1)
        endseq, diffs = repl.collect_diffs(101, max_size_kb=cap_kb)
        assert endseq < 105
        assert len(diffs) >= 1
        # batch boundary respected: adding the next diff would overflow
        total = sum(len(b) for _, b in diffs)
        nxt = repl.get_diff(endseq + 1)
        assert nxt is not None and total + len(nxt) > cap_kb * 1024

    def test_collect_diffs_start_missing(self, server_dir):
        assert ReplicationServer(server_dir).collect_diffs(200) is None


OPL = """n1 Tamenity=pub x9.0 y50.0
n2 x9.001 y50.0
w100 Thighway=residential Nn1,n2
"""

OSC1 = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="2" lat="50.5" lon="9.5"/></modify>
</osmChange>
"""

OSC2 = """<?xml version='1.0'?>
<osmChange version="0.6">
  <create><node id="5" lat="50.3" lon="9.3" version="1"
    timestamp="2024-01-01T02:00:00Z"/></create>
</osmChange>
"""

OSC3 = """<?xml version='1.0'?>
<osmChange version="0.6">
  <delete><node id="5"/></delete>
</osmChange>
"""

# OPL after OSC1-3.  n2 is the OSC's object: the OSC reader sets
# visible (true by default, as osmium does), the OPL reader only from
# a d field, so the post-diff n2 carries dV
POST_OPL = """n1 Tamenity=pub x9.0 y50.0
n2 dV x9.5 y50.5
w100 Thighway=residential Nn1,n2
"""


def _run_repl(args, cwd=REPO):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    if cwd != REPO:
        # outside the repo only the tool itself may put the package on
        # the path (an in-process import_tool sets PYTHONPATH here)
        env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "replication.py"), *args],
        capture_output=True, text=True, cwd=cwd, timeout=600, env=env,
    )


class TestUpdateE2E:
    def test_init_from_pbf_header(self, tmp_path):
        state = str(tmp_path / "state.json")
        r = _run_repl(["init", state, "--osm-file", PBF])
        assert r.returncode == 0, r.stderr[-2000:]
        assert "sequence 9999999" in r.stdout
        assert "liechtenstein-updates" in r.stdout
        from osm2pgsql_spark.streaming.properties import Properties
        p = Properties(state)
        assert p.get("replication_sequence_number") == "9999999"
        assert p.get("replication_base_url") == (
            "http://example.com/europe/liechtenstein-updates")
        assert p.get("replication_timestamp") == "2013-08-03T19:00:02Z"

    @pytest.mark.slow
    def test_multi_batch_catchup(self, tmp_path, spark):
        base_dir = _import(spark, tmp_path, OPL, "db")

        # server tree with 3 diffs after the stored sequence
        server = str(tmp_path / "server")
        write_server_tree(server, [
            (501, gzip.compress(OSC1.encode()), utc(2024, 1, 1, 1)),
            (502, gzip.compress(OSC2.encode()), utc(2024, 1, 1, 2)),
            (503, gzip.compress(OSC3.encode()), utc(2024, 1, 1, 3)),
        ])

        state = str(tmp_path / "state.json")
        r = _run_repl(["init", state, "--seq", "500", "--server", server])
        assert r.returncode == 0, r.stderr[-2000:]

        # max-diff-size 1 MB >> diffs: everything lands in one batch.
        # Run outside the repo: the append's Python workers must find
        # the package without the working directory's help
        r = _run_repl(["update", state, base_dir, "--max-diff-size", "1"],
                      cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-2000:]
        assert "state now at sequence 503" in r.stdout

        from osm2pgsql_spark.streaming.properties import Properties
        p = Properties(state)
        assert p.get("replication_sequence_number") == "503"
        assert p.get("replication_timestamp") == "2024-01-01T03:00:00Z"

        got = spark.read.parquet(os.path.join(base_dir, "middle", "nodes"))
        rows = {r["id"]: (r["lat"], r["lon"]) for r in got.collect()}
        assert rows[2] == (50.5, 9.5)  # modified
        assert 5 not in rows  # created then deleted
        # second run: already up to date
        r = _run_repl(["update", state, base_dir])
        assert r.returncode == 0
        assert "up-to-date" in r.stdout


@pytest.mark.parametrize("cmd", ["update", "apply"])
def test_update_equals_fresh_import(tmp_path, spark, monkeypatch, cmd):
    """init + update (or apply of a diff directory) on an import_tool
    database, with STATE its own properties.json: the appended middle
    and output tables equal a fresh import of the post-diff OPL, and
    the state write keeps the appends' current_timestamp."""
    from osm2pgsql_spark import session
    from osm2pgsql_spark.streaming.properties import Properties

    repl = _tool("replication")
    db = _import(spark, tmp_path, OPL, "db")
    diffs = [(501, OSC1, utc(2024, 1, 1, 1)), (502, OSC2, utc(2024, 1, 1, 2)),
             (503, OSC3, utc(2024, 1, 1, 3))]
    server = str(tmp_path / "server")
    write_server_tree(server, [(s, gzip.compress(x.encode()), t)
                               for s, x, t in diffs])
    state = os.path.join(db, "properties.json")
    repl.cmd_init(argparse.Namespace(
        state=state, seq=500, timestamp="", server=server, osm_file=None,
        start_at=None))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    if cmd == "update":
        repl.cmd_update(argparse.Namespace(
            state=state, base_dir=db, server=None, max_diff_size=1,
            once=False))
    else:
        diff_dir = tmp_path / "diffs"
        diff_dir.mkdir()
        for s, x, _ in diffs:
            (diff_dir / f"{s}.osc").write_text(x)
        repl.cmd_apply(argparse.Namespace(
            state=state, base_dir=db, diff_dir=str(diff_dir)))

    props = Properties(state)
    assert props.get("replication_sequence_number") == "503"
    assert props.get("current_timestamp") == "2024-01-01T02:00:00Z"
    fresh = _import(spark, tmp_path, POST_OPL, "fresh")
    tool = _tool("import_tool")
    for name in ("nodes", "ways", "rels"):
        assert (_rows(tool._middle(db, name).read(spark))
                == _rows(tool._middle(fresh, name).read(spark))), name
    for name in GENERIC_TABLES:
        got, want = (spark.read.parquet(os.path.join(d, "tables", name))
                     for d in (db, fresh))
        assert _rows(got) == _rows(want), name


class TestHttpServer:
    """The urllib path end-to-end against a REAL http server on
    localhost (http.server over the same fixture tree; zero external
    network): 200 fetch, 404 -> None, state.txt discovery, diff fetch,
    and batched catch-up all through http:// URLs."""

    @pytest.fixture()
    def http_server(self, server_dir):
        import functools
        import http.server
        import threading

        handler = functools.partial(
            http.server.SimpleHTTPRequestHandler, directory=server_dir)
        httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            yield f"http://127.0.0.1:{httpd.server_address[1]}"
        finally:
            httpd.shutdown()
            t.join(timeout=5)

    def test_state_info_over_http(self, http_server):
        repl = ReplicationServer(http_server)
        st = repl.get_state_info()
        assert st.sequence == 105
        assert st.timestamp == utc(2024, 1, 1, 5)
        st100 = repl.get_state_info(100)
        assert st100.sequence == 100

    def test_404_returns_none(self, http_server):
        repl = ReplicationServer(http_server)
        assert repl.get_state_info(99999999) is None
        assert repl.get_diff(99999999) is None

    def test_diff_fetch_over_http(self, http_server, server_dir):
        repl = ReplicationServer(http_server)
        body = repl.get_diff(102)
        with open(os.path.join(
                server_dir, sequence_path(102) + ".osc.gz"), "rb") as fh:
            assert body == fh.read()

    def test_collect_diffs_over_http(self, http_server):
        repl = ReplicationServer(http_server)
        last, diffs = repl.collect_diffs(101, max_size_kb=7)
        # same size-capped batching as the file:// path: ~3 KB diffs,
        # 7 KB cap -> 2 per batch; a second call continues
        assert [s for s, _ in diffs] == [101, 102]
        assert last == 102
        last2, diffs2 = repl.collect_diffs(last + 1, max_size_kb=7)
        assert [s for s, _ in diffs2] == [103, 104]
        assert last2 == 104

    def test_timestamp_to_sequence_over_http(self, http_server):
        repl = ReplicationServer(http_server)
        assert repl.timestamp_to_sequence(utc(2024, 1, 1, 2, 30)) in (102, 103)


class TestUpdateOnce:
    @pytest.mark.slow
    def test_update_once_applies_one_batch(self, tmp_path, spark):
        """replication.feature 'Updates can run only once': --once with
        a tiny --max-diff-size stops after the first batch instead of
        catching up to the server head."""
        from osm2pgsql_spark.streaming.properties import Properties

        base_dir = _import(spark, tmp_path, OPL, "db")

        server = str(tmp_path / "server")
        # incompressible padding makes each diff ~peers with the 1 MB
        # cap measured in whole units -> one diff per batch
        import base64

        import numpy as np

        def big(osc, i):
            pad = base64.b64encode(np.random.RandomState(i).bytes(600000))
            return gzip.compress(osc.encode() + b"<!--" + pad + b"-->")

        write_server_tree(server, [
            (501, big(OSC1, 1), utc(2024, 1, 1, 1)),
            (502, big(OSC2, 2), utc(2024, 1, 1, 2)),
            (503, big(OSC3, 3), utc(2024, 1, 1, 3)),
        ])

        state = str(tmp_path / "state.json")
        assert _run_repl(["init", state, "--seq", "500",
                          "--server", server]).returncode == 0
        r = _run_repl(["update", state, base_dir, "--once",
                       "--max-diff-size", "1"])
        assert r.returncode == 0, r.stderr[-2000:]
        p = Properties(state)
        assert p.get("replication_sequence_number") == "501"
        # a second full update catches up the rest
        r = _run_repl(["update", state, base_dir, "--max-diff-size", "1"])
        assert r.returncode == 0, r.stderr[-2000:]
        assert Properties(state).get("replication_sequence_number") == "503"
