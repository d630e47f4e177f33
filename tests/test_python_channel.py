"""The JVM-Python channel: sessions talk to Python over Unix domain
sockets in a private short directory, made lazily and removed at exit,
and keep TCP when no such directory can be made."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import tempfile
import textwrap

import pytest

from distributed_stream_processing_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One session in a subprocess whose TMPDIR and java.io.tmpdir are as deep
# as a benchmark run's scratch directory. It runs a createDataFrame from
# local rows, a mapInPandas and a collect, then stops the session, starts
# another and runs the Python UDF again. With ``bases`` set, those are
# the socket directory's candidate bases in place of TMPDIR and /tmp.
_SESSION = """
import json
import os
import stat
import sys

sys.path.insert(0, {repo!r})
from distributed_stream_processing_spark import session

if {bases!r} is not None:
    pick = session.make_socket_dir
    session.make_socket_dir = lambda _bases: pick({bases!r})


def probe(batches):
    import os

    for pdf in batches:
        yield pdf.assign(uds=os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", ""))


def calls(spark):
    local = spark.createDataFrame([(i, f"r{{i}}") for i in range(50)], "id long, s string")
    mapped = local.mapInPandas(probe, "id long, s string, uds string").collect()
    return {{
        "rows": sorted([r.id, r.s] for r in mapped),
        "uds": sorted({{r.uds.lower() for r in mapped}}),
        "sum": spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s,
    }}


spark = session.get_spark("python-channel-test")
conf = spark.sparkContext.getConf()
out = calls(spark)
out["enabled"] = conf.get("spark.python.unix.domain.socket.enabled")
out["dir"] = conf.get("spark.python.unix.domain.socket.dir")
if out["dir"] is not None:
    st = os.stat(out["dir"])
    out["mode"], out["uid"] = stat.S_IMODE(st.st_mode), st.st_uid
spark.stop()
out["restart"] = calls(session.get_spark("python-channel-test"))
print("RESULT " + json.dumps(out))
"""


def _deep_dir(tmp_path) -> str:
    deep = str(tmp_path / ("d" * 70))
    os.makedirs(deep, exist_ok=True)
    assert len(deep) >= 70
    return deep


def _edge_base(short: str, dir_bytes: int) -> str:
    """A new directory under ``short`` in which mkdtemp's directory is
    exactly ``dir_bytes`` long."""
    pad = dir_bytes - len(os.fsencode(short)) - len("/") - len("/tmpxxxxxxxx")
    base = os.path.join(short, "e" * pad)
    os.mkdir(base)
    return base


def _run_session(tmp_path, bases=None) -> dict:
    deep = _deep_dir(tmp_path)
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    env["TMPDIR"] = deep
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        env[var] = " ".join(p for p in (env.get(var), f"-Djava.io.tmpdir={deep}") if p)
    script = _SESSION.format(repo=REPO, bases=bases)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT ") :])


@pytest.fixture(scope="module")
def uds_run(tmp_path_factory):
    return _run_session(tmp_path_factory.mktemp("uds"))


def test_deep_tmpdir_session_runs_python_over_a_private_socket_dir(uds_run):
    """A java.io.tmpdir too deep for a socket path does not matter: the
    socket directory is short, 0700, this user's, and gone at exit, and
    a stopped session's successor still runs a Python UDF."""
    assert uds_run["enabled"] == "true"
    assert len(os.fsencode(uds_run["dir"])) <= 61
    assert uds_run["mode"] == 0o700 and uds_run["uid"] == os.getuid()
    assert not os.path.exists(uds_run["dir"])
    assert uds_run["rows"] == [[i, f"r{i}"] for i in range(50)]
    assert uds_run["sum"] == 499_500
    assert uds_run["uds"] == ["true"]
    assert uds_run["restart"] == {k: uds_run[k] for k in ("rows", "uds", "sum")}


def test_no_fitting_base_keeps_tcp_with_the_same_rows(tmp_path, uds_run):
    tcp = _run_session(tmp_path, [_deep_dir(tmp_path)])
    assert tcp["enabled"] == "false" and tcp["dir"] is None
    assert tcp["uds"] == [""]  # workers are not told of a socket
    for k in ("rows", "sum"):
        assert tcp[k] == uds_run[k] and tcp["restart"][k] == uds_run[k]


def test_make_socket_dir_takes_the_first_base_that_fits(tmp_path):
    """Spark accepts a socket directory of at most 61 characters, so a
    base whose directory would be 62 bytes is passed over."""
    deep = _deep_dir(tmp_path)
    with tempfile.TemporaryDirectory(dir="/tmp") as short:
        missing = os.path.join(short, "missing")
        over, edge = _edge_base(short, 62), _edge_base(short, 61)
        assert session.make_socket_dir([deep, missing, over]) is None
        made = session.make_socket_dir([deep, missing, over, edge, short])
        assert os.path.dirname(made) == edge
        assert len(os.fsencode(made)) == 61
        assert stat.S_IMODE(os.stat(made).st_mode) == 0o700


def test_session_runs_python_over_the_longest_socket_dir(tmp_path, uds_run):
    """A 61-byte socket directory, the longest the choice allows, is
    one Spark accepts: the same three calls return the same rows."""
    with tempfile.TemporaryDirectory(dir="/tmp") as short:
        edge = _edge_base(short, 61)
        run = _run_session(tmp_path, [_edge_base(short, 62), edge])
    assert run["enabled"] == "true"
    assert os.path.dirname(run["dir"]) == edge and len(run["dir"]) == 61
    assert {k: run[k] for k in ("rows", "uds", "sum")} == run["restart"]
    assert run["restart"] == uds_run["restart"]


def test_workers_see_the_unix_domain_channel(spark):
    """The shared test session runs its Python tasks over the socket
    directory too, and its workers are told so."""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            env = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")
            yield pd.DataFrame({"uds": [env.lower()] * len(pdf)})

    rows = spark.range(4).mapInPandas(probe, "uds string").collect()
    assert {r.uds for r in rows} == {"true"}
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    st = os.stat(d)
    assert stat.S_IMODE(st.st_mode) == 0o700 and st.st_uid == os.getuid()


def test_importing_the_engine_makes_no_directory(tmp_path):
    """Python workers import the engine package and its operators; the
    socket directory is made by get_spark alone."""
    empty = tmp_path / "tmp"
    empty.mkdir()
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import distributed_stream_processing_spark
        from distributed_stream_processing_spark import session
        from distributed_stream_processing_spark.operators import subsequence_match
        from distributed_stream_processing_spark.streaming import online_ml
        assert session._socket_dir is None
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=dict(os.environ, TMPDIR=str(empty)),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert os.listdir(empty) == []
