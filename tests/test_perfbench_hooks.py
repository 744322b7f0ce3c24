"""The benchmark's traced runs wrap program functions by name
(perfbench/server.py `install_tracing`): `engine.serving_sql`,
`testdata.parse`/`analyze`, the public `NsdbEngine` and `Warehouse`
methods and more. A rename or deletion of any of them must fail here, not
at the start of a traced benchmark run."""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_install_tracing_finds_every_wrapped_name():
    # importing server puts the repo root and perfbench/ first on
    # sys.path, as `python3 perfbench/server.py` runs it
    code = (
        "import sys\n"
        f"sys.path.insert(0, {os.path.join(ROOT, 'perfbench')!r})\n"
        "import server\n"
        "from spans import Tracer\n"
        "server.install_tracing(Tracer())\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
