"""Import guard for the scripts in ``tools/``: each one imports, with
``tools/`` on ``sys.path`` as when it is run as a script, and importing
starts no Spark.  A deleted helper module that a kept script still imports
fails here rather than on the script's next run."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")

_PROBE = """
import importlib, sys, traceback
sys.path[:0] = [{tools!r}, {root!r}]
from pyspark import SparkContext
failed = []
for name in sys.argv[1:]:
    try:
        importlib.import_module(name)
    except BaseException:
        failed.append(name + ": " + traceback.format_exc(limit=1))
if SparkContext._gateway is not None:
    failed.append("importing the tools launched a JVM")
print("\\n".join(failed))
sys.exit(1 if failed else 0)
"""


def test_every_tool_imports_without_spark():
    names = sorted(
        f[:-3] for f in os.listdir(TOOLS)
        if f.endswith(".py") and not f.startswith("_")
    )
    assert "simul_scaling" in names and "check_oracle" in names
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE.format(tools=TOOLS, root=ROOT), *names],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]


def test_no_tool_names_its_checkout():
    """Each script finds its checkout from its own file, so a second
    checkout (a parent's tree, for a before/after run) imports and
    writes its own files, not this one's."""
    named = []
    for f in sorted(os.listdir(TOOLS)):
        if f.endswith(".py"):
            with open(os.path.join(TOOLS, f), encoding="utf-8") as fh:
                if ROOT in fh.read():
                    named.append(f)
    assert named == [], named
