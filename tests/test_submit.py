"""Deployment surface: spark-submit --py-files (north-rule requirement).

tools/submit.sh packages rabbittclust_spark into a zip and runs the full
CLI pipeline through spark-submit — the exact invocation a multi-executor
cluster uses (swap --master for yarn/k8s).  This test executes it for real
in its own JVM, so a packaging regression (missing module in the zip,
import that only works from the repo checkout) fails here and not on a
cluster.
"""

import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(tmp_path):
    out_dir = str(tmp_path / "submit_out")
    proc = subprocess.run(
        ["bash", os.path.join(REPO, "tools", "submit.sh"),
         "/root/testdata/sf0.001/documents.parquet", out_dir, "local[4]"],
        capture_output=True, text=True, timeout=280,
        env={**os.environ, "PYSPARK_PYTHON": os.environ.get(
            "PYSPARK_PYTHON", "python3")},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "assignments:" in proc.stdout
    # the submitted job wrote real stage tables
    assert os.path.exists(os.path.join(out_dir, "assignments"))
    assert os.path.exists(os.path.join(out_dir, "sketches", "_manifest.json"))


def _env_reads(tree):
    """Names of every environment variable a module reads via os.environ /
    os.getenv; a non-literal name reads as "<dynamic>"."""
    import ast

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ"
                and isinstance(node.value, ast.Name) and node.value.id == "os")

    def name(node):
        return node.value if isinstance(node, ast.Constant) else "<dynamic>"

    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            yield name(node.slice)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (is_environ(f.value) or (f.attr == "getenv" and isinstance(
                    f.value, ast.Name) and f.value.id == "os")) and node.args:
                yield name(node.args[0])


def test_package_reads_only_deployment_env_vars():
    """The engine's only environment inputs are the four deployment
    settings get_spark reads; no measurement knob steers its behavior."""
    import ast
    import glob

    found = {}
    for path in glob.glob(os.path.join(REPO, "rabbittclust_spark", "**", "*.py"),
                          recursive=True):
        with open(path) as f:
            for var in _env_reads(ast.parse(f.read())):
                found.setdefault(var, os.path.relpath(path, REPO))
    assert set(found) == {"SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS",
                          "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"}, found
