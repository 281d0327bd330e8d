"""Guards on the repository's entry points and the docs that name them.

- Every spark-submit job builds its session through
  ``plans.session`` (``build_session`` for a ``--master`` override,
  ``build_submit_session`` otherwise), so a submitted job runs with the
  engine's tuned conf: Arrow batch size, shuffle width, executor BLAS
  pinning. A bare ``SparkSession.builder`` gets Spark's defaults.
- The run instructions name only scripts that exist.
"""

import ast
import glob
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOBS = sorted(glob.glob(os.path.join(REPO, "jobs", "*.py")))
DOCS = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
SCRIPT = re.compile(r"\b(?:tools|jobs|perfbench)/[\w/]+\.py\b")


@pytest.mark.parametrize("path", JOBS, ids=os.path.basename)
def test_job_builds_no_bare_session(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bare = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    ]
    assert not bare, f"SparkSession.builder at lines {bare}"


@pytest.mark.parametrize("doc", DOCS)
def test_doc_names_only_existing_scripts(doc):
    with open(os.path.join(REPO, doc)) as f:
        named = set(SCRIPT.findall(f.read()))
    assert named, f"{doc} names no script"
    missing = sorted(p for p in named if not os.path.exists(os.path.join(REPO, p)))
    assert not missing, f"{doc} names missing scripts: {missing}"
