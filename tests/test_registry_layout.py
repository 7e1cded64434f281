"""Registry layout: the package registers every entry on import, each
entry lives in the domain module its name prefix maps to, and every
checkpoint goes through operators/ckpt.py (the one place that honours
SPARK_GRAFT_CHECKPOINT_DIR)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import __spark_entry__ as ent
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "machine_telemetry_etl_ml_pipeline_spark"

DOMAINS = {
    "ref": {"reference"},
    "tpch": {"tpch"},
    "ext": {"sql", "windows", "analytics", "storage"},
    "stream": {"streaming"},
    "llm": {"text", "vector"},
    "graph": {"graph"},
    "ml": {"ml"},
    "udf": {"python_boundary"},
}


def test_package_import_alone_registers_every_entry():
    out = subprocess.check_output(
        [sys.executable, "-c",
         f"from {PKG}.registry import REGISTRY; print(len(REGISTRY))"],
        cwd=REPO, text=True, timeout=120,
    )
    assert int(out) == len(ent.queries())


def test_builders_live_in_their_prefix_domain():
    wrong = []
    for name, q in REGISTRY.items():
        allowed = {f"{PKG}.registry.{m}" for m in DOMAINS[name.split("_")[0]]}
        if q.fn.__module__ not in allowed:
            wrong.append(f"{name}: {q.fn.__module__}")
    assert not wrong, wrong


def test_checkpoints_only_through_ckpt_module():
    sites = []
    root = os.path.join(REPO, PKG)
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == os.path.join(root, "operators", "ckpt.py"):
                continue
            for node in ast.walk(ast.parse(open(path).read())):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                ):
                    sites.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert not sites, sites
