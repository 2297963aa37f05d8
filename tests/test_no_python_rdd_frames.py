"""Repo-wide guard: driver-built frames go through ``local_frame``.

``spark.createDataFrame(list, schema)`` builds a Python RDD
(``parallelize`` + ``applySchemaToPythonRDD``), so every action over a
plan containing it starts Python workers to re-serialize the rows; the
paper's ETL fact write paid that for five label dims three times per
run (5.8 s vs 2.2 s as Arrow local relations). This AST walk keeps the
package on ``sources.readers.local_frame``, the one place allowed to
call ``createDataFrame``.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "udacity_dend_capstone_immigration_spark"
HELPER = (PKG / "sources" / "readers.py", "local_frame")


def test_only_local_frame_calls_create_dataframe():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        allowed = set()
        if p == HELPER[0]:
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == HELPER[1]:
                    allowed.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{p.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, (
        "build driver-side frames with sources.readers.local_frame, not "
        f"createDataFrame: {offenders}"
    )
