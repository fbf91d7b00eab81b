"""Program code reaches Spark's private JVM handles (``DataFrame._jdf``,
``SparkContext._jsc``) in exactly one module: operators/parallelize.py,
which owns checkpoint block ids. Everything else stays on the public
PySpark API, so a Spark upgrade that moves those internals breaks one
file, not the engine."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ALLOWED = {Path("e_commerce_lakehouse_spark/operators/parallelize.py")}
PRIVATE = re.compile(r"\b_j(df|sc)\b")


def test_private_jvm_handles_only_in_parallelize():
    files = [
        ROOT / "__spark_entry__.py",
        *(ROOT / "e_commerce_lakehouse_spark").rglob("*.py"),
    ]
    hits = [
        f"{f.relative_to(ROOT)}:{n}: {line.strip()}"
        for f in files
        if f.relative_to(ROOT) not in ALLOWED
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if PRIVATE.search(line)
    ]
    assert not hits, "private JVM handle outside parallelize.py:\n" + "\n".join(hits)
