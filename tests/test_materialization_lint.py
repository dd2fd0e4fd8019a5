"""Every pin/release of executor storage goes through ``neuroner_spark/io.py``
(``pin``/``release``/``pin_scope``): no raw materialization call anywhere
else in the package."""

import os
import re

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "neuroner_spark")
RAW = re.compile(r"localCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(|getPersistentRDDs")


def test_raw_materialization_only_in_io():
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or os.path.relpath(path, PKG) == "io.py":
                continue
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if RAW.search(line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{i}: {line.strip()}")
    assert not hits, "raw materialization outside io.py:\n" + "\n".join(hits)
