"""The package reaches executor Python workers through exactly two doors:
``get_spark`` for the sessions the engine builds, and ``__spark_entry__``
for sessions the driver contract hands in (``entry`` and every
``queries()`` callable). Operators do not ship it.

A worker started from the repo root imports the package from its cwd, so
the check runs in a child Python whose cwd is a temp dir, with
``PYTHONPATH`` removed and the repo put on ``sys.path`` inside the child
only: there, a kernel unpickles on a worker only if a door shipped the
package. One child keeps the cost to one JVM start."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
sf = sys.argv[2]

from pyspark.sql import SparkSession

import __spark_entry__ as E
from document_extraction_spark import get_spark
from document_extraction_spark.operators import dedup as DD


def foreign():
    # a session built the way a harness builds one: no package shipped
    return (
        SparkSession.builder.master("local[2]")
        .appName("foreign")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


out = {}
spark = foreign()
spark.sparkContext.setLogLevel("ERROR")
out["registry"] = E.queries()["q_minhash_lsh_pairs"](spark, sf).count()
spark.stop()

spark = foreign()
spark.sparkContext.setLogLevel("ERROR")
out["entry"] = E.entry(spark).count()
spark.stop()

spark = get_spark("engine", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(f"{sf}/documents.parquet")
out["get_spark"] = DD.minhash_signatures(docs).count()
spark.stop()
print("DOORS " + json.dumps(out))
"""


def test_package_reaches_workers_through_the_two_doors(tmp_path, testdata_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, REPO, f"{testdata_dir}/sf0.001"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("DOORS "))
    counts = json.loads(line[len("DOORS "):])
    assert set(counts) == {"registry", "entry", "get_spark"}
    assert all(n > 0 for n in counts.values()), counts
