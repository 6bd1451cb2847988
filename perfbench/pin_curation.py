"""Pin the curation heads' result fingerprints, checked against DuckDB.

    python3 perfbench/pin_curation.py

For every pinned corpus the ``batch`` workload can draw, runs each curation
head on Spark, compares the rows with the query's DuckDB ``ORACLE_SQL``
(the comparison ``tools/oracle_check.py`` uses) and writes the
order-insensitive fingerprints to ``curation_pins.json``. Benchmark runs
then only compare fingerprints, because the brute-force oracles take
minutes. Exits non-zero, writing nothing, if any head disagrees with its
oracle.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import CURATION_CORPORA, CURATION_DOCS, CURATION_QUERIES, PINS_FILE  # noqa: E402


def main() -> int:
    from kafka_denormalization_spark.engine import get_spark
    from kafka_denormalization_spark.queries import ORACLE_SQL, QUERIES

    oc = checks.load_oracle_check(ROOT)
    spark = get_spark("perfbench-pin")
    pins: dict[str, dict[str, str]] = {}
    bad = 0
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as tmp:
        for corpus in range(CURATION_CORPORA):
            data = os.path.join(tmp, str(corpus))
            gen.write_tables({"documents": gen.documents(corpus, CURATION_DOCS)}, data)
            con = checks.duck_views(data, ["documents"])
            pins[str(corpus)] = {}
            for name in CURATION_QUERIES:
                pdf = QUERIES[name](spark, data).toPandas()
                problems = oc.compare(name, pdf, con.sql(ORACLE_SQL[name]).df())
                status = "; ".join(problems) if problems else "matches oracle"
                print(f"corpus {corpus} {name}: {len(pdf)} rows, {status}", flush=True)
                bad += bool(problems)
                pins[str(corpus)][name] = checks.fingerprint(pdf)
    spark.stop()
    if bad:
        return 1
    with open(PINS_FILE, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
