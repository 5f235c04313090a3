"""Re-pin ``expected.json``: the forced result hash of every benchmarked
query, and of every store read back after ``store_ingest``, at each
fixture scale.

    python3 perfbench/pin.py

Each query runs twice (the store twins seed on the first call) and an ingest runs under two batch splits; the hashes of each
pair must agree, or nothing is written. Pin only from a tree whose
results pass the DuckDB oracle (``tests/oracle_harness.py``) on the
same tables; queries with no practical oracle carry a note saying so.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")

# the DuckDB oracle does not model the ingest stores
INGEST_NOTE = ("no oracle: store read-back pinned from two batch splits "
               "that agree")


def main() -> int:
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import fixture
    import workloads as W
    from run import Session
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(ROOT, ".perfbench", f"pin-{os.getpid()}")
    os.makedirs(work)
    try:
        with open(EXPECTED) as f:
            old = json.load(f)
    except OSError:
        old = {}
    out: dict = {}
    session = Session(work, cores)
    try:
        spark = session.start()
        off = Tracer(spark, False)
        for scale in fixture.SCALES:
            data = fixture.scale_dir(scale)
            pins = out.setdefault(scale, {})
            names = [n for w in W.QUERY_WORKLOADS.values() for n in w]
            for name in names:
                a = W.run_query(spark, off, name, data)
                b = W.run_query(spark, off, name, data)
                if a != b:
                    print(f"{scale} {name}: unstable hash {a} vs {b}")
                    return 1
                note = old.get(scale, {}).get(name, {}).get("note")
                pins[name] = {"hash": a, **({"note": note} if note else {})}
            import pyarrow.parquet as pq
            ids = pq.read_table(os.path.join(data, "documents.parquet"),
                                columns=["doc_id"]).column("doc_id").to_pylist()
            seen = []
            for seed in (1, 2):
                tally = W.Tally(None)
                W.ingest_pass(spark, off, data,
                              os.path.join(work, f"stores{seed}"),
                              W.ingest_split(ids, random.Random(seed)),
                              tally)
                if tally.failed:
                    print(f"{scale} store_ingest: a store call failed")
                    return 1
                seen.append(tally.observed)
            if seen[0] != seen[1]:
                print(f"{scale} store_ingest: read-back differs by split "
                      f"{seen}")
                return 1
            for key, h in seen[0].items():
                pins[key] = {"hash": h, "note": INGEST_NOTE}
            print(f"{scale}: pinned {len(pins)}", flush=True)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
