"""Recompute ``oracle_digests.json``: the DuckDB oracle's result hash for
every relational_batch query, in scripts/check_parity.py's canonical form.

    python3 perfbench/oracle_digests.py [SF ...]   # default: 0.1 0.001

sf0.1 is the benchmark's scale; sf0.001 serves the benchmark's smoke
test. The all-pairs Jaccard oracles of the two dedup queries dominate:
about 12 minutes each at sf0.1 on a 4-core host. The tables come from scripts/gen_testdata.py with its fixed data seed,
so the digests hold for every benchmark run; regenerate them only when
the generator, a query's oracle SQL or the canonical form changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.batch import APPROX, CURATION, OLAP, ORACLE_DIGESTS, SF, generate_tables, load_script  # noqa: E402


def oracle_digests(sf: float) -> dict:
    """{"hash": {query: hash}, "rows": {approximate query: sorted rows}}"""
    import duckdb

    from notion_spark.parity import ORACLES

    cp = load_script("check_parity")
    work = os.path.join(ROOT, ".perfbench_work", f"oracle-{os.getpid()}")
    try:
        generate_tables(work, sf)
        con = duckdb.connect()
        for t in cp.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/{t}.parquet')")
        out: dict = {"hash": {}, "rows": {}}
        for name in OLAP + CURATION:
            t0 = time.perf_counter()
            df = con.execute(ORACLES[name]).df()
            out["hash"][name] = cp.frame_hash(cp.canon(df))
            if name in APPROX:
                out["rows"][name] = sorted(
                    [int(a), int(b), float(j)] for a, b, j in df[["id_a", "id_b", "jaccard"]].itertuples(index=False)
                )
            print(f"{name}: {out['hash'][name]} [{time.perf_counter() - t0:.1f}s]", file=sys.stderr)
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main(argv: list[str]) -> int:
    digests = {}
    if os.path.exists(ORACLE_DIGESTS):
        with open(ORACLE_DIGESTS) as f:
            digests = json.load(f)
    for sf in [float(a) for a in argv] or [SF, 0.001]:
        digests[str(sf)] = oracle_digests(sf)
    with open(ORACLE_DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
