"""DuckDB oracle answers for the benchmark's output check, computed once
per checkout and kept on disk.

Some oracles cost more than the Spark query they check (``dedup_clusters``
takes 4-7 s at sf0.001 on a 4-vCPU VM, the unrolled HITS chain of
``graph_hits`` about 20 s), so a run cannot afford to re-run them. The answer depends only on the oracle SQL, the
DuckDB version and the fixed input files, and the cache key hashes all
three; any change recomputes it.

``run.py`` calls :func:`ensure` before it starts Spark; the DuckDB work
runs in a child process (``python3 perfbench/oracle_cache.py SF_DIR
QUERY ...``) so the benchmark process's peak RSS never includes it. The
check itself goes through ``tools/check_oracle.compare`` with
:class:`CachedOracle` standing in for the DuckDB connection.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys
import time

CHILD_TIMEOUT_S = 600


def _key(sql: str, sf_dir: str) -> str:
    import duckdb

    h = hashlib.sha256()
    h.update(duckdb.__version__.encode())
    h.update(sql.encode())
    for f in sorted(os.listdir(sf_dir)):
        st = os.stat(os.path.join(sf_dir, f))
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def _path(cache_dir: str, sql: str, sf_dir: str) -> str:
    return os.path.join(cache_dir, _key(sql, sf_dir) + ".pkl")


def ensure(names: list[str], specs: dict, sf_dir: str, cache_dir: str, repo: str) -> float:
    """Compute the missing oracle answers for ``names`` in a child
    process; return the seconds it took (0 when all were cached)."""
    missing = [n for n in names if not os.path.exists(_path(cache_dir, specs[n].oracle, sf_dir))]
    if not missing:
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, cache_dir, *missing],
        cwd=repo,
        check=True,
        timeout=CHILD_TIMEOUT_S,
    )
    return time.perf_counter() - t0


class CachedOracle:
    """Enough of a DuckDB connection for ``check_oracle.compare``:
    ``execute(sql).df()`` returns the stored answer. ``looked_up`` is the
    ``perf_counter`` of the last lookup: ``compare`` collects the Spark
    side before it, so everything after it is the check's own cost
    (loading the answer, canonicalising both sides)."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._pdf = None
        self.looked_up = 0.0

    def execute(self, sql: str) -> CachedOracle:
        self.looked_up = time.perf_counter()
        # the file was written by this benchmark's own child process
        with open(_path(self.cache_dir, sql, self.sf_dir), "rb") as f:
            self._pdf = pickle.load(f)
        return self

    def df(self):
        return self._pdf


def _build(sf_dir: str, cache_dir: str, names: list[str]) -> None:
    import duckdb

    from nchu_bigdata_spark.io import TABLES
    from nchu_bigdata_spark.registry import load_all_queries

    specs = load_all_queries()
    os.makedirs(cache_dir, exist_ok=True)
    spill = os.path.join(cache_dir, "duckdb_tmp")
    con = duckdb.connect()
    try:
        # same session clock check_oracle.main pins; bounded memory so a
        # heavy oracle spills into the checkout instead of growing
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=2")
        con.execute("SET memory_limit='3GB'")
        con.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            sql = specs[name].oracle
            t0 = time.perf_counter()
            pdf = con.execute(sql).df()
            out = _path(cache_dir, sql, sf_dir)
            with open(out + ".tmp", "wb") as f:
                pickle.dump(pdf, f)
            os.replace(out + ".tmp", out)
            print(f"[oracle] {name}: {len(pdf)} rows in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    finally:
        con.close()


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    _build(sys.argv[1], sys.argv[2], sys.argv[3:])
