"""Self-test of the benchmark's output checks, on the sf0.001 fixtures.

    python3 perfbench/selftest.py

1. One pass of each workload runs and passes its checks (for ``registry``,
   two queries).
2. The same ops run again with one row dropped from each result before
   the comparison: every one must be reported as a failed op. This proves
   the checkers can fail.
3. ``checks.fast_normalize`` equals ``tests/oracle_compare.normalize`` on
   every reference the registry checks use here.

Exits 0 when all three hold, 1 otherwise.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import checks, posture, workloads  # noqa: E402
from perfbench.run import DATA, WORK, require_checkout, timed_passes  # noqa: E402

DATA_DIR = DATA / "sf0.001"
REGISTRY_OPS = ("rolling_5_10", "dedup_minhash")


def drop_first_row(table: Path) -> None:
    """Rewrite a parquet table directory without its first row."""
    import duckdb

    files = sorted(table.glob("*.parquet"))
    con = duckdb.connect()
    try:
        df = con.execute(f"SELECT * FROM read_parquet({[str(f) for f in files]})").df()
    finally:
        con.close()
    for f in files:
        f.unlink()
    df.iloc[1:].to_parquet(table / "part-00000-selftest.parquet", index=False)


class CorruptPipelines(workloads.Pipelines):
    def run(self, op):
        super().run(op)
        sub = "analytics/supplier_stats" if op == "run_all" else "curation/funnel_report"
        drop_first_row(self.base / sub)


class CorruptRegistry(workloads.Registry):
    def run(self, op):
        return super().run(op).iloc[1:]


def one_pass(wl) -> list:
    for op, res in wl.setup():
        wl.check(op, res)
    return timed_passes(wl, 0)


def main() -> int:
    require_checkout()
    posture.prepare_env(ROOT, WORK)
    spark = posture.start_session(WORK)
    ok = True

    def report(label: str, samples, *, want_failed: bool) -> None:
        nonlocal ok
        for s in samples:
            good = bool(s.error) == want_failed
            ok &= good
            print(f"{'PASS' if good else 'FAIL'} {label} {s.op}: {s.error or 'output correct'}")

    try:
        kw = {"names": REGISTRY_OPS, "build_fitted": False}
        report("pipelines", one_pass(workloads.Pipelines(spark, DATA_DIR, 1, WORK)), want_failed=False)
        reg = workloads.Registry(spark, DATA_DIR, 1, WORK, **kw)
        report("registry", one_pass(reg), want_failed=False)
        report("corrupted pipelines", one_pass(CorruptPipelines(spark, DATA_DIR, 1, WORK)), want_failed=True)
        report("corrupted registry", one_pass(CorruptRegistry(spark, DATA_DIR, 1, WORK, **kw)), want_failed=True)

        from tests.oracle_compare import normalize

        with checks.duck_for(DATA_DIR) as con:
            for name in REGISTRY_OPS:
                df = con.execute(reg.oracles[name]).df()
                same = checks.fast_normalize(df) == normalize(df)
                ok &= same
                print(f"{'PASS' if same else 'FAIL'} fast_normalize == normalize on {name}")
    finally:
        posture.stop_session()
    print("selftest:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
