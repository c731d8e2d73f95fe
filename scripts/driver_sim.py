"""The oracle gate at the driver's scale: import __spark_entry__ as the
driver does, smoke-run entry(), then run queries() side by side with their
oracle_sql() on DuckDB under plans/oracle.py's contract.

    python scripts/driver_sim.py [--sf DIR] [NAME ...]

--sf is the testdata directory (default: sf0.01 beside the bench's
$SPARK_GRAFT_SF_DIR). NAMEs pick queries; none runs every oracle. Each
query prints `ok`, `FAIL` (type audit, 6-decimal mismatch or an
exception) or `DRIFT` (6-decimal match, doubles not bit-identical); the
summary counts 6-decimal matches and bit-exact queries separately.
Exits 1 on any FAIL or DRIFT.

Runs from any cwd: importing from outside the repo root exercises the
worker-PYTHONPATH path the real driver hits."""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from kafka_streams_in_action_spark.plans import oracle
from kafka_streams_in_action_spark.session import get_spark
from kafka_streams_in_action_spark.sources.parquet import DEFAULT_SF_DIR


def main():
    ap = argparse.ArgumentParser(description="DuckDB-oracle gate")
    ap.add_argument("--sf", default=os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.01"))
    ap.add_argument("names", nargs="*", metavar="NAME")
    args = ap.parse_args()
    qs, oracles = e.queries(), e.oracle_sql()
    if not set(oracles) <= set(qs):
        sys.exit("oracle_sql() names a query that queries() lacks")
    unknown = sorted(set(args.names) - set(oracles))
    if unknown:
        ap.error(f"no registered oracle for {unknown}")

    spark = get_spark("driver-sim")
    df = e.entry(spark)
    print(f"entry(): {len(df.collect())} rows, schema={df.columns}")
    if not df.columns:
        sys.exit("entry() returned no columns")
    print(f"queries: {len(qs)}, with oracle: {len(oracles)}")

    con = oracle.connect(args.sf)
    names = args.names or sorted(oracles)
    fails, drifts = [], []
    for name in names:
        try:
            failure, drift = oracle.compare(qs[name](spark, args.sf), con,
                                            oracles[name])
        except Exception as ex:
            failure, drift = f"ERROR {type(ex).__name__}: {str(ex)[:200]}", None
        if failure:
            fails.append(name)
            print(f"FAIL  {name}: {failure}", flush=True)
        elif drift:
            drifts.append(name)
            print(f"DRIFT {name}: {drift}", flush=True)
        else:
            print(f"ok    {name}", flush=True)

    n = len(names)
    print(f"\n{n - len(fails)}/{n} 6-decimal matches at {args.sf}; "
          f"FAILS: {fails}")
    print(f"{n - len(fails) - len(drifts)}/{n} bit-exact; DRIFT: {drifts}")
    sys.exit(1 if fails or drifts else 0)


if __name__ == "__main__":
    main()
